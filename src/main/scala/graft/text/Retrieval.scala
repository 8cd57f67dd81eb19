package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Rounding.roundHalfAway

/** Hybrid retrieval — fusing a lexical ranking (BM25) with a vector
  * ranking (embedding cosine) by Reciprocal Rank Fusion (Cormack,
  * Clarke & Buettcher, SIGIR'09: score = Σ_legs 1/(c + rank)). RRF is
  * the standard first fusion choice because it needs no score
  * calibration between legs — only ranks — which is also what makes
  * it exactly replayable cross-engine: ranks are integers, 1/(c+r)
  * is a correctly-rounded IEEE division, and the two-term sum is one
  * correctly-rounded addition, so the fused ordering is bit-identical
  * on any engine (no float-accumulation order to pin).
  *
  * Shape at scale: each leg is already a top-k table (k rows per
  * query — the expensive retrieval work happened inside the leg,
  * bucket-pruned for BM25, cell-pruned for IVF). The fuse is a
  * full-outer self-shaped join on (qid, doc) of two k-row-per-query
  * tables — shuffle size O(queries × k), independent of corpus size —
  * followed by the native TopK cut. The corpus is never touched.
  */
object Retrieval {

  /** RRF constant from the original paper; large enough that rank-1
    * dominance is soft.
    */
  val RrfC = 60

  /** Fuse two (qid, doc, rank) legs. Docs missing from a leg
    * contribute 0 from it (absent rank surfaces as 0 in the output —
    * ranks are 1-based so 0 is unambiguous). Ties in fused score
    * (e.g. a lex-only rank-r doc vs a vec-only rank-r doc) break on
    * doc id.
    *
    * Precondition: each leg is a RANKING — at most one row per
    * (qid, doc), ranks unique within a qid (what any top-k operator
    * emits). A leg with duplicate (qid, doc) rows would fan out the
    * full-outer join and double-count its reciprocal term; this is a
    * contract on the legs, not re-checked here (a distinct pass per
    * fuse would tax every caller for a malformed input).
    */
  def rrfFuse(lex: DataFrame, vec: DataFrame, k: Int,
              c: Int = RrfC): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(c >= 1, s"RRF constant must be positive (c = -rank would " +
      s"divide by zero; c < 1 defeats the soft rank-1 dominance the " +
      s"constant exists for), got $c")
    val l = lex.select(col("qid"), col("doc"),
      col("rank").cast("int").as("lex_rank"))
    val v = vec.select(col("qid"), col("doc"),
      col("rank").cast("int").as("vec_rank"))
    val fused = l.join(v, Seq("qid", "doc"), "full_outer")
      .select(col("qid"), col("doc"),
        coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0)).as("vec_rank"),
        (coalesce(lit(1.0) / (col("lex_rank") + lit(c)), lit(0.0)) +
          coalesce(lit(1.0) / (col("vec_rank") + lit(c)), lit(0.0)))
          .as("rrf_raw"))
    graft.plans.TopKPlan.topKPerKey(fused, keys = Seq("qid"),
        orderCols = Seq("rrf_raw" -> false, "doc" -> true), k = k)
      .select(col("qid"), col("doc"), col("lex_rank"), col("vec_rank"),
        roundHalfAway(col("rrf_raw"), 6).as("rrf"), col("rank"))
  }
}
