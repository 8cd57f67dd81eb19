package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Rounding.roundHalfAway

/** CCNet-style perplexity bucketing: split a scored corpus into
  * head / middle / tail by cumulative CHARACTER share of the
  * reference-LM perplexity distribution (Wenzek et al., CCNet,
  * arXiv:1911.00359 §4.3 — their shipped selection step: the crawl
  * is cut into equal-size thirds by LM score and pretraining keeps
  * the head/middle). The reference repo's gating is fixed-threshold
  * heuristics only (containers/spark-etl/streaming_etl.py:115-153), so
  * this is surplus capability on the LLM-curation surface, layered
  * on [[LangModel]]'s scores.
  *
  * Why bins instead of a global sort: exact tertiles of a per-doc
  * score want a total order over every doc — a full range-partition
  * sort of the corpus. CCNet itself cuts on a HISTOGRAM of the score
  * distribution, and so does this operator: `nll` quantizes to
  * milli-nat bins (≤ [[MaxBin]]+1 of them, a hard cap by
  * construction), the histogram is one map-side-combined groupBy,
  * and the two cutoff bins come from a cumulative scan over ≤30k
  * driver scalars (the `tokenOffsets` discipline — driver state
  * bounded by a constant, never by the corpus). Assignment is then a
  * map-only comparison against two broadcast ints. The price is
  * bin-grain boundaries: every doc in a cutoff bin gets that bin's
  * label, so the census is within one bin's mass of exact thirds —
  * the documented CCNet trade.
  *
  * Evidence-free docs (no bigrams, null `nll`) get a null bucket and
  * are excluded from the histogram: they carry no distributional
  * evidence either way (the [[Dsir]] `logratio` convention).
  */
object PplBuckets {

  /** Bin grain: milli-nats of mean NLL per bin. */
  val BinPerNat = 1000.0
  /** Clamp: scores past 30 nats/token share the last bin (add-one
    * uniform fallback tops out near ln V — far below this for any
    * real vocabulary).
    */
  val MaxBin = 30000

  /** Quantize `nll` to its clamped milli-nat bin (null-preserving). */
  def binned(scored: DataFrame): DataFrame =
    scored.withColumn("bin", when(col("nll").isNotNull,
      least(greatest(roundHalfAway(col("nll") * BinPerNat, 0), lit(0.0)),
        lit(MaxBin.toDouble)).cast("int")))

  /** The two cutoff bins `(b1, b2)`: smallest bins whose cumulative
    * `weightCol` mass reaches 1/3 and 2/3 of the scored total —
    * exact long arithmetic (`cum · 3 ≥ total`), no float quantiles.
    * The collect is bounded at [[MaxBin]]+1 rows by construction.
    */
  def cutoffs(binnedDocs: DataFrame, weightCol: String): (Int, Int) = {
    val hist = binnedDocs.filter(col("bin").isNotNull)
      .groupBy(col("bin")).agg(sum(col(weightCol)).cast("long").as("w"))
      .orderBy(col("bin")).collect()
    require(hist.nonEmpty,
      "perplexity bucketing needs at least one scored doc with bigram " +
        "evidence — got an empty (or all-evidence-free) calibration set")
    val total = hist.map(_.getAs[Long]("w")).sum
    var cum = 0L
    var b1 = Int.MinValue
    var b2 = Int.MinValue
    hist.foreach { r =>
      cum += r.getAs[Long]("w")
      val bin = r.getAs[Int]("bin")
      if (b1 == Int.MinValue && cum * 3 >= total) b1 = bin
      if (b2 == Int.MinValue && cum * 3 >= 2 * total) b2 = bin
    }
    (b1, b2)
  }

  /** Map-only label against the two calibrated cutoff bins. */
  def label(bin: Column, b1: Int, b2: Int): Column =
    when(bin.isNull, lit(null).cast("string"))
      .when(bin <= b1, lit("head"))
      .when(bin <= b2, lit("middle"))
      .otherwise(lit("tail"))

  /** Bin + calibrate + label in one call (batch form; a streaming
    * caller calibrates once and reuses [[label]] per micro-batch).
    */
  def assign(scored: DataFrame, weightCol: String): DataFrame = {
    val b = binned(scored)
    val (b1, b2) = cutoffs(b, weightCol)
    b.withColumn("bucket", label(col("bin"), b1, b2))
  }
}
