package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Rounding.roundHalfAway

/** Deterministic weighted sampling (Efraimidis–Spirakis A-ES).
  *
  * Classic A-ES draws u ~ U(0,1] per row and keeps the k largest
  * u^(1/w) — each row's inclusion probability proportional to its
  * weight. We determinize u from the row id with a Knuth
  * multiplicative hash over 2³² buckets, so the sample is
  * reproducible run-over-run, stable under corpus growth (a row's
  * key never changes when other rows arrive), and exactly replayable
  * by an external oracle — the same properties the engine's split
  * assignment ([[Binning.knuthBucket]]) builds on, at sampling
  * resolution instead of 100 buckets.
  *
  * The ranking key is ln(u)/w, a monotone transform of u^(1/w)
  * (ln is increasing, w > 0): identical order, but numerically flat —
  * u^(1/w) for w in the thousands compresses everything against 1.0
  * where doubles are coarse, while ln(u)/w keeps full precision.
  *
  * Scale shape: the key is a map-only expression; top-k by key plans
  * as TakeOrderedAndProject — per-partition bounded heaps, k rows per
  * partition to the driver merge, no global sort, no shuffle of the
  * corpus. Weighted-without-replacement of any k is one pass.
  */
object Sampling {

  /** Deterministic u ∈ (0, 1] from an integer id: Knuth multiplicative
    * hash (id · 2654435761) mod 2³², computed with the multiplier
    * split as 40503·2¹⁶ + 31153 so every intermediate stays below
    * 2⁴⁹ — overflow-free (ANSI-mode-safe) for the full i64 id range,
    * where the direct product overflows for ids above ~3.5·10⁹.
    * Oracle SQL must use the same split-multiplier form.
    */
  def hashUniform(id: Column): Column =
    (knuthHash(id) + lit(1L)) / lit(4294967296.0)

  /** The integer form of [[hashUniform]]: h ∈ [0, 2³²), same
    * overflow-free split-multiplier arithmetic. The routing primitive
    * for growth-stable shard/bucket assignment ([[graft.io.Export]]).
    */
  def knuthHash(id: Column): Column = {
    val m = pmod(id, lit(4294967296L))
    pmod(
      pmod(m * lit(40503L), lit(4294967296L)) * lit(65536L) + m * lit(31153L),
      lit(4294967296L))
  }

  /** A-ES ranking key ln(u)/w; rows with the k LARGEST keys form the
    * weighted sample. Weights must be strictly positive.
    */
  def esKey(id: Column, weight: Column): Column =
    log(hashUniform(id)) / weight

  /** Weighted sample without replacement: the k rows with the largest
    * [[esKey]], deterministic tiebreak on id. Appends the key as
    * `es_key` (rounded for cross-engine comparability; the SELECTION
    * uses the unrounded key). Rows with weight ≤ 0 or NULL are
    * dropped — zero inclusion probability semantically, and the
    * filter is what keeps one dirty row from raising ANSI
    * DIVIDE_BY_ZERO across the whole job.
    */
  def weightedSample(df: DataFrame, id: String, weight: String,
                     k: Int): DataFrame =
    df.filter(col(weight) > 0)
      .withColumn("es_key", esKey(col(id), col(weight)))
      .orderBy(col("es_key").desc, col(id))
      .limit(k)
      .withColumn("es_key", roundHalfAway(col("es_key"), 9))
}
