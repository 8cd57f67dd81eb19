package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Rounding.roundHalfAway

/** Distribution-drift detection between a REFERENCE slice and a
  * CURRENT slice of the same feature — the production-ML data-quality
  * check that catches a feature shifting before the model consuming it
  * does (the reference system has no counterpart; this extends the
  * `dq_*` family the way SCD2/CDC extend its relational surface).
  *
  * The metric is PSI (population stability index):
  * `Σ_bins (q - p) · ln(q / p)` over fixed-width value bins, where `p`
  * and `q` are the bin's share of the reference and current slice,
  * both floored at `eps` so a bin that is empty on one side
  * contributes a large-but-finite term instead of ±∞. Standard
  * reading: < 0.1 stable, 0.1–0.2 moderate shift, > 0.2 drifted (the
  * flag this emits).
  *
  * Scale shape: one union of the two tagged slices → ONE
  * map-side-combined groupBy on (group, bin) → a groups-sized rollup.
  * No window, no join against anything corpus-sized (per-group totals
  * ride along as a second tiny aggregate joined back on the group
  * key), linear in rows at any corpus size; the group×bin grid is the
  * only shuffled relation.
  */
object Drift {

  /** Map-only binning + ONE map-side-combined groupBy:
    * (g, bin, n) histogram of `valueCol` clamped into the [lo, hi)
    * grid. Long counts ⇒ N partial histograms summed bin-wise equal
    * the one-pass histogram exactly (the property the streaming
    * monitor's incremental merge rests on).
    */
  def binCounts(df: DataFrame, groupCol: String, valueCol: String,
                lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(nBins > 0 && hi > lo, "need a positive bin grid")
    val width = (hi - lo) / nBins
    df.select(col(groupCol).as("g"),
        least(greatest(floor((col(valueCol) - lit(lo)) / lit(width)),
          lit(0)), lit(nBins - 1)).cast("int").as("bin"))
      .groupBy(col("g"), col("bin"))
      .agg(count(lit(1)).as("n"))
  }

  /** PSI from two (g, bin, n) histograms — the count-level half of
    * [[psi]], shared with the streaming monitor whose current-side
    * histogram is maintained incrementally.
    */
  def psiOfCounts(refCounts: DataFrame, curCounts: DataFrame,
                  groupCol: String, eps: Double = 1e-4,
                  threshold: Double = 0.2): DataFrame = {
    val counts = refCounts
      .select(col("g"), col("bin"), col("n").as("nr"), lit(0L).as("nc"))
      .union(curCounts
        .select(col("g"), col("bin"), lit(0L).as("nr"), col("n").as("nc")))
      .groupBy(col("g"), col("bin"))
      .agg(sum(col("nr")).as("nr"), sum(col("nc")).as("nc"))
    val totals = counts.groupBy(col("g"))
      .agg(sum(col("nr")).as("n_ref"), sum(col("nc")).as("n_cur"))
    val p = greatest(col("nr") / col("n_ref"), lit(eps))
    val q = greatest(col("nc") / col("n_cur"), lit(eps))
    counts.join(totals, Seq("g"))
      .select(col("g"), col("n_ref"), col("n_cur"),
        ((q - p) * log(q / p)).as("term"))
      .groupBy(col("g"))
      .agg(max(col("n_ref")).as("n_ref"), max(col("n_cur")).as("n_cur"),
        roundHalfAway(sum(col("term")), 6).as("psi"))
      .select(col("g").as(groupCol), col("n_ref"), col("n_cur"),
        col("psi"), (col("psi") > lit(threshold)).as("drifted"))
  }

  /** Per-group PSI of `valueCol` between `ref` and `cur`:
    * (group, n_ref, n_cur, psi, drifted). Values are clamped into
    * [lo, hi); bins absent from BOTH slices contribute nothing (the
    * eps-vs-eps term is ln(1) = 0, so skipping the row is exact).
    */
  def psi(ref: DataFrame, cur: DataFrame, groupCol: String,
          valueCol: String, lo: Double, hi: Double, nBins: Int,
          eps: Double = 1e-4, threshold: Double = 0.2): DataFrame =
    psiOfCounts(binCounts(ref, groupCol, valueCol, lo, hi, nBins),
      binCounts(cur, groupCol, valueCol, lo, hi, nBins),
      groupCol, eps, threshold)
}
