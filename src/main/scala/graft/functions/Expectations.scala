package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Rounding.roundHalfAway

/** Declarative data-quality expectations evaluated in ONE scan — the
  * admission gate a training pipeline runs before a batch enters the
  * corpus (the dbt-test / Great-Expectations surface, as a Spark
  * aggregate instead of a test harness).
  *
  * Each [[Check]] is (name, metric, [lo, hi]): `metric` is any
  * aggregate expression collapsing the frame to one double —
  * null fraction, uniqueness ratio, domain-membership fraction,
  * min/max — and the expectation passes iff the metric lands in the
  * closed interval. All metrics ride a single wide `agg` (map-side
  * combined, one 1-row result), then unpivot via `stack` into the
  * report: (expectation, metric, pass). Adding a check adds a column
  * to the agg, never a pass over the data.
  *
  * At 100 TB this is the difference between a quality gate that costs
  * one fact-table scan and a harness that runs one query per rule:
  * N rules, one scan, no shuffle (the aggregate reduces to a single
  * row before anything moves).
  */
object Expectations {

  /** An expectation: `metric` must be an aggregate expression; the
    * check passes when lo <= metric <= hi (closed bounds).
    */
  final case class Check(name: String, metric: Column, lo: Double, hi: Double) {
    require(name.matches("[A-Za-z0-9_]+"), s"check name '$name' not an identifier")
  }

  /** One row per check: (expectation, metric rounded to 6, pass). */
  def report(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "at least one check")
    require(checks.map(_.name).distinct.size == checks.size,
      "check names must be unique")
    val wide = df.agg(
      checks.head.metric.cast("double").as(checks.head.name),
      checks.tail.map(c => c.metric.cast("double").as(c.name)): _*)
    val stacked = wide.select(expr(
      s"stack(${checks.size}, " +
        checks.map(c => s"'${c.name}', `${c.name}`").mkString(", ") +
        ") as (expectation, metric)"))
    val lo = checks.foldLeft(lit(null).cast("double")) { (acc, c) =>
      when(col("expectation") === c.name, c.lo).otherwise(acc) }
    val hi = checks.foldLeft(lit(null).cast("double")) { (acc, c) =>
      when(col("expectation") === c.name, c.hi).otherwise(acc) }
    // fail-closed: a NULL metric (e.g. min/avg over an all-null
    // column) must read as a FAILED check, not a NULL that slips
    // through `filter(pass === false)` on the admitting side
    stacked.select(col("expectation"),
      roundHalfAway(col("metric"), 6).as("metric"),
      coalesce(col("metric").between(lo, hi), lit(false)).as("pass"))
  }
}
