package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Binning, Scoring}
import graft.functions.Rounding.roundHalfAway

/** The reference's analytic query surface — the ten dashboard analyses
  * (containers/dashboard/dashboard.py) and the two Postgres views
  * (containers/db-seed/historic_data_mock.py:87-112) — as Spark queries
  * over the scored pipeline output (SURVEY.md §2.5–§2.7).
  *
  * Everything here is `groupBy().agg()` / window functions over a fact
  * table: at 100 TB these run as single-shuffle map-side-combined aggs,
  * with partial aggregation pushed to the mappers by Catalyst. The
  * window-function analyses (W1/W2) shuffle once on the partition key.
  */
object Dashboard {

  private def rate(flag: Column): Column = avg(flag.cast("double"))

  /** A1 — approved vs rejected counts (dashboard.py:329-332). */
  def approvalCounts(scored: DataFrame): DataFrame =
    scored.groupBy(col("transacao_aprovada")).agg(count(lit(1)).as("n"))

  /** A2 — histogram of value bins split by approval (dashboard.py:379-395). */
  def valueHistogram(scored: DataFrame, bounds: Seq[Double], labels: Seq[String]): DataFrame =
    scored
      .withColumn("valor_bin", Binning.cut(col("valor_transacao"), bounds, labels))
      .groupBy(col("valor_bin"), col("transacao_aprovada"))
      .agg(count(lit(1)).as("n"))

  /** A3/W1 — transaction frequency per payer per hour (dashboard.py:195). */
  def frequencyByUserHour(scored: DataFrame): DataFrame =
    scored
      .groupBy(col("id_usuario_pagador"),
        date_trunc("hour", col("data_horario")).as("rounded_hour"))
      .agg(count(lit(1)).as("freq"))

  /** W1+P19 — frequency window attached per row + 3-way frequency score. */
  def frequencyScorePerRow(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy(
      col("id_usuario_pagador"), date_trunc("hour", col("data_horario")))
    scored.select(
      col("id_transacao"),
      count(lit(1)).over(w).as("freq"),
      Scoring.frequencyScore(count(lit(1)).over(w)).as("freq_score"))
  }

  /** A4 — per-payer mean/std of value (dashboard.py:203); pandas `std` is
    * the sample stddev, so `stddev_samp`. Single-event payers produce
    * null (Spark yields NaN for n=1 sample stddev; normalized to null to
    * match SQL semantics).
    */
  def userStats(scored: DataFrame): DataFrame =
    scored.groupBy(col("id_usuario_pagador")).agg(
      roundHalfAway(avg(col("valor_transacao")), 4).as("valor_medio"),
      roundHalfAway(nanToNull(stddev_samp(col("valor_transacao"))), 4).as("valor_std"))

  /** P18/W2 — z-score of value vs the payer's own distribution, as window
    * exprs attached to every row (no agg+re-join needed). SQL semantics
    * at the edges: a payer whose values are all equal (std 0) gets NULL,
    * as `x / 0.0` does in SQL, not an ANSI divide-by-zero; a negative z
    * that rounds to zero stays -0.0, as [[graft.functions.Rounding]]
    * keeps the sign of a zero.
    */
  def zScorePerRow(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("id_usuario_pagador"))
    val mu = avg(col("valor_transacao")).over(w)
    val sd = nanToNull(stddev_samp(col("valor_transacao")).over(w))
    val z = (col("valor_transacao") - mu) / when(sd =!= 0.0, sd)
    scored.select(col("id_transacao"), roundHalfAway(z, 4).as("z_score"))
  }

  /** A5 — mean time-score and approval rate per hour (dashboard.py:498). */
  def ratesByHour(scored: DataFrame): DataFrame =
    scored
      .groupBy(hour(col("data_horario")).as("hora"))
      .agg(
        roundHalfAway(avg(col("t7_score")), 6).as("t7_medio"),
        roundHalfAway(rate(col("transacao_aprovada")), 6).as("taxa_aprovacao"))

  /** A6 — approval rate by region (dashboard.py:520-533). */
  def approvalRateByRegion(scored: DataFrame): DataFrame =
    scored.groupBy(col("id_regiao"))
      .agg(roundHalfAway(rate(col("transacao_aprovada")), 6).as("taxa_aprovacao"),
        count(lit(1)).as("n"))

  /** P20+A7 — denial-reason totals (dashboard.py:211-214,574-577). */
  def denialTotals(scored: DataFrame): DataFrame =
    scored.agg(
      sum(coalesce(!col("limite_aprovado"), lit(false)).cast("long"))
        .as("denied_by_limit"),
      sum(coalesce(!col("saldo_aprovado"), lit(false)).cast("long"))
        .as("denied_by_balance"))

  /** A8 — denied count by modality (dashboard.py:592-597). */
  def deniedByModality(scored: DataFrame): DataFrame =
    scored.filter(!col("transacao_aprovada"))
      .groupBy(col("modalidade_pagamento")).agg(count(lit(1)).as("n"))

  /** A9 — global hourly frequency (dashboard.py:608). */
  def countByHour(scored: DataFrame): DataFrame =
    scored.groupBy(hour(col("data_horario")).as("hora"))
      .agg(count(lit(1)).as("n"))

  /** A10 — distance-bucket × approval crosstab (dashboard.py:613-618).
    * Expressed as conditional aggregation (not `.pivot`) so output column
    * names are deterministic for the oracle compare.
    */
  def distanceCrosstab(scored: DataFrame, bounds: Seq[Double], labels: Seq[String]): DataFrame =
    scored
      .withColumn("dist_bin", Binning.cut(col("t5_score"), bounds, labels))
      .groupBy(col("dist_bin"))
      .agg(
        count(when(col("transacao_aprovada") === lit(true), 1)).as("n_aprovada"),
        count(when(col("transacao_aprovada") === lit(false), 1)).as("n_negada"),
        count(when(col("transacao_aprovada").isNull, 1)).as("n_nula"))

  /** A11 — latency stats by modality with exact p95
    * (historic_data_mock.py:87-100). `metric` is the measured column
    * (latency in prod; any numeric for tests).
    */
  def statsByModality(df: DataFrame, modality: String, metric: String): DataFrame =
    df.groupBy(col(modality).as("modalidade"))
      .agg(
        count(lit(1)).as("n"),
        roundHalfAway(avg(col(metric)), 4).as("media"),
        roundHalfAway(min(col(metric)), 4).as("minimo"),
        roundHalfAway(max(col(metric)), 4).as("maximo"),
        roundHalfAway(expr(s"percentile($metric, 0.95)"), 4).as("p95"))

  /** A12/W3 — hourly tumbling rollup (historic_data_mock.py:102-112). */
  def hourlyRollup(df: DataFrame, ts: Column, metric: Column): DataFrame =
    df.groupBy(date_trunc("hour", ts).as("hora"))
      .agg(count(lit(1)).as("n"), roundHalfAway(avg(metric), 4).as("avg_value"))

  /** A13+K1 — mean over the N most recent rows (dashboard.py:273-277). */
  def recentMean(scored: DataFrame, n: Int): DataFrame =
    scored
      .orderBy(col("data_horario").desc, col("id_transacao").desc)
      .limit(n)
      .agg(roundHalfAway(avg(col("valor_transacao")), 4).as("valor_medio_recente"),
        count(lit(1)).as("n"))

  /** A14/F2 — p99 outlier trim then aggregate (dashboard.py:373-374). */
  def outlierTrimmedStats(scored: DataFrame): DataFrame = {
    val q99 = scored.agg(
      expr("percentile(valor_transacao, 0.99)").as("q")).select(col("q"))
    scored.join(broadcast(q99))
      .filter(col("valor_transacao") <= col("q"))
      .agg(count(lit(1)).as("n"),
        roundHalfAway(avg(col("valor_transacao")), 4).as("valor_medio"))
  }

  /** A15 — min/max of the per-region approval rate (dashboard.py:536-537). */
  def regionRateBounds(scored: DataFrame): DataFrame =
    approvalRateByRegion(scored).agg(
      roundHalfAway(min(col("taxa_aprovacao")), 6).as("taxa_min"),
      roundHalfAway(max(col("taxa_aprovacao")), 6).as("taxa_max"))

  /** F1 — multiselect + hour-range filter (dashboard.py:245-248). */
  def multiselectFilter(scored: DataFrame, modalities: Seq[String],
                        hourLo: Int, hourHi: Int): DataFrame =
    scored.filter(
      col("modalidade_pagamento").isin(modalities: _*) &&
      hour(col("data_horario")).between(hourLo, hourHi))

  /** W4/K1 — top-N recency with positions. Formulated through the
    * map-side-pruned [[graft.plans.TopKPlan]] node under a constant
    * key rather than `row_number() over (ORDER BY ...)`: the bare
    * global window moves EVERY row to one partition before ranking,
    * whereas TopK's bounded per-partition heaps ship only ≤ n rows per
    * input partition to the single reducer — the global-order analog of
    * `orderBy().limit(n)` (TakeOrderedAndProject), but with the rank
    * column the dashboard needs. Rows stay UnsafeRow through the cut.
    */
  def recencyTopN(scored: DataFrame, n: Int): DataFrame =
    graft.plans.TopKPlan.topKPerKey(
      scored.select(col("id_transacao"), col("data_horario"))
        .withColumn("__g", lit(1)),
      Seq("__g"),
      Seq("data_horario" -> false, "id_transacao" -> false), n,
      rankCol = "pos")
      .select(col("id_transacao"), col("data_horario"), col("pos"))

  /** Spark's stddev returns NaN where SQL returns NULL (n=1 sample). */
  private def nanToNull(c: Column): Column = when(!isnan(c), c)
}
