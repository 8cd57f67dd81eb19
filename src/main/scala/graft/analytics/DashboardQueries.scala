package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.{ScoringPipeline, TestdataAdapter}
import graft.functions.Rounding.roundHalfAway

/** Driver-contract registrations for the reference's analytic surface
  * (SURVEY.md §2.5–§2.7): every dashboard analysis / Postgres view as a
  * named query over the scored pipeline output, with a DuckDB oracle.
  *
  * All oracles share [[TestdataAdapter.scoredBaseSql]] as their base CTE
  * so Spark and DuckDB derive the identical full-precision scored table;
  * rounding/truncation happens only in each query's final projection,
  * identically on both sides.
  */
object DashboardQueries {

  /** The scored fact table, persisted once per (session, sfDir): the
    * reference's dashboard reads a materialized output table
    * (Postgres `transacoes`), not a recomputed pipeline — caching is
    * the in-engine equivalent, and every analytics query below runs
    * against the same cached lineage.
    */
  private val scoredCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private[analytics] def scored(s: SparkSession, dir: String): DataFrame =
    scoredCache.getOrElseUpdate((s, dir),
      ScoringPipeline.runDeterministic(
        TestdataAdapter.transactions(s, dir),
        TestdataAdapter.users(s, dir),
        TestdataAdapter.regions(s, dir),
        TestdataAdapter.eventLimitArms).persist())

  // Value bins for A2 (pd.cut-style right-closed) and distance bins for A10.
  private val valueBounds = Seq(0.0, 100.0, 200.0, 500.0, 1000.0)
  private val valueLabels = Seq("0-100", "100-200", "200-500", "500-1000", "1000+")
  private val distBounds = Seq(0.0, 50.0, 100.0, 200.0)
  private val distLabels = Seq("0-50", "50-100", "100-200", "200+")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a2_value_histogram" -> ((s, dir) =>
      Dashboard.valueHistogram(scored(s, dir), valueBounds, valueLabels)),
    "a3_freq_user_hour" -> ((s, dir) =>
      Dashboard.frequencyByUserHour(scored(s, dir))),
    "a4_user_stats" -> ((s, dir) => Dashboard.userStats(scored(s, dir))),
    "a5_rates_by_hour" -> ((s, dir) => Dashboard.ratesByHour(scored(s, dir))),
    "a6_rate_by_region" -> ((s, dir) =>
      Dashboard.approvalRateByRegion(scored(s, dir))),
    "a7_denial_totals" -> ((s, dir) => Dashboard.denialTotals(scored(s, dir))),
    "a8_denied_by_modality" -> ((s, dir) =>
      Dashboard.deniedByModality(scored(s, dir))),
    "a9_count_by_hour" -> ((s, dir) => Dashboard.countByHour(scored(s, dir))),
    "a10_distance_crosstab" -> ((s, dir) =>
      Dashboard.distanceCrosstab(scored(s, dir), distBounds, distLabels)),
    "a11_stats_by_modality" -> ((s, dir) =>
      Dashboard.statsByModality(scored(s, dir),
        "modalidade_pagamento", "valor_transacao")),
    "a13_recent_mean" -> ((s, dir) => Dashboard.recentMean(scored(s, dir), 500)),
    "a14_outlier_trim" -> ((s, dir) =>
      Dashboard.outlierTrimmedStats(scored(s, dir))),
    "a15_region_rate_bounds" -> ((s, dir) =>
      Dashboard.regionRateBounds(scored(s, dir))),
    "f1_multiselect_filter" -> ((s, dir) =>
      Dashboard.multiselectFilter(scored(s, dir), Seq("click", "purchase"), 8, 18)
        .select(col("id_transacao"), col("modalidade_pagamento"),
          date_trunc("second", col("data_horario")).as("data_horario"),
          col("valor_transacao"), col("transacao_aprovada"))),
    "w1_freq_score_row" -> ((s, dir) =>
      Dashboard.frequencyScorePerRow(scored(s, dir))),
    "w2_zscore_row" -> ((s, dir) => Dashboard.zScorePerRow(scored(s, dir))),
    "w4_recency_topn" -> ((s, dir) =>
      Dashboard.recencyTopN(scored(s, dir), 50)
        .select(col("id_transacao"),
          date_trunc("second", col("data_horario")).as("data_horario"),
          col("pos"))),
    "p17_width_bucket" -> ((s, dir) =>
      scored(s, dir)
        .groupBy(graft.functions.Binning
          .widthBucket(col("valor_transacao"), 0.0, 1000.0, 10).as("bucket"))
        .agg(count(lit(1)).as("n"))),
    // the reference's commented-out chart (dashboard.py:635): approval
    // rate by frequency score — completes the dashboard's intended
    // surface; avg skips null approvals identically in both engines
    "a33_rate_by_freq_score" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("id_usuario_pagador"),
        date_trunc("hour", col("data_horario")))
      val freq = count(lit(1)).over(w)
      val fs = when(freq <= 3, 0.0).when(freq <= 10, 0.5).otherwise(1.0)
      scored(s, dir)
        .select(fs.as("freq_score"), col("transacao_aprovada"))
        .groupBy(col("freq_score"))
        .agg(count(lit(1)).as("n"),
          roundHalfAway(avg(col("transacao_aprovada").cast("double")), 4)
            .as("approval_rate"))
    }))

  private val base = TestdataAdapter.scoredBaseSql

  /** CASE-chain mirroring [[graft.functions.Binning.cut]] semantics. */
  private def cutSql(c: String, bounds: Seq[Double], labels: Seq[String]): String = {
    val arms = labels.zipWithIndex.map { case (lbl, i) =>
      val lo = bounds(i)
      if (i + 1 < bounds.size)
        s"WHEN $c > $lo AND $c <= ${bounds(i + 1)} THEN '$lbl'"
      else s"WHEN $c > $lo THEN '$lbl'"
    }
    s"CASE ${arms.mkString(" ")} END"
  }

  val oracleSql: Map[String, String] = Map(
    "a2_value_histogram" ->
      s"""WITH base AS ($base)
         |SELECT ${cutSql("valor_transacao", valueBounds, valueLabels)} AS valor_bin,
         |       transacao_aprovada, count(*) AS n
         |FROM base GROUP BY 1, 2""".stripMargin,
    "a3_freq_user_hour" ->
      s"""WITH base AS ($base)
         |SELECT id_usuario_pagador, date_trunc('hour', data_horario) AS rounded_hour,
         |       count(*) AS freq
         |FROM base GROUP BY 1, 2""".stripMargin,
    "a4_user_stats" ->
      s"""WITH base AS ($base)
         |SELECT id_usuario_pagador,
         |       round(avg(valor_transacao), 4) AS valor_medio,
         |       round(stddev_samp(valor_transacao), 4) AS valor_std
         |FROM base GROUP BY 1""".stripMargin,
    "a5_rates_by_hour" ->
      s"""WITH base AS ($base)
         |SELECT EXTRACT(hour FROM data_horario)::INT AS hora,
         |       round(avg(t7_score), 6) AS t7_medio,
         |       round(avg(CASE WHEN transacao_aprovada THEN 1.0 ELSE 0.0 END), 6)
         |         AS taxa_aprovacao
         |FROM base GROUP BY 1""".stripMargin,
    "a6_rate_by_region" ->
      s"""WITH base AS ($base)
         |SELECT id_regiao,
         |       round(avg(CASE WHEN transacao_aprovada THEN 1.0 ELSE 0.0 END), 6)
         |         AS taxa_aprovacao,
         |       count(*) AS n
         |FROM base GROUP BY 1""".stripMargin,
    "a7_denial_totals" ->
      s"""WITH base AS ($base)
         |SELECT count(CASE WHEN NOT limite_aprovado THEN 1 END) AS denied_by_limit,
         |       count(CASE WHEN NOT saldo_aprovado THEN 1 END) AS denied_by_balance
         |FROM base""".stripMargin,
    "a8_denied_by_modality" ->
      s"""WITH base AS ($base)
         |SELECT modalidade_pagamento, count(*) AS n
         |FROM base WHERE NOT transacao_aprovada GROUP BY 1""".stripMargin,
    "a9_count_by_hour" ->
      s"""WITH base AS ($base)
         |SELECT EXTRACT(hour FROM data_horario)::INT AS hora, count(*) AS n
         |FROM base GROUP BY 1""".stripMargin,
    "a10_distance_crosstab" ->
      s"""WITH base AS ($base)
         |SELECT ${cutSql("t5_score", distBounds, distLabels)} AS dist_bin,
         |       count(CASE WHEN transacao_aprovada THEN 1 END) AS n_aprovada,
         |       count(CASE WHEN NOT transacao_aprovada THEN 1 END) AS n_negada,
         |       count(CASE WHEN transacao_aprovada IS NULL THEN 1 END) AS n_nula
         |FROM base GROUP BY 1""".stripMargin,
    "a11_stats_by_modality" ->
      s"""WITH base AS ($base)
         |SELECT modalidade_pagamento AS modalidade, count(*) AS n,
         |       round(avg(valor_transacao), 4) AS media,
         |       round(min(valor_transacao), 4) AS minimo,
         |       round(max(valor_transacao), 4) AS maximo,
         |       round(quantile_cont(valor_transacao, 0.95), 4) AS p95
         |FROM base GROUP BY 1""".stripMargin,
    "a13_recent_mean" ->
      s"""WITH base AS ($base)
         |SELECT round(avg(valor_transacao), 4) AS valor_medio_recente,
         |       count(*) AS n
         |FROM (SELECT * FROM base
         |      ORDER BY data_horario DESC, id_transacao DESC LIMIT 500)""".stripMargin,
    "a14_outlier_trim" ->
      s"""WITH base AS ($base),
         |q AS (SELECT quantile_cont(valor_transacao, 0.99) AS q FROM base)
         |SELECT count(*) AS n, round(avg(valor_transacao), 4) AS valor_medio
         |FROM base, q WHERE valor_transacao <= q.q""".stripMargin,
    "a15_region_rate_bounds" ->
      s"""WITH base AS ($base),
         |rates AS (
         |  SELECT id_regiao,
         |         round(avg(CASE WHEN transacao_aprovada THEN 1.0 ELSE 0.0 END), 6)
         |           AS taxa_aprovacao
         |  FROM base GROUP BY 1)
         |SELECT round(min(taxa_aprovacao), 6) AS taxa_min,
         |       round(max(taxa_aprovacao), 6) AS taxa_max
         |FROM rates""".stripMargin,
    "f1_multiselect_filter" ->
      s"""WITH base AS ($base)
         |SELECT id_transacao, modalidade_pagamento,
         |       date_trunc('second', data_horario) AS data_horario,
         |       valor_transacao, transacao_aprovada
         |FROM base
         |WHERE modalidade_pagamento IN ('click', 'purchase')
         |  AND EXTRACT(hour FROM data_horario) BETWEEN 8 AND 18""".stripMargin,
    "w1_freq_score_row" ->
      s"""WITH base AS ($base),
         |freqs AS (
         |  SELECT id_transacao,
         |         count(*) OVER (PARTITION BY id_usuario_pagador,
         |                        date_trunc('hour', data_horario)) AS freq
         |  FROM base)
         |SELECT id_transacao, freq,
         |       CASE WHEN freq <= 3 THEN 0.0 WHEN freq <= 10 THEN 0.5
         |            ELSE 1.0 END AS freq_score
         |FROM freqs""".stripMargin,
    "w2_zscore_row" ->
      s"""WITH base AS ($base)
         |SELECT id_transacao,
         |       round((valor_transacao
         |              - avg(valor_transacao) OVER (PARTITION BY id_usuario_pagador))
         |             / stddev_samp(valor_transacao)
         |               OVER (PARTITION BY id_usuario_pagador), 4) AS z_score
         |FROM base""".stripMargin,
    "w4_recency_topn" ->
      s"""WITH base AS ($base),
         |ranked AS (
         |  SELECT id_transacao, data_horario,
         |         row_number() OVER (ORDER BY data_horario DESC,
         |                            id_transacao DESC)::INT AS pos
         |  FROM base)
         |SELECT id_transacao, date_trunc('second', data_horario) AS data_horario,
         |       pos
         |FROM ranked WHERE pos <= 50""".stripMargin,
    "p17_width_bucket" ->
      s"""WITH base AS ($base)
         |SELECT CASE WHEN valor_transacao < 0 THEN 0
         |            WHEN valor_transacao >= 1000 THEN 11
         |            ELSE (FLOOR(valor_transacao / 100.0) + 1)::INT
         |       END AS bucket, count(*) AS n
         |FROM base GROUP BY 1""".stripMargin,
    "a33_rate_by_freq_score" ->
      s"""WITH base AS ($base),
         |f AS (
         |  SELECT transacao_aprovada,
         |         count(*) OVER (PARTITION BY id_usuario_pagador,
         |                        date_trunc('hour', data_horario)) AS freq
         |  FROM base)
         |SELECT CASE WHEN freq <= 3 THEN 0.0 WHEN freq <= 10 THEN 0.5
         |            ELSE 1.0 END AS freq_score,
         |       count(*) AS n,
         |       round(avg(transacao_aprovada::INT), 4) AS approval_rate
         |FROM f GROUP BY 1""".stripMargin)
}
