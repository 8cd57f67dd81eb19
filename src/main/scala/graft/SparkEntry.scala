package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics.Dashboard
import graft.etl.{ScoringPipeline, TestdataAdapter}
import graft.functions.Rounding.roundHalfAway

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is a named operator/query from the SURVEY.md
  * §2 inventory (or the LLM-pipeline extension set), expressed over the
  * driver's parquet tables; [[oracleSql]] carries the DuckDB-equivalent
  * SQL. Column names and value rounding match on both sides by
  * construction (the driver hash-compares after sorting columns by name).
  */
object SparkEntry {

  private val eventLimitArms = TestdataAdapter.eventLimitArms

  /** Flagship: the full fraud-scoring pipeline (decode→enrich→score),
    * deterministic projection, on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    pipelineScore(spark, "/root/testdata/sf0.001")

  private def pipelineScore(s: SparkSession, dir: String): DataFrame = {
    val out = ScoringPipeline.runDeterministic(
      TestdataAdapter.transactions(s, dir),
      TestdataAdapter.users(s, dir),
      TestdataAdapter.regions(s, dir),
      eventLimitArms)
    out.select(
      col("id_transacao"), col("id_usuario_pagador"), col("id_regiao"),
      col("modalidade_pagamento"),
      date_trunc("second", col("data_horario")).as("data_horario"),
      col("valor_transacao"),
      roundHalfAway(col("t5_score"), 6).as("t5_score"),
      col("t6_score"),
      roundHalfAway(col("t7_score"), 6).as("t7_score"),
      // + 0.0 as in the oracle's scored base: a -0.0 product reads +0.0
      roundHalfAway(col("score_medio") + 0.0, 6).as("score_medio"),
      col("score_aprovado"), col("saldo_aprovado"), col("limite_aprovado"),
      col("transacao_aprovada"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++
      graft.analytics.DashboardQueries.queries ++
      graft.analytics.ExtendedQueries.queries ++
      graft.analytics.RelationalOpsQueries.queries ++
      graft.analytics.StarQueries.queries ++
      graft.analytics.SketchQueries.queries ++
      graft.similarity.EmbeddingQueries.queries ++
      graft.text.TextQueries.queries ++
      graft.text.PackingQueries.queries ++
      graft.text.HybridQueries.queries ++
      graft.text.LmQueries.queries ++
      graft.dedup.DedupQueries.queries ++
      graft.similarity.AnnQueries.queries ++
      graft.streaming.StreamingQueries.queries ++
      graft.multimodal.MultimodalQueries.queries

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- the reference's core dataflow, end-to-end (P1-P15, J1/J2) ----
    "pipeline_score" -> ((s, dir) => pipelineScore(s, dir)),

    // ---- P9/P12 dev formulation (src/teste.py): mean combine, <= gate ----
    "pipeline_score_dev" -> ((s, dir) => {
      import graft.functions.Scoring
      val enriched = ScoringPipeline.enrich(
        TestdataAdapter.transactions(s, dir),
        TestdataAdapter.users(s, dir),
        TestdataAdapter.regions(s, dir))
      val t5 = Scoring.euclideanDegrees(
        col("latitude_transacao"), col("longitude_transacao"),
        col("latitude_usuario"), col("longitude_usuario"))
      val sm = Scoring.scoreCombineMean(t5,
        Scoring.thresholdScore(col("valor_transacao")),
        Scoring.hourScore(col("data_horario")))
      val v = col("valor_transacao")
      val devLimit = when(col("modalidade_pagamento") === "click", !(v > col("limite_PIX")))
        .when(col("modalidade_pagamento") === "purchase", !(v > col("limite_TED")))
        .when(col("modalidade_pagamento") === "error", !(v > col("limite_Boleto")))
        .otherwise(!(v > col("limite_DOC")))
      enriched.select(col("id_transacao"),
        roundHalfAway(sm, 6).as("score_medio_dev"),
        Scoring.scoreGate(sm).as("score_aprovado"),
        Scoring.balanceGate(col("saldo"), v).as("saldo_aprovado"),
        devLimit.as("limite_aprovado_dev"))
    }),

    // ---- A1: count by boolean flag ----
    "a1_count_by_flag" -> ((s, dir) =>
      Dashboard.approvalCounts(ScoringPipeline.runDeterministic(
        TestdataAdapter.transactions(s, dir),
        TestdataAdapter.users(s, dir),
        TestdataAdapter.regions(s, dir),
        eventLimitArms))),

    // ---- J2/A6-ish: star join + agg (lineitem⋈orders⋈customer⋈nation⋈region) ----
    "j2_star_join_agg" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_rows"),
          // exact decimal money math: reassociation-proof vs the oracle
          roundHalfAway(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") -
              col("l_discount").cast("decimal(18,2)"))), 2)
            .cast("double").as("revenue"))
    }),

    // ---- A12/W3: hourly tumbling rollup on the event stream ----
    "a12_hourly_rollup" -> ((s, dir) =>
      Dashboard.hourlyRollup(Tables.events(s, dir), col("ts"), col("value"))),

    // ---- K1/W4: top-N most recent events (recency view) ----
    "k1_topn_recent" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"), date_trunc("second", col("ts")).as("ts_s"),
          col("user_id"), col("event_type"), col("value"))
        .orderBy(col("ts_s").desc, col("event_id").desc)
        .limit(100)))

  def oracleSql: Map[String, String] =
    coreOracleSql ++
      graft.analytics.DashboardQueries.oracleSql ++
      graft.analytics.ExtendedQueries.oracleSql ++
      graft.analytics.RelationalOpsQueries.oracleSql ++
      graft.analytics.StarQueries.oracleSql ++
      graft.analytics.SketchQueries.oracleSql ++
      graft.similarity.EmbeddingQueries.oracleSql ++
      graft.text.TextQueries.oracleSql ++
      graft.text.PackingQueries.oracleSql ++
      graft.text.LmQueries.oracleSql ++
      graft.text.HybridQueries.oracleSql ++
      graft.dedup.DedupQueries.oracleSql ++
      graft.similarity.AnnQueries.oracleSql ++
      graft.streaming.StreamingQueries.oracleSql ++
      graft.multimodal.MultimodalQueries.oracleSql

  private def coreOracleSql: Map[String, String] = {
    val scoredSql =
      s"""WITH base AS (${TestdataAdapter.scoredBaseSql})
         |SELECT id_transacao, id_usuario_pagador, id_regiao,
         |       modalidade_pagamento,
         |       date_trunc('second', data_horario) AS data_horario,
         |       valor_transacao,
         |       round(t5_score, 6) AS t5_score, t6_score,
         |       round(t7_score, 6) AS t7_score,
         |       round(score_medio, 6) AS score_medio,
         |       score_aprovado, saldo_aprovado, limite_aprovado,
         |       transacao_aprovada
         |FROM base""".stripMargin
    Map(
      "pipeline_score" -> scoredSql,
      "pipeline_score_dev" -> TestdataAdapter.devScoredSql,
      "a1_count_by_flag" ->
        s"""WITH base AS (${TestdataAdapter.scoredBaseSql})
           |SELECT transacao_aprovada, count(*) AS n
           |FROM base GROUP BY 1""".stripMargin,
      "j2_star_join_agg" ->
        """SELECT r_name, n_name, count(*) AS n_rows,
          |       round(sum(l_extendedprice::DECIMAL(18,2)
          |                 * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))), 2)::DOUBLE
          |         AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY r_name, n_name""".stripMargin,
      "a12_hourly_rollup" ->
        """SELECT date_trunc('hour', ts) AS hora, count(*) AS n,
          |       round(avg(value), 4) AS avg_value
          |FROM events GROUP BY 1""".stripMargin,
      "k1_topn_recent" ->
        """SELECT event_id, date_trunc('second', ts) AS ts_s, user_id,
          |       event_type, value
          |FROM events
          |ORDER BY ts_s DESC, event_id DESC LIMIT 100""".stripMargin)
  }
}
