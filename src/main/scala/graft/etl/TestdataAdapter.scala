package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Binds the driver's star schema (TESTDATA.md) to the banking data model
  * so the reference pipeline runs — and is DuckDB-oracle-checkable — on
  * /root/testdata. Pure deterministic integer/string arithmetic only, so
  * the oracle SQL can derive the exact same inputs.
  *
  *  - events   → transaction stream (event_type plays modalidade)
  *  - customer → usuarios dim (per-modality limits derived from acctbal)
  *  - nation   → regioes dim (synthetic lat/lon from the nation key)
  */
object TestdataAdapter {

  /** Modality→limit dispatch for the events-shaped stream: the testdata
    * `event_type` values play the banking modalities; `signup`/`view`
    * fall to the otherwise arm (as DOC does in the reference).
    */
  val eventLimitArms: Seq[(String, String)] = Seq(
    "click" -> "limite_PIX", "purchase" -> "limite_TED",
    "error" -> "limite_Boleto", "signup" -> "limite_DOC")

  def transactions(spark: SparkSession, dir: String): DataFrame =
    transactionsFromEvents(Tables.events(spark, dir))

  /** Streaming variant: same column mapping over the file-stream
    * source, so stream/batch lineages are provably identical.
    */
  def transactionsStream(spark: SparkSession, dir: String): DataFrame =
    transactionsFromEvents(Tables.eventsStream(spark, dir))

  def transactionsFromEvents(events: DataFrame): DataFrame =
    events.select(
      col("event_id").cast("string").as("id_transacao"),
      col("user_id").cast("string").as("id_usuario_pagador"),
      col("user_id").cast("string").as("id_usuario_recebedor"),
      (col("event_id") % 25).cast("string").as("id_regiao"),
      col("event_type").as("modalidade_pagamento"),
      col("ts").as("data_horario"),
      col("value").as("valor_transacao"))

  def users(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      col("c_custkey").cast("string").as("id_usuario"),
      col("c_nationkey").cast("string").as("id_regiao"),
      col("c_acctbal").as("saldo"),
      (lit(100.0) + col("c_acctbal")).as("limite_PIX"),
      (lit(200.0) + col("c_acctbal")).as("limite_TED"),
      (lit(50.0) + col("c_acctbal")).as("limite_DOC"),
      (lit(150.0) + col("c_acctbal")).as("limite_Boleto"))

  def regions(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir).select(
      col("n_nationkey").cast("string").as("id_regiao"),
      ((col("n_nationkey") * 37) % 180 - 90).cast("double").as("latitude"),
      ((col("n_nationkey") * 91) % 360 - 180).cast("double").as("longitude"))

  /** Full-precision scored-output SQL (DuckDB) matching
    * [[ScoringPipeline.runDeterministic]] column-for-column. Shared base
    * for every dashboard-analytics oracle; rounding/truncation happens
    * only in each query's final projection, mirroring the Spark side.
    */
  /** Shared CTE prefix: adapted inputs → enriched → per-row scores. */
  private lazy val enrichedScSql: String =
    s"""$oracleCtes,
       |enriched AS (
       |  SELECT t.*, u.saldo, u.limite_PIX, u.limite_TED, u.limite_DOC,
       |         u.limite_Boleto,
       |         rt.latitude AS lat_t, rt.longitude AS lon_t,
       |         ru.latitude AS lat_u, ru.longitude AS lon_u
       |  FROM tx t
       |  LEFT JOIN users u ON t.id_usuario_pagador = u.id_usuario
       |  LEFT JOIN regions rt ON t.id_regiao = rt.id_regiao
       |  LEFT JOIN regions ru ON u.id_regiao = ru.id_regiao),
       |sc AS (
       |  SELECT *,
       |    sqrt((lat_t - lat_u)*(lat_t - lat_u) + (lon_t - lon_u)*(lon_t - lon_u)) AS t5_score,
       |    CASE WHEN valor_transacao > 2000 THEN 1.0 ELSE 0.0 END AS t6_score,
       |    (EXTRACT(hour FROM data_horario) - 12) / 12.0 AS t7_score
       |  FROM enriched)""".stripMargin

  val scoredBaseSql: String =
    s"""WITH $enrichedScSql,
       |gated AS (
       |  SELECT *,
       |    -- + 0.0 normalizes IEEE -0.0 (t6=0 and t7<0 makes the product
       |    -- -0.0; round keeps the sign of a zero, so the Spark scored
       |    -- projections add the same + 0.0 and both sides publish +0.0)
       |    (t5_score * t6_score * t7_score) / 3.0 + 0.0 AS score_medio,
       |    NOT ((t5_score * t6_score * t7_score) / 3.0 > 6.0) AS score_aprovado,
       |    saldo > valor_transacao AS saldo_aprovado,
       |    CASE WHEN modalidade_pagamento = 'click' THEN valor_transacao < limite_PIX
       |         WHEN modalidade_pagamento = 'purchase' THEN valor_transacao < limite_TED
       |         WHEN modalidade_pagamento = 'error' THEN valor_transacao < limite_Boleto
       |         ELSE valor_transacao < limite_DOC END AS limite_aprovado
       |  FROM sc)
       |SELECT id_transacao, id_usuario_pagador, id_regiao,
       |       modalidade_pagamento, data_horario, valor_transacao,
       |       t5_score, t6_score, t7_score, score_medio,
       |       score_aprovado, saldo_aprovado, limite_aprovado,
       |       (score_aprovado AND saldo_aprovado AND limite_aprovado)
       |         AS transacao_aprovada
       |FROM gated""".stripMargin

  /** Dev-formulation scored output (src/teste.py semantics, SURVEY.md
    * §7.4 discrepancies): MEAN score combine (P9 dev) and `<=`-passes
    * limit gate expressed as NOT(valor > limite) (P12 dev).
    */
  val devScoredSql: String =
    s"""WITH $enrichedScSql,
       |dev AS (
       |  SELECT *, (t5_score + t6_score + t7_score) / 3.0 AS sm
       |  FROM sc)
       |SELECT id_transacao,
       |       round(sm, 6) AS score_medio_dev,
       |       NOT (sm > 6.0) AS score_aprovado,
       |       saldo > valor_transacao AS saldo_aprovado,
       |       CASE WHEN modalidade_pagamento = 'click' THEN NOT (valor_transacao > limite_PIX)
       |            WHEN modalidade_pagamento = 'purchase' THEN NOT (valor_transacao > limite_TED)
       |            WHEN modalidade_pagamento = 'error' THEN NOT (valor_transacao > limite_Boleto)
       |            ELSE NOT (valor_transacao > limite_DOC) END AS limite_aprovado_dev
       |FROM dev""".stripMargin

  /** Matching DuckDB CTEs for the three adapted inputs. */
  lazy val oracleCtes: String =
    """tx AS (
      |  SELECT CAST(event_id AS VARCHAR) AS id_transacao,
      |         CAST(user_id AS VARCHAR) AS id_usuario_pagador,
      |         CAST(user_id AS VARCHAR) AS id_usuario_recebedor,
      |         CAST(event_id % 25 AS VARCHAR) AS id_regiao,
      |         event_type AS modalidade_pagamento,
      |         ts AS data_horario,
      |         value AS valor_transacao
      |  FROM events),
      |users AS (
      |  SELECT CAST(c_custkey AS VARCHAR) AS id_usuario,
      |         CAST(c_nationkey AS VARCHAR) AS id_regiao,
      |         c_acctbal AS saldo,
      |         100.0 + c_acctbal AS limite_PIX,
      |         200.0 + c_acctbal AS limite_TED,
      |         50.0 + c_acctbal AS limite_DOC,
      |         150.0 + c_acctbal AS limite_Boleto
      |  FROM customer),
      |regions AS (
      |  SELECT CAST(n_nationkey AS VARCHAR) AS id_regiao,
      |         CAST((n_nationkey * 37) % 180 - 90 AS DOUBLE) AS latitude,
      |         CAST((n_nationkey * 91) % 360 - 180 AS DOUBLE) AS longitude
      |  FROM nation)""".stripMargin
}
