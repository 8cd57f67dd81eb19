package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.io.{JdbcSink, JdbcSource, Scratch}

/** S2/O2–O3 executed hermetically: the JDBC scan + append paths
  * (io/Sources.scala) driven through embedded Derby — the JDBC engine
  * Spark itself ships (/opt/spark/jars/derby*), so no external broker
  * or driver download is needed. Semantics mirrored from the
  * reference: dimension full-table scan cached after load
  * (streaming_etl.py:66-85) and per-batch fact appends
  * (streaming_etl.py:182-219).
  */
class JdbcSpec extends SparkSpec {
  import spark.implicits._

  private val home = Files.createDirectories(
    java.nio.file.Paths.get(Scratch.dir("derby"))).toString
  // derby.log and the db directory both land under the temp home,
  // never the process cwd
  System.setProperty("derby.system.home", home)
  private val url = s"jdbc:derby:$home/graftdb;create=true"
  private val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")

  private def ts(s: String) = Timestamp.valueOf(s)

  test("JDBC dim scan: full-table read comes back cached and typed") {
    val dim = Seq(
      ("u1", "R1", 500.0, ts("2024-01-01 10:00:00")),
      ("u2", "R2", 1500.0, ts("2024-02-01 11:30:00")))
      .toDF("id_usuario", "id_regiao", "saldo", "criado_em")
    dim.write.mode("overwrite").jdbc(url, "usuarios", {
      val p = new java.util.Properties()
      props.foreach { case (k, v) => p.setProperty(k, v) }
      p
    })

    val back = JdbcSource(url, "usuarios", props).load(spark)
    // the reference caches the dim after load (streaming_etl.py:73-85)
    assert(back.storageLevel.useMemory, "JdbcSource must cache the dim")
    assert(back.count() == 2)
    // no string predicate here: Derby's dialect maps StringType to
    // CLOB, which rejects pushed-down equality — locate driver-side
    val row = back.collect()
      .find(_.getAs[String]("id_usuario") == "u1").get
    assert(row.getAs[String]("id_regiao") == "R1")
    assert(row.getAs[Double]("saldo") == 500.0)
    assert(row.getAs[Timestamp]("criado_em") == ts("2024-01-01 10:00:00"))
    back.unpersist()
  }

  test("JDBC fact appends: two batches accumulate (at-least-once sink)") {
    val sink = JdbcSink(url, "transacoes_scores", props)
    def batch(rows: Seq[(String, Double, Boolean)]) =
      rows.toDF("id_transacao", "score_medio", "transacao_aprovada")
    // first append creates the table; the second appends into it —
    // exactly the reference's per-micro-batch write mode
    sink.write(batch(Seq(("a", 1.5, true), ("b", 7.0, false))))
    sink.write(batch(Seq(("c", 3.25, true))))

    val back = spark.read.jdbc(url, "transacoes_scores", {
      val p = new java.util.Properties()
      props.foreach { case (k, v) => p.setProperty(k, v) }
      p
    })
    assert(back.count() == 3)
    assert(back.filter(col("transacao_aprovada")).count() == 2)
    assert(back.agg(round(sum(col("score_medio")), 2)).head.getDouble(0) == 11.75)
  }

  test("JDBC PK-upsert sink: duplicate redelivery collapses to one row per key") {
    val sink = graft.io.JdbcUpsertSink(url, "scores_upsert",
      Seq("id_transacao"), props)
    def batch(rows: Seq[(String, Double, Boolean)]) =
      rows.toDF("id_transacao", "score_medio", "transacao_aprovada")
    val b0 = Seq(("a", 1.5, true), ("b", 7.0, false))
    sink.write(batch(b0))
    sink.write(batch(b0)) // at-least-once redelivery of the same batch
    def back() = spark.read.jdbc(url, "scores_upsert", {
      val p = new java.util.Properties()
      props.foreach { case (k, v) => p.setProperty(k, v) }
      p
    })
    assert(back().count() == 2,
      "redelivered batch must collapse onto the same keys, not append")
    // a later batch UPDATES key b and inserts key c
    sink.write(batch(Seq(("b", 9.0, true), ("c", 3.0, true))))
    val rows = back().collect()
      .map(r => r.getAs[String]("id_transacao") ->
        (r.getAs[Double]("score_medio"), r.getAs[Boolean]("transacao_aprovada")))
      .toMap
    assert(rows.size == 3)
    assert(rows("b") == (9.0, true), "upsert must replace the key's row")
    assert(rows("a") == (1.5, true) && rows("c") == (3.0, true))
  }

  test("JDBC dim feeds the scoring enrich join like the reference deploy") {
    val users = Seq(
      ("u1", "R1", 500.0, 100.0, 200.0, 50.0, 150.0))
      .toDF("id_usuario", "id_regiao", "saldo", "limite_PIX", "limite_TED",
        "limite_DOC", "limite_Boleto")
    users.write.mode("overwrite").jdbc(url, "usuarios_dim", {
      val p = new java.util.Properties()
      props.foreach { case (k, v) => p.setProperty(k, v) }
      p
    })
    val regions = Seq(("R1", 1.0, 2.0), ("R2", 4.0, 6.0))
      .toDF("id_regiao", "latitude", "longitude")
    val tx = Seq(("t1", "u1", "u1", "R2", "PIX",
      ts("2024-05-05 13:00:00"), 60.0))
      .toDF("id_transacao", "id_usuario_pagador", "id_usuario_recebedor",
        "id_regiao", "modalidade_pagamento", "data_horario",
        "valor_transacao")

    val dim = JdbcSource(url, "usuarios_dim", props).load(spark)
    val out = graft.etl.ScoringPipeline.score(
      graft.etl.ScoringPipeline.enrich(tx, dim, regions))
    val r = out.collect().head
    assert(r.getAs[Boolean]("transacao_aprovada"))
    dim.unpersist()
  }
}
