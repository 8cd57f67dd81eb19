package graft

import org.apache.spark.sql.functions._
import org.apache.spark.util.SizeEstimator
import graft.etl.TestdataAdapter
import graft.jobs.Jobs
import graft.streaming.StreamingJob
import graft.io.Scratch

/** End-to-end integration: the full streaming job (file stream →
  * enrich → score → foreachBatch fan-out) over sf0.001 produces the
  * same rows as the batch twin, and all fan-out sinks are populated.
  */
class JobsSpec extends SparkSpec {

  test("deploy session builder applies reference configs and resolves natives") {
    // force the harness session FIRST: if this test ran on a fresh
    // JVM, getOrCreate below would CREATE the process-wide session
    // with local[2]/Kryo and every later suite would silently reuse it
    val shared = spark
    // against the live harness session only RUNTIME SQL confs from the
    // builder apply (static confs — serializer, extensions — are
    // snapshot at context creation); so this asserts the runtime-conf
    // path plus that the session is usable end-to-end. The static-conf
    // payload (spark.sql.extensions) is covered by the Verify/Bench
    // sessions, which boot fresh JVMs with the same setting.
    val s = Jobs.sessionBuilder("graft-spec", "local[2]").getOrCreate()
    assert(s eq shared, "builder must not fork a second session")
    assert(s.conf.get(
      "spark.sql.streaming.kafka.useDeprecatedOffsetFetching") == "false")
    assert(s.sql("SELECT graft_dot_d(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .collect()(0).getDouble(0) == 11.0)
  }

  test("streaming job fan-out equals batch twin on sf0.001") {
    StreamingJob.KeyedStore.clear()
    val dir = "/root/testdata/sf0.001"
    val tmp = Scratch.dir("job")

    val q = Jobs.startStreamingScoring(
      TestdataAdapter.transactionsStream(spark, dir),
      TestdataAdapter.users(spark, dir),
      TestdataAdapter.regions(spark, dir),
      tmp, TestdataAdapter.eventLimitArms)
    q.processAllAvailable(); q.stop()

    val facts = spark.read.parquet(s"$tmp/facts")
    val batch = Jobs.runBatchScoring(
      TestdataAdapter.transactions(spark, dir),
      TestdataAdapter.users(spark, dir),
      TestdataAdapter.regions(spark, dir),
      TestdataAdapter.eventLimitArms)
    assert(facts.count() == 1000 && batch.count() == 1000)

    val cols = Seq("id_transacao", "valor_transacao", "t5_score",
      "score_medio", "transacao_aprovada").map(col)
    assert(facts.select(cols: _*).exceptAll(batch.select(cols: _*)).isEmpty)
    assert(batch.select(cols: _*).exceptAll(facts.select(cols: _*)).isEmpty)

    // scores sink: 4-col projection; keyed store + recency populated
    val scores = spark.read.parquet(s"$tmp/scores")
    assert(scores.count() == 1000 &&
      scores.columns.length == 5) // 4 score cols + batch partition
    assert(StreamingJob.KeyedStore.hashes.size == 1000)
    assert(StreamingJob.KeyedStore.topN(5).size == 5)

    // view parity: every id's hash is exactly the map a by-name put of
    // the batch Row built, String.valueOf of each non-null field (so
    // timestamps, doubles and -0.0 compare as the same strings)
    val fields = facts.columns.filterNot(_ == "batch")
    val want = facts.select(fields.map(col).toSeq: _*).collect().map { r =>
      r.getAs[String]("id_transacao") -> fields.flatMap(f =>
        Option(r.getAs[Any](f)).map(v => f -> String.valueOf(v))).toMap
    }
    assert(want.length == 1000 && want.map(_._2.size).max == fields.length)
    for ((id, hash) <- want)
      assert(StreamingJob.KeyedStore.hashes.get(id).contains(hash), id)

    // size guard: the store's retained bytes per id, at most half the
    // 2,254.8 B/id that SizeEstimator gave the per-id string Maps plus
    // the recency map on this same fan-out
    val perId = SizeEstimator.estimate(Array[AnyRef](
      StreamingJob.KeyedStore.records, StreamingJob.KeyedStore.schemas)) / 1000.0
    info(f"keyed store: $perId%.1f B/id")
    assert(perId <= 2254.8 / 2, s"$perId B/id")
  }

  test("pivot crosstab (A10 .pivot form) matches conditional-agg form") {
    val dir = "/root/testdata/sf0.001"
    val scored = Jobs.runBatchScoring(
      TestdataAdapter.transactions(spark, dir),
      TestdataAdapter.users(spark, dir),
      TestdataAdapter.regions(spark, dir),
      TestdataAdapter.eventLimitArms)
      .withColumn("bucket", graft.functions.Binning.widthBucket(
        col("valor_transacao"), 0, 1000, 4))
    val pivoted = scored.groupBy("bucket")
      .pivot("transacao_aprovada", Seq(true, false))
      .count().na.fill(0L)
    val conditional = scored.groupBy("bucket").agg(
      count(when(col("transacao_aprovada") === true, 1)).as("true"),
      count(when(col("transacao_aprovada") === false, 1)).as("false"))
    assert(pivoted.exceptAll(conditional).isEmpty &&
      conditional.exceptAll(pivoted).isEmpty)
  }
}
