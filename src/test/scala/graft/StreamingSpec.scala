package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.etl.ScoringPipeline
import graft.streaming.StreamingJob
import graft.streaming.StreamingJob.TxKeyed
import graft.io.Scratch

/** Structured-Streaming semantics: micro-batch scoring parity with
  * batch, foreachBatch fan-out (O1–O5), stateful late-drop (T7), and
  * watermark-driven append-mode window eviction (T2 made non-inert).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("memory-stream scoring equals batch scoring on same rows") {
    implicit val ctx = spark.sqlContext
    val users = Seq(("u1", "R1", 500.0, 100.0, 200.0, 50.0, 150.0))
      .toDF("id_usuario", "id_regiao", "saldo", "limite_PIX", "limite_TED",
        "limite_DOC", "limite_Boleto")
    val regions = Seq(("R1", 1.0, 2.0), ("R2", 4.0, 6.0))
      .toDF("id_regiao", "latitude", "longitude")
    val rows = Seq(
      ("a", "u1", "u1", "R2", "PIX", ts("2024-05-05 13:00:00"), 60.0),
      ("b", "u1", "u1", "R1", "TED", ts("2024-05-05 02:00:00"), 2500.0))
    val cols = Seq("id_transacao", "id_usuario_pagador",
      "id_usuario_recebedor", "id_regiao", "modalidade_pagamento",
      "data_horario", "valor_transacao")

    val ms = MemoryStream[(String, String, String, String, String, Timestamp, Double)]
    ms.addData(rows: _*)
    val streamed = StreamingJob.runToMemory(
      ScoringPipeline.score(ScoringPipeline.enrich(
        ms.toDF().toDF(cols: _*), users, regions)))
    val batch = ScoringPipeline.score(ScoringPipeline.enrich(
      rows.toDF(cols: _*), users, regions))
    assert(streamed.count() == 2)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("runToMemory: a failing stream leaves no temporary checkpoint behind") {
    implicit val ctx = spark.sqlContext
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def temporaries = Option(tmp.list()).toSet.flatten
      .filter(_.startsWith("temporary-"))
    val before = temporaries
    val boom = udf { (x: Int) =>
      if (x == 2) throw new IllegalStateException("boom")
      x
    }
    val ms = MemoryStream[Int]
    ms.addData(1, 2, 3)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      StreamingJob.runToMemory(ms.toDF().select(boom(col("value")).as("v"))))
    assert(temporaries -- before == Set.empty)
  }

  test("foreachBatch fan-out writes facts, scores, keyed store, recency") {
    StreamingJob.KeyedStore.clear()
    implicit val ctx = spark.sqlContext
    val tmp = Scratch.dir("fanout")
    val ms = MemoryStream[(String, Timestamp, Double, Double, Double)]
    ms.addData(("x1", ts("2024-01-01 10:00:00"), 1.0, 0.0, 0.5),
      ("x2", ts("2024-01-01 11:00:00"), 2.0, 1.0, 0.5))
    val df = ms.toDF().toDF("id_transacao", "data_horario", "t5_score",
      "t6_score", "t7_score")
    val q = StreamingJob.startFanout(df, s"$tmp/facts", s"$tmp/scores",
      s"$tmp/ckpt")
    q.processAllAvailable(); q.stop()

    assert(spark.read.parquet(s"$tmp/facts").count() == 2)
    val scores = spark.read.parquet(s"$tmp/scores")
    // "batch" is the idempotence partition column of the fan-out sink
    assert(scores.columns.toSeq ==
      Seq("id_transacao", "t5_score", "t6_score", "t7_score", "batch"))
    assert(StreamingJob.KeyedStore.hashes.get("x1").exists(
      _("t5_score") == "1.0"))
    assert(StreamingJob.KeyedStore.topN(1) == Seq("x2")) // most recent first
  }

  /** Drains the fan-out over `rows` (id, event time, t5–t7 scores),
    * with its facts and scores sinks and its checkpoint `ckpt` under
    * `tmp`.
    */
  private def fanout(rows: Seq[(String, Timestamp, Double, Option[Double], Double)],
                     tmp: String, ckpt: String = "ckpt"): Unit = {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(String, Timestamp, Double, Option[Double], Double)]
    ms.addData(rows: _*)
    val df = ms.toDF().toDF("id_transacao", "data_horario", "t5_score",
      "t6_score", "t7_score")
    val q = StreamingJob.startFanout(df, s"$tmp/facts", s"$tmp/scores",
      s"$tmp/$ckpt")
    q.processAllAvailable(); q.stop()
  }

  test("keyed store: a null field is absent from its hash, a null key stores nothing") {
    import StreamingJob.KeyedStore
    KeyedStore.clear()
    fanout(Seq(("n1", ts("2024-01-01 10:00:00"), 1.0, None, 0.5),
      (null, ts("2024-01-01 12:00:00"), 2.0, Some(1.0), 0.5),
      ("n2", null, -0.0, Some(1.0), 0.5)), Scratch.dir("fanout-nulls"))
    assert(KeyedStore.hashes.size == 2)
    assert(KeyedStore.hashes.get("n1").contains(Map("id_transacao" -> "n1",
      "data_horario" -> String.valueOf(ts("2024-01-01 10:00:00")),
      "t5_score" -> "1.0", "t7_score" -> "0.5")))
    // a null event time is absent from the hash and from recency
    assert(KeyedStore.hashes.get("n2").contains(Map("id_transacao" -> "n2",
      "t5_score" -> "-0.0", "t6_score" -> "1.0", "t7_score" -> "0.5")))
    assert(KeyedStore.recency.toMap ==
      Map("n1" -> ts("2024-01-01 10:00:00").getTime))
    assert(KeyedStore.topN(5) == Seq("n1"))
  }

  test("keyed store: a replayed batch leaves the size and every record unchanged") {
    import StreamingJob.KeyedStore
    KeyedStore.clear()
    val tmp = Scratch.dir("fanout-replay")
    val rows = Seq(("r1", ts("2024-01-01 10:00:00"), 1.0, None, 0.5),
      ("r2", ts("2024-01-01 11:00:00"), 2.0, Some(1.0), 0.5))
    fanout(rows, tmp)
    val before = KeyedStore.hashes.toMap
    val recency = KeyedStore.recency.toMap
    // batch 0 redelivered into the same sinks, as after a crash
    // between the sinks and the commit
    fanout(rows, tmp, "ckpt-replay")
    assert(KeyedStore.hashes.size == 2)
    assert(KeyedStore.hashes.toMap == before && KeyedStore.recency.toMap == recency)
    assert(spark.read.parquet(s"$tmp/facts").count() == 2)
  }

  test("keyed store: topN puts the newest first and breaks timestamp ties by id") {
    import StreamingJob.KeyedStore
    KeyedStore.clear()
    val t = ts("2024-01-01 10:00:00")
    fanout(Seq(("c", t, 1.0, None, 0.5), ("a", t, 1.0, None, 0.5),
      ("d", ts("2024-01-01 09:00:00"), 1.0, None, 0.5),
      ("b", t, 1.0, None, 0.5)), Scratch.dir("fanout-ties"))
    assert(KeyedStore.topN(4) == Seq("a", "b", "c", "d"))
    assert(KeyedStore.topN(2) == Seq("a", "b"))
  }

  test("keyed store: the java8 datetime API gives the same recency millis") {
    import StreamingJob.KeyedStore
    val key = "spark.sql.datetime.java8API.enabled"
    def run(): (Map[String, Long], Seq[String], Option[Map[String, String]]) = {
      KeyedStore.clear()
      fanout(Seq(("j1", ts("2024-01-01 10:00:00"), 1.0, None, 0.5),
        ("j2", ts("2024-01-01 11:00:00.123"), 2.0, Some(1.0), 0.5)),
        Scratch.dir("fanout-java8"))
      (KeyedStore.recency.toMap, KeyedStore.topN(2), KeyedStore.hashes.get("j1"))
    }
    val (unset, topUnset, _) = run()
    val (set, topSet, hash) =
      try { spark.conf.set(key, "true"); run() } finally spark.conf.unset(key)
    assert(unset == Map("j1" -> ts("2024-01-01 10:00:00").getTime,
      "j2" -> ts("2024-01-01 11:00:00.123").getTime))
    assert(set == unset && topSet == topUnset && topSet == Seq("j2", "j1"))
    // read under that conf, the hash holds the Instant's string
    assert(hash.exists(_("data_horario") ==
      ts("2024-01-01 10:00:00").toInstant.toString))
  }

  test("stateful late-drop keeps events at/after last approved per user") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[TxKeyed]
    // batch 1: u1 approved at 10:00 sets the bar; 09:00 later is late
    val sink = StreamingJob.dropLatePerUser(ms.toDS())
    val query = sink.writeStream.format("memory").queryName("late_drop")
      .outputMode("append").start()
    ms.addData(
      TxKeyed("t1", "u1", ts("2024-01-01 10:00:00"), 10.0, true),
      TxKeyed("t2", "u1", ts("2024-01-01 11:00:00"), 10.0, false))
    query.processAllAvailable()
    ms.addData(
      TxKeyed("t3", "u1", ts("2024-01-01 09:00:00"), 10.0, true), // late
      TxKeyed("t4", "u1", ts("2024-01-01 10:30:00"), 10.0, false),
      TxKeyed("t5", "u2", ts("2024-01-01 01:00:00"), 10.0, false)) // new user
    query.processAllAvailable()
    query.stop()
    val kept = spark.table("late_drop").select("id_transacao")
      .as[String].collect().toSet
    assert(kept == Set("t1", "t2", "t4", "t5"))
  }

  test("mapGroupsWithState running totals accumulate across micro-batches") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[TxKeyed]
    val query = StreamingJob.runningUserTotals(ms.toDS())
      .writeStream.format("memory").queryName("running_totals")
      .outputMode("update").start()
    ms.addData(
      TxKeyed("t1", "u1", ts("2024-01-01 10:00:00"), 100.0, true),
      TxKeyed("t2", "u1", ts("2024-01-01 10:01:00"), 50.0, false)) // rejected
    query.processAllAvailable()
    ms.addData(TxKeyed("t3", "u1", ts("2024-01-01 10:02:00"), 25.0, true))
    query.processAllAvailable()
    query.stop()
    // update mode: one row per batch; the latest reflects the running state
    val rows = spark.table("running_totals")
      .select("id_usuario", "n_aprovadas", "total_aprovado")
      .as[(String, Long, Double)].collect()
    assert(rows.contains(("u1", 1L, 100.0)) && rows.contains(("u1", 2L, 125.0)))
  }

  test("transformWithState running totals accumulate across batches (RocksDB)") {
    implicit val ctx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[TxKeyed]
      val query = StreamingJob.runningUserTotalsTws(ms.toDS())
        .writeStream.format("memory").queryName("running_totals_tws")
        .outputMode("update").start()
      ms.addData(
        TxKeyed("t1", "u1", ts("2024-01-01 10:00:00"), 100.0, true),
        TxKeyed("t2", "u1", ts("2024-01-01 10:01:00"), 50.0, false))
      query.processAllAvailable()
      ms.addData(TxKeyed("t3", "u1", ts("2024-01-01 10:02:00"), 25.0, true))
      query.processAllAvailable()
      query.stop()
      val rows = spark.table("running_totals_tws")
        .select("id_usuario", "n_aprovadas", "total_aprovado")
        .as[(String, Long, Double)].collect()
      assert(rows.contains(("u1", 1L, 100.0)) && rows.contains(("u1", 2L, 125.0)))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming MG sketch: cross-batch lower bounds, heavy superset") {
    implicit val ctx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // capacity 2 over 4 distinct items in ONE shard — forces the
      // decrement path and cross-batch merges
      val ms = MemoryStream[String]
      val sk = StreamingJob.streamingHeavyHitterSketch(
        ms.toDS(), capacity = 2, shards = 1)
      val query = sk.toDF().writeStream.format("memory").queryName("mg_sk")
        .outputMode("update").start()
      val b1 = Seq.fill(6)("hot") ++ Seq("x", "y")
      val b2 = Seq.fill(5)("hot") ++ Seq.fill(4)("warm") ++ Seq("z")
      ms.addData(b1: _*); query.processAllAvailable()
      ms.addData(b2: _*); query.processAllAvailable()
      query.stop()
      val snap = spark.table("mg_sk")
        .as[(Int, String, Long, Long)].collect()
      val n = (b1 ++ b2).size.toLong
      val fin = snap.filter(_._4 == n).map(t => t._2 -> t._3).toMap
      val truth = (b1 ++ b2).groupBy(identity).view.mapValues(_.size.toLong)
      assert(fin.size <= 2, s"capacity bound violated: $fin")
      fin.foreach { case (item, w) =>
        val t = truth(item)
        assert(w <= t && t - w <= n / 3,
          s"$item: weight $w not a bound within n/(cap+1) of $t")
      }
      // any item with true count > n/(capacity+1) = 6 must survive
      assert(fin.contains("hot"), s"heavy item evicted: $fin")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("progress recorder captures per-batch telemetry via the listener bus") {
    implicit val ctx = spark.sqlContext
    val rec = new graft.streaming.ProgressRecorder(capacity = 100)
      .attach(spark)
    try {
      val ms = MemoryStream[Long]
      val q = ms.toDF().toDF("v")
        .writeStream.format("memory").queryName("telemetry_probe")
        .outputMode("append").start()
      ms.addData(1L, 2L, 3L); q.processAllAvailable()
      ms.addData(4L); q.processAllAvailable()
      q.stop()
      // listener events are async — give the bus a moment to drain
      val deadline = System.nanoTime() + 10_000_000_000L
      def rows() = rec.snapshot(spark)
        .filter(col("query") === "telemetry_probe")
        .select("batchId", "inputRows")
        .as[(Long, Long)].collect().toSet
      var got = rows()
      while (!Set((0L, 3L), (1L, 1L)).subsetOf(got) &&
             System.nanoTime() < deadline) {
        Thread.sleep(100); got = rows()
      }
      assert(Set((0L, 3L), (1L, 1L)).subsetOf(got),
        s"expected both batches recorded, got $got")
      // a batch's duration is its triggerExecution, which already
      // contains every other durationMs phase
      val trigger = q.recentProgress.filter(_.numInputRows > 0)
        .map(p => p.batchId -> p.durationMs.get("triggerExecution").longValue)
        .toMap
      val recorded = rec.snapshot(spark)
        .filter(col("query") === "telemetry_probe" && col("inputRows") > 0)
        .select("batchId", "batchDurationMs").as[(Long, Long)]
        .collect().toMap
      assert(trigger.keySet == Set(0L, 1L) && recorded == trigger,
        s"batchDurationMs $recorded, triggerExecution $trigger")
    } finally rec.detach(spark)
  }

  test("corpus admission: stream flags near-dups of the static corpus, statelessly") {
    implicit val ctx = spark.sqlContext
    val corpus = Seq(
      (1L, "a b c d e f g h"),
      (2L, "p q r s t u v w")).toDF("doc_id", "text")
    val ms = MemoryStream[(Long, String)]
    val flagged = graft.dedup.Dedup.corpusAdmission(
      ms.toDF().toDF("doc_id", "text"), corpus, "doc_id", "text",
      n = 3, threshold = 0.8)
    val query = flagged.writeStream.format("memory").queryName("adm")
      .outputMode("append").start()
    ms.addData((10L, "a b c d e f g h"))   // dup of corpus 1
    query.processAllAvailable()
    ms.addData((11L, "zz yy xx ww vv uu"), // novel
      (12L, "p q r s t u v w y"))          // superset near-dup: j = 6/7
    query.processAllAvailable()
    // append mode with zero stateful operators: the running plan must
    // carry NO state store (the whole point of stream-static admission)
    assert(!query.lastProgress.toString.contains("stateOperators\" : [ {"),
      s"expected stateless plan:\n${query.lastProgress}")
    query.stop()
    val got = spark.table("adm").select("in_doc", "corpus_doc")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 1L), (12L, 2L)), s"got $got")
  }

  test("semantic admission: stream flags embedding near-dups of the corpus, statelessly") {
    implicit val ctx = spark.sqlContext
    // corpus: two orthogonal-ish directions; incoming: a near-copy of
    // corpus 1, and a novel vector far from both
    val dim = 8
    def v(seed: Int): Seq[Float] =
      (0 until dim).map(i => if (i == seed) 1.0f else 0.0f)
    val corpus = Seq((100L, v(0)), (101L, v(1))).toDF("vec_id", "embedding")
    val ms = MemoryStream[(Long, Seq[Float])]
    val flagged = graft.similarity.Ann.semanticAdmission(
      ms.toDF().toDF("vec_id", "embedding"), corpus, "vec_id", "embedding",
      nCells = 2, threshold = 0.9)
    val query = flagged.writeStream.format("memory").queryName("sadm")
      .outputMode("append").start()
    ms.addData((10L, (0 until dim).map(i =>
      if (i == 0) 1.0f else if (i == 7) 0.1f else 0.0f)), // ~corpus 100
      (11L, (0 until dim).map(i => if (i >= 4) 0.5f else -0.5f)))  // novel
    query.processAllAvailable()
    assert(!query.lastProgress.toString.contains("stateOperators\" : [ {"),
      s"expected stateless plan:\n${query.lastProgress}")
    query.stop()
    val got = spark.table("sadm").select("in_id", "corpus_id")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 100L)), s"got $got")
  }

  test("dropDuplicatesWithinWatermark dedups replayed ids across batches") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(String, Timestamp)]
    val deduped = ms.toDF().toDF("id", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("id")
    val query = deduped.writeStream.format("memory").queryName("dd_wm")
      .outputMode("append").start()
    ms.addData(("a", ts("2024-01-01 10:00:00")), ("b", ts("2024-01-01 10:01:00")))
    query.processAllAvailable()
    // replay of "a" within the watermark window is dropped
    ms.addData(("a", ts("2024-01-01 10:05:00")), ("c", ts("2024-01-01 10:06:00")))
    query.processAllAvailable()
    query.stop()
    val ids = spark.table("dd_wm").select("id").as[String].collect().toSeq
    assert(ids.sorted == Seq("a", "b", "c"))
  }

  test("append-mode windowed agg emits only watermark-closed windows") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, Double)]
    val agg = ms.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val query = agg.writeStream.format("memory").queryName("wm_windows")
      .outputMode("append").start()
    ms.addData((ts("2024-01-01 10:05:00"), 1.0), (ts("2024-01-01 10:20:00"), 2.0))
    query.processAllAvailable()
    // advance event time far past 10:00-11:00 + watermark -> closes it
    ms.addData((ts("2024-01-01 12:30:00"), 3.0))
    query.processAllAvailable()
    // one more batch so the closed window is emitted
    ms.addData((ts("2024-01-01 12:31:00"), 4.0))
    query.processAllAvailable()
    query.stop()
    val wins = spark.table("wm_windows")
      .select(col("window.start").cast("string"), col("n"))
      .as[(String, Long)].collect().toMap
    assert(wins.get("2024-01-01 10:00:00").contains(2L)) // closed + emitted
    assert(!wins.contains("2024-01-01 12:00:00")) // still open
  }

  test("stream-stream interval join equals the batch self-join") {
    val got = graft.streaming.StreamingQueries
      .queries("s5_stream_stream_join")(spark, "/root/testdata/sf0.001")
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"), col("ts"))
    val want = ev.as("a").join(ev.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_id") < col("b.event_id") &&
          col("b.ts") >= col("a.ts") &&
          col("b.ts") <= col("a.ts") + expr("INTERVAL 2 HOURS"))
      .select(col("a.user_id"), col("a.event_id").as("event_a"),
        col("b.event_id").as("event_b"),
        (unix_micros(col("b.ts")) - unix_micros(col("a.ts"))).as("dt_us"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("sustained scoring rate: multi-batch run reports steady-state rows/s") {
    val (rate, batches) = StreamingJob.sustainedScoringRate(
      spark, "/root/testdata/sf0.001",
      Scratch.dir("stream_spec"), nFiles = 3)
    assert(batches == 2, s"expected 2 steady batches, got $batches")
    assert(rate > 0, s"rate $rate")
  }

  test("checkpoint restart resumes exactly-once: no loss, no duplicates") {
    import org.apache.spark.sql.functions._
    val work = Scratch.dir("restart")
    val (in, sink, ckpt) = (s"$work/in", s"$work/sink", s"$work/ckpt")
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "value")
    val total = ev.count()
    // slice the input into two drops arriving across query restarts
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.parquet(in)
    def run(): Unit = {
      val q = spark.readStream.schema(ev.schema).parquet(s"$in/*.parque[t]")
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000); q.stop()
    }
    run() // first incarnation sees only the even half
    val afterFirst = spark.read.parquet(sink).count()
    assert(afterFirst == ev.filter(col("event_id") % 2 === 0).count())
    ev.filter(col("event_id") % 2 === 1).coalesce(1).write.mode("append").parquet(in)
    run() // second incarnation resumes from the checkpoint
    val out = spark.read.parquet(sink)
    assert(out.count() == total, "restart must pick up only the new files")
    assert(out.select("event_id").distinct().count() == total,
      "no event may be emitted twice across the restart")
  }

  test("kafka wire-format parity: producer-shaped JSON bytes decode to typed rows") {
    // S1's real path (broker subscribe) can't run in this sandbox, but
    // its deserialization contract can: the decode stage consumes
    // kafka-shaped rows (binary `value`, source `timestamp`), so a
    // MemoryStream of raw bytes laid out EXACTLY like the reference
    // producer's output (producer.py:105-114,160-166 — UTF-8 JSON,
    // string uuid key, ISO-8601 `isoformat()` timestamp with
    // microseconds, float value) pins everything but the socket.
    implicit val ctx = spark.sqlContext
    val wire =
      """{"id_transacao": "9f1c2a34-0000-4000-8000-000000000001",
        | "id_usuario_pagador": "u1", "id_usuario_recebedor": "u2",
        | "id_regiao": "SP", "modalidade_pagamento": "PIX",
        | "data_horario": "2024-05-05T13:00:00.123456",
        | "valor_transacao": 60.5}""".stripMargin.replace("\n", "")
    val wireNoMicros = // producer's historic branch emits second grain too
      """{"id_transacao": "9f1c2a34-0000-4000-8000-000000000002",
        | "id_usuario_pagador": "u2", "id_usuario_recebedor": "u1",
        | "id_regiao": "RJ", "modalidade_pagamento": "TED",
        | "data_horario": "2024-05-05T02:00:00",
        | "valor_transacao": 2500.0}""".stripMargin.replace("\n", "")
    val ms = MemoryStream[(Array[Byte], Timestamp)]
    ms.addData(
      (wire.getBytes("UTF-8"), ts("2024-05-05 13:00:01")),
      (wireNoMicros.getBytes("UTF-8"), ts("2024-05-05 02:00:01")))
    val decoded = StreamingJob.runToMemory(
      ScoringPipeline.decode(ms.toDF().toDF("value", "timestamp")))
    assert(decoded.count() == 2)
    val byId = decoded.collect()
      .map(r => r.getAs[String]("id_transacao") -> r).toMap
    val a = byId("9f1c2a34-0000-4000-8000-000000000001")
    assert(a.getAs[String]("id_usuario_pagador") == "u1")
    assert(a.getAs[String]("id_regiao_transacao") == "SP")
    assert(a.getAs[String]("modalidade_pagamento") == "PIX")
    // ISO micros parse to the exact instant under the UTC session
    assert(a.getAs[Timestamp]("data_horario") ==
      Timestamp.valueOf("2024-05-05 13:00:00.123456"))
    assert(a.getAs[Double]("valor_transacao") == 60.5)
    // kafka ingestion time rides along as tempo_entrada_kafka
    assert(a.getAs[Timestamp]("tempo_entrada_kafka") ==
      ts("2024-05-05 13:00:01"))
    assert(byId("9f1c2a34-0000-4000-8000-000000000002")
      .getAs[Timestamp]("data_horario") == ts("2024-05-05 02:00:00"))
    // and the decoded wire rows run the full scoring pipeline
    val users = Seq(("u1", "SP", 500.0, 100.0, 200.0, 50.0, 150.0),
      ("u2", "RJ", 5000.0, 100.0, 3000.0, 50.0, 150.0))
      .toDF("id_usuario", "id_regiao", "saldo", "limite_PIX", "limite_TED",
        "limite_DOC", "limite_Boleto")
    val regions = Seq(("SP", -23.5, -46.6), ("RJ", -22.9, -43.2))
      .toDF("id_regiao", "latitude", "longitude")
    val scored = ScoringPipeline.score(
      ScoringPipeline.enrich(decoded, users, regions))
    assert(scored.count() == 2 &&
      scored.columns.contains("transacao_aprovada"))
  }

  test("multi-query fan-out: console metrics runs beside the main sink (T6/O6)") {
    // streaming_etl.py:258-278 runs a second concurrent query (console
    // metrics) over the same lineage as the durable sink; both must
    // make progress and stop cleanly.
    implicit val ctx = spark.sqlContext
    val tmp = Scratch.dir("t6")
    val ms = MemoryStream[(String, Timestamp, Double, Double, Double)]
    val df = ms.toDF().toDF("id_transacao", "data_horario", "t5_score",
      "t6_score", "t7_score")
    val main = StreamingJob.startFanout(df, s"$tmp/facts", s"$tmp/scores",
      s"$tmp/ckpt")
    val console = StreamingJob.startConsoleMetrics(df, intervalMs = 100L)
    try {
      ms.addData(("x1", ts("2024-01-01 10:00:00"), 1.0, 0.0, 0.5),
        ("x2", ts("2024-01-01 11:00:00"), 2.0, 1.0, 0.5))
      main.processAllAvailable()
      console.processAllAvailable()
      assert(spark.read.parquet(s"$tmp/facts").count() == 2)
      def rowsSeen(q: org.apache.spark.sql.streaming.StreamingQuery) =
        q.recentProgress.map(_.numInputRows).sum
      assert(rowsSeen(main) == 2, "durable sink must consume the batch")
      assert(rowsSeen(console) == 2,
        "console query must independently consume the same lineage")
      assert(main.exception.isEmpty && console.exception.isEmpty)
    } finally { main.stop(); console.stop() }
    assert(!main.isActive && !console.isActive)
  }

  test("streaming drift monitor equals the one-shot batch psi") {
    import graft.functions.Drift
    val dir = "/root/testdata/sf0.001"
    val got = StreamingJob.streamDriftMonitor(spark, dir,
        Scratch.dir("spec_s19"))
      .collect().map(_.toSeq).toSet
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val want = Drift.psi(ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1),
        "event_type", "value", 0.0, 500.0, 10)
      .collect().map(_.toSeq).toSet
    assert(got == want,
      "incrementally merged histogram must give the one-pass psi")
  }

  test("state time-travel: statestore reader at batchId 0 is a monotone prefix of final state") {
    // the other half of the s33 ops surface: the reader takes a
    // batchId, so an operator can diff a checkpoint's state ACROSS
    // batches (when did this key's total jump?). Two single-file
    // micro-batches of running totals; state after batch 0 must be a
    // subset of final state with component-wise ≤ totals.
    import spark.implicits._
    import graft.streaming.StreamingJob.TxKeyed
    val dir = Scratch.dir("state_tt")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def tx(id: String, user: String, v: Double, ok: Boolean) =
      TxKeyed(id, user, t0, v, ok)
    // one file per write (no empty part files), so the stream sees
    // exactly two micro-batches; their ORDER is still the file
    // source's listing order — every assertion below holds under
    // either order
    Seq(tx("a", "u1", 10.0, true), tx("b", "u2", 5.0, true))
      .toDS().repartition(1).write.parquet(s"$dir/in")
    Seq(tx("c", "u1", 2.5, true), tx("d", "u3", 1.0, false))
      .toDS().repartition(1).write.mode("append").parquet(s"$dir/in")
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[TxKeyed]].schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in").as[TxKeyed]
    val q = graft.streaming.StreamingJob.runningUserTotals(stream)
      .toDF().writeStream.format("noop").outputMode("update")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    def stateAt(opts: Map[String, String]): Map[String, (Long, Double)] = {
      var r = spark.read.format("statestore")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load(s"$dir/ckpt")
        .select(col("key.value"), col("value.groupState._1"),
          col("value.groupState._2"))
        .collect().map(x => x.getString(0) -> (x.getLong(1), x.getDouble(2)))
        .toMap
    }
    val first = stateAt(Map("batchId" -> "0"))
    val last = stateAt(Map.empty)
    assert(first.size == 2 && last.size == 3,
      s"unexpected state contents: first=$first last=$last")
    assert(first.keySet.subsetOf(last.keySet),
      s"keys can only be added: $first vs $last")
    first.foreach { case (u, (n0, v0)) =>
      val (n1, v1) = last(u)
      assert(n0 <= n1 && v0 <= v1, s"state must grow monotonically: " +
        s"$u $n0/$v0 -> $n1/$v1")
    }
    // final totals are order-independent: u1 accrues across both
    // batches; the disapproved u3 row still creates (zeroed) state
    assert(last("u1") == ((2L, 12.5)) && last("u2") == ((1L, 5.0)) &&
      last("u3") == ((0L, 0.0)), s"final state wrong: $last")
    // batch-0 is whichever file listed first — under either order u1
    // is present with a strictly smaller total than its final state
    assert(first.contains("u1") && first("u1")._2 < 12.5,
      s"batch-0 state wrong: $first")
  }

  test("statestore reader inspects a RocksDB-provider checkpoint (s33 on the recommended provider)") {
    // s33's offline state inspection, exercised against the provider
    // SCALE.md actually recommends for large state: the running-totals
    // stream commits its keyed state through RocksDBStateStoreProvider,
    // and the built-in statestore reader must surface the identical
    // final state it surfaces from the default HDFS-backed provider.
    import spark.implicits._
    import graft.streaming.StreamingJob.TxKeyed
    val dir = Scratch.dir("state_rocks")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def tx(id: String, user: String, v: Double, ok: Boolean) =
      TxKeyed(id, user, t0, v, ok)
    Seq(tx("a", "u1", 10.0, true), tx("b", "u2", 5.0, true))
      .toDS().repartition(1).write.parquet(s"$dir/in")
    Seq(tx("c", "u1", 2.5, true), tx("d", "u3", 1.0, false))
      .toDS().repartition(1).write.mode("append").parquet(s"$dir/in")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val rocks = "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, rocks)
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[TxKeyed]].schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in").as[TxKeyed]
      val q = graft.streaming.StreamingJob.runningUserTotals(stream)
        .toDF().writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // collect INSIDE the conf scope: the reader resolves the store
      // provider at execution, and it must open RocksDB files here
      val state = spark.read.format("statestore").load(s"$dir/ckpt")
        .select(col("key.value"), col("value.groupState._1"),
          col("value.groupState._2"))
        .collect().map(x => x.getString(0) -> (x.getLong(1), x.getDouble(2)))
        .toMap
      assert(state == Map("u1" -> ((2L, 12.5)), "u2" -> ((1L, 5.0)),
        "u3" -> ((0L, 0.0))), s"RocksDB checkpoint state wrong: $state")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("keeper maintenance fails loudly on a non-integral id, never drops it") {
    // the silent failure mode this guards: a doc id that does not cast
    // to BIGINT would null out in the queue write and be dropped by
    // the fold's isNotNull filter — a document missing from keeper
    // state with no error anywhere. longIdOrFail turns that into a
    // trigger failure at ingest.
    import spark.implicits._
    val bad = Seq(("x17", "some document text here"),
      ("18", "another document text")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      graft.streaming.StreamingJob.streamKeeperMaintenance(
        bad, "doc_id", "text", n = 3, threshold = 0.8,
        Scratch.dir("badid_spec"))
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    // under ANSI (the Spark 4 default) the cast itself throws
    // CAST_INVALID_INPUT — equally loud; the longIdOrFail raise_error
    // branch is what fires when a deployment runs with ANSI off and
    // the cast would otherwise null silently
    assert(chain(e).exists(m => m.contains("does not cast to BIGINT") ||
        m.contains("cannot be cast to")),
      s"expected the ingest to fail loudly, got: ${chain(e)}")
  }

  test("streamed band-index ingest == one-shot build; redelivery replaces, not duplicates") {
    import graft.dedup.Dedup
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") >= 20)
    val probe = docs.filter(col("doc_id") < 20)
    val streamed = StreamingJob.streamBandIndexIngest(corpus, probe,
        "doc_id", "text", 3, 0.5,
        Scratch.dir("s16_spec"), nFiles = 3)
      .select("in_doc", "corpus_doc").as[(Long, Long)].collect().toSet
    val ixOne = Scratch.dir("bi_one")
    Dedup.bandIndexBuild(corpus, "doc_id", "text", 3, ixOne)
    val oneShot = Dedup.bandIndexProbe(probe, "doc_id", "text", 3, ixOne, 0.5)
      .select("in_doc", "corpus_doc").as[(Long, Long)].collect().toSet
    assert(streamed == oneShot,
      "N streamed micro-batches must maintain the same index as one build")
    // at-least-once redelivery: re-ingesting the same batch id must
    // REPLACE the previous write — probe output (incl. duplicates)
    // identical before and after
    val ixRe = Scratch.dir("bi_re")
    Dedup.bandIndexIngestBatch(corpus, "doc_id", "text", 3, ixRe, batchId = 0L)
    val before = Dedup.bandIndexProbe(probe, "doc_id", "text", 3, ixRe, 0.5)
      .collect().toSeq
    Dedup.bandIndexIngestBatch(corpus, "doc_id", "text", 3, ixRe, batchId = 0L)
    val after = Dedup.bandIndexProbe(probe, "doc_id", "text", 3, ixRe, 0.5)
      .collect().toSeq
    assert(after.toSet == before.toSet && after.length == before.length,
      "redelivered batch must overwrite itself, not append duplicates")
  }

  test("mergeIntoMv: exact incremental merge, untouched partition files intact") {
    val mv = s"${Scratch.dir("mv")}/mv"
    def fileNames(t: String): Set[String] =
      new java.io.File(s"$mv/event_type=$t").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    StreamingJob.mergeIntoMv(
      Seq(("click", 1.10), ("view", 2.20), ("view", 3.30))
        .toDF("event_type", "value"), mv)
    val clickBefore = fileNames("click")
    // second batch touches only `view`: click's files must survive the
    // dynamic partition overwrite byte-identically (names are
    // write-unique, so same names == not rewritten)
    StreamingJob.mergeIntoMv(
      Seq(("view", 4.40)).toDF("event_type", "value"), mv)
    assert(fileNames("click") == clickBefore,
      "untouched partition must not be rewritten")
    val got = spark.read.parquet(mv)
      .select(col("event_type"), col("n"),
        col("sum_value").cast("string").as("s"))
      .as[(String, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map("click" -> ((1L, "1.10")), "view" -> ((3L, "9.90"))),
      s"merged view must equal the exact one-pass aggregate, got $got")
  }

  test("FoldScheduler: min-pending gate, busy-skip, drain's final fold, loud errors") {
    // gate: below minPending nothing runs; at minPending one fold runs
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val pending = new java.util.concurrent.atomic.AtomicInteger(0)
    val gated = new StreamingJob.FoldScheduler(
      () => { ran.incrementAndGet(); () }, () => pending.get(), 2)
    pending.set(1); gated.submit()
    pending.set(2); gated.submit()
    gated.drain() // awaits the fold AND runs the unconditional final
    assert(ran.get() == 2, s"one gated fold + the drain fold: $ran")

    // busy-skip: submits while a fold runs are dropped, not queued —
    // the drain's final fold is what covers them
    val slowRan = new java.util.concurrent.atomic.AtomicInteger(0)
    val gateOpen = new java.util.concurrent.CountDownLatch(1)
    val started = new java.util.concurrent.CountDownLatch(1)
    val slow = new StreamingJob.FoldScheduler(() => {
      slowRan.incrementAndGet()
      started.countDown()
      gateOpen.await()
    }, () => 1, 1)
    slow.submit()
    started.await()
    slow.submit(); slow.submit(); slow.submit() // all mid-fold: skipped
    gateOpen.countDown()
    slow.drain()
    assert(slowRan.get() == 2,
      s"the running fold + the drain fold, never a backlog: $slowRan")

    // loud errors: a fold failure surfaces on the NEXT trigger check
    // and again at drain — never a silent partial table
    val boom = new StreamingJob.FoldScheduler(
      () => throw new IllegalStateException("fold died"), () => 1, 1)
    boom.submit()
    // the failure lands asynchronously; drain must rethrow it — as a
    // FRESH wrapper per observation site (each carries its own caller
    // stack) with the fold's own exception preserved as the cause
    val e = intercept[IllegalStateException](boom.drain())
    assert(e.getMessage.contains("fold died"))
    assert(e.getCause != null && e.getCause.getMessage == "fold died")
    val e2 = intercept[IllegalStateException](boom.failIfBroken())
    assert(!(e2 eq e) && (e2.getCause eq e.getCause),
      "each rethrow site must wrap the one stored cause freshly")
  }
}
