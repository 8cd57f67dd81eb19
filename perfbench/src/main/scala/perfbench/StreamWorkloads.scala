package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.etl.{ScoringPipeline, TestdataAdapter}
import graft.io.IdempotentBatchSink
import graft.jobs.Jobs
import graft.streaming.StreamingJob.KeyedStore

/** The scoring stream, driven from outside: JSON-lines files in the
  * reference's wire schema land in a directory, are read through
  * `ScoringPipeline.decode` and scored by `Jobs.startStreamingScoring`,
  * which writes facts, scores and the keyed store.
  */
object StreamWorkloads {
  val TickMs = 100L
  val EventsPerTick = 100 // 1,000 tx/s, the reference producer's rate
  /** Phase 2 starts with this many unmeasured ticks (6 s), so its first
    * triggers, on a query that has just drained 200k-event batches and
    * whose per-trigger code the JIT is still compiling, fall outside
    * the latency samples. A slow trigger leaves more files, one per
    * tick, to the next one, and each file costs a task: the first
    * triggers take over a second and the loop needs seconds to settle.
    */
  val SteadyWarmTicks = 60
  val BacklogFileEvents = 10000
  val BacklogFilesPerTrigger = 20
  /** The backlog: one trigger's worth of files, 200k events. */
  val BacklogFiles = BacklogFilesPerTrigger

  /** Input, staging and output directories of one stream. */
  final class Dirs(root: Path) {
    val in: Path = Files.createDirectories(root.resolve("in"))
    val stage: Path = Files.createDirectories(root.resolve("stage"))
    val out: Path = root.resolve("out")
  }

  /** Raw kafka-shaped rows from the landed files: the line as `value`,
    * the file's landing time as `timestamp`.
    */
  private def raw(df: DataFrame): DataFrame =
    df.select(col("value"), col("_metadata.file_modification_time").as("timestamp"))

  def start(spark: SparkSession, sf: Path, d: Dirs,
            maxFilesPerTrigger: Option[Int]): StreamingQuery = {
    val reader = spark.readStream.format("text")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toLong))
    Jobs.startStreamingScoring(
      ScoringPipeline.decode(raw(reader.load(d.in.toString))),
      TestdataAdapter.users(spark, sf.toString),
      TestdataAdapter.regions(spark, sf.toString),
      d.out.toString)
  }

  /** Run `q` until everything landed is committed; a query that
    * terminates with an error is a failure of every event it held.
    */
  def drain(q: StreamingQuery): Option[String] =
    try { q.processAllAvailable(); None }
    catch { case e: Throwable => Some(String.valueOf(e.getMessage)) }

  /** Output checks of one stream over the ids it was sent:
    *  - every id committed exactly once in facts and in scores (an id
    *    missing or duplicated in either is a failed event);
    *  - the keyed store holds exactly that many ids;
    *  - facts equal, as a multiset of rows, the `Jobs.runBatchScoring`
    *    twin over the same files.
    * Also returns the batch each id was committed in.
    */
  final case class Checked(ids: Int, batchOf: Map[String, Int], failedIds: Long,
                           ok: Boolean, notes: Seq[String])

  def check(spark: SparkSession, sf: Path, d: Dirs, ids: collection.Set[String]): Checked = {
    def counts(path: Path): Map[String, (Int, Int)] =
      if (!Files.exists(path)) Map.empty
      else spark.read.parquet(path.toString)
        .groupBy(col("id_transacao"))
        .agg(count(lit(1)).cast("int").as("n"), min(col("batch")).as("b"))
        .collect().map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    val facts = counts(d.out.resolve("facts"))
    val scores = counts(d.out.resolve("scores"))
    def bad(m: Map[String, (Int, Int)]): Set[String] =
      ids.filterNot(id => m.get(id).exists(_._1 == 1)).toSet ++ m.keySet.diff(ids)
    val badIds = bad(facts) ++ bad(scores)
    val keyed = KeyedStore.hashes.size
    Main.mark("ids checked")

    // facts and the batch twin compared as multisets of rows: each
    // side's row count and sum of 64-bit row hashes
    val twinEqual = facts.nonEmpty && {
      val twin = Jobs.runBatchScoring(
        ScoringPipeline.decode(raw(spark.read.text(d.in.toString))),
        TestdataAdapter.users(spark, sf.toString),
        TestdataAdapter.regions(spark, sf.toString))
      // processing-start stamps are wall-clock; every other column is
      // a function of the landed file alone
      val cols = twin.columns.filterNot(_ == "tempo_inicio_processamento").map(col).toSeq
      def fingerprint(df: DataFrame) = df.select(cols: _*)
        .agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)")))
        .head().toSeq
      fingerprint(spark.read.parquet(d.out.resolve("facts").toString)) == fingerprint(twin)
    }
    Main.mark("twin compared")
    val notes = Seq(
      s"ids sent ${ids.size}; missing or duplicated in facts or scores: ${badIds.size}",
      s"keyed store holds $keyed ids (want ${ids.size})",
      s"facts equal the batch twin: $twinEqual")
    Checked(ids.size, facts.map { case (k, v) => k -> v._2 }, badIds.size.toLong,
      badIds.isEmpty && keyed == ids.size && twinEqual, notes)
  }

  /** Files the fan-out wrote for each of the given batches. */
  def sinkFiles(d: Dirs, batches: Set[Int]): Seq[Int] = {
    val perBatch = batches.toSeq.sorted.map { b =>
      Seq("facts", "scores").map { s =>
        val bd = d.out.resolve(s).resolve(s"batch=$b")
        if (!Files.isDirectory(bd)) Seq.empty[Path]
        else Files.list(bd).iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-")).toSeq
      }.reduce(_ ++ _)
    }
    perBatch.map(_.size)
  }

  /** Per-trigger phase figures (medians over `ts`) for a traced run. */
  def triggerLayers(probe: Probe, ts: Seq[Trigger], d: Dirs): Map[String, Double] = {
    def med(k: String) = Stats.median(ts.map(_.phase(k).toDouble))
    val files = sinkFiles(d, ts.map(_.batchId.toInt).toSet)
    val jobs = ts.map(t => probe.counters.jobsByBatch.get((t.queryId, t.batchId))
      .map(_.get.toDouble).getOrElse(0.0))
    Map(
      "streaming.triggers" -> ts.size.toDouble,
      "streaming.latest_offset_ms" -> med("latestOffset"),
      "streaming.get_batch_ms" -> med("getBatch"),
      "streaming.query_planning_ms" -> med("queryPlanning"),
      "streaming.add_batch_ms" -> med("addBatch"),
      "streaming.wal_commit_ms" -> med("walCommit"),
      "streaming.commit_offsets_ms" -> med("commitOffsets"),
      "streaming.trigger_ms" -> med("triggerExecution"),
      "streaming.rows_per_trigger" -> Stats.median(ts.map(_.rows.toDouble)),
      "streaming.jobs_per_trigger" -> Stats.median(jobs),
      "io.sink_files_per_trigger" -> Stats.median(files.map(_.toDouble)))
  }

  /** Land `files` backlog files of 10k events, 26 ms of event time apart. */
  def landBacklog(d: Dirs, ev: Gen.WireEvents, files: Int): IndexedSeq[String] =
    (0 until files).flatMap { f =>
      val evs = (0 until BacklogFileEvents).map(i =>
        ev.next(Gen.EpochMs + (f.toLong * BacklogFileEvents + i) * 26L))
      Gen.land(d.stage, d.in, f"backlog-$f%05d.json", evs.map(_._2))
      evs.map(_._1)
    }

  /** Lands one file per tick at `t0 + k * TickMs`, whether or not the
    * stream keeps up, and returns how late each landing was (ns).
    */
  def generate(d: Dirs, files: IndexedSeq[Seq[String]], t0: Long): Array[Long] = {
    val late = new Array[Long](files.size)
    for (k <- files.indices) {
      val due = t0 + k * TickMs * 1000000L
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      Gen.land(d.stage, d.in, f"tick-$k%06d.json", files(k))
      late(k) = System.nanoTime() - due
    }
    late
  }

  /** The `stream` workload, in two phases on one query:
    *  1. a backlog landed before the query starts is drained at
    *     `BacklogFilesPerTrigger` files (200k events) per trigger;
    *     per-event work dominates, and the drain rate is the throughput;
    *  2. then an open loop lands one file of `EventsPerTick` events every
    *     `TickMs` (1,000 tx/s, the reference's rate) for `seconds`;
    *     the per-trigger floor dominates, and each tick's latency runs
    *     from its due time to the moment the listener sees its batch
    *     commit.
    */
  def stream(ctx: Ctx): (Outcome, Path) = {
    val spark = ctx.spark
    val ticks = SteadyWarmTicks + ctx.seconds * (1000 / TickMs).toInt
    // inputs are made before the set-up clock: their cost is the
    // benchmark's, not the library's
    val sf = ctx.dir("sf")
    Gen.dims(spark, sf, ctx.seed)
    val d = new Dirs(ctx.dir("stream"))
    val ev = new Gen.WireEvents(ctx.seed)
    val backlogIds = landBacklog(d, ev, BacklogFiles)
    val t1 = Gen.EpochMs + BacklogFiles.toLong * BacklogFileEvents * 26L
    val script = (0 until ticks).map(k =>
      (0 until EventsPerTick).map(_ => ev.next(t1 + k * TickMs)))
    // warm-up: the same job over two files of another seed, as its own
    // query; the first triggers plan and compile
    val warmErr = ctx.once("warmup") {
      val wd = new Dirs(ctx.dir("warmup"))
      landBacklog(wd, new Gen.WireEvents(ctx.seed + 1), 2)
      val q = start(spark, sf, wd, Some(BacklogFilesPerTrigger))
      val e = drain(q)
      q.stop()
      Main.deleteTree(ctx.work.resolve("warmup"))
      e
    }
    KeyedStore.clear()

    // each phase starts from a collected heap, so garbage of the one
    // before does not land in its window
    System.gc()
    val win = new Window
    val t0 = System.nanoTime()
    val q = start(spark, sf, d, Some(BacklogFilesPerTrigger))
    val backlogErr = ctx.probe.span("stream.backlog")(drain(q))
    System.gc()
    val s0 = System.nanoTime() + TickMs * 1000000L
    val epoch0 = System.currentTimeMillis() + TickMs
    val late = ctx.probe.span("stream.generate")(generate(d, script.map(_.map(_._2)), s0))
    val err = warmErr.orElse(backlogErr).orElse(ctx.probe.span("stream.drain")(drain(q)))
      .orElse(ctx.probe.progress.failure)
    val exec = win.metrics
    q.stop()
    val liveMb = Host.liveHeapMb

    val trig = ctx.probe.progress.of(q.id.toString)
    val commitNs = trig.map(t => t.batchId.toInt -> t.seenNs).toMap
    val tickIds = script.flatten.map(_._1)
    Main.mark("stream measured")
    val c = check(spark, sf, d, (backlogIds ++ tickIds).toSet)
    // one latency sample per measured tick: its events land in one file
    // and commit in one batch, so they share their latency. The tick's
    // batch is the last one any of its events committed in
    val measured = script.zipWithIndex.drop(SteadyWarmTicks)
    val tickBatch = measured.flatMap { case (evs, k) =>
      evs.flatMap(e => c.batchOf.get(e._1)).maxOption.map(b => (k, b))
    }
    val dueNs = (k: Int) => s0 + k * TickMs * 1000000L
    val commitOf = (id: String) => c.batchOf.get(id).flatMap(commitNs.get)
    val lat = tickBatch.flatMap { case (k, b) => commitNs.get(b).map(ns => (ns - dueNs(k)) / 1e6) }
    val backlogBatches = backlogIds.flatMap(c.batchOf.get).toSet
    val steadyBatches = tickBatch.map(_._2).toSet
    val drainS = backlogIds.flatMap(commitOf).maxOption
      .map(ns => (ns - t0) / 1e9).getOrElse(Double.NaN)
    val steadyS = tickIds.flatMap(commitOf).maxOption
      .map(ns => (ns - s0) / 1e9).getOrElse(Double.NaN)
    println(f"stream: backlog of ${backlogIds.size} events drained in $drainS%.3f s " +
      f"(${backlogBatches.size} triggers, ${backlogIds.size / drainS}%.0f tx/s)")
    val steadyTriggerMs = trig.filter(t => steadyBatches.contains(t.batchId.toInt))
      .map(_.phase("triggerExecution").toDouble)
    println(f"stream: ${tickIds.size} events in $ticks ticks committed in $steadyS%.3f s " +
      f"(${steadyBatches.size} measured triggers of ${Stats.median(steadyTriggerMs)}%.0f ms " +
      f"median, ${steadyTriggerMs.maxOption.getOrElse(0.0)}%.0f ms max, " +
      f"${tickIds.size / steadyS}%.0f tx/s), generator at most ${late.max / 1e6}%.1f ms late; " +
      "triggers " + steadyTriggerMs.map(t => f"$t%.0f").mkString(" ") + " ms")
    err.foreach(e => println(s"stream: FAILED: $e"))
    c.notes.foreach(n => println(s"  check: $n"))

    val layers = if (!ctx.probe.traced) Map.empty[String, Double] else {
      val startOf = trig.map(t => t.batchId.toInt -> t.startEpochMs).toMap
      val waits = tickBatch.flatMap { case (k, b) =>
        startOf.get(b).map(_ - (epoch0 + k * TickMs).toDouble)
      }
      val backlog = triggerLayers(ctx.probe,
        trig.filter(t => backlogBatches.contains(t.batchId.toInt)), d)
      triggerLayers(ctx.probe, trig.filter(t => steadyBatches.contains(t.batchId.toInt)), d) ++
        Seq("trigger_ms", "add_batch_ms", "rows_per_trigger", "jobs_per_trigger")
          .map(k => s"stream_backlog.$k" -> backlog(s"streaming.$k")) ++
        Map("stream_backlog.sink_files_per_trigger" -> backlog("io.sink_files_per_trigger"),
          "streaming.trigger_wait_ms" -> Stats.pct(waits, Main.tailPct("stream")),
          "gen.max_lateness_ms" -> late.max / 1e6) ++
        exec ++ replay(ctx, sf)
    }
    // phases are read per key; a trigger whose sub-phases sum to more
    // than its triggerExecution means they are not what they claim
    val inconsistent = trig.count(!_.phasesConsistent)
    if (inconsistent > 0) println(s"stream: $inconsistent triggers' sub-phases exceed triggerExecution")
    // a traced run goes on to the streaming index-maintenance loops
    val (mAttempted, mFailed, mLayers) =
      if (!ctx.probe.traced) (0L, 0L, Map.empty[String, Double])
      else Maintenance.run(ctx, sf, ctx.work.resolve("verify"), Maintenance.StreamOps)
    val failed = (if (err.isDefined) c.ids.toLong else c.failedIds) + mFailed
    (Outcome(c.ids + mAttempted, failed,
      err.isEmpty && c.ok && inconsistent == 0 && mFailed == 0,
      Map("latency_p50_ms" -> Stats.median(lat),
          "latency_tail_ms" -> Stats.pct(lat, Main.tailPct("stream")),
          "throughput_per_s" -> backlogIds.size / drainS,
          "heap_live_mb" -> liveMb), layers ++ mLayers, lat.size), sf)
  }

  /** One trigger-sized batch replayed through each public call of the
    * scoring path, at 1k and 200k events: decode, enrich+score, and the
    * idempotent sink write, each in µs per event.
    */
  def replay(ctx: Ctx, sf: Path): Map[String, Double] = {
    val spark = ctx.spark
    val users = TestdataAdapter.users(spark, sf.toString).cache()
    val regions = TestdataAdapter.regions(spark, sf.toString).cache()
    Seq(1000 -> "1k", 200000 -> "200k").flatMap { case (n, tag) =>
      val d = new Dirs(ctx.dir(s"replay-$tag"))
      val ev = new Gen.WireEvents(ctx.seed + 2)
      Gen.land(d.stage, d.in, "batch.json",
        (0 until n).map(i => ev.next(Gen.EpochMs + i * 26L)._2))
      val rawRows = raw(spark.read.text(d.in.toString)).cache()
      rawRows.count()
      def us(name: String)(f: => Unit): Double =
        ctx.probe.span(s"replay.$name.$tag") {
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e3 / n
        }
      val decodeUs = us("decode")(ScoringPipeline.decode(rawRows)
        .write.format("noop").mode("overwrite").save())
      val decoded = ScoringPipeline.decode(rawRows).cache()
      decoded.count()
      val scoreUs = us("score")(Jobs.runBatchScoring(decoded, users, regions)
        .write.format("noop").mode("overwrite").save())
      val scored = Jobs.runBatchScoring(decoded, users, regions).cache()
      scored.count()
      val sinkUs = us("sink")(IdempotentBatchSink(d.out.toString).write(scored, 0L))
      Seq(rawRows, decoded, scored).foreach(_.unpersist())
      Seq(s"etl.decode_us_per_tx_$tag" -> decodeUs,
          s"etl.score_us_per_tx_$tag" -> scoreUs,
          s"io.sink_write_us_per_tx_$tag" -> sinkUs)
    }.toMap
  }
}
