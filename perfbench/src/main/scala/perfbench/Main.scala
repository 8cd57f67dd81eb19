package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.jobs.Jobs
import graft.streaming.StreamingJob.KeyedStore

/** Benchmark entry point, launched by `perfbench/run.py`:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <scratch dir> --out <report dir> --result <json file>
  *   perfbench.Main --selftest --work <scratch dir>
  *
  * Prints a readable report on stdout and writes the result object to
  * `--result`; `run.py` adds the oracle check and prints the last line.
  */
object Main {
  val Workloads = Seq("stream", "dashboard")
  val Cpus = 4
  /** A dashboard run measures at least this many cycles, so its tail
    * percentile has at least ten samples beyond it.
    */
  val MinDashboardCycles = 3

  /** The tail percentile each workload reports: the highest that its
    * minimum sample count supports with ten samples beyond it (3 cycles
    * of 17 dashboard queries; 100 stream ticks, one sample each, at
    * `--seconds 10`).
    */
  def tailPct(workload: String): Double = workload match {
    case "dashboard" => 0.8
    case _ => 0.9
  }

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_ms" -> "ms", "latency_tail_ms" -> "ms",
    "throughput_per_s" -> "1/s", "heap_live_mb" -> "MB")

  /** Every per-layer metric a traced run reports. A layer the workload
    * does not exercise reports 0.
    */
  val Layers: Seq[(String, String)] = Seq(
    "jobs.session_s" -> "s",
    "streaming.triggers" -> "count",
    "streaming.latest_offset_ms" -> "ms",
    "streaming.get_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms",
    "streaming.trigger_ms" -> "ms",
    "streaming.rows_per_trigger" -> "count",
    "streaming.jobs_per_trigger" -> "count",
    "streaming.trigger_wait_ms" -> "ms",
    "gen.max_lateness_ms" -> "ms",
    "io.sink_files_per_trigger" -> "count",
    "io.files_written" -> "count",
    "io.bytes_written" -> "bytes",
    "etl.decode_us_per_tx_1k" -> "us",
    "etl.decode_us_per_tx_200k" -> "us",
    "etl.score_us_per_tx_1k" -> "us",
    "etl.score_us_per_tx_200k" -> "us",
    "io.sink_write_us_per_tx_1k" -> "us",
    "io.sink_write_us_per_tx_200k" -> "us",
    "stream_backlog.trigger_ms" -> "ms",
    "stream_backlog.add_batch_ms" -> "ms",
    "stream_backlog.rows_per_trigger" -> "count",
    "stream_backlog.jobs_per_trigger" -> "count",
    "stream_backlog.sink_files_per_trigger" -> "count",
    "stream_backlog.local1_tx_per_s" -> "1/s",
    "analytics.plan_ms" -> "ms",
    "analytics.exec_ms" -> "ms",
    "analytics.jobs" -> "count",
    "analytics.tasks" -> "count",
    "analytics.shuffle_bytes" -> "bytes",
    "analytics.refresh_s" -> "s",
    "index.pass_s" -> "s",
    "index.jobs" -> "count") ++
    Maintenance.Names.flatMap(n =>
      Seq(s"index.$n.eager_ms" -> "ms", s"index.$n.final_ms" -> "ms")) ++ Seq(
    "exec.gc_ms" -> "ms",
    "exec.peak_rss_mb" -> "MB",
    "exec.cpu_over_wall" -> "ratio",
    "host.load1_before" -> "load",
    "host.load1_after" -> "load",
    "host.canary_before_ms" -> "ms",
    "host.canary_after_ms" -> "ms",
    "traced.setup_s" -> "s",
    "traced.latency_p50_ms" -> "ms",
    "traced.latency_tail_ms" -> "ms",
    "traced.throughput_per_s" -> "1/s")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    if (args.contains("--selftest")) sys.exit(SelfTest.run(work))
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    run(workload, opts("seed").toLong, opts("seconds").toInt, opts("trace") == "1",
      work, Paths.get(opts("out")), Paths.get(opts("result")))
  }

  def session(cpus: Int, work: Path): SparkSession = {
    val s = Jobs.localBuilder("perfbench", cpus.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val launchMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** A timeline line on stderr: seconds since the JVM started. */
  def mark(what: String): Unit =
    System.err.println(f"perfbench: ${(System.currentTimeMillis() - launchMs) / 1000.0}%7.1f s  $what")

  def deleteTree(p: Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)

  /** The host-drift canary: one fixed dashboard query over fixed
    * inputs, the median of three timings after five untimed calls.
    */
  final class Canary(spark: SparkSession, dir: Path) {
    Gen.dims(spark, dir, 0L)
    Gen.events(spark, dir, 0L, 5000)
    private val q = DashboardWorkload.query(spark, dir, "a15_region_rate_bounds")
    (0 until 5).foreach(_ => q().collect())
    def ms(): Double = Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime(); q().collect(); (System.nanoTime() - t0) / 1e6
    })
  }

  def run(workload: String, seed: Long, seconds: Int, traced: Boolean,
          work: Path, out: Path, resultFile: Path): Unit = {
    val spark = session(Cpus, work)
    mark("session ready")
    val sessionS = (System.currentTimeMillis() - launchMs) / 1000.0
    val probe = new Probe(spark, traced)
    val ctx = new Ctx(spark, probe, work, seed, seconds)
    ctx.setupSteps += "session" -> sessionS

    // only a traced run makes the canary: it feeds per-layer figures
    // only, costs seconds, and its calls warm the JVM outside the set-up
    // clock, which would hide part of the set-up a user waits for
    val canary = if (traced) Some(new Canary(spark, ctx.dir("canary"))) else None
    val load1Before = Host.load1
    val canaryBefore = canary.fold(Double.NaN)(_.ms())
    mark("canary done")

    val (o, sf) = workload match {
      case "stream" => StreamWorkloads.stream(ctx)
      case "dashboard" => DashboardWorkload.run(ctx)
    }
    val rssMb = Host.peakRssMb
    mark("workload done")
    val canaryAfter = canary.fold(Double.NaN)(_.ms())
    val load1After = Host.load1

    val e2e = o.endToEnd + ("setup_s" -> ctx.setupS)
    println(s"setup: " + ctx.setupSteps.map { case (k, v) => f"$k $v%.3f s" }.mkString(", "))
    println(f"host: load1 $load1Before%.2f -> $load1After%.2f" +
      canary.fold("")(_ => f", canary $canaryBefore%.1f -> $canaryAfter%.1f ms"))
    println(f"operations: ${o.attempted} attempted, ${o.failed} failed, " +
      f"error_rate ${o.failed.toDouble / math.max(1L, o.attempted)}%.6f")
    println(f"latency: p50 and p${tailPct(workload) * 100}%.0f over ${o.samples} samples")

    var layers = Map.empty[String, Double]
    if (traced) {
      layers = o.layers ++ Map(
        "jobs.session_s" -> sessionS,
        "exec.peak_rss_mb" -> rssMb,
        "host.load1_before" -> load1Before, "host.load1_after" -> load1After,
        "host.canary_before_ms" -> canaryBefore, "host.canary_after_ms" -> canaryAfter,
        "traced.setup_s" -> e2e("setup_s"),
        "traced.latency_p50_ms" -> e2e("latency_p50_ms"),
        "traced.latency_tail_ms" -> e2e("latency_tail_ms"),
        "traced.throughput_per_s" -> e2e("throughput_per_s"))
      Files.createDirectories(out)
      Files.writeString(out.resolve(s"$workload-spans.json"), probe.spans.toJson)
    }
    if (traced && workload == "stream")
      layers += "stream_backlog.local1_tx_per_s" -> local1TxPerS(spark, work, sf, seed)

    val metrics =
      if (traced) Layers.map { case (n, u) => (n, layers.getOrElse(n, 0.0), u) }
      else EndToEnd.map { case (n, u) => (n, e2e(n), u) }
    metrics.foreach { case (n, v, u) => println(f"  $n%-34s $v%14.4f $u") }
    val finite = metrics.forall { case (_, v, _) => !v.isNaN && !v.isInfinite }

    // the oracle check, untimed: graft.Verify dumps each dashboard
    // query's result next to the maintenance results a traced run has
    // dumped already, writes oracle_sql.json and stops the session;
    // run.py compares the dump with DuckDB. For a traced stream run the
    // filter names none of Verify's queries, so it writes only the json
    val dashboard = if (workload == "dashboard") DashboardWorkload.Names else Nil
    val maintenance = if (!traced) Nil
      else (if (workload == "stream") Maintenance.StreamOps else Maintenance.BatchOps).map(_._1)
    val oracle = if (dashboard.isEmpty && maintenance.isEmpty) "" else {
      val dump = work.resolve("verify")
      graft.Verify.main(Array(sf.toString, dump.toString, dashboard.mkString(",")))
      s""","oracle":{"sf":"$sf","out":"$dump","names":"${(dashboard ++ maintenance).mkString(",")}"}"""
    }
    SparkSession.getActiveSession.foreach(_.stop())
    mark("session stopped")

    val body = metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n":{"value":$x,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    Files.writeString(resultFile,
      s"""{"correct":${o.correct && finite},"attempted":${o.attempted},""" +
        s""""failed":${o.failed},"metrics":$body$oracle}""",
      StandardCharsets.UTF_8)
  }

  /** The single-threaded baseline: the same backlog job drained at
    * local[1] over one 200k-event trigger. Restarts the session.
    */
  def local1TxPerS(spark: SparkSession, work: Path, sf: Path, seed: Long): Double = {
    spark.stop()
    val s1 = session(1, work)
    val ctx1 = new Ctx(s1, new Probe(s1, traced = false), work, seed, 0)
    val d = new StreamWorkloads.Dirs(ctx1.dir("local1"))
    val ids = StreamWorkloads.landBacklog(d, new Gen.WireEvents(seed + 3),
      StreamWorkloads.BacklogFilesPerTrigger)
    KeyedStore.clear()
    val t0 = System.nanoTime()
    val q = StreamWorkloads.start(s1, sf, d, Some(StreamWorkloads.BacklogFilesPerTrigger))
    val err = StreamWorkloads.drain(q)
    q.stop()
    val last = ctx1.probe.progress.of(q.id.toString).map(_.seenNs).maxOption
    println(s"stream_backlog at local[1]: ${ids.size} events" +
      err.fold("")(e => s"; FAILED: $e"))
    if (err.isDefined) Double.NaN
    else last.map(ns => ids.size / ((ns - t0) / 1e9)).getOrElse(Double.NaN)
  }
}
