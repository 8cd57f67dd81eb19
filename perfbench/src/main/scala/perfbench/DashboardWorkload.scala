package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.analytics.DashboardQueries

/** The reference's dashboard: one client pulls every dashboard query's
  * result in a seeded order, cycle after cycle, over a persisted scored
  * table. Each result is collected, as the reference pulls results into
  * pandas; a `.count()` would let the optimizer drop the window
  * operators the dashboard waits for.
  */
object DashboardWorkload {
  val EventRows = 100000
  /** Cycles run after the warm-up pass and before the measured ones. */
  val RampCycles = 2
  /** Dashboard queries whose results do not match their DuckDB oracle
    * on inputs of this size, whatever the seed: `a4_user_stats` rounds
    * a mean that falls exactly on a 4-decimal tie half up where DuckDB
    * rounds it down, and `w2_zscore_row` returns 0.0 where DuckDB
    * returns -0.0 (and throws DIVIDE_BY_ZERO for a payer whose values
    * are all equal). They are left out of the workload, so that every
    * query it times is one whose output it can check.
    */
  val Defective = Set("a4_user_stats", "w2_zscore_row")
  val Names: Seq[String] =
    DashboardQueries.queries.keys.toSeq.filterNot(Defective).sorted

  /** One timed query. A query that throws is a failure and yields no
    * time. In a traced run the plan is forced first, so planning and
    * execution are timed apart, and the listener counts are attributed
    * to the query.
    */
  final case class Timed(ms: Option[Double], planMs: Double, execMs: Double,
                         counts: Counts)

  def timeQuery(probe: Probe, name: String, q: () => DataFrame): Timed = {
    val before = if (probe.traced) probe.counts() else null
    val t0 = System.nanoTime()
    try {
      val df = q()
      if (probe.traced) df.queryExecution.executedPlan
      val t1 = System.nanoTime()
      df.collect()
      val t2 = System.nanoTime()
      val c = if (probe.traced) probe.counts() - before else Counts(0, 0, 0)
      Timed(Some((t2 - t0) / 1e6), (t1 - t0) / 1e6, (t2 - t1) / 1e6, c)
    } catch {
      case e: Throwable =>
        println(s"  query $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
        Timed(None, 0, 0, Counts(0, 0, 0))
    }
  }

  def query(spark: SparkSession, sf: Path, name: String): () => DataFrame =
    () => SparkEntry.queries(name)(spark, sf.toString)

  def run(ctx: Ctx): (Outcome, Path) = {
    val spark = ctx.spark
    // inputs are made before the set-up clock: their cost is the
    // benchmark's, not the library's
    val sf = ctx.dir("sf")
    Gen.dims(spark, sf, ctx.seed)
    Gen.events(spark, sf, ctx.seed, EventRows)
    val qs = Names.map(n => n -> query(spark, sf, n)).toMap
    // warm-up pass: fills the persisted scored table, plans and compiles
    val warm = ctx.once("warmup")(Names.map(n => timeQuery(ctx.probe, n, qs(n))))
    // unmeasured ramp, as the stream's first ticks: the cycles after the
    // warm-up pass still run a quarter slower while the JIT settles
    val rng = new scala.util.Random(ctx.seed)
    val ramp = (0 until RampCycles).flatMap(_ =>
      rng.shuffle(Names).map(n => timeQuery(ctx.probe, n, qs(n))))

    val win = new Window
    val cycles = ArrayBuffer.empty[Seq[(String, Timed)]]
    val cycleS = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.seconds * 1000000000L
    while (System.nanoTime() < deadline || cycles.size < Main.MinDashboardCycles) {
      val order = rng.shuffle(Names)
      val c0 = System.nanoTime()
      cycles += ctx.probe.span("dashboard.cycle")(
        order.map(n => n -> ctx.probe.span(s"dashboard.$n")(timeQuery(ctx.probe, n, qs(n)))))
      cycleS += (System.nanoTime() - c0) / 1e9
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val exec = win.metrics
    val liveMb = Host.liveHeapMb

    val all = cycles.flatten.map(_._2).toSeq
    val ms = all.flatMap(_.ms)
    val failed = (all ++ warm ++ ramp).count(_.ms.isEmpty)
    println(f"dashboard: ${cycles.size} cycles of ${Names.size} queries, " +
      f"median cycle ${Stats.median(cycleS.toSeq)}%.3f s, ${all.size - ms.size} failed; " +
      "cycles " + cycleS.map(c => f"$c%.2f").mkString(" ") + " s")
    val perQuery = cycles.flatten.groupBy(_._1)
    println("dashboard: median ms per query: " + Names.map(n =>
      f"$n ${Stats.median(perQuery(n).flatMap(_._2.ms).toSeq)}%.0f").mkString(", "))
    // a traced run goes on to the batch index lifecycles over the same
    // sf directory, so the oracle check covers them too
    val (mAttempted, mFailed, mLayers) =
      if (!ctx.probe.traced) (0L, 0L, Map.empty[String, Double])
      else Maintenance.run(ctx, sf, ctx.work.resolve("verify"), Maintenance.BatchOps)
    val layers = if (!ctx.probe.traced) Map.empty[String, Double] else {
      val ok = all.filter(_.ms.isDefined)
      val perCycle = (f: Counts => Long) =>
        ok.map(t => f(t.counts)).sum.toDouble / cycles.size
      exec ++ mLayers ++ Map(
        "analytics.plan_ms" -> Stats.median(ok.map(_.planMs)),
        "analytics.exec_ms" -> Stats.median(ok.map(_.execMs)),
        "analytics.jobs" -> perCycle(_.jobs),
        "analytics.tasks" -> perCycle(_.tasks),
        "analytics.shuffle_bytes" -> perCycle(_.shuffleBytes),
        "analytics.refresh_s" -> Stats.median(cycleS.toSeq))
    }
    (Outcome(all.size + warm.size + ramp.size + mAttempted, failed + mFailed, failed + mFailed == 0,
      Map("latency_p50_ms" -> Stats.median(ms),
          "latency_tail_ms" -> Stats.pct(ms, Main.tailPct("dashboard")),
          "throughput_per_s" -> ms.size / wallS,
          "heap_live_mb" -> liveMb), layers, ms.size), sf)
  }
}
