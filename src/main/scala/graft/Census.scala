package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The per-query census [[BenchChunk]] writes for every timed run: what
  * the run asked of the engine, from the engine's own listener events.
  * It listens on `spark`'s SparkContext and query listeners (which later
  * clones of `spark` inherit) until [[close]]. Events arrive
  * asynchronously, so every reading first drains the listener bus; a
  * reading whose drain timed out says `drained = false`, its counts are
  * a lower bound, and [[Census.Run.json]] publishes none of them.
  */
final class Census(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Census._
  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  // guarded by `this`: listeners run on the bus thread, readings on the caller's
  private var now = Empty
  private val running = scala.collection.mutable.Map.empty[Int, (Long, String)]
  // SQL execution id → its description (the action's call site), while it runs
  private val executions = scala.collection.mutable.Map.empty[Long, String]

  private def add(kvs: (String, Long)*): Unit = synchronized {
    now = now.copy(counts = kvs.foldLeft(now.counts) { case (m, (k, v)) =>
      m.updated(k, m.getOrElse(k, 0L) + v) })
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // Bpe labels its passes; a SQL job (AQE's query-stage jobs too)
    // is labelled by the action that started its execution; the
    // fallback is the result stage's name (the job's highest stage id)
    val props = Option(e.properties)
    val site = props.flatMap(p => Option(p.getProperty("spark.job.description")))
      .orElse(props.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(id => executions.get(id.toLong)))
      .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("?")
    running(e.jobId) = (e.time, site.take(120))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized(e match {
    case s: SparkListenerSQLExecutionStart => executions(s.executionId) = s.description
    case s: SparkListenerSQLExecutionEnd => executions.remove(s.executionId)
    case _ => ()
  })

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running.remove(e.jobId).foreach { case (t0, site) =>
      add("jobs" -> 1)
      now = now.copy(longest = top(Job(e.time - t0, site) :: now.longest))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages" -> 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks" -> 1)
    Option(e.taskMetrics).foreach(m => add(
      "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    planned(qe)
  private def planned(qe: QueryExecution): Unit = add("planning_ms" ->
    Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get).map(_.durationMs).sum)

  /** Drain the listener bus, then return everything seen since the last
    * reading and start the next one from zero.
    */
  def read(): Reading = {
    val drained = GraftSqlBridge.drainListenerBus(spark.sparkContext, 30000L)
    synchronized { try now.copy(drained = drained) finally now = Empty }
  }

  /** One timed run: `build` (the query wrapper with its eager actions),
    * then `count()` of the frame it returns, timed and read apart. A
    * throw propagates, so a failed run has no record; the next run's
    * opening read discards what it left behind.
    */
  def run(build: => DataFrame): Run = {
    read()
    val (df, eagerS, eagerGc) = timed(build)
    val eager = read()
    val (_, finalS, finalGc) = timed(df.count())
    Run(eagerS, finalS, eagerGc + finalGc, eager, read())
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Census {
  private val Counts = Seq("jobs", "stages", "tasks", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "planning_ms")
  private val Empty = Reading(Map.empty, Nil, drained = true)

  /** A finished job; its `site` label blanks what JSON would escape. */
  final case class Job(ms: Long, site: String) {
    def json: String = s"""{"ms":$ms,"site":"${site.map(c =>
      if (c == '"' || c == '\\' || c < ' ') ' ' else c)}"}"""
  }
  private def top(jobs: List[Job]): List[Job] = jobs.sortBy(-_.ms).take(3)

  /** `counts` is keyed by the names in [[Counts]]; a missing key is 0. */
  final case class Reading(counts: Map[String, Long], longest: List[Job], drained: Boolean) {
    def apply(key: String): Long = counts.getOrElse(key, 0L)
    def json: String = Counts.map(k => s""""$k":${apply(k)}""").mkString("{", ",", "}")
  }

  final case class Run(eagerS: Double, finalS: Double, gcMs: Long, eager: Reading, fin: Reading) {
    /** The sweep's time for this run: both calls, as one `fn().count()`. */
    def seconds: Double = eagerS + finalS
    def drained: Boolean = eager.drained && fin.drained
    def longest: List[Job] = top(eager.longest ++ fin.longest)
    def json: String = {
      val counts = if (!drained) "" else s""","eager":${eager.json},"final":${fin.json},""" +
        s""""longest_jobs":${longest.map(_.json).mkString("[", ",", "]")}"""
      f"""{"eager_s":$eagerS%.4f,"final_s":$finalS%.4f,"gc_ms":$gcMs$counts}"""
    }
  }

  /** One query's entry: its timed runs, and whether every reading drained. */
  def json(runs: Seq[Run]): String =
    s"""{"drained":${runs.forall(_.drained)},"runs":${runs.map(_.json).mkString("[", ",", "]")}}"""

  /** `f`'s value, its seconds and the GC ms inside them: JVM-wide MXBean
    * deltas (per-task `jvmGCTime` counts one pause once per running task),
    * read inside the clock, so every pause counted lies in the seconds.
    */
  private def timed[T](f: => T): (T, Double, Long) = {
    def gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum
    val t0 = System.nanoTime()
    val gc0 = gcMs
    val v = f
    val gc = gcMs - gc0
    (v, (System.nanoTime() - t0) / 1e9, gc)
  }
}
