package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** One completed streaming trigger, as the listener saw it. Phases are
  * read per key from `durationMs`; the map is never summed, because
  * `triggerExecution` already contains every other phase.
  */
final case class Trigger(queryId: String, batchId: Long, rows: Long,
                         startEpochMs: Long, durationMs: Map[String, Long],
                         seenNs: Long) {
  def phase(k: String): Long = durationMs.getOrElse(k, 0L)
  def subPhaseSum: Long = durationMs.iterator
    .collect { case (k, v) if k != "triggerExecution" => v }.sum
  /** Each phase is rounded to whole ms, so the sum of n sub-phases may
    * exceed the enclosing figure by at most n ms.
    */
  def phasesConsistent: Boolean =
    subPhaseSum <= phase("triggerExecution") + (durationMs.size - 1)
}

/** Records every trigger of every streaming query, and the first
  * failure a query terminates with. The commit time of a batch is the
  * moment this listener sees its progress event.
  */
final class ProgressLog extends StreamingQueryListener {
  val triggers = new ConcurrentLinkedQueue[Trigger]
  @volatile var failure: Option[String] = None

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(m => if (failure.isEmpty) failure = Some(m))
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val now = System.nanoTime()
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    // idle progress reports carry no addBatch: no trigger ran
    if (d.contains("addBatch"))
      triggers.add(Trigger(p.id.toString, p.batchId, p.numInputRows,
        java.time.Instant.parse(p.timestamp).toEpochMilli, d, now))
  }
  def of(queryId: String): Seq[Trigger] =
    triggers.asScala.toSeq.filter(_.queryId == queryId).sortBy(_.batchId)
}

/** SparkListener counters for the traced run: jobs, tasks and shuffle
  * bytes, plus jobs per streaming micro-batch.
  */
final class Counters extends SparkListener {
  val jobs, tasks, shuffleBytes = new AtomicLong
  val jobsByBatch = TrieMap.empty[(String, Long), AtomicLong]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    for {
      p <- Option(e.properties)
      q <- Option(p.getProperty("sql.streaming.queryId"))
      b <- Option(p.getProperty("streaming.sql.batchId"))
    } jobsByBatch.getOrElseUpdate((q, b.toLong), new AtomicLong).incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) shuffleBytes.addAndGet(
      m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
  }
  def snapshot(): Counts = Counts(jobs.get, tasks.get, shuffleBytes.get)
}

final case class Counts(jobs: Long, tasks: Long, shuffleBytes: Long) {
  def -(o: Counts): Counts =
    Counts(jobs - o.jobs, tasks - o.tasks, shuffleBytes - o.shuffleBytes)
}

/** Spans recorded by the benchmark around its calls into each layer:
  * name, start, end and the enclosing span. Kept in memory and written
  * out when the run ends.
  */
final class Spans {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
  private val done = ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)

  def apply[T](name: String)(f: => T): T = {
    val id = ids.incrementAndGet()
    val parent = open.get.headOption.getOrElse(0)
    open.set(id :: open.get)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      open.set(open.get.tail)
      done.synchronized(done += Span(id, parent, name, t0, t1))
    }
  }
  def all: Seq[Span] = done.synchronized(done.toList)

  def toJson: String = all.sortBy(_.id).map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    .mkString("[\n", ",\n", "\n]\n")
}

/** Everything the workloads measure with: the always-on progress log,
  * and, in a traced run, the SparkListener counters and spans.
  */
final class Probe(spark: SparkSession, val traced: Boolean) {
  val progress = new ProgressLog
  spark.streams.addListener(progress)
  val counters = new Counters
  if (traced) spark.sparkContext.addSparkListener(counters)
  val spans = new Spans

  def span[T](name: String)(f: => T): T = if (traced) spans(name)(f) else f
  def drain(): Unit = PerfbenchBridge.drainListenerBus(spark.sparkContext)
  def counts(): Counts = { drain(); counters.snapshot() }
}

/** Process-level readings: GC time, CPU time, peak RSS, load average. */
object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  def cpuNs: Long = os.getProcessCpuTime
  def load1: Double = os.getSystemLoadAverage
  /** Heap still reachable after a full collection: what the run retains.
    * The pause between two collections lets Spark's context cleaner drop
    * the blocks of broadcasts and datasets the first one freed.
    */
  def liveHeapMb: Double = {
    System.gc(); Thread.sleep(500); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}

/** GC, CPU and wall over one measured window. */
final class Window {
  private val gc0 = Host.gcMs
  private val cpu0 = Host.cpuNs
  private val wall0 = System.nanoTime()
  def metrics: Map[String, Double] = {
    val wall = System.nanoTime() - wall0
    Map("exec.gc_ms" -> (Host.gcMs - gc0).toDouble,
        "exec.cpu_over_wall" -> (Host.cpuNs - cpu0).toDouble / wall)
  }
}
