package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-micro-batch telemetry via `StreamingQueryListener` — the
  * engine-side analog of the reference's console metrics stream and
  * latency views (`streaming_etl.py:265-278`,
  * `historic_data_mock.py:87-112`): one record per completed batch
  * with row counts, rates and durations, snapshottable as a DataFrame
  * so the same dashboard queries (hourly rollups, p95 latency) run on
  * the engine's own telemetry.
  *
  * Listener callbacks run on the driver's listener bus — the recorder
  * only appends to a concurrent queue there (no executor traffic, no
  * backpressure on the stream), and `snapshot` materializes the rows
  * on demand. Bounded: keeps the most recent `capacity` batches,
  * dropping the oldest — a week-long run cannot grow the driver heap.
  */
final case class BatchProgress(query: String, batchId: Long,
                               inputRows: Long, inputRowsPerSec: Double,
                               processedRowsPerSec: Double,
                               batchDurationMs: Long, stateRows: Long)

final class ProgressRecorder(capacity: Int = 10000)
    extends StreamingQueryListener {
  require(capacity > 0)

  private val buf =
    new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def finite(d: Double) = if (d.isNaN || d.isInfinite) 0.0 else d
    buf.add(BatchProgress(
      Option(p.name).getOrElse(p.id.toString), p.batchId,
      p.numInputRows, finite(p.inputRowsPerSecond),
      finite(p.processedRowsPerSecond),
      // triggerExecution already contains every other phase, so it is
      // the batch's duration; summing the map would count it twice
      Option(p.durationMs.get("triggerExecution")).map(_.longValue)
        .getOrElse(0L),
      p.stateOperators.map(_.numRowsTotal).sum))
    while (buf.size > capacity) buf.poll()
  }

  /** Current telemetry as a DataFrame (one row per recorded batch). */
  def snapshot(spark: SparkSession): DataFrame = {
    import spark.implicits._
    buf.asScala.toSeq.toDF()
  }

  def attach(spark: SparkSession): this.type = {
    spark.streams.addListener(this); this
  }
  def detach(spark: SparkSession): Unit = spark.streams.removeListener(this)
}
