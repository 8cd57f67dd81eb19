package graft.io

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The write-and-replace contract of every persisted index and fold
  * table: one bucketed parquet write ([[write]]), one staged swap
  * ([[replace]]) and the validated rewrite that composes a plain write
  * with the swap ([[rewrite]]). Single-writer throughout: concurrent
  * maintenance of one table is the caller's to exclude.
  */
object PersistedTable {

  /** How [[write]] treats what is already stored at its path. */
  sealed trait Mode

  /** Replace the whole table. */
  case object Overwrite extends Mode

  /** Add files beside the stored ones; nothing stored is read. */
  case object Append extends Mode

  /** Rewrite only the `affected` buckets (an integer partition
    * column): each one the write fills is replaced, each one it
    * leaves empty is deleted, and every other bucket is untouched.
    */
  final case class ReplaceBuckets(affected: Seq[Int]) extends Mode

  /** Write `df` under `path` as `<part>=K/` directories, one parquet
    * file per bucket written. `n` is the caller's known cardinality of
    * `part` (bucket count, band count, cell count).
    *
    * The keyed exchange is what gives one file per bucket: without it
    * every input task fans into every bucket it touches, tasks ×
    * buckets small files that every later scan lists and opens. The
    * count is explicit because a keyed repartition without one is
    * AQE-coalescible, and at small byte sizes AQE folds the write back
    * into ONE task — `n` sequential file creations, the floor the
    * exchange exists to parallelize.
    */
  def write(df: DataFrame, part: String, n: Int, path: String,
            mode: Mode): Unit = {
    def keyed(in: DataFrame) =
      in.repartition(n, col(part)).write.partitionBy(part)
    mode match {
      case Overwrite => keyed(df).mode("overwrite").parquet(path)
      case Append => keyed(df).mode("append").parquet(path)
      case ReplaceBuckets(affected) =>
        // the written-bucket set rides the write job as an observed
        // metric: no extra driver action
        val obs = Observation()
        keyed(df.observe(obs, collect_set(col(part)).as("written")))
          .mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .parquet(path)
        // dynamic overwrite never touches a bucket it writes no rows
        // to, so a bucket this write empties would keep its stale rows
        // (keeper rows move buckets when components merge) — drop it.
        // Replay-safe: a crash before the drop leaves stale rows that
        // the redelivered write re-identifies. Blocking get (no
        // listener race), tolerant lookup: when the optimizer proves
        // the write empty it prunes the CollectMetrics node and the map
        // comes back EMPTY, where "nothing written" is exactly right.
        val written = obs.get.get("written") match {
          case Some(a: Seq[_]) => a.map(_.asInstanceOf[Int]).toSet
          case _ => Set.empty[Int]
        }
        affected.filterNot(written).foreach { b =>
          FileUtils.deleteQuietly(new File(s"$path/$part=$b"))
        }
    }
  }

  /** Put `staged` in place of `live` by two renames, `live` → `aside`
    * then `staged` → `live`, never a delete-then-rename: if the swap
    * dies between them the data still exists at `aside` — the
    * recoverable failure mode. When `live` does not exist yet, only
    * the second rename runs. If the second rename fails, the original
    * is renamed back and the call throws, naming where the data is
    * when that rollback fails too. A concurrent reader can hit a
    * not-found window between the renames.
    */
  def replace(live: File, staged: File, aside: File): Unit = {
    FileUtils.deleteQuietly(aside)
    val hadLive = live.exists()
    if (hadLive)
      require(live.renameTo(aside), s"rename $live -> $aside failed")
    if (!staged.renameTo(live)) {
      val state =
        if (!hadLive) "there was no original"
        else if (aside.renameTo(live)) "original restored"
        else s"ROLLBACK ALSO FAILED — data is at $aside"
      throw new IllegalStateException(
        s"rename $staged -> $live failed; $state")
    }
    FileUtils.deleteQuietly(aside)
  }

  /** Rewrite the parquet table at `dir` as `transform` of itself. The
    * output lands in the sibling `<name><tag>.tmp`; its readback row
    * count (a zero-column parquet count: footers and page headers, not
    * a data scan) must equal the count observed during the write, and
    * only then does [[replace]] swap it in with `<name><tag>.old` as
    * the aside — a crash mid-swap is recoverable from those two
    * siblings. Returns the rows written.
    */
  def rewrite(spark: SparkSession, dir: File, tag: String)(
      transform: DataFrame => DataFrame): Long = {
    require(dir.isDirectory, s"${dir.getPath} is not a directory")
    val tmp = new File(dir.getParentFile, dir.getName + tag + ".tmp")
    FileUtils.deleteQuietly(tmp)
    val obs = Observation()
    transform(spark.read.parquet(dir.getPath))
      .observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(tmp.getPath)
    val rows = obs.get("rows").asInstanceOf[Long]
    val outRows = spark.read.parquet(tmp.getPath).count()
    require(outRows == rows,
      s"rewritten output has $outRows rows, the write saw $rows — aborting swap")
    replace(dir, tmp, new File(dir.getParentFile, dir.getName + tag + ".old"))
    rows
  }

  /** Every parquet file under `f`, recursively. */
  private[graft] def parquetFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(parquetFiles)
    else if (f.getName.endsWith(".parquet")) Seq(f)
    else Nil
}
