package graft.io

import java.io.File

import org.apache.spark.sql.SparkSession

/** Retention deletion for parquet table directories — the reference's
  * F6 (its Postgres sink prunes old rows with a scheduled DELETE;
  * dashboard queries only ever read a trailing window). At 100 TB the
  * shape of the delete decides its cost:
  *
  *  - [[expirePartitions]] is the right form: a date/hour-partitioned
  *    layout (`partitionBy(dt)`, the natural sink layout for an
  *    append-only event table) makes retention a DIRECTORY operation —
  *    expired partitions are removed whole, current partitions are
  *    not opened, not read, not rewritten. Cost is file-listing of
  *    the table root, independent of data size. Like the reference's
  *    scheduled DELETE it is a single-writer maintenance pass; each
  *    partition disappears atomically (directory rename-to-trash,
  *    then delete), so a concurrent reader sees each partition either
  *    whole or absent — never truncated.
  *
  *  - [[expireRows]] is the fallback when expiry does not align with
  *    the layout (no partition column, or a predicate on a
  *    non-partition column): one filtered read + write of the
  *    SURVIVING rows through [[PersistedTable.rewrite]], the
  *    validated swap [[Compaction.compact]] uses — crash-recoverable
  *    at every instant, cost proportional to retained data. If
  *    retention runs often, this is the signal to fix the layout, not
  *    the tool.
  */
object Retention {

  final case class Report(partitionsDropped: Int, filesDropped: Int,
                          bytesDropped: Long)

  /** Drop whole partition directories `<partCol>=<value>` whose value
    * is lexicographically below `cutoff` (ISO dates/hours compare
    * correctly as strings — the reason date partition values should be
    * zero-padded ISO, e.g. `dt=2026-08-13`).
    */
  def expirePartitions(spark: SparkSession, path: String, partCol: String,
                       cutoff: String): Report = {
    val root = new File(path)
    require(root.isDirectory, s"$path is not a directory")
    val prefix = s"$partCol="
    val doomed = root.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .filter(_.getName.stripPrefix(prefix) < cutoff)
    var files = 0
    var bytes = 0L
    doomed.foreach { d =>
      def walk(f: File): Unit =
        if (f.isDirectory) f.listFiles().foreach(walk)
        else { files += 1; bytes += f.length() }
      walk(d)
      // rename-then-delete: the partition vanishes atomically from
      // the live listing; a crash after the rename leaves only a
      // .retention.trash sibling to clean up, never a half-partition
      val trash = new File(root, d.getName + ".retention.trash")
      org.apache.commons.io.FileUtils.deleteQuietly(trash)
      require(d.renameTo(trash), s"rename ${d.getPath} -> trash failed")
      org.apache.commons.io.FileUtils.deleteDirectory(trash)
    }
    Report(doomed.size, files, bytes)
  }

  /** Rewrite `path` keeping only rows where `keep` holds, via
    * [[PersistedTable.rewrite]] (crash leftovers: `.retention.tmp` /
    * `.retention.old`). Returns (rowsKept, rowsDropped).
    */
  def expireRows(spark: SparkSession, path: String,
                 keep: org.apache.spark.sql.Column): (Long, Long) = {
    val dir = new File(path)
    require(dir.isDirectory, s"$path is not a directory")
    val total = spark.read.parquet(path).count()
    val kept = PersistedTable.rewrite(spark, dir, ".retention")(_.filter(keep))
    (kept, total - kept)
  }
}
