package graft.io

import java.io.File

import org.apache.spark.sql.SparkSession

/** Small-file compaction for parquet table directories — the
  * maintenance pass every long-lived streaming sink needs: micro-batch
  * appends (the engine's O2/O3 shape) accrete one file per batch per
  * partition, and a 100 TB table fed by 500 ms triggers drowns its own
  * scans in file-listing and per-file open cost long before data size
  * is the problem.
  *
  * `compact` rewrites a directory to ⌈bytes / targetBytes⌉ files using
  * `coalesce` — a NARROW dependency: existing files are concatenated
  * into fewer partitions with no shuffle, no sort, and no
  * row-reordering, so the rewrite cost is one read + one write of the
  * data regardless of cluster size. (Splitting oversized files, the
  * rare other direction, needs `repartition`'s shuffle — out of scope
  * here.) The output is validated and swapped in by
  * [[PersistedTable.rewrite]]: complete on disk at every instant, a
  * crash mid-swap recoverable from the `.compact.old` / `.compact.tmp`
  * siblings (single-writer, scheduled-maintenance semantics; a
  * transactional table format's OPTIMIZE is the concurrent-reader
  * answer, same shape).
  */
object Compaction {

  final case class Report(filesBefore: Int, filesAfter: Int,
                          bytes: Long, rows: Long)

  /** @param targetBytes desired output file size (compressed-at-rest
    *                    estimate from the current files' sizes).
    */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024): Report = {
    require(targetBytes > 0, "targetBytes must be positive")
    val dir = new File(path)
    val before = PersistedTable.parquetFiles(dir)
    val bytes = before.map(_.length()).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val rows = PersistedTable.rewrite(spark, dir, ".compact")(_.coalesce(nOut))
    Report(before.size, PersistedTable.parquetFiles(dir).size, bytes, rows)
  }
}
