package graft.io

import java.io.File

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sharded corpus export — the terminal step of a training-data
  * pipeline: materialize the curated dataset as N stable shards that
  * downstream loaders can open independently (one reader process per
  * shard, no coordination, reproducible order).
  *
  * Design points, sized for the 100 TB posture:
  *   - **Routing is a pure function of the row id** (the engine's
  *     overflow-free Knuth hash mod N,
  *     [[graft.functions.Sampling.knuthHash]]), not of partition
  *     layout or row order — re-running the export on a grown corpus
  *     keeps every old row in the same shard, so incremental
  *     re-exports and cross-run diffs line up; and the hash is
  *     replayable in plain SQL, so shard manifests are
  *     oracle-checkable end to end (`sample_export_shards`).
  *   - **One shuffle total**: the `repartition(nShards, shard)` that
  *     co-locates each shard's rows. The write itself is
  *     `partitionBy(shard)` into `shard=K/` directories; hash
  *     collisions may place two shard values in one task, which costs
  *     an extra output file, never a misrouted row.
  *   - **File sizes are bounded** via `maxRecordsPerFile`, the knob
  *     that keeps a skewed shard from emitting one multi-GB file (the
  *     loader-side parallelism unit is the file).
  *   - Optional `sortWithin` orders rows inside each shard file (e.g.
  *     by curriculum score or [[graft.functions.Layout.zValue]] for
  *     min/max pruning) — `sortWithinPartitions` is shuffle-free.
  *
  * The reference has no export stage (its sink is a JDBC append,
  * `containers/spark-etl/streaming_etl.py:198-219`); this is part of
  * the training-data extension surface.
  */
object Export {

  final case class Report(shards: Int, rows: Long, files: Int)

  /** Deterministic, growth-stable shard id for a row id column. */
  def shardOf(id: Column, nShards: Int): Column =
    pmod(graft.functions.Sampling.knuthHash(id), lit(nShards.toLong))
      .cast("int")

  /** Write `df` under `path` as `shard=K/` parquet directories,
    * `K` = [[shardOf]] of `idCol`. Returns row/file counts (row count
    * rides the write as an observed metric — no readback scan).
    */
  def shardedWrite(df: DataFrame, idCol: String, nShards: Int,
                   path: String, sortWithin: Seq[Column] = Nil,
                   maxRecordsPerFile: Long = 0L): Report = {
    require(nShards > 0, "nShards must be positive")
    require(!df.columns.contains("shard"),
      "shardedWrite emits a 'shard' column; rename the existing one")
    val routed = df.withColumn("shard", shardOf(col(idCol), nShards))
      .repartition(nShards, col("shard"))
    // sort keys always lead with the shard id: a task that received
    // two colliding shard values then writes each as one sorted run
    // (and the dynamic-partition writer keeps a single open file)
    val placed =
      if (sortWithin.nonEmpty)
        routed.sortWithinPartitions(col("shard") +: sortWithin: _*)
      else routed
    val obs = new org.apache.spark.sql.Observation()
    placed.observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("shard")
      .parquet(path)
    val files = PersistedTable.parquetFiles(new File(path)).size
    Report(nShards, obs.get("rows").asInstanceOf[Long], files)
  }
}
