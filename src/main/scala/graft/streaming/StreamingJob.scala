package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.io.Scratch

/** Structured-Streaming surface of the engine (SURVEY.md §2.8–§2.9).
  *
  * The scoring stages ([[graft.etl.ScoringPipeline]]) are pure
  * `DataFrame => DataFrame` and run unchanged on a streaming input —
  * this module adds the streaming-specific pieces: source wiring,
  * trigger/output-mode/watermark configuration (T1–T5), the
  * `foreachBatch` multi-sink fan-out (O1–O5), and the stateful
  * late-event dedup the reference designed but abandoned for
  * performance in Python (T7, report p.8) — native JVM state via
  * `flatMapGroupsWithState` has none of that overhead.
  *
  * Scale: stream–static broadcast joins keep the stream shuffle-free;
  * the only stateful operator (late-drop) partitions by user id —
  * state is O(distinct users), uniformly hash-distributed.
  */
object StreamingJob {

  private val sinkCounter = new AtomicInteger(0)
  // serializes EVERY streaming start() in this module against
  // runToMemory's temporary conf overrides: a query snapshots the
  // session conf at start(), so a durable query starting inside the
  // override window would otherwise capture the memory-sink tuning
  private val confLock = new Object
  private def startLocked(f: => StreamingQuery): StreamingQuery =
    confLock.synchronized(f)

  /** Files an admission stream stages its arrivals as. */
  private val StagedFiles = 4

  /** Files admitted per trigger — the r9 admission-size default for
    * chunking-invariant loops (per-doc/per-merge work against frozen
    * or summed state): half the per-trigger fixed floor of one file
    * per trigger, for an identical, oracle-pinned drained result.
    * Loops whose drained rows depend on batch composition pass 1.
    */
  private val FilesPerTrigger = 2

  /** Stage `input` as `files` parquet files under `$dir/in` and open
    * them as a file stream admitting `perTrigger` files per trigger.
    */
  private def stage(input: DataFrame, dir: String, files: Int,
                    perTrigger: Int): DataFrame = {
    input.repartition(files).write.parquet(s"$dir/in")
    input.sparkSession.readStream.schema(input.schema)
      .option("maxFilesPerTrigger", perTrigger).parquet(s"$dir/in")
  }

  /** Run `stream` to its end through `perBatch` on every micro-batch
    * (checkpoint `$dir/ckpt`, `AvailableNow`) and await it. Returns
    * the terminated query for its progress.
    */
  private def drain(stream: DataFrame, dir: String)
                   (perBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    val q = startLocked(stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch(perBatch)
      .trigger(Trigger.AvailableNow())
      .start())
    q.awaitTermination()
    q
  }

  /** The admission-stream skeleton: [[stage]] `input` and [[drain]]
    * it through `perBatch`.
    */
  private def admit(input: DataFrame, dir: String, files: Int,
                    perTrigger: Int)
                   (perBatch: (DataFrame, Long) => Unit): StreamingQuery =
    drain(stage(input, dir, files, perTrigger), dir)(perBatch)

  /** [[admit]] whose per-batch product lands in `$dir/out` as an
    * idempotent `ingest=<batchId>` overwrite partition (the
    * [[graft.io.IdempotentBatchSink]] pattern: an at-least-once
    * redelivery replaces its own previous write). Returns the drained
    * union, `ingest` dropped.
    */
  private def admitToOut(input: DataFrame, dir: String, files: Int,
                         perTrigger: Int)
                        (perBatch: DataFrame => DataFrame): DataFrame = {
    admit(input, dir, files, perTrigger) { (batch, batchId) =>
      perBatch(batch).write.mode("overwrite")
        .parquet(s"$dir/out/ingest=$batchId")
    }
    input.sparkSession.read.parquet(s"$dir/out").drop("ingest")
  }

  /** Run a streaming DataFrame to completion into a uniquely-named
    * memory sink (T3 append / complete), returning the result as a
    * self-contained local DataFrame. The memory sink's rows already
    * live on the driver, so re-materializing them via `collect` adds
    * only a transient copy; the sink's temp view is then dropped
    * immediately — each call cleans up exactly its own table, so
    * concurrent calls and long-lived returned DataFrames are safe.
    */
  def runToMemory(stream: DataFrame, mode: String = "append",
                  shufflePartitions: Option[Int] = Some(8),
                  extraConfs: Map[String, String] = Map.empty): DataFrame = {
    val spark = stream.sparkSession
    val name = s"graft_mem_${sinkCounter.incrementAndGet()}"
    // left to Spark, the checkpoint would be a `temporary-<uuid>`
    // directory in java.io.tmpdir, kept behind whenever the query fails
    val checkpoint = Scratch.dir(name)
    // Stateful operators open one state store per shuffle partition,
    // each with its own delta-file commit per micro-batch — at local
    // harness scale that fixed cost dominates (a 32-partition
    // stream-stream join spends more time in store commits than in
    // rows). The stream clones the session conf at start(), so scoping
    // the override here is race-free; a cluster deployment passes None
    // and keeps the session's parallelism. `extraConfs` rides the same
    // scope (e.g. the RocksDB provider transformWithState requires).
    // finite AvailableNow runs into a memory sink never restart from
    // this checkpoint, so keep no history and skip state-store
    // snapshot compaction (delta replay is bounded by the run's few
    // batches) — measured ~12% off the stream-stream join's wall.
    // The durable parquet/checkpointed paths do NOT get these.
    val overrides = Map(
      "spark.sql.streaming.minBatchesToRetain" -> "1",
      "spark.sql.streaming.stateStore.minDeltasForSnapshot" -> "100") ++
      extraConfs ++
      shufflePartitions.map("spark.sql.shuffle.partitions" -> _.toString)
    // set→start→restore under a lock: two concurrent calls otherwise
    // interleave (B captures A's temporary value as its "previous" and
    // pins the session to it permanently)
    val q = confLock.synchronized {
      val prev = overrides.keys.map(k => k -> spark.conf.getOption(k)).toMap
      overrides.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        stream.writeStream
          .format("memory").queryName(name).outputMode(mode)
          .option("checkpointLocation", checkpoint)
          .trigger(Trigger.AvailableNow())
          .start()
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    q.awaitTermination()
    val sink = spark.table(name)
    val out = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    spark.catalog.dropTempView(name)
    out
  }

  /** Append-mode twin of [[runToMemory]] backed by the parquet file
    * sink: rows land executor-parallel instead of being collected
    * row-by-row onto the driver (the memory sink's addBatch was ~80%
    * of streaming wall time at 100k rows — the scoring itself is
    * ~0.3 s). Complete-mode queries (windowed aggs) must keep the
    * memory sink: the file sink is append-only.
    */
  def runToParquet(stream: DataFrame, workDir: String): DataFrame = {
    val spark = stream.sparkSession
    val dir = Scratch.beside(workDir)
    val out = s"$dir/out"
    val q = startLocked(stream.writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start())
    q.awaitTermination()
    // a zero-row stream commits no DATA files — but never an empty
    // DIR: FileStreamSink mkdirs `out/_spark_metadata` at query
    // start, so a listFiles() null-check is always false and
    // schema-less read would still die on 'unable to infer schema'.
    // Read with the stream's own schema instead: zero committed files
    // then correctly resolve to the empty result, mirroring
    // runToMemory.
    spark.read.schema(stream.schema).parquet(out)
  }

  /** T1/T3/T6-style console metrics stream (O6): second concurrent
    * query over the same lineage, 30 s processing-time trigger.
    */
  def startConsoleMetrics(scored: DataFrame,
                          intervalMs: Long = 30000L): StreamingQuery =
    startLocked(scored.writeStream.format("console")
      .option("truncate", "false").option("numRows", "5")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(intervalMs))
      .start())

  // ---------------------------------------------------------------------
  // O1–O5: foreachBatch fan-out.
  // ---------------------------------------------------------------------

  /** Hermetic stand-ins for the reference's Redis sinks (O4/O5): a
    * keyed snapshot (hash per id) and a recency index (score = epoch
    * millis). In local mode executors share the JVM so tests can
    * assert; a production deployment swaps in a connector-backed
    * implementation with the same per-partition client pattern.
    */
  object KeyedStore {
    val hashes: TrieMap[String, Map[String, String]] = TrieMap.empty
    val recency: TrieMap[String, Long] = TrieMap.empty
    def clear(): Unit = { hashes.clear(); recency.clear() }
    def topN(n: Int): Seq[String] =
      recency.toSeq.sortBy { case (id, ts) => (-ts, id) }.take(n).map(_._1)
  }

  /** O1 fan-out: per micro-batch, persist once and write all sinks —
    * facts (O2) and scores (O3) land in per-batch overwrite partitions
    * ([[graft.io.IdempotentBatchSink]] pattern) so an at-least-once
    * redelivery after a mid-fanout crash replaces rather than
    * duplicates; keyed snapshot (O4) and recency index (O5) are
    * id-keyed, hence naturally idempotent.
    * streaming_etl.py:179-263 re-expressed.
    */
  def startFanout(scored: DataFrame, factsDir: String, scoresDir: String,
                  checkpointDir: String, keyCol: String = "id_transacao",
                  tsCol: String = "data_horario"): StreamingQuery =
    startLocked(scored.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        df.persist()
        try {
          graft.io.IdempotentBatchSink(factsDir).write(df, batchId)
          graft.io.IdempotentBatchSink(scoresDir).write(
            df.select(col(keyCol), col("t5_score"), col("t6_score"),
              col("t7_score")), batchId)
          val key = keyCol
          val ts = tsCol
          val fields = df.columns
          df.foreachPartition { (rows: Iterator[Row]) =>
            // connection-per-partition pattern (the reference's comment
            // on client non-serializability applies identically here)
            rows.foreach { r =>
              val id = r.getAs[Any](key)
              if (id != null) {
                // null-valued fields are ABSENT from the hash (a map
                // entry "null" would be indistinguishable from the
                // string "null")
                KeyedStore.hashes.put(String.valueOf(id),
                  fields.flatMap(f => Option(r.getAs[Any](f))
                    .map(v => f -> String.valueOf(v))).toMap)
                val t = r.getAs[java.sql.Timestamp](ts)
                if (t != null)
                  KeyedStore.recency.put(String.valueOf(id), t.getTime)
              }
            }
          }
        } finally df.unpersist()
        ()
      }
      .start())

  /** Steady-state micro-batch throughput of the full scoring pipeline
    * (the reference's headline metric — report p.15-16 measures ~1000
    * tx/s peak): split the events table into `nFiles` parquet files,
    * stream them back one file per trigger (so the run has nFiles real
    * micro-batches, not one AvailableNow mega-batch), score each batch
    * through enrich+score into a count-only `foreachBatch` sink, and
    * compute rows/s over the batches AFTER the first — stream start,
    * plan compile, and codegen all land in batch 1, which a
    * steady-state number must exclude.
    *
    * Returns (rowsPerSec, steadyBatches).
    */
  def sustainedScoringRate(spark: SparkSession, sfDir: String,
                           workDir: String, nFiles: Int = 8): (Double, Int) = {
    // the steady-state window is read from q.recentProgress, which
    // retains only spark.sql.streaming.numRecentProgressUpdates
    // (default 100) entries — past that the warm-up batch this method
    // exists to exclude would silently age out and a steady batch
    // would be dropped in its place
    require(nFiles <= 64,
      s"nFiles=$nFiles exceeds the recentProgress retention window")
    import graft.etl.{ScoringPipeline, TestdataAdapter}
    val dir = Scratch.beside(workDir)
    // deliberately 1 file per trigger: this method MEASURES the
    // steady-state per-batch rate over many batches — batch size is
    // the experiment's controlled variable, not a floor to optimize
    val stream = stage(graft.Tables.events(spark, sfDir), dir, nFiles, 1)
    // scored in the STREAMING plan, as a deployment runs it — scoring
    // each batch inside foreachBatch instead would time a different
    // (batch) plan
    val scored = ScoringPipeline.score(
      ScoringPipeline.enrich(TestdataAdapter.transactionsFromEvents(stream),
        TestdataAdapter.users(spark, sfDir),
        TestdataAdapter.regions(spark, sfDir)),
      TestdataAdapter.eventLimitArms)
    val q = drain(scored, dir) { (df, _) => df.count(); () }
    val steady = q.recentProgress.filter(_.numInputRows > 0).drop(1)
    val rows = steady.map(_.numInputRows).sum
    val secs = steady
      .map(_.durationMs.get("triggerExecution").toDouble).sum / 1000.0
    (if (secs > 0) rows / secs else 0.0, steady.length)
  }

  // ---------------------------------------------------------------------
  // Incremental materialized-view maintenance
  // ---------------------------------------------------------------------

  /** Merge one micro-batch of raw events into a partitioned aggregate
    * "materialized view" at `mvPath` (per event_type: row count +
    * exact-DECIMAL value sum). The incremental pattern, not a
    * recompute:
    *
    *   1. the batch collapses to a PARTIAL aggregate first (map-side
    *      combine; shuffle is O(groups), never O(rows));
    *   2. only the view partitions for group keys PRESENT in the batch
    *      are read back (left-semi prune → partition pruning on the
    *      view scan) and re-summed with the partials;
    *   3. the write is a DYNAMIC partition overwrite — untouched
    *      partitions are not rewritten (spec-asserted), so per-batch
    *      write cost tracks batch novelty, not view size.
    *
    * DECIMAL sums make the merge result independent of merge order —
    * N incremental merges bit-equal one batch recompute, which is what
    * the driver oracle checks. `localCheckpoint` materializes the
    * merged rows before the overwrite touches the files they came
    * from. At cluster scale the same shape lands on a transactional
    * table format's MERGE; the partition-overwrite variant here needs
    * no table service.
    */
  def mergeIntoMv(batch: DataFrame, mvPath: String): Unit = {
    val s = batch.sparkSession
    val partial = batch.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)")
          .as("sum_value"))
    val existing =
      if (new java.io.File(mvPath).exists())
        s.read.parquet(mvPath)
          .join(partial.select("event_type"), Seq("event_type"), "left_semi")
          // partition column comes back last from the reader; realign
          .select("event_type", "n", "sum_value")
      else partial.limit(0)
    val merged = existing.unionByName(partial)
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"),
        sum(col("sum_value")).cast("decimal(18,2)").as("sum_value"))
      .localCheckpoint(true)
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_type")
      .parquet(mvPath)
    merged.unpersist()
    ()
  }

  /** Drive [[mergeIntoMv]] from a file stream over the events table
    * (6 staged files, 2 per trigger: still a multi-merge exercise — 3
    * merges — at half the per-trigger floor; the merged MV is a sum,
    * invariant to chunking, oracle-pinned), then read the maintained
    * view back. The driver-contract query on top checks the N-merge
    * result against the one-pass batch oracle.
    */
  def incrementalMv(spark: SparkSession, sfDir: String,
                    workDir: String): DataFrame = {
    val dir = Scratch.beside(workDir)
    // only the columns the MV consumes: staging the wide events row
    // (the props JSON string dominates its bytes) tripled the cost of
    // an exercise that is about merge mechanics, not scan width
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"))
    admit(ev, dir, 6, FilesPerTrigger) { (batch, _) =>
      mergeIntoMv(batch, s"$dir/mv")
    }
    spark.read.parquet(s"$dir/mv").select("event_type", "n", "sum_value")
  }

  /** Streaming maintenance of the persisted near-dup band index
    * ([[graft.dedup.Dedup.bandIndexBuild]]'s streaming twin): corpus
    * documents arrive as a file stream (`nFiles` micro-batches) and
    * each batch lands in the index via the IDEMPOTENT per-batch
    * ingest ([[graft.dedup.Dedup.bandIndexIngestBatch]] — overwrite
    * into `ingest=<batchId>`, so at-least-once redelivery replaces
    * rather than duplicates). After the run the stored index answers
    * probes identically to a batch-built one: the signature kernel is
    * deterministic and MinHash has no trained state, so N streamed
    * micro-batches ≡ one build pass (StreamingSpec pins both).
    * Returns the probe result of `probeDocs` against the maintained
    * index.
    */
  def streamBandIndexIngest(corpus: DataFrame, probeDocs: DataFrame,
                            id: String, text: String, n: Int,
                            threshold: Double, workDir: String,
                            nFiles: Int = 4): DataFrame = {
    val dir = Scratch.beside(workDir)
    // deliberately 1 file per trigger, not FilesPerTrigger: this loop's
    // output is (in_doc, corpus_doc) probe hits, whose ORIENTATION
    // depends on batch composition (a same-batch pair emits both
    // directions, a cross-batch pair only later→earlier) — re-chunking
    // would change the drained rows the oracle pins
    admit(corpus, dir, nFiles, 1) { (batch, batchId) =>
      graft.dedup.Dedup.bandIndexIngestBatch(batch, id, text, n,
        s"$dir/ix", batchId)
    }
    graft.dedup.Dedup.bandIndexProbe(probeDocs, id, text, n,
      s"$dir/ix", threshold)
  }

  /** Streaming drift monitor — the incremental twin of the batch
    * `dq_drift_psi` gate: the CURRENT slice arrives as micro-batches,
    * each batch's (group, bin) histogram is merged into a
    * group-partitioned count MV ([[mergeIntoMv]]-shaped: partial agg,
    * left-semi prune of touched groups, dynamic partition overwrite —
    * long counts make the N-batch merge bit-equal the one-pass
    * histogram), and at any point — here after the stream drains —
    * PSI against the static reference histogram is a groups×bins-sized
    * computation over the MV, never a rescan of the stream's history.
    * Per-trigger cost: O(batch) + a groups-sized merge.
    */
  def streamDriftMonitor(spark: SparkSession, sfDir: String,
                         workDir: String): DataFrame = {
    import graft.functions.Drift
    val (lo, hi, nBins) = (0.0, 500.0, 10)
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val dir = Scratch.beside(workDir)
    val mv = s"$dir/counts"
    admit(ev.filter(col("event_id") % 2 === 1), dir, StagedFiles,
        FilesPerTrigger) { (batch, _) =>
      val partial = Drift.binCounts(batch, "event_type", "value",
        lo, hi, nBins)
      val existing =
        if (new java.io.File(mv).exists())
          batch.sparkSession.read.parquet(mv)
            .join(partial.select(col("g")).distinct(), Seq("g"),
              "left_semi")
            .select(col("g"), col("bin"), col("n"))
        else partial.limit(0)
      val merged = existing.unionByName(partial)
        .groupBy(col("g"), col("bin")).agg(sum(col("n")).as("n"))
        .localCheckpoint(true)
      merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("g").parquet(mv)
      merged.unpersist()
      ()
    }
    Drift.psiOfCounts(
      Drift.binCounts(ev.filter(col("event_id") % 2 === 0),
        "event_type", "value", lo, hi, nBins),
      spark.read.parquet(mv).select(col("g"), col("bin"), col("n")),
      "event_type")
  }

  /** The full streaming dedup production loop in one query: each
    * document micro-batch (1) lands in the persisted band index
    * (idempotent `ingest=` partition), (2) probes the index — which now
    * includes itself — for its near-dup edges (batch–corpus AND
    * batch-internal pairs: for any pair, the later-arriving doc's probe
    * finds the earlier one already stored), and (3) merges those edges
    * into the bucket-partitioned labels table via
    * [[graft.dedup.Dedup.labelsMerge]], rewriting only affected
    * buckets. After the stream drains, the labels table IS the
    * connected-components labeling of the whole corpus — the oracle is
    * the scratch recursive-CTE recompute, bit-for-bit. Everything is
    * at-least-once-safe: re-ingest overwrites its own partition,
    * re-probe re-emits the same edges, and label merging is a
    * fixpoint under duplicate edges.
    *
    * Label merging runs as a serialized background fold off the
    * trigger's critical path ([[maintain]] over the `labels_queue`
    * [[FoldQueue]]): ingest and edge discovery are the
    * latency-critical admission work, while the label table is an
    * eventually-consistent derived view. Coalescing folds are exact —
    * the final labeling is a pure function of the union edge set, and
    * component merging is order-independent — so recovery
    * ([[recoverPendingLabelMerges]]) needs no coordination with live
    * batches beyond the scheduler's single-writer serialization. In
    * THIS harness the work dir starts empty, so recovery is a
    * deployment-mode entry point, exercised by the crash-injection
    * specs, not called here.
    *
    * `filesPerTrigger` stays a parameter: drained labels are identical
    * under any chunking (the labeling is a pure function of the union
    * edge set), and the chunking-invariance spec pins that by draining
    * at 1 and at the default 2. At 2 files per trigger only ~2
    * triggers arrive, so a fold starts as soon as the fold thread is
    * idle (minPending 1) rather than waiting for a pair that may only
    * show up at drain time; at 1 file per trigger folds wait for a
    * pair.
    */
  def streamLabelMaintenance(docs: DataFrame, id: String, text: String,
                             n: Int, threshold: Double, workDir: String,
                             nBuckets: Int = 16,
                             filesPerTrigger: Int = FilesPerTrigger): DataFrame = {
    val s = docs.sparkSession
    val dir = Scratch.beside(workDir)
    maintain(docs, dir, filesPerTrigger, labelQueue(s, dir, nBuckets),
        minPending = if (filesPerTrigger >= 2) 1 else 2) { (batch, batchId) =>
      edgesOf(batch, id, text, n, threshold, s"$dir/ix", batchId,
        "label-maintenance edge")
    }
    // a corpus with NO near-dup pairs drains without labelsMerge ever
    // creating the table (empty edge sets return before the write) —
    // "no labels" is the answer there, not a missing-path error (the
    // keeper drain's explicit-schema discipline)
    graft.dedup.Dedup.readLabelsOrEmpty(s, s"$dir/labels")
      .select(col("doc"), col("component"))
  }

  /** Cast an id to BIGINT for a maintenance-queue write, failing the
    * trigger LOUDLY when the value does not cast (including null
    * input — the loops' contract is integral ids): a silently nulled
    * id becomes a row the fold's isNotNull filters drop, i.e. a LOST
    * document diagnosed far from its cause. The raise_error branch
    * only evaluates on the failure path (coalesce short-circuits).
    */
  private def longIdOrFail(c: Column, ctx: String): Column =
    coalesce(c.cast("long"),
      raise_error(concat(lit(s"$ctx: id does not cast to BIGINT: "),
        coalesce(c.cast("string"), lit("NULL")))).cast("long"))

  /** A micro-batch's near-dup edges as distinct (a < b) BIGINT pairs:
    * one fused ingest+probe signature pass
    * ([[graft.dedup.Dedup.bandIndexIngestProbeBatch]]) serves both
    * index writes and edge discovery. The ids are cast at the WRITE:
    * the fold reads its queue with a hard BIGINT schema, and an int32
    * id column would otherwise commit INT32 parquet the vectorized
    * reader refuses to widen.
    */
  private def edgesOf(batch: DataFrame, id: String, text: String, n: Int,
                      threshold: Double, ix: String, batchId: Long,
                      ctx: String): DataFrame =
    graft.dedup.Dedup.bandIndexIngestProbeBatch(batch, id, text, n, ix,
        batchId, threshold)
      .filter(col("in_doc") =!= col("corpus_doc"))
      .select(longIdOrFail(least(col("in_doc"), col("corpus_doc")), ctx)
          .as("a"),
        longIdOrFail(greatest(col("in_doc"), col("corpus_doc")), ctx)
          .as("b"))
      .distinct()

  /** A maintenance loop's durable fold queue: each trigger commits its
    * rows to `<root>/<prefix><batchId>` (idempotent overwrite) BEFORE
    * its batch commits, so a crash between commit and fold loses
    * nothing. [[fold]] takes EVERY committed-but-unmerged batch at
    * once, reads them as ONE multi-path scan with the explicit
    * `schema`, hands that to `merge`, and only then marks them
    * `_MERGED`. Eligible = the committer's `_SUCCESS` exists and
    * `_MERGED` does not: a torn, never-committed batch is skipped — its
    * trigger never committed either, so the stream redelivers over
    * it — and folding (or failing on) its files would be wrong twice
    * over. A fold finding nothing pending is a no-op; `merge` must be
    * a fixpoint under refolding (a crash between the merge landing and
    * the marker refolds the same batch). Serialized by the caller's
    * [[FoldScheduler]]; the fold's jobs carry the description `desc`.
    */
  private final class FoldQueue(s: SparkSession, root: String,
                                prefix: String, schema: String,
                                desc: String)(merge: DataFrame => Unit) {
    def part(batchId: Long): String = s"$root/$prefix$batchId"

    /** Committed (`_SUCCESS`), unmerged batch dirs, in batch order. */
    def pending: Seq[java.io.File] = {
      val q = new java.io.File(root)
      if (!q.isDirectory) Seq.empty
      else q.listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith(prefix))
        .filter(f => new java.io.File(f, "_SUCCESS").exists() &&
          !new java.io.File(f, "_MERGED").exists())
        .sortBy(_.getName.stripPrefix(prefix).toLong)
    }

    /** Fold every pending batch; returns how many it folded. */
    def fold(): Int = withJobDescription(s, desc) {
      val ps = pending
      if (ps.nonEmpty) {
        merge(s.read.schema(schema).parquet(ps.map(_.getPath): _*))
        ps.foreach(p => new java.io.File(p, "_MERGED").createNewFile())
      }
      ps.size
    }
  }

  /** The label loop's queue: edge sets at `labels_queue/batch=<id>`,
    * folded by ONE [[graft.dedup.Dedup.labelsMerge]] over their union.
    * pairsPinned: the queue partitions ARE durable materialized edge
    * state — consumers re-scan a tiny parquet leaf.
    */
  private def labelQueue(s: SparkSession, dir: String,
                         nBuckets: Int): FoldQueue =
    new FoldQueue(s, s"$dir/labels_queue", "batch=", "a BIGINT, b BIGINT",
        "label-fold")(edges =>
      graft.dedup.Dedup.labelsMerge(s"$dir/labels", edges, "a", "b",
        nBuckets, pairsPinned = true))

  /** The keeper loop's queue: at `queue/b<id>`, each batch's edges AND
    * its delta's (doc, q) rows as ONE union-schema parquet commit (edge
    * rows carry null doc/q, delta rows null a/b — split back by null
    * pattern), folded by ONE [[graft.dedup.Dedup.curationMerge]].
    */
  private def keeperQueue(s: SparkSession, dir: String,
                          nBuckets: Int): FoldQueue =
    new FoldQueue(s, s"$dir/queue", "b",
        "a BIGINT, b BIGINT, doc BIGINT, q DOUBLE", "keeper-fold")(rows =>
      graft.dedup.Dedup.curationMerge(s"$dir/cur",
        rows.filter(col("a").isNotNull).select(col("a"), col("b")),
        rows.filter(col("doc").isNotNull).select(col("doc"), col("q")),
        "doc", "q", "a", "b", nBuckets, pairsPinned = true))

  /** Drive a maintenance loop: [[admit]] `docs`, and on every trigger
    * fail fast on an earlier fold error, commit `queueRows` to the
    * batch's `queue` part, and offer the background fold. Folds run
    * one at a time, COALESCED ([[FoldScheduler]]); the drain runs one
    * last fold for any coalesced-away batch, awaits it, and a fold
    * failure fails the call. At-least-once replay: a redelivered batch
    * overwrites its own queue part, and every fold is a fixpoint under
    * duplicates.
    */
  private def maintain(docs: DataFrame, dir: String, perTrigger: Int,
                       queue: FoldQueue, minPending: Int)
                      (queueRows: (DataFrame, Long) => DataFrame): Unit = {
    val folder = new FoldScheduler(() => { queue.fold(); () },
      () => queue.pending.size, minPending)
    try admit(docs, dir, StagedFiles, perTrigger) { (batch, batchId) =>
      folder.failIfBroken()
      queueRows(batch, batchId).write.mode("overwrite")
        .parquet(queue.part(batchId))
      folder.submit()
    } catch { case t: Throwable => folder.abort(); throw t }
    folder.drain()
  }

  /** Scope a thread-local job description: label this block's jobs in
    * the UI / job profiles, then RESTORE — the description is caller-
    * thread state, and the recovery entry points run on whatever
    * thread called them (leaving it set would mislabel every later
    * job on that thread).
    */
  private def withJobDescription[T](s: SparkSession, desc: String)
                                   (body: => T): T = {
    val before = s.sparkContext.getLocalProperty("spark.job.description")
    s.sparkContext.setJobDescription(desc)
    try body finally s.sparkContext.setJobDescription(before)
  }

  /** Serialized background-fold scheduler shared by the maintenance
    * loops: a fold starts only when NO fold is running (a trigger
    * arriving mid-fold skips its submit) AND at least `minPending`
    * committed batches await — the log-compaction trigger policy:
    * per-fold cost is dominated by fixed jobs (CC resolution, the
    * bucket-pruned table rewrites), so folding every singleton batch
    * pays that fixed cost per batch where folding pairs pays it half
    * as often for byte-identical results. Safe, because a fold lists
    * the durable queue AT RUN TIME (so the next fold, or the drain's
    * unconditional final fold, covers every skipped batch), and
    * exact, because the folds coalesce (see [[FoldQueue]]).
    * The fold rate thereby adapts to fold cost and batch size —
    * triggers outpacing the fold grow the per-fold batch count, not
    * a task backlog — the backpressure a production compaction loop
    * needs.
    */
  private[graft] final class FoldScheduler(fold: () => Unit,
                                    pending: () => Int,
                                    minPending: Int = 2) {
    private val exec =
      java.util.concurrent.Executors.newSingleThreadExecutor()
    private val err =
      new java.util.concurrent.atomic.AtomicReference[Throwable]()
    private val busy =
      new java.util.concurrent.atomic.AtomicBoolean(false)
    private val task = new Runnable {
      def run(): Unit = {
        try fold()
        catch { case t: Throwable => err.compareAndSet(null, t) }
        finally busy.set(false)
      }
    }
    /** Rethrow a stored fold failure as a FRESH wrapper per call site:
      * the cached Throwable's stack points at the background fold
      * thread, and the same instance can surface from several callers
      * (trigger, drain) — wrapping preserves both the fold stack (as
      * the cause) and where the failure was observed.
      */
    def failIfBroken(): Unit = {
      val t = err.get()
      if (t != null)
        throw new IllegalStateException(
          s"background fold failed: $t", t)
    }
    def submit(): Unit =
      if (pending() >= minPending && busy.compareAndSet(false, true)) {
        exec.submit(task); ()
      }
    /** Stream failed: stop folding, drop whatever is queued. */
    def abort(): Unit = { exec.shutdownNow(); () }
    /** One unconditional final fold (covers any batch whose submit was
      * coalesced away near the drain), then await and fail LOUDLY on
      * a fold error or overrun — reading the derived table while a
      * fold is still rewriting buckets would return a silently
      * partial result, an oracle mismatch diagnosed far from its
      * cause.
      */
    def drain(): Unit = {
      exec.submit(new Runnable {
        def run(): Unit =
          try fold()
          catch { case t: Throwable => err.compareAndSet(null, t) }
      })
      exec.shutdown()
      val done = exec.awaitTermination(
        10, java.util.concurrent.TimeUnit.MINUTES)
      failIfBroken()
      require(done, "background fold did not complete within the drain cap")
    }
  }

  /** Streaming CANONICAL-KEEPER maintenance — the layer above
    * [[streamLabelMaintenance]]: each micro-batch's fused ingest+probe
    * discovers the delta's near-dup edges, and one
    * [[graft.dedup.Dedup.curationMerge]] folds labels, per-doc quality,
    * and the keeper table, each rewritten only in affected hash-bucket
    * partitions. After the drain the keeper table answers "which doc do
    * we keep from every duplicate family seen so far, and how big is
    * the family" — the decision a streaming curation pipeline serves —
    * and equals the scratch batch recompute over the drained corpus
    * (the shared canonical oracle), because the labels beneath it
    * converge to the scratch labeling (the s18 contract) and each
    * affected keeper row is recomputed from its member rows.
    *
    * The fold runs as a SERIALIZED BACKGROUND task off the trigger's
    * critical path (the s18 schedule, [[maintain]]): the keeper table
    * is a derived view, admission latency tracks ingest+probe. Each
    * fold takes EVERY pending queue batch at once. Coalescing is
    * EXACT, not approximate — the final labeling is a pure function of
    * the union edge set, and the keeper fold recomputes affected
    * components from member rows with every coalesced delta's q in
    * hand — so folding batches {1,2,3} together lands byte-identical
    * state to folding them one by one. Each trigger commits its edges
    * and its delta's (doc, q) rows as ONE parquet commit, so the
    * committer's `_SUCCESS` is the completeness marker: a coalesced
    * fold can never list a half-committed batch.
    * [[recoverPendingKeeperMerges]] refolds unmarked batches
    * (idempotent fixpoint). Two files per trigger with minPending 1:
    * only ~2 batches arrive, so each folds as soon as the fold thread
    * is idle and the fold genuinely races the next trigger.
    *
    * Ids must be integral (the [[graft.dedup.Dedup
    * .connectedComponents]] contract this composes with): the queue
    * stores them as longs, and a non-long-castable id value fails its
    * trigger at ingest ([[longIdOrFail]]) — never a silently nulled
    * row the fold would drop.
    */
  def streamKeeperMaintenance(docs: DataFrame, id: String, text: String,
                              n: Int, threshold: Double, workDir: String,
                              nBuckets: Int = 16): DataFrame = {
    val s = docs.sparkSession
    val dir = Scratch.beside(workDir)
    maintain(docs, dir, FilesPerTrigger, keeperQueue(s, dir, nBuckets),
        minPending = 1) { (batch, batchId) =>
      val edges = edgesOf(batch, id, text, n, threshold, s"$dir/ix",
          batchId, "keeper-maintenance edge")
        .select(col("a"), col("b"), lit(null).cast("long").as("doc"),
          lit(null).cast("double").as("q"))
      val delta = batch.select(lit(null).cast("long").as("a"),
        lit(null).cast("long").as("b"),
        longIdOrFail(col(id), "keeper-maintenance delta").as("doc"),
        round(graft.text.Text.qualityScore(col(text)), 6).as("q"))
      edges.unionByName(delta)
    }
    // explicit schema: an all-empty stream leaves a keeper table with
    // zero part files, where "no keepers" is the answer, not an
    // inference error
    s.read.schema("component BIGINT, keeper BIGINT, keeper_q DOUBLE, " +
        "n_members BIGINT, bucket INT")
      .parquet(s"$dir/cur/keepers")
      .select(col("component"), col("keeper"), col("keeper_q"),
        col("n_members"))
  }

  /** Crash recovery for the keeper maintenance loop: fold every
    * committed, unmarked `queue/b<id>` batch (a crash between queue
    * commit and `_MERGED` leaves exactly these) into the curation
    * state at `<dir>/cur`. Idempotent — [[graft.dedup.Dedup
    * .curationMerge]] recomputes touched components from member rows,
    * so refolding an already-half-applied batch lands the same bytes.
    * Returns how many batches were recovered; safe on a fresh or
    * absent queue. Crash-injection spec: DedupAnnSpec.
    */
  def recoverPendingKeeperMerges(s: SparkSession, dir: String,
                                 nBuckets: Int): Int =
    keeperQueue(s, dir, nBuckets).fold()

  /** Crash recovery for the async label fold: fold every committed
    * edge-queue partition that has no `_MERGED` marker. Returns how
    * many were recovered. Safe on a fresh or absent queue.
    */
  def recoverPendingLabelMerges(s: SparkSession, dir: String,
                                nBuckets: Int): Int =
    labelQueue(s, dir, nBuckets).fold()

  /** Streaming ANN-join admission — the vector twin of
    * [[streamBandIndexIngest]]'s probe side, closing the same loop the
    * band index closed for MinHash: the IVF index is built ONCE in
    * batch ([[graft.similarity.Ann.ivfIndexBuild]] + a frozen-centroid
    * delta append), then query vectors arrive as micro-batches and
    * each batch is kNN-joined against the STORED index via
    * [[graft.similarity.Ann.ivfTopKFromIndex]]. Stream–static and
    * stateless: a micro-batch pays its own map-only cell assignment
    * plus a cell-partition-pruned read of its probed cells — zero
    * corpus-side compute, zero streaming state. Per-query top-k is
    * independent across queries, so the streamed union over batches
    * equals the one-shot batch probe — which is what the oracle replays.
    */
  def streamAnnIndexProbe(corpus: DataFrame, delta: DataFrame,
                          queries: DataFrame, id: String, vec: String,
                          k: Int, nProbe: Int, nCells: Int,
                          workDir: String): DataFrame = {
    val s = corpus.sparkSession
    val dir = Scratch.beside(workDir)
    // the index is FROZEN for the whole probe stream — centroids come
    // straight from the build (appends never change them), and the
    // cell listing is resolved once (partition discovery is a driver
    // job at real cell counts), not once per trigger
    val cents = graft.similarity.Ann
      .ivfIndexBuild(corpus, id, vec, nCells, s"$dir/ix")
    graft.similarity.Ann.ivfIndexAppend(delta, id, vec, s"$dir/ix")
    val assigned = graft.similarity.Ann.indexAssigned(s, s"$dir/ix")
    admitToOut(queries, dir, StagedFiles, FilesPerTrigger) { batch =>
      graft.similarity.Ann.ivfTopKFromIndex(batch, id, vec,
        s"$dir/ix", k, nProbe, cents = Some(cents),
        assigned = Some(assigned), pruneCells = true)
    }
  }

  // ---------------------------------------------------------------------
  // T7: stateful late-event drop (the reference's abandoned feature).
  // ---------------------------------------------------------------------

  case class TxKeyed(id_transacao: String, id_usuario_pagador: String,
                     data_horario: java.sql.Timestamp,
                     valor_transacao: Double, transacao_aprovada: Boolean)

  case class UserRunning(id_usuario: String, n_aprovadas: Long,
                         total_aprovado: Double)

  /** Running per-user approved-transaction totals via
    * `mapGroupsWithState` (update output mode): each micro-batch emits
    * the user's refreshed running state. The companion to
    * [[dropLatePerUser]]'s flatMap variant — together they cover both
    * arbitrary-state APIs. State is O(distinct users), hash-partitioned.
    */
  def runningUserTotals(ds: Dataset[TxKeyed]): Dataset[UserRunning] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.id_usuario_pagador)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (user: String, events: Iterator[TxKeyed],
         state: GroupState[(Long, Double)]) => {
          var (n, total) = state.getOption.getOrElse((0L, 0.0))
          events.filter(_.transacao_aprovada).foreach { e =>
            n += 1; total += e.valor_transacao
          }
          state.update((n, total))
          UserRunning(user, n, total)
        })
  }

  /** Offline STATE INSPECTION through Spark's built-in state-store
    * reader (`spark.read.format("statestore")`): run the
    * [[runningUserTotals]] stateful stream with a DURABLE checkpoint,
    * then — with the query stopped — read the final keyed state
    * straight out of the checkpoint, no stream replay. This is the
    * ops surface a stateful deployment needs (audit what a checkpoint
    * actually holds, debug a poisoned key, size state before a
    * migration), and it is the strongest evidence the STATE itself is
    * right: the oracle compares the store's contents — not the query
    * OUTPUT — against the batch GROUP BY over the same input. The
    * noop sink keeps the run output-free (state is the product here);
    * one row per user comes back as (key struct, value struct) and is
    * re-projected to the [[UserRunning]] shape.
    */
  def streamStateInspection(keyed: Dataset[TxKeyed],
                            workDir: String): DataFrame = {
    val s = keyed.sparkSession
    val dir = Scratch.beside(workDir)
    val q = startLocked(runningUserTotals(keyed).toDF().writeStream
      .format("noop")
      .outputMode("update")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start())
    q.awaitTermination()
    // (map|flatMap)GroupsWithState state layout: key = struct(value:
    // the group key), value = struct(groupState: the user state
    // struct, timeoutTimestamp) — the user's (n, total) tuple sits
    // under groupState
    s.read.format("statestore").load(s"$dir/ckpt")
      .select(col("key.value").as("id_usuario"),
        col("value.groupState._1").as("n_aprovadas"),
        round(col("value.groupState._2"), 2).as("total_aprovado"))
  }

  /** [[runningUserTotals]] re-expressed on the Spark 4 arbitrary-state
    * API (`transformWithState`): typed state variables with optional
    * TTL, timers, and RocksDB-backed stores — the successor to
    * `mapGroupsWithState` for new code. Requires
    * `spark.sql.streaming.stateStore.providerClass` =
    * RocksDBStateStoreProvider (transformWithState rejects the default
    * HDFS-backed provider).
    */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, TxKeyed, UserRunning] {
    @transient private var totals:
      org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Double)]("totals",
        org.apache.spark.sql.Encoders.product[(Long, Double)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(user: String, rows: Iterator[TxKeyed],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[UserRunning] = {
      var (n, total) = if (totals.exists()) totals.get() else (0L, 0.0)
      rows.filter(_.transacao_aprovada).foreach { e =>
        n += 1; total += e.valor_transacao
      }
      totals.update((n, total))
      Iterator.single(UserRunning(user, n, total))
    }
  }

  /** Update-mode running totals via [[RunningTotalsProcessor]]. */
  def runningUserTotalsTws(ds: Dataset[TxKeyed]): Dataset[UserRunning] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.id_usuario_pagador)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  case class ShardedToken(shard: Int, item: String)
  case class SketchEntry(shard: Int, item: String, weight: Long, seen: Long)

  /** Streaming Misra–Gries heavy-hitter sketch: each shard (a hash
    * range of the item space — every item lives in exactly ONE shard,
    * so shard sketches never overlap and their union is a valid
    * summary) maintains a capacity-bounded count map as
    * `transformWithState` MapState. Per batch the input is first
    * reduced to exact LOCAL counts (one hash map pass), then merged
    * into the sketch with the classic mergeable-summaries step:
    * combine, and if over capacity subtract the (capacity+1)-th
    * largest count from everything and drop the non-positives. Each
    * surviving weight is a lower bound within streamLen/(capacity+1)
    * of the true count, and any item with true frequency above that
    * error bound is GUARANTEED present — the same superset contract as
    * the batch [[graft.functions.MisraGries]] aggregate, which is what
    * makes the exact-verify pass downstream deterministic.
    *
    * Emits the shard's full sketch each batch, stamped with the
    * running `seen` total — monotone per shard, so "the final sketch"
    * is the rows where seen = max(seen) over the shard.
    */
  class HeavyHittersProcessor(capacity: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Int, ShardedToken, SketchEntry] {
    @transient private var counts:
      org.apache.spark.sql.streaming.MapState[String, Long] = _
    @transient private var seen:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(shard: Int, rows: Iterator[ShardedToken],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[SketchEntry] = {
      val merged = scala.collection.mutable.HashMap.empty[String, Long]
      counts.iterator().foreach { case (k, v) => merged(k) = v }
      var n = 0L
      rows.foreach { r =>
        n += 1; merged(r.item) = merged.getOrElse(r.item, 0L) + 1
      }
      if (merged.size > capacity) {
        // subtract the (capacity+1)-th largest weight from everything:
        // ≤ capacity survivors, every weight still a valid lower bound
        val arr = merged.values.toArray
        java.util.Arrays.sort(arr)
        val d = arr(arr.length - capacity - 1)
        merged.mapValuesInPlace((_, v) => v - d)
        merged.filterInPlace((_, v) => v > 0)
      }
      counts.clear()
      merged.foreach { case (k, v) => counts.updateValue(k, v) }
      val tot = (if (seen.exists()) seen.get() else 0L) + n
      seen.update(tot)
      merged.iterator.map { case (k, v) => SketchEntry(shard, k, v, tot) }
        .toSeq.iterator
    }
  }

  /** Update-mode sharded streaming sketch over a string item stream.
    * `shards` fixes the stateful parallelism unit (item-hash keyed —
    * uniform); per-shard state is ≤ capacity counters regardless of
    * stream length.
    */
  def streamingHeavyHitterSketch(items: Dataset[String], capacity: Int,
                                 shards: Int): Dataset[SketchEntry] = {
    import items.sparkSession.implicits._
    items.toDF("item")
      .select(pmod(xxhash64(col("item")), lit(shards)).cast("int").as("shard"),
        col("item"))
      .as[ShardedToken]
      .groupByKey(_.shard)
      .transformWithState(new HeavyHittersProcessor(capacity),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  case class WsIn(shard: Int, id: Long, es_key: Double)
  case class WsOut(shard: Int, id: Long, es_key: Double, seen: Long)
  case class WsHeap(items: Seq[(Long, Double)])

  /** Streaming weighted reservoir (deterministic A-ES): each shard
    * holds the k rows with the largest pre-computed
    * [[graft.functions.Sampling.esKey]] values as a bounded
    * `transformWithState` ValueState — O(k) per shard forever, any
    * stream length. Because every row lives in exactly one shard, the
    * global top-k is a subset of the union of shard top-ks, so the
    * batch-side merge (take the rows stamped with each shard's final
    * `seen`, re-rank, cut at k) reproduces EXACTLY the batch
    * [[graft.functions.Sampling.weightedSample]] — the key is a pure
    * function of (id, weight), so streaming vs batch is bit-equal and
    * the same DuckDB oracle checks both.
    */
  class WeightedSampleProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Int, WsIn, WsOut] {
    @transient private var heap:
      org.apache.spark.sql.streaming.ValueState[WsHeap] = _
    @transient private var seen:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      heap = getHandle.getValueState[WsHeap]("heap",
        org.apache.spark.sql.Encoders.product[WsHeap],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(shard: Int, rows: Iterator[WsIn],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[WsOut] = {
      val prev = if (heap.exists()) heap.get().items else Seq.empty
      var n = if (seen.exists()) seen.get() else 0L
      val batch = rows.map { r => n += 1; (r.id, r.es_key) }.toSeq
      val kept = (prev ++ batch)
        .sortBy { case (id, key) => (-key, id) }.take(k)
      heap.update(WsHeap(kept))
      seen.update(n)
      kept.iterator.map { case (id, key) => WsOut(shard, id, key, n) }
    }
  }

  /** Update-mode sharded streaming weighted sample; merge batch-side
    * by final `seen` per shard, then global re-rank + cut.
    */
  def streamingWeightedSample(in: Dataset[WsIn], k: Int): Dataset[WsOut] = {
    import in.sparkSession.implicits._
    in.groupByKey(_.shard)
      .transformWithState(new WeightedSampleProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** Drop events that arrive with an event time older than the user's
    * last APPROVED transaction (report p.8 business rule). State per
    * user = max approved event-time millis. Works identically on batch
    * and streaming Datasets (single "batch" per group in batch mode).
    */
  def dropLatePerUser(ds: Dataset[TxKeyed]): Dataset[TxKeyed] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.id_usuario_pagador)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, events: Iterator[TxKeyed], state: GroupState[Long]) => {
          var watermark = state.getOption.getOrElse(Long.MinValue)
          val kept = events.toSeq.sortBy(_.data_horario.getTime).filter { e =>
            val t = e.data_horario.getTime
            if (t >= watermark) {
              if (e.transacao_aprovada) watermark = math.max(watermark, t)
              true
            } else false
          }
          if (watermark != Long.MinValue) state.update(watermark)
          kept.iterator
        })
  }

  case class BudgetDoc(source: String, doc_id: Long, n_tokens: Long)

  /** Streaming retrieval probe — the posting-index twin of
    * [[streamAnnIndexProbe]]: the index is built (+ grown by an
    * append) in batch, then query DOCUMENTS arrive as micro-batches
    * and each batch runs the more-like-this retrieval against the
    * STORED postings. Stream–static and stateless: per-query top-k is
    * independent, so the drained union equals the one-shot batch
    * probe over the same query set.
    */
  def streamMltProbe(corpus: DataFrame, delta: DataFrame,
                     queries: DataFrame, id: String, text: String,
                     k: Int, workDir: String): DataFrame = {
    val s = corpus.sparkSession
    val dir = Scratch.beside(workDir)
    graft.text.Bm25.indexBuild(corpus, id, text, s"$dir/ix")
    graft.text.Bm25.indexAppend(delta, id, text, s"$dir/ix")
    // the index is FROZEN for the whole probe stream (built+appended
    // above, probes only from here on), so corpus stats are two
    // constants — read once, not once per trigger — and the postings
    // are pinned in cache for the stream's life (the hybrid probe's
    // static-leg discipline): each trigger's two postings consumers
    // hit memory instead of paying two parquet scans
    val stats = graft.text.Bm25.readStats(s, s"$dir/ix")
    val postings = s.read.parquet(s"$dir/ix/postings").cache()
    // finally: a failed stream must not leak the pinned postings into
    // a long-lived shared session's cache
    try {
      postings.count()
      admitToOut(queries, dir, StagedFiles, FilesPerTrigger) { batch =>
        // localized probe: the micro-batch query side is broadcast by
        // contract, so its term set / bucket list / fan-out side fold
        // to LocalRelations — see moreLikeThisFromIndex(localizeProbe)
        graft.text.Bm25.moreLikeThisFromIndex(s, batch, id, text,
          s"$dir/ix", k, stats = Some(stats), localizeProbe = true,
          postings = Some(postings))
      }
    } finally postings.unpersist()
  }

  /** Streaming NOVELTY probe over the stored gram index — the
    * memorization-risk census as an admission-family stream: the index
    * is built from the train corpus and FROZEN, held-out docs arrive
    * as micro-batches, and each batch's per-doc novelty census is one
    * bucket-pruned, zero-fan-out probe
    * ([[graft.dedup.Boilerplate.noveltyFromIndex]]) with an idempotent
    * per-batch write. Stateless stream–static; per-doc independence
    * makes the drained union equal the one-shot batch census, which is
    * exactly what the shared `dedup_novelty` oracle replays.
    */
  def streamNoveltyProbe(corpus: DataFrame, queries: DataFrame,
                         id: String, text: String, n: Int,
                         workDir: String): DataFrame = {
    val s = corpus.sparkSession
    val dir = Scratch.beside(workDir)
    graft.dedup.Boilerplate.gramIndexBuild(corpus, id, text, n, s"$dir/ix")
    admitToOut(queries, dir, StagedFiles, FilesPerTrigger) { batch =>
      graft.dedup.Boilerplate.noveltyFromIndex(s, batch, id, text, n,
        s"$dir/ix")
    }
  }

  /** Streaming EPOCH MATERIALIZATION — the sampling recipe's
    * upsampling leg as an admission-family stream: per-slice epoch
    * factors are calibrated ONCE on the static corpus and FROZEN (a
    * data recipe is fixed before the run — recomputing factors per
    * batch would make early arrivals' copy counts depend on later
    * traffic), then each arriving doc emits floor(e) copies plus one
    * more iff its deterministic unit hash lands under frac(e) — a
    * stateless map-only Generate per batch, the identical expression
    * the batch query runs. Per-doc independence makes the drained
    * union equal the one-shot materialization, which is exactly what
    * the shared `sample_source_epochs` oracle replays.
    */
  def streamEpochMaterialize(docs: DataFrame, id: String,
                             sliceCol: String, workDir: String): DataFrame = {
    val dir = Scratch.beside(workDir)
    val counts = docs.groupBy(col(sliceCol)).agg(count(lit(1)).as("n_l"))
    val eps = counts
      .crossJoin(broadcast(counts.agg(max(col("n_l")).as("n_max"))))
      .select(col(sliceCol).as("__slice"),
        sqrt(col("n_max").cast("double") / col("n_l")).as("e"))
      .cache()
    try {
      eps.count() // frozen for the stream's life
      val stream = stage(docs.select(col(id), col(sliceCol)), dir,
        StagedFiles, FilesPerTrigger)
      val u = graft.functions.Binning.unitHash(col(id))
      runToMemory(stream.join(broadcast(eps), col(sliceCol) === col("__slice"))
        .withColumn("n_copies",
          floor(col("e")).cast("long") +
            when(u < col("e") - floor(col("e")), 1L).otherwise(0L))
        .select(col(id), col(sliceCol),
          explode(sequence(lit(1L), col("n_copies"))).as("epoch_idx")))
    } finally eps.unpersist()
  }

  /** Streaming HYBRID retrieval probe — the fusion of
    * [[streamMltProbe]] (lexical leg, stored posting index) and the
    * vector leg in one admission stream: each arriving query doc
    * carries text AND embedding, each micro-batch probes both legs
    * and fuses them with [[graft.text.Retrieval.rrfFuse]] before the
    * idempotent per-batch write. Stream–static and stateless — both
    * legs are frozen (postings on disk, corpus embeddings a static
    * broadcast-side table) and per-query fusion is independent, so
    * the drained union equals the one-shot batch fusion over the
    * same query set, which is exactly what the shared
    * `tx_hybrid_rrf` oracle replays.
    *
    * Cost shape at toy scale: ~9 s at sf0.1 — the same structural
    * floor family as s18/s22 (4 micro-batches × a dozen fixed-size
    * jobs: bucket-pruned postings probe, broadcast cosine, fusion
    * join, partition write, plus the one-time index build). Per-batch
    * work is O(batch × pruned-postings + batch × corpus) compute with
    * zero streaming state, so the floor amortizes at real batch
    * sizes exactly as the single-leg probes do.
    *
    * `filesPerTrigger` stays a parameter: per trigger this probe pays
    * a fixed floor — the lex leg's term collect + pruned-postings
    * broadcast, the vector leg's query broadcast, one fused output
    * commit — so the default 2 halves the floor count for an identical
    * drained union, and the chunking-invariance spec pins that by
    * draining at 1 and at 2.
    *
    * `ivfLeg = Some((nCells, nProbe))` (r10) swaps the vector leg's
    * brute-force broadcast cosine — the one per-trigger cost above
    * that stays CORPUS-proportional — for a probe of a persisted IVF
    * index ([[graft.similarity.Ann.ivfIndexBuild]] once at stream
    * start, [[graft.similarity.Ann.ivfTopKFromIndex]] per batch):
    * each trigger then pays a map-only query-side cell assignment
    * plus a cell-partition-PRUNED read of its nProbe probed cells —
    * O(batch × nProbe × corpus/nCells), which stays constant as the
    * corpus grows when nCells grows with it (the standard IVF scale
    * contract; see the s24b row of SCALE.md §4.2). Brute force remains the
    * default: it is the exact baseline the recall of any ANN leg is
    * judged against.
    */
  def streamHybridProbe(docs: DataFrame, emb: DataFrame, id: String,
                        text: String, vec: String, split: Int, k: Int,
                        workDir: String,
                        filesPerTrigger: Int = FilesPerTrigger,
                        ivfLeg: Option[(Int, Int)] = None): DataFrame = {
    val s = docs.sparkSession
    val dir = Scratch.beside(workDir)
    graft.text.Bm25.indexBuild(docs.filter(col(id) >= split), id, text,
      s"$dir/ix")
    // both legs are FROZEN for the whole probe stream: stats read
    // once, and the corpus-side embeddings are a static stream–static
    // join side (the batch query side is what broadcasts per trigger)
    val stats = graft.text.Bm25.readStats(s, s"$dir/ix")
    // BOTH static legs are pinned for the stream's life — a designed
    // cache (same posture as the dashboard's scored table): every
    // micro-batch re-probes them, none should re-read parquet. One
    // materialization job covers each; per-trigger the lex leg's two
    // postings consumers and the vector leg's corpus side then run
    // from memory. Brute force pins the corpus embeddings; the IVF leg
    // pins nothing corpus-sized.
    val postings = s.read.parquet(s"$dir/ix/postings").cache()
    val corpusEmb = emb.filter(col("vec_id") >= split)
    val pinned =
      postings +: (if (ivfLeg.isEmpty) Seq(corpusEmb.cache()) else Nil)
    // finally: a failed stream must not leak the pinned static legs
    // into a long-lived shared session's cache
    try {
      pinned.foreach(_.count())
      val vecTopK: DataFrame => DataFrame = ivfLeg match {
        case None => q => graft.similarity.Ann
          .bruteForceTopK(q, corpusEmb, "vec_id", vec, k)
        case Some((nCells, nProbe)) =>
          // the IVF leg builds the persisted index once (centroids a
          // collected constant, cell listing resolved once) and per
          // trigger reads ONLY the probed cell partitions: no trigger
          // pays centroid re-collection or partition discovery (driver
          // jobs at real cell counts)
          val cents = graft.similarity.Ann.ivfIndexBuild(
            corpusEmb, "vec_id", vec, nCells, s"$dir/ivf")
          val assigned = graft.similarity.Ann.indexAssigned(s, s"$dir/ivf")
          q => graft.similarity.Ann.ivfTopKFromIndex(
            q, "vec_id", vec, s"$dir/ivf", k, nProbe, cents = Some(cents),
            assigned = Some(assigned), pruneCells = true)
      }
      val queries = docs.filter(col(id) < split)
        .join(emb.select(col("vec_id").as(id), col(vec)), id)
      admitToOut(queries, dir, StagedFiles, filesPerTrigger) { batch =>
        // ONE micro-batch source scan per trigger: both legs BROADCAST
        // the query batch (driver-memory-bounded by design — that is
        // the probe contract), so collect it once and derive each leg
        // from a LocalRelation. The lex leg then runs its localized
        // probe (term set / bucket list / fan-out side all fold to
        // LocalRelations — zero broadcast-build jobs) and the vector
        // leg's broadcast(q) build stops re-scanning the source. Two
        // driver actions per trigger (this collect + the fused
        // commit) plus the lex leg's tokenize and pruned-df jobs —
        // down from ~16 jobs/trigger (r9 job census, SCALE.md §4.1).
        val local = s.createDataFrame(
          java.util.Arrays.asList(batch.collect(): _*), batch.schema)
        val lex = graft.text.Bm25.moreLikeThisFromIndex(s, local, id,
            text, s"$dir/ix", k, stats = Some(stats),
            localizeProbe = true, postings = Some(postings))
          .select(col("qid"), col("doc_id").as("doc"), col("rank"))
        val v = vecTopK(local.select(col(id).as("vec_id"), col(vec)))
          .select(col("qid"), col("vid").as("doc"), col("rank"))
        graft.text.Retrieval.rrfFuse(lex, v, k)
      }
    } finally pinned.foreach(_.unpersist())
  }

  /** Streaming boilerplate-strip admission — the cleaning stage of
    * the admission family (s15 semantic, s20 budget, s23 quality):
    * the boiler set is mined ONCE from the static corpus
    * ([[graft.dedup.Dedup.commonNgrams]], pinned in cache for the
    * stream's life), and every arriving document is cleaned against
    * it per micro-batch via
    * [[graft.dedup.Boilerplate.stripWithBoiler]] — per-doc work only,
    * broadcast hit detection, zero streaming state, no corpus-wide
    * mine per trigger. Per-doc independence makes the drained union
    * equal the one-shot batch strip over the same split, which is
    * what the oracle replays.
    */
  def streamBoilerStrip(docs: DataFrame, id: String, text: String,
                        n: Int, minDf: Int, split: Int,
                        workDir: String): DataFrame = {
    val dir = Scratch.beside(workDir)
    val boiler = graft.dedup.Dedup.commonNgrams(
        docs.filter(col(id) >= split), id, text, n, minDf)
      .select(col("ngram")).cache()
    try {
      boiler.count()
      admitToOut(docs.filter(col(id) < split), dir, StagedFiles,
          FilesPerTrigger) { batch =>
        graft.dedup.Boilerplate.stripWithBoiler(batch, id, text, n, boiler)
      }
    } finally boiler.unpersist()
  }

  /** Streaming perplexity admission — the LM member of the admission
    * family (s15 semantic, s20 budget, s23 quality, s25 cleaning):
    * the bigram LM is trained ONCE on the static reference split and
    * FROZEN for the stream's life (counts + derived context totals
    * pinned in cache, vocab size a constant — the
    * [[graft.text.Bm25.readStats]] discipline), and every arriving
    * document is scored per micro-batch by
    * [[graft.text.LangModel.perplexity]]. Stream–static and
    * stateless: per-doc scores are independent, so the drained union
    * equals the one-shot batch scoring over the same split — the
    * shared oracle. The per-batch write is an idempotent
    * `ingest=batchId` overwrite partition (replay-safe).
    */
  def streamPerplexityGate(ref: DataFrame, arriving: DataFrame,
                           id: String, text: String, threshold: Double,
                           workDir: String): DataFrame = {
    val dir = Scratch.beside(workDir)
    val bigrams = graft.text.LangModel.bigramCounts(ref, text).cache()
    // the ONE shared definition of the context totals (streamPplBuckets
    // and the batch scorer use it too) — a hand-rolled twin here could
    // silently diverge if the helper ever changes
    val c1 = graft.text.LangModel.derivedContextTotals(bigrams).cache()
    try {
      c1.count()
      val v = graft.text.LangModel.vocabSize(ref, text)
      admitToOut(arriving, dir, StagedFiles, FilesPerTrigger) { batch =>
        graft.text.LangModel
          .perplexity(batch, id, text, bigrams, v, threshold,
            contextTotals = Some(c1))
          .filter(col("admit"))
      }
    } finally { bigrams.unpersist(); c1.unpersist() }
  }

  /** Streaming language-ID — classify at arrival rate: every
    * per-language LM is fitted once on the static labeled corpus and
    * FROZEN (counts + derived context totals pinned in cache, vocab
    * sizes constants — the [[streamPerplexityGate]] discipline ×k),
    * and each arriving doc is labeled per micro-batch by the
    * exact-long likelihood argmax. Stateless stream–static; per-doc
    * independence makes the drained labeled set equal the batch
    * [[graft.text.LangClassifier.classify]], which is what the
    * shared oracle replays.
    */
  def streamLangidClassify(staticDocs: DataFrame, arriving: DataFrame,
                           id: String, text: String, langCol: String,
                           langs: Seq[String],
                           workDir: String): DataFrame = {
    val dir = Scratch.beside(workDir)
    val models = graft.text.LangClassifier
      .fit(staticDocs, text, langCol, langs)
      .map(m => m.copy(bigrams = m.bigrams.cache(), c1 = m.c1.cache()))
    try {
      models.foreach(_.c1.count())
      admitToOut(arriving, dir, StagedFiles, FilesPerTrigger) { batch =>
        graft.text.LangClassifier.classify(batch, id, text, models)
          .join(batch.select(col(id).as("doc_id"),
            col(langCol).as("lang")), Seq("doc_id"))
          .select(col("doc_id"), col("lang"),
            col("pred").as("pred_lang"),
            when(col("pred").isNotNull, col("pred") === col("lang"))
              .as("correct"))
      }
    } finally models.foreach { m => m.bigrams.unpersist(); m.c1.unpersist() }
  }

  /** Streaming CCNet bucket labeling — calibrate once, label at
    * arrival rate: the reference LM is fitted and frozen (counts +
    * derived context totals + V pinned, the [[streamPerplexityGate]]
    * discipline), the two tertile cutoff bins are calibrated ONCE
    * from the static calibration corpus's char-weighted bin histogram
    * ([[graft.text.PplBuckets.cutoffs]] — ≤30k driver scalars), and
    * each arriving doc is then scored + labeled map-only per
    * micro-batch against the two broadcast ints. Stateless
    * stream–static; the drained labeled set equals the batch
    * [[graft.text.PplBuckets.assign]] over the same corpus, which is
    * what the shared oracle replays. (Re-deriving cutoffs per batch
    * would make labels depend on arrival order — frozen calibration
    * is the streaming-decidable form, like s26's frozen threshold.)
    */
  def streamPplBuckets(ref: DataFrame, calibration: DataFrame,
                       arriving: DataFrame, id: String, text: String,
                       threshold: Double, workDir: String): DataFrame = {
    val dir = Scratch.beside(workDir)
    val bigrams = graft.text.LangModel.bigramCounts(ref, text).cache()
    val c1 = graft.text.LangModel.derivedContextTotals(bigrams).cache()
    try {
      c1.count()
      val v = graft.text.LangModel.vocabSize(ref, text)
      def scoredWithChars(docs: DataFrame): DataFrame =
        graft.text.LangModel
          .perplexity(docs, id, text, bigrams, v, threshold,
            contextTotals = Some(c1))
          .join(docs.select(col(id).as("doc_id"),
            length(col(text)).cast("long").as("chars")), Seq("doc_id"))
      val (b1, b2) = graft.text.PplBuckets.cutoffs(
        graft.text.PplBuckets.binned(scoredWithChars(calibration)), "chars")
      admitToOut(arriving, dir, StagedFiles, FilesPerTrigger) { batch =>
        graft.text.PplBuckets.binned(scoredWithChars(batch))
          .withColumn("bucket",
            graft.text.PplBuckets.label(col("bin"), b1, b2))
          .select(col("doc_id"), col("nll"), col("bin"), col("chars"),
            col("bucket"))
      }
    } finally { bigrams.unpersist(); c1.unpersist() }
  }

  /** Streaming DSIR admission — the importance-weight gate run at
    * arrival rate: BOTH n-gram LMs (target domain + pool) are fitted
    * once on the static corpus and frozen (counts, derived context
    * totals and vocab sizes pinned — the same freeze discipline as
    * [[streamPerplexityGate]]), and each arriving doc is admitted iff
    * its length-normalized log importance ratio says it looks more
    * like the target than like the pool average (`logratio > 0`).
    * Stateless stream–static; the drained admitted set equals the
    * batch [[graft.text.Dsir.weights]] + gate, which is what the
    * shared oracle replays. (The batch top-k RESAMPLE has no
    * arrival-order twin by design — a global quota is not decidable
    * per element; the thresholded ratio is the streaming-decidable
    * form, exactly like s20's budget vs `mix_token_budget`'s ranked
    * form.)
    */
  def streamDsirAdmission(staticDocs: DataFrame, arriving: DataFrame,
                          id: String, text: String, targetLang: String,
                          threshold: Double, workDir: String): DataFrame = {
    val dir = Scratch.beside(workDir)
    val tc = graft.text.Dsir.featureCounts(
      staticDocs.filter(col("lang") === targetLang), id, text).cache()
    val sc = graft.text.Dsir.featureCounts(staticDocs, id, text).cache()
    try {
      val tTot = graft.text.Dsir.featureTotal(tc)
      val sTot = graft.text.Dsir.featureTotal(sc)
      admitToOut(arriving, dir, StagedFiles, FilesPerTrigger) { batch =>
        graft.text.Dsir.weights(batch, id, text, tc, tTot, sc, sTot)
          .filter(col("logratio") > threshold)
      }
    } finally { tc.unpersist(); sc.unpersist() }
  }

  case class ShardDoc(shard: Int, doc_id: Long, n_tokens: Int)
  case class ShardPlaced(doc_id: Long, shard: Int, n_tokens: Int,
                         start_off: Long, seq_first: Long, seq_last: Long,
                         crosses: Boolean)

  /** Streaming sequence-packing maintenance — the stateful twin of the
    * batch `pipeline_pack_sequences` query: documents arrive as
    * micro-batches and each shard's token stream keeps extending,
    * emitting the SAME per-doc placements the batch window cumsum
    * would produce over the full corpus. State per shard is ONE long
    * (the running token offset), so an append-only corpus keeps its
    * packing incrementally — no recompute of already-placed docs, no
    * state growth with the stream. Placements are batch-slicing-
    * invariant for doc_id-ordered arrival (the per-batch slice is
    * sorted to pin iterator order).
    */
  def streamShardPack(in: Dataset[ShardDoc], seqLen: Long): Dataset[ShardPlaced] = {
    import in.sparkSession.implicits._
    in.groupByKey(_.shard)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (shard: Int, docs: Iterator[ShardDoc], state: GroupState[Long]) => {
          var off = state.getOption.getOrElse(0L)
          val placed = docs.toSeq.sortBy(_.doc_id).map { d =>
            val start = off
            off += d.n_tokens
            val last =
              if (d.n_tokens > 0) (start + d.n_tokens - 1) / seqLen
              else start / seqLen
            ShardPlaced(d.doc_id, shard, d.n_tokens, start,
              start / seqLen, last, last > start / seqLen)
          }
          state.update(off)
          placed.iterator
        })
  }

  /** Streaming per-source token-budget admission — the arrival-order
    * twin of [[graft.text.Packing.mixTokenBudget]] (which ranks by
    * quality; a stream cannot, so admission is first-come in doc_id
    * order). State per source is ONE long (tokens seen so far), carried
    * across micro-batches; semantics are prefix-while — the cumulative
    * count advances on every doc, admitted or not, so the admitted set
    * equals `filter(cum <= budget)` over the arrival-order window
    * exactly, batch or stream, any batch slicing. Within a micro-batch
    * the group iterator order is not guaranteed; sorting the (small,
    * per-source per-batch) slice by doc_id pins it.
    */
  def streamTokenBudgetAdmission(in: Dataset[BudgetDoc],
                                 budget: Long): Dataset[BudgetDoc] = {
    import in.sparkSession.implicits._
    in.groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, docs: Iterator[BudgetDoc], state: GroupState[Long]) => {
          var used = state.getOption.getOrElse(0L)
          val kept = docs.toSeq.sortBy(_.doc_id).filter { d =>
            used += d.n_tokens
            used <= budget
          }
          state.update(used)
          kept.iterator
        })
  }
}
