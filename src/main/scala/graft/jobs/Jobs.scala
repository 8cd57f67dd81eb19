package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.etl.ScoringPipeline

/** Top-level wiring (SURVEY.md §7.1 step 6): the production-shaped
  * streaming job and its batch twin, assembled from the pure pipeline
  * stages + the io/streaming layers. Everything here is hermetic by
  * default (file/memory endpoints); deploy swaps sources/sinks via
  * `graft.io` without touching the dataflow.
  */
object Jobs {

  /** Deploy-session builder carrying the reference's session-level
    * choices (SURVEY.md §4: streaming_etl.py:12-19) plus this
    * engine's extensions: Kryo serializer, modern Kafka offset
    * fetching, native functions + TopK strategy/rewrite. AQE is left
    * default-ON — the reference commented it out, but Spark disables
    * it inside stateful streaming automatically, so keeping it costs
    * streaming nothing and buys batch runtime re-planning.
    */
  def sessionBuilder(appName: String, master: String): SparkSession.Builder =
    SparkSession.builder().appName(appName).master(master)
      .config("spark.serializer",
        "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.streaming.kafka.useDeprecatedOffsetFetching",
        "false")
      // the NTZ→TIMESTAMP normalization in Tables.events is exact only
      // under a UTC session zone; pinning it in the shared builder (not
      // just the sbt launcher's javaOptions) keeps a spark-submit run
      // on a non-UTC host from silently shifting event timestamps
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // always take the sort-based shuffle write path (r10): the
      // bypass-merge writer, chosen whenever reducers ≤ 200, creates
      // one file per (map task × reducer) — measured ~0.1 CPU-s of
      // file-creation floor per tiny task here, 4.7 → 1.4 CPU-s on a
      // 200k-row aggregate at 32 reducers — while the sort path
      // writes one spill file per map task. At production reducer
      // counts (> 200) the sort path is what runs anyway, so this
      // aligns small-shuffle behavior with the scale path instead of
      // tuning to the local core count.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")

  /** The deploy posture specialized to the local harness (Verify /
    * Bench / PlanCheck boot through here so the "production session"
    * config lives in exactly one place): local[n] master with
    * shuffle parallelism right-sized to the core count, UI off.
    */
  def localBuilder(appName: String, cpus: String): SparkSession.Builder =
    sessionBuilder(appName, s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // catalog writes (bucketed tables) must never land in the
      // process cwd; external-path tables put their DATA where the
      // caller says, this pins the catalog default too
      .config("spark.sql.warehouse.dir", graft.io.Scratch.dir("warehouse"))

  /** Streaming scoring job: decoded transaction stream → enrich →
    * score → shape → foreachBatch fan-out (facts + scores + keyed
    * snapshot + recency). Mirrors streaming_etl.py end-to-end.
    */
  def startStreamingScoring(tx: DataFrame, users: DataFrame,
                            regions: DataFrame, outDir: String,
                            limitArms: Seq[(String, String)] =
                              ScoringPipeline.bankingLimitArms): StreamingQuery = {
    val scored = ScoringPipeline.score(
      ScoringPipeline.enrich(tx, users, regions), limitArms)
    graft.streaming.StreamingJob.startFanout(
      scored, s"$outDir/facts", s"$outDir/scores", s"$outDir/ckpt")
  }

  /** Batch twin over the same stages (src/teste.py shape). */
  def runBatchScoring(tx: DataFrame, users: DataFrame, regions: DataFrame,
                      limitArms: Seq[(String, String)] =
                        ScoringPipeline.bankingLimitArms): DataFrame =
    ScoringPipeline.score(ScoringPipeline.enrich(tx, users, regions), limitArms)
}
