package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.Tables
import graft.etl.{ScoringPipeline, TestdataAdapter}
import graft.io.Scratch
import graft.functions.Rounding.roundHalfAway

/** Driver-contract registrations exercising the streaming engine
  * (S4, T1–T3, W3) and the JSON decode path (P2) — each checked
  * against the SAME DuckDB oracles as their batch twins, proving
  * stream/batch result parity on finite sources.
  */
object StreamingQueries {

  /** S4+J1/J2+P6–P13: the full scoring pipeline on a schema-declared
    * streaming file source, run to completion in append mode. Result
    * must equal the batch pipeline (same oracle as pipeline_score).
    */
  private def streamScore(s: SparkSession, dir: String): DataFrame = {
    val tx = TestdataAdapter.transactionsStream(s, dir)
      .withWatermark("data_horario", "10 minutes") // T2 parity (inert)
    val scored = ScoringPipeline.score(
      ScoringPipeline.enrich(tx,
        TestdataAdapter.users(s, dir), TestdataAdapter.regions(s, dir)),
      TestdataAdapter.eventLimitArms)
    val shaped = scored.select(
      col("id_transacao"), col("id_usuario_pagador"),
      col("id_regiao_transacao").as("id_regiao"),
      col("modalidade_pagamento"),
      date_trunc("second", col("data_horario")).as("data_horario"),
      col("valor_transacao"),
      roundHalfAway(col("t5_score"), 6).as("t5_score"), col("t6_score"),
      roundHalfAway(col("t7_score"), 6).as("t7_score"),
      // + 0.0 as in the oracle's scored base: a -0.0 product reads +0.0
      roundHalfAway(col("score_medio") + 0.0, 6).as("score_medio"),
      col("score_aprovado"), col("saldo_aprovado"), col("limite_aprovado"),
      col("transacao_aprovada"))
    StreamingJob.runToParquet(shaped, Scratch.dir("s4_sink"))
  }

  /** W3/T1: event-time tumbling-window aggregation on the stream,
    * complete output mode — must equal the batch hourly rollup (same
    * oracle as a12_hourly_rollup).
    */
  private def streamRollup(s: SparkSession, dir: String): DataFrame = {
    val agg = Tables.eventsStream(s, dir)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), roundHalfAway(avg(col("value")), 4).as("avg_value"))
    StreamingJob.runToMemory(agg, mode = "complete")
      .select(col("window.start").as("hora"), col("n"), col("avg_value"))
  }

  /** Streaming sketch aggregation: per-type distinct users via an HLL
    * sketch INSIDE the streaming aggregate. Streaming forbids exact
    * `countDistinct` outright (unbounded per-group state); the sketch
    * is the at-scale answer — per-group state is lgK-bounded (~KB)
    * no matter how long the stream runs, and the stored state is
    * itself mergeable across restarts/groups. The driver check joins
    * the streamed estimates against the batch EXACT distinct and
    * hash-compares the error-bound boolean (same oracle design as the
    * batch sketch suite).
    */
  private def streamSketch(s: SparkSession, dir: String): DataFrame = {
    val agg = Tables.eventsStream(s, dir)
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"),
        count(lit(1)).as("n_events"))
    val est = StreamingJob.runToMemory(agg, mode = "complete")
      .select(col("event_type"),
        expr("hll_sketch_estimate(sk)").as("est"), col("n_events"))
    val exact = Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    est.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_events"), col("n_users"),
        (abs(col("est") - col("n_users")) <= lit(0.05) * col("n_users"))
          .as("sk_ok"))
  }

  /** Streaming weighted reservoir: documents arrive as a stream, each
    * shard keeps its k best A-ES keys as O(k) transformWithState
    * state, and the batch-side merge reproduces the batch sampler
    * EXACTLY (deterministic hash-derived keys) — checked by the same
    * oracle SQL as `sample_weighted`.
    */
  private def streamWeightedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 20
    val in = Tables.documentsStream(s, dir)
      .filter(col("n_chars") > 0)
      .select(pmod(col("doc_id"), lit(8)).cast("int").as("shard"),
        col("doc_id").as("id"),
        graft.functions.Sampling.esKey(col("doc_id"), col("n_chars"))
          .as("es_key"))
      .as[StreamingJob.WsIn]
    val out = StreamingJob.runToMemory(
      StreamingJob.streamingWeightedSample(in, k).toDF(), mode = "update",
      extraConfs = Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    // final shard states only (seen is monotone per shard), then the
    // global re-rank and cut; join back for the oracle's columns
    val finals = out
      .withColumn("mx", max(col("seen"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("shard"))))
      .filter(col("seen") === col("mx"))
      .select(col("id").as("doc_id"), col("es_key")).distinct()
    finals.orderBy(col("es_key").desc, col("doc_id")).limit(k)
      .join(Tables.documents(s, dir), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        roundHalfAway(col("es_key"), 9).as("es_key"))
  }

  /** Stream–stream inner interval join (beyond the reference's
    * stream–static joins): same-user event pairs within 2 hours, both
    * sides watermarked, time-range condition on the event-time columns
    * so Spark bounds the join state (state eviction = watermark +
    * range, the at-scale requirement; an unconstrained stream–stream
    * join would hold state forever). On a finite source the result
    * equals the batch self-join — same oracle family as
    * band_join_events, with the ns→µs truncation mirrored via
    * `::TIMESTAMP` in DuckDB.
    */
  private def streamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.eventsStream(s, dir)
      .select(col("event_id").as("id_a"), col("user_id"),
        col("ts").as("ts_a"))
      .withWatermark("ts_a", "10 minutes")
    val r = Tables.eventsStream(s, dir)
      .select(col("event_id").as("id_b"), col("user_id").as("user_b"),
        col("ts").as("ts_b"))
      .withWatermark("ts_b", "10 minutes")
    val joined = l.join(r,
      col("user_id") === col("user_b") && col("id_a") < col("id_b") &&
        col("ts_b") >= col("ts_a") &&
        col("ts_b") <= col("ts_a") + expr("INTERVAL 2 HOURS"))
      .select(col("user_id"), col("id_a").as("event_a"),
        col("id_b").as("event_b"),
        (unix_micros(col("ts_b")) - unix_micros(col("ts_a"))).as("dt_us"))
    StreamingJob.runToMemory(joined, mode = "append")
  }

  /** Stream–stream LEFT OUTER interval join: events with no same-user
    * successor within 1 hour still emit, with a NULL right side — but
    * only once the watermark proves no successor can arrive (Spark
    * emits outer-null rows on state eviction, in the no-data batch
    * triggered by the final watermark advance). Rows whose eviction
    * the finite stream's last watermark never reaches are still held
    * in state, so BOTH engines restrict to the guaranteed-emitted
    * region `ts_a ≤ max(ts) − 2 h` (watermark delay + join window,
    * with margin) — the streaming side via a broadcast 1-row max of
    * the batch table, the oracle via the same scalar subquery.
    */
  private def streamOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.eventsStream(s, dir)
      .select(col("event_id").as("id_a"), col("user_id"),
        col("ts").as("ts_a"))
      .withWatermark("ts_a", "10 minutes")
    val r = Tables.eventsStream(s, dir)
      .select(col("event_id").as("id_b"), col("user_id").as("user_b"),
        col("ts").as("ts_b"))
      .withWatermark("ts_b", "10 minutes")
    val joined = l.join(r,
      col("user_id") === col("user_b") && col("ts_b") > col("ts_a") &&
        col("ts_b") <= col("ts_a") + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("user_id"), col("id_a"), col("ts_a"), col("id_b"),
        (unix_micros(col("ts_b")) - unix_micros(col("ts_a"))).as("dt_us"))
    val emitted = StreamingJob.runToMemory(joined, mode = "append")
    val mx = Tables.events(s, dir).agg(max(col("ts")).as("mts"))
    emitted.crossJoin(broadcast(mx))
      .filter(col("ts_a") <= col("mts") - expr("INTERVAL 2 HOURS"))
      .select(col("user_id"), col("id_a"),
        date_trunc("second", col("ts_a")).as("ts_a_s"),
        col("id_b"), col("dt_us"))
  }

  /** Hopping (sliding) event-time windows: 2-hour windows every hour,
    * so each event lands in exactly two windows — the overlap
    * semantics tumbling (w3) can't express. Oracle replays the
    * epoch-aligned window-start arithmetic: starts = floor_hour(ts)
    * and floor_hour(ts) − 1h.
    */
  private def streamHopping(s: SparkSession, dir: String): DataFrame = {
    // exact-DECIMAL sum, not avg: 2-decimal sums over counts like 40
    // divide to true decimal half-boundaries (x.xxx75), which a double
    // holds only approximately, so its last bit picks the rounding —
    // decimal money math is reassociation- AND rounding-proof
    val agg = Tables.eventsStream(s, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("n"),
        roundHalfAway(sum(col("value").cast("decimal(18,2)")), 2).cast("double")
          .as("total_value"))
    StreamingJob.runToMemory(agg, mode = "complete")
      .select(col("window.start").as("hora"), col("n"), col("total_value"))
  }

  /** Streaming session windows (30-min gap per user) — the
    * state-MERGING window kind: sessions grow and fuse as events
    * arrive, which tumbling/hopping state never does. Complete mode on
    * the finite source must equal the batch gaps-and-islands oracle
    * (same oracle as w5_session_window).
    */
  private def streamSession(s: SparkSession, dir: String): DataFrame = {
    val agg = Tables.eventsStream(s, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    StreamingJob.runToMemory(agg, mode = "complete")
      .select(col("user_id"),
        date_trunc("second", col("session_window.start")).as("session_start"),
        col("n"))
  }

  /** End-to-end arbitrary state on the Spark 4 transformWithState API:
    * the scored stream keyed per payer feeds [[StreamingJob.RunningTotalsProcessor]]
    * (typed ValueState on RocksDB — scoped via runToMemory's conf
    * override), update mode. Each micro-batch emits the user's state
    * snapshot; the final snapshot per user (selected by the monotone
    * (n, total) struct max, exact even if the file source splits into
    * several batches) must equal the batch GROUP BY of approved
    * transactions.
    */
  /** Streaming Misra–Gries heavy hitters end-to-end: the documents
    * token stream feeds the sharded transformWithState sketch
    * ([[StreamingJob.HeavyHittersProcessor]], MapState on RocksDB);
    * the final sketch rows (seen = the shard's monotone running max)
    * are the CANDIDATE set, which the batch table then exact-verifies
    * — per-shard capacity (200 ≥ 2/φ of even the whole stream) makes
    * the superset guarantee hold with room, so the output equals the
    * plain GROUP BY/HAVING oracle regardless of batch boundaries.
    */
  private def streamHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val phi = 0.01
    val toks = Tables.documentsStream(s, dir)
      .select(explode(graft.text.Text.tokens(col("text"))).as("w"))
      .as[String]
    val sketch = StreamingJob.streamingHeavyHitterSketch(
      toks, capacity = 200, shards = 8)
    val snap = StreamingJob.runToMemory(sketch.toDF(), mode = "update",
      extraConfs = Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    val last = snap.groupBy(col("shard")).agg(max(col("seen")).as("seen"))
    val cand = snap.join(broadcast(last), Seq("shard", "seen"))
      .select(col("item")).distinct()
    val items = Tables.documents(s, dir)
      .select(explode(graft.text.Text.tokens(col("text"))).as("item"))
    val total = items.agg(count(lit(1)).as("n_total"))
    items.join(broadcast(cand), Seq("item"), "left_semi")
      .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
      .join(broadcast(total))
      .filter(col("cnt") >= col("n_total") * phi)
      .select(col("item"), col("cnt"))
  }

  /** Streaming corpus admission end-to-end: documents with id >= 250
    * arrive as a stream and are near-dup-checked against the static
    * first half (MinHash band probe + exact verify, all stream–static
    * joins — zero streaming state). Batch-side distinct collapses the
    * per-band duplicate emissions; the oracle is the exact cross-half
    * Jaccard join (the banding miss probability at j >= 0.8 is
    * < 5e-8, the documented minhashLshPairs contract).
    */
  private def streamCorpusDedup(s: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.documents(s, dir).filter(col("doc_id") < 250)
    val incoming = Tables.documentsStream(s, dir).filter(col("doc_id") >= 250)
    val flagged = graft.dedup.Dedup.corpusAdmission(
      incoming, corpus, "doc_id", "text", n = 3, threshold = 0.8)
    StreamingJob.runToMemory(flagged, mode = "append")
      .select(col("in_doc"), col("corpus_doc"),
        roundHalfAway(col("jaccard"), 6).as("jaccard"))
      .distinct()
  }

  /** Streaming semantic admission: embedding vectors with id < 100
    * arrive as a stream and are SemDeDup-checked against the static
    * id >= 100 corpus (cell probe + within-cell cosine — all
    * stream–static joins, zero streaming state; the embedding twin of
    * [[streamCorpusDedup]]). Deterministic corpus-side seeding makes
    * the whole composition oracle-replayable; each corpus vector
    * lives in one cell, so no per-band duplicate emissions to
    * collapse.
    */
  private def streamSemanticAdmission(s: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.embeddings(s, dir).filter(col("vec_id") >= 100)
    val incoming = Tables.embeddingsStream(s, dir).filter(col("vec_id") < 100)
    val flagged = graft.similarity.Ann.semanticAdmission(
      incoming, corpus, "vec_id", "embedding", nCells = 16, threshold = 0.35)
    StreamingJob.runToMemory(flagged, mode = "append")
  }

  /** Streaming ANN-join admission: the persisted IVF index is built
    * once in batch over the vec_id >= 100 corpus (plus a
    * frozen-centroid delta append of [NQueries, 100), exactly the
    * `ann_ivf_persisted` construction), then the query vectors arrive
    * as micro-batches, each kNN-joined against the stored index —
    * stream–static, stateless, cell-partition-pruned. Per-query top-k
    * independence makes the streamed union equal the one-shot probe,
    * so the oracle IS `ann_ivf_persisted`'s replay.
    */
  private def streamAnnProbe(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    StreamingJob.streamAnnIndexProbe(
      emb.filter(col("vec_id") >= 100),
      emb.filter(col("vec_id") >= graft.similarity.AnnQueries.NQueries &&
        col("vec_id") < 100),
      emb.filter(col("vec_id") < graft.similarity.AnnQueries.NQueries),
      "vec_id", "embedding", graft.similarity.AnnQueries.K,
      nProbe = 4, nCells = 16, Scratch.dir("s17"))
  }

  /** Streaming maintenance of the persisted band index: the doc_id
    * >= 200 corpus arrives as 4 micro-batches, each idempotently
    * appended to the stored index; the doc_id < 200 batch then probes
    * the maintained index. The oracle replays the exact cross-slice
    * Jaccard — streamed-ingest ≡ batch-built ≡ exact truth.
    */
  private def streamIndexIngest(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    StreamingJob.streamBandIndexIngest(
        docs.filter(col("doc_id") >= 200), docs.filter(col("doc_id") < 200),
        "doc_id", "text", n = 3, threshold = 0.8, Scratch.dir("s16"))
      .select(col("in_doc"), col("corpus_doc"),
        roundHalfAway(col("jaccard"), 6).as("jaccard"))
  }

  /** The scored, approved-flag-filtered keyed transaction stream the
    * stateful running-totals queries share (s7, s33).
    */
  private def keyedTxStream(s: SparkSession, dir: String)
  : org.apache.spark.sql.Dataset[StreamingJob.TxKeyed] = {
    import s.implicits._
    val tx = TestdataAdapter.transactionsStream(s, dir)
    ScoringPipeline.score(
        ScoringPipeline.enrich(tx,
          TestdataAdapter.users(s, dir), TestdataAdapter.regions(s, dir)),
        TestdataAdapter.eventLimitArms)
      .filter(col("transacao_aprovada").isNotNull)
      .select(col("id_transacao"), col("id_usuario_pagador"),
        col("data_horario"), col("valor_transacao"), col("transacao_aprovada"))
      .as[StreamingJob.TxKeyed]
  }

  private def streamTwsTotals(s: SparkSession, dir: String): DataFrame = {
    val keyed = keyedTxStream(s, dir)
    val totals = StreamingJob.runningUserTotalsTws(keyed)
    StreamingJob.runToMemory(totals.toDF(), mode = "update",
      extraConfs = Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
      .groupBy(col("id_usuario"))
      .agg(max(struct(col("n_aprovadas"), col("total_aprovado"))).as("m"))
      .select(col("id_usuario"), col("m.n_aprovadas").as("n_aprovadas"),
        roundHalfAway(col("m.total_aprovado"), 2).as("total_aprovado"))
  }

  /** Streaming dedup with bounded state: the source is unioned with
    * itself (every event delivered twice — the at-least-once delivery
    * failure mode), and `dropDuplicatesWithinWatermark` drops the
    * redelivery. Unlike `dropDuplicates`, state is EVICTED once the
    * watermark passes an id's event time — the only dedup that
    * survives an unbounded stream. The deduped append stream then
    * aggregates in batch; result must equal aggregating the original
    * (duplicate-free) table.
    */
  private def streamDedup(s: SparkSession, dir: String): DataFrame = {
    def side = Tables.eventsStream(s, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val deduped = side.unionByName(side)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    StreamingJob.runToMemory(deduped, mode = "append")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        roundHalfAway(sum(col("value").cast("decimal(18,2)")), 2).cast("double")
          .as("total_value"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Incremental MV maintenance: N single-file micro-batches merged
    // into a partitioned aggregate view via dynamic partition
    // overwrite; DECIMAL sums make the N-merge result bit-equal the
    // oracle's one-pass GROUP BY regardless of merge order.
    "s12_incremental_mv" -> ((s, dir) =>
      StreamingJob.incrementalMv(s, dir, Scratch.dir("s12_mv"))
        .select(col("event_type"), col("n"),
          col("sum_value").cast("double").as("total_value"))),
    "s4_stream_pipeline" -> ((s, dir) => streamScore(s, dir)),
    "s13_stream_sketch" -> ((s, dir) => streamSketch(s, dir)),
    "s14_stream_weighted_sample" -> ((s, dir) => streamWeightedSample(s, dir)),
    "s8_stream_dedup" -> ((s, dir) => streamDedup(s, dir)),
    "s9_stream_outer_join" -> ((s, dir) => streamOuterJoin(s, dir)),
    "s10_stream_heavy_hitters" -> ((s, dir) => streamHeavyHitters(s, dir)),
    "s11_stream_corpus_dedup" -> ((s, dir) => streamCorpusDedup(s, dir)),
    "s16_stream_index_ingest" -> ((s, dir) => streamIndexIngest(s, dir)),
    "s17_stream_ann_admission" -> ((s, dir) => streamAnnProbe(s, dir)),
    // The full streaming dedup loop: per micro-batch index ingest +
    // probe + bucket-partitioned label merge; the drained labels table
    // must equal the scratch connected-components recompute
    "s18_stream_label_maintenance" -> ((s, dir) =>
      StreamingJob.streamLabelMaintenance(Tables.documents(s, dir),
        "doc_id", "text", n = 3, threshold = 0.8, Scratch.dir("s18"))),
    // Streaming canonical-keeper maintenance: the s18 loop one derived
    // layer up — queued edge+delta batches fold (coalesced, off the
    // trigger path) into a doc-keyed state table and the keeper table,
    // both bucket-pruned; the drained keeper table equals the scratch
    // full-corpus canonical selection
    "s30_stream_keeper_maintenance" -> ((s, dir) =>
      StreamingJob.streamKeeperMaintenance(Tables.documents(s, dir),
        "doc_id", "text", n = 3, threshold = 0.8, Scratch.dir("s30"))),
    // Streaming epoch materialization: per-lang factors frozen at
    // calibration, arrivals emit their copies map-only — drained
    // union ≡ the one-shot batch materialization (shared oracle)
    "s32_stream_epoch_materialize" -> ((s, dir) =>
      StreamingJob.streamEpochMaterialize(Tables.documents(s, dir),
        "doc_id", "lang", Scratch.dir("s32"))),
    // Streaming novelty probe: gram index frozen on the train split,
    // held-out docs arrive as micro-batches, drained census ≡ the
    // one-shot batch census (shared dedup_novelty oracle)
    "s31_stream_novelty_probe" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val b = graft.functions.Binning.knuthBucket(col("doc_id"))
      StreamingJob.streamNoveltyProbe(docs.filter(b < 80),
        docs.filter(b >= 90), "doc_id", "text", n = 5, Scratch.dir("s31"))
    }),
    // Streaming drift monitor: current-slice histogram maintained
    // incrementally (long counts ⇒ N-batch merge == one pass), PSI vs
    // the static reference after drain — same answer, same oracle, as
    // the one-shot batch gate
    "s19_stream_drift_monitor" -> ((s, dir) =>
      StreamingJob.streamDriftMonitor(s, dir, Scratch.dir("s19"))),
    "s15_stream_semantic_admission" -> ((s, dir) =>
      streamSemanticAdmission(s, dir)),
    // Streaming model-gated admission: the hashed-linear quality
    // classifier scores each arriving doc INSIDE the stream's map
    // stage (one codegen'd Project — no state, no shuffle) and only
    // docs over the threshold pass; the drained admitted set equals
    // the batch filter, which is the oracle
    "s23_stream_quality_gate" -> ((s, dir) => {
      val q6 = roundHalfAway(graft.text.QualityModel.score(col("text")), 6)
      val admitted = Tables.documentsStream(s, dir)
        .select(col("doc_id"), q6.as("clf_quality"))
        .filter(col("clf_quality") > 0.5)
      StreamingJob.runToMemory(admitted)
        .select(col("doc_id"), col("clf_quality"))
    }),
    // Streaming retrieval probe over the stored posting index:
    // stateless stream–static, per-query top-k independence makes the
    // drained union equal the one-shot batch probe (same oracle)
    "s22_stream_mlt_probe" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val split = graft.text.PackingQueries.MltSplit
      StreamingJob.streamMltProbe(
        docs.filter(col("doc_id") >= 300),
        docs.filter(col("doc_id") >= split && col("doc_id") < 300),
        docs.filter(col("doc_id") < split),
        "doc_id", "text", graft.text.PackingQueries.MltK,
        Scratch.dir("s22"))
        .select(col("qid"), col("doc_id").as("cdoc"), col("score"),
          col("n_shared"), col("rank"))
    }),
    // Streaming HYBRID admission: every arriving doc probes BOTH
    // frozen legs (posting index + corpus embeddings) and the RRF
    // fusion is written per batch — per-query independence makes the
    // drained union equal the one-shot tx_hybrid_rrf (shared oracle)
    // Streaming cleaning admission: boiler set mined once from the
    // static corpus, arriving docs stripped per micro-batch (map-only
    // broadcast hit detection, zero streaming state) — drained union
    // equals the one-shot cross-split strip the oracle replays
    // Streaming perplexity admission: the bigram LM trained once on
    // the static reference split and frozen (counts + context totals
    // cached, V a constant), arriving docs scored per micro-batch —
    // stateless, so the drained admitted set equals the batch
    // scoring + gate, which is what the shared oracle replays
    // Streaming DSIR admission: both LMs frozen, arriving docs gated
    // on their per-bigram log importance ratio — drained set equals
    // the batch weights + gate (shared oracle derivation)
    // Streaming language-ID: k frozen per-language LMs, arrivals
    // labeled by exact-long argmax per micro-batch — drained set
    // equals the batch classify (shared oracle)
    "s29_stream_langid" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      StreamingJob.streamLangidClassify(
        graft.text.LmQueries.refSplit(docs),
        graft.text.LmQueries.holdoutSplit(docs), "doc_id", "text",
        "lang", graft.text.LmQueries.IdLangs, Scratch.dir("s29"))
    }),
    // Streaming CCNet bucketing: LM + tertile cutoffs frozen from the
    // one-time calibration, arrivals scored + labeled map-only — the
    // drained labeled set equals the batch assign (shared oracle)
    "s28_stream_ppl_buckets" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val ho = graft.text.LmQueries.holdoutSplit(docs)
      StreamingJob.streamPplBuckets(
        graft.text.LmQueries.refSplit(docs), ho, ho, "doc_id", "text",
        graft.text.LmQueries.NllThreshold, Scratch.dir("s28"))
    }),
    "s27_stream_dsir_admission" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      StreamingJob.streamDsirAdmission(docs, docs, "doc_id", "text",
        graft.text.LmQueries.TargetLang, graft.text.LmQueries.DsirGate,
        Scratch.dir("s27"))
        .select(col("doc_id"), col("n_bigrams"), col("w_q"),
          col("logratio"))
    }),
    "s26_stream_perplexity_gate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      StreamingJob.streamPerplexityGate(
        graft.text.LmQueries.refSplit(docs),
        graft.text.LmQueries.holdoutSplit(docs),
        "doc_id", "text", graft.text.LmQueries.NllThreshold,
        Scratch.dir("s26"))
        .select(col("doc_id"), col("n_bigrams"), col("sum_lq"),
          col("nll"), col("admit"))
    }),
    "s25_stream_boiler_strip" -> ((s, dir) =>
      StreamingJob.streamBoilerStrip(Tables.documents(s, dir),
        "doc_id", "text", n = 3, minDf = 3,
        split = graft.text.HybridQueries.Split, Scratch.dir("s25"))
        .select(col("doc"), col("n_tokens"), col("n_removed"),
          col("n_spans"), col("clean_text"))),
    "s24_stream_hybrid_probe" -> ((s, dir) =>
      StreamingJob.streamHybridProbe(Tables.documents(s, dir),
        Tables.embeddings(s, dir), "doc_id", "text", "embedding",
        graft.text.HybridQueries.Split, graft.text.HybridQueries.HK,
        Scratch.dir("s24"))
        .select(col("qid"), col("doc"), col("lex_rank"),
          col("vec_rank"), col("rrf"), col("rank"))),
    // The hybrid admission stream with the SCALE-SAFE vector leg
    // (r10): same lexical probe + fusion, but the vector candidates
    // come from a persisted IVF index probed per micro-batch
    // (cell-partition-pruned reads) instead of a per-trigger
    // brute-force scan of the pinned corpus embeddings — the one
    // remaining corpus-proportional per-trigger cost in the streaming
    // surface, removed. Deterministic seeding makes the whole cascade
    // oracle-replayable (shared with the batch tx_hybrid_rrf_ivf).
    "s24b_stream_hybrid_ivf" -> ((s, dir) =>
      StreamingJob.streamHybridProbe(Tables.documents(s, dir),
        Tables.embeddings(s, dir), "doc_id", "text", "embedding",
        graft.text.HybridQueries.Split, graft.text.HybridQueries.HK,
        Scratch.dir("s24b"),
        ivfLeg = Some((graft.text.HybridQueries.IvfCells,
          graft.text.HybridQueries.IvfProbe)))
        .select(col("qid"), col("doc"), col("lex_rank"),
          col("vec_rank"), col("rrf"), col("rank"))),
    // Streaming packing maintenance: per-shard running token offset
    // (one long of state) extends the batch packing incrementally —
    // the drained placements equal the batch window-cumsum query
    "s21_stream_pack_maintenance" -> ((s, dir) => {
      import s.implicits._
      val in = Tables.documentsStream(s, dir)
        .select(
          pmod(col("doc_id"), lit(graft.text.TextQueries.PackShards))
            .cast("int").as("shard"),
          col("doc_id"),
          graft.text.Text.tokenCount(col("text")).as("n_tokens"))
        .filter(col("n_tokens") > 0)
        .as[StreamingJob.ShardDoc]
      StreamingJob.runToMemory(
        StreamingJob.streamShardPack(
          in, graft.text.TextQueries.PackCapacity.toLong).toDF())
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          col("start_off"), col("seq_first"), col("seq_last"),
          col("crosses"))
    }),
    // Streaming per-source token-budget admission: ONE long of state
    // per source; prefix-while semantics make the admitted set equal
    // the batch arrival-order window regardless of batch slicing
    "s20_stream_budget_admission" -> ((s, dir) => {
      import s.implicits._
      val in = Tables.documentsStream(s, dir)
        .select(col("source"), col("doc_id"),
          graft.text.Text.bpeTokenCount(col("text")).cast("long")
            .as("n_tokens"))
        .as[StreamingJob.BudgetDoc]
      StreamingJob.runToMemory(
        StreamingJob.streamTokenBudgetAdmission(in, 800L).toDF())
        .select(col("source"), col("doc_id"), col("n_tokens"))
    }),
    "s6_stream_session_window" -> ((s, dir) => streamSession(s, dir)),
    "s7_tws_running_totals" -> ((s, dir) => streamTwsTotals(s, dir)),
    // Offline state inspection: the stateful running-totals stream
    // drains into a durable checkpoint, then the KEYED STATE ITSELF is
    // read back via Spark's built-in state-store reader — the oracle
    // checks the checkpoint's contents, not the query output
    "s33_state_inspection" -> ((s, dir) =>
      StreamingJob.streamStateInspection(keyedTxStream(s, dir),
        Scratch.dir("s33"))),
    "w3_stream_hourly_rollup" -> ((s, dir) => streamRollup(s, dir)),
    "w7_hopping_rollup" -> ((s, dir) => streamHopping(s, dir)),
    "s5_stream_stream_join" -> ((s, dir) => streamStreamJoin(s, dir)),
    // P2: from_json decode of the events.props payload + rollup
    "p2_json_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", from_json(col("props"),
          StructType(Seq(StructField("k", IntegerType)))).getField("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), roundHalfAway(avg(col("k")), 4).as("avg_k"))),
    // P2 through Spark 4's VARIANT type: parse once into the binary
    // semi-structured encoding, extract typed fields lazily — the
    // schema-on-read path for JSON payloads whose shape isn't known
    // up front (from_json needs the full schema declared; variant
    // defers it to each variant_get). Same oracle as p2.
    "p23_variant_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"), parse_json(col("props")).as("v"))
        .select(col("event_type"),
          expr("variant_get(v, '$.k', 'int')").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), roundHalfAway(avg(col("k")), 4).as("avg_k"))))

  val oracleSql: Map[String, String] = Map(
    // replays semanticAdmission batch-side: corpus-seeded centroids
    // (first 16 of vec_id >= 100), max-cosine cells on both halves
    // (ties → larger index), cross-half within-cell cosine pairs
    "s15_stream_semantic_admission" ->
      """WITH n AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |         sqrt(list_dot_product(embedding::DOUBLE[],
        |                               embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |cents AS (
        |  SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS idx,
        |         v AS cv, nrm AS cn
        |  FROM n WHERE vec_id >= 100 ORDER BY vec_id LIMIT 16),
        |csims AS (
        |  SELECT n.vec_id, cents.idx,
        |         list_dot_product(n.v, cents.cv) / (n.nrm * cents.cn) AS sim
        |  FROM n, cents),
        |assigned AS (
        |  SELECT vec_id, idx AS cell FROM (
        |    SELECT vec_id, idx, row_number() OVER (
        |             PARTITION BY vec_id ORDER BY sim DESC, idx DESC) AS rn
        |    FROM csims) WHERE rn = 1)
        |SELECT i.vec_id AS in_id, c.vec_id AS corpus_id,
        |       i.cell::INT AS cell,
        |       round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 6)
        |         AS cosine
        |FROM assigned i
        |JOIN assigned c ON i.cell = c.cell
        |JOIN n x ON x.vec_id = i.vec_id
        |JOIN n y ON y.vec_id = c.vec_id
        |WHERE i.vec_id < 100 AND c.vec_id >= 100
        |  AND round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 6)
        |      >= 0.35""".stripMargin,
    // the drained streaming placements must equal the batch packing —
    // the oracle IS the batch query's window-cumsum replay
    "s21_stream_pack_maintenance" ->
      graft.text.TextQueries.oracleSql("pipeline_pack_sequences"),
    // streamed micro-batch probes union to the one-shot retrieval —
    // the oracle IS tx_mlt_topk's full replay
    "s22_stream_mlt_probe" -> graft.text.PackingQueries.mltOracle,
    // streamed per-batch fusion unions to the one-shot hybrid probe
    "s24_stream_hybrid_probe" ->
      graft.text.HybridQueries.oracleSql("tx_hybrid_rrf"),
    // the IVF-leg variant drains to its one-shot batch twin — the
    // whole approximate cascade is deterministic, so the oracle is
    // shared verbatim
    "s24b_stream_hybrid_ivf" ->
      graft.text.HybridQueries.oracleSql("tx_hybrid_rrf_ivf"),
    // frozen reference LM, per-doc independence: admitted set == the
    // batch perplexity scoring + the gate filter
    "s26_stream_perplexity_gate" ->
      graft.text.LmQueries.perplexityOracle(admittedOnly = true),
    // frozen two-LM importance ratio, per-doc independence
    "s27_stream_dsir_admission" ->
      graft.text.LmQueries.dsirOracle("admitted"),
    // frozen LM + frozen tertile cutoffs, per-doc independence —
    // the calibration corpus IS the arriving corpus, so the batch
    // bucket replay is the drained set verbatim
    "s28_stream_ppl_buckets" ->
      graft.text.LmQueries.bucketsOracle("docs"),
    // k frozen LMs, exact-long argmax per doc — per-doc independence
    "s29_stream_langid" ->
      graft.text.LmQueries.langidOracle("docs"),
    // corpus-mined boiler set applied to the streamed-in split
    "s25_stream_boiler_strip" ->
      graft.text.HybridQueries.stripOracleFor(3, 3,
        s"doc_id >= ${graft.text.HybridQueries.Split}",
        s"doc_id < ${graft.text.HybridQueries.Split}"),
    // stateless map-stage scoring: admitted set == the batch filter
    "s23_stream_quality_gate" -> {
      val b = graft.text.QualityModel.Buckets
      val toksLower = """list_filter(regexp_split_to_array(trim(lower(text)),""" +
        """ '\s+'), t -> t != '')"""
      val w = s"((('0x' || substring(md5(t), 1, 8))::UBIGINT % $b)" +
        s"::DOUBLE / $b - 0.5)"
      s"""WITH z AS (
         |  SELECT doc_id,
         |         CASE WHEN len($toksLower) > 0
         |              THEN ${graft.text.QualityModel.Bias} +
         |                   list_sum(list_transform($toksLower, t -> $w))
         |                   / len($toksLower)
         |              ELSE ${graft.text.QualityModel.Bias} END AS zv
         |  FROM documents)
         |SELECT doc_id, round(1.0 / (1.0 + exp(-zv)), 6) AS clf_quality
         |FROM z WHERE round(1.0 / (1.0 + exp(-zv)), 6) > 0.5""".stripMargin
    },
    // arrival-order (doc_id) prefix-while admission under the budget
    "s20_stream_budget_admission" -> {
      val pat = graft.text.Text.BpePattern.replace("'", "''")
      s"""WITH t AS (SELECT source, doc_id,
         |             len(regexp_extract_all(text, '$pat'))::BIGINT
         |               AS n_tokens
         |           FROM documents),
         |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source
         |        ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM t)
         |SELECT source, doc_id, n_tokens FROM c
         |WHERE cum <= 800""".stripMargin
    },
    "s12_incremental_mv" ->
      """SELECT event_type, count(*) AS n,
        |       sum(value::DECIMAL(18,2))::DOUBLE AS total_value
        |FROM events GROUP BY 1""".stripMargin,
    // exact cross-slice Jaccard, shared replay with
    // dedup_index_persisted: probes < 200, streamed-in corpus >= 200
    "s16_stream_index_ingest" ->
      graft.dedup.DedupQueries.crossJaccardOracle(
        "doc_id < 200", "doc_id >= 200", 0.8),
    // per-query top-k independence: streamed micro-batch probes of the
    // stored IVF index union to exactly the one-shot batch probe
    "s17_stream_ann_admission" ->
      graft.similarity.AnnQueries.oracleSql("ann_ivf_persisted"),
    // streamed ingest+probe+label-merge must drain to the scratch
    // full-graph labeling — the oracle IS the recursive-CTE recompute
    "s18_stream_label_maintenance" ->
      graft.dedup.DedupQueries.componentsOracle,
    // drained keeper table ≡ scratch canonical selection — the same
    // incremental≡scratch contract as s18, one derived layer up
    "s30_stream_keeper_maintenance" ->
      graft.dedup.DedupQueries.canonicalOracle,
    "s31_stream_novelty_probe" ->
      graft.dedup.DedupQueries.noveltyOracle,
    "s32_stream_epoch_materialize" ->
      graft.text.TextQueries.oracleSql("sample_source_epochs"),
    // the incrementally-merged histogram must yield the identical PSI
    // as the one-shot batch gate, so the oracle is shared verbatim
    "s19_stream_drift_monitor" ->
      graft.analytics.ExtendedQueries.oracleSql("dq_drift_psi"),
    "s11_stream_corpus_dedup" ->
      graft.dedup.DedupQueries.crossJaccardOracle(
        "doc_id >= 250", "doc_id < 250", 0.8),
    "s10_stream_heavy_hitters" ->
      """WITH ex AS (SELECT unnest(list_filter(regexp_split_to_array(
        |             trim(text), '\s+'), t -> t != '')) AS item
        |           FROM documents),
        |n AS (SELECT count(*) AS n_total FROM ex)
        |SELECT item, count(*) AS cnt
        |FROM ex, n GROUP BY item, n_total
        |HAVING count(*) >= n_total * 0.01""".stripMargin,
    "s9_stream_outer_join" ->
      """WITH mx AS (SELECT max(ts::TIMESTAMP) AS mts FROM events),
        |l AS (SELECT event_id AS id_a, user_id, ts::TIMESTAMP AS ts_a
        |      FROM events),
        |r AS (SELECT event_id AS id_b, user_id AS user_b,
        |             ts::TIMESTAMP AS ts_b
        |      FROM events)
        |SELECT l.user_id, l.id_a,
        |       date_trunc('second', l.ts_a) AS ts_a_s, r.id_b,
        |       epoch_us(r.ts_b) - epoch_us(l.ts_a) AS dt_us
        |FROM l CROSS JOIN mx
        |LEFT JOIN r ON l.user_id = r.user_b AND r.ts_b > l.ts_a
        |            AND r.ts_b <= l.ts_a + INTERVAL 1 HOUR
        |WHERE l.ts_a <= mx.mts - INTERVAL 2 HOUR""".stripMargin,
    "s8_stream_dedup" ->
      """SELECT event_type, count(*) AS n,
        |       round(sum(value::DECIMAL(18,2)), 2)::DOUBLE AS total_value
        |FROM events GROUP BY 1""".stripMargin,
    "s6_stream_session_window" ->
      graft.analytics.ExtendedQueries.oracleSql("w5_session_window"),
    "s7_tws_running_totals" ->
      s"""WITH base AS (${TestdataAdapter.scoredBaseSql})
         |SELECT id_usuario_pagador AS id_usuario,
         |       count(CASE WHEN transacao_aprovada THEN 1 END) AS n_aprovadas,
         |       round(coalesce(sum(CASE WHEN transacao_aprovada
         |                               THEN valor_transacao END), 0), 2)
         |         AS total_aprovado
         |FROM base
         |WHERE transacao_aprovada IS NOT NULL
         |GROUP BY 1""".stripMargin,
    // identical aggregate — s33 reads the CHECKPOINTED STATE rather
    // than the query output, and both must equal the batch GROUP BY
    "s33_state_inspection" ->
      s"""WITH base AS (${TestdataAdapter.scoredBaseSql})
         |SELECT id_usuario_pagador AS id_usuario,
         |       count(CASE WHEN transacao_aprovada THEN 1 END) AS n_aprovadas,
         |       round(coalesce(sum(CASE WHEN transacao_aprovada
         |                               THEN valor_transacao END), 0), 2)
         |         AS total_aprovado
         |FROM base
         |WHERE transacao_aprovada IS NOT NULL
         |GROUP BY 1""".stripMargin,
    "s14_stream_weighted_sample" ->
      graft.analytics.ExtendedQueries.oracleSql("sample_weighted"),
    "s13_stream_sketch" ->
      """SELECT event_type, count(*) AS n_events,
        |       count(DISTINCT user_id) AS n_users, TRUE AS sk_ok
        |FROM events GROUP BY 1""".stripMargin,
    "s4_stream_pipeline" ->
      s"""WITH base AS (${TestdataAdapter.scoredBaseSql})
         |SELECT id_transacao, id_usuario_pagador, id_regiao,
         |       modalidade_pagamento,
         |       date_trunc('second', data_horario) AS data_horario,
         |       valor_transacao,
         |       round(t5_score, 6) AS t5_score, t6_score,
         |       round(t7_score, 6) AS t7_score,
         |       round(score_medio, 6) AS score_medio,
         |       score_aprovado, saldo_aprovado, limite_aprovado,
         |       transacao_aprovada
         |FROM base""".stripMargin,
    "w3_stream_hourly_rollup" ->
      """SELECT date_trunc('hour', ts) AS hora, count(*) AS n,
        |       round(avg(value), 4) AS avg_value
        |FROM events GROUP BY 1""".stripMargin,
    "p2_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |       round(avg(json_extract(props, '$.k')::INT), 4) AS avg_k
        |FROM events GROUP BY 1""".stripMargin,
    "p23_variant_extract" ->
      """SELECT event_type, count(*) AS n,
        |       round(avg(json_extract(props, '$.k')::INT), 4) AS avg_k
        |FROM events GROUP BY 1""".stripMargin,
    "w7_hopping_rollup" ->
      """WITH w AS (
        |  SELECT unnest([date_trunc('hour', ts),
        |                 date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS hora,
        |         value
        |  FROM events)
        |SELECT hora, count(*) AS n,
        |       round(sum(value::DECIMAL(18,2)), 2)::DOUBLE AS total_value
        |FROM w GROUP BY 1""".stripMargin,
    "s5_stream_stream_join" ->
      """SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
        |       epoch_us(b.ts::TIMESTAMP) - epoch_us(a.ts::TIMESTAMP) AS dt_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND b.ts::TIMESTAMP >= a.ts::TIMESTAMP
        | AND b.ts::TIMESTAMP <= a.ts::TIMESTAMP + INTERVAL 2 HOUR""".stripMargin)
}
