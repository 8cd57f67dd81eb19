package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.PersistedTable
import graft.functions.Rounding.roundHalfAway

/** Near-duplicate detection for document corpora, four ways:
  *
  *  - [[jaccardPairs]] — exact n-gram Jaccard via an inverted-index
  *    shingle join (the correctness baseline; oracle-checkable).
  *  - [[minhashLshPairs]] — MinHash signatures + banded LSH candidate
  *    generation, then exact verification of the (tiny) candidate set.
  *    This is the 100 TB path: cost is O(docs × shingles) for
  *    signatures plus a bucket join on (band, bandHash) keys, never an
  *    all-pairs product.
  *  - [[simhashPairs]] — 64-bit SimHash + banded Hamming search
  *    (pigeonhole: distance ≤ 3 ⇒ one of 4 16-bit blocks equal).
  *  - [[graft.similarity.Ann.cosinePairs]] — embedding-space near-dups.
  *
  * Everything is expression-only (no UDFs): shingling via
  * `transform`/`sequence`, hashing via `xxhash64`, signatures via 128
  * map-side-combined `min` aggregates. Shuffles are keyed on doc id or
  * (band, hash) — both salt-free and uniformly distributed because the
  * key is itself a hash.
  */
object Dedup {

  /** Distinct word n-gram shingles of a text column (whitespace-run
    * tokens, empty tokens excluded — matching [[graft.text.Text.tokens]]
    * and the native kernel).
    */
  def shingles(text: Column, n: Int): Column =
    shinglesOf(filter(split(trim(text), "\\s+"), t => t =!= ""), n)

  /** [[shingles]] over an already-tokenized array column. */
  def shinglesOf(toks: Column, n: Int): Column = {
    // n-gram windows as arrays_zip of n shifted slices: the transform
    // lambda touches only its own argument — a lambda that closed over
    // `toks` would re-evaluate the full tokenizer PER ELEMENT
    // (O(tokens·n) splits per doc). m = 0 when size < n ⇒ empty
    // result, no guard.
    val m = greatest(size(toks) - (n - 1), lit(0))
    val zipped = arrays_zip((1 to n).map(j => slice(toks, lit(j), m)): _*)
    // NULL text ⇒ empty array, not NULL (slice(null,…) propagates null;
    // callers rely on size() = 0 for empty/null docs)
    coalesce(
      array_distinct(transform(zipped, s =>
        concat_ws(" ", (0 until n).map(j => s.getField(j.toString)): _*))),
      array().cast("array<string>"))
  }

  /** Boilerplate span mining: word n-grams shared across at least
    * `minDf` documents, with their document frequency and the smallest
    * containing doc id. This is the repeated-span signal behind
    * substring-level training-data dedup (headers, footers, license
    * blocks repeat verbatim across crawled pages; near-dup pair search
    * never sees them because the containing documents differ).
    *
    * Shape at scale: one map-only shingling pass (distinct within doc,
    * so a doc contributes each span once) then a single groupBy keyed
    * by the span text — map-side partial counts collapse the heavy
    * hitters before the shuffle, which is exactly the skewed-key case
    * partial aggregation exists for. Emitting `min(doc)` rides the
    * same aggregate; no second pass.
    */
  def commonNgrams(df: DataFrame, id: String, text: String, n: Int,
                   minDf: Int): DataFrame =
    df.select(col(id).as("doc"),
        explode(shingles(col(text), n)).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("df"), min(col("doc")).as("first_doc"))
      .filter(col("df") >= minDf)

  /** Train→test contamination pairs: documents in different splits
    * sharing at least one word `n`-gram — the GPT-3/PaLM-style 13-gram
    * decontamination check run before a benchmark is trusted. Split
    * assignment is the same deterministic Knuth-multiplicative bucket
    * as the engine's split operator ((id·2654435761) mod 100: ≥ 90 is
    * held-out test, < 80 train), so contamination is checked against
    * the exact split the pipeline would emit.
    *
    * Shape at scale: one shingling pass (distinct within doc) feeding
    * an inverted-index equi-join keyed by the gram — a key that is
    * uniformly distributed except on true boilerplate, which
    * [[commonNgrams]] exists to mine and mask upstream. Both sides
    * prune to their split BEFORE the join (the test side is ~10% of
    * the corpus), and the pair aggregation counts each shared distinct
    * gram once, so `n_shared` is exactly |gram-set intersection|.
    *
    * Grams travel as 64-bit hashes from the single-pass native kernel
    * ([[graft.functions.TextHashing]]) — never as materialized
    * 13-token strings — so the exploded stream and the join key are
    * one long wide (2.5 s → 0.9 s at sf0.1; oracle-exact modulo 2⁻⁶⁴
    * collisions, the same contract as [[jaccardPairs]]).
    */
  /** @param maxDf when set, grams appearing in MORE than this many
    *               documents (across both splits) are masked before
    *               the join — built-in boilerplate suppression: a
    *               license header shared by thousands of docs is a
    *               skew bomb AND a meaningless contamination signal.
    *               The df pass is one extra map-side-combined groupBy
    *               on the same uniform gram-hash key.
    */
  def decontaminate(df: DataFrame, id: String, text: String,
                    n: Int, maxDf: Option[Int] = None): DataFrame = {
    val grams = df.select(col(id),
      graft.functions.Binning.knuthBucket(col(id)).as("__b"),
      explode(graft.functions.TextHashing.ngramHashes(col(text), n)).as("g"))
    val kept = maxDf match {
      case None => grams
      case Some(cap) =>
        val hot = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select(col("g").as("hg"))
        grams.join(hot, col("g") === col("hg"), "left_anti")
    }
    val train = kept.filter(col("__b") < 80)
      .select(col(id).as("train_doc"), col("g"))
    val test = kept.filter(col("__b") >= 90)
      .select(col(id).as("test_doc"), col("g").as("g2"))
    train.join(test, col("g") === col("g2"))
      .groupBy(col("train_doc"), col("test_doc"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Per-held-out-doc n-gram NOVELTY against the train split — the
    * memorization-risk audit run before a held-out set is trusted:
    * for every test-split doc, how many of its distinct word n-grams
    * already exist anywhere in the train split, and the novelty share
    * (1 − seen/total). [[decontaminate]] answers "which train/test doc
    * PAIRS overlap"; this answers the per-test-doc census a data card
    * reports. Split assignment is the engine's deterministic
    * Knuth-multiplicative bucket, so the audit covers the exact split
    * the pipeline would emit.
    *
    * Scale shape: grams travel as 64-bit hashes from the single-pass
    * native kernel; the train side collapses to DISTINCT grams before
    * the join, so every test gram matches AT MOST ONE row — a left
    * join with zero fan-out, immune to boilerplate-gram skew by
    * construction (the hot gram is one row on the build side). One
    * uniform-key shuffle join + one doc-keyed aggregate. Docs with
    * fewer than n tokens have no gram set and are absent, matching
    * the oracle's WHERE.
    */
  def noveltyProfile(df: DataFrame, id: String, text: String,
                     n: Int): DataFrame = {
    val grams = df.select(col(id),
      graft.functions.Binning.knuthBucket(col(id)).as("__b"),
      explode(graft.functions.TextHashing.ngramHashes(col(text), n)).as("g"))
    val train = grams.filter(col("__b") < 80)
      .select(col("g")).distinct().withColumn("__seen", lit(1L))
    grams.filter(col("__b") >= 90)
      .select(col(id).as("doc_id"), col("g"))
      .join(train, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__seen"), lit(0L))).as("n_seen"))
      .withColumn("novelty",
        roundHalfAway(lit(1.0) - col("n_seen").cast("double") / col("n_grams"), 6))
  }

  /** Exact Jaccard-similar pairs (ids a < b) above `threshold`, via
    * explode + inverted-index self-join on the shingle string. At scale
    * the join key would be `xxhash64(shingle)` (narrower shuffle, same
    * result modulo 2^-64 collisions); the string key keeps the oracle
    * bit-exact.
    */
  /** (doc, sorted distinct shingle-hash array) via the single-pass
    * native kernel ([[graft.functions.TextHashing]]).
    */
  private def hashedShingles(df: DataFrame, id: String, text: String,
                             n: Int): DataFrame = {
    df.select(col(id).as("doc"),
      graft.functions.TextHashing.ngramHashes(col(text), n).as("hs"))
  }

  /** Exact threshold-Jaccard pairs via prefix filtering (SSJoin /
    * PPJoin family): under ANY global total order of shingles — here
    * ascending hash value, which the kernel already emits sorted — two
    * sets with Jaccard ≥ t MUST share an element within each set's
    * first |s| − ⌈t·|s|⌉ + 1 elements. So the inverted index is built
    * over ~(1−t)·|s| prefix hashes instead of all of them, the join
    * applies the length filter (t·|b| ≤ |a|), and the surviving
    * candidate pairs — a small superset of the answer — are verified
    * exactly with one array_intersect over the full sorted arrays.
    * Lossless: output is identical to the all-shingles join; the
    * shuffled pair stream shrinks by ~|prefix|/|s| plus the verify
    * dedup (each candidate once, not once per shared shingle).
    */
  def jaccardPairs(df: DataFrame, id: String, text: String, n: Int,
                   threshold: Double): DataFrame = {
    // self-joins get no exchange reuse: materialize the shingle table
    // once (one kernel pass) instead of re-hashing the corpus on every
    // of its four plan references
    val sh = hashedShingles(df, id, text, n).localCheckpoint(true)
    val preLen = (size(col("hs")) -
      ceil(lit(threshold) * size(col("hs"))) + 1).cast("int")
    val ex = sh.filter(size(col("hs")) > 0)
      .select(col("doc"), size(col("hs")).as("sz"),
        explode(slice(col("hs"), lit(1), preLen)).as("h"))
    val cand = ex.as("a")
      .join(ex.as("b"), col("a.h") === col("b.h") && col("a.doc") < col("b.doc")
        && col("a.sz") >= ceil(lit(threshold) * col("b.sz"))
        && col("b.sz") >= ceil(lit(threshold) * col("a.sz")))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
    // Verify candidates WITH duplicates (a pair appears once per shared
    // prefix hash — a few %): deduplicating 250 verified rows at the
    // end is one tiny shuffle vs a distinct over the whole candidate
    // stream. shuffle_hash: build the doc-keyed shingle side per
    // partition instead of sort-merging both sides.
    cand
      .join(sh.select(col("doc").as("doc_a"), col("hs").as("sha"))
        .hint("shuffle_hash"), Seq("doc_a"))
      .join(sh.select(col("doc").as("doc_b"), col("hs").as("shb"))
        .hint("shuffle_hash"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .distinct()
  }

  /** Asymmetric containment pairs: C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|
    * ≥ threshold over word n-gram shingle sets, A ≠ B — the near-dup
    * signal symmetric Jaccard misses when a short document is embedded
    * in a much longer one (quoted articles, digests, concatenated
    * crawl pages). Emits every ordered (sub, super) pair.
    *
    * Prefix filtering holds on the SUBJECT side only: if none of A's
    * first |A| − ⌈t·|A|⌉ + 1 smallest hashes hits B, fewer than t·|A|
    * elements can intersect — so the index carries just A's prefix but
    * probes ALL of B's shingles (B has no usable prefix bound: it may
    * be arbitrarily large). The one valid size prune is t·|A| ≤ |B|
    * (an intersection can never exceed B). Candidates are then
    * verified exactly over the full sorted hash arrays, same contract
    * as [[jaccardPairs]] (lossless; oracle-exact modulo 2⁻⁶⁴ hash
    * collisions).
    */
  def containmentPairs(df: DataFrame, id: String, text: String, n: Int,
                       threshold: Double): DataFrame = {
    val sh = hashedShingles(df, id, text, n).localCheckpoint(true)
    val preLen = (size(col("hs")) -
      ceil(lit(threshold) * size(col("hs"))) + 1).cast("int")
    val subj = sh.filter(size(col("hs")) > 0)
      .select(col("doc"), size(col("hs")).as("sz"),
        explode(slice(col("hs"), lit(1), preLen)).as("h"))
    val all = sh.filter(size(col("hs")) > 0)
      .select(col("doc").as("docB"), size(col("hs")).as("szb"),
        explode(col("hs")).as("hb"))
    val cand = subj.join(all, col("h") === col("hb") &&
        col("doc") =!= col("docB") &&
        col("szb") >= ceil(lit(threshold) * col("sz")))
      .select(col("doc").as("doc_sub"), col("docB").as("doc_super"))
    cand
      .join(sh.select(col("doc").as("doc_sub"), col("hs").as("sha"))
        .hint("shuffle_hash"), Seq("doc_sub"))
      .join(sh.select(col("doc").as("doc_super"), col("hs").as("shb"))
        .hint("shuffle_hash"), Seq("doc_super"))
      .select(col("doc_sub"), col("doc_super"),
        (size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(col("sha"))).as("containment"))
      .filter(col("containment") >= threshold)
      .distinct()
  }

  /** MinHash signature columns via the standard universal-hash family
    * gᵢ(x) = (aᵢ·x + bᵢ) mod p over the base shingle hash x =
    * xxhash64(shingle) mod p, p = 2³¹−1 (the same family Spark ML's
    * MinHashLSH uses). The shingle string is hashed ONCE; each of the
    * `numHashes` permutations is two long ops — all inside one
    * map-side-combined groupBy(doc) with `numHashes` min aggregates: a
    * single shuffle keyed by doc id. Products stay < 2⁶² so ANSI-mode
    * arithmetic never overflows.
    */
  private val MinhashPrime = 2147483647L // 2^31 - 1
  private def hashFamily(numHashes: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numHashes)(
      (1L + rnd.nextInt(Int.MaxValue - 1), rnd.nextInt(Int.MaxValue).toLong))
  }

  private def signatures(df: DataFrame, id: String, text: String, n: Int,
                         numHashes: Int): DataFrame = {
    val ex = hashedShingles(df, id, text, n)
      .select(col("doc"), explode(col("hs")).as("h"))
      .select(col("doc"), pmod(col("h"), lit(MinhashPrime)).as("x"))
    val mins = hashFamily(numHashes, seed = 7L).zipWithIndex.map {
      case ((a, b), i) =>
        min((lit(a) * col("x") + lit(b)) % MinhashPrime).as(s"m$i")
    }
    ex.groupBy(col("doc")).agg(mins.head, mins.tail: _*)
  }

  /** MinHash + banded LSH near-dup pairs, exact-verified.
    *
    * `numHashes` minhashes in `bands` bands of r = numHashes/bands rows:
    * docs sharing any band bucket become candidates; candidates are then
    * verified with exact Jaccard over their (distinct) shingle sets, so
    * the output equals [[jaccardPairs]] except for pairs the LSH missed —
    * with 128/32 and j ≥ 0.8 the miss probability per pair is
    * (1 − j⁴)³² < 5·10⁻⁸.
    */
  def minhashLshPairs(df: DataFrame, id: String, text: String, n: Int,
                      threshold: Double, numHashes: Int = 128,
                      bands: Int = 32): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // Signature + banding in ONE map-only native kernel per doc
    // (band index folded into the band hash, so the join key is the
    // single band-hash long). The composable alternative — explode +
    // 128 min-aggregates + 32 xxhash64 band columns — shuffles every
    // shingle and pays a 128-expression plan for the same result.
    // localCheckpoint: one kernel pass shared by banding + the two
    // verification joins (self-join plans get no exchange reuse).
    val sh = hashedShingles(df, id, text, n).localCheckpoint(true)
    val ex = sh.filter(size(col("hs")) > 0)
      .select(col("doc"),
        explode(graft.functions.TextHashing
          .minhashBands(col("hs"), numHashes, bands, seed = 7L)).as("bh"))
    // Bucket members pair up via one groupBy — half the shuffles of the
    // inverted-index self-join and no join at all. Bucket sizes are
    // near-dup cluster sizes (small); a mass-duplicate corpus would cap
    // or salt the hottest buckets upstream.
    val cand = ex.groupBy(col("bh"))
      .agg(array_sort(collect_list(col("doc"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(flatten(transform(col("ds"), (x, i) =>
        transform(slice(col("ds"), i + lit(2), size(col("ds"))), y =>
          struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
    // exact verification over the candidates only
    cand
      .join(sh.select(col("doc").as("doc_a"), col("hs").as("sha")), Seq("doc_a"))
      .join(sh.select(col("doc").as("doc_b"), col("hs").as("shb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Streaming admission control: near-dup-check each INCOMING
    * document against a STATIC corpus — the operation a 100 TB
    * training pipeline runs on every new crawl batch, without ever
    * recomputing the corpus. Works on a streaming `incoming` frame
    * (the joins are stream–static: STATELESS, append-mode, no
    * watermark, state size zero at any rate) and identically on a
    * batch frame.
    *
    * Shape: the corpus side is banded ONCE (same map-only MinHash
    * band kernel as [[minhashLshPairs]], same seed — band collision
    * probability contract carries over); each incoming doc computes
    * its own bands map-only, probes the band index by the single
    * band-hash long, and candidates are exact-verified against the
    * corpus shingle arrays. Emits one row per (incoming, corpus)
    * verified pair PER COLLIDING BAND — deduplicate at the sink
    * (`dropDuplicates` on an append stream would add state; the
    * pair stream is tiny, so batch-side distinct is the right cost).
    */
  def corpusAdmission(incoming: DataFrame, corpus: DataFrame, id: String,
                      text: String, n: Int, threshold: Double,
                      numHashes: Int = 128, bands: Int = 32): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val cSh = hashedShingles(corpus, id, text, n).localCheckpoint(true)
    val cIndex = cSh.filter(size(col("hs")) > 0)
      .select(col("doc").as("corpus_doc"),
        explode(graft.functions.TextHashing
          .minhashBands(col("hs"), numHashes, bands, seed = 7L)).as("cbh"))
    val cArr = cSh.select(col("doc").as("corpus_doc"), col("hs").as("shc"))
    val sEx = incoming
      .select(col(id).as("in_doc"),
        graft.functions.TextHashing.ngramHashes(col(text), n).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("in_doc"), col("hs"),
        explode(graft.functions.TextHashing
          .minhashBands(col("hs"), numHashes, bands, seed = 7L)).as("bh"))
    sEx.join(cIndex, col("bh") === col("cbh"))
      .join(cArr, Seq("corpus_doc"))
      .select(col("in_doc"), col("corpus_doc"),
        (size(array_intersect(col("hs"), col("shc"))).cast("double") /
          size(array_union(col("hs"), col("shc")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ---- persisted band index: build once, append deltas, probe forever ----
  //
  // [[corpusAdmission]] re-bands the corpus per call; at 100 TB the
  // corpus signature pass is the dominant cost and must be paid ONCE.
  // The production framing (the near-dup twin of the persisted IVF
  // index, `similarity/Ann.scala`): the index is a pair of TABLES —
  //   dir/bands/ingest=<id>/band=N  (bh, doc): the inverted band
  //                 index, partitioned by ingest batch and band number
  //                 so each band's files compact/expire independently;
  //   dir/shingles/ingest=<id>      (doc, hs): the shingle arrays the
  //                 exact-verify join reads.
  // EVERY write path parks under an ingest=<id> partition — batch
  // build/append use the reserved id -1, streaming micro-batches use
  // their batchId — so a batch-built index later grown by streaming
  // deltas has ONE uniform partition depth. (Before r06, build wrote
  // bands/band=N while streaming wrote bands/ingest=k/band=N; mixing
  // the two made partition discovery fail with "conflicting directory
  // structures" exactly on the natural build-once-then-stream flow.)
  // MinHash has no trained state (the hash seed IS the model), so a
  // delta append is exactly the build kernel over the new docs plus
  // two appends — existing rows are never read or rewritten, and
  // unlike IVF there are no frozen centroids to drift: an index grown
  // by N appends is bit-identical to one built in a single pass,
  // which is what the spec pins.

  /** Build the persisted band index at `dir` (same kernel + seed as
    * [[minhashLshPairs]], so the band collision contract carries over).
    * A build is FROM SCRATCH: any existing index at `dir` — including
    * streaming `ingest=<id>` partitions a previous parameterization
    * left behind — is deleted first. Without the clear, a rebuild
    * with different params would rewrite only `ingest=-1`, replace
    * params.json, and leave old-hash-space partitions that every
    * probe would silently mix in (the exact silent-wrong class
    * checkIndexParams exists to refuse). Growing an index is
    * [[bandIndexAppend]] / [[bandIndexIngestBatch]], which validate
    * params instead.
    */
  def bandIndexBuild(corpus: DataFrame, id: String, text: String, n: Int,
                     dir: String, numHashes: Int = 128,
                     bands: Int = 32): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    writeIndexParams(dir, n, numHashes, bands, createOnly = false)
    writeBandKernel(corpus, id, text, n, numHashes, bands,
      s"$dir/shingles/ingest=$BatchIngestId",
      s"$dir/bands/ingest=$BatchIngestId", "overwrite")
  }

  /** Ingest new documents: signature pass over the DELTA only, append
    * to both tables. O(delta), never O(corpus).
    */
  def bandIndexAppend(delta: DataFrame, id: String, text: String, n: Int,
                      dir: String, numHashes: Int = 128,
                      bands: Int = 32): Unit = {
    checkIndexParams(dir, n, numHashes, bands)
    writeBandKernel(delta, id, text, n, numHashes, bands,
      s"$dir/shingles/ingest=$BatchIngestId",
      s"$dir/bands/ingest=$BatchIngestId", "append")
  }

  /** Reserved ingest-partition id for batch build/append writes;
    * streaming micro-batches use their (non-negative) batchId.
    */
  private val BatchIngestId = -1L

  /** The one signature+banding kernel every index write path goes
    * through — build, append, and streaming ingest differ only in
    * target paths and write mode, so they cannot diverge.
    */
  private def writeBandKernel(docs: DataFrame, id: String, text: String,
                              n: Int, numHashes: Int, bands: Int,
                              shinglesPath: String, bandsPath: String,
                              mode: String): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val (sh, w) = signedBands(docs, id, text, n, numHashes, bands)
    writeSignedKernel(sh, w, bands, shinglesPath, bandsPath, mode)
    sh.unpersist()
    ()
  }

  /** The materialized signature set every index write path builds:
    * (doc, hs, bands) with the MinHash band hashes computed INTO the
    * checkpoint. Two disease fixes in one place (r11):
    *  - the banding pass (numHashes hash evaluations per shingle — the
    *    kernel's real CPU cost) used to re-run per CONSUMER: once in
    *    the bands write and again in the fused probe. Computed once
    *    here, consumers explode/reuse the stored arrays;
    *  - a micro-batch or small corpus slice arrives in 1-2 input
    *    splits, so that compute ran on 1-2 of the session's cores
    *    (measured 0.77 s single-task on the sf0.1 build). Inputs with
    *    fewer splits than the session's parallelism are widened first;
    *    corpus-scale inputs (splits >= cores) are untouched, so no
    *    extra text shuffle appears at scale. Writers coalesce back to
    *    the INPUT width, so the on-disk file layout is exactly what
    *    the unwidened kernel produced.
    */
  private def signedBands(docs: DataFrame, id: String, text: String,
                          n: Int, numHashes: Int, bands: Int): (DataFrame, Int) = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val inWidth = math.max(1, docs.rdd.getNumPartitions)
    val src = if (inWidth < par) docs.repartition(par) else docs
    (hashedShingles(src, id, text, n)
      .filter(size(col("hs")) > 0)
      .withColumn("bands", graft.functions.TextHashing
        .minhashBands(col("hs"), numHashes, bands, seed = 7L))
      .localCheckpoint(true), inWidth)
  }

  /** The two index writes from an already-materialized signature set
    * ([[signedBands]] output: doc, hs, bands) — split out of
    * [[writeBandKernel]] so the streaming ingest-probe fast path can
    * reuse ONE signature pass for both writes AND the probe without a
    * second kernel implementation. `width` = the INPUT's split count:
    * both writes coalesce the (possibly widened) checkpoint back to
    * it, so the stored file layout is independent of the widening.
    */
  private def writeSignedKernel(sh: DataFrame, width: Int, nBands: Int,
                                shinglesPath: String, bandsPath: String,
                                mode: String,
                                concurrent: Boolean = false): Unit = {
    def wrShingles(): Unit = sh.select(col("doc"), col("hs"))
      .coalesce(width).write.mode(mode).parquet(shinglesPath)
    // the partitioned bands write was pathological at BOTH ends
    // without an exchange on the partition column: a width-1 input
    // created all nBands partition files sequentially from one task
    // (~0.1 CPU-s per creation on this FS — measured 0.69 s vs ~0.1 s
    // of data), and a width-W input fanned W tasks × nBands dirs of
    // small files (measured 23 s on the factor-10 audit's 32-split
    // corpus — the exact failure r10 fixed for IVF cells). One keyed
    // exchange fixes both, salted so write parallelism still scales
    // with the input instead of capping at nBands: each band splits
    // into ceil(width/nBands) bounded-salt slices — one file per
    // (band, slice), ~width write tasks, total file count ∝ width,
    // never width × nBands.
    def wrBands(): Unit = {
      val slices = math.max(1, (width + nBands - 1) / nBands)
      sh.select(col("doc"),
          posexplode(col("bands")).as(Seq("band", "bh")))
        .repartition(nBands * slices, col("band"),
          pmod(hash(col("doc")), lit(slices)))
        .write.mode(mode).partitionBy("band").parquet(bandsPath)
    }
    // the two writes are independent reads of the same materialized
    // signature blocks; at micro-batch size their cost is per-job
    // fixed floor, so the streaming fast path overlaps them (the
    // corpus-scale batch build keeps them sequential — there the cost
    // is real I/O and overlap would just contend)
    if (concurrent) {
      val ec = scala.concurrent.ExecutionContext.global
      Seq(scala.concurrent.Future(wrShingles())(ec),
        scala.concurrent.Future(wrBands())(ec))
        .foreach(scala.concurrent.Await
          .result(_, scala.concurrent.duration.Duration.Inf))
    } else { wrShingles(); wrBands() }
  }

  /** Index maintenance: fold every `ingest=<batchId>` partition into
    * the reserved batch partition and bound the file count — the
    * compaction a long-running streaming ingest eventually needs
    * (each micro-batch leaves its own small-file partition; band-probe
    * planning cost grows with file count, not row count). Rows are
    * conserved exactly (validated before the swap) and probe results
    * are unchanged — MinHash has no trained state, so compaction is
    * pure layout. Crash-safe: each table is staged as `<name>_staged`
    * and swapped in by [[PersistedTable.replace]]. Run it with the
    * ingesting stream stopped: folding live batch partitions away
    * would make an at-least-once REPLAY of those batches append
    * duplicates instead of idempotently overwriting.
    */
  def bandIndexCompact(s: org.apache.spark.sql.SparkSession,
                       dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir, "params.json")
    require(java.nio.file.Files.exists(p),
      s"no band index at $dir (params.json missing)")
    val nBands = java.nio.file.Files.readString(p)
      .stripPrefix("[").stripSuffix("]").split(",")(2).trim.toInt
    val shingles = s.read.parquet(s"$dir/shingles")
    val bands = s.read.parquet(s"$dir/bands")
    // ONE counting job for both live tables (they were two — each a
    // whole driver action of pure per-job floor at fold sizes)
    val liveCounts = shingles.select(lit(true).as("sh"))
      .unionByName(bands.select(lit(false).as("sh")))
      .groupBy(col("sh")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    val (nSh, nBd) =
      (liveCounts.getOrElse(true, 0L), liveCounts.getOrElse(false, 0L))
    // an empty index (built over blank docs, or already fully expired)
    // has nothing to fold — and a partitioned write of ZERO rows emits
    // no files, so the staged read/swap below would fail on it
    if (nSh == 0 && nBd == 0) return
    // the two staged writes read independent tables — overlap them
    // (the writeSignedKernel concurrency rationale: at fold sizes the
    // cost is per-job floor, not I/O bandwidth)
    def wrSh(): Unit = shingles.drop("ingest").coalesce(8)
      .write.mode("overwrite")
      .parquet(s"$dir/shingles_staged/ingest=$BatchIngestId")
    def wrBd(): Unit = PersistedTable.write(bands.drop("ingest"), "band",
      nBands, s"$dir/bands_staged/ingest=$BatchIngestId",
      PersistedTable.Overwrite)
    val ec = scala.concurrent.ExecutionContext.global
    Seq(scala.concurrent.Future(wrSh())(ec),
      scala.concurrent.Future(wrBd())(ec))
      .foreach(scala.concurrent.Await
        .result(_, scala.concurrent.duration.Duration.Inf))
    def swap(name: String): Unit = PersistedTable.replace(
      new java.io.File(s"$dir/$name"),
      new java.io.File(s"$dir/${name}_staged"),
      new java.io.File(s"$dir/${name}_old"))
    // row conservation still validated against the STAGED FILES (the
    // parquet round-trip itself), in one job instead of two
    val stagedCounts = s.read.parquet(s"$dir/shingles_staged")
      .select(lit(true).as("sh"))
      .unionByName(s.read.parquet(s"$dir/bands_staged")
        .select(lit(false).as("sh")))
      .groupBy(col("sh")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    require(stagedCounts.getOrElse(true, 0L) == nSh &&
      stagedCounts.getOrElse(false, 0L) == nBd,
      "compacted band index lost rows — aborting swap")
    swap("shingles")
    swap("bands")
  }

  /** The hash parameters ARE the index's model (there is no trained
    * state), so they are persisted beside the tables and validated on
    * every append/ingest/probe — a mismatched probe would otherwise
    * SILENTLY return empty/wrong results (band hashes never collide
    * across parameterizations). The IVF twin gets this for free from
    * its stored centroid table.
    */
  private val IndexSeed = 7L
  private def paramsRow(n: Int, numHashes: Int, bands: Int): Seq[Long] =
    Seq(n.toLong, numHashes.toLong, bands.toLong, IndexSeed)

  private def writeIndexParams(dir: String, n: Int,
                               numHashes: Int, bands: Int,
                               createOnly: Boolean): Unit = {
    val p = java.nio.file.Paths.get(dir, "params.json")
    if (createOnly && java.nio.file.Files.exists(p)) {
      checkIndexParams(dir, n, numHashes, bands)
    } else {
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p,
        paramsRow(n, numHashes, bands).mkString("[", ",", "]"))
    }
    ()
  }

  private def checkIndexParams(dir: String, n: Int,
                               numHashes: Int, bands: Int): Unit = {
    val p = java.nio.file.Paths.get(dir, "params.json")
    require(java.nio.file.Files.exists(p),
      s"no band index at $dir (params.json missing) — run bandIndexBuild first")
    val stored = java.nio.file.Files.readString(p)
      .stripPrefix("[").stripSuffix("]").split(",").map(_.trim.toLong).toSeq
    require(stored == paramsRow(n, numHashes, bands),
      s"band index at $dir was built with (n,numHashes,bands,seed)=$stored; " +
        s"caller passed ${paramsRow(n, numHashes, bands)} — probe/append " +
        "with mismatched parameters would silently miss every candidate")
  }

  /** Streaming-ingest form of [[bandIndexAppend]]: the micro-batch
    * lands in its own `ingest=<batchId>` partition directory with
    * OVERWRITE (the [[graft.io.IdempotentBatchSink]] pattern), so an
    * at-least-once foreachBatch redelivery replaces its own previous
    * write instead of duplicating index rows — duplicates would leak
    * into probe output as repeated pair rows. Readers scan the index
    * root; the ingest id surfaces as an ordinary partition column.
    * Same signature kernel as the batch build — ONE implementation
    * ([[writeBandKernel]]), so the streamed index cannot diverge.
    */
  def bandIndexIngestBatch(delta: DataFrame, id: String, text: String,
                           n: Int, dir: String, batchId: Long,
                           numHashes: Int = 128, bands: Int = 32): Unit = {
    require(batchId >= 0,
      s"ingest batchId must be non-negative (got $batchId) — ingest=" +
        s"$BatchIngestId is reserved for batch build/append writes")
    // first batch stamps the params; later batches (and restarts)
    // validate against them
    writeIndexParams(dir, n, numHashes, bands, createOnly = true)
    val (sh, w) = signedBands(delta, id, text, n, numHashes, bands)
    // micro-batch writes are per-job fixed floor, so overlap them —
    // same rationale as the fused ingest+probe path
    writeSignedKernel(sh, w, bands,
      s"$dir/shingles/ingest=$batchId", s"$dir/bands/ingest=$batchId",
      "overwrite", concurrent = true)
    sh.unpersist()
    ()
  }

  /** Near-dup-check `incoming` against the STORED index — the
    * incremental form of [[corpusAdmission]]: the incoming batch pays
    * its own map-only signature pass, probes the stored band index by
    * (band, band-hash), and candidates are exact-verified against the
    * stored shingle arrays. No corpus-side compute at probe time.
    * Reads a batch-built ([[bandIndexBuild]]) and a streaming-ingested
    * ([[bandIndexIngestBatch]]) index alike — the ingest partition
    * column is simply ignored.
    */
  def bandIndexProbe(incoming: DataFrame, id: String, text: String, n: Int,
                     dir: String, threshold: Double, numHashes: Int = 128,
                     bands: Int = 32): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    checkIndexParams(dir, n, numHashes, bands)
    probeSignatures(incoming
      .select(col(id).as("doc"),
        graft.functions.TextHashing.ngramHashes(col(text), n).as("hs"))
      .filter(size(col("hs")) > 0), dir, threshold, numHashes, bands)
  }

  /** Probe body over precomputed signatures (`doc`, `hs`) — shared by
    * [[bandIndexProbe]] and the streaming ingest-probe fast path.
    */
  private def probeSignatures(sigs: DataFrame, dir: String,
                              threshold: Double, numHashes: Int,
                              bands: Int): DataFrame = {
    val s = sigs.sparkSession
    val cIndex = s.read.parquet(s"$dir/bands")
      .select(col("doc").as("corpus_doc"), col("band"), col("bh"))
    val cArr = s.read.parquet(s"$dir/shingles")
      .select(col("doc").as("corpus_doc"), col("hs").as("shc"))
    // a [[signedBands]] caller already materialized the band hashes —
    // re-deriving them here would repeat the kernel's real CPU cost
    // (numHashes evaluations per shingle) once more per probe
    val bandArr =
      if (sigs.columns.contains("bands")) col("bands")
      else graft.functions.TextHashing
        .minhashBands(col("hs"), numHashes, bands, seed = 7L)
    val sEx = sigs
      .select(col("doc").as("in_doc"), col("hs"),
        posexplode(bandArr).as(Seq("band", "bh")))
    // a pair can collide in several bands → distinct before the
    // (more expensive) exact verify, not after
    sEx.join(cIndex, Seq("band", "bh"))
      .select(col("in_doc"), col("hs"), col("corpus_doc")).distinct()
      .join(cArr, Seq("corpus_doc"))
      .select(col("in_doc"), col("corpus_doc"),
        (size(array_intersect(col("hs"), col("shc"))).cast("double") /
          size(array_union(col("hs"), col("shc")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Fused streaming ingest + probe: ONE signature pass over the
    * micro-batch feeds the two idempotent `ingest=<batchId>` index
    * writes AND the probe of the (now self-inclusive) stored index —
    * [[bandIndexIngestBatch]] followed by [[bandIndexProbe]] computes
    * the batch's n-gram/MinHash signatures twice and spends an extra
    * checkpoint job per trigger, which at micro-batch cadence is pure
    * fixed floor. Identical write kernel and probe body, so results
    * cannot diverge from the unfused pair.
    */
  def bandIndexIngestProbeBatch(delta: DataFrame, id: String, text: String,
                                n: Int, dir: String, batchId: Long,
                                threshold: Double, numHashes: Int = 128,
                                bands: Int = 32): DataFrame = {
    require(batchId >= 0,
      s"ingest batchId must be non-negative (got $batchId) — ingest=" +
        s"$BatchIngestId is reserved for batch build/append writes")
    require(numHashes % bands == 0, "bands must divide numHashes")
    writeIndexParams(dir, n, numHashes, bands, createOnly = true)
    checkIndexParams(dir, n, numHashes, bands)
    val (sh, w) = signedBands(delta, id, text, n, numHashes, bands)
    writeSignedKernel(sh, w, bands,
      s"$dir/shingles/ingest=$batchId", s"$dir/bands/ingest=$batchId",
      "overwrite", concurrent = true)
    probeSignatures(sh, dir, threshold, numHashes, bands)
  }

  /** Connected components over a near-dup pair list → dedup groups:
    * every doc in a component labels itself with the component's
    * minimum doc id (the canonical keeper). Two phases:
    *
    * 1. **Partition-local contraction**: hash-partition the doubled
    *    edge list by source and run an in-memory union-find per
    *    partition (the one genuinely imperative per-partition step —
    *    `mapPartitions` territory). Each partition emits star edges
    *    (node → local min-id root). This collapses everything locally
    *    connected in ONE pass; the union of the stars has exactly the
    *    original components (an edge (u,v) lands in u's partition,
    *    which links u and v through a shared root).
    * 2. **Min-label propagation** over the (much smaller, much
    *    shallower) star graph — per round one join + one
    *    min-aggregate, lineage truncated with localCheckpoint so
    *    plans stay flat. Star diameters are ~the number of partition
    *    boundaries a component crosses, so the loop converges in 1–2
    *    rounds where naive propagation needs diameter rounds.
    *
    * Shuffle width tracks the edge count (≥1 partition per ~500k
    * edges), not the session default: the pair list is tiny relative
    * to the corpus, and frontier-sized shuffles keep the per-round
    * fixed cost proportional to the work — the same clamp keeps
    * per-task union-find state at a few MB at 100 TB. The driver sees
    * only a one-row convergence check per round, never the data. Only
    * docs that appear in some pair are emitted (singletons are their
    * own trivial component). Ids must be integral (doc/event ids).
    */
  def connectedComponents(pairs: DataFrame, aCol: String,
                          bCol: String,
                          edgesPerTask: Long = 500000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // one direction suffices for phase 1 (an edge links u and v in
    // whichever partition it lands; doubling would only make local
    // merging marginally more aggressive for 2× the shuffle), and
    // union-find tolerates duplicate edges, so no distinct either.
    // Checkpoint: the pair computation feeding this is expensive and
    // is consumed twice (count + contraction).
    val edges = pairs.select(col(aCol).cast("long").as("u"),
      col(bCol).cast("long").as("v")).localCheckpoint(true)
    val defaultWidth = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // the width heuristic needs a MAGNITUDE, not an exact row count:
    // the eager checkpoint just materialized every edge block, so read
    // their total size straight off the block manager instead of
    // spending a whole counting job per CC call (16 MB/task ≈ the
    // 500k-edges-of-32-byte-rows clamp the row-count form used);
    // fall back to the count when the storage lookup can't see it
    val bytesPerTask = math.max(1L, edgesPerTask * 32)
    val width = checkpointedBytes(edges) match {
      case Some(b) => math.max(1L,
        math.min(defaultWidth.toLong, b / bytesPerTask + 1)).toInt
      case None => math.max(1L,
        math.min(defaultWidth.toLong, edges.count() / edgesPerTask + 1)).toInt
    }
    val star = edges.repartition(width, col("u")).as[(Long, Long)]
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != c) {
            val nx = parent(c); parent(c) = r; c = nx
          }
          r
        }
        val seen = scala.collection.mutable.LongMap.empty[Unit]
        for ((u, v) <- it) {
          seen.update(u, ()); seen.update(v, ())
          val (ru, rv) = (find(u), find(v))
          if (ru != rv) { // min id wins so the root IS the local keeper
            if (ru < rv) parent(rv) = ru else parent(ru) = rv
          }
        }
        seen.keysIterator.map(x => (x, find(x)))
      }.toDF("node", "label")
    // recursive contraction bottoms out when the graph fits one task:
    // a single union-find saw every edge, so the stars ARE the answer.
    // Checkpoint either way: consumers join the labels back to the
    // corpus, and an ExistingRDD leaf gives the planner a real size
    // (broadcastable) where the raw mapPartitions lineage would not.
    val resolved =
      if (width == 1) star.localCheckpoint(true)
      else propagateMinLabel(star.localCheckpoint(true))
    resolved.select(col("node").as("doc"), col("label").as("component"))
  }

  /** Incremental component maintenance under corpus growth — the
    * missing production step between the persisted band index
    * ([[bandIndexAppend]]/[[bandIndexProbe]] keep the EDGE discovery
    * O(delta)) and cluster labels, which until now needed a full
    * [[connectedComponents]] recompute per delta. Given the previous
    * labeling (`doc`, `component` — component is the member-minimum
    * id, the invariant [[connectedComponents]] establishes) and the
    * NEW edge pairs a delta introduced (delta–delta and delta–corpus,
    * exactly what a band-index probe of the delta emits), returns the
    * labeling of the grown graph — bit-equal to recomputing from
    * scratch over the union of all edges ever seen (spec-pinned),
    * because an old component is exactly represented by its label
    * star: every member connected to the min-id member, which is
    * itself a node of the graph.
    *
    * Work is bounded by the DELTA, not the corpus: only components
    * touched by a new-edge endpoint are re-resolved (their star edges
    * union the new pairs — a graph of size |affected| + |delta|);
    * every untouched component's rows pass through with one
    * broadcast-able anti-join, no recompute, no wide shuffle. At
    * 100 TB this is the difference between a nightly full CC over
    * 10^11 docs and re-labeling the handful of clusters the day's
    * ingest actually touched. New docs with no edge at all are (as in
    * [[connectedComponents]]) their own trivial singleton — callers
    * union them in if they materialize labels for every doc.
    */
  def componentsAppend(labels: DataFrame, newPairs: DataFrame,
                       aCol: String, bCol: String): DataFrame = {
    val lab = normalizedLabels(labels)
    val (touched, relabeled) = componentsAppendParts(lab, newPairs, aCol, bCol)
    lab.join(touched, Seq("component"), "left_anti")
      .select(col("doc"), col("component"))
      .union(relabeled)
  }

  /** Incremental CANONICAL-KEEPER maintenance — the argmax layer over
    * [[componentsAppend]]: given the previous canonical table
    * (`component`, `keeper`, `keeper_q`, `n_members` — one row per
    * component over the ENTIRE old corpus, singletons included), the
    * previous pair-graph labeling, the delta docs with their quality
    * scores, and the delta's new edges, returns the canonical table of
    * the grown corpus — bit-equal to rebuilding it from scratch.
    *
    * Why the fold is exact with only per-component AGGREGATES of the
    * old corpus: components under growth only ever MERGE (an edge never
    * splits one), so a new component's member set is a disjoint union
    * of whole old components plus delta docs — and argmax over a
    * disjoint union is the argmax over each part's stored argmax.
    * n_members adds the same way. No old DOC row is ever re-read: the
    * stored keeper struct stands in for its whole component.
    *
    * Work is O(delta + touched), like the labeling it composes with:
    * the only corpus-sized input is the keeper table itself (one row
    * per component), which passes through a single map-side-combined
    * aggregate keyed by the (mostly identity) old→new component map.
    *
    * Contract (driver-gated by `dedup_canonical_incr` and spec-pinned):
    * equality with the scratch [[dedup_canonical_best]] aggregate over
    * the full corpus. `keeper_q` must be rounded identically on both
    * the stored and the delta side — the struct max compares it first.
    */
  /** The canonical-selection aggregate over an already-scored doc set:
    * label every (id, q) row (docs outside the labeling are their own
    * singleton component), then ONE max-of-struct argmax + census per
    * component — keeper = highest q, ties to the lower id. This is
    * THE definition of the keeper tie-break: the driver queries, the
    * differential specs, and the scale audit all call it, so a change
    * to the ordering lands everywhere at once.
    */
  def canonicalTable(docsQ: DataFrame, labels: DataFrame,
                     idCol: String, qCol: String): DataFrame =
    docsQ.join(labels, docsQ(idCol) === labels("doc"), "left")
      .select(coalesce(col("component"), docsQ(idCol)).as("component"),
        docsQ(idCol).as("__id"), col(qCol).as("__q"))
      .groupBy(col("component"))
      .agg(max(struct(col("__q").as("q"), (-col("__id")).as("nid"))).as("m"),
        count(lit(1)).as("n_members"))
      .select(col("component"), (-col("m.nid")).as("keeper"),
        col("m.q").as("keeper_q"), col("n_members"))

  /** EXACTLY-ONCE contract: each delta batch must be folded in at most
    * once. The fold is over stored argmax STRUCTS (not members), so a
    * replayed batch double-counts `n_members` and — because a delta
    * doc re-enters the max as a fresh candidate — can flip a keeper a
    * previous fold already retired. For at-least-once delivery use
    * [[curationMerge]], which recomputes touched components from their
    * member rows and is idempotent by construction.
    */
  def canonicalAppend(keepers: DataFrame, oldLabels: DataFrame,
                      deltaDocs: DataFrame, idCol: String, qCol: String,
                      newPairs: DataFrame, aCol: String,
                      bCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bcast}
    // ONLY the re-resolved part of the grown labeling: members of
    // touched components + the delta's graph nodes — genuinely
    // (touched + delta)-sized and broadcast-safe at any corpus size.
    // The FULL componentsAppend labeling would work too, but it is
    // O(pair-graph) (its anti-join pass-through carries every
    // untouched row), and broadcasting it here would break the
    // O(delta + touched) contract this fold exists for.
    val (_, relabeled) = componentsAppendParts(
      normalizedLabels(oldLabels), newPairs, aCol, bCol)
    // old component id → new component id. The old label is itself a
    // member doc of its component, so its row in the re-resolved
    // labeling IS the mapping; components the delta never touched
    // (and old singletons outside the pair graph) are absent from
    // `relabeled` and coalesce to themselves — the same value their
    // pass-through row would have carried.
    val mapped = keepers.select(
        col("component").cast("long").as("oldc"),
        struct(col("keeper_q").as("q"),
          (-col("keeper")).cast("long").as("nid")).as("m"),
        col("n_members").cast("long").as("n_members"))
      .join(bcast(relabeled.select(col("doc").as("oldc"),
        col("component").as("newc"))), Seq("oldc"), "left")
      .select(coalesce(col("newc"), col("oldc")).as("component"),
        col("m"), col("n_members"))
    // each delta doc is a 1-member candidate; docs outside the grown
    // pair graph are their own singleton component
    val deltaCand = deltaDocs.select(
        col(idCol).cast("long").as("doc"), col(qCol).as("q"))
      .join(bcast(relabeled), Seq("doc"), "left")
      .select(coalesce(col("component"), col("doc")).as("component"),
        struct(col("q"), (-col("doc")).as("nid")).as("m"),
        lit(1L).as("n_members"))
    mapped.union(deltaCand).groupBy(col("component"))
      .agg(max(col("m")).as("m"), sum(col("n_members")).as("n_members"))
      .select(col("component"), (-col("m.nid")).as("keeper"),
        col("m.q").as("keeper_q"), col("n_members"))
  }

  // deliberately NOT checkpointed: callers hand in a parquet scan or
  // an already-checkpointed labeling, and the three consumers (touched
  // discovery, star construction, pass-through anti-join) re-scanning
  // a column-pruned leaf is far cheaper than eagerly materializing the
  // corpus-sized relation on every delta merge
  private def normalizedLabels(labels: DataFrame): DataFrame = labels
    .select(col("doc").cast("long").as("doc"),
      col("component").cast("long").as("component"))

  /** The delta kernel shared by [[componentsAppend]] and the
    * partition-pruned [[labelsMerge]]: (components touched by a
    * new-edge endpoint — broadcastable, ≤ 2·|delta| rows; the fresh
    * labeling of touched members ∪ delta docs). `labels` must already
    * be normalized (long doc/component, checkpointed).
    */
  private def componentsAppendParts(lab: DataFrame, newPairs: DataFrame,
                                    aCol: String, bCol: String,
                                    pairsPinned: Boolean = false)
      : (DataFrame, DataFrame) = {
    // three consumers (touched discovery, star union, CC) justify
    // materializing an expensive pair stream ONCE — but when the
    // caller already pinned it (the streaming merge checkpoints the
    // probe output inside the trigger), a second checkpoint is a
    // whole wasted pass per merge
    val sel = newPairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
    val edges = if (pairsPinned) sel else sel.localCheckpoint(true)
    val touched = broadcast(lab
      .join(edges.select(col("u").as("doc"))
        .union(edges.select(col("v").as("doc"))).distinct(), Seq("doc"))
      .select(col("component")).distinct())
    // affected members' star edges (doc → old min label, a real node)
    // union the delta pairs: CC over this small graph yields the
    // exact merged labeling, min-label invariant preserved
    val star = lab.join(touched, Seq("component"))
      .select(col("doc").as("u"), col("component").as("v"))
    (touched, connectedComponents(star.union(edges), "u", "v"))
  }

  /** [[componentsAppend]] against a labels TABLE on storage, rewriting
    * only affected partitions — the piece that makes label maintenance
    * viable from a STREAM, where rewriting the whole labeling per
    * micro-batch would be O(corpus) I/O at every trigger. The table is
    * partitioned by `bucket = doc % nBuckets` — keyed by DOC, not
    * component, because a doc's bucket never changes when its
    * component label does, so a dynamic-partition overwrite can never
    * strand a stale row in a partition the write didn't touch. Per
    * merge: the delta is re-resolved ([[componentsAppendParts]]), the
    * affected buckets are exactly those holding a re-resolved doc, and
    * each one is rewritten as (its untouched rows) ∪ (its re-resolved
    * rows); untouched buckets are not read for the write and their
    * files are byte-identical after the merge (spec-pinned). Write
    * cost per batch: O(corpus/nBuckets · |affected buckets|), tuned by
    * `nBuckets` — never O(corpus) unless a batch genuinely touches
    * every bucket. Duplicate edge redelivery re-resolves to the same
    * fixpoint (idempotent), matching the at-least-once ingest story of
    * the band index this composes with.
    */
  def labelsMerge(dir: String, newPairs: DataFrame, aCol: String,
                  bCol: String, nBuckets: Int = 16,
                  pairsPinned: Boolean = false): Unit = {
    val s = newPairs.sparkSession
    val lab = readLabelsOrEmpty(s, dir)
    val (touched, relabeled) =
      componentsAppendParts(lab, newPairs, aCol, bCol, pairsPinned)
    writeLabelsPruned(s, dir, lab, touched, relabeled, nBuckets)
  }

  private[graft] def readLabelsOrEmpty(s: SparkSession, dir: String): DataFrame =
    if (new java.io.File(dir).exists())
      normalizedLabels(s.read.parquet(dir))
    else normalizedLabels(
      s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("component",
            org.apache.spark.sql.types.LongType)))))

  private def bucketOfCol(c: Column, nBuckets: Int): Column =
    pmod(c, lit(nBuckets.toLong)).cast("int")

  /** The labels write half of [[labelsMerge]], shared with
    * [[curationMerge]] (which computes the (touched, relabeled) parts
    * once and feeds BOTH derived tables).
    */
  private def writeLabelsPruned(s: SparkSession, dir: String,
                                lab: DataFrame, touched: DataFrame,
                                relabeled: DataFrame,
                                nBuckets: Int): Unit = {
    // componentsAppendParts' labeling comes back already
    // localCheckpoint'd (connectedComponents materializes its result);
    // re-checkpointing it here was one whole extra pass per merge
    val bucketOf = (c: Column) => bucketOfCol(c, nBuckets)
    // the affected-bucket set is ≤ nBuckets driver scalars — collect
    // it (doubling as the emptiness check, one job instead of two)
    // and push it as an isin FILTER: on the partitioned labels read
    // that is a partition-pruned scan, where the previous broadcast
    // join over a recomputed bucket column read every bucket
    val buckets = relabeled
      .select(bucketOf(col("doc")).as("bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq
    if (buckets.isEmpty) return
    // every previously-present doc of an affected bucket lands in the
    // rewrite: untouched-component rows via keep, touched-component
    // rows via relabeled (which covers all touched members + delta)
    val keep = (if (new java.io.File(dir).exists())
        s.read.parquet(dir).filter(col("bucket").isin(buckets: _*))
          .select(col("doc").cast("long").as("doc"),
            col("component").cast("long").as("component"),
            col("bucket").cast("int").as("bucket"))
      else lab.withColumn("bucket", bucketOf(col("doc"))).limit(0))
      .join(touched, Seq("component"), "left_anti")
      .select(col("doc"), col("component"), col("bucket"))
    // one file per rewritten bucket: every LATER fold re-scans the
    // affected buckets, so a fan-out of small files here would make
    // fold scans grow with fold count
    PersistedTable.write(keep.union(relabeled
        .select(col("doc"), col("component"), bucketOf(col("doc")).as("bucket"))),
      "bucket", nBuckets, dir, PersistedTable.ReplaceBuckets(buckets))
  }

  /** One delta merge of the WHOLE curation state — labels, per-doc
    * quality, and the canonical-keeper table — against storage, each
    * table rewritten only in its affected hash-bucket partitions. This
    * is [[labelsMerge]] extended one derived layer up: the same
    * (touched, relabeled) delta resolution feeds both the labeling and
    * the keeper fold, so the delta's graph work is paid once.
    *
    * Layout under `dir`:
    *   state/bucket=K/    (doc, component, q)       — doc-hash bucket;
    *                      EVERY ingested doc has a row (singletons
    *                      carry component = doc), so one table is both
    *                      the labeling and the quality store
    *   keepers/bucket=K/  (component, keeper,
    *                       keeper_q, n_members)     — component-hash
    *
    * Unlike [[canonicalAppend]] (the in-plan one-shot fold, which
    * merges STORED argmax structs), the table merge recomputes each
    * affected component from its member rows: `relabeled` already
    * carries every member of every affected component, and joining it
    * to the (bucket-pruned) state table yields exactly the rows the
    * argmax needs. That recompute-from-members formulation is what
    * makes the merge an IDEMPOTENT FIXPOINT under at-least-once
    * redelivery — replaying a batch rewrites the same bucket contents
    * byte-for-byte, where folding stored structs would double-count
    * n_members. Work per merge is O(delta + touched members), never
    * O(corpus); the only corpus-sized relations are the tables
    * themselves, touched strictly through bucket-pruned scans.
    *
    * ONE exact affected-bucket set (collected once) serves both
    * tables: every rewritten state row is keyed by a relabeled or
    * delta doc, and every superseded or new keeper component id is
    * itself one of those docs — a component label is always a member.
    * Keeper rows move buckets when components merge (the row is keyed
    * by its component id), so a bucket can end a merge with zero
    * surviving rows; since dynamic partition overwrite never touches a
    * partition it writes nothing to, such buckets are dropped
    * explicitly (replay-safe: a crash before the drop leaves stale
    * rows the redelivered merge re-identifies).
    */
  def curationMerge(dir: String, newPairs: DataFrame, deltaDocs: DataFrame,
                    idCol: String, qCol: String, aCol: String, bCol: String,
                    nBuckets: Int = 16, pairsPinned: Boolean = false): Unit = {
    val s = newPairs.sparkSession
    val (stDir, kDir) = (s"$dir/state", s"$dir/keepers")
    val bucketOf = (c: Column) => bucketOfCol(c, nBuckets)
    // every read of the two tables carries an EXPLICIT schema: an
    // empty micro-batch commits a directory holding only _SUCCESS
    // (zero part files), and schema inference on it throws where
    // "no rows yet" is the correct answer (the boilerFromIndex
    // convention; probed by EmptyProbe, spec-pinned)
    val StateSchema = "doc BIGINT, component BIGINT, q DOUBLE, bucket INT"
    val KeeperSchema = "component BIGINT, keeper BIGINT, " +
      "keeper_q DOUBLE, n_members BIGINT, bucket INT"
    def readState() = s.read.schema(StateSchema).parquet(stDir)
    // the state table IS the labeling: singleton rows (doc, doc)
    // satisfy the min-label invariant trivially and make old
    // singletons discoverable as touched components like any other
    val lab =
      if (new java.io.File(stDir).exists())
        readState().select(col("doc"), col("component"))
      else readLabelsOrEmpty(s, stDir)
    val (_, relabeled) =
      componentsAppendParts(lab, newPairs, aCol, bCol, pairsPinned)
    // pairsPinned callers (the streaming folds) hand in durable queue
    // parquet: its ~5 consumers re-scanning a tiny column-pruned leaf
    // is cheaper than one whole materialization job per fold (the
    // same argument as the edges above)
    val delta0 = deltaDocs
      .select(col(idCol).cast("long").as("doc"), col(qCol).as("q"))
    val delta = if (pairsPinned) delta0 else delta0.localCheckpoint(true)
    // ONE tagged collect yields both bucket sets: the union set (every
    // bucket either table rewrites) and the member subset (the only
    // buckets the q-source scan below needs — reading the union there
    // instead was a measured ~1.5 s loss when delta ids spray every
    // bucket)
    val tagged = relabeled
      .select(lit(true).as("m"), bucketOf(col("doc")).as("bucket"))
      .union(delta.select(lit(false).as("m"),
        bucketOf(col("doc")).as("bucket")))
      .distinct().collect()
    val memberBuckets =
      tagged.filter(_.getBoolean(0)).map(_.getInt(1)).distinct.toSeq
    val buckets = tagged.map(_.getInt(1)).distinct.toSeq
    // an all-empty merge (empty or fully-replayed-empty batch) touches
    // no bucket of either table — skip both (provably no-op) writes
    if (buckets.isEmpty) return
    // LAZY pruned view of the pre-merge state: the pass-through keep
    // reads it inside the overwrite job itself (the labelsMerge
    // self-overwrite pattern — staging + end-of-job commit make the
    // in-job self-read safe), and the only other consumer pins the
    // SMALL members relation below. Eagerly checkpointing this view
    // would materialize a corpus-sized scan whenever the delta's doc
    // ids spray every bucket — measured as a 3 s regression in the
    // keepmg audit.
    val stored = (if (new java.io.File(stDir).exists())
        readState().filter(col("bucket").isin(buckets: _*))
          .select(col("doc"), col("component"), col("q"))
      else delta.withColumn("component", col("doc"))
        .select(col("doc"), col("component"), col("q")).limit(0))
    // one q per doc: the delta's row wins on replay (same value — q
    // is a pure function of the doc). The stored-q scan prunes to the
    // MEMBER buckets — relabeled docs are the only ones whose q the
    // fold needs from storage.
    val storedQ = (if (new java.io.File(stDir).exists())
        readState().filter(col("bucket").isin(memberBuckets: _*))
          .select(col("doc"), col("q"))
      else stored.select(col("doc"), col("q")).limit(0))
    val qAll = storedQ
      .join(broadcast(delta.select(col("doc"))), Seq("doc"), "left_anti")
      .union(delta)
    // members of every affected component WITH q — the rows both the
    // state rewrite and the keeper argmax consume. Pinned BEFORE the
    // state overwrite: delta-sized, and the keeper aggregate must not
    // re-derive it from a table the write just replaced.
    val members = qAll.join(broadcast(relabeled), Seq("doc"))
      .localCheckpoint(true)
    val singles = delta
      .join(relabeled.select(col("doc")), Seq("doc"), "left_anti")
    // --- state table rewrite ---
    val replacedDocs = relabeled.select(col("doc"))
      .union(delta.select(col("doc"))).distinct()
    PersistedTable.write(
      stored.join(broadcast(replacedDocs), Seq("doc"), "left_anti")
        .union(members.select(col("doc"), col("component"), col("q")))
        .union(singles.select(col("doc"), col("doc").as("component"),
          col("q")))
        .withColumn("bucket", bucketOf(col("doc"))),
      "bucket", nBuckets, stDir, PersistedTable.ReplaceBuckets(buckets))
    // --- keepers: recompute affected components from member rows ---
    val merged = members.groupBy(col("component"))
      .agg(max(struct(col("q"), (-col("doc")).as("nid"))).as("m"),
        count(lit(1)).as("n_members"))
      .select(col("component"), (-col("m.nid")).as("keeper"),
        col("m.q").as("keeper_q"), col("n_members"))
    // lazy: consumed once (the out union below), and its inputs —
    // members, delta — are already pinned
    val newRows = merged.union(
      singles.select(col("doc").as("component"),
        col("doc").as("keeper"), col("q").as("keeper_q"),
        lit(1L).as("n_members")))
    // superseded old rows: any stored component whose id-doc was
    // relabeled (it either remains the merged component's label —
    // newRows replaces it — or was absorbed), plus replayed delta
    // singletons
    val superseded = relabeled.select(col("doc").as("component"))
      .union(delta.select(col("doc").as("component"))).distinct()
    val kKeep = (if (new java.io.File(kDir).exists())
        s.read.schema(KeeperSchema).parquet(kDir)
          .filter(col("bucket").isin(buckets: _*))
          .select(col("component"), col("keeper"), col("keeper_q"),
            col("n_members"), col("bucket"))
      else newRows.withColumn("bucket", bucketOf(col("component"))).limit(0))
      .join(broadcast(superseded), Seq("component"), "left_anti")
    val out = kKeep
      .union(newRows.withColumn("bucket", bucketOf(col("component"))))
    // the in-job self-read of kDir under a dynamic overwrite is the
    // labelsMerge pattern (staging + end-of-job commit), so the keep
    // side needs no checkpoint
    PersistedTable.write(out, "bucket", nBuckets, kDir,
      PersistedTable.ReplaceBuckets(buckets))
  }

  /** Materialized byte size of a localCheckpoint'd dataset, straight
    * from the block manager (no job). None when the plan isn't the
    * expected checkpoint leaf or its blocks aren't visible.
    */
  private def checkpointedBytes(df: DataFrame): Option[Long] =
    df.queryExecution.analyzed.collectLeaves().headOption.flatMap {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        df.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == l.rdd.id).map(i => i.memSize + i.diskSize)
      case _ => None
    }

  /** Min-label fixpoint over an undirected graph given as (node, label)
    * star edges (label is itself a node id). Returns every mentioned
    * node with its component's minimum id.
    */
  private def propagateMinLabel(star: DataFrame): DataFrame = {
    val edges = star.filter(col("node") =!= col("label"))
      .select(col("node").as("u"), col("label").as("v"))
    val doubled = edges
      .union(edges.select(col("v").as("u"), col("u").as("v")))
      .distinct().localCheckpoint(true)
    var labels = star.groupBy(col("node")).agg(min(col("label")).as("label"))
      .localCheckpoint(true)
    var converged = false
    while (!converged) {
      val prop = doubled
        .join(labels.select(col("node").as("v"), col("label").as("vlab")), "v")
        .groupBy(col("u").as("node")).agg(min(col("vlab")).as("nlab"))
      // carry the previous label through the checkpoint so convergence
      // is a filter over materialized data — not another join per round
      val next = labels.join(prop, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nlab"), col("label")))
            .as("label"),
          col("label").as("prev"))
        .localCheckpoint(true)
      converged = next.filter(col("label") =!= col("prev")).isEmpty
      labels = next.select(col("node"), col("label"))
    }
    labels
  }

  /** 64-bit SimHash per doc: sign of the per-bit ±1 vote sum over token
    * hashes. A per-document scalar via the native single-pass kernel
    * ([[graft.functions.TextHashing.simhash64]]) — map-only, no
    * explode, no shuffle.
    */
  def simhash(df: DataFrame, id: String, text: String): DataFrame = {
    df.select(col(id).as("doc"),
      graft.functions.TextHashing.simhash64(col(text)).as("simhash"))
  }

  /** SimHash pairs within `maxHamming` (≤ 3), via banded search: split
    * the 64-bit signature into 4 16-bit blocks; by pigeonhole any pair
    * within Hamming distance ≤ 3 shares at least one exact block, so the
    * join is on (block index, block value) — never all-pairs. Verified
    * with exact `bit_count(xor)`.
    */
  def simhashPairs(df: DataFrame, id: String, text: String,
                   maxHamming: Int = 3): DataFrame = {
    // 4 blocks guarantee recall only for distance <= 3 (pigeonhole);
    // larger thresholds would silently drop qualifying pairs
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in [0, 3] for 4-block banding, got $maxHamming")
    val sig = simhash(df, id, text)
    val blocks = sig.select(col("doc"), col("simhash"), explode(map(
      (0 until 4).flatMap(i => Seq(lit(i),
        shiftright(col("simhash"), i * 16).bitwiseAND(0xFFFFL))): _*))
      .as(Seq("blk", "bv")))
    blocks.as("x").join(blocks.as("y"),
        col("x.blk") === col("y.blk") && col("x.bv") === col("y.bv") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
