package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING — learn the merge table from
  * the corpus (the step before any `tx_bpe_tokens`-style encode can
  * exist). Classic Sennrich-style BPE with an explicit `</w>`
  * end-of-word symbol.
  *
  * Scale shape — the part that matters at 100 TB: BPE statistics are
  * a function of the *weighted word vocabulary*, not the corpus. The
  * corpus is scanned ONCE (token explode → word counts); every merge
  * iteration then runs over the distinct-word table (millions of rows
  * at web scale, not trillions): adjacent-pair explode weighted by
  * word count → one small keyed aggregate → a 1-row argmax to the
  * driver (the merge decision is the only thing collected — BPE is
  * inherently sequential in its merge choices). The symbol rewrite is
  * a map-only higher-order fold over each word's symbol array;
  * lineage is checkpoint-truncated every few iterations so the plan
  * doesn't grow with the merge count.
  *
  * Determinism: ties in pair frequency break on (left ASC, right ASC),
  * so the learned table is reproducible run-over-run and replayable by
  * the [[BpeSpec]] in-memory reference implementation.
  */
object Bpe {

  final case class Merge(rank: Int, left: String, right: String, count: Long)

  val EndOfWord = "</w>"

  /** Greedy left-to-right single-pair merge over a symbol array — the
    * BPE rewrite step. Fold semantics: a symbol consumed by a merge
    * cannot start another ("aaa" + merge(a,a) → [aa, a]).
    */
  def mergePair(syms: Column, left: String, right: String): Column = {
    val fused = left + right
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 &&
        element_at(acc, -1) === lit(left) && x === lit(right),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(fused))))
        .otherwise(concat(acc, array(x))))
  }

  /** Apply a whole batch of merges in ONE left-to-right scan — the
    * rewrite step that makes large merge counts affordable: B chained
    * [[mergePair]] folds walk every symbol array B times per pass,
    * where this walks it once with a map lookup. EXACT relative to
    * applying the batch sequentially in ANY order, under
    * [[trainBatched]]'s selection invariants:
    *
    *  - JUNCTION-FREEDOM: no symbol is the left of one pair and the
    *    right of another. Two fusion windows can only compete for a
    *    symbol occurrence at a junction ("x a b" with (x,a) and
    *    (a,b)), so junction-freedom means fusions of different pairs
    *    never compete for, create, or destroy each other's windows.
    *    Sharing a LEFT ((▁,t) and (▁,a)) or a RIGHT is harmless —
    *    same-position competition would need two different symbols
    *    at one index — and on a small alphabet that permissiveness
    *    is the difference between ~12 and ~60 picks per pass (every
    *    word-boundary pair shares `▁`).
    *  - No pair's fused output collides with any pair's side, so a
    *    fusion can never enable a cascading same-batch fusion the
    *    sequential order would have sequenced differently.
    *
    * The scan itself is the native [[graft.functions.BpeMerge]]
    * expression (O(len) per row; the `aggregate` HOF rebuilds its
    * accumulator array per step — O(len²), measured ~80 s per train
    * on 300-char piece streams where the native walk takes ~1 s).
    */
  def mergePairs(syms: Column, pairs: Seq[(String, String)]): Column = {
    require(pairs.nonEmpty, "empty merge batch")
    // junction-freedom: a left of one pair must not be a right of
    // another (a self-pair's own left==right is the harmless
    // degenerate junction — greedy left-to-right resolves it)
    for (i <- pairs.indices; j <- pairs.indices
         if i != j && pairs(i)._1 == pairs(j)._2)
      throw new IllegalArgumentException(
        s"junction-sharing pairs in batch: ${pairs(i)} / ${pairs(j)}")
    val sides = (pairs.map(_._1) ++ pairs.map(_._2)).toSet
    require(!pairs.exists(p => sides.contains(p._1 + p._2)),
      "a pair's fused output collides with a batch side")
    graft.functions.BpeMerge.mergeBatch(syms,
      array(pairs.flatMap { case (l, r) => Seq(lit(l), lit(r)) }: _*))
  }

  /** Initial symbol array of a word: characters + `</w>`. */
  def initialSymbols(word: Column): Column =
    concat(filter(split(word, ""), c => c =!= ""), array(lit(EndOfWord)))

  /** The weighted word vocabulary — the ONE corpus pass. */
  def wordVocab(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(Text.tokens(lower(col(textCol)))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))

  /** Learn `merges` BPE merges. Returns the ordered merge table and
    * the final vocabulary state (word, count, symbols) for inspection/
    * encoding. Stops early when no adjacent pair remains.
    */
  def train(docs: DataFrame, textCol: String, merges: Int,
            checkpointEvery: Int = 4): (Seq[Merge], DataFrame) = {
    require(merges >= 0, "merges must be non-negative")
    var vocab = wordVocab(docs, textCol)
      .withColumn("syms", initialSymbols(col("w")))
      .localCheckpoint()
    val learned = Seq.newBuilder[Merge]
    var rank = 0
    var exhausted = false
    while (rank < merges && !exhausted) {
      // same native pre-counted pair scan as the batched learner
      // (r10); sum(n·cnt) ≡ the occurrence-row sum(n)
      val top = vocab
        .select(col("n"),
          explode(graft.functions.BpeMerge.pairCounts(col("syms")))
            .as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"),
          (col("n") * col("p.cnt")).as("w"))
        .groupBy(col("a"), col("b")).agg(sum(col("w")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val r = top.head
        val (a, b, cnt) = (r.getString(0), r.getString(1), r.getLong(2))
        rank += 1
        learned += Merge(rank, a, b, cnt)
        vocab = vocab.withColumn("syms", mergePair(col("syms"), a, b))
        if (rank % checkpointEvery == 0) vocab = vocab.localCheckpoint()
      }
    }
    (learned.result(), vocab)
  }

  /** Batched merge learning — the standard large-vocabulary
    * optimization: one pair-count pass learns up to `batch`
    * JUNCTION-FREE merges (no pick's left is another pick's right,
    * and no fused output collides with a side — left-left and
    * right-right sharing ARE allowed; see [[mergePairs]] for why
    * only junctions cause order dependence), so a 32k-vocabulary run
    * needs ~merges/batch driver round-trips instead of one per
    * merge. Junction-freedom is what keeps the batch honest: two
    * picks' fusion windows can never compete for a symbol
    * occurrence, so every selected pair's count is EXACTLY what the
    * pass measured — the approximation relative to classic BPE is
    * only that pairs created mid-batch can't be chosen until the
    * next pass. With `batch = 1` this IS [[train]], merge for merge
    * (differentially pinned in BpeSpec).
    *
    * Driver state stays bounded: one ordered candidate collect of
    * O(batch) rows per pass (4·batch+8 — each selected pair can block
    * at most the later candidates sharing its two symbols; an
    * under-filled batch is benign, the next pass re-counts).
    *
    * Selection enforces [[mergePairs]]' order-freedom invariants —
    * junction-freedom (a pick's left never doubles as another pick's
    * right; without it a batch could hold (t,h) and (h,e), whose
    * combined effect depends on application order) and output/side
    * separation (no (t,h) together with (th,e)) — so the whole batch
    * applies in ONE [[mergePairs]] scan per pass, order-free: the
    * rewrite cost per pass is one walk of the vocabulary instead of
    * `batch` chained folds. That is what makes a 512-merge vocabulary
    * run land in ~6 passes at batch 128.
    */
  def trainBatched(docs: DataFrame, textCol: String, merges: Int,
                   batch: Int): (Seq[Merge], DataFrame) = {
    require(merges >= 0, "merges must be non-negative")
    trainBatchedFrom(wordVocab(docs, textCol)
      .withColumn("syms", initialSymbols(col("w"))), merges, batch)
  }

  /** The SentencePiece word-boundary marker (U+2581). */
  val SpaceMark = "▁"

  /** SentencePiece-style unit vocabulary: the weighted DISTINCT
    * document texts, each a character stream with spaces rewritten to
    * the `▁` marker — so learned merges may cross word boundaries
    * (multi-word tokens, the modern tokenizer behavior word-level
    * Sennrich BPE cannot express). This is the formulation that keeps
    * a low-diversity corpus trainable past the word-internal merge
    * ceiling: pair diversity scales with character CONTEXTS, not the
    * word list (the driver's synthetic corpus holds ~31 distinct
    * words — word-level BPE exhausts near 113 merges there, while the
    * piece stream sustains thousands). Scale note: distinct-text
    * grouping is corpus-sized where the word vocab was not;
    * SentencePiece itself trains on a bounded sentence SAMPLE
    * (`--input_sentence_size`) for exactly this reason, and callers
    * at corpus scale should feed a sampled `docs` here — the learner
    * downstream still only ever scans the unit table per pass.
    */
  def pieceVocab(docs: DataFrame, textCol: String): DataFrame =
    docs.select(lower(col(textCol)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .withColumn("syms", pieceSymbols(col("w")))
      // an empty document yields ZERO symbols, and the candidate
      // query's slice(syms, 1, size - 1) throws on length -1 (the
      // word path is immune — initialSymbols always appends </w>);
      // a symbol-less unit carries no pairs and needs no rewrite,
      // so it is simply not a training unit
      .filter(size(col("syms")) > 0)

  /** [[trainBatched]] over SentencePiece-style character-stream units
    * ([[pieceVocab]]) instead of word units — same learner, same
    * batched passes, merges free to cross word boundaries.
    */
  def trainBatchedPieces(docs: DataFrame, textCol: String, merges: Int,
                         batch: Int): (Seq[Merge], DataFrame) =
    trainBatchedFrom(pieceVocab(docs, textCol), merges, batch)

  /** The batched learner proper, over any prepared unit vocabulary
    * (`w`, `n`, `syms`). One candidate collect + ONE [[mergePairs]]
    * rewrite + one lineage checkpoint per pass.
    */
  def trainBatchedFrom(units: DataFrame, merges: Int, batch: Int,
                       checkpointEvery: Int = 4): (Seq[Merge], DataFrame) = {
    require(merges >= 0, "merges must be non-negative")
    require(batch >= 1, "batch must be positive")
    // The loop is sequential-by-nature (each pass's counts depend on
    // the last pass's rewrite), so its wall time is pass-count ×
    // per-pass fixed cost. AQE splits the tiny per-pass aggregate
    // into one JOB PER QUERY STAGE — pure scheduling floor here (the
    // candidate table is O(symbol-alphabet²), kilobytes) — so the
    // whole loop runs on a CLONED session with AQE off: the clone's
    // SQLConf is isolated (r9 — the previous mutate-and-restore on
    // the shared session raced queries on other threads and
    // interleaved scopes could restore the wrong value), while the
    // SparkContext and cache are shared, so nothing else about
    // execution changes.
    val caller = units.sparkSession
    val session = org.apache.spark.sql.GraftSqlBridge.cloneSession(caller)
    session.conf.set("spark.sql.adaptive.enabled", "false")
    // the loop's only exchanges carry pair-count partials whose FINAL
    // cardinality is alphabet²-bounded (kilobytes) at ANY corpus size —
    // the corpus-proportional work all happens map-side before the
    // partial aggregate. With AQE off (above), the clone would
    // otherwise inherit the session's scan-parallelism-sized reducer
    // count and pay `passes × partitions` empty-task floor for a
    // kilobyte aggregate; a small constant is the right reducer count
    // for this loop at every scale, not a local[32] tuning (r10).
    session.conf.set("spark.sql.shuffle.partitions", "4")
    // the unit-vocabulary BUILD is corpus-proportional (distinct-text
    // grouping for piece units) — materialize it in the CALLER
    // session, under its AQE + scale-sized shuffles, BEFORE entering
    // the clone: only the per-pass candidate aggregate belongs under
    // the tiny reducer count. The checkpoint handle re-roots for free.
    val prepared = units.localCheckpoint()
    val (ms, vocab) = trainLoop(session,
      org.apache.spark.sql.GraftSqlBridge.reRoot(session, prepared),
      merges, batch, checkpointEvery)
    // the AQE-off clone stays purely internal to the loop: the vocab
    // frame is a localCheckpoint handle on the SHARED context, so
    // re-rooting it back into the caller's session is free — without
    // it, any query a caller composes from the returned frame would
    // silently run under the clone's AQE-off conf
    (ms, org.apache.spark.sql.GraftSqlBridge.reRoot(caller, vocab))
  }

  private def trainLoop(session: org.apache.spark.sql.SparkSession,
                        units: DataFrame, merges: Int, batch: Int,
                        checkpointEvery: Int): (Seq[Merge], DataFrame) = {
    // job descriptions are thread-local state on the CALLER's thread —
    // restore on exit or every later job on this thread (the gate's
    // oracle dumps, the next query) is mislabeled "bpe-pass-N" in the
    // UI and in the bench census's longest-job sites
    val descBefore = session.sparkContext
      .getLocalProperty("spark.job.description")
    try trainPasses(session, units, merges, batch, checkpointEvery)
    finally session.sparkContext.setJobDescription(descBefore)
  }

  private def trainPasses(session: org.apache.spark.sql.SparkSession,
                          units: DataFrame, merges: Int, batch: Int,
                          checkpointEvery: Int): (Seq[Merge], DataFrame) = {
    // already materialized by trainBatchedFrom (caller session); the
    // handle arrives checkpointed, so no re-materialization here
    var vocab = units
    val learned = Seq.newBuilder[Merge]
    var rank = 0
    var pass = 0
    var exhausted = false
    while (rank < merges && !exhausted) {
      pass += 1
      session.sparkContext.setJobDescription(s"bpe-pass-$pass")
      val want = math.min(batch, merges - rank)
      // per-row pre-counted pairs (r10): the native kernel emits one
      // (a, b, cnt) struct per DISTINCT adjacent pair of the row in
      // one pass — the arrays_zip-of-slices explode shipped one row
      // per OCCURRENCE plus two array copies per unit into the
      // aggregate. sum(n·cnt) ≡ the occurrence-row sum(n), exactly.
      val cands = vocab
        .select(col("n"),
          explode(graft.functions.BpeMerge.pairCounts(col("syms")))
            .as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"),
          (col("n") * col("p.cnt")).as("w"))
        .groupBy(col("a"), col("b")).agg(sum(col("w")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(4 * want + 8).collect()
      if (cands.isEmpty) exhausted = true
      else {
        // the mergePairs invariants, enforced greedily in count order:
        // junction-freedom (a left never doubles as another pick's
        // right) and output/side separation. Left-left and
        // right-right sharing stay pickable — see mergePairs.
        val usedL = scala.collection.mutable.Set.empty[String]
        val usedR = scala.collection.mutable.Set.empty[String]
        val usedO = scala.collection.mutable.Set.empty[String]
        val picked = cands.iterator
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          .filter { case (a, b, _) =>
            val out = a + b
            // (for a self-pair a==b these checks collapse to
            // "a untouched on either side" — both junctions covered)
            val ok = !usedR(a) && !usedO(a) && !usedL(b) && !usedO(b) &&
              !usedL(out) && !usedR(out)
            if (ok) { usedL += a; usedR += b; usedO += out }
            ok
          }.take(want).toSeq
        for ((a, b, cnt) <- picked) {
          rank += 1
          learned += Merge(rank, a, b, cnt)
        }
        if (picked.nonEmpty)
          vocab = vocab.withColumn("syms",
            mergePairs(col("syms"), picked.map(p => (p._1, p._2))))
        // the rewrite is one cheap codegen'd projection per pass, so
        // lineage only needs truncating every few passes (a
        // per-pass checkpoint was a measured job-floor cost: it
        // re-materializes the whole unit table each round)
        if (pass % checkpointEvery == 0) vocab = vocab.localCheckpoint()
      }
    }
    (learned.result(), vocab)
  }

  /** Persist a learned merge table — the tokenizer ARTIFACT a training
    * pipeline ships between the train job and every encode job. One
    * tiny rank-ordered parquet; overwrite is atomic enough for the
    * single-writer train step (encoders read a complete table or the
    * previous one).
    */
  def saveMerges(s: org.apache.spark.sql.SparkSession, merges: Seq[Merge],
                 dir: String): Unit = {
    import s.implicits._
    merges.toDF().repartition(1).write.mode("overwrite").parquet(dir)
  }

  /** Load a persisted merge table, rank-ordered — ready for
    * [[encode]]. Fails loudly on an empty/missing artifact rather
    * than silently encoding with zero merges.
    */
  def loadMerges(s: org.apache.spark.sql.SparkSession,
                 dir: String): Seq[Merge] = {
    import s.implicits._
    val m = s.read.parquet(dir).as[Merge].collect().sortBy(_.rank).toSeq
    require(m.nonEmpty, s"no BPE merge table at $dir")
    require(m.map(_.rank) == (1 to m.length),
      s"BPE merge table at $dir has non-contiguous ranks — torn write?")
    m
  }

  /** Encode a word column with a learned merge table (merges applied
    * in rank order — BPE encode-by-replay; production encoders use the
    * equivalent priority-queue form, same result). Expression depth
    * grows with the table (one nested fold per merge), so this form
    * caps out around ~16 merges — [[encodeRanked]] is the
    * vocabulary-scale form.
    */
  def encode(word: Column, merges: Seq[Merge]): Column =
    merges.sortBy(_.rank).foldLeft(initialSymbols(word)) { (c, m) =>
      mergePair(c, m.left, m.right)
    }

  /** Vocabulary-scale encode: the SAME rank-ordered replay as
    * [[encode]] (differentially pinned in BpeSpec), run by the native
    * [[graft.functions.BpeEncode]] kernel — one map-only projection
    * whatever the table size, where the nested-fold form's expression
    * depth grows with the merge count. Takes the symbol column
    * directly (callers pick [[initialSymbols]] for word units or
    * [[pieceVocab]]'s marked character stream for piece units).
    */
  def encodeRanked(syms: Column, merges: Seq[Merge]): Column = {
    val ordered = merges.sortBy(_.rank)
    require(ordered.map(_.rank) == (1 to ordered.length),
      "merge table has non-contiguous ranks")
    graft.functions.BpeEncode.encodeRanked(syms,
      array(ordered.flatMap(m => Seq(lit(m.left), lit(m.right))): _*))
  }

  /** [[pieceVocab]]'s per-document symbol stream for ENCODING — every
    * character with spaces marked, no unit dedup, no empty-unit drop
    * (an empty document encodes to zero symbols).
    */
  def pieceSymbols(text: Column): Column =
    transform(filter(split(lower(text), ""), c => c =!= ""),
      c => when(c === " ", lit(SpaceMark)).otherwise(c))
}
