package graft.text

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Rounding.roundHalfAway

/** Sequence packing and token-budget dataset assembly — the step between
  * a curated corpus and a training run. The reference has no counterpart
  * (its unit of work is a transaction row, never a token stream); these
  * are the LLM-pipeline extension ops the builder prompt calls for.
  *
  * Scale notes (the whole point of each design):
  *
  *  - [[tokenOffsets]] is a distributed exclusive prefix sum. The naive
  *    formulation — `sum(n) over (order by doc_id)` with no partition —
  *    collapses the corpus onto ONE task (Spark literally warns
  *    "Moving all data to a single partition"); at 100 TB that is the
  *    single worst plan an engine can emit. Instead: range-bucket on
  *    the id, aggregate per-bucket totals (map-side combined, one tiny
  *    job whose result is `buckets` scalars on the driver — same
  *    bounded-driver-state budget as the k-means centroids in
  *    [[graft.similarity.Ann]]), broadcast the running bucket offsets
  *    back, and let every bucket compute its inner cumsum in parallel.
  *    Two narrow shuffles, no global sort, no single-partition window.
  *
  *  - [[firstFitPack]] is partition-local first-fit-decreasing. Bin
  *    packing is inherently sequential-greedy, so this is the one
  *    documented `mapPartitions` citizen in the text stack: each worker
  *    packs its own shard, exactly how a fleet of packer tasks would
  *    run on a cluster — no coordination, no shuffle beyond the initial
  *    spread. First-fit gives a per-partition guarantee we turn into a
  *    testable contract: at most ONE bin per partition may end ≤ half
  *    full (two such bins would have merged when the second opened).
  *
  *  - [[mixTokenBudget]] is quality-ranked per-domain selection under a
  *    token budget. The naive plan (window cumsum partitioned by
  *    source) serializes each domain onto one task — with a handful of
  *    domains that is 100 TB through ~5 threads. Instead: threshold
  *    refinement, the same trick a distributed top-k uses. A per-
  *    (source, quality-key) histogram (map-side combined, bounded by
  *    the key space not the corpus) finds the quality threshold where
  *    the budget crosses; every doc strictly above the threshold is
  *    kept with NO per-doc ordering work at all, and only the boundary
  *    quality-value's docs — a sliver — pay an exact cumsum. The
  *    result row-set equals the naive global-window answer by
  *    construction (monotone bucketing + identical (quality, doc_id)
  *    tiebreak), which is precisely what the DuckDB oracle replays.
  */
/** Leftmost-fit bin index in O(log bins): a growable binary-heap-shaped
  * segment tree whose leaves are open-bin residual capacities and whose
  * internal nodes carry the subtree max. `place(n)` descends
  * left-before-right into any subtree whose max >= n — exactly the
  * lowest-indexed bin first-fit picks — opening a fresh bin when none
  * fits. Oversize docs get a `openPoisoned()` residual-(-1) bin that no
  * later item can enter.
  */
private[graft] final class FirstFitTree(cap: Long) {
  private var size = 1                      // leaf slots (power of two)
  private var tree = Array.fill(2 * size)(-1L) // residuals; -1 = unopened
  private var bins = 0

  private def grow(): Unit = {
    val nt = Array.fill(4 * size)(-1L)
    // old tree's leaves move to the left half of the new leaf row
    System.arraycopy(tree, size, nt, 2 * size, size)
    var i = 2 * size - 1
    while (i >= 1) { nt(i) = math.max(nt(2 * i), nt(2 * i + 1)); i -= 1 }
    size *= 2; tree = nt
  }

  private def update(leaf: Int, v: Long): Unit = {
    var i = size + leaf
    tree(i) = v
    i /= 2
    while (i >= 1) { tree(i) = math.max(tree(2 * i), tree(2 * i + 1)); i /= 2 }
  }

  private def open(residual: Long): Int = {
    if (bins == size) grow()
    val b = bins; bins += 1
    update(b, residual)
    b
  }

  /** Bin for an item of `n` tokens (n <= cap). */
  def place(n: Long): Int = {
    if (tree(1) < n) return open(cap - n)
    var i = 1
    while (i < size) i = if (tree(2 * i) >= n) 2 * i else 2 * i + 1
    val leaf = i - size
    update(leaf, tree(i) - n)
    leaf
  }

  /** Dedicated never-reused bin for an oversize item. */
  def openPoisoned(): Int = open(-1L)
}

object Packing {

  /** Exclusive prefix sum of `tokCol` in `idCol` order, as a new
    * `tok_start` column. Distributed: range-buckets on the id (span
    * derived from one min/max agg), per-bucket totals → driver (≤
    * `buckets` rows) → scanLeft offsets → broadcast join back, inner
    * cumsum per bucket in parallel.
    */
  def tokenOffsets(docs: DataFrame, idCol: String, tokCol: String,
                   buckets: Int = 256): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val mm = docs.agg(min(col(idCol)).cast("long"), max(col(idCol)).cast("long")).head()
    if (mm.isNullAt(0)) return docs.withColumn("tok_start", lit(0L))
    val (minId, maxId) = (mm.getLong(0), mm.getLong(1))
    val span = math.max(1L, (maxId - minId) / buckets + 1)
    val bucketed = docs.withColumn("__bkt",
      ((col(idCol).cast("long") - lit(minId)) / lit(span)).cast("long"))
    val totals = bucketed.groupBy($"__bkt")
      .agg(sum(col(tokCol).cast("long")).as("__btot"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    // exclusive running offset per bucket
    val offsets = totals.scanLeft((-1L, 0L)) { case ((_, acc), (b, t)) =>
      (b, acc + t)
    }.sliding(2).collect { case Array((_, acc), (b, _)) => (b, acc) }.toSeq
    val offDf = broadcast(offsets.toDF("__bkt", "__boff"))
    // explicit ROWS frame: the default RANGE frame would lump id TIES
    // into one cumsum step (diverging from the oracle's ROWS window);
    // ids are expected unique — with duplicates the within-tie order,
    // hence each tied doc's offset, is not deterministic
    val w = Window.partitionBy($"__bkt").orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(offDf, "__bkt")
      .withColumn("tok_start",
        $"__boff" + sum(col(tokCol).cast("long")).over(w) - col(tokCol).cast("long"))
      .drop("__bkt", "__boff")
  }

  /** Deterministic epoch shuffle: every document gets a reproducible
    * position in a pseudo-random permutation keyed by (id, epoch) —
    * the training-data ordering op (each epoch sees the corpus in a
    * different but replayable order; a re-run, a resumed job, or a
    * different cluster layout produces the identical order).
    *
    * The shuffle key is the first 8 md5 hex digits of `id:epoch` —
    * cross-engine replayable (DuckDB: `('0x'||substring(md5(..),1,8))
    * ::UBIGINT`), uniform in [0, 2^32); ties (birthday-expected ≪ 1
    * per corpus, but possible) break on the id, so positions stay
    * deterministic even under key collisions. Positions come from the
    * same distributed-rank shape as [[tokenOffsets]]: the key's
    * uniformity makes its high bits a range bucket, per-bucket counts
    * fold to ≤`buckets` driver scalars, and each bucket ranks its own
    * rows in parallel under a broadcast offset — no global sort, no
    * single-partition window, at any corpus size. Epochs are
    * independent permutations; positions are a permutation of
    * 0..N-1 by construction (spec-pinned).
    */
  def epochShuffle(docs: DataFrame, idCol: String, epoch: Int,
                   buckets: Int = 256): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val key = conv(substring(md5(concat(col(idCol).cast("string"),
      lit(s":$epoch"))), 1, 8), 16, 10).cast("long")
    val span = (1L << 32) / buckets
    val keyed = docs.select(col(idCol), key.as("skey"))
      .withColumn("__bkt", (col("skey") / lit(span)).cast("long"))
    val counts = keyed.groupBy($"__bkt").agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.scanLeft((-1L, 0L)) { case ((_, acc), (b, n)) =>
      (b, acc + n)
    }.sliding(2).collect { case Array((_, acc), (b, _)) => (b, acc) }.toSeq
    val offDf = broadcast(offsets.toDF("__bkt", "__boff"))
    val w = Window.partitionBy($"__bkt").orderBy(col("skey"), col(idCol))
    keyed.join(offDf, "__bkt")
      .withColumn("pos", $"__boff" + row_number().over(w) - 1)
      .drop("__bkt", "__boff")
  }

  /** GPT-style concat-and-chunk packing: the corpus is one token stream
    * in `idCol` order, cut into fixed `maxLen` training sequences; docs
    * may straddle a cut. Emits per-doc placement: absolute token
    * offset, first/last sequence index, sequences spanned. Zero-token
    * docs sit at their boundary (`first_seq == last_seq`, width 1).
    */
  def concatChunk(docs: DataFrame, idCol: String, textCol: String,
                  maxLen: Int): DataFrame = {
    val withTok = docs.select(col(idCol),
      Text.bpeTokenCount(col(textCol)).cast("long").as("n_tokens"))
    // exact integer division (`div`), not float floor — float division
    // of 64-bit offsets loses exactness past 2^53 tokens, which a
    // 100 TB corpus actually reaches
    val first = expr(s"tok_start div ${maxLen}L")
    tokenOffsets(withTok, idCol, "n_tokens")
      .select(col(idCol), col("n_tokens"), col("tok_start"),
        first.as("first_seq"),
        when(col("n_tokens") > 0,
          expr(s"(tok_start + n_tokens - 1) div ${maxLen}L"))
          .otherwise(first).as("last_seq"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + lit(1L))
  }

  /** Partition-local first-fit-decreasing bin packing under `cap`
    * tokens per bin; oversize docs (> cap) get a singleton bin each.
    * Returns (doc, n_tokens, bin_id) with bin ids unique across
    * partitions (partition id in the high bits). The spread shuffle is
    * the operator's only exchange; the greedy walk is per-task.
    */
  def firstFitPack(docs: DataFrame, idCol: String, tokCol: String,
                   cap: Long, partitions: Int = 32): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("doc_id"),
        col(tokCol).cast("long").as("n_tokens"))
      .repartition(partitions, col("doc_id"))
      .sortWithinPartitions(col("n_tokens").desc, col("doc_id"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId().toLong
        // max-residual segment tree over open bins: leftmost bin with
        // residual >= n in O(log bins). A linear first-fit scan is
        // O(docs × bins) per task — a quadratic cliff once a shard
        // holds millions of docs; the tree gives the SAME bin choice
        // (lowest index that fits — classic first-fit) at O(n log n).
        val ffd = new FirstFitTree(cap)
        it.map { case (id, n) =>
          val bin = if (n > cap) ffd.openPoisoned() else ffd.place(n)
          (id, n, (pid << 32) | bin.toLong)
        }
      }
      .toDF("doc_id", "n_tokens", "bin_id")
  }

  /** Quality-key for threshold refinement: quality rounded to 6 places
    * scaled to an exact integer key — monotone in quality, identical in
    * Spark and the oracle (tx_quality's hash-match pins round(q, 6)
    * parity on this corpus).
    */
  private def qKey(q: Column): Column = roundHalfAway(roundHalfAway(q, 6) * 1e6).cast("long")

  /** Per-source token-budget selection, best-quality-first with doc_id
    * tiebreak — equals `filter(cum <= budget)` over
    * `sum(tok) over (partition by source order by q desc, id)` without
    * ever running that single-task-per-source window. See scaladoc.
    *
    * Output: (source, doc, q6, n_tokens) — the admitted set.
    */
  def mixTokenBudget(docs: DataFrame, srcCol: String, idCol: String,
                     quality: Column, tokCol: String,
                     budget: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the narrow (source, id, q6, tok) projection feeds three branches
    // (histogram, full-keys semi-join, boundary join); materialize it
    // once so the quality/token expressions — typically regex-heavy —
    // run ONE corpus pass, not three. ~40 bytes/row, disk-spillable.
    val base = docs.select(col(srcCol).as("source"), col(idCol).as("doc_id"),
      roundHalfAway(quality, 6).as("q6"), col(tokCol).cast("long").as("n_tokens"))
      .withColumn("qk", qKey(col("q6")))
      .localCheckpoint()

    // per-(source, quality-key) histogram: bounded by key space (≤1e6
    // distinct keys/source), not corpus size; map-side combined
    val hist = base.groupBy($"source", $"qk")
      .agg(sum($"n_tokens").as("tok"))
    // running total of all STRICTLY better keys; histogram rows are few
    // so the per-source window here is cheap by construction
    val wh = Window.partitionBy($"source").orderBy($"qk".desc)
    val cumHist = hist.withColumn("cum_before", sum($"tok").over(wh) - $"tok")
    // boundary bucket = first (desc) key whose inclusive total crosses
    val boundary = cumHist
      .filter($"cum_before" < budget && $"cum_before" + $"tok" > budget)
      .select($"source", $"qk", (lit(budget) - $"cum_before").as("remaining"))
    // keys fully inside the budget
    val fullKeys = cumHist.filter($"cum_before" + $"tok" <= budget)
      .select($"source", $"qk")

    val keptFull = base.join(fullKeys, Seq("source", "qk"), "left_semi")
    // boundary sliver: exact per-doc cumsum in doc_id order — only the
    // docs sharing the single boundary quality value per source
    val wb = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val keptBoundary = base
      .join(broadcast(boundary), Seq("source", "qk"))
      .withColumn("cumw", sum($"n_tokens").over(wb))
      .filter($"cumw" <= $"remaining")
      .select($"source", $"doc_id", $"q6", $"n_tokens", $"qk")

    keptFull.unionByName(keptBoundary).drop("qk")
  }
}
