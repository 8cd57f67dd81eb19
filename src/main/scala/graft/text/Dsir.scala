package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Rounding.roundHalfAway

/** DSIR — Data Selection via Importance Resampling (Xie et al.,
  * arXiv:2302.03169): pick pretraining documents whose n-gram
  * distribution looks like a TARGET domain by (1) fitting hashed
  * bag-of-bigrams multinomials to the target and to the raw pool,
  * (2) weighting every pool doc by its target/pool likelihood ratio,
  * (3) resampling via the Gumbel-top-k trick. The modern replacement
  * for hand-written quality rules when "quality" means "like this
  * reference corpus" (the reference repo has no model-based
  * selection at all — its gates are fixed thresholds,
  * containers/spark-etl/streaming_etl.py:115-153).
  *
  * Faithful to the paper's feature space on purpose: both models are
  * multinomials over the SAME `Buckets` hashed-bigram slots, so
  * their supports are identical and the likelihood ratio compares
  * FREQUENCIES. (A first cut used per-corpus conditional bigram LMs
  * with add-one smoothing — DsirSpec's adversarial fixtures showed
  * the vocabulary-size asymmetry there can hand an OOV-heavy doc a
  * spuriously positive weight: uniform 1/V_target beats any seen
  * pool probability once the target vocab is small. A shared hashed
  * support makes that inversion structurally impossible.)
  *
  * Everything is bit-replayable by construction:
  *  - bucket counts are exact longs; each occurrence's log-frequency
  *    `ln((c_b + α) / (T + α·B))` quantizes to LONG micro-nats, so a
  *    doc's log importance weight `w_q` is a sum/difference of longs
  *    — order-free under any partial-agg schedule;
  *  - the Gumbel noise is DERIVED, not drawn: `u` comes from the md5
  *    of the doc id (the [[QualityModel]] hashing idiom), so the
  *    perturbed key is a pure function both engines compute
  *    identically — resampling without an RNG, restartable and
  *    shuffle-order-independent at any scale.
  *
  * Scale shape: two counting passes (the model fits — shuffle
  * O(Buckets) after map-side partials), ONE scoring pass over the
  * pool: a single tokenize/explode feeds both models through
  * broadcast-sized (≤ Buckets-row) joins, so scoring is map-only,
  * and the global top-k is `TakeOrdered` (O(k) per partition, no
  * global sort).
  */
object Dsir {

  /** Shared feature space: hashed-bigram slots, same for both models. */
  val Buckets = 4096
  /** Additive smoothing mass per slot — small, so real counts
    * dominate at any realistic corpus size (α·B is ~41 virtual
    * bigrams total).
    */
  val Alpha = 0.01

  /** The hashed-bigram feature stream: one `(doc_id, bucket)` row per
    * bigram occurrence. First 8 hex digits of md5 over "w1 w2" (the
    * [[QualityModel.hashSlot]] idiom — fits a long, replays in SQL).
    */
  private def bucketOf(w1: Column, w2: Column): Column =
    conv(substring(md5(concat(w1, lit(" "), w2)), 1, 8), 16, 10)
      .cast("long") % Buckets

  private def featureStream(docs: DataFrame, idCol: String,
                            textCol: String): DataFrame =
    LangModel.bigramStream(LangModel.tokenized(docs, idCol, textCol))
      .select(col("doc_id"), bucketOf(col("w1"), col("w2")).as("bucket"))

  /** Fit one model: per-bucket occurrence counts `(bucket, c)`.
    * The total `T = Σ c` is derivable — the one-table-artifact
    * property [[LangModel]] established.
    */
  def featureCounts(docs: DataFrame, idCol: String,
                    textCol: String): DataFrame =
    featureStream(docs, idCol, textCol)
      .groupBy(col("bucket")).agg(count(lit(1)).as("c"))

  /** `Σ c` for a fitted model. */
  def featureTotal(counts: DataFrame): Long =
    counts.agg(coalesce(sum(col("c")), lit(0L))).head().getLong(0)

  /** Quantized log-frequency of one occurrence under a model:
    * `round(ln((c + α) / (T + α·B)) · 1e6)` as a long.
    */
  private def lqUnder(c: Column, total: Long): Column =
    roundHalfAway(log((coalesce(c, lit(0L)) + Alpha) /
      (lit(total) + Alpha * Buckets)) * LangModel.Q, 0).cast("long")

  /** Importance weights for every pool doc: one row per doc with
    * `w_q` = quantized total log importance weight (target − pool,
    * micro-nats over the doc's hashed bigrams — the paper's log
    * likelihood ratio) and `logratio` = its length-normalized
    * per-bigram mean in nats (null for bigram-less docs — they carry
    * no distributional evidence either way).
    */
  def weights(pool: DataFrame, idCol: String, textCol: String,
              tgtCounts: DataFrame, tgtTotal: Long,
              srcCounts: DataFrame, srcTotal: Long): DataFrame = {
    require(tgtTotal > 0 && srcTotal > 0,
      s"DSIR needs non-empty target and pool fits, got target total " +
        s"= $tgtTotal, pool total = $srcTotal")
    val base = LangModel.tokenized(pool, idCol, textCol)
    // ONE feature stream, both models joined to it — the pool corpus
    // is exploded once; the joins are ≤ Buckets-row broadcasts
    val terms = LangModel.bigramStream(base)
      .select(col("doc_id"), bucketOf(col("w1"), col("w2")).as("bucket"))
      .join(broadcast(tgtCounts.withColumnRenamed("c", "c_t")),
        Seq("bucket"), "left")
      .join(broadcast(srcCounts.withColumnRenamed("c", "c_s")),
        Seq("bucket"), "left")
      .select(col("doc_id"),
        lqUnder(col("c_t"), tgtTotal).as("lq_t"),
        lqUnder(col("c_s"), srcTotal).as("lq_s"))
    LangModel.foldPerDoc(base, terms, Seq("lq_t", "lq_s"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("sum_lq_t") - col("sum_lq_s")).as("w_q"))
      .withColumn("logratio", when(col("n_bigrams") > 0,
        roundHalfAway((col("w_q") / col("n_bigrams")) / LangModel.Q, 6)))
  }

  /** Derived-uniform grain for the Gumbel noise. */
  val HashGrain = 1048576L // 2^20

  /** The Gumbel-top-k perturbed key: log importance weight (nats) +
    * Gumbel(0,1) noise derived from the doc id. `u = (h + 0.5) / 2^20`
    * keeps u strictly inside (0, 1), so the double log never sees 0.
    */
  private def gumbelKey(idCol: String): Column = {
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long") % HashGrain
    val u = (h + 0.5) / HashGrain
    roundHalfAway(col("w_q") / LangModel.Q + -log(-log(u)), 6)
  }

  /** Gumbel-top-k resample: `k` docs drawn (without replacement)
    * with probability proportional to their importance weight —
    * deterministic given the pool, because the noise is hash-derived.
    * Keeps `(key desc, doc_id)` order ties stable for the oracle.
    * The plan is TakeOrdered — no global sort, no single-partition
    * window.
    */
  def resample(weighted: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"resample needs a positive draw size, got k = $k")
    weighted
      .withColumn("key", gumbelKey(idCol))
      .orderBy(col("key").desc, col(idCol))
      .limit(k)
  }
}
