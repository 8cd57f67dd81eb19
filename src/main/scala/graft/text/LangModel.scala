package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Rounding.roundHalfAway

/** CCNet-style n-gram language-model perplexity filtering: train a
  * bigram LM with add-one smoothing on a REFERENCE corpus, persist it
  * as an artifact, and score any other corpus by per-document mean
  * negative log-likelihood — the classic "keep what looks like the
  * reference distribution" quality gate (Wenzek et al., CCNet,
  * arXiv:1911.00359; the reference repo's quality gating is
  * heuristic-only — containers/spark-etl/streaming_etl.py:115-153 — so
  * this whole family is surplus capability for the LLM-curation
  * surface, same tier as [[QualityModel]]).
  *
  * Model = ONE table of bigram counts `(w1, w2, c12)` plus a tiny
  * meta row (vocab size V, total bigram count, doc count): the
  * context totals are derivable (`c1(w1) = Σ_w2 c12(w1, w2)` —
  * every context occurrence IS a bigram occurrence), so the artifact
  * cannot desynchronize its numerator and denominator tables by
  * construction.
  *
  * Smoothing/backoff (all three arms total, no doc can fail):
  *   - seen bigram:        p = (c12 + 1) / (c1 + V)
  *   - seen w1, unseen w2: p = 1 / (c1 + V)        (the add-one mass)
  *   - unseen w1:          p = 1 / V               (uniform fallback)
  *
  * QUANTIZED determinism — the [[QualityModel]] discipline taken one
  * step further: each bigram's log-probability is quantized to LONG
  * micro-nats (`round(ln(p) · 1e6)`) and the per-doc total is a sum
  * of longs — exactly order-free, so Spark's partial-agg order
  * cannot move it and DuckDB replays it bit-for-bit. The only float
  * ops are the per-term `ln` (both engines round the same IEEE
  * double to the same integer away from any realistic boundary) and
  * the final mean (one long÷long IEEE division, identical on both).
  */
object LangModel {

  /** Quantization scale: micro-nats per token. */
  val Q = 1e6

  /** Bigram counts `(w1, w2, c12)` over the lowercased whitespace
    * tokenization of `textCol` — the entire trainable state of the
    * model. Two map-side-combined aggregations (the explode feeds one
    * groupBy); shuffle is O(bigram TYPES), never O(corpus).
    */
  def bigramCounts(docs: DataFrame, textCol: String): DataFrame = {
    val tk = col("tk")
    val n1 = greatest(size(tk) - 1, lit(0))
    docs
      .select(Text.tokens(lower(col(textCol))).as("tk"))
      .select(explode(arrays_zip(slice(tk, lit(1), n1), slice(tk, lit(2), n1)))
        .as("b"))
      .select(col("b").getField("0").as("w1"), col("b").getField("1").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
  }

  /** Vocabulary size: distinct lowercased tokens in the training
    * corpus (ALL tokens, including doc-final ones that never open a
    * bigram — V is the smoothing denominator, not a bigram stat).
    */
  def vocabSize(docs: DataFrame, textCol: String): Long =
    docs.select(explode(Text.tokens(lower(col(textCol)))).as("t"))
      .agg(countDistinct(col("t"))).head().getLong(0)

  /** Persist the model: `dir/bigrams` (the counts, written FIRST) and
    * `dir/meta` (v / total / docs, written LAST — the commit record:
    * [[load]] cross-checks total against the counts actually read, so
    * a torn write can never score silently).
    */
  def save(bigrams: DataFrame, v: Long, nDocs: Long, dir: String): Unit = {
    val s = bigrams.sparkSession
    import s.implicits._
    val counted = bigrams.cache()
    val total = counted.agg(coalesce(sum(col("c12")), lit(0L)))
      .head().getLong(0)
    counted.write.mode("overwrite").parquet(s"$dir/bigrams")
    Seq((v, total, nDocs)).toDF("v", "total_bigrams", "n_docs")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/meta")
    counted.unpersist()
  }

  /** Load a persisted model, validated: meta must exist, be a single
    * row with positive V, and its recorded bigram total must equal
    * the sum of the counts table — a half-written artifact (bigrams
    * without meta, or rewritten bigrams under stale meta) fails
    * loudly here instead of producing silently-wrong perplexities.
    */
  def load(s: SparkSession, dir: String): (DataFrame, Long) = {
    val meta = s.read.parquet(s"$dir/meta").collect()
    require(meta.length == 1,
      s"LM at $dir: meta must be exactly one row, got ${meta.length} — torn write?")
    val v = meta(0).getAs[Long]("v")
    val recorded = meta(0).getAs[Long]("total_bigrams")
    require(v > 0, s"LM at $dir: vocab size $v must be positive")
    val bigrams = s.read.parquet(s"$dir/bigrams")
    val actual = bigrams.agg(coalesce(sum(col("c12")), lit(0L)))
      .head().getLong(0)
    require(actual == recorded,
      s"LM at $dir: counts sum to $actual but meta records $recorded — " +
        "torn or mixed-generation artifact")
    (bigrams, v)
  }

  /** Quantized log-prob of one bigram occurrence given (possibly
    * null) joined counts — the three backoff arms. Kept as a column
    * builder so batch scoring and the streaming gate share the exact
    * expression.
    */
  private[text] def termMicroNats(c12: Column, c1: Column, v: Column): Column = {
    val seen = roundHalfAway(log((c12 + 1.0) / (c1 + v)) * Q, 0).cast("long")
    val ctxOnly = roundHalfAway(log(lit(1.0) / (c1 + v)) * Q, 0).cast("long")
    val unseen = roundHalfAway(log(lit(1.0) / v) * Q, 0).cast("long")
    when(c12.isNotNull, seen).when(c1.isNotNull, ctxOnly).otherwise(unseen)
  }

  /** Score `docs` against a trained model: one row PER INPUT DOC
    * (totality — bigram-less docs come back with `n_bigrams = 0`,
    * `sum_lq = 0`, null `nll`, `admit = false`), where `sum_lq` is
    * the exact long total of quantized log-probs, `nll` the mean
    * negative log-likelihood in nats (rounded to 6), and `admit` the
    * CCNet gate `nll < threshold`.
    *
    * Plan shape: the doc→bigram explode LEFT-joins the counts table
    * on (w1, w2) and the derived context totals on w1, then folds
    * back to one row per doc. At corpus scale both joins are
    * shuffle-on-key with map-side-combined re-aggregation; the w1
    * join is Zipf-skewed by construction ("the" opens a large share
    * of bigrams) — AQE skew-split handles it, and when the model
    * fits an executor ([[graft.text.Bm25]]-style pruned vocabularies
    * routinely do) both joins broadcast and the whole score is
    * map-only.
    */
  def perplexity(docs: DataFrame, idCol: String, textCol: String,
                 bigrams: DataFrame, v: Long, threshold: Double,
                 contextTotals: Option[DataFrame] = None): DataFrame =
    logLikelihood(docs, idCol, textCol, bigrams, v, contextTotals)
      .withColumn("nll", when(col("n_bigrams") > 0,
        roundHalfAway((-col("sum_lq") / col("n_bigrams")) / Q, 6)))
      .withColumn("admit", coalesce(col("nll") < threshold, lit(false)))

  /** The scoring core: one row PER INPUT DOC of `(doc_id, n_bigrams,
    * sum_lq)` where `sum_lq` is the exact long total of quantized
    * per-bigram log-probs under the model. [[perplexity]] layers the
    * mean/gate on top; [[Dsir]] differences two of these totals.
    */
  def logLikelihood(docs: DataFrame, idCol: String, textCol: String,
                    bigrams: DataFrame, v: Long,
                    contextTotals: Option[DataFrame] = None): DataFrame = {
    require(v > 0,
      s"scoring needs a non-empty reference vocabulary, got V = $v")
    val base = tokenized(docs, idCol, textCol)
    // derivable state, so a caller probing per micro-batch can pin it
    // once for the stream's life (the [[Bm25.readStats]] discipline)
    // instead of re-aggregating the model every trigger
    val c1 = contextTotals.getOrElse(derivedContextTotals(bigrams))
    val terms = bigramStream(base)
      .join(bigrams, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .select(col("doc_id"),
        termMicroNats(col("c12"), col("c1"), lit(v)).as("lq"))
    foldPerDoc(base, terms)
  }

  /** `c1(w1) = Σ_w2 c12(w1, w2)` — the model's derivable denominator. */
  def derivedContextTotals(bigrams: DataFrame): DataFrame =
    bigrams.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))

  /** Tokenize once, lineage-truncated: feeds both the bigram stream
    * and the totality join.
    */
  private[text] def tokenized(docs: DataFrame, idCol: String,
                              textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        Text.tokens(lower(col(textCol))).as("tk"))
      .localCheckpoint(true)

  private[text] def bigramStream(base: DataFrame): DataFrame = {
    val tk = col("tk")
    val n1 = greatest(size(tk) - 1, lit(0))
    base
      .select(col("doc_id"),
        explode(arrays_zip(slice(tk, lit(1), n1), slice(tk, lit(2), n1)))
          .as("b"))
      .select(col("doc_id"), col("b").getField("0").as("w1"),
        col("b").getField("1").as("w2"))
  }

  /** Per-doc fold + totality join: bigram-less docs come back with
    * zero counts.
    */
  private[text] def foldPerDoc(base: DataFrame, terms: DataFrame,
                               sums: Seq[String] = Seq("lq")): DataFrame = {
    val named = sums.map(c =>
      sum(col(c)).as(if (sums.size == 1) "sum_lq" else s"sum_$c"))
    val agg = terms.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), named: _*)
    val outNames =
      if (sums.size == 1) Seq("sum_lq") else sums.map(c => s"sum_$c")
    base.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id") +:
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams") +:
        outNames.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
  }
}
