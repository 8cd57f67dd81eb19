package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.Rounding.roundHalfAway

/** Model-based quality scoring: a fastText-shaped linear classifier
  * over a hashed bag-of-words — the shape of the "quality classifier"
  * stage every large-scale curation pipeline runs (CCNet / GPT-3-style
  * filtering), distilled to its dataflow.
  *
  * The dataflow is the point: per doc, hash each token into one of
  * `Buckets` weight slots, mean-pool the weights, add a bias, squash.
  * Everything happens INSIDE one row via higher-order array functions
  * (`transform` + `aggregate`) — no explode, no shuffle, no UDF; the
  * scoring pass is map-only at any corpus size and pipelines into
  * whatever scan precedes it. A trained model would arrive as a
  * `Buckets`-sized weight array literal (or broadcast); here the
  * weights are a deterministic function of the bucket id so the DuckDB
  * oracle replays scoring END-TO-END (md5-derived bucket → weight →
  * ordered mean-pool → sigmoid) and hash-matches the scores.
  *
  * Floating-point parity: the fold accumulates in list order in both
  * engines, so the double sum is bit-identical; only `exp` may differ
  * by an ulp between libms, which the 6-decimal rounding absorbs —
  * and the label compares the ROUNDED score against the threshold so
  * a boundary ulp cannot flip it on one side only.
  */
object QualityModel {

  val Buckets = 1000
  val Bias = -0.1

  /** Weight slot for one token: uniform in [-0.5, 0.5), keyed by the
    * first 8 hex digits of md5 (fits a long; no overflow on either
    * engine).
    */
  def tokenWeight(t: Column): Column =
    (conv(substring(md5(t), 1, 8), 16, 10).cast("long") % Buckets)
      .cast("double") / Buckets - 0.5

  /** Mean-pooled hashed-linear score squashed to (0,1); tokenless docs
    * score the bare bias.
    */
  def score(text: Column): Column = {
    val toks = Text.tokens(lower(text))
    val pooled = aggregate(transform(toks, tokenWeight(_)),
      lit(0.0), (acc, x) => acc + x) / size(toks)
    val z = when(size(toks) > 0, lit(Bias) + pooled).otherwise(lit(Bias))
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** The hash slot of one token — the feature index both [[score]]'s
    * fixed weights and [[train]]'s learned weights key on.
    */
  def tokenSlot(t: Column): Column =
    (conv(substring(md5(t), 1, 8), 16, 10).cast("long") % Buckets)
      .cast("int")

  /** Score with LEARNED weights (a `Buckets`-sized array + bias from
    * [[train]]): same map-only one-Project dataflow as [[score]] —
    * the weight array rides the plan as a literal.
    */
  def scoreWith(text: Column, w: Seq[Double], bias: Double): Column = {
    val toks = Text.tokens(lower(text))
    val wLit = typedLit(w)
    val pooled = aggregate(
      transform(toks, t => element_at(wLit, tokenSlot(t) + 1)),
      lit(0.0), (acc, x) => acc + x) / size(toks)
    val z = when(size(toks) > 0, lit(bias) + pooled).otherwise(lit(bias))
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Persist a trained model — the classifier ARTIFACT the curation
    * pipeline ships from the train job to every scoring job (the
    * [[Bpe.saveMerges]] discipline): one tiny parquet of
    * (slot, weight) rows with the bias at slot -1.
    */
  def saveModel(s: org.apache.spark.sql.SparkSession, w: Seq[Double],
                bias: Double, dir: String): Unit = {
    import s.implicits._
    require(w.size == Buckets, s"expected $Buckets weights, got ${w.size}")
    (w.zipWithIndex.map { case (wt, i) => (i, wt) } :+ (-1 -> bias))
      .toDF("slot", "weight")
      .repartition(1).write.mode("overwrite").parquet(dir)
  }

  /** Load a persisted model, validated — fails loudly on a missing /
    * torn artifact rather than silently scoring with a partial
    * weight table.
    */
  def loadModel(s: org.apache.spark.sql.SparkSession,
                dir: String): (IndexedSeq[Double], Double) = {
    val rows = s.read.parquet(dir).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    require(rows.size == Buckets + 1 &&
      (-1 until Buckets).forall(rows.contains),
      s"quality model at $dir is incomplete (${rows.size} rows) — " +
        s"torn write?")
    ((0 until Buckets).map(rows), rows(-1))
  }

  /** TRAIN the classifier in-engine: full-batch logistic-regression
    * gradient descent distilling the heuristic rule
    * ([[Text.qualityScore]] ≥ 0.45) into the hashed-linear model —
    * the CCNet-style move of turning a hand-written filter into a
    * learnable one, here with the LABELS as well as the features
    * derived inside the plan.
    *
    * Each step is ONE wide aggregate pass over the corpus (plus a
    * one-row bias aggregate): per doc, z folds the weight-array
    * literal over the token stream (map-only, same dataflow as
    * scoring), and the per-token gradient contributions collapse in a
    * slot-keyed map-side-combined groupBy — driver state is the
    * `Buckets`-sized weight vector, independent of corpus size
    * (the [[graft.similarity.Ann]] centroid discipline).
    *
    * QUANTIZED determinism — what makes training itself
    * oracle-replayable: the predicted probability is rounded to 6
    * decimals (absorbing the libm `exp` ulp), each gradient
    * contribution is rounded BEFORE the sum (summing exact 1e-6
    * multiples is associative in doubles far past any corpus size,
    * so Spark's partial-agg order cannot move the total), and the
    * updated weights/bias re-round to 6 decimals — so every z in the
    * NEXT step sums exact multiples again, order-free. DuckDB
    * replays all `steps` updates CTE-for-CTE, bit-for-bit.
    *
    * Tokenless docs carry no feature signal and are excluded (their
    * gradient is bias-only; the exclusion is part of the documented
    * contract, mirrored in the oracle).
    */
  def train(docs: org.apache.spark.sql.DataFrame, textCol: String,
            steps: Int, lr: Double): (IndexedSeq[Double], Double) = {
    require(steps >= 1, s"steps must be positive, got $steps")
    // the loop is sequential-by-nature; its wall time is step count ×
    // per-step fixed job cost, so (the Bpe.trainBatchedFrom posture)
    // AQE's stage-per-job split is off for the tiny per-step
    // aggregate — on a CLONED session with an isolated SQLConf (r9:
    // mutate-and-restore on the shared conf raced queries on other
    // threads), the docs plan re-rooted into the clone
    val clone = org.apache.spark.sql.GraftSqlBridge
      .cloneSession(docs.sparkSession)
    clone.conf.set("spark.sql.adaptive.enabled", "false")
    // the loop's only exchange is the slot-keyed gradient aggregate,
    // whose final cardinality is ≤ Buckets+1 rows at ANY corpus size
    // (map-side partials bound per-partition output the same way) —
    // with AQE off, the inherited scan-sized reducer count is pure
    // empty-task floor per step; a small constant is right at every
    // scale (the Bpe.trainBatchedFrom posture, r10). The base build
    // it checkpoints is map-only, so no corpus-sized shuffle ever
    // runs under this setting.
    clone.conf.set("spark.sql.shuffle.partitions", "4")
    trainLoop(org.apache.spark.sql.GraftSqlBridge.reRoot(clone, docs),
      textCol, steps, lr)
  }

  private def trainLoop(docs: org.apache.spark.sql.DataFrame,
                        textCol: String, steps: Int,
                        lr: Double): (IndexedSeq[Double], Double) = {
    val toks = Text.tokens(lower(col(textCol)))
    // hash-to-slot ONCE (r10): the slot of a token is step-invariant,
    // but the loop used to re-run the md5-based tokenSlot over the
    // whole token stream TWICE per step (the z fold and the gradient
    // explode) — 2·steps full hashing passes of pure repeated work at
    // any corpus size. The checkpointed base now carries the slot
    // array; per-step arithmetic (array order, rounding, group sums)
    // is unchanged expression-for-expression, so the learned weights
    // stay bit-identical to the oracle's CTE replay.
    val base = docs.select(
        transform(toks, t => tokenSlot(t)).as("tk"),
        (Text.qualityScore(col(textCol)) >= 0.45).cast("double").as("y"))
      .filter(size(col("tk")) > 0)
      .localCheckpoint()
    val nDocs = base.count().toDouble
    require(nDocs > 0, "cannot train on a corpus with no token-ful docs")
    var w = IndexedSeq.fill(Buckets)(0.0)
    var b = 0.0
    for (_ <- 1 to steps) {
      val wLit = typedLit(w)
      val z = lit(b) + aggregate(
        transform(col("tk"), s => element_at(wLit, s + 1)),
        lit(0.0), (acc, x) => acc + x) / size(col("tk"))
      val stepped = base.select(col("tk"), size(col("tk")).as("n"),
        (roundHalfAway(lit(1.0) / (lit(1.0) + exp(-z)), 6) - col("y")).as("err"))
      // ONE action per step: the bias gradient rides the slot-keyed
      // aggregate as sentinel slot -1 (one per-doc row, g =
      // round(err, 6) — exactly the former separate bias aggregate).
      // Both arms still sum exact 1e-6 multiples, so the fused
      // groupBy stays order-free and the values are bit-identical to
      // the two-action form the oracle replays.
      val grads = stepped
        .select(explode(col("tk")).as("slot"),
          roundHalfAway(col("err") / col("n"), 6).as("g"))
        .unionByName(stepped.select(lit(-1).as("slot"),
          roundHalfAway(col("err"), 6).as("g")))
        .groupBy(col("slot"))
        .agg(sum(col("g")).as("grad"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val bGrad = grads.getOrElse(-1, 0.0)
      w = w.indices.map(j =>
        roundHalfAway(w(j) - lr * grads.getOrElse(j, 0.0) / nDocs, 6))
      b = roundHalfAway(b - lr * bGrad / nDocs, 6)
    }
    (w, b)
  }
}
