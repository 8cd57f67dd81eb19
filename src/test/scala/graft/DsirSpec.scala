package graft

import org.apache.spark.sql.functions._
import graft.text.Dsir
import graft.io.Scratch

/** DSIR importance resampling: weights replicated bigram-by-bigram
  * from first principles (Scala-side md5 + the smoothed multinomial
  * formula), selection-skew semantics, deterministic Gumbel-top-k,
  * degenerate-input refusal, and the streaming admission ≡ batch
  * differential.
  */
class DsirSpec extends SparkSpec {
  import spark.implicits._

  /** Scala-side replication of [[Dsir]]'s hashed-bigram slot. */
  private def bucket(w1: String, w2: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$w1 $w2".getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(8), 16) % Dsir.Buckets
  }

  /** Scala-side replication of the quantized smoothed log-frequency. */
  private def lq(c: Long, total: Long): Long =
    BigDecimal(math.log((c + Dsir.Alpha) /
        (total + Dsir.Alpha * Dsir.Buckets)) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  // target corpus: "a b" ×2 docs → one slot with c=2, T_t=2
  // pool corpus: the target docs + "x y" → slots {ab: 2, xy: 1}, T_s=3
  private val tgt = Seq((100L, "a b"), (101L, "a b")).toDF("doc_id", "text")
  private val pool = Seq((100L, "a b"), (101L, "a b"), (102L, "x y"))
    .toDF("doc_id", "text")

  private def fit(docs: org.apache.spark.sql.DataFrame) = {
    val c = Dsir.featureCounts(docs, "doc_id", "text")
    (c, Dsir.featureTotal(c))
  }

  private def poolWeights = {
    val (tc, tt) = fit(tgt)
    val (sc, st) = fit(pool)
    Dsir.weights(pool, "doc_id", "text", tc, tt, sc, st)
  }

  test("weights are the exact difference of the two quantized totals") {
    // the two bigrams must land in distinct slots for the hand
    // calculation to hold (they do; this guards the fixture)
    assert(bucket("a", "b") != bucket("x", "y"))
    val w = poolWeights.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("w_q")).toMap
    // "a b": target slot c=2 of T=2; pool slot c=2 of T=3
    val inTgt = lq(2, 2) - lq(2, 3)
    assert(w(100L) == inTgt && w(101L) == inTgt)
    // "x y": unseen in target (c=0 of T=2); pool slot c=1 of T=3
    assert(w(102L) == lq(0, 2) - lq(1, 3))
    // and the target-like docs must outweigh the off-target one
    assert(inTgt > w(102L))
  }

  test("bigram-less pool docs carry no evidence: w_q 0, logratio null") {
    val (tc, tt) = fit(tgt)
    val (sc, st) = fit(pool)
    val w = Dsir.weights(
      Seq((1L, "solo"), (2L, "")).toDF("doc_id", "text"),
      "doc_id", "text", tc, tt, sc, st).collect()
    assert(w.length == 2)
    for (r <- w) {
      assert(r.getAs[Long]("w_q") == 0L)
      assert(r.isNullAt(r.fieldIndex("logratio")))
    }
  }

  test("empty target or pool fit is refused") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val (tc, tt) = fit(empty)
    val (sc, st) = fit(pool)
    assert(tt == 0L) // featureTotal is 0 (not an NPE) on zero rows
    val e = intercept[IllegalArgumentException] {
      Dsir.weights(pool, "doc_id", "text", tc, tt, sc, st)
    }
    assert(e.getMessage.contains("non-empty target and pool"))
  }

  // A mixed pool: 30 docs matching the target template exactly, 30
  // off-domain docs of unique junk. The template docs share ALL their
  // bigrams with the target fit, so their per-bigram log ratio is
  // positive (target frequency beats pool frequency); the junk docs'
  // slots are unseen in the target, so theirs is strongly negative.
  private val mixedPool = (0L until 60L).map { i =>
    val t = if (i < 30) "the quick fox jumps" else s"zz$i yy$i xx$i vv$i"
    (i, t)
  }.toDF("doc_id", "text")
  private val mixedTgt = (0L until 10L)
    .map(i => (1000L + i, "the quick fox jumps")).toDF("doc_id", "text")

  private def mixedWeights = {
    val (tc, tt) = fit(mixedTgt)
    val (sc, st) = fit(mixedPool)
    Dsir.weights(mixedPool, "doc_id", "text", tc, tt, sc, st)
  }

  test("resample is deterministic, size-k, and skews hard to the target") {
    val k = 20
    val take1 = Dsir.resample(mixedWeights, "doc_id", k).collect()
    val take2 = Dsir.resample(mixedWeights, "doc_id", k).collect()
    assert(take1.map(_.toSeq).toSeq == take2.map(_.toSeq).toSeq)
    assert(take1.length == k)
    val targetLike = take1.count(_.getAs[Long]("doc_id") < 30)
    // pool is 50/50; importance resampling must beat it decisively
    assert(targetLike >= 15, s"only $targetLike/$k target-like selected")
  }

  test("streaming admission drains to exactly the batch gated set") {
    // static corpus = the pool with its lang labels; target slice =
    // lang='en' (the 30 template docs)
    val staticDocs = mixedPool.withColumn("lang",
      when(col("doc_id") < 30, "en").otherwise("xx"))
    val streamed = graft.streaming.StreamingJob
      .streamDsirAdmission(staticDocs, mixedPool, "doc_id", "text",
        targetLang = "en", threshold = 0.0,
        Scratch.dir("s27t"))
      .collect().map(_.toSeq).toSet
    val tgtSlice = mixedPool.filter(col("doc_id") < 30)
    val (tc, tt) = fit(tgtSlice)
    val (sc, st) = fit(mixedPool)
    val expected = Dsir.weights(mixedPool, "doc_id", "text", tc, tt, sc, st)
      .filter(col("logratio") > 0)
      .collect().map(_.toSeq).toSet
    assert(streamed == expected)
    // the gate must be real in BOTH directions: the template docs
    // clear it, the junk docs do not
    assert(expected.map(_.head.asInstanceOf[Long]) == (0L until 30L).toSet)
  }
}
