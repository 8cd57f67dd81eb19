package graft

import org.apache.spark.sql.functions._
import graft.text.LangModel
import graft.io.Scratch

/** CCNet-style bigram-LM perplexity filtering: hand-computed backoff
  * arms, totality on degenerate docs, artifact lifecycle (incl. torn
  * writes), and the streaming-gate ≡ batch differential.
  */
class LangModelSpec extends SparkSpec {
  import spark.implicits._

  /** The quantization both engines pin: round(ln(p)·1e6) half-up
    * (HALF_UP == away-from-zero for the negative log-probs here,
    * matching Spark's round and DuckDB's).
    */
  private def lq(p: Double): Long =
    BigDecimal(math.log(p) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  // reference corpus: bigrams (a,b)×2 (one per doc), (b,a)×1, (b,c)×1;
  // vocab {a,b,c} → V = 3; c1: a→2, b→2
  private val ref = Seq((10L, "a b a"), (11L, "a b c"))
    .toDF("doc_id", "text")

  test("backoff arms: seen bigram, seen context, unseen context") {
    // holdout doc "a b x q": (a,b) seen c12=2,c1=2 → (2+1)/(2+3);
    // (b,x) context b seen c1=2, pair unseen → 1/(2+3);
    // (x,q) context x unseen → 1/3
    val out = LangModel.perplexity(
      Seq((1L, "a b x q")).toDF("doc_id", "text"), "doc_id", "text",
      LangModel.bigramCounts(ref, "text"),
      LangModel.vocabSize(ref, "text"), 8.0).collect()
    assert(out.length == 1)
    val r = out.head
    val expectSum = lq(3.0 / 5) + lq(1.0 / 5) + lq(1.0 / 3)
    assert(r.getAs[Long]("n_bigrams") == 3L)
    assert(r.getAs[Long]("sum_lq") == expectSum)
    val expectNll = BigDecimal(-expectSum.toDouble / 3 / 1e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("nll") == expectNll)
    assert(r.getAs[Boolean]("admit") == (expectNll < 8.0))
  }

  test("totality: empty and single-token docs score as zero-bigram rows") {
    val out = LangModel.perplexity(
      Seq((1L, ""), (2L, "lone"), (3L, "a b")).toDF("doc_id", "text"),
      "doc_id", "text", LangModel.bigramCounts(ref, "text"),
      LangModel.vocabSize(ref, "text"), 8.0)
      .orderBy("doc_id").collect()
    assert(out.length == 3)
    for (r <- out.take(2)) {
      assert(r.getAs[Long]("n_bigrams") == 0L)
      assert(r.getAs[Long]("sum_lq") == 0L)
      assert(r.isNullAt(r.fieldIndex("nll")))
      assert(!r.getAs[Boolean]("admit"))
    }
    assert(out(2).getAs[Long]("n_bigrams") == 1L)
  }

  test("empty reference corpus is refused, not scored against") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      LangModel.perplexity(ref, "doc_id", "text",
        LangModel.bigramCounts(empty, "text"),
        LangModel.vocabSize(empty, "text"), 8.0)
    }
    assert(e.getMessage.contains("non-empty reference vocabulary"))
  }

  test("artifact lifecycle: save → validated load → identical scores") {
    val dir = Scratch.dir("lm")
    val bigrams = LangModel.bigramCounts(ref, "text")
    val v = LangModel.vocabSize(ref, "text")
    LangModel.save(bigrams, v, 2L, dir)
    val (loaded, lv) = LangModel.load(spark, dir)
    assert(lv == v)
    val probe = Seq((1L, "a b x q")).toDF("doc_id", "text")
    val direct = LangModel
      .perplexity(probe, "doc_id", "text", bigrams, v, 8.0).collect()
    val viaDisk = LangModel
      .perplexity(probe, "doc_id", "text", loaded, lv, 8.0).collect()
    assert(direct.toSeq == viaDisk.toSeq)
  }

  test("torn artifact fails loudly: stale meta under rewritten counts") {
    val dir = Scratch.dir("lm_torn")
    LangModel.save(LangModel.bigramCounts(ref, "text"),
      LangModel.vocabSize(ref, "text"), 2L, dir)
    // a second writer died after rewriting the counts but before
    // committing meta — the recorded total no longer matches
    LangModel.bigramCounts(ref.limit(1), "text")
      .write.mode("overwrite").parquet(s"$dir/bigrams")
    val e = intercept[IllegalArgumentException] {
      LangModel.load(spark, dir)
    }
    assert(e.getMessage.contains("torn or mixed-generation"))
  }

  test("streaming gate drains to exactly the batch admitted set") {
    val docs = (0L until 40L).map { i =>
      // every 4th doc is off-distribution noise the gate should find
      val t = if (i % 4 == 0) s"zz$i yy$i xx$i ww$i" else "a b a b c a"
      (i, t)
    }.toDF("doc_id", "text")
    val ref2 = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val hold = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val threshold = 1.5
    val batch = LangModel.perplexity(hold, "doc_id", "text",
        LangModel.bigramCounts(ref2, "text"),
        LangModel.vocabSize(ref2, "text"), threshold)
      .filter(col("admit"))
      .collect().map(_.toSeq).toSet
    val streamed = graft.streaming.StreamingJob
      .streamPerplexityGate(ref2, hold, "doc_id", "text", threshold,
        Scratch.dir("s26t"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_lq"),
        col("nll"), col("admit"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty && batch.size < 8, // the gate discriminates
      s"expected a strict subset admitted, got ${batch.size} of 8")
  }
}
