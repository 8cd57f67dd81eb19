package graft

import org.apache.spark.sql.functions._
import graft.text.PplBuckets
import graft.io.Scratch

/** CCNet perplexity bucketing: hand-computed cutoffs on synthetic
  * scored frames (isolating the new logic from the LM, which
  * LangModelSpec already pins), bin-grain boundary semantics,
  * weighting, totality, refusal, and the streamed ≡ batch
  * differential through the real LM.
  */
class PplBucketsSpec extends SparkSpec {
  import spark.implicits._

  private def scored(rows: (Long, Option[Double], Long)*) =
    rows.toDF("doc_id", "nll", "chars")

  test("equal-weight three-bin corpus cuts into exact thirds") {
    val out = PplBuckets.assign(
      scored((1L, Some(0.001), 100L), (2L, Some(0.002), 100L),
        (3L, Some(0.003), 100L)), "chars")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("bin"), r.getAs[String]("bucket"))).toMap
    assert(out(1L) == (1, "head"))
    assert(out(2L) == (2, "middle"))
    assert(out(3L) == (3, "tail"))
  }

  test("char weights move the cutoff: one heavy doc owns the head") {
    // doc 1 carries 2/3 of the char mass → cum·3 ≥ total AND ≥ 2·total
    // already at its bin: b1 = b2 = 1, so everything after it is tail
    val out = PplBuckets.assign(
      scored((1L, Some(0.001), 800L), (2L, Some(0.002), 100L),
        (3L, Some(0.003), 100L)), "chars")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("bucket")).toMap
    assert(out == Map(1L -> "head", 2L -> "tail", 3L -> "tail"))
  }

  test("docs sharing a cutoff bin share its label (bin-grain split)") {
    // both docs quantize to bin 1 → one histogram row → b1 = b2 = 1 →
    // both head, even though an exact per-doc tertile would split them
    val out = PplBuckets.assign(
      scored((1L, Some(0.0010), 100L), (2L, Some(0.0011), 100L),
        (3L, Some(0.100), 100L)), "chars")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("bucket")).toMap
    assert(out(1L) == "head" && out(2L) == "head")
    assert(out(3L) == "tail")
  }

  test("clamp: scores past MaxBin nats land in the last bin") {
    val out = PplBuckets.binned(scored((1L, Some(99.0), 10L)))
      .collect().head
    assert(out.getAs[Int]("bin") == PplBuckets.MaxBin)
  }

  test("evidence-free docs: null bucket, excluded from the histogram") {
    val out = PplBuckets.assign(
      scored((1L, Some(0.5), 100L), (2L, None, 100L)), "chars").collect()
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(2L).isNullAt(byId(2L).fieldIndex("bucket")))
    // sole scored doc is the whole distribution → head
    assert(byId(1L).getAs[String]("bucket") == "head")
  }

  test("an all-evidence-free calibration set is refused") {
    val e = intercept[IllegalArgumentException] {
      PplBuckets.assign(scored((1L, None, 100L), (2L, None, 50L)), "chars")
    }
    assert(e.getMessage.contains("bigram evidence"))
  }

  test("streaming labeling drains to exactly the batch assignment") {
    // a real LM end to end: reference split trains, the rest arrives
    val docs = (0L until 40L).map { i =>
      val t =
        if (i % 3 == 0) "the quick fox jumps over the lazy dog"
        else if (i % 3 == 1) s"the quick fox rests u$i"
        else s"zz$i yy$i xx$i ww$i vv$i"
      (i, t)
    }.toDF("doc_id", "text")
    val ref = docs.filter(col("doc_id") % 4 =!= 0)
    val arr = docs.filter(col("doc_id") % 4 === 0)
    val streamed = graft.streaming.StreamingJob
      .streamPplBuckets(ref, arr, arr, "doc_id", "text", threshold = 99.0,
        Scratch.dir("s28t"))
      .collect().map(_.toSeq).toSet
    val bigrams = graft.text.LangModel.bigramCounts(ref, "text")
    val v = graft.text.LangModel.vocabSize(ref, "text")
    val batchScored = graft.text.LangModel
      .perplexity(arr, "doc_id", "text", bigrams, v, 99.0)
      .join(arr.select(col("doc_id"),
        length(col("text")).cast("long").as("chars")), Seq("doc_id"))
    val expected = PplBuckets.assign(batchScored, "chars")
      .select(col("doc_id"), col("nll"), col("bin"), col("chars"),
        col("bucket"))
      .collect().map(_.toSeq).toSet
    assert(streamed == expected)
    // the fixture must exercise all three labels or the test is weak
    val labels = expected.map(_.last).filter(_ != null)
    assert(labels == Set("head", "middle", "tail"),
      s"fixture produced only $labels")
  }
}
