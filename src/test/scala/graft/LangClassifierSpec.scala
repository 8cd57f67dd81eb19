package graft

import org.apache.spark.sql.functions._
import graft.text.LangClassifier
import graft.io.Scratch

/** Naive-Bayes language ID: separation on disjoint vocabularies,
  * deterministic tie-breaking, evidence-free totality, empty-fit
  * refusal, and the streamed ≡ batch differential.
  */
class LangClassifierSpec extends SparkSpec {
  import spark.implicits._

  private val train = Seq(
    (1L, "der hund läuft schnell weg", "de"),
    (2L, "der hund schläft gern hier", "de"),
    (3L, "the dog runs very fast", "en"),
    (4L, "the dog sleeps right here", "en")
  ).toDF("doc_id", "text", "lang")

  private def models =
    LangClassifier.fit(train, "text", "lang", Seq("en", "de"))

  test("disjoint vocabularies classify cleanly in both directions") {
    val got = LangClassifier.classify(
      Seq((10L, "der hund läuft hier"), (11L, "the dog sleeps fast"))
        .toDF("doc_id", "text"), "doc_id", "text", models)
      .collect().map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[String]("pred")).toMap
    assert(got == Map(10L -> "de", 11L -> "en"))
  }

  test("exact likelihood ties break to the smallest language name") {
    // identical training corpora under two labels → every doc scores
    // the same under both models → 'aa' must win every time
    val t = Seq((1L, "x y z", "aa"), (2L, "x y z", "bb"))
      .toDF("doc_id", "text", "lang")
    val ms = LangClassifier.fit(t, "text", "lang", Seq("bb", "aa"))
    val got = LangClassifier.classify(
      Seq((9L, "x y unseen")).toDF("doc_id", "text"),
      "doc_id", "text", ms).collect().head
    assert(got.getAs[String]("pred") == "aa")
  }

  test("bigram-less docs carry no evidence: null pred") {
    val got = LangClassifier.classify(
      Seq((1L, "solo"), (2L, "")).toDF("doc_id", "text"),
      "doc_id", "text", models).collect()
    assert(got.length == 2)
    assert(got.forall(_.isNullAt(got.head.fieldIndex("pred"))))
  }

  test("a language with an empty training vocabulary is refused") {
    val e = intercept[IllegalArgumentException] {
      LangClassifier.fit(train, "text", "lang", Seq("en", "de", "xx"))
    }
    assert(e.getMessage.contains("empty training vocabulary"))
  }

  test("streaming classification drains to exactly the batch labels") {
    val arriving = Seq(
      (20L, "der hund schläft schnell", "de"),
      (21L, "the dog runs here", "en"),
      (22L, "", "en")
    ).toDF("doc_id", "text", "lang")
    val streamed = graft.streaming.StreamingJob
      .streamLangidClassify(train, arriving, "doc_id", "text", "lang",
        Seq("en", "de"),
        Scratch.dir("s29t"))
      .collect().map(_.toSeq).toSet
    val expected = LangClassifier.classify(arriving, "doc_id", "text",
        models)
      .join(arriving.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("pred").as("pred_lang"),
        when(col("pred").isNotNull, col("pred") === col("lang"))
          .as("correct"))
      .collect().map(_.toSeq).toSet
    assert(streamed == expected)
    // the labels must be real: both langs predicted, the empty doc null
    assert(expected.map(_(2)) == Set("de", "en", null))
  }
}
