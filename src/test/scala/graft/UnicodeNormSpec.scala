package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.UnicodeNorm

/** Native NFC expression: composition correctness against the JVM
  * reference, the no-copy fast path, null totality, and codegen
  * compatibility (the expression must survive whole-stage codegen,
  * not fall back to interpreted eval). All non-ASCII fixture content
  * is built from explicit \u escapes — source-encoding-proof.
  */
class UnicodeNormSpec extends SparkSpec {
  import spark.implicits._

  private val deacute = "cafe\u0301" // e + COMBINING ACUTE (decomposed)
  private val composed = "caf\u00e9"   // é precomposed

  test("kernel composes canonical sequences and is identity on NFC") {
    assert(UnicodeNorm.nfc(UTF8String.fromString(deacute)).toString
      == composed)
    assert(UnicodeNorm.nfc(UTF8String.fromString("A\u030A")).toString
      == "\u00C5") // A + COMBINING RING → Å
    // already-NFC input returns the SAME object — the no-alloc path
    val ascii = UTF8String.fromString("plain ascii")
    assert(UnicodeNorm.nfc(ascii) eq ascii)
    val nfc = UTF8String.fromString(composed)
    assert(UnicodeNorm.nfc(nfc) eq nfc)
  }

  test("expression matches java.text.Normalizer row-for-row (codegen)") {
    val rows = Seq(deacute, "A\u030Angstro\u0308m", "ascii", "",
      "mix\u00e9d x\u0323")
    val df = rows.toDF("s")
    val got = df.select(UnicodeNorm.nfc(col("s")).as("n"))
      .collect().map(_.getString(0)).toSeq
    val want = rows.map(s =>
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    assert(got == want)
    assert(want(0) == composed) // the fixture really is denormalized
    // must run INSIDE a WholeStageCodegen span, not as a fallback
    // (repartition keeps Catalyst from collapsing the local relation
    // into a pre-evaluated LocalTableScan; executing first lets AQE
    // materialize the final plan the span lives in)
    val planned = df.repartition(1).select(UnicodeNorm.nfc(col("s")))
    planned.collect()
    val plan = planned.queryExecution.executedPlan.toString
    // the `*(n)` prefix is the WholeStageCodegen marker: the Project
    // evaluating the expression must carry it
    assert(plan.contains("*(1) Project"), plan)
  }

  test("null in, null out") {
    val df = Seq(Some(deacute), None).toDF("s")
    val got = df.select(UnicodeNorm.nfc(col("s")).as("n")).collect()
    assert(got.count(_.isNullAt(0)) == 1)
    assert(got.flatMap(r => Option(r.getString(0))).toSeq == Seq(composed))
  }
}
