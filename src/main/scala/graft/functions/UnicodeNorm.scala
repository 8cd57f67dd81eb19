package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types.DataType

/** Unicode NFC normalization as a native codegen'd Catalyst
  * expression — the first step of every serious text-curation
  * pipeline (C4/mC4 and friends normalize before tokenizing, or
  * "café" composed and "café" decomposed count as different words,
  * different shingles, different dedup keys). Spark has no built-in
  * normalizer; the usual fallback is a Scala UDF, which boxes every
  * row and blocks whole-stage codegen. This is the [[TextHashing]]
  * pattern instead: a `UnaryExpression` with `doGenCode`, so the
  * normalize call inlines into the generated stage like any built-in.
  *
  * Correctness across engines: the JVM's `java.text.Normalizer` and
  * DuckDB's `nfc_normalize` (utf8proc) both implement UAX #15 NFC,
  * and canonical compositions are frozen by the Unicode stability
  * policy — the outputs agree byte-for-byte, which is what the
  * oracle hash-checks (over md5 fingerprints, so UTF-16 vs
  * code-point length conventions never enter the comparison).
  *
  * The fast path matters at corpus scale: real crawl text is
  * overwhelmingly already-NFC, and `Normalizer.isNormalized` is a
  * cheap scan that lets those rows pass through without allocating —
  * the expression then costs about as much as a `length()`.
  */
object UnicodeNorm {

  /** NFC-normalize one string; returns the input object unchanged
    * (no copy) when it is already normalized.
    */
  def nfc(text: UTF8String): UTF8String = {
    val s = text.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC))
      text
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  val FuncName = "graft_nfc"

  def nfc(text: Column): Column =
    GraftSqlBridge.column(NfcNormalizeExpr(GraftSqlBridge.expression(text)))
}

/** Expression wrapper for [[UnicodeNorm.nfc]]. */
case class NfcNormalizeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = UnicodeNorm.FuncName

  override protected def nullSafeEval(t: Any): Any =
    UnicodeNorm.nfc(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.UnicodeNorm.nfc($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
