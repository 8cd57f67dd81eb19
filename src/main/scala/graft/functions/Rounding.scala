package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Round, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, NumericType}

/** The engine's one rounding rule, the one DuckDB applies.
  *
  * A double (or float) `x` rounds at scale `s` as `y = x · 10^s`,
  * rounded half away from zero and divided back by `10^s`; a zero
  * keeps its sign, and a NaN or infinite result returns `x` unchanged.
  * Spark's own `round` instead rounds the shortest decimal string of
  * `x` half up and always returns +0.0, so the two disagree on doubles
  * such as 209.17125 (209.1712 here, 209.1713 in Spark) and on every
  * negative value that rounds to zero. Decimal and integral inputs keep
  * Spark's `Round`, with its values and its result type: decimal
  * rounding is exact in both engines.
  */
object Rounding {

  private val Pow10 = Array.tabulate(23)(i => math.pow(10, i))

  /** The scalar rule; `scale` must be ≥ 0. Exact half-away step: the
    * fraction `|y| − floor(|y|)` of a double is exact, so no BigDecimal.
    */
  def roundHalfAway(x: Double, scale: Int): Double = {
    require(scale >= 0, s"rounding scale must be >= 0, got $scale")
    val p = if (scale < Pow10.length) Pow10(scale) else math.pow(10, scale)
    val y = x * p
    val a = math.abs(y)
    val f = math.floor(a)
    val r = math.copySign(if (a - f >= 0.5) f + 1 else f, y) / p
    if (r.isNaN || r.isInfinite) x else r
  }

  /** `c` rounded at `scale` (≥ 0) by the rule above. */
  def roundHalfAway(c: Column, scale: Int = 0): Column = {
    require(scale >= 0, s"rounding scale must be >= 0, got $scale")
    GraftSqlBridge.column(RoundHalfAway(GraftSqlBridge.expression(c), scale))
  }
}

/** Picks the rule by the resolved child type: [[RoundHalfAwayFrac]] for
  * doubles and floats, Spark's `Round` for decimals and integers.
  */
case class RoundHalfAway(child: Expression, scale: Int)
    extends RuntimeReplaceable with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"round needs a number, got ${t.simpleString}")
  }
  override lazy val replacement: Expression = child.dataType match {
    case DoubleType | FloatType => RoundHalfAwayFrac(child, scale)
    case _ => Round(child, Literal(scale))
  }
  override def prettyName: String = "round"
  override def sql: String = s"$prettyName(${child.sql}, $scale)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[Rounding.roundHalfAway]] on a double or float column. */
case class RoundHalfAwayFrac(child: Expression, scale: Int) extends UnaryExpression {

  override def dataType: DataType = child.dataType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "round"

  override protected def nullSafeEval(x: Any): Any = x match {
    case d: Double => Rounding.roundHalfAway(d, scale)
    case f: Float => Rounding.roundHalfAway(f.toDouble, scale).toFloat
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cast = if (dataType == FloatType) "(float) " else ""
    defineCodeGen(ctx, ev, c =>
      s"$cast graft.functions.Rounding.roundHalfAway((double) $c, $scale)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
