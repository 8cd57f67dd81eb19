package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.CountMinSketch

/** Read-out and merge surface for Spark's built-in `count_min_sketch`
  * aggregate — the point-FREQUENCY member of the mergeable-sketch
  * family (HLL = distinct count, Theta = distinct-set algebra,
  * frequent-items = top-k; see analytics/SketchQueries.scala). The
  * built-in aggregate produces the serialized sketch but ships no SQL
  * function to probe or combine it, which is half the point of a
  * sketch: stored per-shard/per-day summaries answer later frequency
  * questions without rescanning the fact table.
  *
  * `estimate(sketch, item)` (`graft_cms_estimate`) — estimated
  * occurrence count of `item`. CMS guarantees estimate ≥ true count
  * ALWAYS (hash collisions only ever add), and estimate ≤ true + eps·N
  * with probability ≥ confidence; for a fixed seed the estimate is fully
  * deterministic and order/partitioning-insensitive (counter matrices
  * are commutative sums), so error-contract booleans are stable
  * run-over-run — the same oracle design as the other sk_* queries.
  *
  * `merge(a, b)` (`graft_cms_merge`) — the combined sketch (cell-wise
  * counter sum; requires identical eps/confidence/seed).
  * Merge-then-probe equals probe-of-whole exactly, which is what makes
  * per-shard sketches composable after the fact.
  *
  * Both deserialize per evaluated row (CodegenFallback), which is
  * correct for their contract: probes run on the few-row READ-OUT side
  * (a group-key domain, a dashboard panel), never per fact row — the
  * fact-side pass is the built-in codegen'd aggregate. Item hashing
  * matches the aggregate's update path: strings probe as their UTF-8
  * bytes (the aggregate calls `addBinary(utf8.getBytes)`), integral
  * types as longs.
  */
case class CmsEstimateExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_cms_estimate"

  override def checkInputDataTypes(): TypeCheckResult = {
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: sketch argument must be BINARY, got ${left.dataType}")
    else right.dataType match {
      case StringType | LongType | IntegerType => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName: item argument must be STRING/INT/BIGINT, got $dt")
    }
  }

  override protected def nullSafeEval(sk: Any, item: Any): Any = {
    val cms = CountMinSketch.readFrom(sk.asInstanceOf[Array[Byte]])
    item match {
      case s: UTF8String => cms.estimateCount(s.getBytes)
      case i: Integer => cms.estimateCount(java.lang.Long.valueOf(i.longValue()))
      case other => cms.estimateCount(other)
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class CmsMergeExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_cms_merge"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName: both arguments must be BINARY sketches")

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val merged = CountMinSketch.readFrom(a.asInstanceOf[Array[Byte]])
    merged.mergeInPlace(CountMinSketch.readFrom(b.asInstanceOf[Array[Byte]]))
    merged.toByteArray
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Cms {
  def estimate(sketch: Column, item: Column): Column =
    GraftSqlBridge.column(CmsEstimateExpr(
      GraftSqlBridge.expression(sketch), GraftSqlBridge.expression(item)))

  def merge(a: Column, b: Column): Column =
    GraftSqlBridge.column(CmsMergeExpr(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
