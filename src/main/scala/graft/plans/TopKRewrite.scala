package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, DenseRank, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, IntegerLiteral, LessThan, LessThanOrEqual, PredicateHelper, Rank, RowNumber, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule that makes the [[TopKNode]] operator TRANSPARENT:
  * the ubiquitous hand-written pattern
  *
  * {{{ df.withColumn("rn", row_number().over(W)).filter($"rn" <= k) }}}
  *
  * is rewritten to `Filter(cond, TopKNode(keys, order, k, rn, child))`
  * whenever the Window computes exactly one expression, it is a
  * row_number over a non-empty partition/order spec, and the filter
  * bounds it by a positive literal. The rank attribute keeps its
  * exprId, so downstream references resolve unchanged; the original
  * filter stays on top (a no-op for the bound conjunct, still applied
  * for any residual conjuncts), so the rewrite can never widen the
  * result.
  *
  * Why: Spark's own InferWindowGroupLimit prunes this pattern too, but
  * only after FULLY SORTING each input partition; TopK's phase 1 keeps
  * bounded per-key heaps (O(n log k), no sort) before the shuffle, and
  * phase 2 lets EnsureRequirements own the exchange+sort (reusable /
  * AQE-replannable). A WindowGroupLimit the built-in optimizer already
  * inserted below the Window is stripped — its pruning is subsumed.
  *
  * Installed by [[graft.GraftExtensions]] alongside [[TopKStrategy]]
  * (the rule must never run in a session that cannot plan the node).
  * Spark's own `spark.sql.optimizer.excludedRules=graft.plans.TopKRewriteRule`
  * switches it off for a session, e.g. to A/B the two plans on one's
  * own data.
  */
object TopKRewriteRule extends Rule[LogicalPlan] with PredicateHelper {

  private val MaxHeapKeys = 100000

  /** Largest row_number bound implied by a conjunct of `cond`. */
  private def bound(cond: Expression, rn: Attribute): Option[Int] =
    splitConjunctivePredicates(cond).collectFirst {
      case LessThanOrEqual(a: Attribute, IntegerLiteral(v)) if a.semanticEquals(rn) => v
      case LessThan(a: Attribute, IntegerLiteral(v)) if a.semanticEquals(rn) => v - 1
      case GreaterThanOrEqual(IntegerLiteral(v), a: Attribute) if a.semanticEquals(rn) => v
      case GreaterThan(IntegerLiteral(v), a: Attribute) if a.semanticEquals(rn) => v - 1
      case EqualTo(a: Attribute, IntegerLiteral(v)) if a.semanticEquals(rn) => v
      case EqualTo(IntegerLiteral(v), a: Attribute) if a.semanticEquals(rn) => v
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // the whole ranking family plans onto the one operator:
    // row_number() -> exact-k mode, rank() -> with-ties mode (tie
    // groups straddle the cut intact), dense_rank() -> top-k-distinct-
    // values mode
    case f @ Filter(cond, Window(
        Seq(al @ Alias(WindowExpression(rankFn, _), _)),
        parts, order, windowChild, _))
        if parts.nonEmpty && order.nonEmpty &&
          (rankFn.isInstanceOf[RowNumber] || rankFn.isInstanceOf[Rank] ||
            rankFn.isInstanceOf[DenseRank]) =>
      val mode: TopKMode = rankFn match {
        case _: Rank => RankTiesMode
        case _: DenseRank => DenseRankMode
        case _ => RowNumberMode
      }
      val rn = al.toAttribute
      bound(cond, rn) match {
        case Some(k) if k > 0 =>
          // a WindowGroupLimit the built-in optimizer put below the
          // Window is subsumed by TopK's partial prune — strip it as
          // long as it cannot DROP rows TopK would keep (Spark's
          // rank-limit iterator keeps ties, so limit >= k is safe in
          // both modes)
          val child = windowChild match {
            case WindowGroupLimit(p2, o2, _, limit, grandchild)
                if limit >= k && p2 == parts && o2 == order => grandchild
            case other => other
          }
          Filter(cond,
            TopKNode(parts, order, k, MaxHeapKeys, rn, child, mode))
        case _ => f
      }
  }
}
