package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{DotProductDouble, MinhashBandsExpr, MisraGries, MisraGriesAgg, NgramHashesExpr, NormalizeWsExpr, SimHash64Expr, TextHashing, VectorExprs}

/** Catalyst extension point, and the only writer of the function
  * registry: installs six of the engine's native expressions under SQL
  * names into every session built with
  * `spark.sql.extensions=graft.GraftExtensions`, for pure-SQL users
  * (`SELECT graft_dot_d(a, b) ...`). Programmatic use never needs it:
  * the Column helpers in `graft.functions` build their expressions
  * directly (through `GraftSqlBridge.column`), so they work in any
  * session, and the other native expressions have no SQL name.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier(VectorExprs.DotName),
      info(VectorExprs.DotName,
        "_FUNC_(a, b) - codegen'd dot product of two double arrays"),
      (exprs: Seq[Expression]) => DotProductDouble(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier(TextHashing.FuncName),
      info(TextHashing.FuncName,
        "_FUNC_(text, n) - sorted distinct 64-bit word n-gram hashes"),
      (exprs: Seq[Expression]) => NgramHashesExpr(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((FunctionIdentifier(TextHashing.SimhashName),
      info(TextHashing.SimhashName,
        "_FUNC_(text) - 64-bit SimHash of whitespace tokens"),
      (exprs: Seq[Expression]) => SimHash64Expr(exprs(0))))
    ext.injectFunction((FunctionIdentifier(TextHashing.MinhashBandsName),
      info(TextHashing.MinhashBandsName,
        "_FUNC_(hashes, numHashes, bands, seed) - MinHash LSH band hashes"),
      (exprs: Seq[Expression]) => MinhashBandsExpr(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Number].intValue(),
        exprs(3).eval().asInstanceOf[Number].longValue())))
    ext.injectFunction((FunctionIdentifier(TextHashing.NormalizeName),
      info(TextHashing.NormalizeName,
        "_FUNC_(text) - lowercased whitespace-collapsed normal form"),
      (exprs: Seq[Expression]) => NormalizeWsExpr(exprs(0))))
    // aggregation-function tier: Misra-Gries heavy-hitters sketch
    ext.injectFunction((FunctionIdentifier(MisraGries.FuncName),
      info(MisraGries.FuncName,
        "_FUNC_(item, capacity) - Misra-Gries heavy-hitter candidates"),
      (exprs: Seq[Expression]) => MisraGriesAgg(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue())))
    // (c)-tier whole-operator extension: per-key top-k planner strategy
    // (logical TopKNode → partial-prune + exchange + rank execs)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    // ... and the optimizer rule that rewrites the hand-written
    // row_number()-then-filter pattern onto that operator. Injected
    // ONLY together with the strategy: the rule must never produce a
    // TopKNode in a session that cannot plan it.
    ext.injectOptimizerRule(_ => graft.plans.TopKRewriteRule)
  }
}
