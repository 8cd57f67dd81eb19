package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for the double-array dot product.
  *
  * The built-in formulation `aggregate(zip_with(a, b, _*_), 0d, _+_)`
  * is semantically identical but runs the lambda interpreter per
  * element and materializes the intermediate product array — at
  * millions of vector pairs (all-pairs near-dup, brute-force ANN) that
  * dominates the query. This expression generates a tight Java loop
  * inside whole-stage codegen (~10× faster end-to-end on the
  * emb_cosine_pairs query) while keeping identical left-to-right
  * summation order, so results remain bit-equal to the fold and to the
  * DuckDB oracle.
  *
  * Null array elements are not expected (embedding columns are dense);
  * like low-level BLAS, behavior on null elements is undefined.
  */
case class DotProductDouble(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot_d"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = DotProductDouble.checkedLength(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("sum")
      s"""
         |final int $n = graft.functions.DotProductDouble.checkedLength(
         |  $a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProductDouble {
  /** BLAS-style dimension check: mismatched operand lengths raise
    * instead of silently truncating (a wrong `dim` in an LSH/IVF caller
    * would otherwise just degrade recall over a prefix).
    */
  def checkedLength(a: Int, b: Int): Int = {
    if (a != b) throw new IllegalArgumentException(
      s"graft_dot_d: array length mismatch ($a vs $b)")
    a
  }
}

/** Max-cosine cell assignment against a FOLDABLE centroid table:
  * `argmax_c dot(v,c)/(norm(v)·norm(c))`, ties and NaNs resolved
  * exactly like `array_max` over a `struct(sim, idx)` array
  * (lexicographic (sim, idx) max under Catalyst's double ordering:
  * NaN greatest, larger idx wins ties) — so swapping this in for the
  * expression-composed form changes NOTHING about results. One
  * deliberate divergence: on an all-zero vector every cosine is 0/0,
  * which the expression form turns into an ANSI DIVIDE_BY_ZERO error;
  * this loop keeps IEEE semantics (all-NaN ⇒ last cell), so one
  * degenerate corpus row cannot kill a full reindex job.
  *
  * Why it exists: the composable form is a higher-order `transform`
  * lambda, and HOFs run interpreted per element outside whole-stage
  * codegen — per corpus row that is nCentroids tree-walks. Here the
  * centroid table and its norms are extracted ONCE from the literal,
  * and each row runs one JIT-compiled loop (same left-to-right
  * summation as [[DotProductDouble]], so cosines are bit-equal).
  * This is the per-row hot path of IVF assignment — the operator a
  * 10¹¹-vector corpus runs over every vector, every reindex.
  */
case class CosineArgmaxCell(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_argmax_cos"

  @transient private lazy val cents: Array[Array[Double]] = {
    require(right.foldable, "centroid table must be foldable (a literal)")
    val ad = right.eval().asInstanceOf[ArrayData]
    // empty table would silently return cell 0 (the HOF twin yields
    // NULL); a nonsensical config should fail loudly instead
    require(ad.numElements() > 0, "centroid table must be non-empty")
    Array.tabulate(ad.numElements())(i => ad.getArray(i).toDoubleArray())
  }
  @transient private lazy val norms: Array[Double] = cents.map { c =>
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    math.sqrt(s)
  }

  /** One JIT-hot loop per row; shared by eval and codegen. */
  def computeCell(v: ArrayData): Int = {
    val n = v.numElements()
    var s = 0.0; var i = 0
    while (i < n) { val x = v.getDouble(i); s += x * x; i += 1 }
    val nv = math.sqrt(s)
    var best = 0
    var bestSim = Double.NaN
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      val m = DotProductDouble.checkedLength(n, cv.length)
      var d = 0.0; var j = 0
      while (j < m) { d += v.getDouble(j) * cv(j); j += 1 }
      val sim = d / (nv * norms(c))
      // lexicographic (sim, idx) max, Catalyst double ordering:
      // NaN > everything, equal sims -> larger idx wins
      if (c == 0 || java.lang.Double.compare(sim, bestSim) >= 0) {
        best = c; bestSim = sim
      }
      c += 1
    }
    best
  }

  override protected def nullSafeEval(v: Any, unused: Any): Any =
    computeCell(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("argmaxCell", this,
      classOf[CosineArgmaxCell].getName)
    nullSafeCodeGen(ctx, ev, (v, _) => s"${ev.value} = $self.computeCell($v);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-API surface for the native vector expressions: each helper
  * builds its expression directly, so it works in any session.
  */
object VectorExprs {
  val DotName = "graft_dot_d"

  /** Codegen'd dot product. */
  def dot(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotProductDouble(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Native max-cosine cell id of `v` against a literal centroid
    * table.
    */
  def argmaxCell(v: Column, cents: Column): Column =
    GraftSqlBridge.column(CosineArgmaxCell(
      GraftSqlBridge.expression(v), GraftSqlBridge.expression(cents)))
}
