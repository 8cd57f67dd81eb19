package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass application of a BATCH of BPE merges to a symbol array —
  * the native kernel behind [[graft.text.Bpe.mergePairs]].
  *
  * Why native and not the `aggregate` higher-order fold: the HOF form
  * rebuilds the accumulator array at every step (`concat(slice(...))`),
  * which is O(len²) per row — harmless on ~8-symbol words, a measured
  * ~80 s disaster on SentencePiece-style 300-character document
  * streams at sf0.1. This expression is the same left-to-right greedy
  * scan as one JIT-compiled JVM loop: O(len) per row, the whole
  * 512-merge train drops to seconds. Same preference order as
  * [[TextHashing]]: a codegen'd Catalyst expression, never a UDF.
  *
  * Greedy semantics match [[graft.text.Bpe.mergePair]]: a symbol
  * consumed by a fusion cannot start another ("aaa" + (a,a) → [aa, a]).
  * Several pairs may share a LEFT (or a RIGHT) symbol — the trainer's
  * junction-freedom invariant (no symbol is a left of one pair and a
  * right of another) is what guarantees their fusion windows never
  * overlap — so the table maps `left → {rights}`. The fused symbol is
  * `left + right`.
  */
object BpeMerge {

  val FuncName = "graft_bpe_merge"
  val PairCountsName = "graft_bpe_pair_counts"

  /** Column API: adjacent-pair occurrence counts of a symbol array —
    * (a, b, cnt) structs, one per DISTINCT adjacent pair, counted in
    * one JVM pass. The composable form — `arrays_zip` of two `slice`
    * copies, exploded, then GROUP BY — materializes two array copies
    * plus a struct array per row and ships one row per OCCURRENCE into
    * the aggregate; this emits pre-counted pairs straight from the row
    * (r10: the train loop's per-pass candidate scan is the hot path,
    * and on ~300-symbol piece streams occurrences outnumber distinct
    * pairs severalfold).
    */
  def pairCounts(syms: Column): Column =
    GraftSqlBridge.column(BpePairCountsExpr(GraftSqlBridge.expression(syms)))

  /** The counting kernel behind [[pairCounts]]. */
  def countPairs(syms: ArrayData): ArrayData = {
    val n = syms.numElements()
    val m = new java.util.LinkedHashMap[(UTF8String, UTF8String), Array[Long]]()
    var prev: UTF8String = null
    var i = 0
    while (i < n) {
      val s = BpeMergeExpr.nullFreeSymbol(syms.getUTF8String(i),
        "symbol array", i)
      // clone: vectorized readers hand out buffer-backed UTF8Strings;
      // map keys must own their bytes
      val cur = s.clone()
      if (prev != null) {
        val key = (prev, cur)
        val slot = m.get(key)
        if (slot == null) m.put(key, Array(1L)) else slot(0) += 1L
      }
      prev = cur
      i += 1
    }
    val out = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = org.apache.spark.sql.catalyst.InternalRow(
        e.getKey._1, e.getKey._2, e.getValue()(0))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Column API. `pairsFlat` must be a LITERAL array column of interleaved
    * `[l1, r1, l2, r2, …]` strings (an array, not a map — several
    * pairs may share a left symbol, which a map literal would reject
    * as duplicate keys).
    */
  def mergeBatch(syms: Column, pairsFlat: Column): Column =
    GraftSqlBridge.column(BpeMergeExpr(
      GraftSqlBridge.expression(syms), GraftSqlBridge.expression(pairsFlat)))

  /** The scan kernel: one pass, a bounded stack, a rights-set lookup
    * on the running top symbol. Shared by interpreted eval and
    * codegen.
    */
  def apply(syms: ArrayData,
            table: java.util.HashMap[UTF8String, java.util.HashSet[UTF8String]])
      : ArrayData = {
    val n = syms.numElements()
    val out = new Array[AnyRef](n)
    var top = -1
    var i = 0
    while (i < n) {
      val s = BpeMergeExpr.nullFreeSymbol(syms.getUTF8String(i),
        "symbol array", i)
      var fused = false
      if (top >= 0) {
        val rights = table.get(out(top).asInstanceOf[UTF8String])
        if (rights != null && rights.contains(s)) {
          out(top) = UTF8String.concat(out(top).asInstanceOf[UTF8String], s)
          fused = true
        }
      }
      if (!fused) { top += 1; out(top) = s }
      i += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(out, top + 1))
  }
}

/** Rank-ordered application of a WHOLE learned merge table — the
  * encode kernel that closes the train→apply loop at vocabulary
  * scale. [[graft.text.Bpe.encode]] replays merges as one nested
  * Catalyst fold per merge, which caps out around ~16 merges
  * (expression depth grows with the table); this runs the same
  * replay — merge 1..N, each one greedy left-to-right pass — as a
  * JVM loop over an in-place buffer, so a 512-merge (or 32k-merge)
  * tokenizer applies corpus-wide in ONE map-only projection.
  *
  * Per row: a presence set over the current symbols lets passes whose
  * left or right cannot occur be skipped in O(1) (the set only ever
  * GROWS with fused outputs — a conservative, hence exact, skip);
  * real tables touch a small fraction of their merges per word, so
  * the effective cost is O(len · touched-merges), not O(len · N).
  */
object BpeEncode {

  val FuncName = "graft_bpe_encode"

  /** Column API. `mergesFlat` must be a LITERAL interleaved
    * `[l1, r1, l2, r2, …]` array in RANK order.
    */
  def encodeRanked(syms: Column, mergesFlat: Column): Column =
    GraftSqlBridge.column(BpeEncodeExpr(
      GraftSqlBridge.expression(syms), GraftSqlBridge.expression(mergesFlat)))

  /** The replay kernel: for each merge in rank order, one greedy
    * left-to-right fusing pass — exactly [[graft.text.Bpe.mergePair]]
    * iterated, shared by interpreted eval and codegen.
    */
  def apply(syms: ArrayData,
            merges: Array[Array[UTF8String]]): ArrayData = {
    var n = syms.numElements()
    if (n == 0)
      return ArrayData.toArrayData(new Array[AnyRef](0))
    val buf = new Array[UTF8String](n)
    val present = new java.util.HashSet[UTF8String](n * 2)
    var i = 0
    while (i < n) {
      buf(i) = BpeMergeExpr.nullFreeSymbol(syms.getUTF8String(i),
        "symbol array", i)
      present.add(buf(i)); i += 1
    }
    var m = 0
    while (m < merges.length && n > 1) {
      val l = merges(m)(0)
      val r = merges(m)(1)
      if (present.contains(l) && present.contains(r)) {
        // one greedy pass: write-compact in place
        var w = 0 // top of the written prefix (exclusive)
        var j = 0
        var fusedAny = false
        while (j < n) {
          if (w > 0 && buf(w - 1).equals(l) && buf(j).equals(r)) {
            buf(w - 1) = UTF8String.concat(buf(w - 1), buf(j))
            fusedAny = true
          } else { buf(w) = buf(j); w += 1 }
          j += 1
        }
        n = w
        if (fusedAny) present.add(UTF8String.concat(l, r))
      }
      m += 1
    }
    val out = new Array[AnyRef](n)
    System.arraycopy(buf, 0, out, 0, n)
    ArrayData.toArrayData(out)
  }
}

/** Expression wrapper for [[BpeEncode]]: `right` must be a foldable
  * rank-ordered interleaved array literal, evaluated ONCE into the
  * merge list shared across all rows.
  */
case class BpeEncodeExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = BpeEncode.FuncName

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    BpeMergeExpr.checkSymsAndTable(prettyName, left, right)

  @transient private lazy val table: Array[Array[UTF8String]] = {
    val flat = right.eval(null).asInstanceOf[ArrayData]
    require(flat.numElements() % 2 == 0,
      s"$prettyName expects interleaved [left, right, …] pairs")
    Array.tabulate(flat.numElements() / 2) { i =>
      // copy: literal ArrayData may be unsafe-backed row memory
      Array(BpeMergeExpr.nullFreeSymbol(flat.getUTF8String(2 * i),
          "merge table", 2 * i).clone(),
        BpeMergeExpr.nullFreeSymbol(flat.getUTF8String(2 * i + 1),
          "merge table", 2 * i + 1).clone())
    }
  }

  override protected def nullSafeEval(syms: Any, ignored: Any): Any =
    BpeEncode.apply(syms.asInstanceOf[ArrayData], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeEncodeTable", table,
      "org.apache.spark.unsafe.types.UTF8String[][]")
    nullSafeCodeGen(ctx, ev, (syms, _) =>
      s"${ev.value} = graft.functions.BpeEncode.apply($syms, $ref);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Expression wrapper: `right` must be a foldable interleaved
  * `[l, r, …]` array literal — it is evaluated ONCE into a hash table
  * shared across all rows.
  */
/** Expression wrapper for [[BpeMerge.countPairs]]. */
case class BpePairCountsExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a", StringType,
        nullable = false),
      org.apache.spark.sql.types.StructField("b", StringType,
        nullable = false),
      org.apache.spark.sql.types.StructField("cnt",
        org.apache.spark.sql.types.LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = BpeMerge.PairCountsName

  override protected def nullSafeEval(syms: Any): Any =
    BpeMerge.countPairs(syms.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeMerge.countPairs($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class BpeMergeExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = BpeMerge.FuncName

  // fail at ANALYSIS, not executor-side: a non-array or non-literal
  // table must raise an AnalysisException, not a ClassCastException
  // inside a retried task
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    BpeMergeExpr.checkSymsAndTable(prettyName, left, right)

  @transient private lazy val table
      : java.util.HashMap[UTF8String, java.util.HashSet[UTF8String]] = {
    require(right.foldable, s"$prettyName merge table must be a literal array")
    val flat = right.eval(null).asInstanceOf[ArrayData]
    require(flat.numElements() % 2 == 0,
      s"$prettyName expects interleaved [left, right, …] pairs")
    val m = new java.util.HashMap[UTF8String, java.util.HashSet[UTF8String]]()
    var i = 0
    while (i < flat.numElements()) {
      // copy: literal ArrayData may be unsafe-backed row memory
      val l = BpeMergeExpr.nullFreeSymbol(flat.getUTF8String(i),
        "merge table", i).clone()
      val r = BpeMergeExpr.nullFreeSymbol(flat.getUTF8String(i + 1),
        "merge table", i + 1).clone()
      val set = m.get(l)
      if (set == null) {
        val s = new java.util.HashSet[UTF8String]()
        s.add(r); m.put(l, s)
      } else set.add(r)
      i += 2
    }
    m
  }

  override protected def nullSafeEval(syms: Any, ignored: Any): Any =
    BpeMerge.apply(syms.asInstanceOf[ArrayData], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMergeTable", table,
      "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, (syms, _) =>
      s"${ev.value} = graft.functions.BpeMerge.apply($syms, $ref);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Shared analysis-time input contract of the two BPE kernels. A
  * containsNull=true INPUT is accepted — Scala/encoder-built arrays
  * carry conservative element nullability even when null-free, and
  * rejecting them would break legitimate callers — but both kernels
  * declare null-free OUTPUT, which stays honest because a null element
  * actually reaching a kernel fails THAT ROW loudly
  * ([[BpeMergeExpr.nullFreeSymbol]]) instead of flowing a null through
  * `UTF8String.concat` into an array declared containsNull=false
  * (silent corruption, or an NPE deep inside a retried task).
  */
object BpeMergeExpr {
  private[functions] def checkSymsAndTable(prettyName: String,
      left: Expression, right: Expression)
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _))
          if right.foldable => TypeCheckResult.TypeCheckSuccess
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName merge table must be a literal array")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<string>, array<string> literal), " +
          s"got ($l, $r)")
    }
  }

  /** Kernel-side guard shared by both kernels' symbol reads and the
    * merge-table builds: fail with a typed, positioned error rather
    * than corrupt the declared-null-free output.
    */
  def nullFreeSymbol(s: UTF8String, what: String, i: Int): UTF8String = {
    if (s == null)
      throw new IllegalArgumentException(
        s"$what contains a NULL element at position $i — BPE kernels " +
          "declare null-free output and cannot fuse null symbols")
    s
  }
}
