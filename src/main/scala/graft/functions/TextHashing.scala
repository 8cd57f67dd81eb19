package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Single-pass word n-gram shingle hashing.
  *
  * The composable formulation — `transform(sequence(...), i ->
  * concat_ws(' ', toks[i..i+n]))` + `array_distinct` + `xxhash64` —
  * is semantically identical but pays interpreted higher-order-function
  * overhead per shingle and materializes every shingle string; on a
  * 5k-doc / 2M-shingle corpus that alone was ~22 s (measured in r4 by
  * a stage profiler since replaced by the bench census). This kernel
  * emits the sorted distinct 64-bit shingle hashes straight from the
  * document in one JVM pass (~1 s).
  *
  * Jaccard similarity over hashed shingles equals Jaccard over string
  * shingles except for hash collisions (≈|shingles|²/2⁶⁴ — negligible),
  * because only equality of shingles matters. Tokenization is the
  * engine's canonical whitespace-run split with empty tokens excluded
  * (same as [[graft.text.Text.tokens]] and the oracle SQL); Java
  * `isWhitespace` vs regex `\s` differ only on exotic Unicode spaces.
  */
object TextHashing {

  /** Murmur3 64-bit finalizer (avalanche). */
  @inline private def fmix64(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33; k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33; k *= 0xc4ceb9fe1a85ec53L
    k ^= k >>> 33; k
  }

  private def wordHash(s: String, from: Int, until: Int): Long = {
    var h = 1125899906842597L
    var i = from
    while (i < until) { h = 31 * h + s.charAt(i); i += 1 }
    fmix64(h)
  }

  /** Sorted distinct 64-bit hashes of the word n-grams of `text`. */
  def ngramHashes(text: UTF8String, n: Int): ArrayData = {
    val s = text.toString.trim
    // whitespace-run token boundaries (same tokens as regex \s+ split)
    val bounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var i = 0
    while (i < s.length) {
      if (!Character.isWhitespace(s.charAt(i))) {
        val start = i
        while (i < s.length && !Character.isWhitespace(s.charAt(i))) i += 1
        bounds += ((start, i))
      } else i += 1
    }
    val m = bounds.length
    if (m < n)
      return org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array.empty[Long])
    val wh = new Array[Long](m)
    i = 0
    while (i < m) { wh(i) = wordHash(s, bounds(i)._1, bounds(i)._2); i += 1 }
    val out = new Array[Long](m - n + 1)
    i = 0
    while (i <= m - n) {
      var h = -7046029254386353131L
      var j = 0
      while (j < n) { h = fmix64(h ^ wh(i + j)); j += 1 }
      out(i) = h
      i += 1
    }
    java.util.Arrays.sort(out)
    // in-place dedup of the sorted array
    var w = 0
    i = 0
    while (i < out.length) {
      if (w == 0 || out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      java.util.Arrays.copyOf(out, w))
  }

  /** 64-bit SimHash of the whitespace tokens (duplicates contribute
    * repeatedly, preserving frequency information): per bit b, the sign
    * of Σ_tokens (±1 by bit b of the token hash) sets bit b. A
    * per-document scalar — the whole dedup signature pass is map-only,
    * no explode, no shuffle.
    */
  def simhash64(text: UTF8String): Long = {
    val s = text.toString.trim
    val votes = new Array[Int](64)
    var i = 0
    while (i < s.length) {
      if (!Character.isWhitespace(s.charAt(i))) {
        val start = i
        while (i < s.length && !Character.isWhitespace(s.charAt(i))) i += 1
        val h = wordHash(s, start, i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      } else i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** MinHash band hashes straight from a shingle-hash array, one JVM
    * pass: signature k = min over shingles of gₖ(x) = (aₖ·x + bₖ) mod p
    * (x = hash mod p, p = 2³¹−1, the same universal family Spark ML's
    * MinHashLSH uses), then each of `bands` bands of r = numHashes/bands
    * consecutive signature entries collapses to one 64-bit mix (band
    * index folded in, so hashes never collide across bands and pairs
    * can join on the band hash alone). The composable formulation —
    * explode + groupBy(doc) with `numHashes` min-aggregates + band
    * xxhash64 columns — shuffles every shingle and carries a
    * 128-expression plan; this is map-only and O(shingles × numHashes)
    * per doc. Empty input ⇒ empty output (caller filters).
    */
  private val MinhashP = 2147483647L // 2^31 - 1
  private val coeffCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long), (Array[Long], Array[Long])]
  private def coeffs(numHashes: Int, seed: Long): (Array[Long], Array[Long]) =
    coeffCache.computeIfAbsent((numHashes, seed), { case (nh, sd) =>
      val rnd = new scala.util.Random(sd)
      val as = new Array[Long](nh); val bs = new Array[Long](nh)
      var i = 0
      while (i < nh) {
        as(i) = 1L + rnd.nextInt(Int.MaxValue - 1)
        bs(i) = rnd.nextInt(Int.MaxValue).toLong
        i += 1
      }
      (as, bs)
    })

  def minhashBands(hs: ArrayData, numHashes: Int, bands: Int,
                   seed: Long): ArrayData = {
    val m = hs.numElements()
    if (m == 0)
      return org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array.empty[Long])
    val (as, bs) = coeffs(numHashes, seed)
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < m) {
      val x = ((hs.getLong(i) % MinhashP) + MinhashP) % MinhashP
      var k = 0
      while (k < numHashes) {
        val v = (as(k) * x + bs(k)) % MinhashP // < 2^62: no overflow
        if (v < sig(k)) sig(k) = v
        k += 1
      }
      i += 1
    }
    val r = numHashes / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = fmix64(-7046029254386353131L ^ b)
      var j = 0
      while (j < r) { h = fmix64(h ^ sig(b * r + j)); j += 1 }
      out(b) = h
      b += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** Whitespace-normalized lowercase form, one JVM pass — replicates
    * `lower(regexp_replace(trim(text), "\s+", " "))` exactly (trim
    * strips ASCII spaces only, like Spark's `trim`; runs of regex-\s
    * whitespace collapse to one space ANYWHERE, so a leading tab run
    * still yields a leading space — differential-tested against the
    * regexp chain). The regexp formulation walks the Java regex engine
    * per document; this is a single char scan.
    */
  def normalizeWs(text: UTF8String): UTF8String = {
    val s = text.toString
    @inline def isWs(c: Char) = c == ' ' || c == '\t' || c == '\n' ||
      c == '\u000B' || c == '\f' || c == '\r'
    var st = 0; var en = s.length
    while (st < en && s.charAt(st) == ' ') st += 1
    while (en > st && s.charAt(en - 1) == ' ') en -= 1
    val sb = new java.lang.StringBuilder(en - st)
    var i = st
    while (i < en) {
      val c = s.charAt(i)
      if (isWs(c)) {
        sb.append(' ')
        while (i < en && isWs(s.charAt(i))) i += 1
      } else { sb.append(c); i += 1 }
    }
    // full-string lowercase LAST, exactly like lower() composed outside
    // the regexp: String.toLowerCase is what Spark's UTF8String
    // lowercasing delegates to off the ASCII fast path, and per-char
    // Character.toLowerCase would diverge on contextual mappings
    // (final sigma), length-changing ones (U+0130), and surrogates
    UTF8String.fromString(sb.toString.toLowerCase)
  }

  /** Per-document term frequencies in one JVM pass: (term, tf) structs,
    * one per DISTINCT token, counted in first-occurrence order. The
    * composable formulation — explode every token and GROUP BY
    * (term, doc) — is semantically identical but pays a full exchange
    * of the exploded token stream for an aggregation whose groups never
    * cross documents; counting inside the row keeps the whole postings
    * build map-only (r10, guide §2.4: remove shuffles outright — the
    * group key contains the row's own id, so the shuffle proved
    * nothing). Token strings pass through untouched (the tokenizer
    * stays the canonical Catalyst expression chain), so the emitted
    * terms are byte-identical to the exploded form's.
    */
  def termCounts(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val m = new java.util.LinkedHashMap[UTF8String, Array[Long]]()
    var i = 0
    while (i < n) {
      // clone: vectorized readers hand out UTF8Strings backed by a
      // shared buffer; map keys must own their bytes
      val t = toks.getUTF8String(i)
      val key = if (t == null) null else t.clone()
      val slot = m.get(key)
      if (slot == null) m.put(key, Array(1L)) else slot(0) += 1L
      i += 1
    }
    val out = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = org.apache.spark.sql.catalyst.InternalRow(e.getKey, e.getValue()(0))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  val FuncName = "graft_ngram_hashes"
  val SimhashName = "graft_simhash64"
  val MinhashBandsName = "graft_minhash_bands"
  val NormalizeName = "graft_normalize_ws"
  val TermCountsName = "graft_term_counts"

  def ngramHashes(text: Column, n: Int): Column =
    GraftSqlBridge.column(NgramHashesExpr(GraftSqlBridge.expression(text), n))

  def simhash64(text: Column): Column =
    GraftSqlBridge.column(SimHash64Expr(GraftSqlBridge.expression(text)))

  def minhashBands(hashes: Column, numHashes: Int, bands: Int,
                   seed: Long): Column =
    GraftSqlBridge.column(MinhashBandsExpr(GraftSqlBridge.expression(hashes),
      numHashes, bands, seed))

  def normalizeWs(text: Column): Column =
    GraftSqlBridge.column(NormalizeWsExpr(GraftSqlBridge.expression(text)))

  def termCounts(toks: Column): Column =
    GraftSqlBridge.column(TermCountsExpr(GraftSqlBridge.expression(toks)))
}

/** Expression wrapper for [[TextHashing.termCounts]]. */
case class TermCountsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("term",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("tf", LongType,
        nullable = false))),
    containsNull = false)
  override def prettyName: String = TextHashing.TermCountsName

  override protected def nullSafeEval(toks: Any): Any =
    TextHashing.termCounts(toks.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHashing.termCounts($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Expression wrapper for [[TextHashing.normalizeWs]]. */
case class NormalizeWsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = TextHashing.NormalizeName

  override protected def nullSafeEval(t: Any): Any =
    TextHashing.normalizeWs(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHashing.normalizeWs($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Expression wrapper for [[TextHashing.simhash64]]. */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = TextHashing.SimhashName

  override protected def nullSafeEval(t: Any): Any =
    TextHashing.simhash64(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHashing.simhash64($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Expression wrapper for [[TextHashing.minhashBands]]. */
case class MinhashBandsExpr(child: Expression, numHashes: Int, bands: Int,
                            seed: Long) extends UnaryExpression {
  require(bands > 0 && numHashes % bands == 0, "bands must divide numHashes")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = TextHashing.MinhashBandsName

  override protected def nullSafeEval(hs: Any): Any =
    TextHashing.minhashBands(hs.asInstanceOf[ArrayData], numHashes, bands, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHashing.minhashBands($c, $numHashes, $bands, ${seed}L);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Expression wrapper: codegen emits a single static call per row (the
  * heavy lifting is an ordinary JVM loop, JIT-compiled).
  */
case class NgramHashesExpr(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = TextHashing.FuncName

  override protected def nullSafeEval(t: Any): Any =
    TextHashing.ngramHashes(t.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHashing.ngramHashes($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
