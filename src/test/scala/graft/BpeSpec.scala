package graft

import org.apache.spark.sql.functions._
import graft.text.{Bpe, Text}
import graft.io.Scratch

/** BPE training correctness: the distributed trainer must equal a
  * plain-collections reference implementation of the same algorithm
  * (greedy left-to-right merges, (count DESC, left ASC, right ASC)
  * tiebreak, `</w>` end-of-word symbol) — the sequential merge
  * recursion has no SQL oracle, so the differential IS the gate.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Reference BPE over a weighted word vocab, same tiebreak rules. */
  private def referenceTrain(words: Map[String, Long], merges: Int)
  : (Seq[(String, String, Long)], Map[String, Seq[String]]) = {
    var vocab: Map[String, (Long, Seq[String])] = words.map { case (w, n) =>
      w -> (n, w.split("").filter(_.nonEmpty).toSeq :+ Bpe.EndOfWord)
    }
    val out = Seq.newBuilder[(String, String, Long)]
    var done = false
    for (_ <- 1 to merges if !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((_, (n, syms)) <- vocab; p <- syms.zip(syms.tail))
        counts(p) = counts.getOrElse(p, 0L) + n
      if (counts.isEmpty) done = true
      else {
        val ((a, b), c) = counts.toSeq
          .sortBy { case ((x, y), n) => (-n, x, y) }.head
        out += ((a, b, c))
        vocab = vocab.map { case (w, (n, syms)) =>
          val merged = scala.collection.mutable.ArrayBuffer[String]()
          for (s <- syms)
            if (merged.nonEmpty && merged.last == a && s == b) {
              merged.remove(merged.size - 1); merged += (a + b)
            } else merged += s
          w -> (n, merged.toSeq)
        }
      }
    }
    (out.result(), vocab.map { case (w, (_, s)) => w -> s })
  }

  test("hand-checked classic corpus: low/lower/lowest") {
    val docs = Seq("low low low", "lower lowest").toDF("text")
    val (merges, _) = Bpe.train(docs, "text", 3)
    val (ref, _) = referenceTrain(Map("low" -> 3L, "lower" -> 1L, "lowest" -> 1L), 3)
    assert(merges.map(m => (m.left, m.right, m.count)) == ref)
    // first merge must be the most frequent adjacent pair: l+o (5 words)
    assert((merges.head.left, merges.head.right) == ("l", "o"))
    assert(merges.head.count == 5L)
  }

  test("distributed trainer equals the reference on the sf0.001 corpus") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val words = docs
      .select(explode(Text.tokens(lower(col("text")))).as("w"))
      .groupBy("w").count().as[(String, Long)].collect().toMap
    val (got, finalVocab) = Bpe.train(docs, "text", 12)
    val (ref, refVocab) = referenceTrain(words, 12)
    assert(got.map(m => (m.left, m.right, m.count)) == ref)
    assert(got.map(_.rank) == (1 to got.size))
    // final symbol state agrees word-for-word
    val gotSyms = finalVocab.select(col("w"), col("syms"))
      .as[(String, Seq[String])].collect().toMap
    assert(gotSyms == refVocab)
  }

  /** Reference for [[Bpe.trainBatched]]: same candidate truncation,
    * same greedy non-overlap selection, plain collections.
    */
  private def referenceTrainBatched(words: Map[String, Long], merges: Int,
                                    batch: Int): Seq[(String, String, Long)] = {
    var vocab: Map[String, (Long, Seq[String])] = words.map { case (w, n) =>
      w -> (n, w.split("").filter(_.nonEmpty).toSeq :+ Bpe.EndOfWord)
    }
    val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var done = false
    while (out.size < merges && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((_, (n, syms)) <- vocab; p <- syms.zip(syms.tail))
        counts(p) = counts.getOrElse(p, 0L) + n
      if (counts.isEmpty) done = true
      else {
        val want = math.min(batch, merges - out.size)
        // mirror of the engine's junction-freedom selection: a left
        // never doubles as another pick's right, outputs and sides
        // stay disjoint; left-left / right-right sharing is allowed
        val usedL = scala.collection.mutable.Set.empty[String]
        val usedR = scala.collection.mutable.Set.empty[String]
        val usedO = scala.collection.mutable.Set.empty[String]
        val picked = counts.toSeq
          .sortBy { case ((x, y), n) => (-n, x, y) }.take(4 * want + 8)
          .iterator.filter { case ((a, b), _) =>
            val o = a + b
            val ok = !usedR(a) && !usedO(a) && !usedL(b) && !usedO(b) &&
              !usedL(o) && !usedR(o)
            if (ok) { usedL += a; usedR += b; usedO += o }
            ok
          }.take(want).toSeq
        for (((a, b), c) <- picked) {
          out += ((a, b, c))
          vocab = vocab.map { case (w, (n, syms)) =>
            val merged = scala.collection.mutable.ArrayBuffer[String]()
            for (s <- syms)
              if (merged.nonEmpty && merged.last == a && s == b) {
                merged.remove(merged.size - 1); merged += (a + b)
              } else merged += s
            w -> (n, merged.toSeq)
          }
        }
      }
    }
    out.toSeq
  }

  test("trainBatched with batch=1 IS train, merge for merge") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val (seq, _) = Bpe.train(docs, "text", 10)
    val (bat, _) = Bpe.trainBatched(docs, "text", 10, batch = 1)
    assert(bat.map(m => (m.rank, m.left, m.right, m.count)) ==
      seq.map(m => (m.rank, m.left, m.right, m.count)))
  }

  test("trainBatched: 48 merges, ≤ merges/batch driver passes, equals batched reference") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val words = docs
      .select(explode(Text.tokens(lower(col("text")))).as("w"))
      .groupBy("w").count().as[(String, Long)].collect().toMap
    // the census drains the listener bus before it reads, so the count
    // is exact: an undercount would make the ≤ assertion vacuous
    val census = new Census(spark)
    val (got, jobs) =
      try {
        census.read()
        val (ms, _) = Bpe.trainBatched(docs, "text", merges = 48, batch = 8)
        val r = census.read()
        assert(r.drained)
        (ms, r("jobs"))
      } finally census.close()
    info(s"jobs: $jobs")
    assert(got.length == 48)
    assert(got.map(_.rank) == (1 to 48))
    // job count scales with the 6 PASSES, not the 48 merges — the
    // whole point of batching. Per pass: one candidate collect (AQE
    // runs it as ~3 stage-jobs) + one lineage checkpoint, plus the
    // initial vocab checkpoint. A sequential learner runs the same
    // ~4 jobs per MERGE — ≥ 150 here.
    assert(jobs <= 4 * 6 + 2,
      s"expected ≤ ${4 * 6 + 2} jobs for 6 batched passes, saw $jobs")
    // batch members never overlap: applying them in measured order is
    // exact, which the plain-collections reference differential pins
    val ref = referenceTrainBatched(words, 48, 8)
    assert(got.map(m => (m.left, m.right, m.count)) == ref)
  }

  test("native pairCounts ≡ arrays_zip-of-slices explode, weighted") {
    // repeated pairs within a row ("aaa": (a,a)×2), single-symbol and
    // empty arrays (zero pairs), and unit weights n > 1
    val vocab = Seq(
      (Seq("a", "a", "a", "b"), 3L),
      (Seq("x"), 5L),
      (Seq.empty[String], 7L),
      (Seq("a", "b", "a", "b"), 2L)
    ).toDF("syms", "n")
    val fast = vocab.select(col("n"),
        explode(graft.functions.BpeMerge.pairCounts(col("syms"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"),
        (col("n") * col("p.cnt")).as("w"))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("cnt"))
    // the zip-of-slices form throws on a zero-length array (slice
    // length -1) — the trainer never feeds it one (pieceVocab filters
    // symbol-less units); the kernel simply emits no pairs there
    val ref = vocab.filter(size(col("syms")) > 0)
      .select(col("n"), explode(arrays_zip(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"))
      .select(col("p.0").as("a"), col("p.1").as("b"), col("n"))
      .groupBy(col("a"), col("b")).agg(sum(col("n")).as("cnt"))
    assert(fast.exceptAll(ref).isEmpty && ref.exceptAll(fast).isEmpty)
  }

  test("mergePair is greedy left-to-right: a consumed symbol can't restart") {
    val got = Seq(Seq("a", "a", "a"), Seq("x", "a", "a", "y"))
      .toDF("s").select(Bpe.mergePair(col("s"), "a", "a"))
      .as[Seq[String]].collect()
    assert(got(0) == Seq("aa", "a"))
    assert(got(1) == Seq("x", "aa", "y"))
  }

  test("BPE kernels fail loudly on a NULL symbol, never emit one") {
    // both kernels declare containsNull=false output; a null element
    // flowing through UTF8String.concat would corrupt that silently —
    // the guard turns it into a typed, positioned error at the row
    val nullSyms = Seq(Seq("a", null, "a")).toDF("s")
    val e1 = intercept[Exception] {
      nullSyms.select(Bpe.mergePairs(col("s"), Seq(("a", "a")))).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e1).exists(_.contains("NULL element at position 1")),
      s"merge kernel must fail on the null symbol: ${chain(e1)}")
    val e2 = intercept[Exception] {
      nullSyms.select(graft.functions.BpeEncode.encodeRanked(col("s"),
        array(lit("a"), lit("a")))).collect()
    }
    assert(chain(e2).exists(_.contains("NULL element at position 1")),
      s"encode kernel must fail on the null symbol: ${chain(e2)}")
    // null-free containsNull=true inputs (every encoder-built array)
    // still work — only an ACTUAL null fails
    val ok = Seq(Seq("a", "a", "b")).toDF("s")
      .select(Bpe.mergePairs(col("s"), Seq(("a", "a"))))
      .as[Seq[String]].collect()
    assert(ok.head == Seq("aa", "b"))
  }

  test("mergePairs: one native scan applies a junction-free batch exactly") {
    // self-pair stays greedy; left-shared pairs both fire; an
    // untouched symbol passes through
    val batch = Seq(("a", "a"), ("c", "x"), ("c", "y"))
    val got = Seq(
      Seq("a", "a", "a"),
      Seq("c", "x", "c", "y"),
      Seq("z", "c", "z"))
      .toDF("s").select(Bpe.mergePairs(col("s"), batch))
      .as[Seq[String]].collect()
    assert(got(0) == Seq("aa", "a"))
    assert(got(1) == Seq("cx", "cy"))
    assert(got(2) == Seq("z", "c", "z"))
    // differential: the one-scan batch equals the chained
    // one-pair-at-a-time folds, in any application order, on arrays
    // exercising every pair and adjacency
    val arrays = Seq(
      Seq("c", "x", "a", "a", "c", "y"),
      Seq("x", "c", "y", "c", "x"),
      Seq("a", "c", "a", "a", "x"))
    for (perm <- batch.permutations) {
      val chained = arrays.toDF("s").select(
        perm.foldLeft(col("s")) { (c, p) => Bpe.mergePair(c, p._1, p._2) })
        .as[Seq[String]].collect().toSeq
      val once = arrays.toDF("s").select(Bpe.mergePairs(col("s"), batch))
        .as[Seq[String]].collect().toSeq
      assert(once == chained, s"order $perm diverged")
    }
    // invariant violations fail loudly at construction, not as a
    // silent wrong rewrite: junction sharing and output/side collision
    intercept[IllegalArgumentException](
      Bpe.mergePairs(col("s"), Seq(("a", "b"), ("b", "c"))))
    intercept[IllegalArgumentException](
      Bpe.mergePairs(col("s"), Seq(("t", "h"), ("th", "e"))))
  }

  test("encodeRanked: the native rank-replay equals the nested-fold encode") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // word units at a fold-able table size: the two encodes must agree
    // symbol-for-symbol on every corpus word
    val (merges, _) = Bpe.trainBatched(docs, "text", 12, batch = 4)
    val w = docs.select(explode(Text.tokens(lower(col("text")))).as("w"))
    val diff = w
      .withColumn("a", Bpe.encode(col("w"), merges))
      .withColumn("b",
        Bpe.encodeRanked(Bpe.initialSymbols(col("w")), merges))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0L, "native rank-replay must equal the fold encode")
    // piece units at vocabulary scale: lossless round-trip + bounds
    // on every document with a 256-merge table (beyond the fold cap)
    val (pm, _) = Bpe.trainBatchedPieces(docs, "text", 256, batch = 64)
    assert(pm.length == 256)
    val marked = translate(lower(col("text")), " ", Bpe.SpaceMark)
    val bad = docs.select(
        Bpe.encodeRanked(Bpe.pieceSymbols(col("text")), pm).as("syms"),
        marked.as("m"))
      .filter(concat_ws("", col("syms")) =!= col("m") ||
        size(col("syms")) > length(col("m")) ||
        size(col("syms")) < lit(1))
      .count()
    assert(bad == 0L, "256-merge piece encode must round-trip every doc")
    // empty input encodes to zero symbols, not an error
    import spark.implicits._
    val empty = Seq(Seq.empty[String]).toDF("s")
      .select(Bpe.encodeRanked(col("s"), pm)).as[Seq[String]].collect()
    assert(empty.head == Seq.empty)
  }

  test("trainBatchedPieces returns a frame re-rooted in the caller session (AQE intact)") {
    // r10 advisor fix: the train loop runs on an AQE-off session
    // clone, but the returned vocab frame must NOT stay bound to it —
    // a caller composing further queries from it would silently run
    // with AQE disabled. The frame is a localCheckpoint handle on the
    // shared context, so the re-root is free.
    import spark.implicits._
    val docs = Seq((1L, "ab ab ba"), (2L, "ab ba ba")).toDF("doc_id", "text")
    val (_, vocab) = Bpe.trainBatchedPieces(docs, "text", 2, batch = 1)
    assert(vocab.sparkSession eq spark,
      "vocab frame must be rooted in the caller's session, not the clone")
    assert(vocab.sparkSession.conf
      .get("spark.sql.adaptive.enabled") == "true",
      "composing from the returned frame must see the caller's AQE conf")
    assert(vocab.count() > 0)
  }

  test("merge table persists and loads rank-for-rank; empty/torn artifacts fail loudly") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val (merges, _) = Bpe.trainBatched(docs, "text", 10, batch = 4)
    val dir = Scratch.dir("bpe_save")
    Bpe.saveMerges(spark, merges, dir)
    assert(Bpe.loadMerges(spark, dir) == merges)
    // encoding through the loaded artifact equals the in-session table
    val w = docs.select(explode(Text.tokens(lower(col("text")))).as("w"))
    val diff = w.withColumn("a", Bpe.encode(col("w"), merges))
      .withColumn("b", Bpe.encode(col("w"), Bpe.loadMerges(spark, dir)))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0L)
    // an empty artifact refuses to encode-with-zero-merges silently
    val empty = Scratch.dir("bpe_save_empty")
    Bpe.saveMerges(spark, Seq.empty, empty)
    intercept[IllegalArgumentException](Bpe.loadMerges(spark, empty))
    // a rank gap (torn/mixed write) is rejected
    val torn = Scratch.dir("bpe_save_torn")
    Bpe.saveMerges(spark, merges.filter(_.rank != 3), torn)
    intercept[IllegalArgumentException](Bpe.loadMerges(spark, torn))
  }

  test("encode replays the learned merges: every training word round-trips") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val (merges, finalVocab) = Bpe.train(docs, "text", 8)
    val bad = finalVocab
      .withColumn("enc", Bpe.encode(col("w"), merges))
      .filter(col("enc") =!= col("syms")).count()
    assert(bad == 0L, "encode(word, merges) must equal the trained symbols")
  }
}
