package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.{Bm25, Packing, Text}
import graft.dedup.LineDedup
import graft.io.Scratch

/** Sequence packing / token-budget mixing / line dedup / BM25 — each
  * differentially against the naive single-partition formulation the
  * distributed design must equal.
  */
class PackingSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "source", "text")

  test("tokenOffsets equals the naive global-window prefix sum") {
    val d = (1L to 97L).map(i => (i, "s", ("w " * (i % 13 + 1).toInt).trim))
      .toDF("doc_id", "source", "text")
      .select(col("doc_id"), Text.tokenCount(col("text")).cast("long").as("n"))
    val got = Packing.tokenOffsets(d, "doc_id", "n", buckets = 7)
      .select("doc_id", "tok_start").as[(Long, Long)].collect().toMap
    val naive = d.withColumn("tok_start",
        sum($"n").over(Window.orderBy($"doc_id")) - $"n")
      .select("doc_id", "tok_start").as[(Long, Long)].collect().toMap
    assert(got == naive)
  }

  test("tokenOffsets: sparse / skewed ids land in the right buckets") {
    val d = Seq((5L, 10L), (1000000L, 7L), (1000001L, 3L), (-20L, 2L))
      .toDF("doc_id", "n")
    val got = Packing.tokenOffsets(d, "doc_id", "n", buckets = 4)
      .select("doc_id", "tok_start").as[(Long, Long)].collect().toMap
    assert(got == Map(-20L -> 0L, 5L -> 2L, 1000000L -> 12L, 1000001L -> 19L))
  }

  test("concatChunk: straddling doc spans the right sequences; zero-token doc sits at its boundary") {
    val d = docs(
      (1L, "s", "a " * 9),        // 10 bpe-ish tokens? use ws text: 9 tokens
      (2L, "s", ""),              // zero tokens
      (3L, "s", "b " * 5))
    // use whitespace-only words so BPE count == word count
    val out = Packing.concatChunk(d, "doc_id", "text", maxLen = 8)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "tok_start", "first_seq", "last_seq", "n_seqs")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(out(0) == ((1L, 9L, 0L, 0L, 1L, 2L)))  // tokens 0..8 straddle seq 0/1
    assert(out(1) == ((2L, 0L, 9L, 1L, 1L, 1L)))  // empty doc at boundary
    assert(out(2) == ((3L, 5L, 9L, 1L, 1L, 1L)))  // tokens 9..13 inside seq 1
  }

  test("firstFitPack invariants: conservation, cap, oversize singletons, half-full bound") {
    val cap = 10L
    val d = (1L to 60L).map(i => (i, (i % 14 + 1).toInt.toLong))
      .toDF("doc_id", "n")
    val packed = Packing.firstFitPack(d, "doc_id", "n", cap, partitions = 4)
    val rows = packed.as[(Long, Long, Long)].collect()
    assert(rows.map(_._1).sorted.toSeq == (1L to 60L))           // every doc placed once
    assert(rows.map(_._2).sum == d.agg(sum($"n")).as[Long].head()) // tokens conserved
    val bins = rows.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    bins.foreach { case (_, items) =>
      if (items.exists(_ > cap)) assert(items.length == 1)       // oversize = singleton
      else assert(items.sum <= cap)                              // never over cap
    }
    // ≤ one half-empty (non-oversize) bin per partition
    val lowByPart = bins.toSeq
      .filter { case (_, items) => items.sum <= cap / 2 }
      .groupBy { case (bin, _) => bin >> 32 }
    lowByPart.values.foreach(v => assert(v.size <= 1))
  }

  test("FirstFitTree places every item in the same bin as a linear first-fit scan") {
    val cap = 50L
    val r = new scala.util.Random(13)
    val items = Seq.fill(3000)(r.nextInt(60).toLong) // includes oversize
    val tree = new graft.text.FirstFitTree(cap)
    val fills = scala.collection.mutable.ArrayBuffer.empty[Long]
    items.foreach { n =>
      val expected =
        if (n > cap) { fills += (cap + 1); fills.length - 1 }
        else {
          var i = 0
          while (i < fills.length && fills(i) + n > cap) i += 1
          if (i == fills.length) fills += n else fills(i) += n
          i
        }
      val got = if (n > cap) tree.openPoisoned() else tree.place(n)
      assert(got == expected, s"item $n: tree bin $got, linear bin $expected")
    }
  }

  test("mixTokenBudget equals the naive per-source window filter (boundary + full-keep paths)") {
    val r = new scala.util.Random(7)
    val d = (1L to 400L).map { i =>
      val src = s"s${i % 3}"
      // coarse quality grid → many exact ties → boundary-bucket path
      val words = (r.nextInt(8) + 1)
      (i, src, ("tok " * words).trim)
    }.toDF("doc_id", "source", "text")
      .withColumn("n_tok", Text.tokenCount(col("text")).cast("long"))
    for (budget <- Seq(5L, 60L, 100000L)) {   // tiny / crossing / keep-all
      val got = Packing.mixTokenBudget(d, "source", "doc_id",
          Text.qualityScore(col("text")), "n_tok", budget)
        .select("source", "doc_id").as[(String, Long)].collect().toSet
      val w = Window.partitionBy($"source")
        .orderBy(round(Text.qualityScore(col("text")), 6).desc, $"doc_id")
      val naive = d.withColumn("cum", sum($"n_tok").over(w))
        .filter($"cum" <= budget)
        .select("source", "doc_id").as[(String, Long)].collect().toSet
      assert(got == naive, s"budget=$budget")
    }
  }

  test("tokenOffsets property: equals naive for random ids/counts/bucket widths") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    for (trial <- 0 until 5) {
      val g = for {
        n <- Gen.chooseNum(1, 120)
        ids <- Gen.listOfN(n, Gen.chooseNum(-100000L, 100000L))
        toks <- Gen.listOfN(n, Gen.chooseNum(0L, 500L))
      } yield ids.distinct.zip(toks) // unique ids: the documented domain
      val rows = g.apply(Gen.Parameters.default, Seed(7L + trial)).get
      val buckets = Seq(1, 3, 17, 256)(trial % 4)
      val d = rows.toDF("doc_id", "n")
      val got = Packing.tokenOffsets(d, "doc_id", "n", buckets)
        .select("doc_id", "tok_start").as[(Long, Long)].collect().toMap
      val naive = rows.sortBy(_._1)
        .scanLeft((0L, 0L, 0L)) { case ((_, _, acc), (id, n)) => (id, acc, acc + n) }
        .drop(1).map { case (id, start, _) => id -> start }.toMap
      assert(got == naive, s"trial $trial buckets=$buckets")
    }
  }

  test("LineDedup: canonical first occurrence survives, dup instances counted with chars") {
    val d = docs(
      (1L, "s", "alpha\nshared line\nbeta"),
      (2L, "s", "shared line\ngamma\n\n  \nshared line"),
      (3L, "s", "   \n  \n"))   // blank-only doc: absent from output
    val out = LineDedup.docStats(d, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length == 2)
    assert(out(0) == ((1L, 3L, 0L, 0L)))
    // doc 2: 3 non-blank lines, both "shared line" instances are dups
    assert(out(1) == ((2L, 3L, 2L, 2L * "shared line".length)))
  }

  test("BM25: df-ordered query terms, exact score, rank order") {
    val d = docs(
      (1L, "s", "spark engine spark"),
      (2L, "s", "spark catalyst"),
      (3L, "s", "engine tungsten engine engine"))
    val out = Bm25.topK(d, "doc_id", "text", nTerms = 2, k = 2)
      .orderBy("term", "rank")
      .select("term", "doc_id", "score", "rank")
      .as[(String, Long, Double, Int)].collect()
    // df: spark=2, engine=2, catalyst=1, tungsten=1 (len>=4 all) →
    // top-2 terms alphabetical among df=2: engine, spark
    assert(out.map(_._1).toSeq == Seq("engine", "engine", "spark", "spark"))
    // engine: doc3 tf=3 outranks doc1 tf=1
    assert(out(0)._2 == 3L && out(1)._2 == 1L)
    // exact BM25 for (engine, doc3): tf=3, dl=4, df=2, N=3, avgdl=3
    val idf = math.log(1.0 + (3.0 - 2 + 0.5) / (2 + 0.5))
    val exp = idf * 3 * (Bm25.K1 + 1) /
      (3 + Bm25.K1 * (1 - Bm25.B + Bm25.B * 4.0 / 3.0))
    assert(math.abs(out(0)._3 - math.rint(exp * 1e6) / 1e6) < 1e-9)
    assert(out.map(_._4).toSeq == Seq(1, 2, 1, 2))
  }

  test("BM25 persisted index: append-grown probe equals from-scratch, bucket-pruned scan") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val ix = Scratch.dir("bm25_spec")
    Bm25.indexBuild(d.filter(col("doc_id") < 250), "doc_id", "text", ix)
    Bm25.indexAppend(d.filter(col("doc_id") >= 250), "doc_id", "text", ix)
    val q = Bm25.indexQueryTerms(spark, ix, 5)
    val fromIndex = Bm25.topKFromIndex(spark, q, ix, 3)
    val scratch = Bm25.topK(d, "doc_id", "text", nTerms = 5, k = 3)
    assert(fromIndex.exceptAll(scratch).isEmpty &&
      scratch.exceptAll(fromIndex).isEmpty,
      "index-grown probe must score identically to the one-pass build")
    // the postings read is partition-pruned to the query terms' buckets
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"expected bucket partition pruning in:\n$plan")
  }

  test("BM25 index: empty corpus builds zero stats, empty delta folds a no-op") {
    val d = docs((1L, "s", "spark engine"))
    val empty = d.filter(col("doc_id") < 0)
    val ix = Scratch.dir("bm25_empty")
    // an empty build must write (0, 0) stats — not NPE on a null sum
    Bm25.indexBuild(empty, "doc_id", "text", ix)
    val st0 = spark.read.parquet(s"$ix/stats").as[(Long, Long)].head()
    assert(st0 == ((0L, 0L)))
    // probing the empty index fails with the explicit guard, not a NaN
    val e = intercept[IllegalArgumentException] {
      Bm25.topKFromIndex(spark, d.select(lit("spark").as("term")), ix, 1)
    }
    assert(e.getMessage.contains("empty"))
    // growing it from empty, then an empty delta append, stays exact
    Bm25.indexAppend(d, "doc_id", "text", ix)
    Bm25.indexAppend(empty, "doc_id", "text", ix)
    val st1 = spark.read.parquet(s"$ix/stats").as[(Long, Long)].head()
    assert(st1 == ((1L, 2L)))
  }

  test("more-like-this: shared-term census and deterministic exact-sum ranking") {
    val d = docs(
      (1L, "s", "spark catalyst tungsten"),            // query doc
      (10L, "s", "spark catalyst engine"),             // shares 2 terms
      (11L, "s", "spark runtime"),                     // shares 1
      (12L, "s", "wholly unrelated words"))            // shares 0
    val ix = Scratch.dir("mlt_spec")
    Bm25.indexBuild(d.filter(col("doc_id") >= 10), "doc_id", "text", ix)
    val out = Bm25.moreLikeThisFromIndex(spark, d.filter(col("doc_id") === 1),
        "doc_id", "text", ix, k = 3)
      .orderBy("rank")
      .select("qid", "doc_id", "n_shared", "rank")
      .as[(Long, Long, Long, Int)].collect()
    // doc 12 shares nothing → absent; doc 10 (2 shared) outranks 11 (1)
    assert(out.toSeq == Seq((1L, 10L, 2L, 1), (1L, 11L, 1L, 2)))
  }

  test("streaming MLT probe drains to the one-shot batch retrieval") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val streamed = graft.streaming.StreamingJob.streamMltProbe(
      d.filter(col("doc_id") >= 300),
      d.filter(col("doc_id") >= 100 && col("doc_id") < 300),
      d.filter(col("doc_id") < 100),
      "doc_id", "text", k = 3, Scratch.dir("mlt_stream"))
    val ix = Scratch.dir("mlt_batch")
    Bm25.indexBuild(d.filter(col("doc_id") >= 100), "doc_id", "text", ix)
    val batch = Bm25.moreLikeThisFromIndex(spark,
      d.filter(col("doc_id") < 100), "doc_id", "text", ix, k = 3)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("epochShuffle: exact permutation, epoch independence, no global window") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val n = d.count()
    val e3 = Packing.epochShuffle(d, "doc_id", epoch = 3)
    // positions are EXACTLY 0..N-1 — a permutation, not just ranks
    val pos = e3.select("pos").as[Long].collect().sorted
    assert(pos.toSeq == (0L until n))
    // deterministic: a re-run reproduces every position
    val again = Packing.epochShuffle(d, "doc_id", epoch = 3)
      .select("doc_id", "pos").as[(Long, Long)].collect().toMap
    val first = e3.select("doc_id", "pos").as[(Long, Long)].collect().toMap
    assert(first == again)
    // distributed rank equals the naive global window, row for row
    val key = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit(":3"))), 1, 8), 16, 10).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("skey"), col("doc_id"))
    val naive = d.select(col("doc_id"), key.as("skey"))
      .withColumn("pos", row_number().over(w).cast("long") - 1)
      .select("doc_id", "pos").as[(Long, Long)].collect().toMap
    assert(first == naive)
    // a different epoch is a different permutation
    val e4 = Packing.epochShuffle(d, "doc_id", epoch = 4)
      .select("doc_id", "pos").as[(Long, Long)].collect().toMap
    assert(first != e4)
    // the operator's own plan has no single-partition exchange
    val plan = e3.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      "epoch shuffle must not collapse to a global window:\n" + plan)
    // empty input: empty permutation, no blowup
    assert(Packing.epochShuffle(d.filter(col("doc_id") < 0),
      "doc_id", 1).count() == 0L)
  }

  test("concatChunk plan: no single-partition global window") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = Packing.concatChunk(d, "doc_id", "text", 512)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      "distributed prefix sum must not collapse to one partition:\n" + plan)
  }
}
