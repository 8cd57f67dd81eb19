package graft

import org.apache.spark.sql.functions._
import graft.dedup.Boilerplate
import graft.text.Retrieval
import graft.io.Scratch

/** Units for the round-7 retrieval/cleaning extensions: RRF fusion
  * against hand-computed scores, and boilerplate span-stripping edge
  * cases (overlapping occurrences, fully-stripped docs, docs shorter
  * than the gram, empty docs).
  */
class HybridSpec extends SparkSpec {
  import spark.implicits._

  test("rrfFuse matches hand-computed reciprocal rank fusion") {
    // q1: doc 10 is rank 1 lexically and rank 2 in vector space;
    // doc 20 lex-only rank 2; doc 30 vec-only rank 1
    val lex = Seq((1L, 10L, 1), (1L, 20L, 2)).toDF("qid", "doc", "rank")
    val vec = Seq((1L, 30L, 1), (1L, 10L, 2)).toDF("qid", "doc", "rank")
    val out = Retrieval.rrfFuse(lex, vec, k = 3).collect()
      .map(r => (r.getLong(1), r.getInt(2), r.getInt(3),
        r.getDouble(4), r.getInt(5))).sortBy(_._5)
    val both = 1.0 / 61 + 1.0 / 62 // doc 10
    assert(out.head == (10L, 1, 2, math.rint(both * 1e6) / 1e6, 1))
    // doc 30 (vec rank 1) beats doc 20 (lex rank 2): 1/61 > 1/62
    assert(out(1) == (30L, 0, 1, math.rint(1.0 / 61 * 1e6) / 1e6, 2))
    assert(out(2) == (20L, 2, 0, math.rint(1.0 / 62 * 1e6) / 1e6, 3))
  }

  test("rrfFuse ties between leg-exclusive docs break on doc id") {
    val lex = Seq((1L, 50L, 1)).toDF("qid", "doc", "rank")
    val vec = Seq((1L, 40L, 1)).toDF("qid", "doc", "rank")
    val out = Retrieval.rrfFuse(lex, vec, k = 2).collect()
      .map(r => (r.getLong(1), r.getInt(5)))
    assert(out.toSet == Set((40L, 1), (50L, 2))) // same rrf, 40 < 50
  }

  test("map-only postings ≡ explode+groupBy postings, zero exchanges") {
    // repeated tokens (tf > 1), case folding, runs of whitespace, an
    // empty doc (zero postings but dl = 0 rows don't appear), and a
    // token appearing in several docs
    val docs = Seq(
      (1L, "the cat  the CAT sat"),
      (2L, "dog\tdog dog"),
      (3L, ""),
      (4L, "cat")
    ).toDF("doc_id", "text")
    val fast = graft.text.Bm25.postings(docs, "doc_id", "text")
    val ref = docs.select(col("doc_id"),
        graft.text.Text.tokens(lower(col("text"))).as("__toks"))
      .withColumn("dl", size(col("__toks")).cast("long"))
      .select(col("doc_id"), col("dl"), explode(col("__toks")).as("term"))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"))
    assert(fast.columns.toSeq == ref.columns.toSeq)
    assert(fast.exceptAll(ref).isEmpty && ref.exceptAll(fast).isEmpty)
    // the point of the rewrite: the per-doc count needs no shuffle
    assert(!fast.queryExecution.executedPlan.toString.contains("Exchange"),
      "postings must stay map-only")
  }

  test("stripSpans removes every occurrence, not just the first") {
    val docs = Seq(
      (1L, "the same header here body one the same header here"),
      (2L, "the same header here body two"),
      (3L, "unique text with nothing shared at all")
    ).toDF("doc_id", "text")
    val out = Boilerplate.stripSpans(docs, "doc_id", "text", n = 4,
        minDf = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4))).sortBy(_._1)
    // two shared 4-grams: "the same header here" (twice in doc 1) and
    // "same header here body"; their occurrence cover leaves only the
    // token after the shared run in each doc
    assert(out(0) == ((1L, 10, 9, 2, "one")))
    assert(out(1) == ((2L, 6, 5, 2, "two")))
    assert(out(2)._3 == 0)
    assert(out(2)._5 == "unique text with nothing shared at all")
  }

  test("stripSpans overlapping grams mask the union of positions") {
    // docs share a 6-token run ⇒ three overlapping 4-grams, but the
    // cover is the 6 positions, each counted once
    val run = "a b c d e f"
    val docs = Seq((1L, s"$run tail1"), (2L, s"head2 $run"))
      .toDF("doc_id", "text")
    val out = Boilerplate.stripSpans(docs, "doc_id", "text", n = 4,
        minDf = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4))).sortBy(_._1)
    assert(out(0) == ((1L, 7, 6, 3, "tail1")))
    assert(out(1) == ((2L, 7, 6, 3, "head2")))
  }

  test("streamed hybrid probe drains to the one-shot batch fusion") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingJob.streamHybridProbe(
        Tables.documents(spark, dir), Tables.embeddings(spark, dir),
        "doc_id", "text", "embedding",
        graft.text.HybridQueries.Split, graft.text.HybridQueries.HK,
        Scratch.dir("hybrid_spec"))
      .select("qid", "doc", "lex_rank", "vec_rank", "rrf", "rank")
    val batch = graft.text.HybridQueries
      .queries("tx_hybrid_rrf")(spark, dir)
      .select("qid", "doc", "lex_rank", "vec_rank", "rrf", "rank")
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "micro-batched two-leg fusion must union to the batch result")
  }

  test("streamed IVF-leg hybrid probe drains to its one-shot batch twin") {
    // the r10 scale-safe vector leg: per-trigger the vector candidates
    // come from a persisted IVF index (cell-pruned reads), not a
    // corpus scan — the drained union must still equal the one-shot
    // batch fusion, because the whole cascade is deterministic
    val dir = "/root/testdata/sf0.001"
    val cols = Seq("qid", "doc", "lex_rank", "vec_rank", "rrf", "rank")
    val streamed = graft.streaming.StreamingQueries
      .queries("s24b_stream_hybrid_ivf")(spark, dir)
      .select(cols.map(col): _*)
    val batch = graft.text.HybridQueries
      .queries("tx_hybrid_rrf_ivf")(spark, dir)
      .select(cols.map(col): _*)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "micro-batched IVF-leg fusion must union to the batch result")
  }

  test("localized BM25 probe ≡ default probe (same index, same scores)") {
    // the r9 job-floor cut: localizeProbe collects the (qid, term)
    // pairs once and turns the term set / bucket list / fan-out side
    // into LocalRelations — same Spark tokenization expressions, so
    // every score must be bit-identical to the default broadcast path
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val split = graft.text.HybridQueries.Split
    val ix = s"${Scratch.dir("mlt_localize_spec")}/ix"
    graft.text.Bm25.indexBuild(docs.filter(col("doc_id") >= split),
      "doc_id", "text", ix)
    val q = docs.filter(col("doc_id") < split)
    val dflt = graft.text.Bm25.moreLikeThisFromIndex(spark, q,
      "doc_id", "text", ix, k = 5)
    val loc = graft.text.Bm25.moreLikeThisFromIndex(spark, q,
      "doc_id", "text", ix, k = 5, localizeProbe = true)
    assert(dflt.exceptAll(loc).isEmpty && loc.exceptAll(dflt).isEmpty,
      "localized probe must score identically to the default path")
  }

  test("localized probe over the row cap falls back to the distributed plan") {
    // the r10 guard: the micro-batch-size bound is ENFORCED, not a
    // caller contract — a query side past maxLocalizedRows (qid, term)
    // rows gets the distributed plan back (same scores, no driver
    // state kept), instead of marching toward a driver OOM
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val split = graft.text.HybridQueries.Split
    val ix = s"${Scratch.dir("mlt_cap_spec")}/ix"
    graft.text.Bm25.indexBuild(docs.filter(col("doc_id") >= split),
      "doc_id", "text", ix)
    val q = docs.filter(col("doc_id") < split)
    val capped = graft.text.Bm25.moreLikeThisFromIndex(spark, q,
      "doc_id", "text", ix, k = 5, localizeProbe = true,
      maxLocalizedRows = 1)
    // fallback is the distributed plan: no LocalRelation query side
    val locals = capped.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }
    assert(locals.isEmpty,
      s"over-cap probe must not keep collected rows in the plan")
    // and still score-identical to the default path
    val dflt = graft.text.Bm25.moreLikeThisFromIndex(spark, q,
      "doc_id", "text", ix, k = 5)
    assert(dflt.exceptAll(capped).isEmpty && capped.exceptAll(dflt).isEmpty,
      "capped fallback must score identically to the default path")
  }

  test("localized probe plan: query side is LocalRelations, scans only postings") {
    // the job-floor claim in plan form: with localizeProbe the ONLY
    // file source left in the plan is the postings index — the query
    // side (term set + fan-out pairs) is LocalRelations, whose
    // broadcast builds submit no Spark jobs — so per-probe driver
    // actions can't silently regrow
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val split = graft.text.HybridQueries.Split
    val ix = s"${Scratch.dir("mlt_localize_plan")}/ix"
    graft.text.Bm25.indexBuild(docs.filter(col("doc_id") >= split),
      "doc_id", "text", ix)
    val loc = graft.text.Bm25.moreLikeThisFromIndex(spark,
      docs.filter(col("doc_id") < split), "doc_id", "text", ix, k = 5,
      localizeProbe = true)
    val plan = loc.queryExecution.optimizedPlan
    val locals = plan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }
    assert(locals.size >= 2,
      s"expected the term set and the fan-out side as LocalRelations:\n$plan")
    val files = plan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Seq("non-file")
        }
    }.flatten
    assert(files.nonEmpty && files.forall(_.contains("/ix/postings")),
      s"only the postings index may be scanned, got $files")
  }

  test("hybrid probe drained union is invariant to trigger chunking") {
    // per-query fusion is independent, so 1 file/trigger (4 batches)
    // and the 2-file default (2 batches) must drain to the same rows —
    // the claim the r9 filesPerTrigger default rests on
    val dir = "/root/testdata/sf0.001"
    val one = graft.streaming.StreamingJob.streamHybridProbe(
        Tables.documents(spark, dir), Tables.embeddings(spark, dir),
        "doc_id", "text", "embedding", graft.text.HybridQueries.Split,
        graft.text.HybridQueries.HK, Scratch.dir("hybrid_c1"),
        filesPerTrigger = 1)
      .select("qid", "doc", "rrf", "rank")
    val two = graft.streaming.StreamingJob.streamHybridProbe(
        Tables.documents(spark, dir), Tables.embeddings(spark, dir),
        "doc_id", "text", "embedding", graft.text.HybridQueries.Split,
        graft.text.HybridQueries.HK, Scratch.dir("hybrid_c2"))
      .select("qid", "doc", "rrf", "rank")
    assert(one.exceptAll(two).isEmpty && two.exceptAll(one).isEmpty,
      "drained fusion must not depend on micro-batch chunking")
  }

  test("streamed boiler strip drains to the one-shot cross-split strip") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val split = graft.text.HybridQueries.Split
    val streamed = graft.streaming.StreamingJob.streamBoilerStrip(
      docs, "doc_id", "text", n = 3, minDf = 3, split,
      Scratch.dir("s25_spec"))
    val batch = Boilerplate.stripWithBoiler(
      docs.filter(col("doc_id") < split), "doc_id", "text", 3,
      graft.dedup.Dedup.commonNgrams(
        docs.filter(col("doc_id") >= split), "doc_id", "text", 3, 3))
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("a failing boiler-strip stream releases its pinned boiler set") {
    val split = graft.text.HybridQueries.Split
    // one arriving doc (below the split) fails when its text is read;
    // the static corpus the boiler set is mined from stays clean
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("text", when(col("doc_id") === split - 1,
        raise_error(lit("injected arrival failure")))
        .otherwise(col("text")))
    val before = spark.sparkContext.getPersistentRDDs.size
    intercept[Exception] {
      graft.streaming.StreamingJob.streamBoilerStrip(
        docs, "doc_id", "text", n = 3, minDf = 3, split,
        Scratch.dir("s25_fail_spec"))
    }
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "a failed stream must not leave its static leg cached")
  }

  test("gram index grown by append mines the one-shot boiler set") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val ix = Scratch.dir("gramix_spec")
    Boilerplate.gramIndexBuild(docs.filter(col("doc_id") >= 250),
      "doc_id", "text", 5, ix)
    Boilerplate.gramIndexAppend(docs.filter(col("doc_id") < 250),
      "doc_id", "text", 5, ix)
    val grown = Boilerplate.boilerFromIndex(spark, ix, 2)
    val scratch = graft.dedup.Dedup
      .commonNgrams(docs, "doc_id", "text", 5, 2).select("ngram")
    assert(grown.exceptAll(scratch).isEmpty &&
      scratch.exceptAll(grown).isEmpty,
      "partial-df fold over disjoint appends must equal the union mine")
  }

  test("gram index built from an empty slice reads as an empty boiler set") {
    import spark.implicits._
    val ix = Scratch.dir("gramix_empty")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    Boilerplate.gramIndexBuild(empty, "doc_id", "text", 5, ix)
    assert(Boilerplate.boilerFromIndex(spark, ix, 2).isEmpty)
    // and an append onto it brings the index live
    Boilerplate.gramIndexAppend(
      Seq((1L, "a b c d e f"), (2L, "a b c d e g")).toDF("doc_id", "text"),
      "doc_id", "text", 5, ix)
    assert(Boilerplate.boilerFromIndex(spark, ix, 2).collect()
      .map(_.getString(0)).toSet == Set("a b c d e"))
  }

  test("stripSpans shuffle-join path equals the broadcast path") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val b = Boilerplate.stripSpans(docs, "doc_id", "text", 5, 2)
    val sh = Boilerplate.stripSpans(docs, "doc_id", "text", 5, 2,
      broadcastBoiler = false)
    assert(b.exceptAll(sh).isEmpty && sh.exceptAll(b).isEmpty)
  }

  test("stripSpans is total: short, empty, and fully-covered docs") {
    val docs = Seq(
      (1L, "common words only"), (2L, "common words only"), // fully covered
      (3L, "ab"),                                           // shorter than n
      (4L, "   ")                                           // no tokens
    ).toDF("doc_id", "text")
    val out = Boilerplate.stripSpans(docs, "doc_id", "text", n = 3,
        minDf = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(4)))
      .sortBy(_._1)
    assert(out(0) == ((1L, 3, 3, "")))
    assert(out(1) == ((2L, 3, 3, "")))
    assert(out(2) == ((3L, 1, 0, "ab")))
    assert(out(3) == ((4L, 0, 0, "")))
  }
}
