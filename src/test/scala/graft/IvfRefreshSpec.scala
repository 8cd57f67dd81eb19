package graft

import org.apache.spark.sql.functions._
import graft.similarity.Ann
import graft.io.Scratch

/** IVF index refresh: warm-started Lloyd over the index's own vectors,
  * atomic staged swap, self-consistency of the rewritten tables.
  */
class IvfRefreshSpec extends SparkSpec {
  import spark.implicits._

  private def freshIndex(): String = {
    val ix = Scratch.dir("ivf_refresh_spec")
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    Ann.ivfIndexBuild(emb, "vec_id", "embedding", nCells = 8, ix)
    ix
  }

  private def assignments(ix: String): Map[Long, Int] =
    spark.read.parquet(s"${Ann.ivfRoot(ix)}/assigned")
      .select(col("vid").cast("long"), col("cell").cast("int"))
      .as[(Long, Int)].collect().toMap

  test("refresh with zero iterations is an exact no-op on assignments (warm start)") {
    val ix = freshIndex()
    val before = assignments(ix)
    Ann.ivfIndexRefresh(spark, ix, iters = 0)
    assert(assignments(ix) == before)
    val chk = Ann.indexSelfCheck(spark, ix).as[(Long, Long)].head()
    assert(chk == ((before.size.toLong, 0L)))
  }

  test("refresh rewrites a self-consistent index, conserves rows, leaves no staging dirs") {
    val ix = freshIndex()
    val n = assignments(ix).size.toLong
    Ann.ivfIndexRefresh(spark, ix, iters = 3)
    val (nAfter, mis) = Ann.indexSelfCheck(spark, ix).as[(Long, Long)].head()
    assert(nAfter == n && mis == 0L)
    val leftovers = new java.io.File(ix).list().toSeq
      .filter(f => f.endsWith("_staged") || f.endsWith("_old"))
    assert(leftovers.isEmpty, s"staging residue: $leftovers")
    // probes still work against the refreshed tables
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probe = Ann.ivfTopKFromIndex(emb.filter(col("vec_id") < 4),
      "vec_id", "embedding", ix, k = 5, nProbe = 3)
    assert(probe.groupBy("qid").count().as[(Long, Long)].collect()
      .forall(_._2 == 5L))
  }

  test("refresh publishes centroids+assigned as one epoch behind a single pointer flip") {
    val ix = freshIndex()
    assert(Ann.ivfRoot(ix) == ix) // fresh build: no pointer yet
    Ann.ivfIndexRefresh(spark, ix, iters = 1)
    assert(Ann.ivfRoot(ix) == s"$ix/epoch_1")
    // the pair lives TOGETHER under the epoch; the base-dir tables the
    // pointer no longer references are cleaned up
    assert(new java.io.File(s"$ix/epoch_1/centroids").exists())
    assert(new java.io.File(s"$ix/epoch_1/assigned").exists())
    assert(!new java.io.File(s"$ix/centroids").exists())
    assert(!new java.io.File(s"$ix/assigned").exists())
    Ann.ivfIndexRefresh(spark, ix, iters = 1)
    assert(Ann.ivfRoot(ix) == s"$ix/epoch_2")
    assert(!new java.io.File(s"$ix/epoch_1").exists())
    // appends land in the live epoch and probes read it
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val chk = Ann.indexSelfCheck(spark, ix).as[(Long, Long)].head()
    assert(chk._2 == 0L)
    // a rebuild resets the epoch history entirely
    Ann.ivfIndexBuild(emb, "vec_id", "embedding", nCells = 8, ix)
    assert(Ann.ivfRoot(ix) == ix)
    assert(!new java.io.File(s"$ix/epoch_2").exists())
  }

  test("truncated rerank: full-width prefix degenerates to exact brute force; half-width recalls sanely") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 8)
    val exact = Ann.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
      .select("qid", "vid", "sim", "rank")
    // prefix = full 64 dims and candidates >= corpus: stage 1 IS the
    // exact ranking, so the cascade must equal brute force row-for-row
    val full = Ann.truncatedRerankTopK(q, emb, "vec_id", "embedding", 5,
      prefixDims = 64, candidates = 10000)
    assert(full.exceptAll(exact).isEmpty && exact.exceptAll(full).isEmpty)
    // half-width prefix with a 4x candidate cushion: high overlap with
    // the exact top-5 (the matryoshka premise on correlated dims)
    val half = Ann.truncatedRerankTopK(q, emb, "vec_id", "embedding", 5,
      prefixDims = 32, candidates = 20)
      .select("qid", "vid")
    val hits = exact.select("qid", "vid")
      .join(half, Seq("qid", "vid"), "left_semi").count()
    assert(hits >= 20, s"recall collapsed: $hits/40 exact hits survived")
  }

  test("refresh after a skewed append re-spreads what frozen-centroid ingest cannot") {
    val ix = freshIndex()
    // a delta of near-duplicate vectors of corpus vector 0: frozen
    // centroids pile them all into one cell
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val v0 = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).as[Seq[Float]].head()
    val delta = (1000L to 1039L).map { i =>
      (i, v0.updated(0, v0.head + (i % 7).toFloat / 100f))
    }.toDF("vec_id", "embedding")
    Ann.ivfIndexAppend(delta, "vec_id", "embedding", ix)
    def maxShare(m: Map[Long, Int]): Double = {
      val byCell = m.values.groupBy(identity).view.mapValues(_.size)
      byCell.values.max.toDouble / m.size
    }
    val before = maxShare(assignments(ix))
    Ann.ivfIndexRefresh(spark, ix, iters = 5)
    val after = maxShare(assignments(ix))
    assert(after <= before,
      s"refresh should not worsen the hot cell: before=$before after=$after")
    assert(Ann.indexSelfCheck(spark, ix).as[(Long, Long)].head()._2 == 0L)
  }

  test("an append adds at most one file per cell, whatever the delta's split count") {
    val ix = freshIndex()
    def filesPerCell(): Map[String, Int] =
      new java.io.File(s"${Ann.ivfRoot(ix)}/assigned").listFiles().toSeq
        .filter(_.getName.startsWith("cell="))
        .map(d => d.getName -> d.list().count(_.endsWith(".parquet"))).toMap
    val before = filesPerCell()
    // re-id'd corpus vectors spread over several cells, and each of the
    // delta's four splits holds vectors of most of them
    val delta = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter(col("vec_id") < 64)
      .withColumn("vec_id", col("vec_id") + 100000L)
      .repartition(4)
    Ann.ivfIndexAppend(delta, "vec_id", "embedding", ix)
    val gained = filesPerCell().map { case (c, n) => c -> (n - before.getOrElse(c, 0)) }
    assert(gained.count(_._2 > 0) > 1, s"the delta should span cells: $gained")
    assert(gained.values.forall(_ <= 1), s"parquet files gained per cell: $gained")
    assert(Ann.indexSelfCheck(spark, ix).as[(Long, Long)].head() ==
      ((assignments(ix).size.toLong, 0L)))
  }
}
