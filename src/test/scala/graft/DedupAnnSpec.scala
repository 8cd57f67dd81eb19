package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.functions.{TextHashing, VectorExprs}
import graft.similarity.Ann
import graft.io.Scratch

/** Near-dup and similarity-search semantics on crafted corpora, plus
  * differential tests pinning the native kernels to their composable
  * reference formulations.
  */
class DedupAnnSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "a b c d e f g h"),
    (2L, "a b c d e f g h"),          // identical to 1
    (3L, "a b c d e f g x"),          // near-dup of 1
    (4L, "q w e r t y u i o p")       // unrelated
  ).toDF("doc_id", "text")

  test("jaccardPairs finds identical and near-dup pairs with exact j") {
    val got = Dedup.jaccardPairs(corpus, "doc_id", "text", 3, 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(got((1L, 2L)) == 1.0)
    // doc1: 6 shingles, doc3: 6 shingles, shared 5 -> 5/7
    assert(math.abs(got((1L, 3L)) - 5.0 / 7.0) < 1e-12)
    assert(math.abs(got((2L, 3L)) - 5.0 / 7.0) < 1e-12)
    assert(got.size == 3)
  }

  test("minhashLshPairs equals exact jaccardPairs on this corpus") {
    val exact = Dedup.jaccardPairs(corpus, "doc_id", "text", 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(corpus, "doc_id", "text", 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh == exact)
  }

  test("commonNgrams counts each doc once and honours the df floor") {
    val docs = Seq(
      (1L, "x y z a b c"),
      (2L, "p q x y z r"),
      (3L, "x y z x y z"),             // span repeats in-doc: counted ONCE
      (4L, "a b c d e f")
    ).toDF("doc_id", "text")
    val got = Dedup.commonNgrams(docs, "doc_id", "text", n = 3, minDf = 3)
      .as[(String, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    // "x y z" appears in docs 1, 2, 3 (twice in 3, distinct-per-doc)
    assert(got == Map("x y z" -> (3L, 1L)))
    // df floor 2 additionally admits "a b c" (docs 1 and 4)
    val df2 = Dedup.commonNgrams(docs, "doc_id", "text", n = 3, minDf = 2)
      .as[(String, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(df2 == Map("x y z" -> (3L, 1L), "a b c" -> (2L, 1L)))
  }

  test("JL projection of a basis vector reads out the sign matrix row") {
    import graft.similarity.Jl
    val K = 8
    // e_j projects to sign(j, k) * sqrt(3/K) on every axis k — the
    // projection wiring (indexing, scaling) verified exactly
    for (j <- Seq(0, 5, 63)) {
      val basis = Array.tabulate(64)(i => if (i == j) 1.0 else 0.0)
      val df = Seq((1L, basis)).toDF("vec_id", "embedding")
      val signs = (0 until K).map { k =>
        val arr = array((0 until 64).map(d => lit(Jl.sign(d, k, K))): _*)
        aggregate(
          transform(col("embedding"), (x, i) => x * element_at(arr, i + 1)),
          lit(0.0), (acc, x) => acc + x) * math.sqrt(3.0 / K)
      }
      val got = df.select(array(signs: _*)).as[Seq[Double]].head()
      val want = (0 until K).map(k => Jl.sign(j, k, K) * math.sqrt(3.0 / K))
      assert(got == want, s"basis $j")
    }
    // sign distribution: ~1/3 of entries nonzero over the full matrix
    val nz = (for (j <- 0 until 64; k <- 0 until K) yield Jl.sign(j, k, K))
      .count(_ != 0.0)
    assert(nz > 512 / 6 && nz < 512 / 2, s"nonzero=$nz of 512")
  }

  test("ngramHashes matches string-shingle formulation (set sizes + overlap)") {
    val viaKernel = corpus.select(col("doc_id"),
      size(TextHashing.ngramHashes(col("text"), 3)).as("n"))
      .as[(Long, Int)].collect().toMap
    val viaStrings = corpus.select(col("doc_id"),
      size(Dedup.shingles(col("text"), 3)).as("n"))
      .as[(Long, Int)].collect().toMap
    assert(viaKernel == viaStrings)
    // short doc: fewer tokens than n -> empty
    val empty = Seq((9L, "a b")).toDF("doc_id", "text")
      .select(size(TextHashing.ngramHashes(col("text"), 3))).as[Int].head()
    assert(empty == 0)
    // NULL text -> empty array (not NULL): callers use size() = 0
    val nullDoc = Seq((10L, None: Option[String])).toDF("doc_id", "text")
      .select(size(Dedup.shingles(col("text"), 3))).as[Int].head()
    assert(nullDoc == 0)
  }

  test("minhashBands kernel: deterministic, band-count sized, empty-safe") {
    val df = corpus.select(col("doc_id"),
      TextHashing.minhashBands(
        TextHashing.ngramHashes(col("text"), 3), 128, 32, 7L).as("bh"))
    val rows = df.select(col("doc_id"), size(col("bh"))).as[(Long, Int)]
      .collect().toMap
    assert(rows.values.forall(_ == 32))
    // identical docs -> identical band hashes in every band
    val bh = df.as[(Long, Array[Long])].collect().toMap
    assert(bh(1L).sameElements(bh(2L)))
    // deterministic across evaluations
    assert(df.as[(Long, Array[Long])].collect().toMap.apply(3L)
      .sameElements(bh(3L)))
    // empty shingle set -> empty band array, not a crash or null
    val e = Seq((9L, "a b")).toDF("doc_id", "text")
      .select(size(TextHashing.minhashBands(
        TextHashing.ngramHashes(col("text"), 3), 128, 32, 7L))).as[Int].head()
    assert(e == 0)
  }

  test("pageRank: star center ranks highest; probability mass conserved") {
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (9L, 8L))
      .toDF("a", "b")
    val pr = graft.operators.Graph.pageRank(edges, "a", "b", iters = 5)
      .as[(Long, Double)].collect().toMap
    // undirected + no dangling nodes -> total rank mass stays 1
    assert(math.abs(pr.values.sum - 1.0) < 1e-6)
    // the star center receives every leaf's full contribution
    assert(pr(0L) > pr(1L) && pr(0L) > pr(4L))
    // symmetric leaves tie exactly
    assert(pr(1L) == pr(2L) && pr(8L) == pr(9L))
  }

  test("simhash: identical docs distance 0, near-dups close, distinct far") {
    val sh = Dedup.simhash(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(3L)) < ham(sh(1L), sh(4L)))
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("connectedComponents merges transitively and labels by min id") {
    val pairs = Seq((2L, 1L), (2L, 3L), (7L, 8L), (9L, 3L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    // chain 1-2-3-9 collapses to component 1; 7-8 to component 7
    assert(got == Set((1L, 1L), (2L, 1L), (3L, 1L), (9L, 1L),
      (7L, 7L), (8L, 7L)))
  }

  private val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f)),
    (3L, Array(0.0f, 1.0f, 0.0f)),
    (4L, Array(-1.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("native dot product equals fold formulation bit-for-bit") {
    val r = new scala.util.Random(7)
    val data = Seq.fill(50)(
      (Array.fill(64)(r.nextDouble() - 0.5), Array.fill(64)(r.nextDouble() - 0.5)))
      .toDF("a", "b")
    val diffs = data.select(
      (Ann.dot(col("a"), col("b")) - Ann.dotFold(col("a"), col("b"))).as("d"))
      .as[Double].collect()
    assert(diffs.forall(_ == 0.0))
  }

  test("native argmax cell equals array_max over centSims, ties and NaNs") {
    val r = new scala.util.Random(11)
    val cents: Seq[Seq[Double]] =
      Seq.fill(16)(Seq.fill(8)(r.nextDouble() - 0.5)) ++
        // duplicated centroid -> every vector ties cells 16 and 17
        Seq(Seq.fill(8)(0.25), Seq.fill(8)(0.25))
    val rows = Seq.fill(200)(Seq.fill(8)(r.nextDouble() - 0.5))
    val got = rows.toDF("v").select(
        VectorExprs.argmaxCell(col("v"), typedlit(cents)).as("native"),
        array_max(transform(typedlit(cents), (c, i) => struct(
          (Ann.dot(col("v"), c) /
            (sqrt(Ann.dot(col("v"), col("v"))) * sqrt(Ann.dot(c, c))))
            .as("sim"), i.as("idx")))).getField("idx").as("hof"))
      .as[(Int, Int)].collect()
    got.foreach { case (n, h) => assert(n == h, s"native $n != hof $h") }
    // a zero vector makes every cosine 0/0: the HOF form THROWS under
    // ANSI, the native follows NaN ordering (all-equal -> last idx) —
    // deterministic where the composable twin cannot even evaluate
    val z = Seq(Seq.fill(8)(0.0)).toDF("v")
      .select(VectorExprs.argmaxCell(col("v"), typedlit(cents)))
      .as[Int].head()
    assert(z == cents.size - 1)
  }

  test("bruteForceTopK ranks by cosine with self excluded") {
    val top = Ann.bruteForceTopK(vecs.filter(col("vec_id") === 1),
      vecs, "vec_id", "embedding", 3)
      .orderBy("rank").select("vid", "rank")
      .as[(Long, Int)].collect()
    assert(top.map(_._1).toSeq == Seq(2L, 3L, 4L)) // cos: .994, 0, -1
  }

  test("cosinePairs finds only the near-identical pair at 0.9") {
    val pairs = Ann.cosinePairs(vecs, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("semanticDedup: one cell ≡ all-pairs; cells only prune; keeper is min id") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val thr = 0.35
    // the all-pairs truth, reduced under the same keep-lowest-id policy
    val exact = Ann.cosinePairs(emb, "vec_id", "embedding", thr)
      .groupBy(col("id_b").as("doc"))
      .agg(min(col("id_a")).as("keeper"), count(lit(1)).as("n"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // nCells = 1: every doc shares the single cell -> identical result
    val oneCell = Ann.semanticDedup(emb, "vec_id", "embedding", 1, thr)
      .select(col("doc"), col("keeper"), col("n_collisions"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(oneCell == exact)
    // real cells: dropped set is a subset (cells only remove pairs),
    // and each surviving collision is a true >=thr pair
    val cells = Ann.semanticDedup(emb, "vec_id", "embedding", 8, thr)
      .select(col("doc"), col("keeper")).as[(Long, Long)].collect()
    val exactPairs = Ann.cosinePairs(emb, "vec_id", "embedding", thr)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cells.map(_._1).toSet.subsetOf(exact.keySet))
    cells.foreach { case (doc, keeper) =>
      assert(keeper < doc && exactPairs.contains((keeper, doc)),
        s"keeper $keeper of $doc must be a lower-id true near-dup")
    }
  }

  test("semanticDedup is append-stable: growing the corpus never rewrites old rows") {
    // centroids are the first-N ids and a doc's fate depends only on
    // LOWER-id cellmates, so appending higher-id docs must leave every
    // existing output row byte-identical — the property that keeps an
    // incremental curation pipeline from churning its keep set
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cut = 300L
    val prefix = Ann.semanticDedup(emb.filter(col("vec_id") < cut),
        "vec_id", "embedding", 8, 0.35)
      .as[(Long, Int, Long, Double, Long)].collect().toSet
    val full = Ann.semanticDedup(emb, "vec_id", "embedding", 8, 0.35)
      .as[(Long, Int, Long, Double, Long)].collect()
      .filter(_._1 < cut).toSet
    assert(prefix == full)
  }

  test("persisted IVF index: build + delta append answers identically to recompute") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val ix = Scratch.dir("ivf_ix")
    Ann.ivfIndexBuild(emb.filter(col("vec_id") >= 100),
      "vec_id", "embedding", nCells = 8, ix)
    Ann.ivfIndexAppend(emb.filter(col("vec_id") >= 4 && col("vec_id") < 100),
      "vec_id", "embedding", ix)
    val q = emb.filter(col("vec_id") < 4)
    val fromIndex = Ann.ivfTopKFromIndex(q, "vec_id", "embedding", ix, 3, 2)
      .select("qid", "vid", "rank").as[(Long, Long, Int)].collect().toSet
    // recompute: same centroids (seeded from the build slice), same
    // corpus content (build + delta), no storage round-trip
    val cents = Ann.kmeansCentroids( // seed-only: 0 iterations = first-N
      emb.filter(col("vec_id") >= 100), "vec_id", "embedding", 8, iters = 0)
    val recomputed = Ann.ivfTopKWithCentroids(q,
        emb.filter(col("vec_id") >= 4), "vec_id", "embedding", 3, cents, 2)
      .select("qid", "vid", "rank").as[(Long, Long, Int)].collect().toSet
    assert(fromIndex == recomputed)
    // append touched nothing that existed: the build-slice rows are
    // byte-identical before and after the delta append
    val cells = spark.read.parquet(s"${Ann.ivfRoot(ix)}/assigned")
    assert(cells.filter(col("vid") >= 100).count() ==
      emb.filter(col("vec_id") >= 100).count())
    // the index is cell-partitioned: a one-cell probe is a
    // partition-pruned read (only that cell's directory is listed)
    val oneCell = cells.filter(col("cell") === 0)
    val scanned = oneCell.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(scanned.nonEmpty && scanned.forall(_.contains("cell=0")),
      s"cell probe must read only cell=0 files, got ${scanned.toSeq}")
  }

  test("persisted band index: delta append == one-shot admission; old files untouched") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val ix = Scratch.dir("band_ix")
    Dedup.bandIndexBuild(docs.filter(col("doc_id") >= 30),
      "doc_id", "text", 3, ix)
    def bandFiles(): Set[String] =
      spark.read.parquet(s"$ix/bands").select(input_file_name())
        .distinct().collect().map(_.getString(0)).toSet
    val before = bandFiles()
    Dedup.bandIndexAppend(
      docs.filter(col("doc_id") >= 15 && col("doc_id") < 30),
      "doc_id", "text", 3, ix)
    // append is file-additive: every pre-append file survives unchanged
    assert(before.subsetOf(bandFiles()),
      "delta append must not rewrite existing band files")
    val probe = docs.filter(col("doc_id") < 15)
    val fromIndex = Dedup.bandIndexProbe(probe, "doc_id", "text", 3, ix, 0.5)
      .select("in_doc", "corpus_doc").as[(Long, Long)].collect().toSet
    // an index grown by appends answers exactly like the direct
    // (recompute-everything) admission over the same corpus — MinHash
    // has no trained state, so there is nothing to drift
    val direct = Dedup.corpusAdmission(probe,
        docs.filter(col("doc_id") >= 15), "doc_id", "text", 3, 0.5)
      .select("in_doc", "corpus_doc").as[(Long, Long)].collect().toSet
    assert(fromIndex == direct)
  }

  test("band index: batch build then streaming ingest share one layout; probe reads both") {
    // the natural production flow — build the index once in batch,
    // then grow it with streaming micro-batches — used to die in
    // partition discovery ("conflicting directory structures") because
    // the two write paths parked at different partition depths
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val ix = Scratch.dir("bi_mix")
    Dedup.bandIndexBuild(docs.filter(col("doc_id") >= 30),
      "doc_id", "text", 3, ix)
    Dedup.bandIndexIngestBatch(
      docs.filter(col("doc_id") >= 15 && col("doc_id") < 30),
      "doc_id", "text", 3, ix, batchId = 0L)
    val probe = docs.filter(col("doc_id") < 15)
    val mixed = Dedup.bandIndexProbe(probe, "doc_id", "text", 3, ix, 0.5)
      .select("in_doc", "corpus_doc").as[(Long, Long)].collect().toSet
    val direct = Dedup.corpusAdmission(probe,
        docs.filter(col("doc_id") >= 15), "doc_id", "text", 3, 0.5)
      .select("in_doc", "corpus_doc").as[(Long, Long)].collect().toSet
    assert(mixed == direct,
      "a batch-built index grown by streaming ingest must answer like a one-shot build")
    // a streaming batch id may never collide with the reserved batch slot
    intercept[IllegalArgumentException] {
      Dedup.bandIndexIngestBatch(probe, "doc_id", "text", 3, ix, batchId = -1L)
    }
  }

  test("fused ingest+probe equals the unfused ingest-then-probe pair") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val base = docs.filter(col("doc_id") >= 100)
    val batch = docs.filter(col("doc_id") < 100)
    // unfused reference: ingest, then probe the (self-inclusive) index
    val ixA = Scratch.dir("fuse_a")
    Dedup.bandIndexBuild(base, "doc_id", "text", 3, ixA)
    Dedup.bandIndexIngestBatch(batch, "doc_id", "text", 3, ixA, 0L)
    val unfused = Dedup.bandIndexProbe(batch, "doc_id", "text", 3, ixA, 0.5)
      .select("in_doc", "corpus_doc", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    // fused: one signature pass, same writes, same probe body
    val ixB = Scratch.dir("fuse_b")
    Dedup.bandIndexBuild(base, "doc_id", "text", 3, ixB)
    val fused = Dedup.bandIndexIngestProbeBatch(batch, "doc_id", "text",
        3, ixB, 0L, 0.5)
      .select("in_doc", "corpus_doc", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(fused == unfused)
    // and the index the fused call left behind answers identically
    val probe2 = Dedup.bandIndexProbe(docs.filter(col("doc_id") < 20),
      "doc_id", "text", 3, ixB, 0.5)
    val probe2A = Dedup.bandIndexProbe(docs.filter(col("doc_id") < 20),
      "doc_id", "text", 3, ixA, 0.5)
    assert(probe2.exceptAll(probe2A).isEmpty &&
      probe2A.exceptAll(probe2).isEmpty)
    // reserved-slot guard carried over
    intercept[IllegalArgumentException] {
      Dedup.bandIndexIngestProbeBatch(batch, "doc_id", "text", 3, ixB,
        -1L, 0.5)
    }
  }

  test("async label fold: durable queue recovery folds unmarked partitions exactly once") {
    val dir = Scratch.dir("lblq")
    // seed a labels table from an initial edge set
    Dedup.labelsMerge(s"$dir/labels", Seq((1L, 2L), (3L, 4L)).toDF("a", "b"),
      "a", "b", nBuckets = 4)
    // a crash after batch commit left one queue partition written but
    // unfolded (no _MERGED marker) — the window the durable queue
    // exists to cover
    Seq((2L, 3L)).toDF("a", "b")
      .write.parquet(s"$dir/labels_queue/batch=7")
    assert(graft.streaming.StreamingJob
      .recoverPendingLabelMerges(spark, dir, 4) == 1)
    val lab = spark.read.parquet(s"$dir/labels")
      .select("doc", "component").as[(Long, Long)].collect().toMap
    // the bridging edge merged both components down to min-id 1
    assert(lab == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // marker written -> recovery is now a no-op; labels unchanged
    assert(graft.streaming.StreamingJob
      .recoverPendingLabelMerges(spark, dir, 4) == 0)
    assert(new java.io.File(s"$dir/labels_queue/batch=7/_MERGED").exists())
    // a torn partition (crash mid-write: no _SUCCESS) is skipped, not
    // folded and not an error — its batch never committed and will be
    // redelivered over it
    val torn = new java.io.File(s"$dir/labels_queue/batch=9")
    torn.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(torn.getPath, "part-torn.parquet"), "junk")
    assert(graft.streaming.StreamingJob
      .recoverPendingLabelMerges(spark, dir, 4) == 0)
  }

  test("keeper fold crash windows: committed-unfolded batch recovers, " +
    "torn batch is skipped, marker loss refolds to the same bytes") {
    val dir = Scratch.dir("kpq")
    // queue wire format = what streamKeeperMaintenance's trigger
    // commits: ONE union-schema parquet per batch (edge rows carry
    // null doc/q; delta rows null a/b), _SUCCESS from the committer
    def queueBatch(name: String, edges: Seq[(Long, Long)],
                   delta: Seq[(Long, Double)]): Unit =
      edges.map { case (a, b) =>
        (Option(a), Option(b), Option.empty[Long], Option.empty[Double])
      }.toDF("a", "b", "doc", "q").unionByName(
        delta.map { case (d, q) =>
          (Option.empty[Long], Option.empty[Long], Option(d), Option(q))
        }.toDF("a", "b", "doc", "q"))
        .write.mode("overwrite").parquet(s"$dir/queue/$name")
    def keepers: Set[(Long, Long, Double, Long)] =
      spark.read.parquet(s"$dir/cur/keepers")
        .select(col("component"), col("keeper"), col("keeper_q"),
          col("n_members"))
        .as[(Long, Long, Double, Long)].collect().toSet
    // CRASH WINDOW 1 — between queue commit and the fold: the batch
    // sits committed (_SUCCESS) and unmarked; recovery must fold it
    queueBatch("b0", Seq((1L, 2L)), Seq((1L, 0.5), (2L, 0.9), (7L, 0.6)))
    assert(graft.streaming.StreamingJob
      .recoverPendingKeeperMerges(spark, dir, 4) == 1)
    val afterB0 = Set((1L, 2L, 0.9, 2L), (7L, 7L, 0.6, 1L))
    assert(keepers == afterB0, s"recovered fold: $keepers")
    assert(new java.io.File(s"$dir/queue/b0/_MERGED").exists())
    // marked -> recovery is a no-op
    assert(graft.streaming.StreamingJob
      .recoverPendingKeeperMerges(spark, dir, 4) == 0)
    // CRASH WINDOW 2 — mid queue write: a torn batch (no _SUCCESS)
    // never committed in the stream either; recovery must skip it,
    // not fold junk and not throw
    val torn = new java.io.File(s"$dir/queue/b1")
    torn.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(torn.getPath, "part-torn.parquet"), "junk")
    assert(graft.streaming.StreamingJob
      .recoverPendingKeeperMerges(spark, dir, 4) == 0)
    assert(keepers == afterB0, s"torn batch must not change state: $keepers")
    // CRASH WINDOW 3 — between the merge landing and _MERGED: the
    // batch's contents are already in the tables but the marker is
    // gone; the refold must land byte-identical state (curationMerge
    // recomputes touched components from member rows — the fixpoint)
    assert(new java.io.File(s"$dir/queue/b0/_MERGED").delete())
    assert(graft.streaming.StreamingJob
      .recoverPendingKeeperMerges(spark, dir, 4) == 1)
    assert(keepers == afterB0, s"refold must be a fixpoint: $keepers")
    // and the recovered state keeps folding like live state: a second
    // batch bridging 5-7 moves the component id down to 5
    queueBatch("b2", Seq((5L, 7L)), Seq((5L, 0.1)))
    assert(graft.streaming.StreamingJob
      .recoverPendingKeeperMerges(spark, dir, 4) == 1)
    assert(keepers == Set((1L, 2L, 0.9, 2L), (5L, 7L, 0.6, 2L)),
      s"post-recovery fold: $keepers")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("annJoinTop1: probing all cells equals the exact nearest right neighbor") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val left = emb.filter(col("vec_id") < 40)
    val right = emb.filter(col("vec_id") >= 40)
    // nProbe == nCells -> candidates are the whole right side -> exact
    val joined = Ann.annJoinTop1(left, right, "vec_id", "embedding",
        nCells = 8, nProbe = 8)
      .select("lid", "rid").as[(Long, Long)].collect().toMap
    val exact = Ann.bruteForceTopK(left, right, "vec_id", "embedding", 1)
      .select("qid", "vid").as[(Long, Long)].collect().toMap
    assert(joined == exact)
    // restricted probing still answers every left row (total join)
    val probed = Ann.annJoinTop1(left, right, "vec_id", "embedding",
      nCells = 8, nProbe = 2)
    assert(probed.count() == left.count())
  }

  test("annJoinTop1 totality: empty right side -> one NULL-match row per left row") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val left = emb.filter(col("vec_id") < 40)
    val right = emb.filter(col("vec_id") < 0) // empty: every probed cell empty
    val rows = Ann.annJoinTop1(left, right, "vec_id", "embedding",
      nCells = 8, nProbe = 2).collect()
    assert(rows.length == left.count(),
      "annJoinTop1 must stay total when no candidates exist")
    assert(rows.forall(r => r.isNullAt(1) && r.isNullAt(2)),
      "no-candidate left rows must surface as NULL matches, not vanish")
  }

  test("annJoinTopK: all-cell probing equals brute-force top-k; TopK node in plan") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val left = emb.filter(col("vec_id") < 40)
    val right = emb.filter(col("vec_id") >= 40)
    val joined = Ann.annJoinTopK(left, right, "vec_id", "embedding", k = 3,
      nCells = 8, nProbe = 8)
    assert(joined.queryExecution.optimizedPlan.toString.contains("TopKNode"),
      "the per-left cut must run on the native TopK operator")
    val got = joined.select("lid", "rid", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val exact = Ann.bruteForceTopK(left, right, "vec_id", "embedding", 3)
      .select("qid", "vid", "rank").as[(Long, Long, Int)].collect().toSet
    assert(got == exact)
  }

  test("ivfTopK: probing all cells equals brute force; fewer probes trade recall") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 4)
    val exact = Ann.bruteForceTopK(q, emb, "vec_id", "embedding", 3)
      .select("qid", "vid").as[(Long, Long)].collect().toSet
    // nProbe == nCentroids -> candidate set is the whole corpus -> exact
    val full = Ann.ivfTopK(q, emb, "vec_id", "embedding", 3,
      nCentroids = 8, nProbe = 8)
      .select("qid", "vid").as[(Long, Long)].collect().toSet
    assert(full == exact)
    val probed = Ann.ivfTopK(q, emb, "vec_id", "embedding", 3,
      nCentroids = 8, nProbe = 4)
      .select("qid", "vid").as[(Long, Long)].collect().toSet
    val recall = (exact & probed).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("kmeans refinement: spherical objective non-decreasing; recall sane") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // Σ max-cosine over unit vectors must not decrease across Lloyd
    // iterations (centroid update is the exact spherical maximizer)
    def objective(cents: Seq[Seq[Double]]): Double = {
      val cl = cents.map(c => {
        val n = math.sqrt(c.map(x => x * x).sum); c.map(_ / n)
      })
      emb.select(col("embedding").cast("array<double>").as("v"))
        .collect().map { r =>
          val v = r.getSeq[Double](0)
          val n = math.sqrt(v.map(x => x * x).sum)
          cl.map(c => c.zip(v).map { case (a, b) => a * b }.sum / n).max
        }.sum
    }
    val obj = (0 to 2).map(it =>
      objective(Ann.kmeansCentroids(emb, "vec_id", "embedding", 8, it)))
    assert(obj(1) >= obj(0) - 1e-9 && obj(2) >= obj(1) - 1e-9,
      s"objective not monotone: $obj")

    val q = emb.filter(col("vec_id") < 4)
    val exact = Ann.bruteForceTopK(q, emb, "vec_id", "embedding", 3)
      .select("qid", "vid").as[(Long, Long)].collect().toSet
    val refined = Ann.ivfKmeansTopK(q, emb, "vec_id", "embedding", 3,
      nCentroids = 8, nProbe = 4, iters = 2)
      .select("qid", "vid").as[(Long, Long)].collect().toSet
    val recall = (exact & refined).size.toDouble / exact.size
    assert(recall >= 0.5, s"refined recall $recall too low")
    // contract shape: k rows per query, rank 1..k
    assert(refined.size == exact.size)
  }

  test("lshTopK achieves full recall on sf0.001 embeddings (k=3)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 4)
    val exact = Ann.bruteForceTopK(q, emb, "vec_id", "embedding", 3)
      .select("qid", "vid").as[(Long, Long)].collect().toSet
    val approx = Ann.lshTopK(q, emb, "vec_id", "embedding", 3)
      .select("qid", "vid").as[(Long, Long)].collect().toSet
    // recall over 12 truth pairs; sign-LSH on near-random vectors is
    // approximate - require a sane floor rather than exactness
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("containmentPairs: embedded doc found sub→super, not super→sub") {
    val docs = Seq(
      (1L, "a b c d e"),            // 3 trigrams, all inside doc 2
      (2L, "a b c d e f g h"),      // 6 trigrams
      (3L, "z y x w v u")           // unrelated
    ).toDF("doc_id", "text")
    val got = graft.dedup.Dedup
      .containmentPairs(docs, "doc_id", "text", 3, 0.9)
      .as[(Long, Long, Double)].collect().toSet
    // C(1→2) = 3/3 = 1.0 reported; C(2→1) = 3/6 = 0.5 and anything
    // with doc 3 stays below threshold
    assert(got == Set((1L, 2L, 1.0)), s"got $got")
  }

  test("pipeline_curation keeps exactly one doc per dup cluster") {
    val dir = "/root/testdata/sf0.01"
    val kept = Tables.documents(spark, dir)
      .filter(graft.text.Text.qualityScore(col("text")) >= 0.45)
    val comp = graft.dedup.Dedup.connectedComponents(
      graft.dedup.Dedup.jaccardPairs(kept, "doc_id", "text", 3, 0.8),
      "doc_a", "doc_b")
    val graphDocs = comp.count()
    val clusters = comp.select("component").distinct().count()
    assert(graphDocs > clusters, "test needs real dup clusters")
    val keepers = graft.dedup.DedupQueries
      .queries("pipeline_curation")(spark, dir)
      .agg(sum(col("n_docs"))).collect()(0).getLong(0)
    // every clustered doc collapses to its component keeper; every
    // unclustered doc survives
    assert(keepers == kept.count() - (graphDocs - clusters),
      s"keepers $keepers, kept ${kept.count()}, graph $graphDocs/$clusters")
  }

  test("decontaminate: only cross-split (train,test) 13-gram pairs") {
    // Knuth bucket (id·2654435761) mod 100 = (id·61) mod 100:
    // id 1 → 61 (train), 2 → 22 (train), 3 → 83 (val: NEITHER side),
    // 90 → 90 (test)
    val gram = (1 to 13).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"$gram extraA"),  // train; 2 distinct 13-grams, shares 1
      (2L, s"$gram extraA"),  // train; identical (train-train ignored)
      (3L, s"$gram extraC"),  // val bucket: appears on NO side
      (90L, s"$gram extraB")  // test
    ).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.decontaminate(docs, "doc_id", "text", 13)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 90L, 1L), (2L, 90L, 1L)),
      s"expected exactly the two train→test pairs, got $got")
    // boilerplate masking: the shared gram lives in 4 docs, so a
    // maxDf=3 cap masks it and no contamination remains
    val masked = graft.dedup.Dedup
      .decontaminate(docs, "doc_id", "text", 13, maxDf = Some(3))
      .count()
    assert(masked == 0, "df-capped gram must be masked from the join")
    // a cap ABOVE the df changes nothing
    val loose = graft.dedup.Dedup
      .decontaminate(docs, "doc_id", "text", 13, maxDf = Some(4))
      .as[(Long, Long, Long)].collect().toSet
    assert(loose == got)
  }

  test("pqTopK exactness limit: k = corpus size makes ADC exact L2") {
    // every vector is its own codeword -> zero quantization error ->
    // ADC distance IS the exact squared L2 distance
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 12L).map(i =>
      (i, Seq.fill(8)(rnd.nextDouble().toFloat)))
    val emb = vecs.toDF("vec_id", "embedding")
    val got = Ann.pqTopK(emb.filter(col("vec_id") < 3), emb,
      "vec_id", "embedding", 4, m = 2, k = 12)
      .select("qid", "vid", "rank").as[(Long, Long, Int)].collect().toSet
    // exact L2 ranking (same round-6 + id tiebreak contract)
    val model = for {
      (qi, qv) <- vecs.take(3)
      ranked = vecs.filter(_._1 != qi).map { case (ci, cv) =>
        val d = qv.zip(cv).map { case (a, b) =>
          val x = a.toDouble - b.toDouble; x * x
        }.sum
        (ci, math.rint(d * 1e6) / 1e6)
      }.sortBy { case (ci, d) => (d, ci) }.take(4)
      ((ci, _), r) <- ranked.zipWithIndex
    } yield (qi, ci, r + 1)
    assert(got == model.toSet, s"ADC must equal exact L2 at k=n:\n$got")
  }

  test("pqTopK recall vs exact L2 top-k on real embeddings") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 6)
    val pq = Ann.pqTopK(q, emb, "vec_id", "embedding", 5)
      .select("qid", "vid").as[(Long, Long)].collect().toSet
    // exact squared-L2 top-5 (PQ approximates L2, not cosine)
    val d = Ann.dot(col("qv"), col("qv")) - lit(2.0) *
      Ann.dot(col("qv"), col("v")) + Ann.dot(col("v"), col("v"))
    val qp = q.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qv"))
    val cp = emb.select(col("vec_id").as("vid"),
      col("embedding").cast("array<double>").as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("d").asc, col("vid").asc)
    val exact = cp.join(broadcast(qp), col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"), round(d, 6).as("d"))
      .withColumn("r", row_number().over(w)).filter(col("r") <= 5)
      .select("qid", "vid").as[(Long, Long)].collect().toSet
    val recall = (exact & pq).size.toDouble / exact.size
    // first-N seeding is the oracle-replayable BASELINE codebook (no
    // training); its recall is modest by construction. The PRODUCT
    // structure is what carries it: m=4 subspaces give 16^4 effective
    // cells vs plain vector quantization's 16 (m=1), which collapses
    // every query to its codeword's neighborhood.
    def recallAt(m: Int): Double = {
      val r = Ann.pqTopK(q, emb, "vec_id", "embedding", 5, m = m)
        .select("qid", "vid").as[(Long, Long)].collect().toSet
      (exact & r).size.toDouble / exact.size
    }
    val recallVq = recallAt(1)
    val recall8 = recallAt(8)
    info(s"recall@5: m=1 -> $recallVq, m=4 -> $recall, m=8 -> $recall8")
    assert(recall >= 0.15, s"PQ recall $recall below floor")
    assert(recall > recallVq,
      s"product grid must beat plain VQ: $recall <= $recallVq")
    assert(pq.size == exact.size, "k rows per query")
  }

  test("ivfPqTopK: probing all cells reduces to pure PQ") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 4)
    val pure = Ann.pqTopK(q, emb, "vec_id", "embedding", 3, m = 4, k = 8)
      .select("qid", "vid", "rank").as[(Long, Long, Int)].collect().toSet
    val full = Ann.ivfPqTopK(q, emb, "vec_id", "embedding", 3,
      nCentroids = 8, nProbe = 8, m = 4, k = 8)
      .select("qid", "vid", "rank").as[(Long, Long, Int)].collect().toSet
    assert(full == pure,
      "full-probe IVF-PQ must rank the whole corpus exactly like PQ")
    // fewer probes: a subset of candidates, so every returned rank-1
    // result must also appear in pure PQ's candidate ranking order
    val probed = Ann.ivfPqTopK(q, emb, "vec_id", "embedding", 3,
      nCentroids = 8, nProbe = 4, m = 4, k = 8)
      .select("qid", "vid").as[(Long, Long)].collect().toSet
    assert(probed.nonEmpty && probed.size <= pure.size)
  }

  test("knnGraphClusters: mutual-kNN components, singletons, min-id reps") {
    // one cell (candidates = all pairs): two tight clusters + an
    // isolated vector; every pairwise cosine hand-checkable
    val emb = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.99, 0.14)),
      (3L, Array(0.96, 0.28)),                        // cluster {1,2,3}
      (4L, Array(0.0, 1.0)), (5L, Array(0.1, 0.995)), // cluster {4,5}
      (6L, Array(-1.0, 0.1))                          // singleton
    ).toDF("vec_id", "embedding")
    val got = Ann.knnGraphClusters(emb, "vec_id", "embedding", k = 2,
        threshold = 0.9, nCells = 1, nProbe = 1)
      .as[(Long, Long, Boolean)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(got == Map(1L -> (1L, true), 2L -> (1L, false), 3L -> (1L, false),
      4L -> (4L, true), 5L -> (4L, false), 6L -> (6L, true)),
      s"unexpected clustering: $got")
  }

  test("mutualKnnEdges plan: native TopK cut, no cartesian product") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val plan = Ann.mutualKnnEdges(emb, "vec_id", "embedding", k = 3,
      threshold = 0.35).queryExecution.optimizedPlan.toString
    assert(plan.contains("TopKNode"),
      "the kNN cut must run on the native TopK operator")
    assert(!plan.contains("Cartesian") && !plan.contains("cartesian"),
      "the edge stream must never plan an all-pairs product")
  }

  test("componentsAppend: bridge merge, extension, new cluster, untouched pass-through") {
    // bridge merging {1,2,3} with {10,11}; extension of {20,21} by a
    // new doc; a brand-new delta-only cluster; {40,41} untouched
    val allOld = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (40L, 41L))
      .toDF("a", "b")
    val labelsAll = Dedup.connectedComponents(allOld, "a", "b")
    val newEdges = Seq((3L, 10L), (21L, 22L), (30L, 31L)).toDF("a", "b")
    val got = Dedup.componentsAppend(labelsAll, newEdges, "a", "b")
      .as[(Long, Long)].collect().toSet
    val scratch = Dedup.connectedComponents(allOld.union(newEdges), "a", "b")
      .as[(Long, Long)].collect().toSet
    assert(got == scratch, s"incremental $got != scratch $scratch")
    assert(got == Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 30L -> 30L, 31L -> 30L,
      40L -> 40L, 41L -> 40L))
  }

  test("canonicalAppend: incremental keeper table equals the scratch argmax") {
    import org.apache.spark.sql.DataFrame
    // scratch reference = the shared production aggregate over the
    // full corpus (the fold under test is the INCREMENTAL path; the
    // aggregate itself is pinned independently by the DuckDB oracle)
    def canonical(docs: DataFrame, labels: DataFrame): DataFrame =
      Dedup.canonicalTable(docs, labels, "doc_id", "q")
    // old corpus: cluster {1,2} (keeper 2, q .9), cluster {3,4} (tie
    // at .7 -> keeper 3), singletons 5 (q .95) and 6 (q .2), and an
    // untouched cluster {20,21}
    val oldDocs = Seq((1L, 0.5), (2L, 0.9), (3L, 0.7), (4L, 0.7),
      (5L, 0.95), (6L, 0.2), (20L, 0.3), (21L, 0.8)).toDF("doc_id", "q")
    val oldEdges = Seq((1L, 2L), (3L, 4L), (20L, 21L)).toDF("a", "b")
    val oldLabels = Dedup.connectedComponents(oldEdges, "a", "b")
    // delta: 7 bridges {1,2} and {3,4} and outscores both keepers;
    // 8 absorbs old singleton 5 but loses to it; {9,10} is a
    // delta-only cluster; 11 arrives edgeless (new singleton)
    val deltaDocs = Seq((7L, 0.99), (8L, 0.1), (9L, 0.6), (10L, 0.4),
      (11L, 0.55)).toDF("doc_id", "q")
    val newEdges = Seq((7L, 2L), (7L, 3L), (8L, 5L), (9L, 10L))
      .toDF("a", "b")
    val got = Dedup.canonicalAppend(canonical(oldDocs, oldLabels),
        oldLabels, deltaDocs, "doc_id", "q", newEdges, "a", "b")
      .as[(Long, Long, Double, Long)].collect().toSet
    val scratch = canonical(oldDocs.union(deltaDocs),
        Dedup.connectedComponents(oldEdges.union(newEdges), "a", "b"))
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got == scratch, s"incremental $got != scratch $scratch")
    // spot-pin the interesting rows: merged bridge keeper is the delta
    // doc; the absorbed singleton keeps its (higher-q) old keeper; the
    // untouched cluster and singleton pass through byte-equal
    assert(got.contains((1L, 7L, 0.99, 5L)), s"bridge merge wrong: $got")
    assert(got.contains((5L, 5L, 0.95, 2L)), s"absorption wrong: $got")
    assert(got.contains((20L, 21L, 0.8, 2L)), s"untouched cluster: $got")
    assert(got.contains((6L, 6L, 0.2, 1L)) && got.contains((11L, 11L, 0.55, 1L)),
      s"singletons: $got")
  }

  test("canonicalAppend misuse: refolding a delta diverges (the EXACTLY-ONCE " +
    "contract is load-bearing; curationMerge is the at-least-once door)") {
    import org.apache.spark.sql.DataFrame
    // Pin the documented failure mode rather than leave it prose-only:
    // the fold is over stored argmax STRUCTS, so a replayed batch
    // double-counts n_members — the exact divergence the scaladoc
    // contract warns about, and the reason at-least-once callers must
    // use curationMerge (whose fixpoint is spec-pinned elsewhere).
    def canonical(docs: DataFrame, labels: DataFrame): DataFrame =
      Dedup.canonicalTable(docs, labels, "doc_id", "q")
    val oldDocs = Seq((1L, 0.5), (2L, 0.9)).toDF("doc_id", "q")
    val oldEdges = Seq((1L, 2L)).toDF("a", "b")
    val oldLabels = Dedup.connectedComponents(oldEdges, "a", "b")
    val deltaDocs = Seq((3L, 0.8)).toDF("doc_id", "q")
    val newEdges = Seq((3L, 1L)).toDF("a", "b")
    val once = Dedup.canonicalAppend(canonical(oldDocs, oldLabels),
      oldLabels, deltaDocs, "doc_id", "q", newEdges, "a", "b")
    val scratch = canonical(oldDocs.union(deltaDocs),
        Dedup.connectedComponents(oldEdges.union(newEdges), "a", "b"))
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(once.as[(Long, Long, Double, Long)].collect().toSet == scratch)
    // the misuse: fold the SAME delta into the already-folded keepers.
    // The grown labeling absorbs the duplicate edges (components are a
    // fixpoint), but the keeper census is not: {1,2,3} reports 4
    // members after the double fold — silently wrong, never failing.
    val twice = Dedup.canonicalAppend(once,
        Dedup.connectedComponents(oldEdges.union(newEdges), "a", "b"),
        deltaDocs, "doc_id", "q", newEdges, "a", "b")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(twice != scratch, "double fold must diverge — if this ever " +
      "becomes a fixpoint, retire canonicalAppend's EXACTLY-ONCE caveat")
    assert(twice.exists { case (_, _, _, n) => n == 4L },
      s"expected the replayed delta to double-count members: $twice")
  }

  test("label maintenance drained labeling is invariant to trigger chunking") {
    // the r9 filesPerTrigger=2 default rests on this: the labeling is
    // a pure function of the union edge set, so 1-file and 2-file
    // cadences (4 vs 2 micro-batches) must drain byte-identical, and
    // both must equal the scratch connected-components recompute
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val two = graft.streaming.StreamingJob.streamLabelMaintenance(
      docs, "doc_id", "text", n = 3, threshold = 0.8,
      Scratch.dir("s18_c2"))
    val one = graft.streaming.StreamingJob.streamLabelMaintenance(
      docs, "doc_id", "text", n = 3, threshold = 0.8,
      Scratch.dir("s18_c1"), filesPerTrigger = 1)
    val scratch = Dedup.connectedComponents(
      Dedup.minhashLshPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.8), "doc_a", "doc_b")
      .select(col("doc"), col("component"))
    assert(one.exceptAll(two).isEmpty && two.exceptAll(one).isEmpty,
      "drained labeling must not depend on micro-batch chunking")
    assert(two.exceptAll(scratch).isEmpty && scratch.exceptAll(two).isEmpty,
      "drained labeling must equal the scratch recompute")
  }

  test("labelsMerge: only affected buckets rewritten; redelivery is a fixpoint") {
    val dir = Scratch.dir("labels_spec")
    // nBuckets=4: cluster {1,2} lives in buckets 1,2; cluster {40,44}
    // entirely in bucket 0 — disjoint from anything the second merge
    // touches
    Dedup.labelsMerge(dir, Seq((1L, 2L), (40L, 44L)).toDF("a", "b"),
      "a", "b", nBuckets = 4)
    def bucket0Files: Map[String, Long] =
      new java.io.File(s"$dir/bucket=0").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val before = bucket0Files
    // extend {1,2} with docs 3 and 5 (buckets 3 and 1): bucket 0 must
    // not be rewritten
    val delta = Seq((2L, 3L), (3L, 5L)).toDF("a", "b")
    Dedup.labelsMerge(dir, delta, "a", "b", nBuckets = 4)
    assert(bucket0Files == before,
      "untouched bucket files must be byte-identical after a merge")
    def labels: Set[(Long, Long)] =
      spark.read.parquet(dir).select(col("doc"), col("component"))
        .as[(Long, Long)].collect().toSet
    val expected = Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L,
      40L -> 40L, 44L -> 40L)
    assert(labels == expected, s"merged labeling wrong: $labels")
    // at-least-once redelivery of the same delta: same fixpoint
    Dedup.labelsMerge(dir, delta, "a", "b", nBuckets = 4)
    assert(labels == expected, "duplicate edge redelivery must not change labels")
  }

  test("curationMerge: keeper rows move buckets on merge, untouched " +
    "buckets stay byte-identical, redelivery is a fixpoint") {
    val dir = Scratch.dir("curation_spec")
    def merge(edges: Seq[(Long, Long)], delta: Seq[(Long, Double)]): Unit =
      Dedup.curationMerge(dir, edges.toDF("a", "b"), delta.toDF("doc", "q"),
        "doc", "q", "a", "b", nBuckets = 4)
    def keepers: Set[(Long, Long, Double, Long)] =
      spark.read.parquet(s"$dir/keepers")
        .select(col("component"), col("keeper"), col("keeper_q"),
          col("n_members"))
        .as[(Long, Long, Double, Long)].collect().toSet
    // batch 1: clusters {1,2} and {40,44}, singleton 7 (no edge)
    merge(Seq((1L, 2L), (40L, 44L)),
      Seq((1L, 0.5), (2L, 0.9), (40L, 0.3), (44L, 0.7), (7L, 0.6)))
    assert(keepers == Set((1L, 2L, 0.9, 2L), (40L, 44L, 0.7, 2L),
      (7L, 7L, 0.6, 1L)), s"batch 1: $keepers")
    def bucket0Files: Map[String, Long] =
      new java.io.File(s"$dir/keepers/bucket=0").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val before = bucket0Files
    // batch 2: 3 (q .95) extends {1,2} and takes the keeper slot;
    // component 40's row lives in keeper bucket 0, untouched
    merge(Seq((2L, 3L)), Seq((3L, 0.95)))
    assert(bucket0Files == before,
      "untouched keeper bucket files must be byte-identical")
    assert(keepers == Set((1L, 3L, 0.95, 3L), (40L, 44L, 0.7, 2L),
      (7L, 7L, 0.6, 1L)), s"batch 2: $keepers")
    // batch 3: 5 (q .1) links old singleton 7 — the component id drops
    // to 5, so the row MOVES from keeper bucket 3 to bucket 1 and the
    // stale component-7 row must vanish; 7 stays keeper (higher q)
    merge(Seq((5L, 7L)), Seq((5L, 0.1)))
    val after3 = Set((1L, 3L, 0.95, 3L), (40L, 44L, 0.7, 2L),
      (5L, 7L, 0.6, 2L))
    assert(keepers == after3, s"batch 3: $keepers")
    // at-least-once: replaying batch 3 rewrites the same contents
    merge(Seq((5L, 7L)), Seq((5L, 0.1)))
    assert(keepers == after3, s"redelivery must be a fixpoint: $keepers")
  }

  test("curationMerge: an empty delta batch does not poison the tables") {
    // a restarted stream can deliver an empty micro-batch FIRST: its
    // merge commits state/keepers dirs holding only _SUCCESS, and the
    // next merge's reads must treat them as zero rows, not throw
    // schema-inference errors (explicit-schema reads, probed live)
    val dir = Scratch.dir("empty_spec")
    def merge(edges: Seq[(Long, Long)], delta: Seq[(Long, Double)]): Unit =
      Dedup.curationMerge(dir, edges.toDF("a", "b"), delta.toDF("doc", "q"),
        "doc", "q", "a", "b", nBuckets = 4)
    merge(Seq.empty, Seq.empty)
    merge(Seq((1L, 2L)), Seq((1L, 0.5), (2L, 0.9)))
    val got = spark.read.parquet(s"$dir/keepers")
      .select(col("component"), col("keeper"), col("keeper_q"),
        col("n_members"))
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got == Set((1L, 2L, 0.9, 2L)), s"after empty-first merges: $got")
  }

  test("IVF probe cell ranking: centroid-table join ≡ plan literal past the literal bound") {
    // r10: above CentroidLiteralMax the probe's cell ranking moves
    // from a plan literal (analyzed plan grows with nCells, re-paid
    // every trigger) to a broadcast join against the centroid table.
    // Both strategies compute the identical sim expression and the
    // identical (sim DESC, idx DESC) tie-break, so the ranked probe
    // sets must be equal — including on exact ties (duplicate
    // centroids below) and at a 300-cell count that actually takes
    // the join path in production
    val dim = 6
    def v(seed: Int): Seq[Double] =
      (0 until dim).map(d => ((seed * 31 + d * 17) % 97 + 1) / 97.0)
    val cents: Seq[Seq[Double]] =
      (0 until 300).map(i => if (i == 250) v(7) else v(i)) // 250 dups 7
    val qPrep = (0 until 40)
      .map { i =>
        val q = v(i * 3 + 1)
        (i.toLong, q, math.sqrt(q.map(x => x * x).sum))
      }
      .toDF("vid", "v", "nrm")
    def cellsOf(viaJoin: Boolean): Map[Long, Seq[Int]] =
      Ann.queryProbes(qPrep, cents, nProbe = 4, viaJoin = viaJoin)
        .select(col("qid"), col("cell"))
        .as[(Long, Int)].collect().groupBy(_._1)
        .map { case (q, cs) => q -> cs.map(_._2).toSeq.sorted }
    val lit = cellsOf(viaJoin = false)
    val jn = cellsOf(viaJoin = true)
    assert(lit.values.forall(_.size == 4), s"literal ranking degenerate")
    assert(lit == jn,
      s"strategies diverge: ${lit.toSeq.diff(jn.toSeq).take(3)}")
    // and end-to-end through the stored index: a 300-cell build takes
    // the join path inside ivfTopKFromIndex; ranks stay well-formed
    // and the pruned probe returns the identical rows
    val emb = (0 until 640)
      .map(i => (i.toLong, v(i * 5 + 3).toArray)).toDF("vec_id", "embedding")
    val ix = Scratch.dir("spec_bigcells_ix")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ix))
    Ann.ivfIndexBuild(emb.filter(col("vec_id") >= 40), "vec_id",
      "embedding", nCells = 300, ix)
    val q40 = emb.filter(col("vec_id") < 40)
    val plain = Ann.ivfTopKFromIndex(q40, "vec_id", "embedding", ix,
      k = 3, nProbe = 4)
    val pruned = Ann.ivfTopKFromIndex(q40, "vec_id", "embedding", ix,
      k = 3, nProbe = 4, pruneCells = true)
    assert(plain.exceptAll(pruned).isEmpty && pruned.exceptAll(plain).isEmpty,
      "static cell pruning must not change probe results")
  }

  test("knnGraphClusters: a one-directional edge never links (mutuality)") {
    // k=1: p1<->p2 are mutual nearest; q's nearest is p2 (cos≈0.954,
    // over threshold) but p2's single slot holds p1 — the asymmetric
    // edge must NOT chain q into the cluster
    val emb = Seq(
      (10L, Array(1.0, 0.0)), (11L, Array(0.995, 0.0999)),
      (12L, Array(0.92, 0.392))
    ).toDF("vec_id", "embedding")
    val got = Ann.knnGraphClusters(emb, "vec_id", "embedding", k = 1,
        threshold = 0.9, nCells = 1, nProbe = 1)
      .as[(Long, Long, Boolean)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(got == Map(10L -> (10L, true), 11L -> (10L, false),
      12L -> (12L, true)), s"asymmetric edge leaked into a cluster: $got")
  }
}
