package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.PersistedTable
import scala.util.Random
import graft.functions.Rounding.roundHalfAway

/** Similarity search over an embedding column (`array<float>`):
  *
  *  - [[bruteForceTopK]] — exact cosine top-k (the correctness
  *    baseline; oracle-checkable). O(|queries|·|corpus|): fine when the
  *    query set is small or as a per-bucket kernel.
  *  - [[lshTopK]] — random-hyperplane (sign) LSH: banded signature
  *    buckets generate candidates, exact cosine reranks them. This is
  *    the scale path: the corpus is hashed once (map-only), and each
  *    query joins only its bucket collisions instead of the full corpus.
  *  - [[cosinePairs]] — all-pairs near-duplicate detection by cosine.
  *
  * Dot products are expression-level (`zip_with` + `aggregate` fold) —
  * codegen-friendly, no UDF, identical left-to-right summation order to
  * the DuckDB oracle.
  */
object Ann {

  /** Left-fold dot product via built-in higher-order functions — the
    * reference semantics for [[graft.functions.DotProductDouble]]
    * (identical summation order); kept for differential tests.
    */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Codegen'd dot product (native Catalyst expression). */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExprs.dot(a, b)

  def norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Corpus with embeddings cast to double and the L2 norm precomputed
    * once (avoids recomputing norms inside the pairwise kernel).
    */
  private def prepared(corpus: DataFrame, id: String, vec: String): DataFrame = {
    corpus.select(col(id).as("vid"),
      col(vec).cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
  }

  /** Exact cosine top-k neighbors for each row of `queries` against
    * `corpus` (self-matches excluded). Ranking orders by cosine rounded
    * to 6 decimals (then neighbor id) so ranks are reproducible across
    * engines/ULP noise. The query side is broadcast — at scale the
    * corpus streams through executors once, no corpus shuffle.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, id: String,
                     vec: String, k: Int): DataFrame = {
    val q = prepared(queries, id, vec)
      .select(col("vid").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val c = prepared(corpus, id, vec)
    val sims = c.join(broadcast(q), col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        roundHalfAway(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
          .as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vid").asc)
    sims.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Two-stage truncated-prefix retrieval (the matryoshka pattern):
    * stage 1 ranks on the cosine of the first `prefixDims` dimensions
    * — half the dot-product FLOPs and, at scale, half the bytes read
    * when the prefix is stored as its own column — and keeps
    * `candidates` per query through the native TopK cut; stage 2
    * exactly reranks only those candidates on the full vector. Fully
    * deterministic (round-6 sims, id tiebreaks), so the whole
    * two-stage cascade is replayable in the oracle — no recall floor
    * needed, the candidate set itself is pinned. Zero-prefix vectors
    * are excluded on both sides (their truncated cosine is undefined).
    */
  def truncatedRerankTopK(queries: DataFrame, corpus: DataFrame,
                          id: String, vec: String, k: Int,
                          prefixDims: Int, candidates: Int): DataFrame = {
    val q = prepared(queries, id, vec)
      .withColumn("qp", slice(col("v"), 1, prefixDims))
      .withColumn("qpn", sqrt(dot(col("qp"), col("qp"))))
      .filter(col("qpn") > 0)
      .select(col("vid").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        col("qp"), col("qpn"))
    val c = prepared(corpus, id, vec)
      .withColumn("p", slice(col("v"), 1, prefixDims))
      .withColumn("pn", sqrt(dot(col("p"), col("p"))))
      .filter(col("pn") > 0)
    // stage 1 touches ONLY prefixes — the full-dim dot runs on nothing
    // but the surviving candidates after the TopK cut
    val stage1 = c.select(col("vid"), col("p"), col("pn"))
      .join(broadcast(q.select(col("qid"), col("qp"), col("qpn"))),
        col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        roundHalfAway(dot(col("qp"), col("p")) / (col("qpn") * col("pn")), 6)
          .as("psim"))
    val cand = graft.plans.TopKPlan.topKPerKey(stage1, keys = Seq("qid"),
      orderCols = Seq("psim" -> false, "vid" -> true), k = candidates,
      rankCol = "prank")
    val reranked = cand.select(col("qid"), col("vid"))
      .join(c.select(col("vid"), col("v"), col("nrm")), "vid")
      .join(broadcast(q.select(col("qid"), col("qv"), col("qn"))), "qid")
      .select(col("qid"), col("vid"),
        roundHalfAway(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
          .as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vid").asc)
    reranked.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Deterministic ±1 hyperplanes: `planes(p)(d)` from a fixed seed.
    * Exposed within the package so the DuckDB oracle SQL embeds the
    * exact same planes as literals (no possibility of drift).
    */
  private[similarity] def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new Random(seed)
    Seq.fill(nPlanes, dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** Sign-LSH top-k: `bands` bands of `bitsPerBand` hyperplane sign
    * bits; candidate = corpus row sharing any band value with the
    * query; exact cosine rerank of candidates; top-k per query.
    * Deterministic seeding means the driver oracle replays the banding
    * exactly (recall vs brute force stays approximate by geometry, and
    * is spec-asserted). Band geometry trades
    * recall vs candidate volume: a pair at angle θ agrees on one band
    * with p = (1−θ/π)^bitsPerBand — short/many bands for
    * moderate-similarity top-k (default), long/few bands (e.g. 4×16)
    * for high-threshold near-dup where candidates must stay sparse.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, id: String, vec: String,
              k: Int, bands: Int = 8, bitsPerBand: Int = 4, dim: Int = 64,
              seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(bands * bitsPerBand, dim, seed)
    def bandCols(prefix: String): Seq[Column] = (0 until bands).map { bnd =>
      val bits = (0 until bitsPerBand).map { j =>
        val plane = array(planes(bnd * bitsPerBand + j).map(lit): _*)
        when(dot(col("v"), plane) >= 0, shiftleft(lit(1L), j)).otherwise(0L)
      }
      bits.reduce(_.bitwiseOR(_)).as(s"${prefix}b$bnd")
    }
    val c = prepared(corpus, id, vec)
    val cSig = c.select(Seq(col("vid"), col("v"), col("nrm")) ++ bandCols("c"): _*)
    val q = prepared(queries, id, vec)
    val qSig = q.select(Seq(col("vid").as("qid"), col("v").as("qv"),
      col("nrm").as("qn")) ++ bandCols("q"): _*)
    val bandMatch = (0 until bands)
      .map(bnd => col(s"qb$bnd") === col(s"cb$bnd"))
      .reduce(_ || _)
    // no distinct: one corpus row × one query row meets the OR-of-bands
    // condition at most once, so (qid, vid) pairs are already unique
    val cand = cSig.join(broadcast(qSig), bandMatch && col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        roundHalfAway(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
          .as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vid").asc)
    cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** array<struct<sim,idx>> of vector-to-centroid cosines; struct
    * ordering (sim first) makes array_max/sort_array rank by sim.
    * Centroids embed as ONE nested-array literal probed by a
    * transform lambda — not nCentroids separate vector literals,
    * whose ~nCentroids×dim scalar nodes made analyzer+codegen time
    * dominate the whole query (5 s → 0.5 s on the IVF path; the
    * per-centroid arithmetic is unchanged expression-for-expression,
    * so cosines and cell assignment stay bit-identical to the oracle).
    * Assignment remains a map-only pass at any corpus size.
    */
  private def centSims(cents: Seq[Seq[Double]], v: Column): Column =
    transform(typedlit(cents), (c, i) =>
      struct((dot(v, c) / (norm(v) * norm(c))).as("sim"),
        i.as("idx")))

  /** Above this many centroids the PROBE's cell ranking moves from a
    * plan literal to a broadcast join against a centroid table:
    * embedding centroids as one nested-array literal wins at O(10²)
    * cells (r4: 4× over scalar trees — no analysis/codegen per
    * element), but the analyzed plan then grows with nCells, and a
    * probe repeated every trigger re-pays that planning cost. As data,
    * centroids are a few MB at O(10⁵) cells — broadcast territory.
    * (The one-time BUILD keeps the literal JIT-loop assignment at any
    * size measured here; past ~10⁴ cells real systems move assignment
    * to multi-level/IMI schemes, out of scope.)
    */
  private val CentroidLiteralMax = 256

  private def centroidFrame(s: org.apache.spark.sql.SparkSession,
                            cents: Seq[Seq[Double]]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = cents.zipWithIndex.map { case (v, i) =>
      org.apache.spark.sql.Row(i, v)
    }.asJava
    s.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cidx",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("cv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType), nullable = false))))
  }

  /** Query-side probe-cell ranking, shared by both strategies and
    * spec-pinned identical: per query row, the nProbe max-cosine cells
    * with ties to the LARGER cell index (`sort_array` desc on
    * struct(sim, idx) ≡ row_number over (sim DESC, cidx DESC) — the
    * same order the oracle replays). The literal strategy folds the
    * centroids into the plan (fastest at small nCells); the join
    * strategy broadcasts them as a table (plan size independent of
    * nCells). Both compute the IDENTICAL sim expression
    * dot/(norm·norm), so the ranked sets are bit-equal.
    */
  private[graft] def queryProbes(qPrep: DataFrame,
                                 cents: Seq[Seq[Double]], nProbe: Int,
                                 viaJoin: Boolean): DataFrame =
    if (!viaJoin)
      qPrep.select(col("vid").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"),
        explode(slice(sort_array(centSims(cents, col("v")), asc = false),
          1, nProbe).getField("idx")).as("cell"))
    else {
      val cdf = centroidFrame(qPrep.sparkSession, cents)
      val sims = qPrep.crossJoin(broadcast(cdf))
        .select(col("vid"), col("v"), col("nrm"), col("cidx"),
          (dot(col("v"), col("cv")) / (norm(col("v")) * norm(col("cv"))))
            .as("sim"))
      val w = Window.partitionBy(col("vid"))
        .orderBy(col("sim").desc, col("cidx").desc)
      sims.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= nProbe)
        .select(col("vid").as("qid"), col("v").as("qv"),
          col("nrm").as("qn"), col("cidx").as("cell"))
    }

  /** Max-cosine cell id — the native JIT-loop twin of
    * `array_max(centSims(...)).getField("idx")` (bit-identical
    * including tie/NaN order; differential-spec-pinned). Used on the
    * CORPUS side, where the HOF lambda's interpreted per-centroid
    * tree-walk would be the per-row hot path at scale; the query side
    * keeps the expression form its nProbe ranking needs anyway.
    */
  private def cellOf(cents: Seq[Seq[Double]], v: Column): Column =
    graft.functions.VectorExprs.argmaxCell(v, typedlit(cents))

  /** Deterministic IVF seeding: the first `nCentroids` corpus vectors
    * by id (replayable in the oracle SQL).
    */
  private def firstNCentroids(prep: DataFrame, nCentroids: Int): Seq[Seq[Double]] =
    prep.orderBy(col("vid")).limit(nCentroids)
      .select(col("vid"), col("v")).collect()
      .map(r => r.getSeq[Double](1)).toSeq

  /** Spherical k-means (Lloyd) refinement of IVF centroids: assign
    * every vector to its max-cosine centroid, replace each centroid
    * with the direction of the sum of its members' UNIT vectors (the
    * exact maximizer of the spherical objective, so Σ max-cosine is
    * non-decreasing per iteration — spec-asserted), repeat. Each
    * iteration is one map-only assignment plus one map-side-combined
    * (cell, dim)-keyed sum; only nCentroids×dim doubles ever reach the
    * driver, at any corpus size (centroid materialization is inherent
    * to k-means, not a collect() smell). Empty cells keep their
    * previous centroid.
    */
  def kmeansCentroids(corpus: DataFrame, id: String, vec: String,
                      nCentroids: Int, iters: Int): Seq[Seq[Double]] =
    kmeansPrepared(prepared(corpus, id, vec), nCentroids, iters, seed = None)

  private def kmeansPrepared(c: DataFrame, nCentroids: Int, iters: Int,
                             seed: Option[Seq[Seq[Double]]]): Seq[Seq[Double]] = {
    // materialize the unit vectors once: every Lloyd iteration (and the
    // seeding scan) would otherwise re-read + re-normalize the corpus
    val unit = c.filter(col("nrm") > 0)
      .select(transform(col("v"), x => x / col("nrm")).as("u"))
      .localCheckpoint(true)
    var cents = seed.getOrElse(firstNCentroids(c, nCentroids))
    for (_ <- 1 to iters) {
      val sums = unit
        .withColumn("cell", cellOf(cents, col("u")))
        .select(col("cell"), posexplode(col("u")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos")).agg(sum(col("x")).as("s"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          val dir = rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
          val n = math.sqrt(dir.map(x => x * x).sum)
          cell -> (if (n > 0) dir.map(_ / n) else dir)
        }
      cents = cents.indices.map(i => sums.getOrElse(i, cents(i)))
    }
    cents
  }

  /** IVF search against an explicit centroid set: corpus rows are
    * assigned to their max-cosine cell (map-only), each query probes
    * its `nProbe` nearest cells, and only those cells' vectors are
    * reranked exactly. The probe join is keyed by cell id — at scale
    * each query touches ~nProbe/nCentroids of the corpus instead of
    * all of it. Approximate (cell-boundary misses) → recall tests.
    */
  def ivfTopKWithCentroids(queries: DataFrame, corpus: DataFrame, id: String,
                           vec: String, k: Int, cents: Seq[Seq[Double]],
                           nProbe: Int): DataFrame = {
    val c = prepared(corpus, id, vec)
    val assigned = c.withColumn("cell",
      cellOf(cents, col("v")))
    probeAssigned(queries, id, vec, assigned, cents, k, nProbe)
  }

  /** The probe side of IVF search, against an already cell-assigned
    * corpus — shared by the recompute path and the persisted-index
    * path.
    *
    * `pruneCells` (r10): the assigned side is joined on the PARTITION
    * column, but Spark's dynamic partition pruning does not fire for
    * this shape (measured: `PartitionFilters: [isnotnull(cell)]` — the
    * scan reads every cell and the join discards them after I/O, which
    * silently makes the probe corpus-proportional again). When set,
    * the probed cell set is collected first — one micro-job over the
    * micro-batch-sized query side, using the IDENTICAL probe
    * expressions so the set is exact by construction — and the scan
    * gets a literal `cell IN (...)` filter the file index prunes
    * statically. One small driver action buys an O(corpus/nCells ×
    * nProbe) read; at toy scale the extra job is the larger cost, so
    * it is opt-in for the persisted-index/streaming probes (whose
    * contract already bounds the query side) and off for the
    * one-shot recompute path.
    */
  private def probeAssigned(queries: DataFrame, id: String, vec: String,
                            assigned: DataFrame, cents: Seq[Seq[Double]],
                            k: Int, nProbe: Int,
                            pruneCells: Boolean = false): DataFrame = {
    val q = queryProbes(prepared(queries, id, vec), cents, nProbe,
      viaJoin = cents.length > CentroidLiteralMax)
    val corpusSide =
      if (!pruneCells) assigned
      else {
        val cells = q.select(col("cell")).distinct()
          .collect().map(_.getInt(0)).toSeq
        assigned.filter(col("cell").isin(cells: _*))
      }
    // no distinct: each corpus vector lives in exactly one cell and a
    // query probes nProbe distinct cells, so (qid, vid) is unique
    val cand = corpusSide.join(broadcast(q),
        Seq("cell")).filter(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        roundHalfAway(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
          .as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vid").asc)
    cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  // ---- persisted IVF index: build once, append deltas, probe forever ----
  //
  // The production framing of IVF on a data platform: the index is a
  // TABLE — (cell, vid, v, nrm) rows plus a tiny centroid table — not
  // a process-lifetime object. Build pays the one assignment pass;
  // ingesting new vectors is an assign-only APPEND against the stored
  // centroids (no rebuild, no touch of existing rows — the same
  // append-stability argument as semanticDedup: assignment depends
  // only on the frozen centroids); queries probe the stored cells
  // directly. Partitioning the assigned table BY cell would make each
  // probe a partition-pruned read — the layout dividend on top.
  // Centroid drift under a shifting distribution is the operational
  // caveat: rebuild cadence (or k-means refresh via kmeansCentroids)
  // is a policy knob, not an engine constraint.

  /** Build the index at `dir`: centroids seeded from the corpus
    * (first `nCells` by id — oracle-replayable) + the assigned table.
    */
  private def writeCentroids(s: org.apache.spark.sql.SparkSession,
                             cents: Seq[Seq[Double]], path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val rows = cents.zipWithIndex.map { case (v, i) =>
      org.apache.spark.sql.Row(i, v)
    }.asJava
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("idx",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("cv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    s.createDataFrame(rows, schema)
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  /** Live root of a stored IVF index. A refresh publishes each new
    * (centroids, assigned) PAIR under `dir/epoch_N/` and flips the
    * single `dir/CURRENT` pointer file atomically — the two tables can
    * never be observed from different epochs, closing the window the
    * old two-rename swap left (a crash between renames paired new
    * centroids with old assignments). A freshly built index has no
    * pointer and lives directly under `dir`.
    */
  def ivfRoot(dir: String): String = {
    val p = java.nio.file.Paths.get(dir, "CURRENT")
    if (java.nio.file.Files.exists(p))
      s"$dir/${java.nio.file.Files.readString(p).trim}"
    else dir
  }

  /** Returns the seeded centroid set it stored (r10): a caller that
    * builds and then probes in the same process can pass them straight
    * to [[ivfTopKFromIndex]] and skip the per-probe centroid-table
    * read+collect — the stored table remains the source of truth for
    * every other process, and appends never change centroids (only
    * [[ivfIndexRefresh]] does, after which a re-read is mandatory).
    */
  def ivfIndexBuild(corpus: DataFrame, id: String, vec: String,
                    nCells: Int, dir: String): Seq[Seq[Double]] = {
    val s = corpus.sparkSession
    val c = prepared(corpus, id, vec)
    val cents = firstNCentroids(c, nCells)
    // a rebuild resets the epoch history: stale epoch dirs + a CURRENT
    // pointer from a previous life would misdirect every reader
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    writeCentroids(s, cents, s"$dir/centroids")
    // partitioned BY cell: a cell probe is a partition-pruned read —
    // `cell=K/` directories, the layout dividend on the index table,
    // one file per cell: with nCells × tasks small files, at 10× corpus
    // with 10× cells the PROBE wall grew 2.3× from file listing alone
    // (measured; the probed data volume was constant)
    PersistedTable.write(c.withColumn("cell", cellOf(cents, col("v"))),
      "cell", cents.length, s"$dir/assigned", PersistedTable.Overwrite)
    cents
  }

  /** One-row audit of a stored index: row count plus how many rows sit
    * in a cell that is NOT their max-cosine cell under the stored
    * centroids. A healthy build/append/refresh keeps `misassigned` at
    * 0 (append assigns against the same frozen centroids it stores;
    * refresh rewrites both tables together under the swap).
    */
  def indexSelfCheck(s: org.apache.spark.sql.SparkSession,
                     dir: String): DataFrame = {
    val cents = readCentroids(s, dir)
    s.read.parquet(s"${ivfRoot(dir)}/assigned")
      .withColumn("re", cellOf(cents, col("v")))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("cell") === col("re"), 0L).otherwise(1L))
          .as("misassigned"))
  }

  /** Index maintenance: Lloyd-refine the stored centroids over the
    * index's OWN vectors (warm-started from the stored set — the
    * refresh resumes the optimization, it doesn't restart it), then
    * reassign every row and atomically swap the rewritten tables in.
    * This is the op a drift gate ([[graft.functions.Drift]]) triggers
    * when appended deltas have skewed cell occupancy: appends assign
    * against frozen centroids (O(delta)), and the occasional refresh
    * re-spreads the cells at full-rebuild quality WITHOUT touching the
    * raw corpus — the index tables are self-sufficient.
    *
    * Crash-safety: both rewritten tables are staged together under a
    * fresh `epoch_N/` directory and published by ONE atomic flip of
    * the `CURRENT` pointer file ([[ivfRoot]]) — a crash at any point
    * leaves either the complete old pair or the complete new pair
    * visible, never new centroids with old assignments (the window the
    * previous per-table rename swap had). Single-writer, as everywhere
    * in the index-maintenance layer.
    */
  def ivfIndexRefresh(s: org.apache.spark.sql.SparkSession, dir: String,
                      iters: Int): Unit = {
    val root = ivfRoot(dir)
    val cents0 = readCentroids(s, dir)
    val live = s.read.parquet(s"$root/assigned")
      .select(col("vid"), col("v"), col("nrm"))
    // nothing to refine or reassign on an empty index — and a
    // partitioned write of zero rows emits no assigned directory,
    // which would leave the new epoch half-formed
    if (live.isEmpty) return
    val cents = kmeansPrepared(live, cents0.length, iters, seed = Some(cents0))
    val nextEpoch =
      if (root == dir) 1
      else root.substring(root.lastIndexOf('_') + 1).toInt + 1
    val stagedRoot = s"$dir/epoch_$nextEpoch"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stagedRoot))
    writeCentroids(s, cents, s"$stagedRoot/centroids")
    // the refresh is ALSO the layout-recovery op: one file per cell,
    // whatever the append history left
    PersistedTable.write(live.withColumn("cell", cellOf(cents, col("v"))),
      "cell", cents.length, s"$stagedRoot/assigned", PersistedTable.Overwrite)
    val tmp = java.nio.file.Paths.get(dir, "CURRENT_staged")
    java.nio.file.Files.writeString(tmp, s"epoch_$nextEpoch")
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir, "CURRENT"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // the previous epoch is unreferenced once the pointer flips;
    // best-effort cleanup (an in-flight reader of the old pair is the
    // documented single-writer caveat, same as before)
    if (root != dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    else {
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(s"$dir/centroids"))
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(s"$dir/assigned"))
    }
  }

  private def readCentroids(s: org.apache.spark.sql.SparkSession,
                            dir: String): Seq[Seq[Double]] =
    s.read.parquet(s"${ivfRoot(dir)}/centroids").orderBy(col("idx"))
      .collect().map(_.getSeq[Double](1)).toSeq

  /** Ingest new vectors: assign against the STORED centroids, append
    * at most one file per cell. Existing index rows are never read or
    * rewritten — delta cost only.
    */
  def ivfIndexAppend(delta: DataFrame, id: String, vec: String,
                     dir: String): Unit = {
    val cents = readCentroids(delta.sparkSession, dir)
    PersistedTable.write(
      prepared(delta, id, vec).withColumn("cell", cellOf(cents, col("v"))),
      "cell", cents.length, s"${ivfRoot(dir)}/assigned", PersistedTable.Append)
  }

  /** Read a stored index's centroid table once — for callers probing
    * a FROZEN index repeatedly (the streaming admission twin probes
    * per micro-batch) that shouldn't re-collect it every time. A
    * caller that refreshes the index between probes must re-read
    * (refresh swaps the epoch the pointer resolves to).
    */
  def indexCentroids(s: org.apache.spark.sql.SparkSession,
                     dir: String): Seq[Seq[Double]] = readCentroids(s, dir)

  /** Open a stored index's assigned table once — for callers probing a
    * FROZEN index repeatedly. The DataFrame carries the resolved file
    * index, so re-probing it never re-lists the cell directories: at
    * real cell counts (nCells grows with the corpus) partition
    * discovery exceeds Spark's parallel-listing threshold and costs a
    * whole driver job PER `spark.read` — measured +0.8 s/trigger at
    * 160 cells. Cell-partition PRUNING still happens per probe at
    * planning time against the cached listing. Same caveat as
    * [[indexCentroids]]: append or refresh between probes ⇒ re-open.
    */
  def indexAssigned(s: org.apache.spark.sql.SparkSession,
                    dir: String): DataFrame =
    s.read.parquet(s"${ivfRoot(dir)}/assigned")

  /** Top-k from the stored index — no assignment pass at query time.
    * `pruneCells = true` statically prunes the assigned scan to the
    * query batch's probed cells (see [[probeAssigned]]): the scan
    * stops being corpus-proportional, for one extra micro-job over the
    * (contract-bounded) query side.
    */
  def ivfTopKFromIndex(queries: DataFrame, id: String, vec: String,
                       dir: String, k: Int, nProbe: Int,
                       cents: Option[Seq[Seq[Double]]] = None,
                       assigned: Option[DataFrame] = None,
                       pruneCells: Boolean = false): DataFrame = {
    val s = queries.sparkSession
    probeAssigned(queries, id, vec,
      assigned.getOrElse(indexAssigned(s, dir)),
      cents.getOrElse(readCentroids(s, dir)), k, nProbe, pruneCells)
  }

  /** ANN similarity JOIN: every LEFT vector matched to its single
    * nearest RIGHT vector among the left's `nProbe` closest IVF cells
    * (centroids seeded first-N from the RIGHT side) — the
    * nearest-duplicate / label-transfer primitive between two large
    * tables, where [[bruteForceTopK]]'s query-broadcast shape no
    * longer applies because BOTH sides are corpus-sized.
    *
    * Scale shape: no broadcast of either relation — the right side is
    * cell-assigned map-only, the left side explodes to nProbe
    * (cell, row) probes, and the match is ONE equi-join keyed on the
    * cell id followed by a partial-aggregating per-left-row argmax
    * (`max(struct)`, map-side combined — no window shuffle). Per-cell
    * work is (left-in-cell × right-in-cell); nCells grows with the
    * corpus to hold that product constant, and a skew-hot cell salts
    * the same way a skewed join key does. Deterministic seeding +
    * rounded-sim ranking ⇒ exact oracle replay.
    */
  /** Shared candidate stream of the ANN-join family: right side
    * cell-assigned map-only, left side exploded to nProbe (cell, row)
    * probes, one equi-join on the cell id, similarities rounded for
    * rank stability. Each right row lives in exactly one cell and a
    * left row probes nProbe distinct cells ⇒ (lid, rid) already unique.
    */
  private def annJoinCandidates(left: DataFrame, right: DataFrame,
                                id: String, vec: String, nCells: Int,
                                nProbe: Int): DataFrame = {
    val r = prepared(right, id, vec)
    val cents = firstNCentroids(r, nCells)
    val rA = r.withColumn("cell", cellOf(cents, col("v")))
      .select(col("cell"), col("vid").as("rid"), col("v").as("rv"),
        col("nrm").as("rn"))
    val lA = prepared(left, id, vec)
      .select(col("vid").as("lid"), col("v").as("lv"), col("nrm").as("ln"),
        explode(slice(sort_array(centSims(cents, col("v")), asc = false),
          1, nProbe).getField("idx")).as("cell"))
    lA.join(rA, Seq("cell"))
      .select(col("lid"), col("rid"),
        roundHalfAway(dot(col("lv"), col("rv")) / (col("ln") * col("rn")), 6)
          .as("sim"))
  }

  /** Genuinely TOTAL: every left row appears exactly once. The
    * candidate stream is an inner equi-join, so a left row whose
    * nProbe probed cells all have no right members (duplicate seed
    * vectors leaving a cell empty, nCells > distinct right vectors)
    * would silently drop out; a sentinel candidate per left row
    * (sim = -2, below any cosine) is unioned in — map-only, same
    * single shuffle — so such rows surface as (lid, NULL, NULL)
    * instead of vanishing.
    */
  def annJoinTop1(left: DataFrame, right: DataFrame, id: String,
                  vec: String, nCells: Int = 16,
                  nProbe: Int = 4): DataFrame = {
    val NoMatch = -2.0
    // argmax on (rounded sim, -rid): highest similarity, ties to the
    // smaller right id — matching the oracle's ORDER BY sim DESC,
    // rid ASC rank-1 row; any real candidate (cosine ≥ -1) beats the
    // sentinel on the struct's leading field
    val cand = annJoinCandidates(left, right, id, vec, nCells, nProbe)
      .select(col("lid"),
        struct(col("sim"), (-col("rid")).cast("long").as("nrid")).as("c"))
    val sentinel = prepared(left, id, vec)
      .select(col("vid").as("lid"),
        struct(lit(NoMatch).as("sim"),
          lit(null).cast("long").as("nrid")).as("c"))
    cand.union(sentinel)
      .groupBy(col("lid"))
      .agg(max(col("c")).as("best"))
      .select(col("lid"),
        when(col("best.sim") =!= NoMatch, -col("best.nrid")).as("rid"),
        when(col("best.sim") =!= NoMatch, col("best.sim")).as("sim"))
  }

  /** k-nearest ANN join (kNN-graph construction between two
    * corpus-sized relations): same candidate stream as
    * [[annJoinTop1]], with the per-left-row cut done by the native
    * TopK plan node — the bounded-heap PARTIAL prunes each candidate
    * partition to k rows per left id BEFORE the lid exchange, so the
    * shuffle carries ≤ k·partitions rows per left row instead of the
    * whole probed-candidate stream, and no per-partition full sort
    * ever runs. Emits (lid, rid, sim, rank) — up to k rows per left
    * row; unlike [[annJoinTop1]] a left row with zero probed
    * candidates emits NO rows (a kNN-graph node with an empty
    * neighborhood has no edges; a null edge row would poison
    * downstream graph ops).
    */
  def annJoinTopK(left: DataFrame, right: DataFrame, id: String,
                  vec: String, k: Int, nCells: Int = 16,
                  nProbe: Int = 4): DataFrame =
    graft.plans.TopKPlan.topKPerKey(
      annJoinCandidates(left, right, id, vec, nCells, nProbe),
      Seq("lid"), Seq("sim" -> false, "rid" -> true), k)

  /** Hard-negative mining for contrastive retrieval training — the
    * DPR recipe (Karpukhin et al., arXiv:2004.04906 §4.2): a good
    * negative is a candidate the retriever RANKS HIGH but whose label
    * disagrees with the anchor's. Per anchor: exact top-`k` cosine
    * candidates ([[bruteForceTopK]] — broadcast anchors, the corpus
    * streams through once, no corpus shuffle), positives removed by a
    * label anti-filter, and the `nNeg` hardest survivors kept with a
    * fresh mined rank (native TopK — bounded heap before any
    * exchange). The label joins touch only the candidate stream
    * (≤ k·|anchors| rows — broadcast-sized by construction relative
    * to the corpus), never the corpus itself. Fully deterministic
    * (round-6 sims, id tiebreaks), so the oracle replays the entire
    * mine. An anchor whose whole candidate list shares its label
    * emits no rows (no negatives exist at this k — callers widen k,
    * not the semantics). The label joins are INNER on purpose: a
    * candidate (or anchor) with no row in `labels` is dropped — an
    * unlabeled doc can be confirmed neither positive nor negative,
    * and silently treating it as a negative would poison the
    * training pairs with false negatives.
    */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, id: String,
                    vec: String, labels: DataFrame, labelCol: String,
                    k: Int, nNeg: Int): DataFrame = {
    require(k >= 1 && nNeg >= 1,
      s"hardNegatives needs positive pool/keep sizes, got k = $k, " +
        s"nNeg = $nNeg")
    val cand = bruteForceTopK(anchors, corpus, id, vec, k)
    val ql = labels.select(col(id).as("qid"), col(labelCol).as("q_label"))
    val cl = labels.select(col(id).as("vid"), col(labelCol).as("neg_label"))
    val negatives = cand
      .join(ql, Seq("qid"))
      .join(cl, Seq("vid"))
      .filter(col("q_label") =!= col("neg_label"))
      .select(col("qid"), col("vid"), col("sim"), col("neg_label"))
    graft.plans.TopKPlan.topKPerKey(negatives, Seq("qid"),
      Seq("sim" -> false, "vid" -> true), nNeg, rankCol = "neg_rank")
  }

  /** Mutual-kNN-graph semantic clustering (the graph-shaped sibling
    * of [[semanticDedup]]'s centroid-bounded pair scan): the corpus is
    * kNN-joined against ITSELF through the shared IVF candidate
    * stream (self-matches dropped before the top-k cut so a vector's
    * own sim=1.0 row never occupies a neighbor slot), an edge is kept
    * only when it is MUTUAL (b ∈ kNN(a) AND a ∈ kNN(b)) and
    * sim ≥ `threshold` — the standard robustification that stops a
    * hub vector chaining unrelated documents into one mega-cluster —
    * and connected components label the clusters. Emits every corpus
    * vector as (id, cluster, is_representative): cluster is the
    * component's minimum member id (vectors off the graph are their
    * own singleton cluster), the representative is the member whose
    * id IS the label — downstream curation keeps representatives and
    * drops the rest, exactly like the MinHash component keeper.
    *
    * Scale shape: candidates are ONE cell-keyed equi-join (no
    * all-pairs — per-cell work bounded as in [[annJoinTopK]]); the
    * kNN cut is the native TopK partial prune (≤ k rows per vector
    * cross the lid exchange); mutuality is a map-side-combinable
    * count over canonical (min,max) pairs — ≤ k·|corpus| edge rows,
    * NOT candidate rows, reach that shuffle; components run the
    * partition-local union-find contraction. Every stage is linear in
    * corpus size for fixed k.
    *
    * Determinism: same seeding/rounding replay as the ANN-join family
    * ⇒ the DuckDB oracle reproduces edges, mutuality and labels
    * bit-exactly (components via recursive CTE).
    */
  /** The undirected edge set of [[knnGraphClusters]]'s graph — the
    * canonical (a < b) pairs where BOTH directions survived the kNN
    * cut and the similarity threshold. Public because the mutual-kNN
    * graph is useful on its own (graph layouts, link features) and so
    * the plan shape is testable before [[graft.dedup.Dedup
    * .connectedComponents]]'s eager contraction truncates the lineage.
    */
  def mutualKnnEdges(df: DataFrame, id: String, vec: String, k: Int,
                     threshold: Double, nCells: Int = 16,
                     nProbe: Int = 4): DataFrame = {
    val knn = graft.plans.TopKPlan.topKPerKey(
      annJoinCandidates(df, df, id, vec, nCells, nProbe)
        .filter(col("lid") =!= col("rid")),
      Seq("lid"), Seq("sim" -> false, "rid" -> true), k)
      .filter(col("sim") >= threshold)
    // (lid, rid) is unique in the kNN output, so the canonical pair
    // count is 2 exactly when both directions survived the cut
    knn.select(least(col("lid"), col("rid")).as("a"),
        greatest(col("lid"), col("rid")).as("b"))
      .groupBy(col("a"), col("b")).count()
      .filter(col("count") === 2).select(col("a"), col("b"))
  }

  def knnGraphClusters(df: DataFrame, id: String, vec: String, k: Int,
                       threshold: Double, nCells: Int = 16,
                       nProbe: Int = 4): DataFrame = {
    val mutual = mutualKnnEdges(df, id, vec, k, threshold, nCells, nProbe)
    val comp = graft.dedup.Dedup.connectedComponents(mutual, "a", "b")
    prepared(df, id, vec).select(col("vid"))
      .join(comp, col("vid") === col("doc"), "left")
      .select(col("vid").as(id),
        coalesce(col("component"), col("vid")).as("cluster"),
        (coalesce(col("component"), col("vid")) === col("vid"))
          .as("is_representative"))
  }

  /** IVF with the deterministic first-N seeding (oracle-replayable —
    * the DuckDB SQL embeds the same seeding and assignment).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, id: String, vec: String,
              k: Int, nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val c = prepared(corpus, id, vec)
    ivfTopKWithCentroids(queries, corpus, id, vec, k,
      firstNCentroids(c, nCentroids), nProbe)
  }

  /** IVF with spherical-k-means-refined centroids: better-balanced
    * Voronoi cells than first-N seeding ⇒ higher recall at the same
    * nProbe. Centroids are float-sum accumulations (partition-order
    * dependent), so results are contract-checked — cross-engine bit
    * parity is impossible by construction; recall is spec-asserted
    * instead.
    */
  def ivfKmeansTopK(queries: DataFrame, corpus: DataFrame, id: String,
                    vec: String, k: Int, nCentroids: Int = 16,
                    nProbe: Int = 4, iters: Int = 2): DataFrame =
    ivfTopKWithCentroids(queries, corpus, id, vec, k,
      kmeansCentroids(corpus, id, vec, nCentroids, iters), nProbe)

  /** Product-quantization codebooks: the embedding space split into
    * `m` contiguous subspaces; per subspace, the first `k` corpus
    * vectors' subvectors (by id) are the codes — the same
    * deterministic, oracle-replayable seeding as [[ivfTopK]]. Returns
    * `cbs(s)(j)` = codeword j of subspace s. Only m·k·(dim/m) doubles
    * reach the driver, at any corpus size.
    */
  def pqCodebooks(corpus: DataFrame, id: String, vec: String,
                  m: Int, k: Int): Seq[Seq[Seq[Double]]] = {
    val firstK = prepared(corpus, id, vec)
      .orderBy(col("vid")).limit(k)
      .select(col("v")).collect().map(_.getSeq[Double](0)).toSeq
    val dim = firstK.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val w = dim / m
    (0 until m).map(s => firstK.map(v => v.slice(s * w, s * w + w)))
  }

  /** Squared L2 distance in the exact 3-dot formulation the oracle
    * replays (`a·a − 2 a·b + b·b`): same native left-fold dot on both
    * engines ⇒ bit-equal distances ⇒ identical argmins.
    */
  private def l2sq(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** PQ code of a subvector: argmin-L2 codeword index (ties → lower
    * code). The codebook embeds as ONE nested-array literal probed by
    * a transform lambda — the same tree-size fix as [[centSims]]; the
    * per-codeword arithmetic is expression-identical, so codes stay
    * bit-equal to the oracle.
    */
  private def pqCode(cbsS: Seq[Seq[Double]], sv: Column): Column =
    array_min(transform(typedlit(cbsS), (c, j) =>
      struct(l2sq(sv, c).as("d"), j.as("j")))).getField("j")

  /** A query's ADC table for one subspace: L2² to each of the k
    * codewords, in codeword order (same nested-literal shape).
    */
  private def pqAdcTable(cbsS: Seq[Seq[Double]], sv: Column): Column =
    transform(typedlit(cbsS), c => l2sq(sv, c))

  /** PQ top-k via asymmetric distance computation (ADC).
    *
    * Encode (map-only): each corpus vector becomes `m` small integer
    * codes — the argmin-L2 codeword per subspace (ties → lower code,
    * matching the oracle's `ORDER BY d, j`). At scale this is the
    * memory story: dim floats compress to m bytes per vector, and the
    * scan that ranks 10¹¹ vectors reads codes, not vectors.
    *
    * Search: each query precomputes its m×k distance table to the
    * codebooks (one broadcast row per query); a corpus vector's
    * approximate distance is then m table lookups summed in fixed
    * subspace order. Ranking is by ROUND(dist, 6) with id tiebreak so
    * last-ULP fold noise can't reorder the cut (the tfidf/PMI trick).
    * Approximate by construction → recall spec in DedupAnnSpec; the
    * driver oracle replays seeding/encode/ADC exactly.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, id: String,
             vec: String, topK: Int, m: Int = 4,
             k: Int = 16): DataFrame = {
    val cbs = pqCodebooks(corpus, id, vec, m, k)
    val w = cbs.head.head.length
    def sub(v: Column, s: Int): Column = slice(v, s * w + 1, w)
    val enc = prepared(corpus, id, vec)
      .select(col("vid"),
        array((0 until m).map(s =>
          pqCode(cbs(s), sub(col("v"), s))): _*).as("codes"))
    val q = prepared(queries, id, vec)
      .select(Seq(col("vid").as("qid")) ++ (0 until m).map { s =>
        pqAdcTable(cbs(s), sub(col("v"), s)).as(s"qt_$s")
      }: _*)
    val dist = (0 until m).map(s =>
      element_at(col(s"qt_$s"), element_at(col("codes"), s + 1) + 1))
      .reduce(_ + _)
    val ranked = enc.join(broadcast(q), col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"), roundHalfAway(dist, 6).as("adc_dist"))
    val win = Window.partitionBy(col("qid"))
      .orderBy(col("adc_dist").asc, col("vid").asc)
    ranked.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= topK)
  }

  /** IVF-PQ composition — the production ANN layout: IVF cells prune
    * CANDIDATES (each query scans ~nProbe/nCentroids of the corpus),
    * PQ codes compress the RANKING (candidates are scored from m byte
    * codes via the query's ADC table, never from raw vectors). One
    * map-only corpus pass emits (cell, codes); the probe join is keyed
    * by cell id exactly as [[ivfTopKWithCentroids]]. Both stages keep
    * their deterministic seeding (first-N centroids, first-N
    * codebooks), so the full composition is oracle-replayable.
    * Production systems encode residuals (v − centroid) for a tighter
    * codebook; the composition shape is identical.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, id: String,
                vec: String, topK: Int, nCentroids: Int = 16,
                nProbe: Int = 4, m: Int = 4, k: Int = 16): DataFrame = {
    val cbs = pqCodebooks(corpus, id, vec, m, k)
    val w = cbs.head.head.length
    val c = prepared(corpus, id, vec)
    val cents = firstNCentroids(c, nCentroids)
    def sub(v: Column, s: Int): Column = slice(v, s * w + 1, w)
    val enc = c.select(col("vid"),
      cellOf(cents, col("v")).as("cell"),
      array((0 until m).map(s =>
        pqCode(cbs(s), sub(col("v"), s))): _*).as("codes"))
    val q = prepared(queries, id, vec)
      .select(Seq(col("vid").as("qid"),
        slice(sort_array(centSims(cents, col("v")), asc = false), 1, nProbe)
          .getField("idx").as("probes")) ++
        (0 until m).map { s =>
          pqAdcTable(cbs(s), sub(col("v"), s)).as(s"qt_$s")
        }: _*)
      .withColumn("cell", explode(col("probes"))).drop("probes")
    val dist = (0 until m).map(s =>
      element_at(col(s"qt_$s"), element_at(col("codes"), s + 1) + 1))
      .reduce(_ + _)
    val cand = enc.join(broadcast(q), Seq("cell"))
      .filter(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"), roundHalfAway(dist, 6).as("adc_dist"))
    val win = Window.partitionBy(col("qid"))
      .orderBy(col("adc_dist").asc, col("vid").asc)
    cand.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= topK)
  }

  /** All-pairs cosine near-duplicates (ids a < b, cosine ≥ threshold).
    * Exact O(n²) baseline — the LSH bucketing above is the scale path.
    */
  def cosinePairs(corpus: DataFrame, id: String, vec: String,
                  threshold: Double): DataFrame = {
    val c = prepared(corpus, id, vec)
    val a = c.select(col("vid").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = c.select(col("vid").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), roundHalfAway(col("cos"), 6).as("cosine"))
  }

  /** Semantic deduplication, SemDeDup-shaped (Abbas et al. 2023,
    * arXiv:2303.09540): embeddings are clustered into `nCells` Voronoi
    * cells and near-duplicate search runs only WITHIN each cell — the
    * clusters are what bound the quadratic. [[cosinePairs]] is the
    * all-pairs exact form this approximates: at 10⁸ docs all-pairs is
    * 10¹⁶ dot products, while cells sized ~|corpus|/nCells keep the
    * per-cell product tractable and embarrassingly parallel (one
    * shuffle on cell id co-partitions both sides of the self-join;
    * nCells grows with the corpus so cell size stays bounded).
    *
    * Returns one row per DROPPED document: its keeper (the smallest
    * lower id it collides with — deterministic, unlike the paper's
    * random representative), the evidence (max cosine, collision
    * count), and its cell. A doc is dropped iff some lower-id doc in
    * its cell has cosine ≥ `threshold` with it, so the keep set is
    * stable under corpus growth ordered by id (appending docs never
    * un-drops an old doc).
    *
    * Same deterministic first-N centroid seeding and max-cosine cell
    * assignment as [[ivfTopK]] — fully oracle-replayable (the cheap
    * stand-in for trained k-means centroids, whose float-sum
    * accumulation is engine-specific; `ann_ivf_kmeans_topk` covers
    * that trade).
    */
  def semanticDedup(corpus: DataFrame, id: String, vec: String,
                    nCells: Int, threshold: Double): DataFrame = {
    val c = prepared(corpus, id, vec)
    val cents = firstNCentroids(c, nCells)
    val assigned = c.withColumn("cell", cellOf(cents, col("v")))
    val a = assigned.select(col("cell"), col("vid").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cell"), col("vid").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
      .select(col("cell"), col("id_a"), col("id_b"),
        roundHalfAway(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy(col("id_b").as("doc"))
      .agg(first(col("cell")).as("cell"),
        min(col("id_a")).as("keeper"),
        max(col("cos")).as("max_cosine"),
        count(lit(1)).as("n_collisions"))
  }

  /** Streaming admission control in embedding space — the
    * [[semanticDedup]] check run on every INCOMING vector against a
    * STATIC corpus, without recomputing the corpus (the per-crawl-batch
    * form of SemDeDup; [[graft.dedup.Dedup.corpusAdmission]] is the
    * MinHash twin). The corpus is cell-assigned once; each incoming
    * vector computes its own cell map-only and probes only that cell's
    * corpus vectors by an equi-join on cell id. Works identically on a
    * streaming `incoming` frame — both joins are stream–static:
    * STATELESS, append-mode, zero streaming state at any rate — and on
    * a batch frame (how the oracle replays it). Each corpus vector
    * lives in exactly one cell, so every (incoming, corpus) pair is
    * emitted at most once — no sink-side dedup needed.
    */
  def semanticAdmission(incoming: DataFrame, corpus: DataFrame, id: String,
                        vec: String, nCells: Int,
                        threshold: Double): DataFrame = {
    val c = prepared(corpus, id, vec)
    val cents = firstNCentroids(c, nCells)
    val cIdx = c.withColumn("cell", cellOf(cents, col("v")))
      .select(col("cell"), col("vid").as("corpus_id"),
        col("v").as("cv"), col("nrm").as("cn"))
    val inP = incoming
      .select(col(id).as("in_id"), col(vec).cast("array<double>").as("iv"))
      .withColumn("inrm", norm(col("iv")))
      .withColumn("cell", cellOf(cents, col("iv")))
    inP.join(cIdx, Seq("cell"))
      .select(col("in_id"), col("corpus_id"), col("cell"),
        roundHalfAway(dot(col("iv"), col("cv")) / (col("inrm") * col("cn")), 6)
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
