package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.{Binning, Scoring, TextHashing}
import graft.io.Scratch

/** Property-based tests (SURVEY.md §5) using raw ScalaCheck
  * generators: each property draws N deterministic samples (fixed
  * seed), evaluates them through Catalyst in ONE DataFrame, and
  * compares row-by-row against a plain-Scala model of the semantics.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int = 200): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val finiteD = Gen.chooseNum(-1e6, 1e6)

  test("limit gate == (value < limit) across modalities incl. otherwise arm") {
    val cases = samples(for {
      v <- finiteD; lim <- finiteD
      m <- Gen.oneOf("PIX", "TED", "Boleto", "DOC", "??")
    } yield (m, v, lim))
    val got = cases.toDF("m", "v", "lim")
      .select(col("v"), col("lim"), Scoring.limitGate(col("m"), col("v"),
        Seq("PIX" -> col("lim"), "TED" -> col("lim"),
          "Boleto" -> col("lim"), "DOC" -> col("lim"))).as("g"))
      .as[(Double, Double, Boolean)].collect()
    got.foreach { case (v, lim, g) => assert(g == v < lim, s"($v, $lim)") }
  }

  test("score gate == !(s > 6) for generated s") {
    val xs = samples(finiteD)
    val got = xs.toDF("s")
      .select(col("s"), Scoring.scoreGate(col("s")).as("g"))
      .as[(Double, Boolean)].collect()
    got.foreach { case (s, g) => assert(g == !(s > 6.0)) }
  }

  test("cut matches a plain-Scala model over and outside the range") {
    val bounds = Seq(0.0, 10.0, 100.0, 1000.0)
    val labels = Seq("a", "b", "c")
    def model(v: Double): Option[String] =
      if (v <= 0.0) None
      else if (v <= 10.0) Some("a") else if (v <= 100.0) Some("b")
      else if (v <= 1000.0) Some("c") else None
    val xs = samples(Gen.chooseNum(-50.0, 2000.0)) ++
      bounds ++ bounds.map(_ + 1e-9) // hit the boundaries exactly
    val got = xs.toDF("v")
      .select(col("v"), Binning.cut(col("v"), bounds, labels).as("b"))
      .collect().map(r => r.getDouble(0) ->
        (if (r.isNullAt(1)) None else Some(r.getString(1))))
    got.foreach { case (v, b) => assert(b == model(v), s"v=$v") }
  }

  test("widthBucket matches the floor model with clamping") {
    val xs = samples(Gen.chooseNum(-100.0, 1100.0)) ++
      Seq(0.0, 999.9999, 1000.0, -0.0001)
    val got = xs.toDF("v")
      .select(col("v"), Binning.widthBucket(col("v"), 0, 1000, 10).as("b"))
      .as[(Double, Int)].collect()
    got.foreach { case (v, b) =>
      val want = if (v < 0) 0 else if (v >= 1000) 11
        else math.floor(v / 100).toInt + 1
      assert(b == want, s"v=$v")
    }
  }

  test("ngramHashes cardinality == distinct sliding n-grams") {
    val word = Gen.oneOf("aa", "bb", "cc", "dd")
    val cases = samples(for {
      k <- Gen.choose(0, 12)
      ws <- Gen.listOfN(k, word)
      n <- Gen.choose(1, 4)
    } yield (ws.mkString(" "), n), n = 100)
    cases.groupBy(_._2).foreach { case (n, group) =>
      val got = group.map(_._1).toDF("t")
        .select(col("t"), size(TextHashing.ngramHashes(col("t"), n)).as("c"))
        .as[(String, Int)].collect()
      got.foreach { case (text, c) =>
        val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
        val want = if (toks.size < n) 0
          else toks.sliding(n).map(_.mkString(" ")).toSet.size
        assert(c == want, s"n=$n text='$text'")
      }
    }
  }

  test("simhash64 invariant under extra whitespace") {
    val cases = samples(Gen.listOfN(6, Gen.identifier.suchThat(_.nonEmpty))
      .map(ws => (ws.mkString(" "), ws.mkString("   "))), n = 50)
    val got = cases.toDF("a", "b")
      .select(TextHashing.simhash64(col("a")) ===
        TextHashing.simhash64(col("b"))).as[Boolean].collect()
    assert(got.forall(identity))
  }

  test("native dot product: symmetric, non-negative on self, exact model") {
    val vec = Gen.listOfN(8, Gen.chooseNum(-10.0, 10.0)).map(_.toArray)
    val cases = samples(Gen.zip(vec, vec), n = 100)
    val got = cases.toDF("a", "b").select(
      col("a"), col("b"),
      graft.similarity.Ann.dot(col("a"), col("b")).as("ab"),
      graft.similarity.Ann.dot(col("b"), col("a")).as("ba"),
      graft.similarity.Ann.dot(col("a"), col("a")).as("aa"))
      .as[(Array[Double], Array[Double], Double, Double, Double)].collect()
    got.foreach { case (a, b, ab, ba, aa) =>
      assert(ab == ba && aa >= 0.0)
      val model = a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
      assert(ab == model) // identical left-to-right summation
    }
  }

  test("bandPairs == brute-force pairs for random positions and epsilon") {
    for (seed <- 0 until 3) {
      val eps = Seq(1L, 7L, 1000L)(seed)
      val positions = samples(Gen.chooseNum(-5000L, 5000L), n = 120)
        .zipWithIndex.map { case (p, i) => (i.toLong, p) }
      val df = positions.toDF("id", "p").repartition(5)
      val got = graft.operators.BandJoin.bandPairs(df, "id", "p", eps)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
      val want = (for {
        (a, pa) <- positions; (b, pb) <- positions
        if a < b && math.abs(pa - pb) <= eps
      } yield (a, b)).sorted
      assert(got == want, s"eps=$eps")
    }
  }

  test("prefix-filtered jaccardPairs == plain-Scala Jaccard on random corpora") {
    // random docs over a tiny vocabulary force heavy shingle sharing —
    // the adversarial case for prefix filtering (lossless by theorem;
    // this pins the implementation)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    for (round <- 0 until 3) {
      val thr = Seq(0.5, 0.7, 0.9)(round)
      val docs = samples(
        Gen.listOfN(12, Gen.oneOf(vocab)).map(_.mkString(" ")), n = 60)
        .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = graft.dedup.Dedup
        .jaccardPairs(docs.toDF("doc_id", "text"), "doc_id", "text", 3, thr)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq.sorted
      def sh(t: String): Set[Seq[String]] =
        t.split("\\s+").filter(_.nonEmpty).sliding(3).filter(_.size == 3)
          .map(_.toSeq).toSet
      val want = (for {
        (ia, ta) <- docs; (ib, tb) <- docs
        if ia < ib
        sa = sh(ta); sb = sh(tb)
        if sa.nonEmpty && sb.nonEmpty
        j = (sa & sb).size.toDouble / (sa | sb).size
        if j >= thr
      } yield (ia, ib)).sorted
      assert(got == want, s"threshold=$thr")
    }
  }

  test("containmentPairs == plain-Scala containment on random corpora") {
    // same adversarial tiny-vocabulary corpus as the Jaccard property:
    // subject-side-only prefix filtering must stay lossless
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    for (round <- 0 until 3) {
      val thr = Seq(0.5, 0.7, 0.9)(round)
      val docs = samples(
        Gen.chooseNum(4, 14).flatMap(len =>
          Gen.listOfN(len, Gen.oneOf(vocab)).map(_.mkString(" "))), n = 60)
        .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = graft.dedup.Dedup
        .containmentPairs(docs.toDF("doc_id", "text"), "doc_id", "text", 3, thr)
        .select("doc_sub", "doc_super").as[(Long, Long)].collect().toSeq.sorted
      def sh(t: String): Set[Seq[String]] =
        t.split("\\s+").filter(_.nonEmpty).sliding(3).filter(_.size == 3)
          .map(_.toSeq).toSet
      val want = (for {
        (ia, ta) <- docs; (ib, tb) <- docs
        if ia != ib
        sa = sh(ta); sb = sh(tb)
        if sa.nonEmpty
        c = (sa & sb).size.toDouble / sa.size
        if c >= thr
      } yield (ia, ib)).sorted
      assert(got == want, s"threshold=$thr")
    }
  }

  test("band-index probe == plain-Scala cross Jaccard on random mutated corpora") {
    // the persisted-index path (build + append + probe over storage)
    // must find exactly the exact-model pair set for random corpora
    // with PLANTED near-dups: 30 base docs (40 tokens) + 15 one-token
    // mutations of earlier docs — a mutation alters ≤3 of ~38
    // shingles, so planted cross pairs sit at j ≥ 0.85 where the
    // 128/32 banding miss probability is < 5e-8 (threshold 0.8 keeps
    // the property deterministic-by-theorem, not by seed luck)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val base = samples(Gen.listOfN(40, Gen.oneOf(vocab)), n = 30)
    val muts = samples(Gen.chooseNum(0, 39), n = 15).zipWithIndex.map {
      case (pos, i) =>
        val src = base(i * 2)
        src.updated(pos, if (src(pos) == "a") "b" else "a")
    }
    val docs = (base ++ muts).map(_.mkString(" ")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("doc_id", "text")
    // split so mutations (ids 30..44) probe against their indexed
    // sources (ids 0..29), half arriving via the delta append
    val ix = Scratch.dir("bi_prop")
    graft.dedup.Dedup.bandIndexBuild(
      df.filter(col("doc_id") < 15), "doc_id", "text", 3, ix)
    graft.dedup.Dedup.bandIndexAppend(
      df.filter(col("doc_id") >= 15 && col("doc_id") < 30),
      "doc_id", "text", 3, ix)
    val got = graft.dedup.Dedup.bandIndexProbe(
        df.filter(col("doc_id") >= 30), "doc_id", "text", 3, ix, 0.8)
      .select("in_doc", "corpus_doc").as[(Long, Long)].collect().toSeq.sorted
    def sh(t: String): Set[Seq[String]] =
      t.split("\\s+").filter(_.nonEmpty).sliding(3).filter(_.size == 3)
        .map(_.toSeq).toSet
    val want = (for {
      (ia, ta) <- docs; (ib, tb) <- docs
      if ia >= 30 && ib < 30
      sa = sh(ta); sb = sh(tb)
      if sa.nonEmpty && sb.nonEmpty
      j = (sa & sb).size.toDouble / (sa | sb).size
      if j >= 0.8
    } yield (ia, ib)).sorted
    assert(want.nonEmpty, "generator must plant cross near-dup pairs")
    assert(got == want)
  }

  test("TopK plan node: all three rank modes equal a plain-Scala model") {
    // small value domain forces heavy ties; random keys and values,
    // several partitions so the partial-prune paths all fire
    val rows = samples(for {
      key <- Gen.oneOf("a", "b", "c")
      v <- Gen.chooseNum(0, 4)
    } yield (key, v), n = 300).zipWithIndex.map { case ((k, v), i) =>
      (k, i.toLong, v)
    }
    val df = rows.toDF("k", "id", "v").repartition(5)
    val byKey = rows.groupBy(_._1)
    for ((mode, modelRank) <- Seq[(graft.plans.TopKMode,
        (Seq[(String, Long, Int)], (String, Long, Int)) => Int)](
      graft.plans.RankTiesMode ->
        ((grp, r) => 1 + grp.count(_._3 > r._3)),
      graft.plans.DenseRankMode ->
        ((grp, r) => 1 + grp.map(_._3).distinct.count(_ > r._3)))) {
      val k = 2
      val got = graft.plans.TopKPlan.topKPerKey(df, Seq("k"),
        Seq("v" -> false), k = k, mode = mode)
        .select("k", "id", "rank").as[(String, Long, Int)]
        .collect().toSet
      val want = (for {
        (key, grp) <- byKey.toSeq
        r <- grp
        rank = modelRank(grp, r)
        if rank <= k
      } yield (key, r._2, rank)).toSet
      assert(got == want, s"mode $mode: ${got.diff(want).take(5)} extra, " +
        s"${want.diff(got).take(5)} missing")
    }
  }

  test("saltedJoin == plain inner join on random skewed keys") {
    val rows = samples(for {
      k <- Gen.frequency(8 -> Gen.const("hot"), 2 -> Gen.oneOf("a", "b", "c"))
      v <- Gen.chooseNum(0, 1000)
    } yield (k, v), n = 300).zipWithIndex.map { case ((k, v), i) => (i, k, v) }
    val fact = rows.toDF("id", "k", "v").repartition(7)
    val dim = Seq(("hot", 1), ("a", 2), ("b", 3)).toDF("k", "w")
    val got = graft.functions.Skew.saltedJoin(fact, dim, "k", buckets = 8)
      .select("id", "w").as[(Int, Int)].collect().toSeq.sorted
    val dimMap = Map("hot" -> 1, "a" -> 2, "b" -> 3)
    val want = rows.collect { case (i, k, _) if dimMap.contains(k) =>
      (i, dimMap(k))
    }.sorted
    assert(got == want) // "c" rows drop (inner), every other row exactly once
  }

  test("plan-node top-k == plain-Scala model for random data and k") {
    val rows = samples(for {
      key <- Gen.chooseNum(0, 6); v <- Gen.chooseNum(-100.0, 100.0)
    } yield (key, v), n = 150).zipWithIndex
      .map { case ((k, v), i) => (i.toLong, k, v) }
    for (k <- Seq(1, 3, 7)) {
      val got = graft.plans.TopKPlan.topKPerKey(
        rows.toDF("id", "key", "v").repartition(4), Seq("key"),
        Seq("v" -> false, "id" -> true), k)
        .select("key", "id", "rank").as[(Int, Long, Int)].collect().toSet
      val want = rows.groupBy(_._2).flatMap { case (key, rs) =>
        rs.sortBy(r => (-r._3, r._1)).take(k).zipWithIndex
          .map { case (r, i) => (key, r._1, i + 1) }
      }.toSet
      assert(got == want, s"k=$k")
    }
  }

  test("Misra-Gries superset guarantee on random skewed streams") {
    for (seed <- 0 until 3) {
      // zipf-ish: item i drawn with weight ~ 1/(i+1)
      val items = samples(Gen.frequency(
        (8, Gen.const("hot")), (4, Gen.const("warm")),
        (2, Gen.const("mild")), (1, Gen.chooseNum(0, 500).map(i => s"cold$i"))
      ), n = 400 + seed)
      val capacity = 6
      val surviving = items.toDF("w").repartition(3 + seed)
        .agg(graft.functions.MisraGries.sketch(col("w"), capacity).as("sk"))
        .select(explode(col("sk")).as("c"))
        .select($"c.item").as[String].collect().toSet
      val counts = items.groupBy(identity).view.mapValues(_.size).toMap
      val threshold = items.size.toDouble / (capacity + 1)
      counts.filter(_._2 > threshold).keys.foreach { k =>
        assert(surviving.contains(k),
          s"seed=$seed: $k (${counts(k)} > $threshold) must survive")
      }
    }
  }

  test("asofJoin == sequential model on random keyed series, both directions") {
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    for (seed <- 0 until 2) {
      val left = samples(for {
        k <- Gen.chooseNum(1, 3); m <- Gen.chooseNum(0, 50)
      } yield (k, m), n = 60 + seed)
        .zipWithIndex.map { case ((k, m), i) => (i.toLong, k, ts(m), m) }
      // right side unique per (key, ts) — the operator's contract
      // (the driver queries pre-aggregate to it)
      val right = samples(for {
        k <- Gen.chooseNum(1, 3); m <- Gen.chooseNum(0, 50)
      } yield (k, m), n = 80 + seed)
        .distinct.map { case (k, m) => (k, ts(m), m * 10.0) }
      val lDf = left.toDF("lid", "k", "ts", "lm")
      val rDf = right.toDF("k", "ts", "rv")

      for (dir <- Seq("backward", "forward")) {
        val got = graft.operators.AsofJoin
          .asofJoin(lDf, rDf, "k", "ts", Seq("rv"), direction = dir)
          .select($"lid", $"asof_rv").collect()
          .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double]))
          .toMap
        val model = left.map { case (lid, k, lts, _) =>
          val cand = right.filter(r => r._1 == k &&
            (if (dir == "backward") !r._2.after(lts) else !r._2.before(lts)))
          val pick =
            if (cand.isEmpty) None
            else if (dir == "backward") Some(cand.maxBy(_._2.getTime)._3)
            else Some(cand.minBy(_._2.getTime)._3)
          lid -> pick
        }.toMap
        assert(got == model, s"seed=$seed dir=$dir")
      }
    }
  }

  test("connectedComponents == union-find on random graphs") {
    for (seed <- 0 until 3) {
      val edges = samples(for {
        a <- Gen.chooseNum(0, 40)
        b <- Gen.chooseNum(0, 40)
        if a != b
      } yield (math.min(a, b).toLong, math.max(a, b).toLong), n = 60 + seed)
        .distinct
      // union-find model
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.map(n => n -> find(n)).toMap
      val got = graft.dedup.Dedup.connectedComponents(
        edges.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"seed=$seed")
      // a tiny per-task edge budget forces multi-partition contraction
      // + the star-graph propagation loop (the at-scale path)
      val gotWide = graft.dedup.Dedup.connectedComponents(
        edges.toDF("a", "b"), "a", "b", edgesPerTask = 8L)
        .as[(Long, Long)].collect().toMap
      assert(gotWide == want, s"seed=$seed (multi-partition path)")
    }
  }

  test("canonicalAppend and curationMerge == scratch on random graph growth") {
    import org.apache.spark.sql.DataFrame
    // scratch reference = the shared production aggregate (the folds
    // under test are the incremental paths; the aggregate is pinned
    // independently by the DuckDB oracle)
    def canonical(docs: DataFrame, labels: DataFrame): DataFrame =
      graft.dedup.Dedup.canonicalTable(docs, labels, "doc_id", "q")
    for (seed <- 0 until 3) {
      // old corpus: docs 0..29; delta: docs 30..44. Random old edges
      // among old docs; random delta edges with at least one delta
      // endpoint (what a band-index probe of the delta emits).
      // Deterministic q with ties (3 distinct values) so the argmax
      // tiebreak path is exercised, not dodged.
      val oldDocs = (0L until 30L).map(d => (d, (d * 7 % 3) / 4.0))
      val newDocs = (30L until 45L).map(d => (d, (d * 7 % 3) / 4.0))
      val oldEdges = samples(for {
        a <- Gen.chooseNum(0, 29); b <- Gen.chooseNum(0, 29) if a != b
      } yield (math.min(a, b).toLong, math.max(a, b).toLong),
        n = 12 + seed).distinct
      val newEdges = samples(for {
        a <- Gen.chooseNum(0, 44); b <- Gen.chooseNum(30, 44) if a != b
      } yield (math.min(a, b).toLong, math.max(a, b).toLong),
        n = 10 + seed).distinct
      val oldLabels = graft.dedup.Dedup.connectedComponents(
        oldEdges.toDF("a", "b"), "a", "b")
      val scratch = canonical((oldDocs ++ newDocs).toDF("doc_id", "q"),
          graft.dedup.Dedup.connectedComponents(
            (oldEdges ++ newEdges).toDF("a", "b"), "a", "b"))
        .as[(Long, Long, Double, Long)].collect().toSet
      // in-plan fold
      val incr = graft.dedup.Dedup.canonicalAppend(
          canonical(oldDocs.toDF("doc_id", "q"), oldLabels), oldLabels,
          newDocs.toDF("doc_id", "q"), "doc_id", "q",
          newEdges.toDF("a", "b"), "a", "b")
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(incr == scratch, s"canonicalAppend seed=$seed")
      // table merge, two deltas (old corpus bootstrap + the growth)
      val dir = Scratch.dir("prop_cur")
      graft.dedup.Dedup.curationMerge(dir, oldEdges.toDF("a", "b"),
        oldDocs.toDF("doc", "q"), "doc", "q", "a", "b", nBuckets = 4)
      graft.dedup.Dedup.curationMerge(dir, newEdges.toDF("a", "b"),
        newDocs.toDF("doc", "q"), "doc", "q", "a", "b", nBuckets = 4)
      val merged = spark.read.parquet(s"$dir/keepers")
        .select(col("component"), col("keeper"), col("keeper_q"),
          col("n_members"))
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(merged == scratch, s"curationMerge seed=$seed")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("SCD2 fromSnapshots == plain-Scala model on random snapshot logs") {
    // small domains force ts collisions (tieBreak paths), duplicate
    // runs, NULL attrs, and multi-key interleavings
    val rows = samples(for {
      k <- Gen.chooseNum(1, 4)
      ts <- Gen.chooseNum(0, 12)
      attr <- Gen.oneOf(Some("a"), Some("b"), Some("c"), None)
    } yield (k, ts, attr), n = 300)
      .zipWithIndex.map { case ((k, ts, a), tb) => (k, ts, tb, a) }

    def model(in: Seq[(Int, Int, Int, Option[String])])
      : Set[(Int, Int, Option[Int], Option[String], Boolean)] =
      in.groupBy(_._1).flatMap { case (k, rs) =>
        val ordered = rs.sortBy(r => (r._2, r._3))
        val changes = ordered.foldLeft(Vector.empty[(Int, Option[String])]) {
          case (acc, (_, ts, _, a)) =>
            if (acc.lastOption.forall(_._2 != a)) acc :+ (ts -> a) else acc
        }
        changes.zipWithIndex.map { case ((from, a), i) =>
          val to = changes.lift(i + 1).map(_._1)
          (k, from, to, a, to.isEmpty)
        }
      }.toSet

    val got = graft.operators.Scd2.fromSnapshots(
      rows.toDF("k", "ts", "tb", "attr"), "k", "ts", Seq("attr"), "tb")
      .select($"k", $"valid_from", $"valid_to", $"attr", $"is_current")
      .collect().map(r => (r.getInt(0), r.getInt(1),
        Option(r.get(2)).map(_.asInstanceOf[Int]),
        Option(r.getString(3)), r.getBoolean(4))).toSet
    assert(got == model(rows), "SCD2 must match the sequential model")

    // interval invariants: per key, [valid_from, valid_to) partitions
    // the observed span — each valid_to is the next valid_from
    got.groupBy(_._1).foreach { case (k, vs) =>
      // ts collisions make valid_from non-unique (several versions can
      // open at one timestamp); the open version's MaxValue sentinel
      // makes the chain order total
      val byFrom = vs.toSeq.sortBy(v => (v._2, v._3.getOrElse(Int.MaxValue)))
      byFrom.sliding(2).foreach {
        case Seq((_, _, to, _, cur), (_, from2, _, _, _)) =>
          assert(!cur && to.contains(from2),
            s"key $k: intervals must chain without gaps")
        case _ => ()
      }
      assert(byFrom.last._5, s"key $k: last version must be current")
    }
  }

  test("EWMA closed-form weights == sequential recurrence (model)") {
    // the a34_ewma_user formulation: w_i = α(1−α)^(N−i), w_1 lifted to
    // (1−α)^(N−1); must equal foldLeft(e_1=x_1)(e=αx+(1−α)e)
    val alpha = 0.25
    val seqs = samples(Gen.nonEmptyListOf(Gen.chooseNum(-100.0, 100.0)), 60)
    val rows = seqs.zipWithIndex.flatMap { case (xs, k) =>
      xs.zipWithIndex.map { case (x, i) => (k.toLong, i.toLong, x) }
    }
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("k")).orderBy(col("i"))
    val r = row_number().over(wOrd)
    val n = count(lit(1)).over(Window.partitionBy(col("k")))
    val weight = when(r === 1, pow(lit(1 - alpha), n - 1))
      .otherwise(lit(alpha) * pow(lit(1 - alpha), n - r))
    val got = rows.toDF("k", "i", "x")
      .withColumn("__w", weight)
      .groupBy(col("k")).agg(sum(col("__w") * col("x")).as("ewma"))
      .as[(Long, Double)].collect().toMap
    seqs.zipWithIndex.foreach { case (xs, k) =>
      val model = xs.tail.foldLeft(xs.head)((e, x) => alpha * x + (1 - alpha) * e)
      assert(math.abs(got(k.toLong) - model) < 1e-9,
        s"seq $k: ${got(k.toLong)} vs $model")
    }
  }

  test("cdc: diff(a,b) replayed onto a reproduces b, for generated snapshots") {
    import graft.operators.Cdc
    // random keyed states for both sides: overlapping + disjoint keys,
    // random value changes and nulls
    val pairs = samples(for {
      k <- Gen.chooseNum(1L, 60L)
      inA <- Gen.oneOf(true, true, false)
      inB <- Gen.oneOf(true, true, false)
      va <- Gen.option(Gen.chooseNum(0, 5))
      vb0 <- Gen.option(Gen.chooseNum(0, 5))
      same <- Gen.oneOf(true, true, false)
    } yield (k, inA, inB, va, if (same) va else vb0), n = 120)
      .groupBy(_._1).map(_._2.head).toSeq // unique pk per side
    val aRows = pairs.collect { case (k, true, _, va, _) => (k, va) }
    val bRows = pairs.collect { case (k, _, true, _, vb) => (k, vb) }
    val a = aRows.toDF("k", "v")
    val b = bRows.toDF("k", "v")
    val d = Cdc.snapshotDiff(a, b, Seq("k")).cache()
    val replayed = a
      .join(d.select(col("k")), Seq("k"), "left_anti")
      .unionByName(d.filter(col("op") =!= "delete")
        .select(col("k"), col("new_v").as("v")))
    val got = replayed.as[(Long, Option[Int])].collect().toSet
    assert(got == bRows.toSet)
    // and the diff is MINIMAL: keys present in both snapshots with
    // equal values never appear in the change set
    val aMap = aRows.toMap
    val unchangedKeys = bRows.collect {
      case (k, v) if aMap.get(k).contains(v) => k
    }.toSet
    val diffKeys = d.select(col("k")).as[Long].collect().toSet
    assert(diffKeys.intersect(unchangedKeys).isEmpty,
      "diff contains keys whose value did not change")
  }

  test("weightedSample is invariant to row order and partitioning") {
    import graft.functions.Sampling
    val rows = samples(for {
      id <- Gen.chooseNum(1L, 100000L)
      w <- Gen.chooseNum(1.0, 5000.0)
    } yield (id, w), n = 300).groupBy(_._1).map(_._2.head).toSeq
    def sampleOf(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      Sampling.weightedSample(df, "id", "w", k = 25)
        .select(col("id")).as[Long].collect().sorted.toSeq
    val base = sampleOf(rows.toDF("id", "w"))
    val shuffled = sampleOf(new scala.util.Random(7).shuffle(rows)
      .toDF("id", "w").repartition(13))
    assert(base == shuffled,
      "the sample must be a pure function of (id, w), not layout")
    assert(base.size == 25)
  }
}
