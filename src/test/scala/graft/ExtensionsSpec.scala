package graft

import org.apache.spark.sql.functions._
import graft.functions.{BpeEncode, BpeMerge, Cms, MisraGries, Skew, TextHashing, UnicodeNorm, VectorExprs}

/** SparkSessionExtensions-based SQL registration of the native
  * expressions, skew-salting equality, and bucketed co-located joins
  * (the shuffle-free join strategy for repeated big-big joins).
  */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("GraftExtensions exposes native expressions to pure SQL") {
    // TestSession is built with spark.sql.extensions=graft.GraftExtensions;
    // no programmatic register() call happens here.
    val dot = spark.sql(
      "SELECT graft_dot_d(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .collect()(0).getDouble(0)
    assert(dot == 11.0)
    val nShingles = spark.sql("SELECT size(graft_ngram_hashes('a b c d', 2))")
      .collect()(0).getInt(0)
    assert(nShingles == 3)
    val sim = spark.sql(
      "SELECT graft_simhash64('a b c') = graft_simhash64('a  b   c')")
      .collect()(0).getBoolean(0)
    assert(sim) // whitespace-run tokenization
    val nBands = spark.sql(
      "SELECT size(graft_minhash_bands(graft_ngram_hashes('a b c d e', 2), 128, 32, 7))")
      .collect()(0).getInt(0)
    assert(nBands == 32)
    val norm = spark.sql("SELECT graft_normalize_ws('  A\tb  C ')")
      .collect()(0).getString(0)
    assert(norm == "a b c")
    // injected AGGREGATE function: analyzer wraps it automatically
    val hh = spark.sql(
      """SELECT c.item FROM (
        |  SELECT explode(graft_misra_gries(w, 3)) AS c
        |  FROM VALUES ('a'),('a'),('a'),('b'),('b'),('z') AS t(w))""".stripMargin)
      .as[String].collect().toSet
    assert(Set("a", "b").subsetOf(hh))
  }

  test("Column helpers reach their expressions without the function registry") {
    val row = Seq(("A  b c", Seq(1.0, 2.0), Seq("a", "b", "a", "b")))
      .toDF("t", "v", "syms")
    val pairs = typedLit(Seq("a", "b"))
    val scalars = row.select(
      VectorExprs.dot(col("v"), col("v")).as("dot"),
      VectorExprs.argmaxCell(col("v"), typedLit(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))))
        .as("cell"),
      size(TextHashing.ngramHashes(col("t"), 2)).as("grams"),
      TextHashing.simhash64(col("t")).isNotNull.as("sim"),
      size(TextHashing.minhashBands(TextHashing.ngramHashes(col("t"), 2), 8, 4, 7L))
        .as("bands"),
      TextHashing.normalizeWs(col("t")).as("norm"),
      size(TextHashing.termCounts(col("syms"))).as("terms"),
      size(BpeMerge.pairCounts(col("syms"))).as("pc"),
      BpeMerge.mergeBatch(col("syms"), pairs).as("merged"),
      BpeEncode.encodeRanked(col("syms"), pairs).as("encoded"),
      UnicodeNorm.nfc(lit("cafe\u0301")).as("nfc"))
      .collect()(0)
    assert(scalars.getDouble(0) == 5.0 && scalars.getInt(1) == 1)
    assert(scalars.getInt(2) == 2 && scalars.getBoolean(3) && scalars.getInt(4) == 4)
    assert(scalars.getString(5) == "a b c" && scalars.getInt(6) == 2 &&
      scalars.getInt(7) == 2)
    assert(scalars.getSeq[String](8) == Seq("ab", "ab") &&
      scalars.getSeq[String](9) == Seq("ab", "ab"))
    assert(scalars.getString(10) == "caf\u00e9")
    val sketch = row.agg(MisraGries.sketch(col("t"), 2).as("mg"),
      expr("count_min_sketch(t, 0.01d, 0.99d, 7)").as("cms"))
    val probes = sketch.select(size(col("mg")),
      Cms.estimate(Cms.merge(col("cms"), col("cms")), lit("A  b c")))
      .as[(Int, Long)].collect()(0)
    assert(probes == ((1, 2L)))
    // GraftExtensions is the only writer of the function registry
    val names = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    assert(names == Set("graft_dot_d", "graft_ngram_hashes", "graft_simhash64",
      "graft_minhash_bands", "graft_normalize_ws", "graft_misra_gries"))
  }

  test("salted count/avg equal plain groupBy results") {
    val df = Seq(("a", 1.0), ("a", 3.0), ("b", 10.0)).toDF("k", "v")
    val salted = Skew.saltedAvg(df, col("k"), col("v"), 8)
      .select("key", "avg", "n").as[(String, Double, Long)].collect().toSet
    assert(salted == Set(("a", 2.0, 2L), ("b", 10.0, 1L)))
    val counts = Skew.saltedCount(df, col("k"), 8)
      .as[(String, Long)].collect().toSet
    assert(counts == Set(("a", 2L), ("b", 1L)))
  }

  test("stratified sampling: sampleBy respects per-stratum fractions, seeded") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val fractions = Map("en" -> 0.5, "es" -> 0.1)
    val s1 = docs.stat.sampleBy("lang", fractions, seed = 42L)
    val s2 = docs.stat.sampleBy("lang", fractions, seed = 42L)
    // deterministic under a fixed seed
    assert(s1.exceptAll(s2).isEmpty && s2.exceptAll(s1).isEmpty)
    // only requested strata appear; fractions roughly respected
    val byLang = s1.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang.keySet.subsetOf(fractions.keySet))
    val enTotal = docs.filter(col("lang") === "en").count()
    val ratio = byLang.getOrElse("en", 0L).toDouble / enTotal
    assert(ratio > 0.25 && ratio < 0.75, s"en ratio $ratio")
  }

  test("deterministic split assignment: bucket boundaries land 80/10/10") {
    // bucket = (id * 2654435761) % 100; 2654435761 ≡ 61 (mod 100) with
    // inverse 41, so ids hitting buckets 79/80/89/90 exactly are
    // 39/80/49/90 — the four split-edge cases
    val b = pmod(col("id") * lit(2654435761L), lit(100))
    val split = when(b < 80, "train").when(b < 90, "val").otherwise("test")
    val got = Seq(39L, 80L, 49L, 90L).toDF("id")
      .select(col("id"), split.as("s")).as[(Long, String)].collect().toMap
    assert(got == Map(39L -> "train", 80L -> "val", 49L -> "val",
      90L -> "test"))
    // over a full residue cycle the split is exactly 80/10/10 — and a
    // doc's assignment is a pure function of its id, so it can never
    // change when the corpus grows (the stability sample() lacks)
    val frac = (0L until 1000L).toDF("id").select(split.as("s"))
      .groupBy("s").count().as[(String, Long)].collect().toMap
    assert(frac == Map("train" -> 800L, "val" -> 100L, "test" -> 100L))
  }

  test("knuthBucket: modular form matches direct product, no overflow") {
    // identical to (id·2654435761) mod 100 wherever the product fits —
    // and still defined at 100 TB id ranges where the direct i64
    // product overflows (an ANSI-mode runtime error)
    val small = (0L until 500L) ++ Seq(39L, 49L, 80L, 90L)
    val gotSmall = small.toDF("id")
      .select(graft.functions.Binning.knuthBucket(col("id"))).as[Long].collect()
    small.zip(gotSmall).foreach { case (id, b) =>
      assert(b == (id * 2654435761L) % 100, s"id $id")
    }
    val huge = Seq(Long.MaxValue, Long.MaxValue - 1, 4_000_000_000L,
      987_654_321_012L)
    val gotHuge = huge.toDF("id")
      .select(graft.functions.Binning.knuthBucket(col("id"))).as[Long].collect()
    huge.zip(gotHuge).foreach { case (id, b) =>
      assert(b == ((id % 100) * 61) % 100 && b >= 0 && b < 100,
        s"id $id -> $b")
    }
  }

  test("leakage guards: group split is source-atomic; embargo separates") {
    val dir = "/root/testdata/sf0.001"
    // group split: every source lands in exactly ONE split
    val src = regexp_replace(col("source"), "[^0-9]", "").cast("long")
    val b = pmod(src * lit(2654435761L), lit(100))
    val perSource = Tables.documents(spark, dir)
      .withColumn("split",
        when(b < 80, "train").when(b < 90, "val").otherwise("test"))
      .groupBy(col("source"))
      .agg(countDistinct(col("split")).as("k"))
      .agg(max(col("k"))).collect()(0).getLong(0)
    assert(perSource == 1L, "a source must never straddle splits")
    // temporal split: min test ts − max train ts ≥ the 1-day embargo
    val ev = Tables.events(spark, dir)
    val maxTrain = ev.filter(col("ts") < lit("2024-01-22 00:00:00"))
      .agg(max(col("ts"))).collect()(0).getTimestamp(0).getTime
    val minTest = ev.filter(col("ts") >= lit("2024-01-23 00:00:00"))
      .agg(min(col("ts"))).collect()(0).getTimestamp(0).getTime
    assert(minTest - maxTrain >= 24L * 3600 * 1000,
      s"embargo violated: gap ${minTest - maxTrain} ms")
  }

  test("approx aggregates: approx_count_distinct and percentile_approx sane") {
    val df = Tables.events(spark, "/root/testdata/sf0.001")
    val (exact, approx) = df.select(
      countDistinct(col("user_id")).as("e"),
      approx_count_distinct(col("user_id")).as("a"))
      .as[(Long, Long)].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
    val (p50a, p50e) = df.select(
      percentile_approx(col("value"), lit(0.5), lit(10000)),
      expr("percentile(value, 0.5)")).as[(Double, Double)].head()
    assert(math.abs(p50a - p50e) / p50e < 0.01)
    // the a24 driver query hashes (exact, within-bound boolean) — the
    // oracle checks the error CONTRACT; the per-group bound is also
    // pinned here directly
    val rows = graft.analytics.ExtendedQueries
      .queries("a24_approx_distinct")(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Boolean)].collect()
    assert(rows.nonEmpty && rows.forall(_._3),
      "every group's estimate must sit inside the documented envelope")
  }

  test("na.drop removes rows with nulls in the named subset (F5)") {
    val df = Seq((Some(1.0), Some("x")), (None, Some("y")),
      (Some(3.0), None)).toDF("v", "s")
    assert(df.na.drop(Seq("v")).count() == 2)
    assert(df.na.drop(Seq("v", "s")).count() == 1)
  }

  test("bucketed tables co-locate the join: no exchange in the plan") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
        .select("l_orderkey", "l_extendedprice")
      val o = Tables.orders(spark, "/root/testdata/sf0.001")
        .select("o_orderkey", "o_custkey")
      li.write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("li_b")
      o.write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("o_b")
      val joined = spark.table("li_b").join(spark.table("o_b"),
        col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"expected shuffle-free bucketed join, got:\n$plan")
      assert(joined.count() ==
        li.join(o, col("l_orderkey") === col("o_orderkey")).count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
