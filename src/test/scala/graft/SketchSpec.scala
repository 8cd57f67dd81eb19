package graft

import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch
import graft.io.Scratch

/** Sketch contracts behind SketchQueries' oracle booleans: exact-mode
  * boundaries, mergeability, and the frequent-items / count-min error
  * guarantees in their genuinely-approximate regimes.
  */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  test("theta sketch is exact below k entries, bounded-error above") {
    val small = (1L to 3000L).toDF("v")
      .agg(expr("theta_sketch_estimate(theta_sketch_agg(v))").as("e"))
      .as[Long].head()
    assert(small == 3000L, "below k=4096 the sketch stores every hash")
    val big = (1L to 50000L).toDF("v")
      .agg(expr("theta_sketch_estimate(theta_sketch_agg(v))").as("e"))
      .as[Long].head()
    assert(math.abs(big - 50000L) <= 0.05 * 50000, s"estimate $big off >5%")
    assert(big != 50000L, "above k the estimate is genuinely approximate")
  }

  test("theta set algebra sums: |A∩B| + |A\\B| tracks |A|") {
    // A = 1..20000, B = 10001..30000 (true: |A∩B|=10000, |A\B|=10000)
    val df = (1L to 30000L).toDF("v")
    val row = df.agg(
        expr("theta_sketch_agg(CASE WHEN v <= 20000 THEN v END)").as("a"),
        expr("theta_sketch_agg(CASE WHEN v > 10000 THEN v END)").as("b"))
      .select(
        expr("theta_sketch_estimate(theta_intersection(a, b))").as("inter"),
        expr("theta_sketch_estimate(theta_difference(a, b))").as("diff"))
      .as[(Long, Long)].head()
    assert(math.abs(row._1 - 10000L) <= 1000, s"intersection ${row._1}")
    assert(math.abs(row._2 - 10000L) <= 1500, s"difference ${row._2}")
  }

  test("hll union of partial sketches equals the single-pass sketch") {
    val df = (1L to 40000L).toDF("v")
    val whole = df.agg(expr("hll_sketch_estimate(hll_sketch_agg(v, 12))"))
      .as[Long].head()
    // partial per bucket (as if per partition/day), then union-merged
    val merged = df.groupBy(pmod(col("v"), lit(7)).as("g"))
      .agg(expr("hll_sketch_agg(v, 12)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))"))
      .as[Long].head()
    assert(merged == whole,
      "sketch merge must be lossless vs one-pass construction")
    assert(math.abs(whole - 40000L) <= 0.05 * 40000, s"estimate $whole")
  }

  test("undersized frequent-items sketch still pins the heavy hitter") {
    // 5000 distinct light items + one key covering 20% of the stream,
    // tracked capacity 64 << 5001 distinct: eviction happens, yet the
    // guarantee (est >= true - err, heavy hitters survive) holds
    val heavy = Seq.fill(1250)(-1L)
    val light = (1L to 5000L).toSeq
    val est = (heavy ++ light).toDF("v")
      .agg(expr("approx_top_k_accumulate(v, 64)").as("st"))
      .select(explode(expr("approx_top_k_estimate(st, 1)")).as("e"))
      .select(col("e.item").cast("long"), col("e.count").cast("long"))
      .as[(Long, Long)].head()
    assert(est._1 == -1L, s"top item must be the heavy hitter, got $est")
    assert(est._2 >= 1250L, "frequent-items estimates never undercount")
    assert(est._2 <= 1250L + 6250L / 64,
      "overcount is bounded by n/capacity")
  }

  test("sketches survive parquet storage: stored partials merge losslessly") {
    // the stored-aggregate pattern: per-day sketches persisted once,
    // any later rollup merges summaries without rescanning facts
    val dir = Scratch.dir("sk")
    val df = (1L to 30000L).toDF("v")
      .withColumn("day", pmod(col("v"), lit(5)))
    df.groupBy("day")
      .agg(expr("hll_sketch_agg(v, 12)").as("hll"),
        expr("theta_sketch_agg(v)").as("theta"))
      .write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val (hllMerged, thetaMerged) = stored
      .agg(expr("hll_sketch_estimate(hll_union_agg(hll))"),
        expr("theta_sketch_estimate(theta_union_agg(theta))"))
      .as[(Long, Long)].head()
    val direct = df.agg(expr("hll_sketch_estimate(hll_sketch_agg(v, 12))"))
      .as[Long].head()
    assert(hllMerged == direct, "stored-partial merge must equal one-pass")
    assert(math.abs(thetaMerged - 30000L) <= 0.05 * 30000)
  }

  test("count-min sketch: est >= true and est <= true + eps*n") {
    val eps = 0.01
    val n = 6250L
    val bytes = ((1L to 5000L) ++ Seq.fill(1250)(-1L)).toDF("v")
      .agg(expr(s"count_min_sketch(v, ${eps}d, 0.99d, 42)").as("sk"))
      .select(col("sk")).as[Array[Byte]].head()
    val cms = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))
    assert(cms.totalCount() == n)
    val e = cms.estimateCount(java.lang.Long.valueOf(-1L))
    assert(e >= 1250L && e <= 1250L + (eps * n).toLong,
      s"heavy-hitter estimate $e outside CMS bounds")
    val l = cms.estimateCount(java.lang.Long.valueOf(17L))
    assert(l >= 1L && l <= 1L + (eps * n).toLong,
      s"light-item estimate $l outside CMS bounds")
  }

  test("cms expressions: merge-then-probe equals one-pass probe, " +
    "string hashing matches the aggregate") {
    import graft.functions.Cms
    val df = (1 to 2000)
      .map(i => (i.toLong, if (i % 3 == 0) "fee" else if (i % 3 == 1) "fie" else "foe"))
      .toDF("id", "w")
    val sks = df.agg(
      expr("count_min_sketch(CASE WHEN id % 2 = 0 THEN w END, 0.001d, 0.99d, 7)")
        .as("a"),
      expr("count_min_sketch(CASE WHEN id % 2 = 1 THEN w END, 0.001d, 0.99d, 7)")
        .as("b"),
      expr("count_min_sketch(w, 0.001d, 0.99d, 7)").as("whole"))
    val probes = Seq("fee", "fie", "foe", "fum").toDF("w")
      .crossJoin(sks)
      .select(col("w"),
        Cms.estimate(Cms.merge(col("a"), col("b")), col("w")).as("merged"),
        Cms.estimate(col("whole"), col("w")).as("onepass"))
      .collect()
    val exact = df.groupBy("w").count().as[(String, Long)].collect().toMap
    for (r <- probes) {
      assert(r.getLong(1) == r.getLong(2),
        s"merge-of-shards must probe identically to the one-pass sketch: $r")
      // ample width (2000 counters) vs 4 keys: estimates are exact,
      // proving the probe path hashes strings like the agg's update
      assert(r.getLong(2) == exact.getOrElse(r.getString(0), 0L), s"$r")
    }
  }

  test("cms expression probes integral items (agg addLong parity)") {
    import graft.functions.Cms
    val sk = (1L to 100L).toDF("v")
      .agg(expr("count_min_sketch(v, 0.001d, 0.99d, 7)").as("sk"))
    val got = sk.select(Cms.estimate(col("sk"), lit(42L))).as[Long].head()
    assert(got == 1L)
  }
}
