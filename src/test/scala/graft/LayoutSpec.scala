package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Layout
import graft.io.Scratch

/** Z-order layout semantics and the file-skipping payoff: the same
  * rows written z-clustered vs singly-sorted, probed with range
  * predicates on each dimension; files whose min/max stats exclude
  * the range produce no rows, so `input_file_name()` counts the files
  * actually read past pruning.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bits (x even, y odd), masks out-of-range") {
    val got = Seq((5, 3), (0, 0), (255, 0), (0, 255), (256 + 5, 3))
      .toDF("x", "y")
      .select(Layout.zValue(col("x"), col("y"), 8)).as[Long].collect().toSeq
    // x=101b at even bits -> 1+16+256? no: bits of 5 = i0,i2 ->
    // z bits 0 and 4; y=011b -> z bits 1 and 3 => 1+2+8+16 = 27
    assert(got(0) == 27L)
    assert(got(1) == 0L)
    assert(got(2) == (0 until 8).map(i => 1L << (2 * i)).sum)
    assert(got(3) == (0 until 8).map(i => 1L << (2 * i + 1)).sum)
    // 261 & 255 == 5: masked to the declared bit budget
    assert(got(4) == 27L)
  }

  test("range-partitioned layout: total order across files, ~1-file probes") {
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
      .select(col("event_id"), col("user_id"), col("ts"))
    val base = Scratch.dir("range")
    ev.repartitionByRange(8, col("ts")).sortWithinPartitions(col("ts"))
      .write.parquet(s"$base/range")
    // unclustered control: same rows, ts scattered across every file
    ev.repartition(8).write.parquet(s"$base/shuffled")
    def filesRead(dir: String, cond: org.apache.spark.sql.Column): Long =
      spark.read.parquet(dir).filter(cond)
        .select(input_file_name()).distinct().count()
    val total = filesRead(s"$base/range", lit(true))
    assert(total == 8, s"explicit partition count pins the file count: $total")
    // file ranges are pairwise disjoint -> a narrow ts probe hits ~1 file
    val perFile = spark.read.parquet(s"$base/range")
      .groupBy(input_file_name()).agg(min(col("ts")).as("lo"),
        max(col("ts")).as("hi"))
      .orderBy(col("lo")).collect()
    perFile.sliding(2).foreach { w =>
      if (w.length == 2)
        assert(!w(0).getTimestamp(2).after(w(1).getTimestamp(1)),
          "file time ranges must not interleave")
    }
    val probe = col("ts").between("2024-01-05 00:00:00", "2024-01-05 06:00:00")
    val pruned = filesRead(s"$base/range", probe)
    assert(pruned <= 2, s"narrow ts probe must prune to ~1 file, read $pruned")
    assert(filesRead(s"$base/shuffled", probe) == 8,
      "the unclustered layout cannot prune any file")
  }

  test("z-clustered layout prunes files on BOTH dimensions") {
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
      .select(col("event_id"), col("user_id"), hour(col("ts")).as("hr"),
        col("value"))
    val base = Scratch.dir("layout")
    def write(df: DataFrame, name: String): String = {
      val p = s"$base/$name"
      df.repartition(1).write.option("maxRecordsPerFile", 500).parquet(p)
      p
    }
    val zdir = write(ev.sortWithinPartitions(
      Layout.zValue(col("user_id"), col("hr"), 8)), "z")
    val ldir = write(ev.sortWithinPartitions(col("user_id")), "linear")
    def filesRead(dir: String, cond: org.apache.spark.sql.Column): Long =
      spark.read.parquet(dir).filter(cond)
        .select(input_file_name()).distinct().count()
    val total = filesRead(zdir, lit(true))
    assert(total >= 10, s"need a multi-file layout, got $total files")
    // leading-dimension predicate: both layouts prune
    val userCond = col("user_id").between(10, 19)
    assert(filesRead(ldir, userCond) < total / 2)
    val zUser = filesRead(zdir, userCond)
    assert(zUser < total, s"z layout must prune on user_id: $zUser/$total")
    // second-dimension predicate: the singly-sorted layout reads
    // everything (hr spans every file); z-clustering keeps pruning
    val hrCond = col("hr").between(2, 3)
    val linHr = filesRead(ldir, hrCond)
    val zHr = filesRead(zdir, hrCond)
    assert(linHr == total,
      s"single-sort layout cannot prune the trailing dim: $linHr/$total")
    assert(zHr < total,
      s"z layout must prune the second dimension too: $zHr/$total")
  }
}
