package graft

import org.apache.spark.sql.functions._
import graft.io.{Compaction, PersistedTable, Scratch}

/** Compaction semantics: fewer files, identical rows, no shuffle in
  * the rewrite plan, sane file-count targeting.
  */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() =
    s"${Scratch.dir("compact")}/t"

  test("compacts many small files into few; rows and values intact") {
    val dir = freshDir()
    val df = (1L to 10000L).map(i => (i, s"row_$i")).toDF("id", "s")
    df.repartition(40).write.parquet(dir)
    val before = spark.read.parquet(dir)
    assert(before.inputFiles.length == 40)
    val want = before.agg(sum(col("id")), count(lit(1)))
      .as[(Long, Long)].head()

    val r = Compaction.compact(spark, dir, targetBytes = 1L << 30)
    assert(r.filesBefore == 40 && r.filesAfter == 1)
    assert(r.rows == 10000L)
    val after = spark.read.parquet(dir)
    assert(after.inputFiles.length == 1)
    assert(after.agg(sum(col("id")), count(lit(1)))
      .as[(Long, Long)].head() == want)
  }

  test("targetBytes splits output into multiple files") {
    val dir = freshDir()
    (1L to 20000L).map(i => (i, ("x" * 100) + i)).toDF("id", "s")
      .repartition(30).write.parquet(dir)
    val bytes = Compaction.compact(spark, dir, targetBytes = 1L << 30).bytes
    // recompact the single file world back out: pick a target 1/3 the
    // measured size -> expect 3-4 files (ceil division)
    (1L to 20000L).map(i => (i, ("x" * 100) + i)).toDF("id", "s")
      .repartition(30).write.mode("overwrite").parquet(dir)
    val r = Compaction.compact(spark, dir, targetBytes = bytes / 3 + 1)
    assert(r.filesAfter >= 2 && r.filesAfter <= 4, r.toString)
    assert(r.rows == 20000L)
  }

  test("the rewrite plan is shuffle-free (coalesce, not repartition)") {
    val dir = freshDir()
    (1L to 1000L).toDF("id").repartition(10).write.parquet(dir)
    val plan = spark.read.parquet(dir).coalesce(1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("a failed swap restores the original and leaves no aside behind") {
    val live = new java.io.File(freshDir())
    (1L to 100L).toDF("id").repartition(3).write.parquet(live.getPath)
    val original = live.list().toSet
    val staged = new java.io.File(live.getParentFile, "t.missing")
    val aside = new java.io.File(live.getParentFile, "t.aside")
    val e = intercept[IllegalStateException](
      PersistedTable.replace(live, staged, aside))
    assert(e.getMessage.contains("original restored"), e.getMessage)
    assert(live.list().toSet == original)
    assert(spark.read.parquet(live.getPath).count() == 100L)
    assert(!aside.exists())
  }
}
