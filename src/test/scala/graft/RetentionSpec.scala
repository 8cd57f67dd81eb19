package graft

import java.io.File

import org.apache.spark.sql.functions._
import graft.io.{Retention, Scratch}

/** Retention semantics: expired partitions removed whole, surviving
  * partitions untouched (same files, not rewritten); the row-level
  * fallback keeps exactly the predicate's rows through the validated
  * swap.
  */
class RetentionSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() =
    s"${Scratch.dir("retention")}/t"

  test("expirePartitions drops old partitions, never opens survivors") {
    val dir = freshDir()
    val df = (1 to 1000).map { i =>
      (i.toLong, f"2026-08-${i % 10 + 1}%02d", s"payload_$i")
    }.toDF("id", "dt", "s")
    df.write.partitionBy("dt").parquet(dir)

    // list survivors via the filesystem: inputFiles on a filtered
    // read still lists the whole relation (pruning happens at scan)
    def files(d: File): Set[String] =
      if (d.isDirectory) d.listFiles().toSet.flatMap(files)
      else if (d.getName.endsWith(".parquet")) Set(d.getAbsolutePath)
      else Set.empty[String]
    val survivorFiles = new File(dir).listFiles().toSet
      .filter(d => d.getName >= "dt=2026-08-05").flatMap(files)
    val want = df.filter(col("dt") >= "2026-08-05")
      .agg(sum(col("id")), count(lit(1))).as[(Long, Long)].head()

    val r = Retention.expirePartitions(spark, dir, "dt", "2026-08-05")
    assert(r.partitionsDropped == 4, s"expected 4 dropped, got $r")
    assert(r.filesDropped > 0 && r.bytesDropped > 0)

    val after = spark.read.parquet(dir)
    assert(after.agg(sum(col("id")), count(lit(1)))
      .as[(Long, Long)].head() == want)
    // survivors are the SAME files — retention must not rewrite them
    assert(after.inputFiles.map(_.stripPrefix("file://")).toSet == survivorFiles)
    assert(!new File(dir).listFiles().exists(_.getName.contains(".trash")),
      "trash dirs must be cleaned up")
  }

  test("expirePartitions with a future cutoff is a no-op") {
    val dir = freshDir()
    (1 to 100).map(i => (i, s"2026-01-0${i % 5 + 1}"))
      .toDF("id", "dt").write.partitionBy("dt").parquet(dir)
    val before = spark.read.parquet(dir).inputFiles.toSet
    val r = Retention.expirePartitions(spark, dir, "dt", "2026-01-01")
    assert(r.partitionsDropped == 0 && r.filesDropped == 0)
    assert(spark.read.parquet(dir).inputFiles.toSet == before)
  }

  test("expireRows keeps exactly the predicate's rows via the swap") {
    val dir = freshDir()
    (1L to 5000L).map(i => (i, i % 7)).toDF("id", "bucket")
      .repartition(8).write.parquet(dir)
    val (kept, dropped) = Retention.expireRows(spark, dir,
      col("bucket") =!= 0)
    assert(kept == 4286L && dropped == 714L, s"($kept, $dropped)")
    val after = spark.read.parquet(dir)
    assert(after.count() == kept)
    assert(after.filter(col("bucket") === 0).count() == 0)
    // no leftover temp/aside siblings
    val parent = new File(dir).getParentFile
    assert(!parent.listFiles().exists(_.getName.contains(".retention.")),
      "swap siblings must be cleaned up")
  }
}
