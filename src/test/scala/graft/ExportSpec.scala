package graft

import org.apache.spark.sql.functions._
import graft.io.{Export, Scratch}

/** Sharded-export semantics: routing is a pure id function (misroute
  * = silent training-data corruption), re-writes are deterministic,
  * file sizes respect the bound, and hash routing balances shards.
  */
class ExportSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() =
    s"${Scratch.dir("export")}/out"

  private def corpus = (1L to 8000L).map(i => (i, s"doc body $i")).toDF("doc_id", "text")

  test("round-trip fidelity and routing: every row in its hash shard") {
    val dir = freshDir()
    val r = Export.shardedWrite(corpus, "doc_id", 8, dir)
    assert(r.rows == 8000L && r.shards == 8)
    val back = spark.read.parquet(dir)
    assert(back.count() == 8000L)
    // no row in a directory its id doesn't hash to
    val misrouted = back.filter(
      col("shard") =!= Export.shardOf(col("doc_id"), 8)).count()
    assert(misrouted == 0L)
    // content intact
    assert(back.filter(col("text") =!= concat(lit("doc body "), col("doc_id")))
      .count() == 0L)
    // all 8 shard values materialized (8000 uniform rows: P(empty)≈0)
    assert(back.select("shard").distinct().count() == 8L)
  }

  test("re-export of a grown corpus keeps old rows in their shards") {
    val a = freshDir(); val b = freshDir()
    Export.shardedWrite(corpus, "doc_id", 8, a)
    Export.shardedWrite(
      (1L to 12000L).map(i => (i, s"doc body $i")).toDF("doc_id", "text"),
      "doc_id", 8, b)
    val before = spark.read.parquet(a).select("doc_id", "shard")
    val after = spark.read.parquet(b).select("doc_id", "shard")
    assert(before.join(after, Seq("doc_id"))
      .filter(before("shard") =!= after("shard")).count() == 0L)
  }

  test("maxRecordsPerFile bounds every output file") {
    val dir = freshDir()
    val r = Export.shardedWrite(corpus, "doc_id", 4, dir,
      maxRecordsPerFile = 500L)
    // 8000 rows / 4 shards ≈ 2000/shard → ≥ 4 files per shard
    assert(r.files >= 16, s"expected >=16 bounded files, got ${r.files}")
    val perFile = spark.read.parquet(dir)
      .select(input_file_name().as("f"))
      .groupBy("f").count().agg(max("count")).as[Long].head()
    assert(perFile <= 500L, s"file exceeds bound: $perFile rows")
  }

  test("hash routing balances shards; sortWithin orders rows inside a shard") {
    val dir = freshDir()
    Export.shardedWrite(corpus, "doc_id", 8, dir,
      sortWithin = Seq(col("doc_id").desc))
    val sizes = spark.read.parquet(dir).groupBy("shard").count()
      .as[(Int, Long)].collect().map(_._2)
    assert(sizes.length == 8)
    assert(sizes.max <= 2 * sizes.min,
      s"shard skew beyond uniform-hash expectation: ${sizes.toSeq}")
    // within one shard file, rows are in the requested (descending) order
    val oneFile = spark.read.parquet(dir)
      .withColumn("f", input_file_name())
      .filter(col("shard") === 3).select("f", "doc_id").collect()
      .groupBy(_.getString(0)).map(_._2.map(_.getLong(1)).toSeq)
    oneFile.foreach(ids => assert(ids == ids.sorted.reverse,
      "rows inside a shard file must follow sortWithin order"))
  }
}
