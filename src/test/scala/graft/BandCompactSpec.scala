package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.io.Scratch

/** Band-index compaction: layout-only — row conservation, probe
  * equality, file-count reduction, staging hygiene.
  */
class BandCompactSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def probeSet(ix: String): Set[(Long, Long)] = {
    import spark.implicits._
    Dedup.bandIndexProbe(
      Tables.documents(spark, dir).filter(col("doc_id") < 30),
      "doc_id", "text", 3, ix, 0.8)
      .select(col("in_doc").cast("long"), col("corpus_doc").cast("long"))
      .as[(Long, Long)].collect().toSet
  }

  test("compaction preserves rows and probe results, folds ingest partitions, bounds files") {
    val ix = Scratch.dir("band_compact_spec")
    val docs = Tables.documents(spark, dir)
    Dedup.bandIndexBuild(docs.filter(col("doc_id") >= 60), "doc_id", "text", 3, ix)
    Dedup.bandIndexIngestBatch(
      docs.filter(col("doc_id") >= 30 && col("doc_id") < 45),
      "doc_id", "text", 3, ix, batchId = 0)
    Dedup.bandIndexIngestBatch(
      docs.filter(col("doc_id") >= 45 && col("doc_id") < 60),
      "doc_id", "text", 3, ix, batchId = 1)
    val before = probeSet(ix)
    val rowsBefore = (spark.read.parquet(s"$ix/shingles").count(),
      spark.read.parquet(s"$ix/bands").count())
    def parquetFiles(p: String): Int = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try it.filter(_.toString.endsWith(".parquet")).count().toInt
      finally it.close()
    }
    val filesBefore = parquetFiles(s"$ix/bands")

    Dedup.bandIndexCompact(spark, ix)

    assert((spark.read.parquet(s"$ix/shingles").count(),
      spark.read.parquet(s"$ix/bands").count()) == rowsBefore)
    assert(probeSet(ix) == before, "compaction changed probe results")
    // three ingest partitions folded into one
    val ingests = new java.io.File(s"$ix/bands").list().toSeq
      .filter(_.startsWith("ingest="))
    assert(ingests == Seq("ingest=-1"), s"unexpected partitions: $ingests")
    assert(parquetFiles(s"$ix/bands") < filesBefore,
      "compaction should reduce the band-table file count")
    val leftovers = new java.io.File(ix).list().toSeq
      .filter(f => f.endsWith("_staged") || f.endsWith("_old"))
    assert(leftovers.isEmpty, s"staging residue: $leftovers")
    // the compacted index keeps accepting appends (uniform layout)
    Dedup.bandIndexAppend(
      docs.filter(col("doc_id") >= 30 && col("doc_id") < 60),
      "doc_id", "text", 3, ix)
    assert(probeSet(ix) == before,
      "re-appending the same docs must not invent new probe pairs")
  }
}
