package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.{Boilerplate, Dedup}
import graft.io.{PersistedTable, Scratch}
import graft.similarity.Ann
import graft.text.Bm25

/** Every persisted index and fold-table write, fed a multi-split
  * input, adds exactly one parquet file to each partition directory it
  * writes: the write runs one task per bucket, never tasks × buckets.
  */
class BucketedLayoutSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs(from: Long, until: Long): DataFrame =
    Tables.documents(spark, sf)
      .filter(col("doc_id") >= from && col("doc_id") < until).repartition(4)
  private def vecs(from: Long, until: Long, idShift: Long = 0L): DataFrame =
    Tables.embeddings(spark, sf)
      .filter(col("vec_id") >= from && col("vec_id") < until)
      .withColumn("vec_id", col("vec_id") + idShift).repartition(4)
  private def pairs(ps: Seq[(Long, Long)]): DataFrame =
    ps.toDF("a", "b").repartition(4)
  private def quality(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, (i % 13) / 13.0)).toDF("doc_id", "q").repartition(4)

  /** A write under test: `setup` prepares the index at `ix` unchecked,
    * `write` is the checked call, and `tables` names the bucketed
    * tables it writes (resolved after the write).
    */
  private case class Case(name: String, setup: String => Unit,
                          write: String => Unit, tables: String => Seq[String])

  private val none: String => Unit = _ => ()
  private val chain = (0L until 60L by 2).map(i => (i, i + 1))
  private val bridge = (1L until 59L by 2).map(i => (i, i + 1))

  private val cases = Seq(
    Case("Dedup.bandIndexCompact",
      ix => {
        Dedup.bandIndexBuild(docs(60, 200), "doc_id", "text", 3, ix)
        Dedup.bandIndexIngestBatch(docs(0, 30), "doc_id", "text", 3, ix, 0L)
        Dedup.bandIndexIngestBatch(docs(30, 60), "doc_id", "text", 3, ix, 1L)
      },
      ix => Dedup.bandIndexCompact(spark, ix), ix => Seq(s"$ix/bands")),
    Case("Boilerplate.gramIndexBuild", none,
      ix => Boilerplate.gramIndexBuild(docs(0, 200), "doc_id", "text", 3, ix),
      ix => Seq(ix)),
    Case("Boilerplate.gramIndexAppend",
      ix => Boilerplate.gramIndexBuild(docs(0, 100), "doc_id", "text", 3, ix),
      ix => Boilerplate.gramIndexAppend(docs(100, 200), "doc_id", "text", 3, ix),
      ix => Seq(ix)),
    Case("Bm25.indexBuild", none,
      ix => Bm25.indexBuild(docs(0, 200), "doc_id", "text", ix),
      ix => Seq(s"$ix/postings")),
    Case("Bm25.indexAppend",
      ix => Bm25.indexBuild(docs(0, 100), "doc_id", "text", ix),
      ix => Bm25.indexAppend(docs(100, 200), "doc_id", "text", ix),
      ix => Seq(s"$ix/postings")),
    Case("Ann.ivfIndexBuild", none,
      ix => Ann.ivfIndexBuild(vecs(0, 200), "vec_id", "embedding", 8, ix),
      ix => Seq(s"$ix/assigned")),
    Case("Ann.ivfIndexRefresh",
      ix => Ann.ivfIndexBuild(vecs(0, 200), "vec_id", "embedding", 8, ix),
      ix => Ann.ivfIndexRefresh(spark, ix, iters = 2),
      ix => Seq(s"${Ann.ivfRoot(ix)}/assigned")),
    Case("Ann.ivfIndexAppend",
      ix => Ann.ivfIndexBuild(vecs(0, 200), "vec_id", "embedding", 8, ix),
      ix => Ann.ivfIndexAppend(vecs(0, 64, idShift = 100000L),
        "vec_id", "embedding", ix),
      ix => Seq(s"$ix/assigned")),
    Case("Dedup.labelsMerge",
      ix => Dedup.labelsMerge(ix, pairs(chain), "a", "b"),
      ix => Dedup.labelsMerge(ix, pairs(bridge), "a", "b"),
      ix => Seq(ix)),
    Case("Dedup.curationMerge",
      ix => Dedup.curationMerge(ix, pairs(chain), quality(0L until 60L),
        "doc_id", "q", "a", "b"),
      ix => Dedup.curationMerge(ix, pairs(bridge), quality(60L until 90L),
        "doc_id", "q", "a", "b"),
      ix => Seq(s"$ix/state", s"$ix/keepers")))

  private def parquetPaths(root: String): Set[String] =
    PersistedTable.parquetFiles(new File(root)).map(_.getPath).toSet

  cases.foreach { c =>
    test(s"${c.name} adds one file to each partition directory it writes") {
      val ix = s"${Scratch.dir("layout")}/ix"
      c.setup(ix)
      val before = parquetPaths(ix)
      c.write(ix)
      c.tables(ix).foreach { t =>
        val added = (parquetPaths(t) -- before).toSeq
          .groupBy(p => new File(p).getParent).view.mapValues(_.size).toMap
        assert(added.size > 1, s"$t: expected several buckets written, got $added")
        assert(added.values.forall(_ == 1), s"$t: new files per bucket: $added")
      }
    }
  }
}
