package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.similarity.Ann
import graft.streaming.StreamingJob
import graft.text.Bm25

/** Index maintenance: the `dedup`, `text` and `similarity` layers and
  * the persisted-index writes of `io`. Six operations, each composed
  * from the library's public calls exactly as the `SparkEntry` query
  * of the same name composes it, but with its index under the run's
  * scratch directory (the query wrappers keep theirs under a fixed
  * system path). Each returns its final frame; the work done before
  * it returns is the eager part.
  */
object Maintenance {
  val Docs = 500
  val Vectors = 500

  private def docs(s: SparkSession, sf: String) = Tables.documents(s, sf)
  private def pairs(df: DataFrame) =
    df.select(col("in_doc"), col("corpus_doc"), round(col("jaccard"), 6).as("jaccard"))

  type Op = (SparkSession, String, String) => DataFrame // session, sf dir, index dir

  /** The streaming maintenance loops, measured in a traced `stream` run. */
  val StreamOps: Seq[(String, Op)] = Seq(
    "s16_stream_index_ingest" -> { (s, sf, ix) =>
      val d = docs(s, sf)
      pairs(StreamingJob.streamBandIndexIngest(d.filter(col("doc_id") >= 200),
        d.filter(col("doc_id") < 200), "doc_id", "text", n = 3, threshold = 0.8, ix))
    },
    "s18_stream_label_maintenance" -> { (s, sf, ix) =>
      StreamingJob.streamLabelMaintenance(docs(s, sf), "doc_id", "text",
        n = 3, threshold = 0.8, ix)
    },
    "s30_stream_keeper_maintenance" -> { (s, sf, ix) =>
      StreamingJob.streamKeeperMaintenance(docs(s, sf), "doc_id", "text",
        n = 3, threshold = 0.8, ix)
    })

  /** The batch index lifecycles, measured in a traced `dashboard` run.
    * All six operations in one traced run would take it near its time
    * limit, so each traced run measures one group.
    */
  val BatchOps: Seq[(String, Op)] = Seq(
    "dedup_index_compacted" -> { (s, sf, ix) =>
      val d = docs(s, sf)
      Dedup.bandIndexBuild(d.filter(col("doc_id") >= 300), "doc_id", "text", 3, ix)
      Dedup.bandIndexIngestBatch(d.filter(col("doc_id") >= 150 && col("doc_id") < 225),
        "doc_id", "text", 3, ix, batchId = 0)
      Dedup.bandIndexIngestBatch(d.filter(col("doc_id") >= 225 && col("doc_id") < 300),
        "doc_id", "text", 3, ix, batchId = 1)
      Dedup.bandIndexCompact(s, ix)
      pairs(Dedup.bandIndexProbe(d.filter(col("doc_id") < 150), "doc_id", "text", 3, ix, 0.8))
    },
    "tx_bm25_persisted" -> { (s, sf, ix) =>
      val d = docs(s, sf)
      Bm25.indexBuild(d.filter(col("doc_id") < 400), "doc_id", "text", ix)
      Bm25.indexAppend(d.filter(col("doc_id") >= 400), "doc_id", "text", ix)
      Bm25.topKFromIndex(s, Bm25.indexQueryTerms(s, ix, 20), ix, 5)
        .select(col("term"), col("doc_id"), col("score"), col("tf"), col("dl"), col("rank"))
    },
    "ann_ivf_refresh" -> { (s, sf, ix) =>
      val emb = Tables.embeddings(s, sf)
      val k = 5
      Ann.ivfIndexBuild(emb, "vec_id", "embedding", nCells = 16, ix)
      Ann.ivfIndexRefresh(s, ix, iters = 3)
      val q = emb.filter(col("vec_id") < 8)
      val approx = Ann.ivfTopKFromIndex(q, "vec_id", "embedding", ix, k, nProbe = 4)
      val exact = Ann.bruteForceTopK(q, emb, "vec_id", "embedding", k)
      val hits = exact.select(col("qid"), col("vid"))
        .join(approx.select(col("qid"), col("vid")), Seq("qid", "vid"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
      approx.groupBy(col("qid")).agg(count(lit(1)).as("k_returned"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"), col("k_returned"),
          (coalesce(col("n_hits"), lit(0L)) >= lit(0.4 * k)).as("recall_ok"))
        .crossJoin(broadcast(Ann.indexSelfCheck(s, ix)))
    })
  val Names: Seq[String] = (StreamOps ++ BatchOps).map(_._1)

  /** One pass over every operation, indexes under `root`. An operation
    * that throws is a failure and yields no time. Returns the eager and
    * final times (ms) of the operations that succeeded, the failed
    * ones, and each successful operation's final frame.
    */
  final case class Pass(eagerMs: Map[String, Double], finalMs: Map[String, Double],
                        failed: Seq[String], frames: Seq[(String, DataFrame)]) {
    def seconds: Double = (eagerMs.values.sum + finalMs.values.sum) / 1000
  }

  def pass(ctx: Ctx, sf: Path, root: Path, ops: Seq[(String, Op)]): Pass = {
    val results = ops.map { case (name, op) =>
      ctx.probe.span(s"index.$name") {
        try {
          val t0 = System.nanoTime()
          val df = op(ctx.spark, sf.toString, root.resolve(name).toString)
          val t1 = System.nanoTime()
          // the final frame runs to completion; a count would let the
          // optimizer drop most of it
          df.write.format("noop").mode("overwrite").save()
          val t2 = System.nanoTime()
          (name, Some(((t1 - t0) / 1e6, (t2 - t1) / 1e6, df)))
        } catch {
          case e: Throwable =>
            println(s"  maintenance $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
            (name, None)
        }
      }
    }
    val ok = results.collect { case (n, Some(r)) => n -> r }
    Pass(ok.map(r => r._1 -> r._2._1).toMap, ok.map(r => r._1 -> r._2._2).toMap,
      results.collect { case (n, None) => n }, ok.map(r => r._1 -> r._2._3))
  }

  /** Regular files under `root` and their bytes, checksum files aside. */
  def footprint(root: Path): (Long, Long) = {
    val s = Files.walk(root)
    try {
      val files = s.iterator().asScala.filter(p =>
        Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc")).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    } finally s.close()
  }

  /** The maintenance phase of a traced run: generates `documents` and
    * `embeddings` into `sf`, then makes one measured pass over `ops`. It
    * has no warm-up pass, which would cost as long again and push a
    * traced run near its time limit; per-trigger floors dominate the
    * pass, and a first pass measured about a tenth slower than a second.
    * Files and bytes are what the pass left in its index directories;
    * its final frames are dumped to `dump` for the oracle check. Returns
    * the operations attempted and failed, and the per-layer figures.
    */
  def run(ctx: Ctx, sf: Path, dump: Path,
          ops: Seq[(String, Op)]): (Long, Long, Map[String, Double]) = {
    Gen.documents(ctx.spark, sf, ctx.seed, Docs)
    Gen.embeddings(ctx.spark, sf, ctx.seed, Vectors)
    val root = ctx.dir("index")
    val before = ctx.probe.counts()
    val p = pass(ctx, sf, root, ops)
    val jobs = (ctx.probe.counts() - before).jobs
    val (files, bytes) = footprint(root)
    p.frames.foreach { case (n, df) =>
      try df.coalesce(1).write.mode("overwrite").parquet(dump.resolve(n).toString)
      catch { case e: Throwable => println(s"  maintenance $n: result dump failed: ${e.getMessage}") }
    }
    Main.mark("maintenance measured")
    println(f"maintenance: ${ops.size} operations in ${p.seconds}%.3f s, " +
      s"$files index files, $bytes bytes")
    val layers = ops.map(_._1).flatMap(n => Seq(
      s"index.$n.eager_ms" -> p.eagerMs.getOrElse(n, Double.NaN),
      s"index.$n.final_ms" -> p.finalMs.getOrElse(n, Double.NaN))).toMap ++ Map(
      "index.pass_s" -> p.seconds,
      "index.jobs" -> jobs.toDouble,
      "io.files_written" -> files.toDouble,
      "io.bytes_written" -> bytes.toDouble)
    (ops.size.toLong, p.failed.size.toLong, layers)
  }
}
