package graft.tools

import org.apache.spark.sql.functions._
import graft.Tables
import graft.similarity.Ann

/** Diagnostic for the recall-contract bounds in AnnQueries: prints
  * per-query recall@K of the approximate indexes vs brute force at a
  * given sf dir, so contract floors are set from measurement, not
  * guesswork. Usage: runMain graft.tools.ProbeRecall [sfDir]
  */
object ProbeRecall {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.jobs.Jobs.localBuilder("graft-probe-recall",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val K = 5
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 8)
    val exact = Ann.bruteForceTopK(q, emb, "vec_id", "embedding", K)
      .select(col("qid"), col("vid"))
    def recall(name: String, approx: org.apache.spark.sql.DataFrame): Unit = {
      val hits = exact.join(approx.select(col("qid"), col("vid")),
        Seq("qid", "vid"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
      val rows = hits.orderBy(col("qid")).collect()
        .map(r => s"${r.get(0)}:${r.getLong(1)}/$K").mkString(" ")
      println(s"$name @ $dir -> $rows")
    }
    recall("ivf_kmeans", Ann.ivfKmeansTopK(q, emb, "vec_id", "embedding", K))
    recall("ivf_firstN", Ann.ivfTopK(q, emb, "vec_id", "embedding", K))
    spark.stop()
  }
}
