package graft.tools

import graft.SparkEntry

/** Dev tool: print formatted physical plans for selected queries so
  * join strategies / pushdown / codegen spans can be reviewed.
  * Usage: runMain graft.tools.PlanCheck <sfDir> [queryName...]
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.partition(_.startsWith("--"))
    val dir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (rest.length > 1) rest.drop(1).toSeq
      else Seq("pipeline_score", "j2_star_join_agg", "a6_rate_by_region",
        "dedup_ngram_jaccard", "ann_bruteforce_topk")
    val spark = graft.jobs.Jobs.localBuilder("graft-plancheck", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // --no-broadcast: force the shuffle-join form (how a fact⋈fact
    // join plans at scale, where neither side fits a broadcast)
    if (flags.contains("--no-broadcast"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    names.foreach { n =>
      println(s"\n=================== $n ===================")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
