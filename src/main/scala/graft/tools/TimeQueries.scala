package graft.tools

/** Dev-only: time a comma-separated list of driver-contract queries in
  * one warm session, mirroring Bench's setup.
  * Usage: runMain graft.tools.TimeQueries <sfDir> <q1,q2,...> [reps]
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    // same deploy posture and cores as Bench (extensions, Kryo, UTC,
    // SPARK_GRAFT_CPUS) so a standalone re-time isolates sweep-order
    // effects, not config
    val spark = graft.jobs.Jobs.localBuilder("graft-time",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // warm-up, as Bench does
    graft.SparkEntry.queries("pipeline_score")(spark, dir).count()
    for (n <- names) {
      val fn = graft.SparkEntry.queries(n)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[time] $n%-28s min ${times.min}%6.2f s  (${times.map(t => f"$t%.2f").mkString(", ")})")
    }
    spark.stop()
  }
}
