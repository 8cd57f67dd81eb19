package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.TopKPlan
import graft.io.Scratch

/** The Catalyst plan-node formulation of per-key top-k must equal both
  * the window row_number formulation and the mapPartitions operator,
  * and its physical plan must show the partial-prune below the
  * exchange (the point of the strategy).
  */
class TopKPlanSpec extends SparkSpec {
  import spark.implicits._

  private def events = Tables.events(spark, "/root/testdata/sf0.001")
    .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
    .repartition(7)

  test("equals the window formulation on sf0.001 events") {
    val got = TopKPlan.topKPerKey(events, Seq("event_type"),
      Seq("value" -> false, "event_id" -> true), k = 5)
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id").asc)
    val want = events.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("equals the mapPartitions operator on high-cardinality keys") {
    val got = TopKPlan.topKPerKey(events, Seq("user_id"),
      Seq("value" -> false, "event_id" -> true), k = 2)
    val want = graft.operators.TopK.topKPerKey(events, Seq("user_id"),
      Seq("value" -> false, "event_id" -> true), k = 2)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("ties, sub-k keys, and nulls-last ordering") {
    val df = Seq(
      ("a", 1L, Some(3.0)), ("a", 2L, Some(3.0)), ("a", 3L, Some(1.0)),
      ("a", 4L, None), ("b", 5L, Some(9.0))
    ).toDF("k", "id", "v").repartition(3)
    val got = TopKPlan.topKPerKey(df, Seq("k"),
      Seq("v" -> false, "id" -> true), k = 2)
      .select("k", "id", "rank").as[(String, Long, Int)].collect().toSet
    assert(got == Set(("a", 1L, 1), ("a", 2L, 2), ("b", 5L, 1)))
  }

  test("rewrite rule: row_number-filter pattern plans as TopK, results unchanged") {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id").asc)
    val q = events.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 4 && col("value") > 0)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPartial") && plan.contains("TopKFinal"),
      s"expected the rewrite to fire:\n$plan")
    // collect BEFORE toggling excludedRules (see the dense test)
    val got = q.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length)
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "graft.plans.TopKRewriteRule")
    try {
      val wantQ = events.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 4 && col("value") > 0)
      assert(!wantQ.queryExecution.executedPlan.toString.contains("TopKPartial"))
      val want = wantQ.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length)
      assert(got.toMap == want.toMap)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("rewrite kill-switch: session conf disables and re-enables the rule") {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id").asc)
    def plan() = events.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 4).queryExecution.executedPlan.toString
    spark.conf.set(graft.plans.TopKRewriteRule.EnabledKey, "false")
    try assert(!plan().contains("TopKPartial"),
      "disabled rule must leave the builtin window plan")
    finally spark.conf.unset(graft.plans.TopKRewriteRule.EnabledKey)
    assert(plan().contains("TopKPartial"),
      "rule must fire again once the kill-switch is cleared")
  }

  test("rewrite rule: ntile and unbounded patterns stay untouched") {
    val w = Window.partitionBy(col("event_type")).orderBy(col("value").desc)
    val nt = events.withColumn("rn", ntile(4).over(w)).filter(col("rn") <= 3)
    assert(!nt.queryExecution.executedPlan.toString.contains("TopKPartial"))
    val lower = events.withColumn("rn", row_number().over(w))
      .filter(col("rn") >= 3) // lower bound only: no k to prune with
    assert(!lower.queryExecution.executedPlan.toString.contains("TopKPartial"))
  }

  test("dense_rank() filter rewrites and equals the window formulation") {
    val tied = events.withColumn("v", floor(col("value") / 100).cast("int"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("v").desc)
    val q = tied.withColumn("rn", dense_rank().over(w)).filter(col("rn") <= 3)
    assert(q.queryExecution.executedPlan.toString.contains("TopKPartial"),
      s"dense_rank pattern must rewrite:\n${q.queryExecution.executedPlan}")
    // COLLECT while the rule is live — toggling excludedRules before
    // the action would rebuild even q's plan without the rewrite and
    // make the comparison vacuous (caught a real double-emit bug)
    val got = q.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length)
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "graft.plans.TopKRewriteRule")
    try {
      val wantQ = tied.withColumn("rn", dense_rank().over(w))
        .filter(col("rn") <= 3)
      assert(!wantQ.queryExecution.executedPlan.toString.contains("TopKPartial"))
      val want = wantQ.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length)
      assert(got.toMap == want.toMap,
        "dense mode must keep exactly the top-3 distinct values' rows, no dupes")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("rank() filter rewrites to with-ties TopK and equals the window") {
    // integer-cast values force heavy ties across the k-th place
    val tied = events.withColumn("v", floor(col("value") / 100).cast("int"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("v").desc)
    val q = tied.withColumn("rn", rank().over(w)).filter(col("rn") <= 3)
    assert(q.queryExecution.executedPlan.toString.contains("TopKPartial"),
      s"rank() pattern must rewrite:\n${q.queryExecution.executedPlan}")
    // collect BEFORE toggling excludedRules (see the dense test)
    val got = q.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length)
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "graft.plans.TopKRewriteRule")
    try {
      val wantQ = tied.withColumn("rn", rank().over(w)).filter(col("rn") <= 3)
      assert(!wantQ.queryExecution.executedPlan.toString.contains("TopKPartial"))
      val want = wantQ.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length)
      assert(got.toMap == want.toMap,
        "with-ties rewrite must keep tie groups whole, nothing more")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("withTies operator API equals the window rank() formulation") {
    val tied = events.withColumn("v", floor(col("value") / 100).cast("int"))
    val got = TopKPlan.topKPerKey(tied, Seq("event_type"),
      Seq("v" -> false), k = 2, mode = graft.plans.RankTiesMode)
    val w = Window.partitionBy(col("event_type")).orderBy(col("v").desc)
    val want = tied.withColumn("rank", rank().over(w))
      .filter(col("rank") <= 2)
    assert(got.count() > 2 * 5, "test data must actually tie") // 5 types
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("rewrite rule: residual conjuncts still apply (band 2..4)") {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id").asc)
    val q = events.withColumn("rn", row_number().over(w))
      .filter(col("rn") >= 2 && col("rn") <= 4)
    assert(q.queryExecution.executedPlan.toString.contains("TopKPartial"))
    val got = q.groupBy(col("event_type")).count()
      .as[(String, Long)].collect().toMap
    assert(got.values.forall(_ == 3)) // ranks 2,3,4 per type
  }

  test("plan shape: partial prune runs below the exchange, rank above") {
    val plan = TopKPlan.topKPerKey(events, Seq("event_type"),
      Seq("value" -> false), k = 3).queryExecution.executedPlan.toString
    val iPartial = plan.indexOf("TopKPartial")
    val iExchange = plan.indexOf("Exchange")
    val iFinal = plan.indexOf("TopKFinal")
    assert(iPartial >= 0 && iExchange >= 0 && iFinal >= 0, plan)
    // plan strings print top-down: final < exchange < partial
    assert(iFinal < iExchange && iExchange < iPartial, plan)
  }

  test("bucketed input satisfies the distribution: zero-exchange top-k") {
    // the point of declaring requiredChildDistribution instead of
    // hand-rolling a repartition: a scan already hash-partitioned on
    // the keys (bucketed table) plans with NO shuffle at all
    val tbl = s"topk_bucketed_${System.nanoTime()}"
    try {
      events.write.bucketBy(4, "user_id").sortBy("user_id")
        .option("path", Scratch.dir(tbl)).saveAsTable(tbl)
      val plan = TopKPlan.topKPerKey(spark.table(tbl), Seq("user_id"),
        Seq("value" -> false, "event_id" -> true), k = 2)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected zero-exchange plan:\n$plan")
      assert(plan.contains("TopKFinal") && plan.contains("TopKPartial"), plan)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("maxHeapKeys overflow path stays exact") {
    val got = TopKPlan.topKPerKey(events, Seq("user_id"),
      Seq("value" -> false, "event_id" -> true), k = 2, maxHeapKeys = 3)
    val want = graft.operators.TopK.topKPerKey(events, Seq("user_id"),
      Seq("value" -> false, "event_id" -> true), k = 2)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}
