package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.TopKPlan
import graft.io.Scratch

/** The Catalyst plan-node formulation of per-key top-k must equal
  * Spark's built-in window formulation, and its physical plan must
  * show the partial-prune below the exchange (the point of the
  * strategy).
  */
class TopKPlanSpec extends SparkSpec with BuiltinTopKReference {
  import spark.implicits._

  private def events = Tables.events(spark, "/root/testdata/sf0.001")
    .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
    .repartition(7)

  /** `row_number() <= k` by (value desc, event_id asc), nulls last. */
  private def rowNumberCut(df: DataFrame, key: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col("value").desc_nulls_last, col("event_id").asc_nulls_last)
    df.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  test("equals the window formulation on sf0.001 events") {
    val got = TopKPlan.topKPerKey(events, Seq("event_type"),
      Seq("value" -> false, "event_id" -> true), k = 5)
    assertEqualsBuiltin(got)(rowNumberCut(events, "event_type", 5))
  }

  test("equals the window formulation on high-cardinality keys") {
    val got = TopKPlan.topKPerKey(events, Seq("user_id"),
      Seq("value" -> false, "event_id" -> true), k = 2)
    assertEqualsBuiltin(got)(rowNumberCut(events, "user_id", 2))
  }

  test("ties, sub-k keys, and nulls-last ordering") {
    val df = Seq(
      ("a", 1L, Some(3.0)), ("a", 2L, Some(3.0)), ("a", 3L, Some(1.0)),
      ("a", 4L, None), ("b", 5L, Some(9.0))
    ).toDF("k", "id", "v").repartition(3)
    val got = TopKPlan.topKPerKey(df, Seq("k"),
      Seq("v" -> false, "id" -> true), k = 2)
      .select("k", "id", "rank").as[(String, Long, Int)].collect().toSet
    // ties on v=3.0 resolve by id asc; null v sorts last and falls out
    assert(got == Set(("a", 1L, 1), ("a", 2L, 2), ("b", 5L, 1)))
    // ascending order on a string column
    val s = Seq(("x", "bb"), ("x", "aa"), ("x", "cc"), ("y", "zz")).toDF("k", "s")
    val asc = TopKPlan.topKPerKey(s, Seq("k"), Seq("s" -> true), k = 2)
      .select("k", "s", "rank").as[(String, String, Int)].collect().toSet
    assert(asc == Set(("x", "aa", 1), ("x", "bb", 2), ("y", "zz", 1)))
  }

  test("rewrite rule: row_number-filter pattern plans as TopK, results unchanged") {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id").asc)
    def q = events.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 4 && col("value") > 0)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPartial") && plan.contains("TopKFinal"),
      s"expected the rewrite to fire:\n$plan")
    assertEqualsBuiltin(q)(q)
  }

  test("excludedRules disables and re-enables the rule") {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id").asc)
    def q = events.withColumn("rn", row_number().over(w)).filter(col("rn") <= 4)
    def plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPartial"))
    assertEqualsBuiltin(q)(q) // the reference q plans without the rule
    assert(plan.contains("TopKPartial"),
      "rule must fire again once excludedRules is restored")
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
    def q = tied.withColumn("rn", dense_rank().over(w)).filter(col("rn") <= 3)
    assert(q.queryExecution.executedPlan.toString.contains("TopKPartial"),
      s"dense_rank pattern must rewrite:\n${q.queryExecution.executedPlan}")
    // dense mode must keep exactly the top-3 distinct values' rows, no dupes
    assertEqualsBuiltin(q)(q)
  }

  test("rank() filter rewrites to with-ties TopK and equals the window") {
    // integer-cast values force heavy ties across the k-th place
    val tied = events.withColumn("v", floor(col("value") / 100).cast("int"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("v").desc)
    def q = tied.withColumn("rn", rank().over(w)).filter(col("rn") <= 3)
    assert(q.queryExecution.executedPlan.toString.contains("TopKPartial"),
      s"rank() pattern must rewrite:\n${q.queryExecution.executedPlan}")
    // with-ties rewrite must keep tie groups whole, nothing more
    assertEqualsBuiltin(q)(q)
  }

  test("withTies operator API equals the window rank() formulation") {
    val tied = events.withColumn("v", floor(col("value") / 100).cast("int"))
    val got = TopKPlan.topKPerKey(tied, Seq("event_type"),
      Seq("v" -> false), k = 2, mode = graft.plans.RankTiesMode)
    val w = Window.partitionBy(col("event_type")).orderBy(col("v").desc)
    assert(got.count() > 2 * 5, "test data must actually tie") // 5 types
    assertEqualsBuiltin(got)(tied.withColumn("rank", rank().over(w))
      .filter(col("rank") <= 2))
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
    assertEqualsBuiltin(got)(rowNumberCut(events, "user_id", 2))
  }
}

/** The reference side of TopKPlanSpec and TopKSpec: a top-k result
  * compared with Spark's built-in window plan.
  */
trait BuiltinTopKReference { self: SparkSpec =>
  /** The spec session installs GraftExtensions, so a hand-written
    * rank filter would itself plan onto TopKNode. Collects `got` FIRST
    * — excluding the rule before the action would rebuild got's plan
    * without the rewrite too and make the comparison vacuous (caught a
    * real double-emit bug) — then evaluates `reference` with
    * TopKRewriteRule excluded, asserts its plan is the built-in one,
    * compares the two as multisets and restores the conf.
    */
  def assertEqualsBuiltin(got: DataFrame)(reference: => DataFrame): Unit = {
    def bag(df: DataFrame) =
      df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val gotRows = bag(got)
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "graft.plans.TopKRewriteRule")
    try {
      val want = reference
      val plan = want.queryExecution.executedPlan.toString
      assert(!plan.contains("TopKPartial"), s"reference must be the built-in plan:\n$plan")
      assert(gotRows == bag(want))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
