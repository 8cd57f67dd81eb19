package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A hand-written `row_number() <= k` window filter plans onto TopKNode
  * through TopKRewriteRule (the spec session installs GraftExtensions)
  * and must keep exactly the window formulation's rows, including ties
  * resolved by the tiebreak column, nulls-last ordering, and keys with
  * < k rows. TopKPlanSpec covers the `TopKPlan.topKPerKey` API.
  */
class TopKSpec extends SparkSpec with BuiltinTopKReference {
  import spark.implicits._

  private def assertRewritten(q: DataFrame): Unit = {
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPartial") && plan.contains("TopKFinal"),
      s"expected the rewrite to fire:\n$plan")
  }

  test("equals window formulation on sf0.001 events (multi-partition)") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("event_type"), col("value"))
      .repartition(7)
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id").asc)
    def q = ev.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
    assertRewritten(q)
    assertEqualsBuiltin(q)(q)
  }

  test("keys with fewer than k rows, ties, and nulls-last") {
    val df = Seq(
      ("a", 1L, Some(3.0)), ("a", 2L, Some(3.0)), ("a", 3L, Some(1.0)),
      ("a", 4L, None), ("b", 5L, Some(9.0))
    ).toDF("k", "id", "v").repartition(3)
    val w = Window.partitionBy(col("k")).orderBy(col("v").desc, col("id").asc)
    val q = df.withColumn("rank", row_number().over(w)).filter(col("rank") <= 2)
    assertRewritten(q)
    val got = q.select("k", "id", "rank").as[(String, Long, Int)].collect().toSet
    // ties on v=3.0 resolve by id asc; null v sorts last and falls out
    assert(got == Set(("a", 1L, 1), ("a", 2L, 2), ("b", 5L, 1)))
  }

  test("ascending order and string order columns work") {
    val df = Seq(("x", "bb"), ("x", "aa"), ("x", "cc"), ("y", "zz"))
      .toDF("k", "s").repartition(2)
    val w = Window.partitionBy(col("k")).orderBy(col("s").asc)
    val q = df.withColumn("rank", row_number().over(w)).filter(col("rank") <= 2)
    assertRewritten(q)
    val got = q.select("k", "s", "rank").as[(String, String, Int)].collect().toSet
    assert(got == Set(("x", "aa", 1), ("x", "bb", 2), ("y", "zz", 1)))
  }
}
