package graft

import org.apache.spark.sql.functions._
import graft.functions.{HeavyHitters, MisraGries}

/** The Misra–Gries aggregate must honor its superset guarantee (every
  * item above the frequency threshold survives, across partitions and
  * merge orders), and the exact-verified heavyHitters pipeline must
  * equal a plain groupBy/filter.
  */
class MisraGriesSpec extends SparkSpec {
  import spark.implicits._

  test("sketch keeps every item with freq > N/(capacity+1), any partitioning") {
    // 1000 rows: 'a' x400, 'b' x300, 'c' x200, 100 distinct rares
    val rows = Seq.fill(400)("a") ++ Seq.fill(300)("b") ++
      Seq.fill(200)("c") ++ (0 until 100).map(i => s"r$i")
    for (parts <- Seq(1, 7, 32)) {
      val got = scala.util.Random.shuffle(rows).toDF("w").repartition(parts)
        .agg(MisraGries.sketch(col("w"), 5).as("sk"))
        .select(explode(col("sk")).as("c"))
        .select($"c.item").as[String].collect().toSet
      // freq > 1000/6 = 166.7 -> a, b, c must all survive
      assert(Set("a", "b", "c").subsetOf(got), s"parts=$parts got $got")
      assert(got.size <= 5)
    }
  }

  test("sketch lower bounds never exceed true counts") {
    val rows = Seq.fill(50)("x") ++ Seq.fill(30)("y") ++
      (0 until 40).map(i => s"z$i")
    val lbs = rows.toDF("w").repartition(5)
      .agg(MisraGries.sketch(col("w"), 4).as("sk"))
      .select(explode(col("sk")).as("c"))
      .select($"c.item", $"c.lb").as[(String, Long)].collect().toMap
    val truth = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    lbs.foreach { case (k, lb) =>
      assert(lb <= truth(k), s"$k lb $lb > true ${truth(k)}")
    }
  }

  test("heavyHitters equals plain groupBy-filter (exact-verified)") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val got = HeavyHitters.heavyHitters(ev, "event_type", phi = 0.1)
      .as[(String, Long)].collect().toSet
    val n = ev.count()
    val want = ev.groupBy(col("event_type").cast("string").as("item"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= n * 0.1)
      .as[(String, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
  }
}
