package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The bench census: each timed run is read apart from its neighbours,
  * split between the wrapper's eager actions and the final count, and
  * its GC time stays inside its wall time.
  */
class CensusSpec extends SparkSpec {

  private def withCensus[T](f: Census => T): T = {
    val census = new Census(spark)
    try f(census) finally census.close()
  }

  /** A wrapper with one eager action: the aggregate is checkpointed
    * before the frame is returned.
    */
  private def eagerQuery(): DataFrame =
    spark.range(0, 20000, 1, 4)
      .select((col("id") % 97).as("k"), col("id").as("v"))
      .groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .localCheckpoint()

  private def counts(r: Census.Reading) = (r("jobs"), r("stages"), r("tasks"))

  test("an eager localCheckpoint and the final count are read apart, with planning time") {
    withCensus { census =>
      val r = census.run(eagerQuery())
      assert(r.drained)
      assert(r.eager("jobs") > 0 && r.fin("jobs") > 0, r)
      assert(r.eager("tasks") > 0 && r.fin("tasks") > 0, r)
      assert(r.eager("shuffle_write_bytes") > 0, r)
      assert(r.eager("planning_ms") + r.fin("planning_ms") > 0, r)
      assert(r.longest.nonEmpty && r.longest.size <= 3)
      assert(r.seconds == r.eagerS + r.finalS)
      // a lazy wrapper runs nothing before its count
      val lazyRun = census.run(spark.range(0, 1000, 1, 4).toDF())
      assert(lazyRun.eager("jobs") == 0 && lazyRun.fin("jobs") > 0, lazyRun)
    }
  }

  test("back-to-back readings do not leak counts into each other") {
    withCensus { census =>
      val a = census.run(eagerQuery())
      val b = census.run(eagerQuery())
      assert(counts(a.eager) == counts(b.eager) && counts(a.fin) == counts(b.fin),
        s"$a vs $b")
      val idle = census.read()
      assert(idle.drained && idle.counts.isEmpty && idle.longest.isEmpty, idle)
    }
  }

  test("a throwing query yields no census entry and leaves nothing in the next") {
    val boom = udf { (x: Long) =>
      if (x == 7) throw new IllegalStateException("boom")
      x
    }
    withCensus { census =>
      val before = census.run(eagerQuery())
      intercept[Exception](census.run(
        spark.range(0, 100, 1, 4).select(boom(col("id")).as("x")).localCheckpoint()))
      val after = census.run(eagerQuery())
      assert(counts(before.eager) == counts(after.eager) &&
        counts(before.fin) == counts(after.fin), s"$before vs $after")
    }
  }

  test("GC ms never exceed the run's wall time") {
    withCensus { census =>
      // a forced collection inside the eager window makes the bound bite
      val r = census.run { System.gc(); eagerQuery() }
      assert(r.gcMs > 0, r)
      assert(r.gcMs <= r.seconds * 1000, r)
      assert(Census.json(Seq(r)).startsWith("""{"drained":true,"runs":[{"eager_s":"""))
    }
  }
}
