package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DecimalType, FloatType}

import graft.functions.Rounding.roundHalfAway

/** The one rounding rule against values DuckDB 1.0 returns for
  * `round(x, s)`: the scaled double rounded half away from zero, the
  * sign of a zero kept, an overflowing result returning `x`. Spark's
  * own `round` gives 209.1713, 56.2087, 1.01 and +0.0 on the first four.
  */
class RoundingSpec extends SparkSpec {

  private val Cases: Seq[(Double, Int, Double)] = Seq(
    (209.17125, 4, 209.1712),
    (56.208749999999995, 4, 56.2088),
    (1.005, 2, 1.0),
    (-0.00001, 4, -0.0),
    (2.5, 0, 3.0),
    (-2.5, 0, -3.0),
    (1e300, 10, 1e300),
    (Double.NaN, 4, Double.NaN))
  private val Scales = Cases.map(_._2).distinct

  private def same(a: Double, b: Double): Boolean = a.isNaN && b.isNaN ||
    java.lang.Double.doubleToRawLongBits(a) == java.lang.Double.doubleToRawLongBits(b)

  /** The cases plus a null, as an RDD scan: a local relation would be
    * folded by interpreted eval before codegen could run.
    */
  private def input(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(
      Cases.zipWithIndex.map { case (c, i) => (i, Option(c._1)) } :+ ((Cases.size, None)), 2))
      .toDF("i", "x")

  private def check(s: SparkSession, codegen: Boolean): Unit = {
    val df = input(s).select(col("i") +: Scales.map(k => roundHalfAway(col("x"), k).as(s"r$k")): _*)
    val wholeStage = df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])
    assert(wholeStage == codegen)
    val rows = df.collect().map(r => r.getInt(0) -> r).toMap
    Cases.zipWithIndex.foreach { case ((x, k, want), i) =>
      val got = rows(i).getDouble(rows(i).fieldIndex(s"r$k"))
      assert(same(got, want), s"round($x, $k) = $got, want $want")
    }
    assert(Scales.forall(k => rows(Cases.size).isNullAt(rows(Cases.size).fieldIndex(s"r$k"))))
  }

  test("scalar: DuckDB's values, -0.0 by its bits") {
    Cases.foreach { case (x, k, want) =>
      val got = roundHalfAway(x, k)
      assert(same(got, want), s"round($x, $k) = $got, want $want")
    }
  }

  test("column through whole-stage codegen: DuckDB's values, null stays null") {
    check(spark, codegen = true)
  }

  test("column through interpreted eval: DuckDB's values, null stays null") {
    val s = GraftSqlBridge.cloneSession(spark)
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    check(s, codegen = false)
  }

  test("a float stays a float") {
    // case 4: 2.5 at 0
    val df = input(spark).filter(col("i") === 4)
      .select(roundHalfAway(col("x").cast("float"), 0).as("r"))
    assert(df.schema("r").dataType == FloatType)
    assert(df.head().getFloat(0) == 3.0f)
  }

  test("a decimal keeps Spark's round: same value, same result type") {
    val d = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Tuple1(BigDecimal("12345.5")))))
      .select(col("_1").cast("decimal(10,1)").as("d"))
    val ours = d.select(roundHalfAway(col("d"), 0).as("r"))
    val sparks = d.select(org.apache.spark.sql.functions.round(col("d"), 0).as("r"))
    assert(ours.schema("r").dataType.isInstanceOf[DecimalType])
    assert(ours.schema == sparks.schema)
    assert(ours.head().getDecimal(0).compareTo(new java.math.BigDecimal("12346")) == 0)
  }
}
