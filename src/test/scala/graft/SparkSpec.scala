package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (sbt forks one test JVM): the
  * production session config of [[graft.jobs.Jobs.localBuilder]], with
  * its warehouse under the scratch owner like every other spec path.
  */
object TestSession {
  lazy val spark: SparkSession = {
    val s = graft.jobs.Jobs.localBuilder("graft-tests", "4").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
}
