package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session builder ([[graft.jobs.Jobs]]), one scratch owner
  * ([[graft.io.Scratch]], the only reader of the process id), one
  * rounding rule ([[graft.functions.Rounding]]), one writer of the
  * function registry ([[graft.GraftExtensions]]) and one per-key top-k
  * ([[graft.plans.TopKPlan]]): a second site of any, or a hard-coded
  * temp path, fails here.
  */
class SourceShapeSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private lazy val sources = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
    .map((p: Path) => root.relativize(p).toString -> Files.readString(p)).toSeq
  private def sitesOf(needle: String): Set[String] =
    sources.collect { case (f, text) if text.contains(needle) => f }.toSet

  /** The Scala code of a source: char and string literals (SQL text,
    * `expr(...)` arguments) and comments blanked out.
    */
  private def codeOnly(text: String): String = text
    .replaceAll("'(?:\\\\.|[^'\\\\\n])'", "' '")
    .replaceAll("(?s)\"\"\".*?\"\"\"+", "\"\"")
    .replaceAll("\"(?:\\\\.|[^\"\\\\\n])*\"", "\"\"")
    .replaceAll("//[^\n]*", "")
    .replaceAll("(?s)/\\*.*?\\*/", "")
  private def codeSites(call: scala.util.matching.Regex): Set[String] =
    sources.collect { case (f, text) if call.findFirstIn(codeOnly(text)).isDefined => f }.toSet

  // also shows the scan found the library: a scan of nothing finds no builder
  test("SparkSession.builder() is called only in Jobs") {
    assert(sitesOf("SparkSession.builder()") == Set("graft/jobs/Jobs.scala"))
  }

  test("no source hard-codes a /tmp path") {
    assert(sitesOf("\"/tmp") == Set.empty)
  }

  test("only Scratch reads the process id") {
    assert(sitesOf("ProcessHandle.current") == Set("graft/io/Scratch.scala"))
  }

  test("Spark's round and bround are called only through Rounding") {
    // `round(`, `functions.round(`, `bround(`; not `math.round(`
    val sparkRound = "(?<![\\w.])b?round\\(|(?<![Mm]ath)\\.b?round\\(".r
    assert(codeSites(sparkRound) == Set.empty)
    // the scan sees code: the helper's call sites are found
    assert(codeSites("roundHalfAway\\(".r).size > 20)
  }

  test("native expressions are built directly; only GraftExtensions names them") {
    val lookup = "createOrReplaceTempFunction|registerFunction|call_function\\(".r
    assert(codeSites(lookup) == Set.empty)
    assert(codeSites("injectFunction\\(".r) == Set("graft/GraftExtensions.scala"))
    // the scan sees code: the Column helpers' files are found
    assert(codeSites("GraftSqlBridge\\.column\\(".r).size >= 7)
  }

  test("per-key top-k has one operator: TopKPlan") {
    // raw text: a conf key lives in a string literal, which codeOnly blanks
    assert(sitesOf("operators.TopK") ++ sitesOf("spark.graft.topk") == Set.empty)
    // the scan sees code: the operator's call sites are found
    assert(codeSites("TopKPlan\\.topKPerKey\\(".r).size >= 6)
  }
}
