package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session builder ([[graft.jobs.Jobs]]) and one scratch owner
  * ([[graft.io.Scratch]], the only reader of the process id): a second
  * site of either, or a hard-coded temp path, fails here.
  */
class SourceShapeSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private lazy val sources = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
    .map((p: Path) => root.relativize(p).toString -> Files.readString(p)).toSeq
  private def sitesOf(needle: String): Set[String] =
    sources.collect { case (f, text) if text.contains(needle) => f }.toSet

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
}
