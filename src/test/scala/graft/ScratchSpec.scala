package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import graft.io.Scratch

/** The scratch owner's contract: every call a fresh path under
  * `java.io.tmpdir` (or beside the caller's base), so two invocations
  * of one scratch-using query in one JVM never share state — the first
  * frame, still lazy, reads what its own invocation wrote.
  */
class ScratchSpec extends SparkSpec {

  test("two calls with one tag return distinct fresh dirs under java.io.tmpdir") {
    val root = new File(System.getProperty("java.io.tmpdir")).getCanonicalPath
    val a = Scratch.dir("same")
    val b = Scratch.dir("same")
    assert(a != b)
    Seq(a, b).foreach { d =>
      assert(new File(d).getCanonicalPath.startsWith(root + File.separator), d)
      assert(!new File(d).exists() && new File(d).getParentFile.isDirectory, d)
    }
    val base = s"${Scratch.dir("base")}/work"
    val (c, e) = (Scratch.beside(base), Scratch.beside(base))
    assert(c != e && Seq(c, e).forall(_.startsWith(s"$base-")), (c, e))
  }

  test("concurrent callers with one workDir never get the same dir") {
    val base = s"${Scratch.dir("base")}/work"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map(_ => pool.submit(() => (1 to 50).map(_ => Scratch.beside(base))))
      val dirs = calls.flatMap(_.get())
      assert(dirs.distinct.size == 100)
    } finally pool.shutdown()
  }

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.toString)

  // build the sf0.001 frame, build the sf0.01 frame over it, and only
  // then run the first: each must still equal its own solo run
  Seq("tx_bm25_persisted", "s4_stream_pipeline").foreach { name =>
    test(s"$name: an overlapping second invocation leaves the first frame intact") {
      val q = SparkEntry.queries(name)
      val (small, large) = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")
      val soloSmall = rows(q(spark, small))
      val soloLarge = rows(q(spark, large))
      assert(soloSmall.nonEmpty && soloSmall != soloLarge)
      val first = q(spark, small)
      val second = q(spark, large)
      assert(rows(first) == soloSmall)
      assert(rows(second) == soloLarge)
    }
  }
}
