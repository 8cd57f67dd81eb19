package perfbench

import java.nio.file.Path

import graft.streaming.ProgressRecorder
import graft.streaming.StreamingJob.KeyedStore

/** Fault-injection self-tests of the benchmark's own checks. Each
  * injected fault must be reported as a failure, and the unfaulted
  * control must pass. Exit code 0 only if every case holds.
  */
object SelfTest {
  def run(work: Path): Int = {
    val spark = Main.session(Main.Cpus, work)
    val probe = new Probe(spark, traced = false)
    val ctx = new Ctx(spark, probe, work, 7L, 1)
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
    def expect(name: String, ok: Boolean): Unit = {
      println(s"${if (ok) "PASS" else "FAIL"} $name"); results += name -> ok
    }

    // 1. a query that throws is a failure and yields no time
    val thrown = DashboardWorkload.timeQuery(probe, "injected",
      () => spark.range(3).selectExpr("raise_error('injected fault') AS x"))
    expect("a query that throws is counted as failed, with no time", thrown.ms.isEmpty)
    val control = DashboardWorkload.timeQuery(probe, "control",
      () => spark.range(3).selectExpr("id * 2 AS x"))
    expect("a query that succeeds is timed", control.ms.exists(_ > 0))

    // 2. a sink missing one batch=N partition fails the exactly-once check
    val sf = ctx.dir("sf")
    Gen.dims(spark, sf, 7L)
    val d = new StreamWorkloads.Dirs(ctx.dir("stream"))
    val ev = new Gen.WireEvents(7L)
    val ids = (0 until 3).flatMap { f =>
      val evs = (0 until 1000).map(i => ev.next(Gen.EpochMs + f * 1000L + i))
      Gen.land(d.stage, d.in, s"f$f.json", evs.map(_._2))
      evs.map(_._1)
    }.toSet
    KeyedStore.clear()
    val recorder = new ProgressRecorder().attach(spark)
    val q = StreamWorkloads.start(spark, sf, d, Some(1))
    val err = StreamWorkloads.drain(q)
    q.stop()
    recorder.detach(spark)
    val clean = StreamWorkloads.check(spark, sf, d, ids)
    expect("an intact stream passes every output check", err.isEmpty && clean.ok)
    Main.deleteTree(d.out.resolve("facts").resolve("batch=1"))
    val holed = StreamWorkloads.check(spark, sf, d, ids)
    holed.notes.foreach(n => println(s"  check: $n"))
    expect("a facts sink with batch=1 removed is reported as 1000 failed events",
      holed.failedIds == 1000 && !holed.ok)

    // 3. streaming phases are read per key and never summed
    val trig = probe.progress.of(q.id.toString)
    expect(s"each of ${trig.size} triggers' sub-phases sum to at most its triggerExecution",
      trig.nonEmpty && trig.forall(_.phasesConsistent))
    val summed = trig.map(t => t.copy(durationMs =
      t.durationMs + ("summedTotal" -> t.durationMs.values.sum)))
    expect("a figure that sums the whole durationMs map fails that check",
      summed.nonEmpty && summed.forall(!_.phasesConsistent))
    // the library's recorder sums the map, so it reports more than the
    // trigger took; shown here, not fixed by the benchmark
    val rec = recorder.snapshot(spark).collect().map(r =>
      r.getAs[Long]("batchId") -> r.getAs[Long]("batchDurationMs")).toMap
    trig.foreach { t =>
      println(s"  batch ${t.batchId}: triggerExecution ${t.phase("triggerExecution")} ms, " +
        s"ProgressRecorder batchDurationMs ${rec.getOrElse(t.batchId, -1L)} ms")
    }
    spark.stop()
    val failed = results.count(!_._2)
    println(s"${results.size - failed} pass, $failed fail")
    if (failed == 0) 0 else 1
  }
}
