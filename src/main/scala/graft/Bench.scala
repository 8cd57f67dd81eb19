package graft

import scala.jdk.CollectionConverters._

/** Per-round benchmark orchestrator. Prints ONE compact JSON line (the
  * driver captures only a bounded tail of stdout): total seconds
  * across ALL registered queries + the DYNAMIC worst-[[HeadlineN]]
  * per-query times. The full per-query map and [[Census]] go to
  * target/bench_detail.json AND to an append-only per-sweep archive
  * under bench_history/ (r10 — the target/ copy is destroyed by the
  * next sweep, so cross-round full-map diffs read the archive).
  *
  * Timing method (r07): this JVM runs NO Spark at all — it forks
  * child JVMs ([[BenchChunk]]) and aggregates their output files.
  *   1. one `--tput` child measures scoring throughput + streaming
  *      rate on a clean heap;
  *   2. the sweep runs as chunks of [[ChunkSize]] queries, each chunk
  *      a fresh JVM and each query kept as the min of two
  *      back-to-back runs (the TimeQueries standalone definition — a
  *      chunk's first query must not absorb file-listing/codegen
  *      one-time costs the warm-up didn't cover); a query can only be
  *      contaminated by the ≤11 queries before it in its own chunk;
  *   3. any query whose chunk time exceeds [[RetimeThresholdSec]] is
  *      re-timed ALONE in its own JVM and the minimum kept.
  *
  * History of why: r04 recycled nothing and late-sweep queries
  * inflated up to 35×; r05 recycled the session every 20 queries and
  * retimed slow queries in a fresh SESSION; r06's judge falsified
  * that fix — contamination is JVM-level (GC pressure, JIT/code-cache
  * state survive a session recycle), with dedup_exact publishing
  * 12.5 s against a 0.47 s clean-JVM standalone, and sub-threshold
  * queries (a10, tx_chunking) publishing 6–10× inflated because they
  * never crossed the retime bar. Forked chunks fix both: the kept
  * number is the clean-JVM (TimeQueries) definition by construction
  * for retimed queries, and within 2× of it for everything else
  * because a 12-query chunk cannot accumulate a 200-query heap.
  *
  * The r06 bench line also failed to parse (`"parsed": null`): a
  * 66-entry hardcoded headline overflowed the driver's bounded stdout
  * tail. The headline is now the measured worst-[[HeadlineN]] — the
  * queries a reader most needs to see, in a line that always fits.
  */
object Bench {

  val RetimeThresholdSec = 2.0
  val ChunkSize = 12
  val HeadlineN = 20
  /** Hard ceiling per child JVM — a hung child must not stall the
    * round; its queries are then retimed individually.
    */
  val ChildTimeoutMin = 20L

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val logsDir = java.nio.file.Paths.get("target/bench_logs")
    java.nio.file.Files.createDirectories(logsDir)

    // child command = this JVM's exact launch recipe: same java
    // binary, same JVM flags (add-opens, -Xmx, -D props — sbt's
    // fork applied build.sbt's javaOptions to US, the MXBean replays
    // them), same classpath
    val javaBin = java.nio.file.Paths
      .get(sys.props("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val cp = sys.props("java.class.path")

    // per-child host telemetry (r9): `#`-keys from each chunk's tsv —
    // load1 before/after, chunk wall vs process-CPU seconds, and the
    // a15 contention canary — land per-tag in bench_detail.json and as
    // a compact min/med/max summary on the stdout line, so an inflated
    // sweep is adjudicable from the artifact alone (the r8 337 s vs
    // 249-260 s discrepancy needed a manual retime session)
    val telemetry =
      scala.collection.mutable.Map.empty[String, Map[String, Double]]
    // census entries (query → JSON) per child tag; see `keep`
    val censusByTag =
      scala.collection.mutable.Map.empty[String, Map[String, String]]

    /** Fork one [[BenchChunk]]; returns its name→seconds map (empty on
      * child death — caller decides the fallback). Telemetry keys and
      * census entries go to [[telemetry]] and [[censusByTag]] by tag.
      */
    def runChild(spec: String, tag: String): Map[String, Double] = {
      val outFile = logsDir.resolve(s"$tag.tsv")
      val censusFile = java.nio.file.Paths.get(BenchChunk.censusFile(outFile.toString))
      java.nio.file.Files.deleteIfExists(outFile)
      java.nio.file.Files.deleteIfExists(censusFile)
      val cmd = (Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", cp, "graft.BenchChunk", sfDir, cpus,
          outFile.toString, spec)).asJava
      val pb = new ProcessBuilder(cmd)
      pb.redirectErrorStream(true)
      pb.redirectOutput(logsDir.resolve(s"$tag.log").toFile)
      val p = pb.start()
      if (!p.waitFor(ChildTimeoutMin, java.util.concurrent.TimeUnit.MINUTES))
        p.destroyForcibly().waitFor()
      if (!java.nio.file.Files.exists(outFile)) return Map.empty
      val all = java.nio.file.Files.readAllLines(outFile).asScala
        .filter(_.contains('\t'))
        .map { l => val a = l.split('\t'); a(0) -> a(1).toDouble }.toMap
      val tele = all.collect { case (k, v) if k.startsWith("#") =>
        k.stripPrefix("#") -> v }
      if (tele.nonEmpty) telemetry(tag) = tele
      if (java.nio.file.Files.exists(censusFile))
        censusByTag(tag) = java.nio.file.Files.readAllLines(censusFile).asScala
          .map { l => val a = l.split("\t", 2); a(0) -> a(1) }.toMap
      all.filterNot(_._1.startsWith("#"))
    }

    // one retry: these two rates are the round's headline comparison
    // against the reference baseline, and a single child crash should
    // not lose them; a rate still missing after it is listed under
    // `failed`, never published as zero
    val rateKeys = Seq("pipeline_rows_per_sec", "stream_rows_per_sec")
    val tput = {
      val first = runChild("--tput", "tput")
      if (rateKeys.forall(first.contains)) first
      else first ++ runChild("--tput", "tput_retry")
    }

    val names = SparkEntry.queries.keys.toSeq.sorted
    val chunks = names.grouped(ChunkSize).toSeq
    val sweep = scala.collection.mutable.Map.empty[String, Double]
    val census = scala.collection.mutable.Map.empty[String, String]
    /** Keep `t` for `n`, with the census of the child that timed it. */
    def keep(n: String, t: Double, tag: String): Unit = {
      sweep(n) = t
      censusByTag.get(tag).flatMap(_.get(n)).foreach(census(n) = _)
    }
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    failed ++= rateKeys.filterNot(tput.contains)
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val tag = f"chunk$i%02d"
      val got = runChild(chunk.mkString(","), tag)
      got.foreach { case (n, t) => keep(n, t, tag) }
      // a dead child loses its whole chunk's file — recover each
      // missing query in its own JVM so one crash can't blank 11
      // other queries' numbers
      chunk.filterNot(got.contains).foreach { n =>
        runChild(n, s"recover_$n").get(n) match {
          case Some(t) => keep(n, t, s"recover_$n")
          case None => failed += n
        }
      }
    }
    // solo fresh-JVM retime of everything slow: the kept minimum IS
    // the standalone definition
    sweep.filter(_._2 > RetimeThresholdSec).keys.toSeq.sorted.foreach { n =>
      runChild(n, s"retime_$n").get(n)
        .foreach(t => if (t < sweep(n)) keep(n, t, s"retime_$n"))
    }

    val results = sweep.toMap
    val total = results.values.sum
    def r3(v: Double): String = f"$v%.3f"
    def jmap(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => s""""$k":${r3(v)}""" }.mkString("{", ",", "}")
    // compact telemetry summary for the (bounded) stdout line: the
    // canary and load spread across chunks, plus the achieved
    // parallelism (CPU/wall). Read: canary_max >> canary_min or
    // load1_max >> load1_min ⇒ some chunks ran on a contended host —
    // find WHICH in bench_detail.json's per-tag telemetry and distrust
    // those chunks' times, not the code.
    def spread(k: String): Seq[Double] =
      telemetry.values.flatMap(_.get(k)).filterNot(_.isNaN).toSeq.sorted
    def mmm(name: String, raw: Seq[Double]): Option[String] = {
      val vs = raw.sorted
      if (vs.isEmpty) None
      else Some(s""""${name}_min":${r3(vs.head)},"${name}_med":${r3(
        vs(vs.size / 2))},"${name}_max":${r3(vs.last)}""")
    }
    // NaN-filter BOTH operands (spread() already does): a JVM whose
    // OS bean is not com.sun.management reports chunk_cpu as NaN, and
    // a bare NaN token would make the single machine-parsed stdout
    // line unparseable JSON — the r06 failure mode this line must
    // never reproduce
    val cpuWall = telemetry.values.toSeq.flatMap { t =>
      for (c <- t.get("chunk_cpu"); w <- t.get("chunk_wall")
           if w > 0 && !c.isNaN && !w.isNaN)
        yield c / w
    }.sorted
    // per-chunk contention ADJUDICATION (r10), not just raw telemetry:
    // a chunk whose canary ran > 2× the sweep's fastest canary was
    // timed on a contended host — distrust that chunk's numbers, not
    // the code. The flag is per-tag in bench_detail; the stdout line
    // carries the count.
    val canaryMin = {
      val cs = spread("canary_a15")
      if (cs.nonEmpty) cs.head else Double.NaN
    }
    def isContended(t: Map[String, Double]): Boolean =
      t.get("canary_a15").exists(c =>
        !c.isNaN && !canaryMin.isNaN && c > 2.0 * canaryMin)
    val nContended = telemetry.values.count(isContended)
    val teleSummary = (mmm("canary", spread("canary_a15")) ++
      mmm("load1", spread("load_before") ++ spread("load_after")) ++
      mmm("cpu_over_wall", cpuWall) ++
      Seq(s""""contended_chunks":$nContended""")).mkString("{", ",", "}")
    def jtele(m: Map[String, Double]): String = {
      val nums = m.toSeq.sortBy(_._1).map { case (k, v) =>
        s""""$k":${if (v.isNaN) "null" else r3(v)}""" }
      val flag =
        if (m.contains("canary_a15")) Seq(s""""contended":${isContended(m)}""")
        else Seq.empty
      (nums ++ flag).mkString("{", ",", "}")
    }
    val detailTele = telemetry.toSeq.sortBy(_._1)
      .map { case (tag, t) => s""""$tag":${jtele(t)}""" }
      .mkString("{", ",", "}")
    val detailCensus = census.toSeq.sortBy(_._1)
      .map { case (n, c) => s""""$n":$c""" }.mkString("{", ",", "}")
    val detail =
      s"""{"total":${r3(total)},"queries":${jmap(results.toSeq.sortBy(_._1))},"telemetry":$detailTele,"contended_chunks":$nContended,"census":$detailCensus,"sf":"$sfDir"}"""
    val detailPath = java.nio.file.Paths.get("target/bench_detail.json")
    java.nio.file.Files.writeString(detailPath, detail)
    // archive the FULL per-query map + telemetry per sweep (r10):
    // target/bench_detail.json is overwritten by every run, so
    // cross-round regression diffs outside the worst-20 overlap used
    // to depend on a file the next sweep destroys. bench_history/ is
    // repo-tracked and append-only; the stdout line names this sweep's
    // file.
    val histDir = java.nio.file.Paths.get("bench_history")
    java.nio.file.Files.createDirectories(histDir)
    val stamp = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmss'Z'").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    val archPath = histDir.resolve(s"bench_detail_$stamp.json")
    java.nio.file.Files.writeString(archPath, detail)
    val worst = results.toSeq.sortBy(-_._2).take(HeadlineN)
    val failedJson =
      if (failed.isEmpty) ""
      else failed.map(n => s""""$n"""").mkString(""","failed":[""", ",", "]")
    val rates = (rateKeys :+ "stream_steady_batches").flatMap(k =>
      tput.get(k).map(v => s""""$k":${v.round},""")).mkString
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":${jmap(worst)},"sf":"$sfDir","n_queries":${results.size},$rates"telemetry":$teleSummary$failedJson,"detail":"target/bench_detail.json","detail_archive":"$archPath"}""")
  }
}
