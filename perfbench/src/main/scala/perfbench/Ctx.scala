package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What one workload reports back: the operations it attempted and
  * failed, whether every output check passed, its end-to-end figures
  * (apart from set-up and memory, which [[Main]] adds), in a traced run
  * its per-layer figures, and the number of latency samples.
  */
final case class Outcome(attempted: Long, failed: Long, correct: Boolean,
                         endToEnd: Map[String, Double],
                         layers: Map[String, Double], samples: Int)

/** Per-run context: session, probe, scratch directory, seed and length,
  * plus the set-up clock. Set-up is the sum of its named steps: the
  * session, then the warm-up that readies the workload for load.
  */
final class Ctx(val spark: SparkSession, val probe: Probe, val work: Path,
                val seed: Long, val seconds: Int) {
  val setupSteps = ArrayBuffer.empty[(String, Double)]
  def setupS: Double = setupSteps.map(_._2).sum

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  def once[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val v = f
    setupSteps += name -> (System.nanoTime() - t0) / 1e9
    v
  }
}
