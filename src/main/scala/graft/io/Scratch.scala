package graft.io

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.commons.io.FileUtils

/** The one owner of scratch space. Every query wrapper, streaming call
  * and spec takes its scratch directories from here, under three rules:
  *  - root: the JVM's `java.io.tmpdir`, as `<root>/graft-<pid>/`;
  *  - uniqueness: each call returns a path that no earlier call in any
  *    process returned and that nothing on disk holds yet, so two
  *    invocations, concurrent or nested, never share one;
  *  - reclamation: one JVM shutdown hook deletes every path handed out.
  *
  * Nothing is wiped on entry, because nothing is reused. The returned
  * path does not exist yet and its parent does: writers create it, so a
  * default-mode (error-if-exists) write succeeds. Everything a lazy
  * frame reads from it stays in place until the JVM exits.
  */
object Scratch {
  private val pid = ProcessHandle.current().pid()
  private val seq = new AtomicLong(0)
  private val handedOut = new ConcurrentLinkedQueue[File]()

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    handedOut.forEach(f => FileUtils.deleteQuietly(f))))

  private lazy val root: String = {
    val r = new File(System.getProperty("java.io.tmpdir"), s"graft-$pid")
    handedOut.add(r)
    r.getPath
  }

  /** A fresh directory `<java.io.tmpdir>/graft-<pid>/<tag>-<seq>`. */
  def dir(tag: String): String = fresh(s"$root/$tag")

  /** A fresh directory `$base-<pid>-<seq>`, next to a caller's own base
    * (a streaming call's `workDir`), so the caller decides the volume.
    */
  def beside(base: String): String = fresh(s"$base-$pid")

  // the exists() skip covers a leftover of an earlier process that had
  // the same pid and was killed before its hook ran
  private def fresh(prefix: String): String = {
    val path = Iterator.continually(s"$prefix-${seq.incrementAndGet()}")
      .dropWhile(p => new File(p).exists()).next()
    val f = new File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    handedOut.add(f)
    path
  }
}
