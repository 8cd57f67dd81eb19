package org.apache.spark

/** The one internal the benchmark needs: waiting until the listener bus
  * has delivered every event posted so far, so that listener counters
  * read after an action include that action's jobs and tasks.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
