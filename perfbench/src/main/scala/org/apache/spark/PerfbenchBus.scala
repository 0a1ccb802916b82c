package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far.
  * `LiveListenerBus.waitUntilEmpty` is private to Spark; the benchmark needs
  * it so that a pass's job, stage and stream-progress events are all in
  * before the pass's layer metrics are summed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
