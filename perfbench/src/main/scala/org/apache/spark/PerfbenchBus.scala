package org.apache.spark

/** The listener bus is private to Spark; this is the benchmark's one use of
  * it, so that a traced pass's job and stage events are all delivered
  * before the benchmark reads its listener.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
