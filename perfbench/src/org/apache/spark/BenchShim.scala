package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the trace's counters are final before they are read.
  */
object BenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
