package org.apache.spark

/** Listener-bus access for the benchmark's traced run: the drain call is
  * package-private to Spark, and per-round numbers must not be read while
  * that round's task and job events are still queued.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
