package org.apache.spark

/** The one Spark-internal call the benchmark's tracer needs: waiting
  * until every queued listener event has been delivered, so span
  * counters are complete before they are read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
