package org.apache.spark

/** The one Spark-internal call the benchmark's tracer needs: waiting
  * until every posted listener event has been delivered, so the span
  * metrics of a finished pass are complete before they are read.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
