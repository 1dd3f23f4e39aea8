package org.apache.spark

/** The one Spark-internal call the tracer needs: wait until every queued
  * listener event has been delivered, so the events of a traced op are all
  * attributed to it before the next op starts. */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
