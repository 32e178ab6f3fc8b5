package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every queued
  * listener event has been delivered, so a span's counters are complete when
  * the span is read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
