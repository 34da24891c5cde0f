package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every
  * event posted so far has reached the listeners, so a traced run's
  * spans are complete before they are summarized. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
