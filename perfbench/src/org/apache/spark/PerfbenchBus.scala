package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until every
  * listener event posted so far has been delivered, so a rep's
  * counters are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
