package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so
  * listener-derived counts are complete before they are read. The bus is
  * Spark-internal; this accessor lives in Spark's package for that reason.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
