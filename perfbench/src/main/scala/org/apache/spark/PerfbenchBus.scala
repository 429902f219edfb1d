package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * a traced pass reads complete job, stage and task records. The listener
  * bus is private to Spark; this is the one call the benchmark needs. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
