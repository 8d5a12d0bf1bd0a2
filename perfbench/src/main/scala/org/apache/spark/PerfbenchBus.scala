package org.apache.spark

/** Lets the benchmark harness wait until every listener event posted so far
  * has been delivered, so a traced phase is read only once it is complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
