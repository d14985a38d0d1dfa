package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * the traced run reads complete job, task and query records.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
