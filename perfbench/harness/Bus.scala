package org.apache.spark

/** The live listener bus is spark-package-private; the traced run drains
  * it after each operation so every job, task and query-execution event
  * of that operation has been delivered before its counts are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
