package org.apache.spark

/** The live listener bus is spark-package-private; specs that count
  * jobs drain it so every event of the code under test has been
  * delivered before the count is read. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
