package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The live listener bus is spark-package-private; specs that count
  * jobs drain it so every event of the code under test has been
  * delivered before the count is read. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Jobs Spark starts while `f` runs (before any action on what it
    * returns): the one job-budget helper of the specs. */
  def jobsDuring[T](spark: SparkSession)(f: => T): (T, Int) = {
    val sc = spark.sparkContext
    drain(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    sc.addSparkListener(l)
    try {
      val r = f
      drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }
}
