package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so
  * counters read right after a job are complete. Lives in Spark's package
  * because the listener bus is `private[spark]`. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
