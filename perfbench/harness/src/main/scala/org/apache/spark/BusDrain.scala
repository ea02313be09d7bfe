package org.apache.spark

/** Blocks until every event posted so far has reached the listeners.
  * The listener bus is private to Spark, hence this file's package; the
  * harness calls it after each traced operation so the counters it then
  * reads include every task of that operation.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
