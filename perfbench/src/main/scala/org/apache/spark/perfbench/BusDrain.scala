package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until Spark has delivered every queued listener event. The
  * listener bus is private to Spark, which is why this bridge sits in
  * Spark's package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
