package org.apache.spark.perfbenchbus

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event. The
  * bus is package-private to Spark, so this one call lives under its
  * package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
