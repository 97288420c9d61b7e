package org.apache.spark.perfbenchaccess

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every posted event, so a
  * listener's totals are final when read. The bus is private to Spark,
  * hence this accessor in a Spark package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
