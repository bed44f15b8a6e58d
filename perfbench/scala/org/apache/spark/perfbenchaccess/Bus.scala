package org.apache.spark.perfbenchaccess

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so
  * listener-derived figures are complete when they are read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
