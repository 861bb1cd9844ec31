package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; draining it needs a compilation
  * unit inside an `org.apache.spark` subpackage. Draining before reading
  * listener counters makes sure every task-end event of a finished job
  * has been counted. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
