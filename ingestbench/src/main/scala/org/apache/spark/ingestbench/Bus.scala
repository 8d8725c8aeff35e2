package org.apache.spark.ingestbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; the benchmark needs to wait for it
  * to deliver every posted event before it reads what its listeners saw. */
object Bus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
