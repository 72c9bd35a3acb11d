package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus, so listener counts are
  * read only after every posted event has been delivered.
  */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
