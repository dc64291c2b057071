package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; a sample's counters are
  * read only after the bus has delivered everything posted so far.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
