package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus: listener events (job ends,
  * query-execution callbacks) are delivered asynchronously, so a trace is
  * read only after the bus has drained.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
