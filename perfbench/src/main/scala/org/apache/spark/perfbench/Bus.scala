package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** In the `org.apache.spark` namespace only to reach the `private[spark]`
  * listener bus: a span drains pending events at its edges, so the
  * asynchronous bus cannot attribute one call's jobs and tasks to the next.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
