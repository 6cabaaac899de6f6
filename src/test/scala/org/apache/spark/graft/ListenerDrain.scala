package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus: waits until every queued event has been
  * delivered, so a listener has seen all the jobs an action launched. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
