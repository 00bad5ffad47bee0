package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; counting them at a
  * boundary (jobs started by one call) needs the bus drained first, and
  * draining is only reachable from inside the `org.apache.spark` package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
