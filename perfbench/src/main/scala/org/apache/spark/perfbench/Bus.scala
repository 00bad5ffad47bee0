package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lets the benchmark's traced run read listener counts at op boundaries:
  * listener events are delivered asynchronously, and draining the bus is
  * only reachable from inside the `org.apache.spark` package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
