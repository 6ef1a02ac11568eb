package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `private[spark]` access for the benchmark's tracer: block until the
  * asynchronous listener bus has delivered every queued event, so a
  * traced pass is read only after all of its job and task events. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
