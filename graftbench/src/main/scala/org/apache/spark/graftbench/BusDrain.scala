package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every event posted so
  * far. Listener callbacks run on the bus thread, after the action that
  * caused them has returned; the tracer drains at each span boundary so
  * that a job, task or query-planning event is charged to the span in
  * which it happened. `waitUntilEmpty` is `private[spark]`, hence this
  * file's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
