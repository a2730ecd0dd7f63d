package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener.
  * Listener delivery is asynchronous; the tracer drains the bus before it
  * detaches, so a traced pass loses none of its trailing events. Lives in
  * `org.apache.spark` because the bus is package-private there. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
