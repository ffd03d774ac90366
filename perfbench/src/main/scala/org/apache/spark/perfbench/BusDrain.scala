package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener, so a
  * reader of listener state sees all jobs of the ops that already returned.
  * Lives under `org.apache.spark` because the bus is `private[spark]`. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
