package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every event posted so far,
  * so a traced unit's job, task and query events are all in before it is
  * summarised. The bus is private to Spark's own packages.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
