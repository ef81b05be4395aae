package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * pass's job, stage, task, query and micro-batch events are all in the
  * trace before the pass is summarised. The bus is private to Spark,
  * hence this one-line bridge in Spark's package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
