package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers Spark's events asynchronously. The traced
  * run drains it after each op, so every job, stage, task, query and
  * micro-batch event is attributed to the op that caused it. Lives in
  * the `org.apache.spark` namespace because the bus is `private[spark]`.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
