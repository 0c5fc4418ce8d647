package org.apache.spark.sql

/** How many listeners from outside Spark a session's buses hold — jobs,
  * query executions, streaming progress — for specs that check a
  * measured call leaves none behind. Spark's own bus listeners are not
  * counted: each cloned session (a streaming query runs on one) adds one
  * that goes only when the clone is collected. In Spark's namespace
  * because the first two registries are package-private.
  */
object ListenerCounts {
  def apply(spark: SparkSession): Seq[Int] = Seq(
    spark.sparkContext.listenerBus.listeners.toArray
      .count(!_.getClass.getName.startsWith("org.apache.spark.")),
    spark.listenerManager.listListeners().length,
    spark.streams.listListeners().length)
}
