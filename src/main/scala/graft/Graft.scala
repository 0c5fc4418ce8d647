package graft

import org.apache.spark.sql.SparkSession

/** User-facing session factory: a SparkSession configured the way the
  * engine expects — UTC (oracle/interchange parity), AQE on (runtime
  * re-planning, skew handling), shuffle parallelism matched to the
  * target rather than the 200 default, and the graft function extensions
  * injected. On a cluster, `shufflePartitions` should be ~2-3× total
  * executor cores; locally, the core count.
  */
object Graft {
  def session(appName: String = "graft",
              master: String = "local[*]",
              shufflePartitions: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    graft.functions.Catalog.register(s)
    s
  }
}
