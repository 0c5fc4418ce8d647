package graft

import org.apache.spark.sql.SparkSession

/** User-facing session factory: a SparkSession configured the way the
  * engine expects — UTC (oracle/interchange parity), AQE on (runtime
  * re-planning, skew handling), shuffle parallelism matched to the
  * target rather than the 200 default, a codegen cache that holds the
  * engine's working set of generated classes ([[CodegenCacheEntries]]),
  * and the graft function extensions injected. On a cluster,
  * `shufflePartitions` should be ~2-3× total executor cores; locally,
  * the core count.
  */
object Graft {

  /** `spark.sql.codegen.cache.maxEntries` of every engine session: how
    * many compiled whole-stage and expression classes Spark keeps.
    * Spark's default of 100 is below one workload's working set, so a
    * warm pass compiled dozens of classes again in Janino, on the driver
    * and in the executors' tasks. Measured from an empty cache at
    * sf0.001 (PlanSpec), the 18 `analytics` bench keys compile 124
    * classes and the ingest gate 79 more. One `graft.tools.Profile` run
    * of the whole registry at sf0.01 sums to 5,760 classes compiled
    * cold (`codegen.classes`), the largest key 161
    * (`q_stream_ann_delete`). 1000 holds any single key and any bench
    * workload several times over, at about 50 KiB of heap per class
    * kept. No bound worth its heap holds the whole registry; the cache
    * is LRU, so a registry sweep keeps its most recent 1000.
    * A streaming query's tasks run on a cloned session with its own
    * executor class loader, which is part of the cache key, so they
    * compile again on each query start at any size.
    *
    * The setting lives here, in the one factory, because it is a static
    * conf: the cache is one object per JVM, sized once from the session
    * active when Spark first generates code, and never resized. A
    * session built elsewhere in the same JVM (the test session) must set
    * the same value before it runs anything.
    */
  val CodegenCacheEntries = 1000

  def session(appName: String = "graft",
              master: String = "local[*]",
              shufflePartitions: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    graft.functions.Catalog.register(s)
    s
  }

  /** Runs `body` with the session confs `kvs` set, then puts each key
    * back: to its previous value, or unset if it had none — also when
    * `body` throws. Session confs are mutable state shared by every
    * caller of the session.
    */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
