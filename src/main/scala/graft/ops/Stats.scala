package graft.ops

import org.apache.spark.sql.SparkSession
import graft.model.Tables

/** Cost-based optimization enablement: land the corpus as ANALYZEd
  * catalog tables so Catalyst's CBO (`spark.sql.cbo.enabled` +
  * `spark.sql.cbo.joinReorder.enabled`) costs join orders from real
  * rowCount/NDV/min-max column statistics instead of file-size
  * guesses. Temp views cannot carry catalog statistics — `ANALYZE
  * TABLE` needs a catalog entry — so the stats path gets its own
  * database, name-spaced away from [[graft.queries.SqlSurface]]'s temp
  * views (which would otherwise shadow same-named catalog tables
  * during resolution).
  *
  * Division of labor at 100 TB: AQE re-plans at runtime from OBSERVED
  * shuffle sizes but only ever locally (it cannot re-order a whole
  * join tree it has already started executing); CBO picks the join
  * ORDER up front from collected stats. The multi-join TPC-H shapes
  * (Q8's 8-relation tree is the widest) want both — CboSpec pins the
  * reorder win against the stats-off plan.
  */
object Stats {

  /** The relations the TPC-H surface joins over. */
  val tpchTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** Register dir `d`'s tables as managed catalog tables under `db`
    * and collect table + all-column statistics. The write goes through
    * [[graft.model.Tables]] (nanos-timestamp normalization), so the
    * catalog schema matches the temp-view schema exactly.
    */
  def registerAnalyzed(s: SparkSession, d: String, db: String,
                       tables: Seq[String] = tpchTables): Unit = {
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    tables.foreach { t =>
      // A previous JVM's managed-table directory may survive in the
      // warehouse while the (in-memory) catalog starts empty — Spark
      // refuses to reuse the location, so clear both sides first.
      s.sql(s"DROP TABLE IF EXISTS $db.$t")
      val loc = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(
          s.sessionState.catalog.getDatabaseMetadata(db).locationUri), t)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      // Spark 4.1's FilterEstimation has no case for TimestampNTZType
      // (MatchError in evaluateBinary when a CBO-costed filter touches
      // an NTZ column with column stats) — land NTZ columns as LTZ so
      // date-filter selectivity participates in costing. Under a fixed
      // session timezone the instants are identical.
      val src = Tables.table(s, d, t)
      val converted = src.schema.fields.foldLeft(src) { (df, f) =>
        if (f.dataType == org.apache.spark.sql.types.TimestampNTZType)
          df.withColumn(f.name,
            org.apache.spark.sql.functions.col(f.name)
              .cast(org.apache.spark.sql.types.TimestampType))
        else df
      }
      converted.write.mode("overwrite").saveAsTable(s"$db.$t")
      s.sql(s"ANALYZE TABLE $db.$t COMPUTE STATISTICS FOR ALL COLUMNS")
    }
  }

  /** Run `body` with CBO and stats-based join reordering toggled to
    * `on`, restoring the session's previous settings after. Session
    * confs are mutable global state — callers on shared sessions get
    * the restore discipline for free.
    */
  def withCbo[T](s: SparkSession, on: Boolean)(body: => T): T =
    graft.Graft.withConf(s, "spark.sql.cbo.enabled" -> on.toString,
      "spark.sql.cbo.joinReorder.enabled" -> on.toString)(body)
}
