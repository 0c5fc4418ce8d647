package graft.ops

import scala.util.Using

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Sink disciplines exhibited by the reference, re-expressed set-wise.
  *
  *  - K1 keyed upsert (dags/racedag.py:68-73 `update_one($set, upsert=True)`
  *    and the per-row loop variant dags/scheduledag.py:74-81): one
  *    anti-join + union per batch instead of one round-trip per document.
  *  - K2 full refresh (dags/driverstandings.py:82-85 `delete_many` +
  *    `insert_many`): an atomic `overwrite` write — unlike the reference,
  *    readers never observe the empty intermediate state (SURVEY.md §3.2).
  *
  * On plain Parquet the merge is emulated; on a lakehouse table format the
  * same API maps to MERGE INTO. At scale the write should be partitioned
  * (partitionBy on a date/bucket column) so overwrite is per-partition.
  */
object Sinks {

  /** MERGE semantics on DataFrames: rows of `updates` win over rows of
    * `base` with the same key; base rows without a matching update pass
    * through. Pure and distributed: broadcast-able anti join when updates
    * are small, shuffle join otherwise (Catalyst/AQE picks).
    */
  def mergeByKey(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val kept = base.join(updates.select(keys.map(col): _*), keys, "left_anti")
    kept.unionByName(updates.select(base.columns.toIndexedSeq.map(col): _*))
  }

  /** K1 write path: merge `updates` into the Parquet table at `path` by key.
    * Idempotent: applying the same updates twice yields the same table.
    */
  def upsertByKey(spark: org.apache.spark.sql.SparkSession, path: String,
                  updates: DataFrame, keys: Seq[String]): Unit = {
    // Resolve existence against the path's own filesystem scheme (HDFS/S3/
    // local alike) — a java.io.File check is always false for remote URIs
    // and would silently overwrite an existing remote table.
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged =
      if (fs.exists(hPath)) {
        val base = spark.read.parquet(path)
        // Materialize the merge before overwriting the input path.
        mergeByKey(base, updates, keys).localCheckpoint(true)
      } else updates
    merged.write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Apply a CDC change feed (insert / update / delete) to a base table
    * set-wise: `D` rows anti-join the base out, `U`/`I` rows upsert via
    * [[mergeByKey]]. A key that is both deleted and (re)inserted in the
    * same batch ends up inserted — deletes apply first, upserts last,
    * the MERGE WHEN MATCHED/NOT MATCHED ordering. One anti join + one
    * merge, no per-row loops, any scale.
    */
  def applyCdc(base: DataFrame, changes: DataFrame, keys: Seq[String],
               opCol: String): DataFrame = {
    val dels = changes.filter(col(opCol) === "D")
      .select(keys.map(col): _*).distinct()
    val upserts = changes.filter(col(opCol).isin("U", "I")).drop(opCol)
    mergeByKey(base.join(dels, keys, "left_anti"), upserts, keys)
  }

  /** K2: truncate-and-reload as a single atomic overwrite. */
  def overwriteRefresh(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Hive-style partitioned write: one directory per distinct value of
    * `partCols`. The layout that makes 100 TB tables queryable — a filter
    * on the partition column prunes whole directories at planning time
    * (`PartitionFilters` in the scan, zero I/O for pruned partitions), and
    * incremental jobs rewrite only the partitions they touch.
    */
  def writePartitioned(df: DataFrame, path: String, partCols: Seq[String]): Unit =
    df.write.partitionBy(partCols: _*).mode(SaveMode.Overwrite).parquet(path)

  /** Incremental partition replacement: overwrite ONLY the partitions
    * present in `df`, leaving all others intact (dynamic partition
    * overwrite — the idempotent daily-reload pattern; a static overwrite
    * would drop the whole table).
    */
  def overwritePartitions(df: DataFrame, path: String, partCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try df.write.partitionBy(partCols: _*).mode(SaveMode.Overwrite).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Range-clustered layout: globally range-partition by `sortCols` into
    * `files` output files, sorted within each. Every file then covers a
    * narrow, pairwise-disjoint min/max range of the sort key, so Parquet
    * footer statistics let selective scans skip whole files/row-groups —
    * the sorted-layout half of data skipping (partitioning is the other).
    */
  def writeRangeSorted(df: DataFrame, path: String, sortCols: Seq[String],
                       files: Int): Unit =
    df.repartitionByRange(files, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Versioned snapshot write — time-travel emulation on plain Parquet
    * (the capability a lakehouse format provides, rebuilt from
    * primitives): each write lands a complete immutable snapshot under
    * `v=<n>/` and then flips a one-line `_LATEST` pointer file. Readers
    * resolve the pointer first, so they always see a complete snapshot —
    * a crash mid-write leaves the pointer at the previous version
    * (write-then-flip is the atomicity discipline). Old versions remain
    * readable by number until [[vacuumVersions]] trims them.
    */
  def writeVersioned(df: DataFrame, path: String,
                     partitionCols: Seq[String] = Nil): Long = {
    // rename is the atomic flip on HDFS-like stores; object stores need
    // their conditional-put equivalent
    val next = latestVersion(df.sparkSession, path).map(_ + 1).getOrElse(0L)
    writeVersionAt(df, path, next, partitionCols)
    next
  }

  /** Write snapshot `version` and flip the pointer iff it advances the
    * table — the idempotent form for callers that own the version number
    * (e.g. a streaming micro-batch id): replaying an already-committed
    * version is a no-op, so retries cannot double-write or move the
    * pointer backwards.
    */
  def writeVersionAt(df: DataFrame, path: String, version: Long,
                     partitionCols: Seq[String] = Nil): Boolean = {
    val spark = df.sparkSession
    val committed = latestVersion(spark, path)
    if (committed.exists(_ >= version)) false
    else {
      val conf = spark.sparkContext.hadoopConfiguration
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(conf)
      val w = df.write.mode(SaveMode.Overwrite)
      // Hive layout inside the snapshot: filters on the partition
      // columns prune whole files at planning time (the writePartitioned
      // rationale applied to versioned tables)
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(versionDir(path, version))
      val qualified = fs.makeQualified(hPath)
      val tmp = new org.apache.hadoop.fs.Path(qualified, "_LATEST.tmp")
      Using.resource(fs.create(tmp, true))(_.write(version.toString.getBytes("UTF-8")))
      // One ATOMIC overwriting rename (FileContext + Rename.OVERWRITE),
      // not delete-then-rename: a crash or concurrent reader between a
      // delete and a rename would observe NO pointer — under which a
      // naive writer restarts at v=0 and rolls the table back. With the
      // atomic flip readers see either the old or the new pointer,
      // never neither.
      org.apache.hadoop.fs.FileContext.getFileContext(qualified.toUri, conf)
        .rename(tmp, new org.apache.hadoop.fs.Path(qualified, "_LATEST"),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      true
    }
  }

  /** Highest committed version per the pointer file. If the pointer is
    * missing but complete snapshots exist (`v=N/` with a `_SUCCESS`
    * marker), fall back to the highest such snapshot rather than
    * pretending the table is empty — a lost pointer must never make the
    * next write restart at v=0 over live history. (With the atomic flip
    * in [[writeVersionAt]] the pointer can only go missing through
    * external deletion; the scan is the recovery path.)
    */
  def latestVersion(spark: org.apache.spark.sql.SparkSession,
                    path: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(path, "_LATEST")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      Some(Using.resource(fs.open(p))(in => new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toLong))
    } else {
      val dir = new org.apache.hadoop.fs.Path(path)
      if (!fs.exists(dir)) None
      else fs.listStatus(dir).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("v=") &&
          fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
        .map(_.getPath.getName.drop(2).toLong)
        .sorted(Ordering[Long].reverse).headOption
    }
  }

  /** Read a snapshot: the committed latest by default, or a pinned
    * historical version.
    */
  def readVersioned(spark: org.apache.spark.sql.SparkSession, path: String,
                    version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, path)).getOrElse(
      throw new IllegalStateException(s"no committed version at $path"))
    spark.read.parquet(versionDir(path, v))
  }

  /** The dir of snapshot `version` of the versioned table at `path`. */
  def versionDir(path: String, version: Long): String = s"$path/v=$version"

  /** Drop all snapshots older than `keep` versions behind latest. */
  def vacuumVersions(spark: org.apache.spark.sql.SparkSession, path: String,
                     keep: Int): Unit = {
    require(keep >= 1, s"must keep at least the latest version, got $keep")
    latestVersion(spark, path).foreach { latest =>
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(hPath).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("v=") &&
            name.drop(2).toLong <= latest - keep)
          fs.delete(st.getPath, true)
      }
    }
  }

  /** Small-files compaction: rewrite a Parquet table into `targetFiles`
    * output files. Streaming/incremental sinks accrete many small files;
    * at scale the scan cost is dominated by file-open overhead until the
    * layout is compacted. Content is preserved exactly.
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, path: String,
                     targetFiles: Int): Unit = {
    val compacted = spark.read.parquet(path)
      .repartition(targetFiles)
      .localCheckpoint(true) // materialize before overwriting the input
    compacted.write.mode(SaveMode.Overwrite).parquet(path)
  }
}
