package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Data-layout disciplines for scan efficiency at scale: Hive-style
  * partitioned writes (directory pruning), dynamic partition overwrite
  * (incremental reload), and range-sorted files (footer-stats skipping).
  * Each test asserts the LAYOUT property — pruning in the plan, disjoint
  * file ranges — not just result correctness.
  */
class LayoutSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("partitioned write prunes non-matching partitions at planning time") {
    val dir = tmp("part_write")
    val ev = graft.model.Tables.events(spark, sf)
      .withColumn("dt", to_date(col("ts")))
    graft.ops.Sinks.writePartitioned(ev, dir, Seq("dt"))

    val dates = spark.read.parquet(dir).select(col("dt")).distinct()
      .orderBy(col("dt")).collect().map(_.getDate(0))
    assert(dates.length > 1, "need multiple partitions for a pruning test")

    val one = spark.read.parquet(dir).filter(col("dt") === lit(dates.head))
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("dt"),
      s"expected partition pruning in scan:\n${plan.take(2000)}")
    // pruned scan reads exactly the one directory's rows
    val expected = ev.filter(col("dt") === lit(dates.head)).count()
    assert(one.count() == expected)
  }

  test("dynamic partition pruning injects the dim filter into the fact scan at runtime") {
    // THE 100 TB join pattern: a fact table partitioned on the join key's
    // proxy, joined to a dimension with a selective filter Catalyst
    // cannot push statically (the filter is on a NON-join dim column).
    // DPP turns the dim's broadcast into a runtime partition filter on
    // the fact scan, so only matching directories are read.
    val dir = tmp("dpp_fact")
    val fact = graft.model.Tables.orders(spark, sf)
      .withColumn("o_year", year(to_date(col("o_orderdate"))))
    graft.ops.Sinks.writePartitioned(fact, dir, Seq("o_year"))
    import spark.implicits._
    val years = spark.read.parquet(dir).select("o_year").distinct().count()
    assert(years > 1, "need multiple partitions for a DPP test")
    // the dim must be a real relation: a local in-memory dim has its
    // filter constant-folded away before the PartitionPruning rule runs,
    // which then sees no selective predicate to derive the DPP subquery
    val dimDir = tmp("dpp_dim")
    (1992 to 1998).map(y => (y, if (y == 1995) "focus" else "other"))
      .toDF("d_year", "d_tag").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    // test-scale tables defeat DPP's size-based benefit estimate; force
    // the ratio heuristic so the PLAN SHAPE (runtime partition filter
    // fed by the reused broadcast) is what the test pins
    val confs = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "1000")
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val joined = spark.read.parquet(dir)
        .join(broadcast(dim).filter(col("d_tag") === "focus"),
          col("o_year") === col("d_year"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"expected a dynamicpruning partition filter in the fact scan:\n${plan.take(3000)}")
      val expected = fact.filter(col("o_year") === 1995).count()
      assert(joined.count() == expected)
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dynamic partition overwrite replaces only the touched partition") {
    val dir = tmp("dyn_overwrite")
    import spark.implicits._
    val day1 = Seq((1L, "2026-01-01", 10L), (2L, "2026-01-01", 20L),
      (3L, "2026-01-02", 30L)).toDF("id", "dt", "v")
    graft.ops.Sinks.writePartitioned(day1, dir, Seq("dt"))

    // reload of 2026-01-02 only; 2026-01-01 must survive untouched
    val day2 = Seq((3L, "2026-01-02", 99L), (4L, "2026-01-02", 40L))
      .toDF("id", "dt", "v")
    graft.ops.Sinks.overwritePartitions(day2, dir, Seq("dt"))

    val out = spark.read.parquet(dir).orderBy(col("id"))
      .select(col("id"), col("dt"), col("v")).as[(Long, String, Long)]
      .collect().toSeq
    assert(out == Seq((1L, "2026-01-01", 10L), (2L, "2026-01-01", 20L),
      (3L, "2026-01-02", 99L), (4L, "2026-01-02", 40L)))
  }

  test("range-sorted layout yields pairwise-disjoint per-file key ranges") {
    val dir = tmp("range_sorted")
    val ev = graft.model.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
    graft.ops.Sinks.writeRangeSorted(ev, dir, Seq("event_id"), files = 4)

    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length == 4, s"expected 4 files, got ${files.length}")

    // per-file [min,max] of the sort key must not overlap across files —
    // the property Parquet footer stats exploit to skip files entirely
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("event_id")), max(col("event_id"))).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"overlapping file ranges: $ranges")
      case _ => ()
    }
    // a selective filter still returns the right rows on the new layout
    val n = spark.read.parquet(dir).filter(col("event_id") < 100).count()
    assert(n == ev.filter(col("event_id") < 100).count())
  }

  test("versioned snapshots: pointer flip, time travel, vacuum") {
    import spark.implicits._
    val dir = tmp("versioned")
    val v0 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val v1 = Seq((1L, "a2"), (3L, "c")).toDF("k", "v")

    assert(graft.ops.Sinks.latestVersion(spark, dir).isEmpty)
    assert(graft.ops.Sinks.writeVersioned(v0, dir) == 0L)
    assert(graft.ops.Sinks.writeVersioned(v1, dir) == 1L)
    assert(graft.ops.Sinks.latestVersion(spark, dir).contains(1L))

    // latest read sees v1; pinned read time-travels to v0
    assert(graft.ops.Sinks.readVersioned(spark, dir)
      .as[(Long, String)].collect().toSet == Set((1L, "a2"), (3L, "c")))
    assert(graft.ops.Sinks.readVersioned(spark, dir, Some(0L))
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))

    // vacuum keeps the latest `keep` versions, drops the rest
    graft.ops.Sinks.vacuumVersions(spark, dir, keep = 1)
    assert(!new java.io.File(s"$dir/v=0").exists())
    assert(graft.ops.Sinks.readVersioned(spark, dir)
      .as[(Long, String)].collect().toSet == Set((1L, "a2"), (3L, "c")))

    // crash-safety: a snapshot dir that landed WITHOUT a pointer flip
    // (simulating a writer dying between write and flip) is invisible —
    // readers resolve the pointer, never the directory listing
    Seq((9L, "orphan")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/v=7")
    assert(graft.ops.Sinks.latestVersion(spark, dir).contains(1L))
    assert(graft.ops.Sinks.readVersioned(spark, dir)
      .as[(Long, String)].collect().toSet == Set((1L, "a2"), (3L, "c")))
    // the next committed write supersedes the orphan
    val vNext = graft.ops.Sinks.writeVersioned(
      Seq((4L, "d")).toDF("k", "v"), dir)
    assert(vNext == 2L)
    assert(graft.ops.Sinks.readVersioned(spark, dir)
      .as[(Long, String)].collect().toSet == Set((4L, "d")))
  }

  test("versioned snapshots: a lost pointer recovers by scanning, never restarts at v=0") {
    import spark.implicits._
    val dir = tmp("versioned_recover")
    graft.ops.Sinks.writeVersioned(Seq((1L, "a")).toDF("k", "v"), dir)
    graft.ops.Sinks.writeVersioned(Seq((2L, "b")).toDF("k", "v"), dir)
    // simulate external pointer loss (the flip itself is atomic — an
    // overwriting FileContext rename — so only deletion can lose it)
    assert(new java.io.File(s"$dir/_LATEST").delete())
    // latestVersion falls back to the highest COMPLETE (_SUCCESS) snapshot
    assert(graft.ops.Sinks.latestVersion(spark, dir).contains(1L))
    assert(graft.ops.Sinks.readVersioned(spark, dir)
      .as[(Long, String)].collect().toSet == Set((2L, "b")))
    // and the next write continues the history instead of clobbering v=0
    assert(graft.ops.Sinks.writeVersioned(Seq((3L, "c")).toDF("k", "v"), dir) == 2L)
    assert(graft.ops.Sinks.readVersioned(spark, dir, Some(0L))
      .as[(Long, String)].collect().toSet == Set((1L, "a")))
  }

  test("durable ANN index: one unpartitioned versioned table, cell_id reads as BIGINT") {
    // the physical LAYOUT: postings and codebook land as one table of
    // plain parquet files under v=0, no kind=/cell_id= directories
    graft.queries.LlmOps.materializeAnnIndex(spark, sf)
    val root = new java.io.File(graft.model.Scratch.dir("ann_index", sf), "v=0")
    assert(root.isDirectory, s"expected versioned snapshot at $root")
    val entries = root.listFiles().toSeq
    assert(!entries.exists(_.isDirectory) && entries.exists(_.getName.endsWith(".parquet")),
      s"expected plain parquet files only: ${entries.map(_.getName)}")
    // columns read back in their written order and types: no partition
    // value comes from a directory name as INT
    val idx = graft.queries.LlmSimOps.annIndex(spark, sf)
    assert(idx.columns.toSeq == Seq("kind", "cell_id", "n_id", "sub", "cid", "pos", "ce"))
    assert(idx.schema("cell_id").dataType == org.apache.spark.sql.types.LongType)
    Seq("q_ivfpq_cell_stats", "q_ann_ivfpq_delete_stats").foreach { k =>
      assert(SparkEntry.queries(k)(spark, sf).schema("cell_id").dataType ==
        org.apache.spark.sql.types.LongType, s"$k must output cell_id as BIGINT")
    }
  }

  test("q_ann_ivfpq_read: the postings scan reads the whole index, no partition filter") {
    // the registry's 20 queries × nprobe 4 probe every one of the 16
    // cells, so no read prunes by cell: the index scans carry only the
    // kind filter, as a data filter, and open every file of the table
    graft.queries.LlmOps.materializeAnnIndex(spark, sf)
    val root = new java.io.File(graft.model.Scratch.dir("ann_index", sf), "v=0")
    val allFiles = root.listFiles().count(_.getName.endsWith(".parquet")).toLong
    val df = SparkEntry.queries("q_ann_ivfpq_read")(spark, sf)
    df.collect()
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val scans = helper.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("ann_index")) => s
    }
    assert(scans.exists(_.dataFilters.exists(_.sql.contains("kind = 'p'"))),
      s"expected a postings scan: ${scans.map(_.dataFilters)}")
    scans.foreach { s =>
      assert(s.relation.partitionSchema.isEmpty && s.partitionFilters.isEmpty,
        s"unexpected partition filter: ${s.partitionFilters}")
      assert(s.metrics("numFiles").value == allFiles,
        s"scan opened ${s.metrics("numFiles").value} of $allFiles files")
    }
  }

  test("gate postings store: an empty batch reads no rows, and its fold lands one file") {
    import spark.implicits._
    import graft.streaming.GateStores
    // AnnIngest's postings shape: a batch over every cell, then an
    // ALL-REJECTED batch (the ~SF1 soak's batches 1-2), which lands
    // one schema-bearing file of no rows
    val st = GateStores.Store(tmp("postings"), org.apache.spark.sql.types.StructType
      .fromDDL("cell_id BIGINT, n_id BIGINT, sub INT, cid BIGINT"))
    val rows = (0L until 160L).map(i => (i % 16, i, (i % 8).toInt, i % 5))
      .toDF("cell_id", "n_id", "sub", "cid")
    def plainFiles(dir: String): Int = {
      val fs = new java.io.File(dir).listFiles()
      assert(!fs.exists(_.isDirectory), s"unexpected subdirectory under $dir")
      fs.count(_.getName.endsWith(".parquet"))
    }
    st.land(rows, 0L)
    st.land(rows.filter($"n_id" < 0), 1L)
    assert(plainFiles(s"${st.dir}/b1") == 1)
    assert(GateStores.readBatchesOpt(spark, Seq(s"${st.dir}/b1"), st.schema).get.isEmpty)
    assert(GateStores.readStoreOpt(spark, st).get.count() == 160L)
    // the fold lands one file under snap/v=1
    assert(GateStores.maybeCompact(spark, st, upTo = 1))
    assert(plainFiles(s"${st.dir}/snap/v=1") == 1)
    val folded = GateStores.readStoreOpt(spark, st).get
    assert(folded.schema("cell_id").dataType == org.apache.spark.sql.types.LongType)
    assert(folded.as[(Long, Long, Int, Long)].collect().toSet ==
      rows.as[(Long, Long, Int, Long)].collect().toSet)
    // a fold of empty batches only still commits, so the empty b-dirs
    // stop being listed, and the store still reads no rows
    val empty = st.copy(dir = tmp("postings_empty"))
    empty.land(rows.limit(0), 0L); empty.land(rows.limit(0), 1L)
    assert(GateStores.maybeCompact(spark, empty, upTo = 1))
    assert(GateStores.foldedThrough(spark, empty.dir) == 1L &&
      GateStores.existingIds(empty.dir).isEmpty)
    assert(GateStores.readStoreOpt(spark, empty).forall(_.isEmpty))
  }

  test("z-ordered layout bounds per-file ranges in BOTH dimensions") {
    import spark.implicits._
    // 64×64 grid: symmetric bit-widths make the clustering effect exact
    val grid = spark.range(64L * 64L)
      .select((col("id") / 64).cast("long").as("x"), (col("id") % 64).as("y"))

    val zDir = tmp("zorder")
    graft.ops.ZOrder.write(grid, col("x"), col("y"), zDir, files = 16, bits = 6)
    // baseline: single-dimension sort leaves y unbounded in every file
    val xDir = tmp("xsorted")
    graft.ops.Sinks.writeRangeSorted(grid, xDir, Seq("x"), files = 16)

    def fileRanges(dir: String): Array[(Long, Long)] =
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map { f =>
          val r = spark.read.parquet(f.toString)
            .agg(max(col("x")) - min(col("x")), max(col("y")) - min(col("y")))
            .head()
          (r.getLong(0), r.getLong(1))
        }

    val z = fileRanges(zDir)
    assert(z.length == 16)
    // a contiguous z range of ~1/16 of the space spans about a quarter
    // of each dimension (2 of 6 bits); sampled range boundaries blur
    // that, so assert the mean — far below the global span of 63
    val meanX = z.map(_._1).sum.toDouble / z.length
    val meanY = z.map(_._2).sum.toDouble / z.length
    assert(meanX < 34.0, s"mean per-file x-span $meanX; ranges=${z.toSeq}")
    assert(meanY < 34.0, s"mean per-file y-span $meanY; ranges=${z.toSeq}")
    // single-dim sort: x tight but y is the full span in every file —
    // the quantified reason z-order beats it for two-sided predicates
    val xs = fileRanges(xDir)
    val meanYx = xs.map(_._2).sum.toDouble / xs.length
    assert(meanY < 0.6 * meanYx,
      s"z-order mean y-span $meanY should beat x-sorted $meanYx")
  }
}
