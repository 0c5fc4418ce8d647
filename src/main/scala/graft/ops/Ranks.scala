package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global-ordering primitives: total-order row numbers and
  * running totals WITHOUT a single-partition window.
  *
  * A global `Window.orderBy(...)` funnels the whole table through one
  * task — the classic scale-killer. These helpers use the zipWithIndex
  * discipline instead, expressed DataFrame-first:
  *
  *  1. range-repartition on the order key and sort within partitions
  *     (one shuffle; partition i holds a contiguous key range, ranges
  *     ascending with i);
  *  2. a per-partition position — `monotonically_increasing_id()` over
  *     the sorted, materialized partitions encodes
  *     `partitionId << 33 | localIndex`, so the local position needs no
  *     window at all — or a window PARTITIONED by the partition id
  *     (parallel across partitions) for running totals;
  *  3. per-partition counts/totals (a tiny aggregate, ≤ one row per
  *     partition) collected to the driver and turned into cumulative
  *     offsets — the same per-partition count job `RDD.zipWithIndex`
  *     runs, a few dozen longs regardless of table size;
  *  4. global value = partition offset + local value, via a literal
  *     when-chain on the partition id (codegen'd, no join, no shuffle).
  *
  * The order columns must define a TOTAL order (include a unique
  * tiebreaker): rows equal on all order columns compare equal to every
  * range bound, land in one partition, and then tie arbitrarily within
  * it. The sorted prefix is localCheckpointed so the offset job and the
  * consuming query see the same materialized layout (and the sort runs
  * once, not twice).
  */
object Ranks {

  /** Range-sorted input with its partition id, materialized. */
  private def sortedWithPid(df: DataFrame, order: Seq[Column],
                            partitions: Int): DataFrame = {
    val n =
      if (partitions > 0) partitions
      else math.max(df.sparkSession.sparkContext.defaultParallelism, 1)
    df.repartitionByRange(n, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint(true)
  }

  /** Cumulative exclusive offsets from per-partition subtotals. */
  private def cumOffsets(perPid: Array[(Int, Long)]): Seq[(Int, Long)] = {
    var acc = 0L
    perPid.sortBy(_._1).toIndexedSeq.map { case (pid, c) =>
      val out = (pid, acc); acc += c; out
    }
  }

  /** Offset lookup as a literal when-chain over the partition id —
    * partition counts are bounded by the shuffle width, so the chain
    * stays small and fully codegen'd.
    */
  private def offsetCol(offsets: Seq[(Int, Long)]): Column =
    offsets.foldLeft(lit(0L)) { case (e, (pid, off)) =>
      when(col("_pid") === pid, lit(off)).otherwise(e)
    }

  /** Global 1-based row number by `order` (must be a total order), as
    * INT column `as` — equivalent to
    * `row_number().over(Window.orderBy(order))` but with no
    * single-partition stage anywhere in the plan.
    */
  def globalRowNumber(df: DataFrame, order: Seq[Column], as: String,
                      partitions: Int = 0): DataFrame =
    globalRowNumberWithCount(df, order, as, partitions)._1

  /** [[globalRowNumber]] plus the TOTAL row count, which the offset job
    * already collected — callers needing |df| (median ranks, quantile
    * cuts) read it here for free instead of paying a second full
    * evaluation of `df` for a count aggregate (r16: q_theil_sen ran its
    * calendar-pair theta join three times — rank pass, count pass, and
    * the consuming filter — for one number this pass already had).
    */
  def globalRowNumberWithCount(df: DataFrame, order: Seq[Column], as: String,
                               partitions: Int = 0): (DataFrame, Long) = {
    val sorted = sortedWithPid(df, order, partitions)
      .withColumn("_mid", monotonically_increasing_id())
    val counts = sorted.groupBy(col("_pid"))
      .agg(count(lit(1)).as("_cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val localIdx = col("_mid") - shiftleft(col("_pid").cast("long"), 33)
    (sorted
      .withColumn(as, (offsetCol(cumOffsets(counts)) + localIdx + 1L).cast("int"))
      .drop("_pid", "_mid"),
      counts.map(_._2).sum)
  }

  /** Global EXCLUSIVE running minimum of LONG `value` by `order` (must
    * be a total order), as column `as` — equivalent to
    * `min(value).over(Window.orderBy(order).rowsBetween(unboundedPreceding,
    * -1))` (null for the globally first row), computed as a
    * per-partition exclusive-prefix min (window PARTITIONED by the
    * partition id — parallel) combined via null-skipping `least` with
    * the collected strictly-earlier-partition minima. The sweep
    * primitive behind the distributed skyline.
    */
  def globalRunningMinExcl(df: DataFrame, order: Seq[Column], value: Column,
                           as: String, partitions: Int = 0): DataFrame = {
    val sorted = sortedWithPid(df, order, partitions)
    val mins = sorted.groupBy(col("_pid")).agg(min(value).as("_m"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    // offset(pid) = min over strictly earlier partitions (None if none)
    var best: Option[Long] = None
    val offsets = mins.toIndexedSeq.map { case (pid, m) =>
      val out = (pid, best)
      best = Some(best.fold(m)(math.min(_, m)))
      out
    }
    val offCol = offsets.foldLeft(lit(null).cast("long")) {
      case (e, (pid, off)) =>
        when(col("_pid") === pid, off.map(lit).getOrElse(lit(null))).otherwise(e)
    }
    val w = Window.partitionBy(col("_pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    // least() skips nulls (null only when both are null) — exactly the
    // "no earlier row" semantics needed at partition/global heads
    sorted
      .withColumn(as, least(offCol, min(value).over(w)))
      .drop("_pid")
  }

  /** Global inclusive running sum of `value` by `order` (must be a total
    * order), as LONG column `as` — equivalent to
    * `sum(value).over(Window.orderBy(order).rowsBetween(unboundedPreceding,
    * currentRow))`, computed as a per-partition running sum (window
    * PARTITIONED by the partition id — parallel) plus the collected
    * cumulative partition subtotals.
    */
  def globalRunningSum(df: DataFrame, order: Seq[Column], value: Column,
                       as: String, partitions: Int = 0): DataFrame =
    globalRunningSums(df, order, Seq(value -> as), partitions)

  /** Global inclusive running sums of SEVERAL LONG measures by `order`
    * (must be a total order) off ONE range-sort — the multi-measure
    * form of [[globalRunningSum]]: one shuffle and one per-partition
    * subtotal job carry all measures (N separate calls would sort and
    * checkpoint the table N times). Each (value, name) pair lands as a
    * LONG running column; all ride the same parallel per-partition
    * window.
    */
  def globalRunningSums(df: DataFrame, order: Seq[Column],
                        values: Seq[(Column, String)],
                        partitions: Int = 0): DataFrame = {
    val sorted = sortedWithPid(df, order, partitions)
    val aggs = values.zipWithIndex.map { case ((v, _), i) =>
      coalesce(sum(v), lit(0L)).as(s"_t$i")
    }
    val totals = sorted.groupBy(col("_pid")).agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => (r.getInt(0), values.indices.map(i => r.getLong(i + 1))))
    val w = Window.partitionBy(col("_pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    values.zipWithIndex.foldLeft(sorted) { case (acc, ((v, name), i)) =>
      val per = totals.map { case (pid, ts) => (pid, ts(i)) }
      acc.withColumn(name, offsetCol(cumOffsets(per)) + sum(v).over(w))
    }.drop("_pid")
  }
}
