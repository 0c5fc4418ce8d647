package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: session start, set-up, one cold warm-up
  * pass that writes the full results the oracle check reads, then a fixed
  * number of timed passes, more if they end before `--seconds`. The
  * metrics use the fixed passes only, so every run compares the same pass
  * positions.
  * Writes `raw.json` under `--out`; `perfbench/run.py` turns it into the
  * metrics.
  *
  *   --workload analytics|etl  --data DIR  --out DIR
  *   --seed N  --seconds S  --trace 0|1  --cores N
  */
object Main {
  val Analytics: Seq[String] = Seq(
    "q_filter_eq", "q_project", "q_groupby_agg", "q_count_distinct", "q_rollup",
    "q_broadcast_join", "q_join_inner", "q_join_asof", "q_join_salted",
    "q_window_rank", "q_window_running", "q_topk", "q_union", "q_collect_struct",
    "q_json_funcs", "q_upsert_merge", "q_sql_tpch_q3", "q_expr_laptime")

  /** One op's wall time and work CPU time (see [[Cpu.work]]). */
  final case class OpTime(kind: String, seconds: Double, cpu: Double,
      error: Option[String])
  /** A pass: its ops, and the share of the machine's CPU time the
    * hypervisor stole while it ran. */
  final case class Pass(traced: Boolean, ops: Seq[OpTime], steal: Double) {
    def seconds: Double = ops.map(_.seconds).sum
    def cpu: Double = ops.map(_.cpu).sum
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    // two passes measure at least 10 s on a 4-core host; the traced run
    // puts its traced pass between two untraced ones
    val timed = if (trace) 3 else 2
    val data = a("data")
    val out = a("out")
    new java.io.File(out).mkdirs()

    val spark = graft.Graft.session("perfbench", s"local[$cores]", cores)
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark)
    val workload = a("workload") match {
      case "analytics" => new Registry(spark, s"$data/tables", Analytics, seed)
      case "etl" => new Etl(spark, s"$data/season", s"$data/tables",
        s"$out/stores", seed)
    }
    val sessionDone = tracer.nowMs

    def dropBlocks(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.catalog.clearCache()
    }
    def runPass(p: Int, traced: Boolean, dump: Option[String] = None): Pass = {
      workload.beforePass()
      tracer.setActive(traced)
      val (steal0, total0) = Cpu.jiffies()
      val ops = workload.pass(p, dump).map { op =>
        val c0 = Cpu.work()
        val t0 = System.nanoTime()
        val err = try { op.run(tracer); None }
          catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        val s = (System.nanoTime() - t0) / 1e9
        val c = Cpu.work() - c0
        dropBlocks()
        OpTime(op.kind, s, c, err)
      }
      val (steal1, total1) = Cpu.jiffies()
      tracer.setActive(false)
      Pass(traced, ops,
        if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0)
    }

    // warm-up: one cold pass, which writes the checked results
    val warmStart = tracer.nowMs
    val warm = Seq(runPass(0, traced = false, dump = Some(s"$out/results")))

    // timed passes; the traced run's traced pass sits between untraced
    // ones, so the tracing overhead compares places on the warm-up curve
    // around it in the same JVM. Passes beyond `timed` are never traced.
    val timingStart = tracer.nowMs
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    val passes = mutable.ArrayBuffer.empty[Pass]
    while (passes.size < timed || (tracer.nowMs - timingStart) / 1e3 < seconds) {
      val traced = trace && passes.size % 2 == 1 && passes.size < timed
      val gc0 = gcMs
      passes += runPass(warm.size + passes.size, traced)
      if (traced) {
        tracer.add("driver.work_cpu_s", passes.last.cpu)
        tracer.add("driver.gc_s", (gcMs - gc0) / 1e3)
      }
    }

    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
    val extra = workload.extra()

    Json.write(s"$out/oracle.json",
      workload.checked.map(k => k -> graft.SparkEntry.oracleSql.get(k)).toMap)
    val kernels = if (trace) Kernels.measure(spark) else Map.empty[String, Double]

    val traceRec = if (!trace) Map.empty[String, Any] else {
      val (counts, batches) = tracer.snapshot()
      tracer.writeSpans(s"$out/spans.jsonl")
      Map("counts" -> counts, "batch_s" -> batches, "kernels" -> kernels,
        "digest_stable" -> tracer.digestStable.toMap,
        "digests" -> tracer.digests.map { case (k, d) =>
          k -> Map("nodes" -> d.nodes.toSeq.sortBy(_._1).toMap,
            "exchanges" -> d.exchanges, "sorts" -> d.sorts, "chars" -> d.chars)
        })
    }
    def passRec(p: Pass) = Map("traced" -> p.traced, "seconds" -> p.seconds,
      "cpu_s" -> p.cpu, "steal" -> p.steal, "ops" -> p.ops.map(o =>
        Map("kind" -> o.kind, "s" -> o.seconds, "cpu_s" -> o.cpu, "error" -> o.error)))
    Json.write(s"$out/raw.json", Map(
      "workload" -> a("workload"), "seed" -> seed, "cores" -> cores, "timed" -> timed,
      "session_s" -> (sessionDone - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3,
      "warm_s" -> (timingStart - warmStart) / 1e3, "timing_start_ms" -> timingStart,
      "warm" -> warm.map(passRec), "passes" -> passes.map(passRec),
      "heap_mb" -> heapMb, "extra" -> extra,
      "trace" -> traceRec))
    spark.stop()
  }
}
