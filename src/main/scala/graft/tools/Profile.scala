package graft.tools

import java.io.File

import scala.collection.immutable.SeqMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftRelationalBridge, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Where did a key's time go:
  * `runMain graft.tools.Profile <sfDir> <outDir> <key…>` runs on
  * [[graft.Graft.session]], writes one JSON line per key to
  * `outDir/profile.jsonl` and the key's formatted plan to
  * `outDir/<key>.plan.txt`. Per key: a cold run (construct, land in the
  * noop sink) pays one-time derivations and codegen; three warm runs do
  * the same, the first recorded by Spark's own listeners, and
  * `construct_s`/`full_s` are their medians (one warm run still reads
  * JIT warm-up); a warm `count()` is timed only. `codegen.classes`
  * counts the classes Spark compiles in the cold run (the key's working
  * set beyond what earlier keys left in the JVM's codegen cache), and
  * `codegen.recompiles` those compiled again in the three warm runs,
  * 0 while the cache holds the set (a streaming query's task-side
  * classes compile again on each query start). Fields are named after
  * perfbench's per-layer metrics, so a record diffs against a traced
  * bench run; `exec.task_busy_s` over `cores` is the key's compute
  * floor, and `jobs` groups the jobs by description, else by their
  * query's action, else by their own. A `_derive_*` key
  * ([[graft.SparkEntry.derives]]) derives once per JVM, so it has no
  * cold run: its one recorded run is the derivation (list it before
  * any key that reads its table), whose classes are its
  * `codegen.classes`; its `count_s` reads through.
  */
object Profile extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Profile <sfDir> <outDir> <key…>")
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    val out = new File(args(1)); out.mkdirs()
    val w = new java.io.PrintWriter(new File(out, "profile.jsonl"), "UTF-8")
    try args.drop(2).foreach { k =>
      w.println(json.writeValueAsString(profile(spark, args(0), k, out)))
      w.flush()
    } finally { w.close(); spark.stop() }
  }

  private[tools] val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
  private val ids = "#\\d+|plan_id=\\d+|id=\\d+".r
  private[tools] def round(v: Double): Double = math.rint(v * 1e4) / 1e4

  /** `key`'s record; its plan goes to `planDir/<key>.plan.txt`. Never
    * throws: a failure is the record's `error`. The listeners live for
    * this call only.
    */
  def profile(spark: SparkSession, sfDir: String, key: String,
      planDir: File): SeqMap[String, Any] = {
    val derive = graft.SparkEntry.derives.get(key)
    def build(): Option[DataFrame] = derive match {
      case Some(fn) => fn(spark, sfDir); None
      case None => Some(graft.SparkEntry.queries.getOrElse(key,
        throw new NoSuchElementException(s"no key or derivation '$key'"))(spark, sfDir))
    }
    def land(df: Option[DataFrame]): Unit =
      df.foreach(_.write.format("noop").mode("overwrite").save())
    def seconds(f: => Unit): Double = { val t0 = System.nanoTime(); f; round((System.nanoTime() - t0) / 1e9) }
    var rec = SeqMap[String, Any]("key" -> key,
      "cores" -> spark.sparkContext.defaultParallelism)
    val r = new Recorder(spark)
    def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      val c0 = compiled()
      if (derive.isEmpty) rec += "cold_s" -> seconds(land(build()))
      val c1 = compiled()
      def warm(): (Double, Double) = {
        dropBlocks(spark)
        var df: Option[DataFrame] = None
        val c = seconds { df = build() }
        r.constructEnd = System.currentTimeMillis()
        (c, round(c + seconds(land(df))))
      }
      r.start()
      val first = warm()
      val layers = r.stop()
      val runs = first +: (if (derive.isEmpty) Seq.fill(2)(warm()) else Nil)
      def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
      val c2 = compiled()
      rec ++= Seq("construct_s" -> median(runs.map(_._1)),
        "full_s" -> median(runs.map(_._2)),
        "codegen.classes" -> (if (derive.isEmpty) c1 - c0 else c2 - c1),
        "codegen.recompiles" -> (if (derive.isEmpty) c2 - c1 else 0L))
      r.lastPlan.foreach(qe => java.nio.file.Files.writeString(
        new File(planDir, s"$key.plan.txt").toPath,
        qe.explainString(ExplainMode.fromString("formatted"))))
      rec + ("count_s" -> seconds(build().foreach(_.count()))) ++ layers
    } catch { case NonFatal(e) =>
      val c = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).take(16).toSeq.last
      rec ++ r.stop() + ("error" -> s"${c.getClass.getName}: ${c.getMessage}")
    } finally { r.detach(); dropBlocks(spark) }
  }

  private[tools] def dropBlocks(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.catalog.clearCache()
  }

  /** Spark's job, query and streaming listeners, attached on
    * construction and counting only between `start` and `stop`.
    */
  private final class Recorder(spark: SparkSession)
      extends SparkListener with QueryExecutionListener {
    @volatile private var active = false
    @volatile private var started = false
    @volatile var constructEnd = Long.MaxValue
    @volatile var lastPlan: Option[QueryExecution] = None
    private val n = mutable.LinkedHashMap.from(("queries.eager_jobs plans.analysis_ms " +
      "plans.optimization_ms plans.planning_ms plans.queries plans.nodes plans.exchanges " +
      "plans.sorts plans.chars exec.jobs exec.stages exec.tasks exec.failed_tasks " +
      "exec.task_busy_s exec.shuffle_write_mb exec.shuffle_read_mb exec.spill_mb " +
      "exec.input_mb").split(' ').map(_ -> 0.0))
    private val operators = mutable.Map.empty[String, Int].withDefaultValue(0)
    private val byDesc = mutable.LinkedHashMap.empty[String, mutable.Map[String, Double]]
    private val stageDesc = mutable.Map.empty[Int, String].withDefaultValue("?")
    private val jobStart = mutable.Map.empty[Int, (String, Long)]
    private val sqlDesc = mutable.Map.empty[String, String]
    private val batches = mutable.ArrayBuffer.empty[Map[String, Long]]

    private def add(desc: String, k: String, v: Double): Unit =
      byDesc.getOrElseUpdate(desc, mutable.Map.empty[String, Double]
        .withDefaultValue(0.0))(k) += v

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if active => synchronized {
        sqlDesc(s.executionId.toString) = s.description
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      // an adaptive stage's job runs on Spark's pool: its query's action names it
      val desc = prop("spark.job.description")
        .orElse(prop("spark.sql.execution.id").flatMap(sqlDesc.get))
        .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
        .getOrElse("?").replace('\n', ' ').take(120)
      n("exec.jobs") += 1
      if (e.time <= constructEnd) n("queries.eager_jobs") += 1
      add(desc, "jobs", 1)
      jobStart(e.jobId) = (desc, e.time)
      e.stageIds.foreach(stageDesc(_) = desc)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (active) synchronized {
      jobStart.remove(e.jobId).foreach { case (d, t) => add(d, "wall_s", (e.time - t) / 1e3) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) synchronized {
      n("exec.stages") += 1
      add(stageDesc(e.stageInfo.stageId), "stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) synchronized {
      n("exec.tasks") += 1
      if (!e.taskInfo.successful) n("exec.failed_tasks") += 1
      add(stageDesc(e.stageId), "tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        val mb = 1024.0 * 1024.0
        n("exec.task_busy_s") += m.executorRunTime / 1e3
        add(stageDesc(e.stageId), "task_busy_s", m.executorRunTime / 1e3)
        n("exec.shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / mb
        n("exec.shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / mb
        n("exec.spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / mb
        n("exec.input_mb") += m.inputMetrics.bytesRead / mb
      }
    }

    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, x: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = if (active) synchronized {
      Seq("analysis", "optimization", "planning").foreach(p =>
        qe.tracker.phases.get(p).foreach(s => n(s"plans.${p}_ms") += s.durationMs))
      val nodes = collectWithSubqueries(qe.executedPlan) { case p => p }
      nodes.foreach(p => operators(p.nodeName.replaceAll(" \\(\\d+\\)$", "").trim) += 1)
      n("plans.queries") += 1
      n("plans.nodes") += nodes.size
      n("plans.exchanges") += nodes.count(_.isInstanceOf[Exchange])
      n("plans.sorts") += nodes.count(_.isInstanceOf[SortExec])
      n("plans.chars") += ids.replaceAllIn(qe.executedPlan.toString, "#").length
      lastPlan = Some(qe)
    }

    private val streams = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = if (active) Recorder.this.synchronized {
        batches += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      }
    }
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
    def detach(): Unit = {
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(this)
      spark.streams.removeListener(streams)
    }

    /** Starts counting once the events of earlier runs are delivered. */
    def start(): Unit = { GraftRelationalBridge.drainListenerBus(spark); started = true; active = true }

    /** Stops counting; the counters (none if counting never started). */
    def stop(): Seq[(String, Any)] = if (!started) Nil else {
      GraftRelationalBridge.drainListenerBus(spark)
      active = false
      def num(v: Double): Any = if (v.isWhole) v.toLong else round(v)
      synchronized {
        n.toSeq.map { case (k, v) => k -> num(v) } ++ Seq(
          "plans.operators" -> operators.toMap,
          "jobs" -> byDesc.toSeq.sortBy(-_._2("task_busy_s")).map { case (d, m) =>
            SeqMap("desc" -> d) ++ m.toSeq.sortBy(_._1).map(kv => kv._1 -> num(kv._2))
          },
          "streaming.batches" -> batches.toList)
      }
    }
  }
}
