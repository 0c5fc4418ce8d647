package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a layer boundary; times are epoch milliseconds.
  * `parent` is the span that caused it (0 at the top); `op` is the id of
  * the op span it belongs to.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Double, end: Double)

/** Plan digest of the queries one op ran: node counts by operator, the
  * Exchange and Sort counts, and the plan text size with expression ids
  * masked. The counts repeat exactly between runs of the same code. */
final case class Digest(nodes: Map[String, Int], exchanges: Int, sorts: Int,
    chars: Int) {
  def +(o: Digest): Digest = Digest(
    (nodes.keySet ++ o.nodes.keySet).map(k =>
      k -> (nodes.getOrElse(k, 0) + o.nodes.getOrElse(k, 0))).toMap,
    exchanges + o.exchanges, sorts + o.sorts, chars + o.chars)
}

object Digest extends AdaptiveSparkPlanHelper {
  val empty: Digest = Digest(Map.empty, 0, 0, 0)
  private val ids = "#\\d+|plan_id=\\d+|id=\\d+".r

  def of(plan: SparkPlan): Digest = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    Digest(nodes.groupBy(_.nodeName).map { case (k, v) => k -> v.size },
      nodes.count(_.isInstanceOf[Exchange]),
      nodes.count(_.isInstanceOf[SortExec]),
      ids.replaceAllIn(plan.toString, "#").length)
  }
}

/** Per-layer measurement from outside the engine: Spark's own listeners
  * (jobs, stages, tasks, Catalyst phases, streaming progress) plus the
  * benchmark's timed calls into each module. Inactive passes cost one
  * volatile read per event. While active, each op is closed by draining
  * the listener bus, so every event lands on the op that caused it.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var active = false
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val lock = new Object
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  /** Counters of the traced passes, summed over their ops. */
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val batchSeconds = mutable.ArrayBuffer.empty[Double]
  /** First digest seen per op kind, and whether later ones matched it. */
  val digests = mutable.LinkedHashMap.empty[String, Digest]
  val digestStable = mutable.Map.empty[String, Boolean]

  // the op in flight: its span, construct window and action span
  private var opId = 0L
  private var constructSpan = 0L
  private var constructEnd = Double.MaxValue
  private var actionSpan = 0L
  private var opDigest = Digest.empty
  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Double)]
  private val stageJob = mutable.Map.empty[Int, Long]

  def add(k: String, v: Double): Unit = lock.synchronized { counts(k) += v }
  def isActive: Boolean = active

  private def id(): Long = { nextId += 1; nextId }
  private def span(parent: Long, name: String, s: Double, e: Double,
      spanId: Long = 0L): Long = lock.synchronized {
    val i = if (spanId != 0L) spanId else id()
    spans += Span(i, parent, opId, name, s, e)
    i
  }

  def setActive(on: Boolean): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    active = on
  }

  /** Runs one op: `build` constructs its result (the module call before
    * any action), `land` materializes it. Untraced, this is just the two
    * calls. Traced, each gets a span and a time counter (`buildKey`,
    * `landKey`), and the op ends with a bus drain.
    */
  def op[A](kind: String, buildKey: String, landKey: String,
      build: () => A, land: A => Unit): Unit =
    if (!active) land(build())
    else {
      val s = nowMs
      lock.synchronized {
        opId = id(); constructSpan = id(); actionSpan = id()
        constructEnd = Double.MaxValue; opDigest = Digest.empty
      }
      val a = build()
      val c = nowMs
      lock.synchronized { constructEnd = c }
      land(a)
      val e = nowMs
      add(buildKey, (c - s) / 1e3)
      add(landKey, (e - c) / 1e3)
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      lock.synchronized {
        span(0L, s"op:$kind", s, e, spanId = opId)
        span(opId, "construct", s, c, spanId = constructSpan)
        span(opId, "action", c, e, spanId = actionSpan)
        digests.get(kind) match {
          case None => digests(kind) = opDigest; digestStable(kind) = true
          case Some(d) => if (d != opDigest) digestStable(kind) = false
        }
        counts("plans.nodes") += opDigest.nodes.values.sum
        counts("plans.exchanges") += opDigest.exchanges
        counts("plans.sorts") += opDigest.sorts
        counts("plans.chars") += opDigest.chars
        jobSpan.clear(); stageJob.clear()
      }
    }

  /** Counters and streaming batch times of the traced passes so far. */
  def snapshot(): (Map[String, Double], Seq[Double]) = lock.synchronized {
    (counts.toMap, batchSeconds.toSeq)
  }

  def writeSpans(path: String): Unit = lock.synchronized {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.str(s))
    } finally w.close()
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) lock.synchronized {
      counts("exec.jobs") += 1
      if (e.time <= constructEnd) counts("queries.eager_jobs") += 1
      val parent = if (e.time <= constructEnd) constructSpan else actionSpan
      val sid = id()
      jobSpan(e.jobId) = (sid, parent, e.time.toDouble)
      e.stageIds.foreach(st => stageJob(st) = sid)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (active) lock.synchronized {
      jobSpan.remove(e.jobId).foreach { case (sid, parent, s) =>
        span(parent, "job", s, e.time.toDouble, spanId = sid)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (active) lock.synchronized {
        val i = e.stageInfo
        counts("exec.stages") += 1
        for (s <- i.submissionTime; c <- i.completionTime)
          span(stageJob.getOrElse(i.stageId, actionSpan), "stage", s.toDouble, c.toDouble)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) lock.synchronized {
      counts("exec.tasks") += 1
      if (!e.taskInfo.successful) counts("exec.failed_tasks") += 1
      val m = e.taskMetrics
      if (m != null) {
        val mb = 1024.0 * 1024.0
        counts("exec.task_busy_s") += m.executorRunTime / 1e3
        counts("exec.task_cpu_s") += m.executorCpuTime / 1e9
        counts("exec.gc_s") += m.jvmGCTime / 1e3
        counts("exec.shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / mb
        counts("exec.shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / mb
        counts("exec.spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / mb
        counts("exec.input_mb") += m.inputMetrics.bytesRead / mb
        counts("exec.output_mb") += m.outputMetrics.bytesWritten / mb
        val i = e.taskInfo
        val delay = (i.finishTime - i.launchTime) - m.executorDeserializeTime -
          m.executorRunTime - m.resultSerializationTime - i.gettingResultTime
        counts("exec.sched_delay_s") += math.max(0L, delay) / 1e3
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (active) record(qe)
    override def onFailure(f: String, qe: QueryExecution, x: Exception): Unit =
      if (active) { record(qe); add("plans.failed_queries", 1) }
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val d = Digest.of(qe.executedPlan)
      lock.synchronized {
        Seq("analysis", "optimization", "planning").foreach { p =>
          phases.get(p).foreach(s => counts(s"plans.${p}_ms") += s.durationMs)
        }
        counts("plans.queries") += 1
        opDigest = opDigest + d
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (active) lock.synchronized {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
        val total = d.getOrElse("triggerExecution", 0.0)
        counts("streaming.batches") += 1
        counts("streaming.add_batch_s") += d.getOrElse("addBatch", 0.0)
        counts("streaming.query_planning_s") += d.getOrElse("queryPlanning", 0.0)
        counts("streaming.wal_commit_s") += d.getOrElse("walCommit", 0.0)
        batchSeconds += total
        val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        span(opId, s"batch:${p.batchId}", s, s + total * 1e3)
      }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)
}
