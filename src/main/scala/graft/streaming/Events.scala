package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming surface over the `events` table schema
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference has no streams (every DAG is manually-triggered batch,
  * SURVEY.md §1.1); this module is the generalized streaming surface the
  * brief mandates. Transforms are written against plain DataFrames so the
  * SAME function serves batch (oracle-checkable, queries/StreamShapes) and
  * streaming (readStream/MemoryStream) inputs — the Structured Streaming
  * unification. Watermarks bound state; sinks are idempotent merges.
  */
object Events {

  /** Typed row of the events stream (matches the events table schema). */
  case class EventRow(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                      event_type: String, value: Double, props: String)

  /** Alert emitted by [[purchaseAlerts]] when a running total crosses a
    * threshold multiple.
    */
  case class Alert(user_id: Long, trigger_event_id: Long, total_cents: Long)

  /** Tumbling 1-hour counts per event type, 10-minute watermark. */
  def tumblingCounts(events: DataFrame,
                     windowLen: String = "1 hour",
                     watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100.0).cast("long")).as("sum_cents"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("sum_cents"))

  /** Sliding 1-hour/30-minute counts per event type. */
  def slidingCounts(events: DataFrame,
                    windowLen: String = "1 hour",
                    slide: String = "30 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"))

  /** Gap-based session windows per user. */
  def sessionWindows(events: DataFrame,
                     gap: String = "10 minutes",
                     watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100.0).cast("long")).as("sum_cents"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n"), col("sum_cents"))

  /** Distinct active users per tumbling window and event type, written
    * streaming-compatibly: `count(DISTINCT ...)` is not supported on
    * streams, so distinctness comes from a windowed `dropDuplicates`
    * (keyed state bounded by the watermark) followed by a plain count —
    * the standard streaming-cardinality shape. Batch runs of the same
    * function are exact and oracle-checkable.
    */
  def windowUsers(events: DataFrame,
                  windowLen: String = "1 hour",
                  watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .select(window(col("ts"), windowLen).as("w"),
        col("event_type"), col("user_id"))
      .dropDuplicates("w", "event_type", "user_id")
      .groupBy(col("w"), col("event_type"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("w.start").as("window_start"),
        col("event_type"), col("n_users"))

  /** Per-(window, user) spend aggregate feeding the trending-leaderboard
    * shape: in a stream this runs as an update-mode windowed agg whose
    * per-window top-k is taken by the consumer (foreachBatch/sink) —
    * rank-in-stream isn't expressible in append mode, the aggregate is.
    */
  def windowUserSpend(events: DataFrame,
                      windowLen: String = "1 hour",
                      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100.0).cast("long")).as("cents"))
      .select(col("w.start").as("window_start"), col("user_id"),
        col("n"), col("cents"))

  /** First event per (user, event_type) — the batch-deterministic form
    * of streaming first-touch dedup. A live stream runs
    * `dropDuplicatesWithinWatermark("user_id", "event_type")`, which
    * keeps the first ARRIVAL; a batch recompute has no arrival order,
    * so "first" is pinned to the (ts, event_id) total order via one
    * `min(struct(...))` aggregate — max_by/min_by shape, one shuffle,
    * no window, and the streaming result coincides with it whenever
    * arrival order respects event time (in-order sources).
    */
  def firstTouch(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"), col("event_type"))
      .agg(min(struct(col("ts"), col("event_id"))).as("f"))
      .select(col("user_id"), col("event_type"),
        col("f.ts").as("first_ts"), col("f.event_id").as("first_event_id"))

  /** Stream into the versioned snapshot sink, exactly once: each
    * micro-batch commits snapshot `v=batchId` via the idempotent
    * [[graft.ops.Sinks.writeVersionAt]] — a replayed batch (restart,
    * at-least-once delivery) finds its version already committed and
    * no-ops, so the pointer only ever advances. Readers get snapshot
    * isolation over a live stream: every read is one complete batch's
    * state, never a torn mix.
    */
  def foreachBatchVersioned(df: DataFrame, path: String,
                            checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ops.Sinks.writeVersionAt(batch.localCheckpoint(true), path, batchId)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming MERGE INTO the versioned table: each update-mode
    * micro-batch (changed keys only) merges into the CURRENT snapshot —
    * matched keys update, new keys insert, untouched keys survive —
    * and commits as snapshot `v=batchId` via the idempotent
    * [[graft.ops.Sinks.writeVersionAt]] (a replayed batch no-ops). The
    * lakehouse streaming-upsert shape: where
    * [[foreachBatchVersioned]] snapshots exactly what the batch
    * carries, this one folds deltas into a durable keyed table with
    * [[graft.ops.Merge]]'s full clause algebra behind it.
    */
  def foreachBatchMerge(df: DataFrame, path: String, checkpoint: String,
                        keys: Seq[String]): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        val delta = batch.localCheckpoint(true).toDF()
        val committed = graft.ops.Sinks.latestVersion(s, path)
        val merged = committed match {
          case Some(_) =>
            graft.ops.Merge.mergeInto(
              graft.ops.Sinks.readVersioned(s, path), delta, keys)
          case None => delta
        }
        val wrote =
          graft.ops.Sinks.writeVersionAt(merged.localCheckpoint(true), path, batchId)
        // A no-op commit is legitimate ONLY as a crash replay: the batch
        // committed as v=batchId, the checkpoint didn't advance, and the
        // restarted batch finds committed == batchId. committed > batchId
        // means a fresh/rebuilt checkpoint is replaying micro-batch ids a
        // pre-existing table has already passed — every such batch would
        // be silently dropped until batchId overtakes the table, so fail
        // loud instead of losing data.
        if (!wrote && !committed.contains(batchId))
          throw new IllegalStateException(
            s"micro-batch $batchId no-oped against $path at committed " +
              s"version ${committed.orNull}: checkpoint and table disagree " +
              "(rebuilt checkpoint over a pre-seeded table?)")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Per-user running purchase total for the stateful-v2 API: named,
    * typed `ValueState` instead of one opaque `GroupState` value.
    */
  class RunningTotalProcessor(alertEvery: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EventRow, Alert] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var total: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      total = getHandle.getValueState[Long]("total",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[EventRow],
                                 timers: TimerValues): Iterator[Alert] = {
      var t = if (total.exists()) total.get() else 0L
      val alerts = scala.collection.mutable.ArrayBuffer[Alert]()
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val before = t / alertEvery
        t += math.round(e.value * 100)
        if (t / alertEvery > before) alerts += Alert(user, e.event_id, t)
      }
      total.update(t)
      alerts.iterator
    }
  }

  /** [[purchaseAlerts]] re-expressed through Spark 4's stateful-v2
    * `transformWithState`: state lives in named per-key stores (RocksDB
    * changelog-checkpointed, TTL-capable, schema-evolvable) — the
    * forward path for long-lived streaming state at 100 TB, where one
    * serialized GroupState blob per key stops scaling. Streaming runs
    * require the RocksDB state store provider (StreamingSpec sets it);
    * semantics are identical to [[purchaseAlerts]].
    */
  def purchaseAlertsTws(events: org.apache.spark.sql.Dataset[EventRow],
                        alertEvery: Long = 10000L): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(_.event_type == "purchase")
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor(alertEvery),
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  case class SessionClose(user_id: Long, n_events: Long, last_ts_ms: Long)

  /** Inactivity-timeout session closer on EVENT-TIME TIMERS — the
    * stateful-v2 surface [[RunningTotalProcessor]] doesn't touch: each
    * batch re-arms a timer at lastSeen + gap, and when the WATERMARK
    * passes it, [[org.apache.spark.sql.streaming.StatefulProcessor
    * #handleExpiredTimer]] emits the closed session and clears state —
    * the push-based idle detection that `mapGroupsWithState` timeouts
    * approximate, here with named typed state and exact watermark
    * semantics. Stale timers (superseded by later activity) are
    * ignored by comparing against the CURRENT re-arm point, the
    * standard re-arm idiom since deleteTimer needs the old expiry
    * bookkept anyway.
    */
  class SessionTimeoutProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EventRow, SessionClose] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState, ExpiredTimerInfo}
    @transient private var count: ValueState[Long] = _
    @transient private var lastTs: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      count = getHandle.getValueState[Long]("count",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      lastTs = getHandle.getValueState[Long]("lastTs",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(user: Long, rows: Iterator[EventRow],
                                 timers: TimerValues): Iterator[SessionClose] = {
      var c = if (count.exists()) count.get() else 0L
      var last = if (lastTs.exists()) lastTs.get() else Long.MinValue
      rows.foreach { e =>
        c += 1
        if (e.ts.getTime > last) last = e.ts.getTime
      }
      count.update(c)
      lastTs.update(last)
      getHandle.registerTimer(last + gapMs)
      Iterator.empty
    }
    override def handleExpiredTimer(user: Long, timers: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[SessionClose] = {
      // a timer re-armed by later activity leaves the old one behind;
      // only the CURRENT expiry closes the session
      if (count.exists() &&
          expired.getExpiryTimeInMs() == lastTs.get() + gapMs) {
        val out = SessionClose(user, count.get(), lastTs.get())
        count.clear(); lastTs.clear()
        Iterator.single(out)
      } else Iterator.empty
    }
  }

  /** Idle-session close stream: watermarked events → event-time-timer
    * sessionization via [[SessionTimeoutProcessor]].
    */
  def idleSessionCloses(events: org.apache.spark.sql.Dataset[EventRow],
                        gapMs: Long = 10 * 60 * 1000L,
                        watermark: String = "0 seconds"): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimeoutProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** Stateful exactly-once dedup by event_id, with state bounded by the
    * watermark (duplicates arriving within the watermark are dropped;
    * state for older keys is reclaimed).
    */
  def dedupWithinWatermark(events: DataFrame,
                           watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream inner join: purchases matched to the views that
    * preceded them within `within` for the same user. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * state on each side is reclaimable (unbounded stream-stream joins
    * cannot clean up state).
    */
  def viewToPurchaseJoin(events: DataFrame,
                         within: String = "1 hour",
                         watermark: String = "10 minutes"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
      .alias("v")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
      .alias("p")
    views.join(purchases,
        expr(s"""user_id = p_user_id AND
                |purchase_ts >= view_ts AND
                |purchase_ts <= view_ts + INTERVAL $within""".stripMargin))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"))
  }

  /** Left-outer stream-stream join: views with no purchase inside the
    * window STILL emit (with nulls) — but only once the watermark proves
    * no matching purchase can arrive. State on both sides is bounded by
    * the watermark + the join's time-range condition; without that range
    * the state store would grow forever.
    */
  def viewToPurchaseJoinOuter(events: DataFrame,
                              within: String = "1 hour",
                              watermark: String = "10 minutes"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
      .alias("v")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
      .alias("p")
    views.join(purchases,
        expr(s"""user_id = p_user_id AND
                |purchase_ts >= view_ts AND
                |purchase_ts <= view_ts + INTERVAL $within""".stripMargin),
        "left_outer")
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"))
  }

  /** Custom arbitrary-state operator via flatMapGroupsWithState: per-user
    * running purchase total with an alert row emitted every time the
    * running total crosses a multiple of `alertEvery` cents — the shape
    * (bounded per-key state + conditional emission) that windowed
    * aggregates can't express. State is a single long per user; event-time
    * timeout would bound it in production.
    */
  def purchaseAlerts(events: org.apache.spark.sql.Dataset[EventRow],
                     alertEvery: Long = 10000L): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(_.event_type == "purchase")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, Alert](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[Long]) =>
          var total = state.getOption.getOrElse(0L)
          val alerts = scala.collection.mutable.ArrayBuffer[Alert]()
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val before = total / alertEvery
            total += math.round(e.value * 100)
            if (total / alertEvery > before)
              alerts += Alert(userId, e.event_id, total)
          }
          state.update(total)
          alerts.iterator
      }
      .toDF()
  }

  case class AsofEnriched(event_id: Long, user_id: Long,
                          last_view_us: Option[Long])

  /** Full microsecond event-time of a Timestamp — `getTime` alone
    * truncates to milliseconds, which both corrupts an emitted
    * microsecond column and can flip an at-or-before comparison for
    * sub-millisecond event times.
    */
  private def tsMicros(ts: java.sql.Timestamp): Long = {
    val i = ts.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** Streaming as-of enrichment via flatMapGroupsWithState — the
    * stateful-stream counterpart of the batch [[graft.plans.AsOfJoin]]
    * operator: state is ONE long per user (the latest view event-time,
    * microseconds), and every purchase emits enriched with the view
    * at-or-before it (None when the user has never viewed). Within a
    * micro-batch rows process in event-time order with views BEFORE
    * purchases at equal timestamps — matching the batch operator's
    * inclusive `rightTime <= leftTime` bound — then by id for
    * determinism. Across batches correctness relies on per-user
    * event-time monotonicity; [[asofEnrichWatermarked]] is the
    * out-of-order-tolerant variant that buffers within the watermark
    * instead (the specs pin both against the batch operator).
    */
  def asofEnrich(events: org.apache.spark.sql.Dataset[EventRow]): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(e => e.event_type == "view" || e.event_type == "purchase")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, AsofEnriched](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[Long]) =>
          var lastView = state.getOption.getOrElse(Long.MinValue)
          val out = scala.collection.mutable.ArrayBuffer[AsofEnriched]()
          rows.toSeq
            .sortBy(e => (tsMicros(e.ts), e.event_type != "view", e.event_id))
            .foreach { e =>
              if (e.event_type == "view")
                lastView = math.max(lastView, tsMicros(e.ts))
              else out += AsofEnriched(e.event_id, userId,
                if (lastView == Long.MinValue) None else Some(lastView))
            }
          if (lastView != Long.MinValue) state.update(lastView)
          out.iterator
      }
      .toDF()
  }

  /** State of [[asofEnrichWatermarked]]: the max view time (micros) at
    * or below the watermark (compacted — only the max can ever match a
    * future purchase, since un-emitted purchases are all later than the
    * watermark), plus the still-reorderable tail: views and pending
    * purchases with event time above the watermark.
    */
  case class AsofWmState(maxSettledView: Long,
                         pendingViews: List[Long],
                         pendingPurchases: List[(Long, Long)])

  /** Out-of-order-tolerant streaming as-of enrichment: the watermarked
    * counterpart of [[asofEnrich]] for streams where per-user event
    * time is NOT monotone across micro-batches. Purchases buffer in
    * state until the watermark passes their event time — at that point
    * every view at-or-before them has arrived (the watermark contract),
    * so the emitted match equals the batch [[graft.plans.AsOfJoin]]
    * verdict exactly, for ANY arrival order within the watermark bound.
    * The semantics delta vs [[asofEnrich]] is latency for correctness:
    * output trails the watermark instead of the batch, and arrivals
    * later than the watermark are dropped by the stream (batch would
    * still join them). State per user is O(events inside the watermark
    * window): settled views compact to one long; an event-time timer
    * flushes buffered purchases when the user goes quiet.
    */
  def asofEnrichWatermarked(events: org.apache.spark.sql.Dataset[EventRow],
                            delay: String = "10 seconds"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(e => e.event_type == "view" || e.event_type == "purchase")
      .withWatermark("ts", delay)
      .as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofWmState, AsofEnriched](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[AsofWmState]) =>
          val st = state.getOption.getOrElse(AsofWmState(Long.MinValue, Nil, Nil))
          var views = st.pendingViews
          var purchases = st.pendingPurchases
          rows.foreach { e =>
            if (e.event_type == "view") views ::= tsMicros(e.ts)
            else purchases ::= (tsMicros(e.ts), e.event_id)
          }
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          // purchases STRICTLY below the watermark emit — every view that
          // can match them has arrived (watermark contract). Strict, not
          // <=: Spark's measured late-filter boundary DROPS rows at
          // exactly t == wm (StreamingSpec pins it), which would make <=
          // safe today — but that boundary is not part of the documented
          // contract, and under an admit-at-equality semantics a <= emit
          // would race a later equal-time view. Strict emission is
          // correct under EITHER boundary for one watermark-tick of
          // latency. The match is computed over the UN-compacted view
          // list: a same-batch view in (t, wm) must not leak into a
          // purchase at t. The scalar maxSettledView is always a valid
          // floor: it was compacted at some earlier watermark wm' <= t
          // of every still-pending purchase.
          val (emit, stillPending) = purchases.partition(_._1 < wmMicros)
          val out = emit
            .sortBy { case (t, id) => (t, id) }
            .map { case (t, id) =>
              val m = (st.maxSettledView :: views.filter(_ <= t)).max
              AsofEnriched(id, userId, if (m == Long.MinValue) None else Some(m))
            }
          // settle: views at/below the watermark compact to their max —
          // only the max can match a future purchase (all have t > wm)
          val (settledV, laterV) = views.partition(_ <= wmMicros)
          val maxSettled = (st.maxSettledView :: settledV).max
          val next = AsofWmState(maxSettled, laterV, stillPending)
          state.update(next)
          // wake this user when the watermark passes the earliest
          // pending event, even if no new rows arrive for them
          val pendingTimes = laterV ++ stillPending.map(_._1)
          if (pendingTimes.nonEmpty)
            state.setTimeoutTimestamp(pendingTimes.min / 1000L + 1L)
          out.iterator
      }
      .toDF()
  }

  /** ORACLED end-to-end replay of [[asofEnrichWatermarked]]: the events
    * table is re-landed as time-sliced parquet files whose arrival
    * order deliberately SWAPS adjacent slices (disorder ≤ 2 slice
    * widths, always inside the 3-width watermark delay, so the
    * watermark contract holds and nothing is late-dropped), then
    * streamed through the watermarked as-of with `AvailableNow` one
    * file per micro-batch. Because every arrival stays within the
    * delay, the emitted result must equal the batch
    * [[graft.plans.AsOfJoin]] verdict exactly — the DuckDB oracle
    * states that batch contract, so the driver's hash compare proves
    * the streaming operator end-to-end (source → watermark → stateful
    * buffer → flush), not just per-fixture.
    *
    * Two far-future sentinel views (a user outside the corpus's id
    * space) close the replay: the first rides with the last data file
    * (its batch's COMMIT advances the watermark past every real
    * event) and the second is the final data batch in which the
    * now-flushable purchases emit — so the flush never depends on
    * no-data-batch/timer scheduling semantics. Memory sink is the
    * harness choice (results are purchase-count-sized); a production
    * replay lands in a real sink via [[foreachBatchUpsert]].
    */
  def replayAsOfWatermarked(s: SparkSession, d: String): DataFrame = {
    val ev = graft.model.Tables.events(s, d)
      .filter(col("event_type").isin("view", "purchase"))
    require(ev.columns.toSeq ==
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
      s"unexpected events schema: ${ev.columns.mkString(",")}")
    // 6 data slices in logical arrival order 1,0,3,2,5,4 (adjacent
    // pairs swapped), packed into FOUR physical files so each swapped
    // pair still straddles a micro-batch boundary:
    //   F0={1,3}  F1={0,2,5}  F2={4,A}  F3={B}
    // The replay's wall time is micro-batch engine overhead (~450 ms a
    // batch: offset/wal logs + incremental planning + state commit),
    // linear in BATCH count and nearly independent of rows-per-batch at
    // this volume — so the packing minimizes batches while keeping all
    // THREE cross-batch late arrivals: slice 0 lands a batch after
    // slice 1, slice 2 after slice 3, slice 4 after slice 5. The
    // watermark delay is 5 slice widths (disorder is ≤ 2 widths, so
    // every arrival stays far inside it): the batch-by-batch watermark
    // is lo-w while F1's late slices 0 and 2 land (nothing dropped),
    // lo+w while F2's late slice 4 lands (first incremental emit
    // wave), then past hi for the F3 sentinel flush — buffered state
    // is emitted in TWO waves, each strictly watermark-gated, and the
    // late-drop boundary stays live (any event at or below the
    // watermark at its arrival batch would vanish and hash-mismatch).
    // Slicing does not appear in the oracle — the emitted rows must
    // equal the batch as-of verdict for ANY arrival plan inside the
    // delay.
    val slices = 6
    def width(lo: Long, hi: Long) = (hi - lo) / slices + 1L
    def delaySec(lo: Long, hi: Long) = (5L * width(lo, hi)) / 1000000L + 1L
    def files(lo: Long, hi: Long): Seq[DataFrame] = {
      def slice(i: Int): DataFrame = ev.filter(
        ((unix_micros(col("ts")) - lo) / width(lo, hi)).cast("int") === i)
      def sentinel(us: Long, id: Long) = ev.limit(0).unionByName(
        s.range(1).select(lit(id).as("event_id"),
          expr(s"timestamp_micros(${us}L)").as("ts"),
          lit(-1L).as("user_id"), lit("view").as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props")))
      val delay = delaySec(lo, hi)
      val sentinelA = sentinel(hi + delay * 1000000L + 1000000L, -1L)
      val sentinelB = sentinel(hi + 2L * delay * 1000000L + 2000000L, -2L)
      // One file per micro-batch; the logical arrival order 1,0,3,2,5,4
      // packed so every swapped pair crosses a batch boundary. Sentinel
      // A rides with the last data file (it advances the watermark past
      // every real event when that batch COMMITS); sentinel B is the
      // following data batch in which the now-flushable purchases emit
      // — so the flush still never depends on no-data-batch/timer
      // scheduling semantics.
      Seq(
        slice(1).unionByName(slice(3)),
        slice(0).unionByName(slice(2)).unionByName(slice(5)),
        slice(4).unionByName(sentinelA),
        sentinelB)
    }
    // The slice files are a pure function of the (immutable) events
    // table, so land them once per dir and let repeated replays pay
    // only the stream itself — the marker carries the time bounds, so
    // re-runs skip the full-table min/max scan too.
    val replayDir = graft.model.Scratch.dir("stream_replay", d)
    val Array(lo, hi) = GateStores.landFixture(replayDir, "_REPLAY_READY", "evt") {
      val b = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).first()
      (s"${b.getLong(0)} ${b.getLong(1)}", files(b.getLong(0), b.getLong(1)))
    }.trim.split(" ").map(_.toLong)
    import s.implicits._
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(replayDir + "/evt_*.parquet")
      .as[EventRow]
    val qname = "asof_wm_replay_" + java.util.UUID.randomUUID().toString.take(8)
    // The checkpoint is per-invocation scratch (rm'd below, never read
    // across runs): offset/commit logs and state-store delta files are
    // synced once per micro-batch, ~130 ms/batch of pure log I/O. A
    // RAM-backed tmpfs keeps that off disk without touching the
    // operator, the slicing, or the watermark contract — durability is
    // not weakened because a replay that dies is simply re-run from the
    // (disk-resident) parquet slices; the checkpoint never outlives the
    // call. Falls back to the on-disk scratch dir when no tmpfs exists.
    val shm = new java.io.File("/dev/shm")
    val ckptBase =
      if (shm.isDirectory && shm.canWrite) {
        val f = new java.io.File(shm, "graft_replay_ckpt")
        f.mkdirs()
        f.getPath
      } else graft.model.Scratch.dir("stream_replay_ckpt", d)
    val ckpt = ckptBase + "/" + qname
    // The stateful operator spins one state store per shuffle partition
    // per micro-batch; at 10 batches × 32 partitions the store commits
    // dominate this replay's wall time. 4 partitions fit the replay's
    // per-batch volume with headroom (per-batch state is purchase-count
    // sized); the stream pins its own value at START (state
    // partitioning is fixed by the checkpoint), so the session's
    // setting is restored immediately after.
    // Sentinel B exists precisely so the final flush is DATA-driven:
    // after its batch emits, the engine's trailing no-data micro-batch
    // (run by default for watermark-driven state cleanup) contributes
    // zero rows and costs a full trigger (~450 ms of log/plan/commit
    // machinery). Disable it for the replay — the query terminates
    // right after, so the skipped cleanup batch has nothing to clean.
    // Whole-stage codegen is OFF for the replay only: each micro-batch
    // embeds that batch's watermark as a literal in the generated
    // stages, so every one of the 4 batches is a fresh Janino compile
    // — at replay volume (≤20k rows/batch) the compile cost strictly
    // exceeds the execution gain (measured: warm 3.28s → 2.66s). A
    // production stream with sustained per-batch volume keeps codegen
    // on; this is a replay-harness economics call. All three confs are
    // pinned into the query at START (cloned session + checkpointed
    // state partitioning), so the session's settings are restored as
    // soon as it has started.
    val query = graft.Graft.withConf(s,
        "spark.sql.shuffle.partitions" -> "4",
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
        "spark.sql.codegen.wholeStage" -> "false") {
      asofEnrichWatermarked(stream, delay = s"${delaySec(lo, hi)} seconds")
        .writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    // Localize the (purchase-count-sized) result, then tear the
    // harness down: the memory-sink view and the UUID-named checkpoint
    // are per-invocation scratch, and a session that replays repeatedly
    // (bench re-runs, specs) must not accrete catalog entries or disk —
    // the checkpoint removal sits in a finally so a FAILED replay does
    // not leak its UUID-named directory into /dev/shm (RAM-backed,
    // reclaimed only at reboot) across bench/spec re-runs.
    val (rows, schema) =
      try {
        query.awaitTermination()
        val out = s.table(qname).orderBy(col("event_id"))
        val r = out.collect()
        val sch = out.schema
        s.catalog.dropTempView(qname): Unit
        (r, sch)
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt)): Unit
      }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.toSeq.asJava, schema)
  }

  /** Streaming K1: merge each micro-batch into a Parquet table by key —
    * the reference's `update_one(upsert=True)` discipline applied to a
    * stream. Idempotent per batch, so at-least-once delivery is safe.
    */
  def foreachBatchUpsert(aggregated: DataFrame, path: String, keys: Seq[String],
                         checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    aggregated.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Sinks.upsertByKey(batch.sparkSession, path, batch, keys)
      }
      .trigger(Trigger.AvailableNow())
      .start()
}
