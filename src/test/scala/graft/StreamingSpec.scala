package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Events

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double, props: String)

/** Streaming-only semantics (SURVEY.md §5.2.4): watermark late-data drop,
  * stateful dedup, session windows, foreachBatch upsert — driven through
  * MemoryStream so micro-batch boundaries are explicit.
  */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)
  private def ev(id: Long, ts: String, user: Long = 1L, typ: String = "view") =
    Ev(id, t(ts), user, typ, 1.0, "{}")

  test("tumbling agg in append mode drops data later than the watermark") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Events.tumblingCounts(in.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("tumble_out")
      .outputMode("append").start()
    try {
      in.addData(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:30:00"))
      q.processAllAvailable()
      // advance watermark past 11:00 → [10:00,11:00) finalizes
      in.addData(ev(3, "2024-01-01 12:00:00"))
      q.processAllAvailable()
      // late arrival for the already-finalized window → dropped
      in.addData(ev(4, "2024-01-01 10:45:00"))
      q.processAllAvailable()
      val out = spark.table("tumble_out")
        .select($"window_start", $"n").as[(Timestamp, Long)].collect().toMap
      assert(out(t("2024-01-01 10:00:00")) == 2L) // late event 4 not counted
    } finally q.stop()
  }

  test("KLL sketch aggregate composes with streaming windowed aggregation") {
    // TypedImperativeAggregate buffers must serialize through the
    // streaming state store (ObjectHashAggregate → state row) — the
    // integration a custom native aggregate most easily breaks. The
    // window's median over integer cents must equal the explicit
    // order statistic over the same rows (exact regime: 9 items ≪ k).
    graft.functions.Catalog.register(spark)
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = in.toDF().withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").getField("start").as("w"))
      .agg(expr("kll_sketch_quantile(" +
        "kll_sketch_agg(CAST(round(value * 100) AS BIGINT), 200), 0.5)")
        .as("p50_cents"))
      .writeStream.format("memory").queryName("kll_stream_out")
      .outputMode("update").start()
    try {
      val vals = Seq(5.0, 1.0, 9.0, 3.0, 7.0)
      in.addData(vals.zipWithIndex.map { case (v, i) =>
        Ev(i.toLong, t("2024-01-01 10:00:00"), 1L, "view", v, "{}")
      }: _*)
      q.processAllAvailable()
      // second batch extends the same window's sketch state; its values
      // are chosen so batch-1-alone (500), batch-2-alone (4000), and
      // cumulative (900) medians are all DIFFERENT — the update-mode
      // sink holds one row per batch for the tied window with no
      // batch-id column to order by, so the assertion pins the SET of
      // emitted medians: {batch-1, cumulative}. State loss would emit
      // 4000; a recompute-from-scratch would miss 500.
      val more = Seq(20.0, 80.0, 40.0, 60.0)
      in.addData(more.zipWithIndex.map { case (v, i) =>
        Ev(100L + i, t("2024-01-01 10:30:00"), 1L, "view", v, "{}")
      }: _*)
      q.processAllAvailable()
      val got = spark.table("kll_stream_out")
        .select($"p50_cents").as[Long].collect().toSet
      // batch 1: 5 items, INCLUSIVE median = 3rd smallest = 500;
      // cumulative: 9 items, 5th smallest of {100..900, 2000..8000} = 900
      assert(got == Set(500L, 900L), s"streamed KLL medians $got")
    } finally q.stop()
  }

  test("windowed user-spend feed accumulates across micro-batches (leaderboard)") {
    // q_stream_topk's streaming half: the per-(window,user) aggregate
    // must fold batch-2 events into batch-1 window state (update mode
    // re-emits the grown row), so the consumer-side rank always sees
    // cumulative spend — state loss would surface as a reset count.
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Events.windowUserSpend(in.toDF())
      .writeStream.format("memory").queryName("leaderboard_feed")
      .outputMode("update").start()
    try {
      in.addData(ev(1, "2024-01-01 10:00:00", user = 1),
        ev(2, "2024-01-01 10:10:00", user = 1),
        ev(3, "2024-01-01 10:05:00", user = 2))
      q.processAllAvailable()
      in.addData(ev(4, "2024-01-01 10:20:00", user = 1))
      q.processAllAvailable()
      val got = spark.table("leaderboard_feed")
        .groupBy($"user_id").agg(max($"n").as("n"), max($"cents").as("cents"))
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got(1L) == ((3L, 300L)), s"user 1 state ${got(1L)}")
      assert(got(2L) == ((1L, 100L)))
    } finally q.stop()
  }

  test("theta/HLL sketch state merged across foreachBatch equals batch recompute") {
    // The incremental-sketch pipeline shape: each micro-batch reduces to
    // per-type sketches, and foreachBatch MERGES them into the running
    // sketch state via the binary union aggregates (old ∪ new) — never
    // rescanning prior batches. DataSketches sketches are exact far below
    // their thresholds at this cardinality, so the merged estimates must
    // EQUAL a from-scratch distinct count over all batches; a state that
    // summed instead of unioned would overcount the overlapping users,
    // and lost state would undercount. (The KLL spec above pins the same
    // composition for the custom TypedImperativeAggregate trio.)
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    var state: org.apache.spark.sql.DataFrame = null
    val q = in.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.groupBy("event_type")
          .agg(expr("hll_sketch_agg(user_id, 12)").as("hll"),
            expr("theta_sketch_agg(user_id)").as("th"))
        // localCheckpoint materializes the merged SKETCH BYTES as the
        // carried state — without it, state would accrete a lineage of
        // every past batch (the exact thing the sketch table avoids)
        state = (if (state == null) b
          else state.unionByName(b).groupBy("event_type")
            .agg(expr("hll_union_agg(hll, false)").as("hll"),
              expr("theta_union_agg(th)").as("th"))).localCheckpoint(true)
        ()
      }.start()
    try {
      // users 1..30 view / 1..10 click, then 21..50 view / 6..15 click:
      // overlaps make union (50 / 15) differ from per-batch sums (60 / 20)
      in.addData((1L to 30L).map(u => Ev(u, t("2024-01-01 10:00:00"), u, "view", 1.0, "{}")) ++
        (1L to 10L).map(u => Ev(100 + u, t("2024-01-01 10:00:00"), u, "click", 1.0, "{}")): _*)
      q.processAllAvailable()
      in.addData((21L to 50L).map(u => Ev(200 + u, t("2024-01-01 11:00:00"), u, "view", 1.0, "{}")) ++
        (6L to 15L).map(u => Ev(300 + u, t("2024-01-01 11:00:00"), u, "click", 1.0, "{}")): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = state.select(col("event_type"),
        expr("CAST(hll_sketch_estimate(hll) AS BIGINT)").as("hll_n"),
        expr("CAST(round(theta_sketch_estimate(th)) AS BIGINT)").as("th_n"))
      .as[(String, Long, Long)].collect()
      .map { case (k, h, s) => k -> ((h, s)) }.toMap
    assert(got("view") == ((50L, 50L)), s"view sketches ${got("view")}")
    assert(got("click") == ((15L, 15L)), s"click sketches ${got("click")}")
  }

  test("session-window state plateaus under watermark eviction") {
    // The scale dimension of streaming state: feeding one closed session
    // per micro-batch for ten batches must NOT accumulate ten sessions in
    // the state store — once the watermark passes a session's end+gap,
    // append mode emits and EVICTS it, so numRowsTotal plateaus at the
    // few sessions still inside the watermark horizon. Without eviction
    // (state ∝ stream length) a 100 TB stream OOMs its state store.
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Events.sessionWindows(in.toDF(), gap = "5 minutes",
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("session_state_out")
      .outputMode("append").start()
    try {
      val stateSizes = (0 until 10).map { i =>
        // one 1-minute session per batch, each a full hour later — every
        // batch pushes the watermark an hour forward, past all prior
        // sessions' end + gap
        in.addData(
          ev(i * 2L, f"2024-01-01 ${10 + i}%02d:00:00"),
          ev(i * 2L + 1, f"2024-01-01 ${10 + i}%02d:01:00"))
        q.processAllAvailable()
        val prog = q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
        assert(prog.isDefined, s"batch $i reported no state operator metrics")
        prog.get.stateOperators.map(_.numRowsTotal).sum
      }
      // plateau, not growth: far fewer state rows than the 10 sessions
      // fed, and the tail holds steady at the watermark-horizon size
      assert(stateSizes.max <= 3,
        s"state grew with the stream instead of plateauing: $stateSizes")
      assert(stateSizes.takeRight(5).distinct.size == 1,
        s"state still trending in the tail: $stateSizes")
      // the evicted sessions were emitted downstream, not lost
      val emitted = spark.table("session_state_out").count()
      assert(emitted >= 8, s"only $emitted sessions emitted")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark emits each event_id once") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Events.dedupWithinWatermark(in.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      in.addData(ev(1, "2024-01-01 10:00:00"), ev(1, "2024-01-01 10:00:00"))
      q.processAllAvailable()
      in.addData(ev(1, "2024-01-01 10:00:30"), ev(2, "2024-01-01 10:01:00"))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select($"event_id").as[Long].collect().toSeq
      assert(ids.sorted == Seq(1L, 2L))
    } finally q.stop()
  }

  test("firstTouch batch shape agrees with streaming keyed dedup on in-order input") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = in.toDF().withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .writeStream.format("memory").queryName("ft_out")
      .outputMode("append").start()
    val rows = Seq(
      ev(10, "2024-01-01 10:00:00", user = 1, typ = "view"),
      ev(11, "2024-01-01 10:00:30", user = 1, typ = "view"),   // later dup
      ev(12, "2024-01-01 10:01:00", user = 1, typ = "click"),
      ev(13, "2024-01-01 10:02:00", user = 2, typ = "view"))
    try {
      rows.grouped(2).foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val streamed = spark.table("ft_out")
        .select($"user_id", $"event_type", $"event_id")
        .as[(Long, String, Long)].collect().toSet
      val batch = Events.firstTouch(rows.toDF())
        .select($"user_id", $"event_type", $"first_event_id")
        .as[(Long, String, Long)].collect().toSet
      // arrivals respect event time here, so streaming first-arrival
      // keep == batch (ts, event_id)-min keep — the documented contract
      assert(streamed == batch)
      assert(batch == Set((1L, "view", 10L), (1L, "click", 12L), (2L, "view", 13L)))
    } finally q.stop()
  }

  test("session windows close after gap and split distant events") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Events.sessionWindows(in.toDF(), gap = "10 minutes")
      .writeStream.format("memory").queryName("session_out")
      .outputMode("append").start()
    try {
      in.addData(
        ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:05:00"),
        ev(3, "2024-01-01 11:00:00"))
      q.processAllAvailable()
      in.addData(ev(4, "2024-01-01 13:00:00")) // advance watermark, close all
      q.processAllAvailable()
      val out = spark.table("session_out")
        .select($"session_start", $"session_end", $"n")
        .as[(Timestamp, Timestamp, Long)].collect().toSeq.sortBy(_._1.getTime)
      assert(out.head == ((t("2024-01-01 10:00:00"), t("2024-01-01 10:15:00"), 2L)))
      assert(out(1)._1 == t("2024-01-01 11:00:00"))
    } finally q.stop()
  }

  test("stream-stream join matches purchases to preceding views within window") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Events.viewToPurchaseJoin(in.toDF(), within = "1 hour")
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      in.addData(
        Ev(1, t("2024-01-01 10:00:00"), 5L, "view", 1.0, "{}"),
        Ev(2, t("2024-01-01 10:30:00"), 5L, "purchase", 9.0, "{}"), // within 1h of view 1
        Ev(3, t("2024-01-01 13:00:00"), 5L, "purchase", 9.0, "{}"), // too late for view 1
        Ev(4, t("2024-01-01 10:10:00"), 6L, "purchase", 9.0, "{}")) // other user, no view
      q.processAllAvailable()
      val out = spark.table("ssj_out")
        .select($"view_id", $"purchase_id").as[(Long, Long)].collect().toSet
      assert(out == Set((1L, 2L)))
    } finally q.stop()
  }

  test("left-outer stream-stream join emits unmatched views after watermark closes") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Events.viewToPurchaseJoinOuter(in.toDF(), within = "1 hour")
      .writeStream.format("memory").queryName("ssoj_out")
      .outputMode("append").start()
    try {
      in.addData(
        Ev(1, t("2024-01-01 10:00:00"), 5L, "view", 1.0, "{}"),     // will match
        Ev(2, t("2024-01-01 10:30:00"), 5L, "purchase", 9.0, "{}"),
        Ev(3, t("2024-01-01 10:00:00"), 6L, "view", 1.0, "{}"))     // never matches
      q.processAllAvailable()
      // advance BOTH sides' watermarks far past view 3's join window (the
      // join watermark is the min of the two, so a stale purchase side
      // would hold every unmatched view open); the watermark computed at
      // the end of a batch takes effect in the NEXT one, so nudge twice
      in.addData(
        Ev(9, t("2024-01-01 14:00:00"), 7L, "view", 1.0, "{}"),
        Ev(10, t("2024-01-01 14:00:00"), 7L, "purchase", 9.0, "{}"))
      q.processAllAvailable()
      in.addData(
        Ev(11, t("2024-01-01 14:30:00"), 7L, "view", 1.0, "{}"),
        Ev(12, t("2024-01-01 14:30:00"), 7L, "purchase", 9.0, "{}"))
      q.processAllAvailable()
      val out = spark.table("ssoj_out")
        .select($"view_id", $"purchase_id").as[(Long, Option[Long])]
        .collect().toSet
      assert(out.contains((1L, Some(2L))))
      assert(out.contains((3L, None)), s"unmatched view must emit nulls, got $out")
    } finally q.stop()
  }

  test("stream-static join enriches each micro-batch against a dim table") {
    // the standard enrich shape: the static side is planned as a broadcast
    // per micro-batch (no stream-side state, no watermark needed)
    implicit val sc = spark.sqlContext
    val dim = Seq((5L, "gold"), (6L, "basic")).toDF("user_id", "tier")
    val in = MemoryStream[Ev]
    val q = in.toDF().join(broadcast(dim), Seq("user_id"), "left")
      .select($"event_id", $"user_id", $"tier")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      in.addData(ev(1, "2024-01-01 10:00:00", user = 5),
        ev(2, "2024-01-01 10:01:00", user = 7))
      q.processAllAvailable()
      val out = spark.table("enrich_out")
        .select($"event_id", $"tier").as[(Long, Option[String])]
        .collect().toSet
      assert(out == Set((1L, Some("gold")), (2L, None)))
    } finally q.stop()
  }

  test("complete output mode re-emits full aggregate state each batch") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val counts = in.toDF().groupBy($"event_type").agg(count(lit(1)).as("n"))
    val q = counts.writeStream.format("memory").queryName("complete_out")
      .outputMode("complete").start()
    try {
      in.addData(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:01:00"))
      q.processAllAvailable()
      in.addData(ev(3, "2024-01-01 10:02:00"))
      q.processAllAvailable()
      val out = spark.table("complete_out")
        .as[(String, Long)].collect().toMap
      assert(out == Map("view" -> 3L)) // latest full state, not deltas
    } finally q.stop()
  }

  test("flatMapGroupsWithState carries running state across micro-batches") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val typed = in.toDS().map(e =>
      Events.EventRow(e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props))
    val q = Events.purchaseAlerts(typed, alertEvery = 1000L)
      .writeStream.format("memory").queryName("alerts_out")
      .outputMode("append").start()
    try {
      // batch 1: 6.00 → no alert (600 < 1000)
      in.addData(Ev(1, t("2024-01-01 10:00:00"), 7L, "purchase", 6.0, "{}"))
      q.processAllAvailable()
      // batch 2: +5.00 → total 1100 crosses 1000 → alert carries state
      in.addData(Ev(2, t("2024-01-01 10:05:00"), 7L, "purchase", 5.0, "{}"),
        Ev(3, t("2024-01-01 10:06:00"), 7L, "view", 99.0, "{}"))
      q.processAllAvailable()
      val out = spark.table("alerts_out")
        .as[(Long, Long, Long)].collect().toSeq
      assert(out == Seq((7L, 2L, 1100L)))
    } finally q.stop()
  }

  test("watermarked as-of enrichment equals the batch AsOfJoin on OUT-OF-ORDER input") {
    implicit val sc = spark.sqlContext
    // user 1's journey, deliberately delivered out of order across
    // micro-batches (every arrival within the 10 s watermark bound):
    // the crux is the view at 10:00:06 arriving AFTER the purchase at
    // 10:00:07 — the monotone asofEnrich would have already emitted
    // that purchase with the 10:00:05 view; the watermarked variant
    // must hold the purchase and emit the corrected 10:00:06 match.
    val b1 = Seq(
      Ev(1, t("2024-01-01 10:00:05"), 1L, "view", 0.0, "{}"),
      Ev(2, t("2024-01-01 10:00:07"), 1L, "purchase", 5.0, "{}"))
    val b2 = Seq(
      Ev(3, t("2024-01-01 10:00:06"), 1L, "view", 0.0, "{}"), // late view
      Ev(4, t("2024-01-01 10:00:03"), 1L, "purchase", 2.0, "{}")) // late purchase
    // watermark advancers on another user (views only — contribute no
    // output rows), far enough ahead to settle everything above
    val b3 = Seq(Ev(90, t("2024-01-01 10:05:00"), 99L, "view", 0.0, "{}"))
    val b4 = Seq(Ev(91, t("2024-01-01 10:10:00"), 99L, "view", 0.0, "{}"))
    val in = MemoryStream[Ev]
    val typed = in.toDS().map(e =>
      Events.EventRow(e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props))
    val q = Events.asofEnrichWatermarked(typed, delay = "10 seconds")
      .writeStream.format("memory").queryName("asof_wm_out")
      .outputMode("append").start()
    try {
      Seq(b1, b2, b3, b4).foreach { b =>
        in.addData(b: _*); q.processAllAvailable()
      }
      val streamed = spark.table("asof_wm_out")
        .as[(Long, Long, Option[Long])].collect().toSet
      val static = (b1 ++ b2 ++ b3 ++ b4).toDS()
      val purchases = static.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", unix_micros($"ts").as("us"))
      val views = static.filter($"event_type" === "view")
        .select($"user_id", unix_micros($"ts").as("us"),
          unix_micros($"ts").as("last_view_us"))
      val expected = graft.ops.AsOf
        .joinAsOf(purchases, views, Seq("user_id"), "us", "us",
          Seq("last_view_us"))
        .select($"event_id", $"user_id", $"last_view_us")
        .as[(Long, Long, Option[Long])].collect().toSet
      assert(streamed == expected,
        s"out-of-order stream $streamed != batch operator $expected")
      // pin the crux explicitly: purchase 2 carries the LATE view's time
      // (10:00:06, one second after the view that had already arrived)
      val late = streamed.find(_._1 == 2L).flatMap(_._3)
      val earlyView = static.filter($"event_id" === 1L)
        .select(unix_micros($"ts")).as[Long].head()
      assert(late.contains(earlyView + 1000000L),
        s"purchase 2 must match the out-of-order 10:00:06 view, got $late")
      // and the too-early purchase has no view at-or-before it
      assert(streamed.find(_._1 == 4L).exists(_._3.isEmpty))
    } finally q.stop()
  }

  test("watermark boundary: t == wm is dropped as late; a just-inside purchase waits for its equal-time view") {
    // Measured boundary semantics (this test pins them): Spark's
    // flatMapGroupsWithState late filter DROPS rows with event time
    // equal to the current watermark — so nothing at exactly t == wm
    // can ever race state. One microsecond inside the bound, the race
    // is real: a purchase at wm + 1µs (b2) whose matching view at the
    // SAME timestamp arrives a batch later (b3, still admitted) must
    // stay buffered until the watermark strictly passes them — the
    // strict-< emission — and then emit matched to that late view, not
    // to the earlier 10:00:00 one.
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val typed = in.toDS().map(e =>
      Events.EventRow(e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props))
    val q = Events.asofEnrichWatermarked(typed, delay = "10 seconds")
      .writeStream.format("memory").queryName("asof_wm_edge_out")
      .outputMode("append").start()
    try {
      Seq(
        // b1: early view + advancer → wm for b2 is exactly 10:00:10
        Seq(Ev(1, t("2024-01-01 10:00:00"), 1L, "view", 0.0, "{}"),
          Ev(90, t("2024-01-01 10:00:20"), 99L, "view", 0.0, "{}")),
        // b2: purchase AT the watermark (dropped as late — must never
        // emit) and a purchase 1µs inside it (admitted, must buffer)
        Seq(Ev(2, t("2024-01-01 10:00:10"), 1L, "purchase", 5.0, "{}"),
          Ev(3, t("2024-01-01 10:00:10.000001"), 1L, "purchase", 5.0, "{}")),
        // b3: the equal-time view for purchase 3, arriving a batch later
        Seq(Ev(4, t("2024-01-01 10:00:10.000001"), 1L, "view", 0.0, "{}")),
        // b4/b5: advance the watermark past everything
        Seq(Ev(91, t("2024-01-01 10:05:00"), 99L, "view", 0.0, "{}")),
        Seq(Ev(92, t("2024-01-01 10:10:00"), 99L, "view", 0.0, "{}"))
      ).foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val got = spark.table("asof_wm_edge_out")
        .as[(Long, Long, Option[Long])].collect().toSet
      val insideUs = t("2024-01-01 10:00:10").toInstant.toEpochMilli * 1000L + 1L
      assert(got == Set((3L, 1L, Some(insideUs))),
        s"only the inside-the-bound purchase may emit, matched to its " +
          s"equal-time late view: $got")
    } finally q.stop()
  }

  test("streaming as-of enrichment equals the batch AsOfJoin on ordered input") {
    implicit val sc = spark.sqlContext
    val rows = Seq(
      // user 1: view → purchase → view → purchase (state must advance)
      Ev(1, t("2024-01-01 10:00:00"), 1L, "view", 0.0, "{}"),
      Ev(2, t("2024-01-01 10:05:00"), 1L, "purchase", 5.0, "{}"),
      Ev(3, t("2024-01-01 10:10:00"), 1L, "view", 0.0, "{}"),
      Ev(4, t("2024-01-01 10:20:00"), 1L, "purchase", 7.0, "{}"),
      // user 2: purchase BEFORE any view (null payload), then view+purchase
      Ev(5, t("2024-01-01 09:00:00"), 2L, "purchase", 3.0, "{}"),
      Ev(6, t("2024-01-01 09:30:00"), 2L, "view", 0.0, "{}"),
      Ev(7, t("2024-01-01 09:45:00"), 2L, "purchase", 2.0, "{}"))
    val in = MemoryStream[Ev]
    val typed = in.toDS().map(e =>
      Events.EventRow(e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props))
    val q = Events.asofEnrich(typed)
      .writeStream.format("memory").queryName("asof_stream_out")
      .outputMode("append").start()
    try {
      // split mid-journey so state must survive the batch boundary
      in.addData(rows.take(3): _*)
      q.processAllAvailable()
      in.addData(rows.drop(3): _*)
      q.processAllAvailable()
      val streamed = spark.table("asof_stream_out")
        .as[(Long, Long, Option[Long])].collect().toSet
      // batch truth through the NATIVE as-of operator on the same rows
      val static = rows.toDS()
      val purchases = static.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", unix_micros($"ts").as("us"))
      val views = static.filter($"event_type" === "view")
        .select($"user_id", unix_micros($"ts").as("us"),
          unix_micros($"ts").as("last_view_us"))
      val expected = graft.ops.AsOf
        .joinAsOf(purchases, views, Seq("user_id"), "us", "us",
          Seq("last_view_us"))
        .select($"event_id", $"user_id", $"last_view_us")
        .as[(Long, Long, Option[Long])].collect().toSet
      assert(streamed == expected,
        s"stream $streamed != batch operator $expected")
      assert(streamed.exists(_._3.isEmpty), "the null-payload case must occur")
    } finally q.stop()
  }

  test("windowUsers streams: dedup state + windowed count compose in append mode") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Events.windowUsers(in.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("users_out")
      .outputMode("append").start()
    try {
      // three events, two distinct users, same hour — duplicate user
      // within the window must count once
      in.addData(ev(1, "2024-01-01 10:00:00", user = 1),
        ev(2, "2024-01-01 10:20:00", user = 1),
        ev(3, "2024-01-01 10:40:00", user = 2))
      q.processAllAvailable()
      in.addData(ev(4, "2024-01-01 12:00:00", user = 9)) // closes [10:00,11:00)
      q.processAllAvailable()
      val out = spark.table("users_out")
        .select($"window_start", $"n_users").as[(Timestamp, Long)].collect().toMap
      assert(out(t("2024-01-01 10:00:00")) == 2L)
    } finally q.stop()
  }

  test("transformWithState (stateful v2) carries ValueState across micro-batches") {
    implicit val sc = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[Ev]
    val typed = in.toDS().map(e =>
      Events.EventRow(e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props))
    val q = Events.purchaseAlertsTws(typed, alertEvery = 1000L)
      .writeStream.format("memory").queryName("tws_alerts_out")
      .outputMode("append").start()
    try {
      in.addData(Ev(1, t("2024-01-01 10:00:00"), 7L, "purchase", 6.0, "{}"))
      q.processAllAvailable()
      in.addData(Ev(2, t("2024-01-01 10:05:00"), 7L, "purchase", 5.0, "{}"),
        Ev(3, t("2024-01-01 10:06:00"), 7L, "view", 99.0, "{}"))
      q.processAllAvailable()
      val out = spark.table("tws_alerts_out")
        .as[(Long, Long, Long)].collect().toSeq
      assert(out == Seq((7L, 2L, 1100L)), "same semantics as flatMapGroupsWithState")
    } finally {
      q.stop()
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("event-time timers close idle sessions; later activity re-arms the timer") {
    implicit val sc = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[Ev]
    val typed = in.toDS().map(e =>
      Events.EventRow(e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props))
    // 60s inactivity gap, zero-delay watermark
    val q = Events.idleSessionCloses(typed, gapMs = 60000L)
      .writeStream.format("memory").queryName("idle_close_out")
      .outputMode("append").start()
    try {
      // user 7: two events 30s apart (timer re-armed); user 8: one event
      in.addData(Ev(1, t("2024-01-01 10:00:00"), 7L, "view", 0.0, "{}"),
        Ev(2, t("2024-01-01 10:00:30"), 7L, "click", 0.0, "{}"),
        Ev(3, t("2024-01-01 10:00:10"), 8L, "view", 0.0, "{}"))
      q.processAllAvailable()
      // nothing closed yet: watermark is at most 10:00:30
      assert(spark.table("idle_close_out").isEmpty)
      // a late-stream event pushes the watermark past both timers
      in.addData(Ev(4, t("2024-01-01 10:30:00"), 9L, "view", 0.0, "{}"))
      q.processAllAvailable()
      // one more batch so the new watermark is applied to timer eviction
      in.addData(Ev(5, t("2024-01-01 10:31:00"), 9L, "view", 0.0, "{}"))
      q.processAllAvailable()
      val out = spark.table("idle_close_out")
        .as[(Long, Long, Long)].collect().toSet
      assert(out.contains((7L, 2L, t("2024-01-01 10:00:30").getTime)),
        s"user 7 session (2 events, re-armed timer) must close once: $out")
      assert(out.contains((8L, 1L, t("2024-01-01 10:00:10").getTime)),
        s"user 8 single-event session must close: $out")
      assert(!out.exists(_._1 == 9L), "active user must stay open")
    } finally {
      q.stop()
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("versioned streaming sink commits one snapshot per batch, replay-safe") {
    implicit val sc = spark.sqlContext
    val path = "target/tmp/stream_versioned"
    val ckpt = "target/tmp/stream_versioned_ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val in = MemoryStream[Ev]
    in.addData(ev(1, "2024-01-01 10:00:00", user = 1),
      ev(2, "2024-01-01 10:20:00", user = 2))
    val counts = in.toDF().groupBy($"user_id").agg(count(lit(1)).as("n"))
    Events.foreachBatchVersioned(counts, path, ckpt).awaitTermination()
    val v0 = graft.ops.Sinks.latestVersion(spark, path)
    assert(v0.contains(0L))
    val snap0 = graft.ops.Sinks.readVersioned(spark, path)
      .as[(Long, Long)].collect().toSet
    assert(snap0 == Set((1L, 1L), (2L, 1L)))

    // restart with the same checkpoint and new data: batch 0 is NOT
    // replayed into a duplicate version; batch 1 commits v=1
    in.addData(ev(3, "2024-01-01 10:40:00", user = 1))
    Events.foreachBatchVersioned(counts, path, ckpt).awaitTermination()
    assert(graft.ops.Sinks.latestVersion(spark, path).contains(1L))
    val snap1 = graft.ops.Sinks.readVersioned(spark, path)
      .as[(Long, Long)].collect().toSet
    assert(snap1 == Set((1L, 2L)), "update-mode batch carries changed keys")
    // time travel back to the first committed batch
    assert(graft.ops.Sinks.readVersioned(spark, path, Some(0L))
      .as[(Long, Long)].collect().toSet == snap0)
  }

  test("streaming MERGE sink folds update-mode deltas into the keyed table") {
    implicit val sc = spark.sqlContext
    val path = "target/tmp/stream_merge"
    val ckpt = "target/tmp/stream_merge_ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val in = MemoryStream[Ev]
    in.addData(ev(1, "2024-01-01 10:00:00", user = 1),
      ev(2, "2024-01-01 10:20:00", user = 2))
    val counts = in.toDF().groupBy($"user_id").agg(count(lit(1)).as("n"))
    Events.foreachBatchMerge(counts, path, ckpt, Seq("user_id"))
      .awaitTermination()
    assert(graft.ops.Sinks.readVersioned(spark, path)
      .as[(Long, Long)].collect().toSet == Set((1L, 1L), (2L, 1L)))

    // restart: only user 1 changes, so the update-mode batch carries
    // just that key — the MERGE must keep user 2 (the plain versioned
    // sink above loses it by design; this is the difference)
    in.addData(ev(3, "2024-01-01 10:40:00", user = 1))
    Events.foreachBatchMerge(counts, path, ckpt, Seq("user_id"))
      .awaitTermination()
    assert(graft.ops.Sinks.latestVersion(spark, path).contains(1L))
    assert(graft.ops.Sinks.readVersioned(spark, path)
      .as[(Long, Long)].collect().toSet == Set((1L, 2L), (2L, 1L)))
    // the pre-merge state stays time-travelable
    assert(graft.ops.Sinks.readVersioned(spark, path, Some(0L))
      .as[(Long, Long)].collect().toSet == Set((1L, 1L), (2L, 1L)))
  }

  test("foreachBatch upsert sink merges micro-batches idempotently by key") {
    implicit val sc = spark.sqlContext
    val path = "target/tmp/stream_upsert"
    val ckpt = "target/tmp/stream_upsert_ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val in = MemoryStream[Ev]
    in.addData(ev(1, "2024-01-01 10:00:00", user = 1),
      ev(2, "2024-01-01 10:20:00", user = 1),
      ev(3, "2024-01-01 10:00:00", user = 2))
    val counts = in.toDF().groupBy($"user_id").agg(count(lit(1)).as("n"))
    val q = Events.foreachBatchUpsert(counts, path, Seq("user_id"), ckpt)
    q.awaitTermination()
    val got = spark.read.parquet(path).orderBy($"user_id")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (2L, 1L)))
  }

  test("near-dup ingestion gate: decisions are consistent and rerunnable") {
    val sf = "/root/testdata/sf0.001"
    val out = graft.streaming.IngestGate.replayNearDupGate(spark, sf)
      .select($"doc_id", $"admitted", $"dup_src")
      .as[(Long, Boolean, Option[Long])].collect().toSeq
    val docs = graft.model.Tables.documents(spark, sf).count()
    assert(out.size == docs, "one decision per document")
    assert(out.forall { case (id, adm, src) =>
      if (adm) src.isEmpty else src.exists(_ < id)
    }, "admitted ⇔ no dup_src; rejections point strictly backwards")
    assert(out.exists(!_._2), "the corpus plants near-dups — some must reject")
    // cross-batch state: at least one rejection whose dup_src landed in
    // an EARLIER micro-batch (slice = contiguous doc_id range, width
    // exactly as the fixture computes it from GateStores.Slices), so
    // the persistent index — not just the same-batch self-join — is
    // proven live
    val hi = out.map(_._1).max
    val width = hi / graft.streaming.GateStores.Slices + 1L
    assert(out.exists { case (id, adm, src) =>
      !adm && src.exists(_ / width < id / width)
    }, "no rejection crossed a batch boundary — the index went unused")
    // a rerun in the same session must reset the gate's stores and
    // reproduce the decisions exactly (not re-gate against leftovers)
    val again = graft.streaming.IngestGate.replayNearDupGate(spark, sf)
      .select($"doc_id", $"admitted", $"dup_src")
      .as[(Long, Boolean, Option[Long])].collect().toSeq
    assert(again == out, "gate rerun must be deterministic")
  }

  test("embedding ingestion gate: decisions consistent, cross-batch, rerunnable") {
    val sf = "/root/testdata/sf0.001"
    def run() = graft.streaming.EmbGate.replayEmbNearDupGate(spark, sf,
        threshold = 0.4, bands = 96, bitsPerBand = 8)
      .select($"vec_id", $"admitted", $"dup_src")
      .as[(Long, Boolean, Option[Long])].collect().toSeq
    val out = run()
    val vecs = graft.model.Tables.embeddings(spark, sf).count()
    assert(out.size == vecs, "one decision per vector")
    assert(out.forall { case (id, adm, src) =>
      if (adm) src.isEmpty else src.exists(_ < id)
    }, "admitted ⇔ no dup_src; rejections point strictly backwards")
    assert(out.exists(!_._2), "the corpus plants cos≥0.4 pairs — some must reject")
    // cross-batch state: a rejection whose dup_src landed in an EARLIER
    // micro-batch, proving the persistent band index is live
    val hi = out.map(_._1).max
    val width = hi / graft.streaming.GateStores.Slices + 1L
    assert(out.exists { case (id, adm, src) =>
      !adm && src.exists(_ / width < id / width)
    }, "no rejection crossed a batch boundary — the index went unused")
    assert(run() == out, "gate rerun must be deterministic")
  }

  test("streaming ANN ingest: postings cover exactly the admitted set, m rows each") {
    val sf = "/root/testdata/sf0.001"
    val posts = graft.streaming.AnnIngest.replayAnnIngest(spark, sf,
        threshold = 0.4, bands = 96, bitsPerBand = 8, dims = 64,
        cells = 16, m = 8, ks = 16, refineIters = 1)
      .select($"cell_id", $"n_id", $"sub", $"cid")
      .as[(Long, Long, Int, Long)].collect().toSeq
    // the postings' vector set must equal the gate's admitted set —
    // the composition law between the two pipeline stages
    val admitted = graft.streaming.EmbGate.replayEmbNearDupGate(spark, sf,
        threshold = 0.4, bands = 96, bitsPerBand = 8)
      .filter($"admitted").select($"vec_id").as[Long].collect().toSet
    assert(posts.map(_._2).toSet == admitted,
      "postings must cover exactly the gate-admitted vectors")
    // m=8 code rows per admitted vector, one cell per vector, cid in
    // the trained codebook's id domain (seed ids are vec_ids < ks or
    // their Lloyd-updated descendants — same cid key space)
    val perVec = posts.groupBy(_._2)
    assert(perVec.values.forall(_.size == 8), "8 subspace codes per vector")
    assert(perVec.values.forall(_.map(_._1).distinct.size == 1),
      "every vector routes to exactly one cell")
    assert(posts.map(_._3).toSet == (0 until 8).toSet, "all subspaces present")
  }

  test("AnnIngest restart mid-replay: a run killed after batch 1 lands resumes to identical stores") {
    val sf = "/root/testdata/sf0.001"
    def run(ckpt: String, wipe: Boolean, crashAt: Option[Long]) =
      graft.streaming.AnnIngest.replayInternal(spark, sf, threshold = 0.4,
        bands = 96, bitsPerBand = 8, dims = 64, cells = 16, m = 8, ks = 16,
        refineIters = 1, ns = "ann_ingest", ckpt = ckpt, wipeStores = wipe,
        crash = crashAt.map(graft.streaming.GateStores.Crash(_)),
        delete = false)
    // reference: an uninterrupted replay
    val clean = graft.streaming.AnnIngest.replayAnnIngest(spark, sf,
        threshold = 0.4, bands = 96, bitsPerBand = 8, dims = 64, cells = 16,
        m = 8, ks = 16, refineIters = 1)
      .as[(Long, Long, Int, Long)].collect().toSeq
    // crash run: a fixed checkpoint, killed AFTER batch 1's stores are
    // Overwrite-written but BEFORE its checkpoint commit — the worst
    // at-least-once window (the resumed run must re-execute batch 1 on
    // top of its own first attempt's files)
    val ckpt = graft.model.Scratch.dir("ann_restart_ckpt", sf)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(ckpt, wipe = true, crashAt = Some(1L))
    }
    assert(ex.getMessage.contains("injected crash"), ex.getMessage)
    // resume from the SAME checkpoint without wiping the stores
    val resumed = run(ckpt, wipe = false, crashAt = None)
      .as[(Long, Long, Int, Long)].collect().toSeq
    assert(resumed == clean,
      "a killed-and-resumed replay must land stores identical to an uninterrupted run")
  }

  test("EmbGate restart mid-replay: killed-and-resumed decisions identical to an uninterrupted run") {
    val sf = "/root/testdata/sf0.001"
    def run(ckpt: String, wipe: Boolean, crashAt: Option[Long]) =
      graft.streaming.EmbGate.replayInternal(spark, sf, threshold = 0.4,
        bands = 96, bitsPerBand = 8, ckpt = ckpt, wipeStores = wipe,
        crash = crashAt.map(graft.streaming.GateStores.Crash(_)))
    val clean = graft.streaming.EmbGate.replayEmbNearDupGate(spark, sf,
        threshold = 0.4, bands = 96, bitsPerBand = 8)
      .as[(Long, Boolean, Option[Long])].collect().toSeq
    val ckpt = graft.model.Scratch.dir("emb_restart_ckpt", sf)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(ckpt, wipe = true, crashAt = Some(1L))
    }
    val resumed = run(ckpt, wipe = false, crashAt = None)
      .as[(Long, Boolean, Option[Long])].collect().toSeq
    assert(resumed == clean,
      "a killed-and-resumed gate must reproduce the uninterrupted decisions")
  }

  test("IngestGate restart mid-replay: killed-and-resumed decisions identical to an uninterrupted run") {
    val sf = "/root/testdata/sf0.001"
    def run(ckpt: String, wipe: Boolean, crashAt: Option[Long]) =
      graft.streaming.IngestGate.replayInternal(spark, sf, ckpt = ckpt,
        wipeStores = wipe, crash = crashAt.map(graft.streaming.GateStores.Crash(_)))
    val clean = graft.streaming.IngestGate.replayNearDupGate(spark, sf)
      .as[(Long, Boolean, Option[Long])].collect().toSeq
    val ckpt = graft.model.Scratch.dir("ingest_restart_ckpt", sf)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(ckpt, wipe = true, crashAt = Some(1L))
    }
    val resumed = run(ckpt, wipe = false, crashAt = None)
      .as[(Long, Boolean, Option[Long])].collect().toSeq
    assert(resumed == clean,
      "a killed-and-resumed doc gate must reproduce the uninterrupted decisions")
  }

  /** Runs `replay` with a [[graft.streaming.GateStores.Crash]] that
    * fails `failing`'s landing of `batch`, checks the failure and the
    * half-landed batch, then resumes from the same checkpoint without
    * wiping and returns the resumed result. The resume must execute
    * `batch` again, and first: a later batch's probe never reads the
    * half-landed one. `unlanded` are further stores that must not hold
    * `batch` after the failure.
    */
  private def midBatchFault(ckpt: String, batch: Long, failing: String,
      siblings: Seq[String], unlanded: Seq[String] = Nil)(
      replay: Option[graft.streaming.GateStores.Crash] => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      replay(Some(graft.streaming.GateStores.Crash(batch, Some(failing))))
    }
    val injected = s"injected crash landing $failing of batch $batch"
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => e.getMessage != null && e.getMessage.contains(injected)), ex)
    siblings.foreach(d => assert(new java.io.File(s"$d/b$batch/_SUCCESS").exists,
      s"sibling landing $d/b$batch must have written before the failure"))
    (failing +: unlanded).foreach(d => assert(!new java.io.File(s"$d/b$batch").exists,
      s"$d/b$batch must not exist after the failed landing"))
    // the checkpoint keeps the query id across the restart
    val queryId = spark.read.json(s"$ckpt/metadata").head().getAs[String]("id")
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.id.toString == queryId) executed.add(e.progress.batchId): Unit
    }
    spark.streams.addListener(listener)
    val resumed = try {
      val df = replay(None)
      org.apache.spark.sql.GraftRelationalBridge.drainListenerBus(spark)
      df
    } finally spark.streams.removeListener(listener)
    import scala.jdk.CollectionConverters._
    assert(executed.asScala.toSeq ==
        (batch until graft.streaming.GateStores.Slices.toLong),
      s"the resume must re-execute batch $batch, then go on: ${executed.asScala}")
    resumed
  }

  test("IngestGate mid-batch fault: a shingle-store landing fails after its siblings land; the resume converges") {
    val sf = "/root/testdata/sf0.001"
    val clean = graft.streaming.IngestGate.replayNearDupGate(spark, sf)
      .as[(Long, Boolean, Option[Long])].collect().toSeq
    val Seq(dec, idx, sh) = Seq("dec", "idx", "sh")
      .map(st => graft.model.Scratch.dir(s"ingest_gate_$st", sf))
    val ckpt = graft.model.Scratch.dir("ingest_midbatch_ckpt", sf)
    val resumed = midBatchFault(ckpt, batch = 1L, failing = sh,
        siblings = Seq(dec, idx)) { crash =>
      graft.streaming.IngestGate.replayInternal(spark, sf, ckpt = ckpt,
        wipeStores = crash.nonEmpty, crash = crash)
    }.as[(Long, Boolean, Option[Long])].collect().toSeq
    assert(resumed == clean,
      "a batch failed in the middle of its landings must resume to the uninterrupted decisions")
  }

  test("AnnIngest mid-batch fault: a vector-store landing fails before the takedown; the resume converges") {
    val sf = "/root/testdata/sf0.001"
    val clean = graft.streaming.AnnIngest.replayAnnIngestDelete(spark, sf,
        threshold = 0.4, bands = 96, bitsPerBand = 8, dims = 64, cells = 16,
        m = 8, ks = 16, refineIters = 1)
      .as[(Long, Long, Int, Long)].collect().toSeq
    val Seq(idx, vec, post, tomb) = Seq("idx", "vec", "post", "tomb")
      .map(st => graft.model.Scratch.dir(s"ann_ingest_del_$st", sf))
    val batch = graft.streaming.AnnIngest.DeleteAfterBatch
    val ckpt = graft.model.Scratch.dir("ann_midbatch_ckpt", sf)
    // the takedown reads the batch's vector store, so it must not run
    val resumed = midBatchFault(ckpt, batch, failing = vec,
        siblings = Seq(idx, post), unlanded = Seq(tomb)) { crash =>
      graft.streaming.AnnIngest.replayInternal(spark, sf, threshold = 0.4,
        bands = 96, bitsPerBand = 8, dims = 64, cells = 16, m = 8, ks = 16,
        refineIters = 1, ns = "ann_ingest_del", ckpt = ckpt,
        wipeStores = crash.nonEmpty, crash = crash, delete = true)
    }.as[(Long, Long, Int, Long)].collect().toSeq
    assert(resumed == clean,
      "a batch failed in the middle of its landings must resume to the uninterrupted postings")
  }

  test("gate verify: the store streams map-side through the candidate join, no exchange carries its rows") {
    // dupSources reads the whole visible store into the verify, which
    // stays cheap only because the verify broadcasts the candidates and
    // the batch: store rows must reach no exchange (shuffle or
    // broadcast) before an aggregate has collapsed them to per-batch-key
    // results. Pinned for both verifiers on batch 1 over batch 0's stores.
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.types.StructType
    import graft.streaming.{EmbGate, GateStores, IngestGate}
    val tmp = java.nio.file.Files.createTempDirectory("gate_verify").toFile
    val helper = new AdaptiveSparkPlanHelper {}
    def isScanOf(p: SparkPlan, dir: String) = p match {
      case s: FileSourceScanExec => s.relation.location.rootPaths.exists(_.toString.contains(dir))
      case _ => false
    }
    // does `p` carry rows of a scan of `dir` that no aggregate has collapsed
    def rawRowsOf(p: SparkPlan, dir: String): Boolean = p match {
      case _: BaseAggregateExec => false
      case q: QueryStageExec => rawRowsOf(q.plan, dir)
      case o => isScanOf(o, dir) || o.children.exists(rawRowsOf(_, dir))
    }
    // batch 0 lands the stores, batch 1 runs the gate against them
    def gateBatch1(src: DataFrame, key: String, stores: Seq[GateStores.Store])(
        gate: GateStores.Batch => Seq[DataFrame]): (Seq[Row], Long) = {
      val width = src.agg(max(col(key))).first().getLong(0) / GateStores.Slices + 1
      def batch(i: Long) = new GateStores.Batch(
        src.filter(col(key) >= i * width && col(key) < (i + 1) * width), i, "verify_spec")
      val b0 = batch(0L)
      stores.zip(gate(b0).tail).foreach { case (st, df) => st.land(df, 0L) }
      b0.release()
      val b1 = batch(1L)
      val dupSrc = gate(b1).head
      val got = dupSrc.collect().toSeq
      b1.release()
      val plan = dupSrc.queryExecution.executedPlan
      val store = stores.last.dir
      assert(helper.collectWithSubqueries(plan) { case p if isScanOf(p, store) => p }.nonEmpty,
        s"$key: the verify must read the store at $store:\n$plan")
      val carrying = helper.collectWithSubqueries(plan) {
        case e: Exchange if rawRowsOf(e.child, store) => e.nodeName
      }
      assert(carrying.isEmpty, s"$key: $carrying carry store rows:\n$plan")
      (got, width)
    }
    try {
      val docIdx = GateStores.Store(s"$tmp/doc_idx",
        StructType.fromDDL("doc_id BIGINT, band INT, bucket BIGINT"))
      val docSh = GateStores.Store(s"$tmp/doc_sh",
        StructType.fromDDL("doc_id BIGINT, sh ARRAY<BIGINT>"))
      val docs = graft.model.Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      val (docDups, docWidth) = gateBatch1(docs, "doc_id", Seq(docIdx, docSh)) { b =>
        val (withSh, bands, dupSrc) = IngestGate.gateBatch(b, docIdx, docSh)
        Seq(dupSrc, bands, withSh)
      }
      val vecIdx = EmbGate.idxStore(s"$tmp/vec_idx")
      val vecStore = EmbGate.vecStore(s"$tmp/vec_store")
      val embs = graft.model.Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
      val (vecDups, vecWidth) = gateBatch1(embs, "vec_id", Seq(vecIdx, vecStore)) { b =>
        val (vecs, buckets, dupSrc) = EmbGate.gateBatch(b, vecIdx, vecStore,
          threshold = 0.4, bands = 96, bitsPerBand = 8)
        Seq(dupSrc, buckets, vecs)
      }
      // each verify found duplicates, some of them in the batch-0 store
      for ((name, dups, width) <- Seq(("IngestGate", docDups, docWidth),
          ("EmbGate", vecDups, vecWidth))) {
        assert(dups.nonEmpty, s"$name: batch 1 must find duplicates")
        assert(dups.exists(_.getLong(1) < width),
          s"$name: some batch-1 duplicate must verify against the batch-0 store")
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("store compaction: the replay folds settled batches into a snapshot, and a crash AFTER the fold resumes identically") {
    val sf = "/root/testdata/sf0.001"
    val clean = graft.streaming.EmbGate.replayEmbNearDupGate(spark, sf,
        threshold = 0.4, bands = 96, bitsPerBand = 8)
      .as[(Long, Boolean, Option[Long])].collect().toSeq
    // the replay itself compacts: at batch 2's start the settled tail
    // {b0, b1} folds into snap/v=1, so batch 2's probe read the
    // snapshot + nothing — the decisions above already hash-gate that.
    // Here pin the LAYOUT: snapshot committed through batch 1, folded
    // b-dirs gone, and the band index folded into one unpartitioned file.
    val idxDir = graft.model.Scratch.dir("emb_gate_idx", sf)
    val vecDir = graft.model.Scratch.dir("emb_gate_vec", sf)
    for (d <- Seq(idxDir, vecDir)) {
      assert(graft.streaming.GateStores.foldedThrough(spark, d) == 1L,
        s"$d must have folded batches 0..1 into a snapshot")
      assert(graft.streaming.GateStores.existingIds(d).forall(_._1 > 1L),
        s"$d must not keep folded batch dirs around")
    }
    val snapEntries = new java.io.File(s"$idxDir/snap/v=1").listFiles().toSeq
    assert(snapEntries.count(_.getName.endsWith(".parquet")) == 1 &&
        !snapEntries.exists(_.getName.startsWith("bgrp=")),
      s"the index snapshot must be one unpartitioned file: ${snapEntries.map(_.getName)}")
    // crash exactly between the fold+landing of batch 2 and its
    // checkpoint commit — the resumed run re-executes batch 2 against
    // an ALREADY-compacted store (the window VERDICT r13 #2 asks for)
    val ckpt = graft.model.Scratch.dir("emb_compact_ckpt", sf)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      graft.streaming.EmbGate.replayInternal(spark, sf, threshold = 0.4,
        bands = 96, bitsPerBand = 8, ckpt = ckpt, wipeStores = true,
        crash = Some(graft.streaming.GateStores.Crash(2L)))
    }
    assert(graft.streaming.GateStores.foldedThrough(spark, idxDir) == 1L,
      "the crash landed after the fold — the snapshot must be committed")
    val resumed = graft.streaming.EmbGate.replayInternal(spark, sf,
        threshold = 0.4, bands = 96, bitsPerBand = 8, ckpt = ckpt,
        wipeStores = false, crash = None)
      .as[(Long, Boolean, Option[Long])].collect().toSeq
    assert(resumed == clean,
      "re-executing a batch over a compacted store must reproduce the decisions")
  }

  test("streaming ANN delete: survivors only, physically erased from every postings file, restart-safe") {
    val sf = "/root/testdata/sf0.001"
    val full = graft.streaming.AnnIngest.replayAnnIngest(spark, sf,
        threshold = 0.4, bands = 96, bitsPerBand = 8, dims = 64, cells = 16,
        m = 8, ks = 16, refineIters = 1)
      .as[(Long, Long, Int, Long)].collect().toSeq
    val deleted = graft.streaming.AnnIngest.replayAnnIngestDelete(spark, sf,
        threshold = 0.4, bands = 96, bitsPerBand = 8, dims = 64, cells = 16,
        m = 8, ks = 16, refineIters = 1)
      .as[(Long, Long, Int, Long)].collect().toSeq
    // the tombstone rule, restated: ids ≡ 3 (mod 7) among the first two
    // slices
    val hi = graft.model.Tables.embeddings(spark, sf)
      .agg(max($"vec_id")).as[Long].head()
    val width = hi / graft.streaming.GateStores.Slices + 1L
    def dead(id: Long) = id % 7L == 3L && id < 2L * width
    // The r15 erasure contract, restated in three sentences: (1) no
    // tombstoned id survives; (2) every plain-run survivor posting is
    // still served (erasing predecessors can only ADMIT more, never
    // reject); (3) any extra admissions are post-takedown arrivals —
    // vectors whose only matching predecessors were erased and so
    // could no longer be cosine-verified (the exact set is pinned by
    // the DuckDB oracle's rejExclude restatement at Verify/soak time).
    assert(deleted.nonEmpty && deleted.forall(p => !dead(p._2)),
      "no tombstoned id may survive in the served postings")
    val fullSurvivors = full.filterNot(p => dead(p._2)).toSet
    assert(fullSurvivors.subsetOf(deleted.toSet),
      "every plain-run survivor posting must still be served after the takedown")
    val extraIds = deleted.map(_._2).toSet -- fullSurvivors.map(_._2)
    assert(extraIds.forall(_ >= 2L * width),
      s"extra admissions must be post-takedown arrivals only, got: ${extraIds.filter(_ < 2L * width).take(5)}")
    assert(full.exists(p => dead(p._2)),
      "fixture must actually tombstone indexed vectors")
    // file-level erasure: after the batch-2 fold (which anti-joined the
    // tombstones) NO parquet file under the postings store still holds
    // a dead id — bytes on disk, not query results
    val postDir = graft.model.Scratch.dir("ann_ingest_del_post", sf)
    assert(graft.streaming.GateStores.foldedThrough(spark, postDir) == 1L,
      "the delete replay must have compacted the postings store")
    def parquetFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(parquetFiles)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val files = parquetFiles(new java.io.File(postDir))
    assert(files.nonEmpty)
    files.foreach { pf =>
      val leaked = spark.read.parquet(pf.getPath)
        .select($"n_id").as[Long].collect().filter(dead)
      assert(leaked.isEmpty,
        s"postings file ${pf.getPath} still holds erased ids: ${leaked.take(5).toSeq}")
    }
    // and the RAW EMBEDDINGS (r15, VERDICT r14 #2): the gate's vector
    // store folds with the same tombstones, so the most sensitive
    // artifact — the deleted vector's bytes — is gone from every file
    val vecDir = graft.model.Scratch.dir("ann_ingest_del_vec", sf)
    assert(graft.streaming.GateStores.foldedThrough(spark, vecDir) == 1L,
      "the delete replay must have compacted the vector store")
    val vecFiles = parquetFiles(new java.io.File(vecDir))
    assert(vecFiles.nonEmpty)
    vecFiles.foreach { vf =>
      val leaked = spark.read.parquet(vf.getPath)
        .select($"vec_id").as[Long].collect().filter(dead)
      assert(leaked.isEmpty,
        s"vector-store file ${vf.getPath} still holds erased embeddings: ${leaked.take(5).toSeq}")
    }
    // the band index deliberately RETAINS the deleted ids' codes — the
    // non-invertible audit trail of ingest history (the documented
    // erasure boundary); pin it so a future edit can't silently flip it
    val idxDir = graft.model.Scratch.dir("ann_ingest_del_idx", sf)
    val idxStore = graft.streaming.GateStores.readStoreOpt(spark,
      graft.streaming.EmbGate.idxStore(idxDir)).get
    assert(idxStore.select($"vec_id").as[Long].collect().exists(dead),
      "band codes of deleted ids are the retained (non-invertible) audit trail")
    // the quantified retention boundary (r16, VERDICT r15 #8): what the
    // audit trail keeps is scalar band codes ONLY — the schema has no
    // vector-valued column, so no coordinate or residual of an erased
    // embedding can exist anywhere in the surviving band index (96
    // bands × 8 sign bits = 768 bits of sign-hash per vector vs the
    // 64 × 32 = 2048 erased float bits; see AnnIngest's erasure-boundary
    // scaladoc for the reconstruction bound)
    idxStore.schema.fields.foreach { f =>
      assert(!f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType],
        s"band-index column '${f.name}' is vector-valued (${f.dataType}) — " +
          "the retained audit trail must hold scalar sign-hash codes only")
    }
    assert(idxStore.columns.toSet == Set("vec_id", "bucket"),
      s"band-index schema drifted: ${idxStore.columns.mkString(",")}")
    // restart in the worst window: killed right after the TOMBSTONES
    // land (batch 1's stores + takedown written, checkpoint uncommitted)
    val ckpt = graft.model.Scratch.dir("ann_del_restart_ckpt", sf)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      graft.streaming.AnnIngest.replayInternal(spark, sf, threshold = 0.4,
        bands = 96, bitsPerBand = 8, dims = 64, cells = 16, m = 8, ks = 16,
        refineIters = 1, ns = "ann_ingest_del",
        ckpt = ckpt, wipeStores = true,
        crash = Some(graft.streaming.GateStores.Crash(
          graft.streaming.AnnIngest.DeleteAfterBatch)),
        delete = true)
    }
    val resumed = graft.streaming.AnnIngest.replayInternal(spark, sf,
        threshold = 0.4, bands = 96, bitsPerBand = 8, dims = 64, cells = 16,
        m = 8, ks = 16, refineIters = 1, ns = "ann_ingest_del",
        ckpt = ckpt, wipeStores = false, crash = None, delete = true)
      .as[(Long, Long, Int, Long)].collect().toSeq
    assert(resumed == deleted,
      "a kill between the takedown and its commit must resume to identical survivors")
  }

  test("erased predecessor: a tombstoned vector cannot veto a later arrival; a live one can") {
    // The r15 visibility rule pinned deterministically: identical
    // vectors 1 and 2, vector 1 seen first. With vector 1 live, 2 is a
    // duplicate (dup_src = 1); with vector 1 tombstoned, its raw
    // embedding is invisible to verification and 2 is ADMITTED — the
    // documented "a takedown forgets the content" consequence (the
    // retained band codes still collide, but cannot cosine-verify).
    val sf = "/root/testdata/sf0.001"
    val idxDir = graft.model.Scratch.dir("erase_sem_idx", sf)
    val vecDir = graft.model.Scratch.dir("erase_sem_vec", sf)
    graft.streaming.GateStores.wipe(Seq(idxDir, vecDir))
    val v = Array.tabulate(64)(i => (i % 7 + 1).toFloat)
    def batch(id: Long, vecId: Long) = new graft.streaming.GateStores.Batch(
      Seq((vecId, v)).toDF("vec_id", "embedding"), id, "erase_sem")
    val b0 = batch(0L, 1L)
    val idx = graft.streaming.EmbGate.idxStore(idxDir)
    val vec = graft.streaming.EmbGate.vecStore(vecDir)
    val (vecs0, buckets0, dup0) = graft.streaming.EmbGate.gateBatch(
      b0, idx, vec, threshold = 0.9, bands = 96, bitsPerBand = 8)
    assert(dup0.count() == 0L, "first arrival has no predecessor")
    idx.land(buckets0, 0L)
    vec.land(vecs0, 0L)
    b0.release()
    val b1 = batch(1L, 2L)
    val (_, _, live) = graft.streaming.EmbGate.gateBatch(
      b1, idx, vec, threshold = 0.9, bands = 96, bitsPerBand = 8)
    assert(live.as[(Long, Long)].collect().toSeq == Seq((2L, 1L)),
      "a LIVE identical predecessor must reject the re-upload")
    b1.release()
    val tombs = Seq(1L).toDF("n_id")
    val b1again = batch(1L, 2L)
    val (_, _, erased) = graft.streaming.EmbGate.gateBatch(
      b1again, idx, vec, threshold = 0.9, bands = 96, bitsPerBand = 8,
      tombstones = Some(tombs))
    assert(erased.count() == 0L,
      "an ERASED predecessor cannot veto — the re-upload is admitted")
    b1again.release()
  }

  test("snapshot retention: a tombstone fold leaves no superseded snapshot holding the dead rows") {
    // ADVICE r14 (medium): with keepVersions=2, a snapshot folded
    // BEFORE a takedown retained tombstoned rows on disk indefinitely.
    // Schedule exactly that — fold, THEN takedown, then fold again —
    // and walk every parquet file under the store.
    val dir = graft.model.Scratch.dir("retention_walk", "/root/testdata/sf0.001")
    val st = graft.streaming.GateStores.Store(dir,
      org.apache.spark.sql.types.StructType.fromDDL("n_id BIGINT"), eraseKey = Some("n_id"))
    graft.streaming.GateStores.wipe(Seq(dir))
    def land(id: Long, ids: Seq[Long]): Unit = st.land(ids.toDF("n_id"), id)
    land(0, Seq(1L, 2L, 3L)); land(1, Seq(4L, 5L, 6L))
    assert(graft.streaming.GateStores.maybeCompact(spark, st, upTo = 1),
      "the pre-takedown fold must fire (snap/v=1 holds ids 1..6)")
    land(2, Seq(7L, 8L)); land(3, Seq(9L, 10L))
    val tombs = Seq(3L, 9L).toDF("n_id")
    assert(graft.streaming.GateStores.maybeCompact(spark, st, upTo = 3,
      tombstones = Some(tombs)), "the tombstone fold must fire")
    assert(!new java.io.File(s"$dir/snap/v=1").exists(),
      "keepVersions=1: the pre-takedown snapshot (which held id 3) must be deleted")
    def parquetFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(parquetFiles)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val files = parquetFiles(new java.io.File(dir))
    assert(files.nonEmpty)
    files.foreach { pf =>
      val leaked = spark.read.parquet(pf.getPath)
        .select($"n_id").as[Long].collect().toSet.intersect(Set(3L, 9L))
      assert(leaked.isEmpty,
        s"file ${pf.getPath} still holds tombstoned rows: $leaked")
    }
    assert(graft.streaming.GateStores.readStoreOpt(spark, st).get
        .as[Long].collect().toSet == Set(1L, 2L, 4L, 5L, 6L, 7L, 8L, 10L),
      "the folded store must serve exactly the survivors")
  }

  test("snapshot fold sizing: maxRecordsPerFile splits the fold into bounded files, fold ≡ unfolded") {
    // VERDICT r14 #5: the fixture fold funnels to one file; a
    // deployment-size fold bounds FILE SIZE instead, through the
    // session's spark.sql.files.maxRecordsPerFile. Pin that a
    // multi-file snapshot still satisfies fold-≡-unfolded and the
    // strictly-earlier guard.
    val dir = graft.model.Scratch.dir("fold_sizing", "/root/testdata/sf0.001")
    val st = graft.streaming.GateStores.Store(dir,
      org.apache.spark.sql.types.StructType.fromDDL("n_id BIGINT"))
    graft.streaming.GateStores.wipe(Seq(dir))
    st.land((0L until 100L).toDF("n_id"), 0L)
    st.land((100L until 200L).toDF("n_id"), 1L)
    val unfolded = graft.streaming.GateStores.readStoreOpt(spark, st).get
      .as[Long].collect().toSet
    val conf = "spark.sql.files.maxRecordsPerFile"
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, 50L)
    try assert(graft.streaming.GateStores.maybeCompact(spark, st, upTo = 1))
    finally prev match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
    val snapFiles = new java.io.File(s"$dir/snap/v=1").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(snapFiles.length >= 4,
      s"200 rows at maxRecordsPerFile=50 must land >=4 files, got ${snapFiles.length}")
    assert(graft.streaming.GateStores.readStoreOpt(spark, st).get
        .as[Long].collect().toSet == unfolded,
      "a multi-file fold must serve exactly the unfolded rows")
    // strictly-earlier: a probe at/below the folded-through id refuses
    intercept[IllegalArgumentException] {
      graft.streaming.GateStores.readStoreOpt(spark, st, before = 1L)
    }
  }

  test("inParallel completes every task and rethrows the first failure " +
      "(r17: concurrent per-batch store jobs)") {
    // all tasks run — including ones scheduled after a failing sibling —
    // and a failure still reaches the caller, so a failed store write
    // fails its batch exactly as the sequential form did
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.streaming.GateStores.inParallel(Seq(
      () => { ran.incrementAndGet(): Unit },
      () => { ran.incrementAndGet(): Unit },
      () => { ran.incrementAndGet(): Unit }))
    assert(ran.get() == 3)
    val survivors = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[RuntimeException] {
      graft.streaming.GateStores.inParallel(Seq(
        () => { survivors.incrementAndGet(): Unit },
        () => throw new RuntimeException("boom"),
        () => { survivors.incrementAndGet(): Unit }))
    }
    assert(e.getMessage == "boom")
    assert(survivors.get() == 2,
      "non-failing siblings must still complete before the rethrow")
    // two store tasks fail and the later one finishes first: the
    // rethrown error is the earlier task's, carrying the other as
    // suppressed, so neither failure is dropped
    val late = new java.util.concurrent.CountDownLatch(1)
    val e2 = intercept[IllegalStateException] {
      graft.streaming.GateStores.inParallel(Seq(
        () => { late.await(); throw new IllegalStateException("first store") },
        () => { try throw new IllegalArgumentException("second store")
                finally late.countDown() },
        () => ()))
    }
    assert(e2.getMessage == "first store")
    assert(e2.getSuppressed.map(_.getMessage).toSeq == Seq("second store"))
  }
}
