package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{kllQuantile, kllSketch}
import graft.model.Tables

/** Generalized relational surface (SURVEY.md §2.B): join types, aggregation
  * families, window functions, sort/top-k, set operations, and the scalar
  * function families. All are Spark built-ins so Catalyst's rewrites
  * (pushdown, pruning, join selection, partial aggregation, top-k) apply;
  * determinism rules follow §5.2 (exact integer cents, unique
  * window-order tiebreaks). `ORDER BY` only where order feeds a result
  * (`LIMIT`, rank, first/last, an ordered write): results are compared
  * order-free on both sides, so a trailing sort with no consumer is
  * pure cost.
  */
/** Row type for the typed-Dataset aggregation query (top-level so the
  * product encoder's TypeTag resolves).
  */
case class OrderSlim(o_custkey: Long, price_cents: Long)

object Relational {
  private type Q = (SparkSession, String) => DataFrame

  /** Exact integer cents from a 2-decimal double price (portable money). */
  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100.0).cast("long")

  // ---- joins -------------------------------------------------------------

  private val qJoinInner: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    o.join(c, o("o_custkey") === c("c_custkey"), "inner")
      .select(col("o_orderkey"), col("c_name"), col("c_mktsegment"))
  }

  private val qJoinLeft: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .select(col("c_custkey"), col("o_orderkey"))
      .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
  }

  private val qJoinSemi: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_totalprice") > 100000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  private val qJoinAnti: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_totalprice") > 100000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Pure inequality (theta) join — broadcast nested-loop on the small
    * sides; at scale one side must stay dimension-sized or be banded.
    */
  private val qJoinTheta: Q = (s, d) => {
    val sup = Tables.supplier(s, d)
    val nat = Tables.nation(s, d)
    sup.join(broadcast(nat), sup("s_nationkey") < nat("n_nationkey"), "inner")
      .groupBy(col("s_suppkey"))
      .agg(count(lit(1)).as("n_higher_nations"))
      .orderBy(col("s_suppkey"))
  }

  /** Equi key + range residual: lineitems shipped within 90 days of their
    * order date. The equi key carries the shuffle; the range predicate is
    * evaluated as a post-join filter — no cartesian anywhere.
    */
  private val qJoinRange: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey") &&
        li("l_shipdate") >= o("o_orderdate") &&
        li("l_shipdate") < o("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .select(col("l_orderkey"), col("l_linenumber"), col("o_orderdate"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** Interval-overlap join with NO equi key — the case `q_join_range`'s
    * equi-key-plus-residual shape cannot express. Maintenance windows
    * (synthesized per nation: start 1996-01-01 + 100·key days, length
    * 2–8 days) against order activity windows ([orderdate, +3d)):
    * [[graft.ops.IntervalJoin.overlapJoin]] restores an equi key by
    * exploding intervals onto a 7-day grid and keeps each pair exactly
    * once via the first-overlap-cell predicate — a binned equi join,
    * never a cartesian product, no dedup exchange. The oracle is the
    * O(n·m) theta join (fine in DuckDB at oracle scale).
    */
  private val qJoinInterval: Q = (s, d) => {
    // 9497 = days from 1970-01-01 to 1996-01-01, shared with the oracle
    val win = Tables.nation(s, d).select(col("n_nationkey"),
      (lit(9497L) + col("n_nationkey") * 100L).as("w_start"),
      (lit(9497L) + col("n_nationkey") * 100L + col("n_nationkey") % 7L + 2L)
        .as("w_end"))
    val act = Tables.orders(s, d).select(col("o_orderkey"),
      unix_date(to_date(col("o_orderdate"))).cast("long").as("o_start"))
      .withColumn("o_end", col("o_start") + 3L)
    graft.ops.IntervalJoin.overlapJoin(
        win, "w_start", "w_end", act, "o_start", "o_end", cellWidth = 7L)
      .select(col("n_nationkey"), col("o_orderkey"), col("o_start"))
      .orderBy(col("n_nationkey"), col("o_orderkey"))
  }

  /** As-of join: for each purchase event, the most recent view timestamp of
    * the same user at-or-before it. Implemented as ONE window pass over the
    * unioned stream (single shuffle on user_id) instead of an inequality
    * self-join — the classic 100 TB-safe as-of shape.
    */
  private val qJoinAsof: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("view", "purchase"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("last_view_ts",
        last(when(col("event_type") === "view", col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("last_view_ts"))
  }

  /** As-of join through the NATIVE Catalyst operator
    * ([[graft.plans.AsOfJoin]] → AsOfJoinStrategy → AsOfJoinExec): the
    * two-TABLE form of `q_join_asof`'s single-stream union+window —
    * purchases enriched with the latest view at-or-before each, via a
    * co-partitioned two-pointer merge (one exchange per side, O(1)
    * merge state, no padded union, no window buffers). Semantics
    * differ from `q_join_asof` only in the equal-timestamp tie (this
    * operator takes ANY right row with ts ≤ left ts — the standard
    * two-table as-of contract, with no right event_id in scope); the
    * oracle states exactly that contract.
    */
  private val qJoinAsofNative: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("ts").as("last_view_ts"))
    graft.ops.AsOf.joinAsOf(purchases, views, Seq("user_id"),
        "ts", "ts", Seq("last_view_ts"))
      .select(col("event_id"), col("user_id"), col("last_view_ts"))
      .orderBy(col("event_id"))
  }

  /** As-of with the round-8 DETERMINISTIC TIEBREAK: purchases enriched
    * with the latest view's event_id — among views sharing the same
    * (user, ts) the max event_id wins, via the operator's tiebreak
    * ordering (the right child sorts by (key, time, tiebreak) and the
    * last-consumed row is the match). The oracle states the identical
    * contract with a (ts DESC, event_id DESC) row_number, so a
    * nondeterministic winner hash-mismatches whenever the corpus holds
    * equal-timestamp views.
    */
  private val qJoinAsofTiebreak: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id").as("tb"),
        col("event_id").as("last_view_id"))
    graft.ops.AsOf.joinAsOf(purchases, views, Seq("user_id"),
        "ts", "ts", Seq("last_view_id"), tiebreakCols = Seq("tb"))
      .select(col("event_id"), col("user_id"), col("last_view_id"))
      .orderBy(col("event_id"))
  }

  /** The SALTED as-of (hot-key mitigation, round 8): identical
    * semantics to `q_join_asof_native` — the oracle IS that key's SQL —
    * but executed through [[graft.ops.AsOf.joinAsOfSalted]]: the left
    * side salts deterministically on event_id into 8 sub-keys, the
    * right side replicates per salt, and the driver's hash compare
    * proves the salted plan exact, not just spec-equal. The contract
    * mitigation for the one AQE gap the exec documents (skew-join
    * splitting only recognizes built-in join execs).
    */
  private val qJoinAsofSalted: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("ts").as("last_view_ts"))
    graft.ops.AsOf.joinAsOfSalted(purchases, views, Seq("user_id"),
        "ts", "ts", Seq("last_view_ts"),
        saltSource = col("event_id"), salts = 8)
      .select(col("event_id"), col("user_id"), col("last_view_ts"))
      .orderBy(col("event_id"))
  }

  /** FORWARD as-of through the same native operator: the EARLIEST view
    * at-or-after each purchase ("next touchpoint"), obtained by running
    * the backward merge over NEGATED epoch micros — latest(−t ≤ −t₀) ≡
    * earliest(t ≥ t₀), so one physical operator serves both directions
    * (the reuse a direction flag would otherwise buy, for free).
    */
  private val qJoinAsofFwd: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        (-unix_micros(col("ts"))).as("nt"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), (-unix_micros(col("ts"))).as("nt"),
        col("ts").as("next_view_ts"))
    graft.ops.AsOf.joinAsOf(purchases, views, Seq("user_id"),
        "nt", "nt", Seq("next_view_ts"))
      .select(col("event_id"), col("user_id"), col("next_view_ts"))
      .orderBy(col("event_id"))
  }

  /** Nearest-event join: for each purchase, the temporally NEAREST view
    * of the same user — before OR after (sensor-alignment semantics,
    * where plain as-of only looks one way). Composed from the backward
    * and forward as-of passes over ONE user-partitioned sort (two
    * windows, same shuffle, Spark reuses the sort), tie → the earlier
    * view. The naive form is an all-pairs |Δts| argmin per user; this
    * stays O(n log n) per partition at any scale.
    */
  private val qJoinNearest: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("view", "purchase"))
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wb = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ev.withColumn("prev_view_ts",
        last(when(col("event_type") === "view", col("ts")),
          ignoreNulls = true).over(wb))
      .withColumn("next_view_ts",
        first(when(col("event_type") === "view", col("ts")),
          ignoreNulls = true).over(wf))
      .filter(col("event_type") === "purchase")
      .withColumn("nearest_view_ts",
        when(col("prev_view_ts").isNull, col("next_view_ts"))
          .when(col("next_view_ts").isNull, col("prev_view_ts"))
          .when(unix_micros(col("ts")) - unix_micros(col("prev_view_ts")) <=
            unix_micros(col("next_view_ts")) - unix_micros(col("ts")),
            col("prev_view_ts"))
          .otherwise(col("next_view_ts")))
      .select(col("event_id"), col("user_id"), col("nearest_view_ts"),
        abs(unix_micros(col("nearest_view_ts")) - unix_micros(col("ts")))
          .as("gap_us"))
      .orderBy(col("event_id"))
  }

  /** Full outer join: unmatched rows of BOTH sides survive with nulls. One
    * side is a grouped aggregate, so neither input subsumes the other.
    */
  private val qJoinFull: Q = (s, d) => {
    val c = Tables.customer(s, d)
      .filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"), col("c_name"))
    val o = Tables.orders(s, d)
      .filter(col("o_totalprice") > 450000.0)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_big"))
    c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
      .select(coalesce(c("c_custkey"), o("o_custkey")).as("custkey"),
        col("c_name"), col("n_big"))
      .orderBy(col("custkey"))
  }

  private val qJoinRight: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    o.join(c, o("o_custkey") === c("c_custkey"), "right")
      .select(col("c_custkey"), col("o_orderkey"))
      .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
  }

  // ---- aggregation families ---------------------------------------------

  /** TPC-H Q1 shape: multi-aggregate per group, map-side partial agg. */
  private val qGroupbyAgg: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        avg(col("l_quantity")).as("avg_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
        min(col("l_quantity").cast("long")).as("min_qty"),
        max(col("l_quantity").cast("long")).as("max_qty"),
        count(lit(1)).as("n"))

  private val qCountDistinct: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"))

  /** HLL sketch — approximate by design, so no SQL oracle (rows-only). */
  private val qApproxDistinct: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"))
      .orderBy(col("l_returnflag"))

  /** Re-aggregatable distinct counting — the 100 TB materialized-view
    * pattern: land ONE DataSketches HLL sketch per (day) partition, then
    * answer any coarser rollup (weeks here) by merging sketches —
    * `hll_union_agg` — without ever rescanning the raw events. This is
    * what makes incremental distinct-count views possible at scale:
    * count_distinct does not re-aggregate, sketches do. Approximate by
    * design → rows-only check; BatchOpsSpec bounds the estimates against
    * exact per-week cardinalities (±5%) and pins the sketch-merge
    * associativity (daily→weekly equals direct-weekly sketching).
    */
  private val qHllMerge: Q = (s, d) => {
    val ev = Tables.events(s, d).select(
      expr("datediff(to_date(ts), DATE '2024-01-01')").as("day"),
      col("user_id"))
    val daily = ev.groupBy("day")
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
    daily.withColumn("week", expr("day DIV 7"))
      .groupBy("week")
      .agg(expr("CAST(hll_sketch_estimate(hll_union_agg(sk, false)) AS BIGINT)")
          .as("approx_users"),
        count(lit(1)).as("n_days"))
      .orderBy("week")
  }

  /** Theta-sketch churn analytics — set OPERATIONS on sketches, the
    * capability HLL lacks: per-week distinct-user sketches combine via
    * `theta_intersection` (complements derived arithmetically from the
    * exact per-week counts) into retained/churned/new counts with no
    * rescan of raw events. DataSketches theta sketches
    * are EXACT below their nominal-entries threshold (4096 > the 1500
    * users at sf0.1), so this key is fully oracled against exact
    * relational algebra; past that scale the same plan degrades
    * gracefully to ±1.6% estimates — the documented trade.
    */
  private val qThetaRetention: Q = (s, d) => {
    // materialized once (a handful of rows): both join sides reference
    // it, and without the checkpoint each execution would re-scan
    // events and re-sketch twice
    val wk = Tables.events(s, d)
      .select(col("user_id"),
        expr("CAST(datediff(to_date(ts), DATE '2024-01-01') DIV 7 AS BIGINT)")
          .as("week"))
      .groupBy("week")
      .agg(expr("theta_sketch_agg(user_id)").as("sk"),
        countDistinct("user_id").as("n"))
      .localCheckpoint(true)
    val a = wk.select(col("week").as("week_a"), col("sk").as("sk_a"), col("n").as("n_a"))
    val b = wk.select((col("week") - 1L).as("week_a"), col("sk").as("sk_b"), col("n").as("n_b"))
    a.join(b, "week_a")
      // structural compute-once for the intersection estimate (not just
      // relying on CSE), same discipline as q_variant's parse-once
      .withColumn("retained",
        expr("CAST(round(theta_sketch_estimate(theta_intersection(sk_a, sk_b))) AS BIGINT)"))
      .select(col("week_a"), col("retained"),
        (col("n_a") - col("retained")).as("churned"),
        (col("n_b") - col("retained")).as("new_users"))
      .orderBy("week_a")
  }

  /** Mergeable quantile sketches (native KLL TypedImperativeAggregate,
    * [[graft.functions.KllSketchAgg]]): per-nation account-balance
    * quartiles from ONE sketch aggregate — the re-aggregatable
    * percentile materialized view (what q_hll_merge is to distinct
    * counts, this is to quantiles; built-in `percentile` results
    * cannot merge, sketches can). EXACT while group sizes stay under
    * the sketch's k — sized 2048 here because the corpus's most
    * populous nation holds 642 customers at sf0.1 (13/74/642 at the
    * three SFs; a k below the max group silently flips that group to
    * estimates and breaks the oracle gate) — so the key is fully
    * oracled against explicit order-statistic SQL: the INCLUSIVE
    * quantile of an exact-regime sketch of n items is the value at
    * 1-based sorted position ceil(q·n), mirrored token-for-token by
    * the oracle; past k the same plan degrades to graceful rank-error
    * estimates. Re-aggregation (band sketches → kll_merge_agg →
    * nation) is BatchOpsSpec-pinned equal to direct sketching.
    */
  private val qKllQuantiles: Q = (s, d) => {
    Tables.customer(s, d)
      .select(col("c_nationkey"),
        expr("CAST(round(c_acctbal * 100.0) AS BIGINT)").as("cents"))
      .groupBy("c_nationkey")
      .agg(kllSketch(col("cents"), 2048).as("sk"),
        count(lit(1)).as("n_rows"))
      .select(col("c_nationkey"),
        kllQuantile(col("sk"), 0.25).as("p25_cents"),
        kllQuantile(col("sk"), 0.5).as("p50_cents"),
        kllQuantile(col("sk"), 0.75).as("p75_cents"),
        col("n_rows"))
      .orderBy("c_nationkey")
  }

  /** Frequency sketch top-k: `approx_top_k` is exact while tracked
    * capacity exceeds the column's cardinality (64 ≫ 5 event types), so
    * the key is oracled against exact group counts; on a high-cardinality
    * column the same plan returns the heavy-hitter estimate — the
    * mergeable Misra-Gries/sketch shape for streaming leaderboards.
    */
  private val qApproxTopk: Q = (s, d) =>
    Tables.events(s, d)
      .agg(expr("approx_top_k(event_type, 5, 64)").as("t"))
      .select(expr("inline(t)"))
      .orderBy(col("count").desc, col("item").asc)

  private val qRollup: Q = (s, d) =>
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))

  private val qCube: Q = (s, d) =>
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  private val qGroupingSets: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Statistical moments with a deterministic cross-engine contract: the
    * per-group sums are EXACT BIGINT accumulations (order-independent),
    * and stddev/correlation are derived from them in one fixed double
    * expression — identical op sequence in the oracle, so the float bits
    * match. Never aggregate doubles directly when hash-comparing engines:
    * double `sum()` is accumulation-order-dependent.
    */
  private val qStatsMoments: Q = (s, d) => {
    val agg = Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        floor(col("l_quantity")).cast("long").as("x"),
        floor(col("l_extendedprice")).cast("long").as("y"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sum_x"), sum(col("x") * col("x")).as("sum_xx"),
        sum(col("y")).as("sum_y"), sum(col("y") * col("y")).as("sum_yy"),
        sum(col("x") * col("y")).as("sum_xy"))
    // cast-to-double BEFORE combining: long*long would overflow (Spark
    // wraps silently, DuckDB errors) — and both engines must run the same
    // IEEE op sequence for bit-identical results.
    def dbl(c: String) = col(c).cast("double")
    val nd = dbl("n")
    val varX = (nd * dbl("sum_xx") - dbl("sum_x") * dbl("sum_x")) / (nd * nd)
    val corr = (nd * dbl("sum_xy") - dbl("sum_x") * dbl("sum_y")) /
      (sqrt(nd * dbl("sum_xx") - dbl("sum_x") * dbl("sum_x")) *
        sqrt(nd * dbl("sum_yy") - dbl("sum_y") * dbl("sum_y")))
    agg.select(col("l_returnflag"), col("n"), col("sum_x"), col("sum_xx"),
        col("sum_y"), col("sum_yy"), col("sum_xy"),
        sqrt(varX).as("std_x"), corr.as("corr_xy"))
      .orderBy(col("l_returnflag"))
  }

  /** Higher central moments: per-group skewness and excess kurtosis from
    * exact BIGINT power sums Σx..Σx⁴ — the distribution-shape readout
    * `q_stats_moments` stops short of. Quantity ∈ [1,50] keeps Σx⁴
    * BIGINT-safe to ~1.5·10¹⁵ rows/group; the central-moment expansion
    * and the two ratios are ONE fixed float sequence mirrored
    * token-for-token (the q_welch_ttest discipline), zero-variance
    * groups guarded out on both engines.
    */
  private val qSkewKurt: Q = (s, d) => {
    val agg = Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        floor(col("l_quantity")).cast("long").as("x"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("x") * col("x")).as("sxxx"),
        sum(col("x") * col("x") * col("x") * col("x")).as("sxxxx"))
    def dbl(c: String) = col(c).cast("double")
    val nd = dbl("n")
    val m = dbl("sx") / nd
    val m2 = dbl("sxx") / nd - m * m
    val m3 = dbl("sxxx") / nd - lit(3.0) * m * (dbl("sxx") / nd) +
      lit(2.0) * m * m * m
    val m4 = dbl("sxxxx") / nd - lit(4.0) * m * (dbl("sxxx") / nd) +
      lit(6.0) * m * m * (dbl("sxx") / nd) - lit(3.0) * m * m * m * m
    agg.filter(nd * dbl("sxx") - dbl("sx") * dbl("sx") > lit(0.0))
      .select(col("l_returnflag"), col("n"), col("sx"), col("sxx"),
        floor(lit(1000000.0) * (m3 / (m2 * sqrt(m2)))).cast("long")
          .as("skew_e6"),
        floor(lit(1000000.0) * (m4 / (m2 * m2) - lit(3.0))).cast("long")
          .as("kurt_e6"))
      .orderBy(col("l_returnflag"))
  }

  /** Per-brand geometric mean of extended price — the multiplicative
    * average that tolerates right-skewed prices where the arithmetic
    * mean chases outliers. Each row's ln is floored to integer e6
    * BEFORE the sum, so the cross-row total is order-independent (the
    * q_mutual_info per-term discipline); one exp at the end.
    */
  private val qGeomean: Q = (s, d) => {
    val base = Tables.part(s, d)
      .select(col("p_brand"),
        round(col("p_retailprice") * 100.0).cast("long").as("cents"))
      .withColumn("lp_e6",
        floor(lit(1000000.0) *
          log(col("cents").cast("double") / lit(100.0))).cast("long"))
    base.groupBy("p_brand")
      .agg(count(lit(1)).as("n"), sum("lp_e6").as("slp"))
      .select(col("p_brand"), col("n"),
        floor(lit(100.0) * exp(col("slp").cast("double") / lit(1000000.0) /
          col("n").cast("double"))).cast("long").as("geomean_cents"))
      .orderBy("p_brand")
  }

  /** Conditional / boolean / argmax aggregates: count_if, bool_and/bool_or,
    * max_by keyed on a UNIQUE ordering column (ties in the max_by ordering
    * value are nondeterministic — never argmax over a non-unique column
    * when results must be reproducible).
    */
  private val qCondAgg: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        count_if(col("o_totalprice") > 100000.0).as("n_big"),
        bool_or(col("o_orderstatus") === "O").as("any_open"),
        bool_and(col("o_totalprice") < 500000.0).as("all_under_500k"),
        max_by(col("o_orderdate"), col("o_orderkey")).as("latest_key_date"))
      .orderBy(col("o_orderpriority"))

  /** Bitwise aggregates (bit_and/bit_or/bit_xor) — order-independent by
    * algebra, so they are safely deterministic under any shuffle order.
    */
  private val qBitwiseAgg: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(bit_and(col("l_suppkey")).as("and_supp"),
        bit_or(col("l_suppkey")).as("or_supp"),
        bit_xor(col("l_suppkey")).as("xor_supp"))
      .orderBy(col("l_returnflag"))

  /** Typed Dataset API: case-class rows, groupByKey + TypedColumn
    * aggregates — compile-time row types, same shuffle/partial-agg plan
    * as the untyped groupBy (no RDD fallback).
    */
  private val qTypedAgg: Q = (s, d) => {
    import s.implicits._
    val ds = Tables.orders(s, d)
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100.0).cast("long").as("price_cents"))
      .as[OrderSlim]
    ds.groupByKey(_.o_custkey)
      .agg(sum($"price_cents").as[Long], count(lit(1)).as[Long])
      .toDF("o_custkey", "sum_cents", "n_orders")
      .orderBy(col("o_custkey"))
  }

  // ---- window functions --------------------------------------------------

  private val qWindowRank: Q = (s, d) => {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc)
    Tables.orders(s, d)
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .filter(col("rnk") <= 10)
      .select(col("o_orderpriority"), col("rnk"), col("drnk"), col("o_orderkey"))
  }

  private val qWindowLag: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("prev_cents", lag(cents(col("value")), 1).over(w))
      .withColumn("delta_cents", cents(col("value")) - col("prev_cents"))
      .select(col("event_id"), col("user_id"), col("delta_cents"))
      .orderBy(col("event_id"))
  }

  /** Running total per user over event time — integer cents keep the
    * cumulative sum exact (windowed double sums are engine-dependent).
    */
  private val qWindowRunning: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("running_cents", sum(cents(col("value"))).over(w))
      .select(col("event_id"), col("user_id"), col("running_cents"))
  }

  /** ntile / lead / first_value / last_value with explicit frames. */
  private val qWindowMisc: Q = (s, d) => {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wFull = wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, d)
      .withColumn("quartile", ntile(4).over(wOrd))
      .withColumn("next_type", lead(col("event_type"), 1).over(wOrd))
      .withColumn("first_event", first(col("event_id")).over(wFull))
      .withColumn("last_event", last(col("event_id")).over(wFull))
      .select(col("event_id"), col("quartile"), col("next_type"),
        col("first_event"), col("last_event"))
      .orderBy(col("event_id"))
  }

  /** Distribution window functions with EXACT integer arithmetic:
    * percent_rank and cume_dist re-derived as ppm ratios from their
    * defining counts — 10⁶·(rank−1) DIV (n−1) and 10⁶·(#peers ≤ x)
    * DIV n — instead of the float built-ins, whose division the two
    * engines need not round identically. The ≤-count comes from a
    * tie-aware RANGE-frame count (peers included), so no tiebreak
    * column is needed; all windows are partitioned by event_type.
    */
  private val qWindowDist: Q = (s, d) => {
    val base = Tables.events(s, d).select(col("event_id"), col("event_type"),
      expr("CAST(round(value * 100.0) AS BIGINT)").as("cents"))
    val wOrd = Window.partitionBy("event_type").orderBy("cents")
    val wAll = Window.partitionBy("event_type")
    base
      .withColumn("rk", rank().over(wOrd))
      .withColumn("le", count(lit(1)).over(
        wOrd.rangeBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter(col("n") > 1L)
      .select(col("event_id"), col("event_type"), col("cents"),
        expr("1000000 * (CAST(rk AS BIGINT) - 1) DIV (n - 1)").as("pr_ppm"),
        expr("1000000 * le DIV n").as("cd_ppm"))
      .orderBy("event_id")
  }

  /** RANGE frame: trailing 1-hour sum per user over event seconds. Rows
    * with equal epoch seconds are frame peers (all included together), so
    * the result is deterministic without a tiebreak column — the frame is
    * defined by VALUE distance, not row position.
    */
  private val qWindowRange: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("epoch_s"))
      .rangeBetween(-3600L, 0L)
    Tables.events(s, d)
      .withColumn("epoch_s", unix_timestamp(col("ts")))
      .withColumn("trail_cents", sum(cents(col("value"))).over(w))
      .select(col("event_id"), col("user_id"), col("trail_cents"))
      .orderBy(col("event_id"))
  }

  /** Unpivot/melt: wide metric columns → long (key, metric, value) rows.
    * Pure map-side generator — no shuffle, survives any scale.
    */
  /** Gap-fill navigation: forward-fill the last non-null purchase amount
    * (the classic sparse-to-dense sensor/event pattern) plus full-frame
    * nth_value with IGNORE NULLS — both stay single-window-pass,
    * single-shuffle-on-user_id.
    */
  private val qWindowFill: Q = (s, d) => {
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, d)
      .withColumn("purchase_cents",
        when(col("event_type") === "purchase",
          round(col("value") * 100.0).cast("long")))
      .select(col("event_id"), col("user_id"),
        last(col("purchase_cents"), ignoreNulls = true).over(run)
          .as("last_purchase_cents"),
        nth_value(col("purchase_cents"), 2, ignoreNulls = true).over(full)
          .as("second_purchase_cents"))
      .orderBy(col("event_id"))
  }

  private val qUnpivot: Q = (s, d) =>
    Tables.part(s, d)
      .select(col("p_partkey"),
        col("p_size").cast("double").as("size"),
        col("p_retailprice").as("retail"))
      .unpivot(Array(col("p_partkey")), Array(col("size"), col("retail")),
        "metric", "val")
      .orderBy(col("p_partkey"), col("metric"))

  // ---- sort / top-k ------------------------------------------------------

  private val qOrderby: Q = (s, d) =>
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .orderBy(col("c_mktsegment").asc, col("c_acctbal").desc, col("c_custkey").asc)

  /** ORDER BY + LIMIT k → TakeOrderedAndProject (per-partition heaps, no
    * full sort, no single-node shuffle of the whole table).
    */
  private val qTopk: Q = (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)

  // ---- set operations ----------------------------------------------------

  private val qUnion: Q = (s, d) => {
    val c = Tables.customer(s, d)
    c.filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_custkey"))
      .union(c.filter(col("c_acctbal") > 5000.0).select(col("c_custkey")))
      .distinct()
  }

  private val qIntersect: Q = (s, d) => {
    val c = Tables.customer(s, d)
    c.filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_custkey"))
      .intersect(c.filter(col("c_acctbal") > 5000.0).select(col("c_custkey")))
      .orderBy(col("c_custkey"))
  }

  private val qExcept: Q = (s, d) => {
    val c = Tables.customer(s, d)
    c.filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_custkey"))
      .except(c.filter(col("c_acctbal") > 5000.0).select(col("c_custkey")))
      .orderBy(col("c_custkey"))
  }

  /** Bag semantics: INTERSECT ALL keeps min(multiplicity) per value,
    * EXCEPT ALL subtracts multiplicities — both shuffle-by-value with
    * partial counting, never materializing the bags.
    */
  private val qIntersectAll: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    li.filter(col("l_quantity") > 25.0).select(col("l_partkey"))
      .intersectAll(li.filter(col("l_discount") > 0.05).select(col("l_partkey")))
      .orderBy(col("l_partkey"))
  }

  private val qExceptAll: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    li.filter(col("l_quantity") > 25.0).select(col("l_partkey"))
      .exceptAll(li.filter(col("l_discount") > 0.05).select(col("l_partkey")))
      .orderBy(col("l_partkey"))
  }

  /** Null-safe equality join (`<=>` ≡ IS NOT DISTINCT FROM): null keys
    * match each other instead of vanishing — the semantic for joining on
    * optional attributes. Null-heavy keys group into ONE hash bucket, so
    * at scale keep the null-keyed population dimension-sized (or route
    * nulls around the join).
    */
  private val qJoinNullsafe: Q = (s, d) => {
    val o = Tables.orders(s, d)
      .withColumn("pr", nullif(col("o_orderpriority"), lit("3-MEDIUM")))
    val dim = s.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row("1-URGENT", "hot"),
        org.apache.spark.sql.Row("2-HIGH", "warm"),
        org.apache.spark.sql.Row(null, "default")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("pr",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("tier",
          org.apache.spark.sql.types.StringType))))
    o.join(broadcast(dim), o("pr") <=> dim("pr"), "inner")
      .select(col("o_orderkey"), col("tier"))
      .orderBy(col("o_orderkey"))
  }

  /** Error-safe arithmetic: try_divide/try_add return NULL instead of
    * failing or wrapping — the ANSI-mode-safe form for dirty data.
    */
  private val qTryArith: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        try_divide(round(col("l_extendedprice") * 100.0).cast("long"),
          (col("l_quantity").cast("long") % 7L)).as("per_mod"),
        try_add(lit(Long.MaxValue), col("l_orderkey")).as("overflowed"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  // ---- scalar function families -----------------------------------------

  private val qStringFuncs: Q = (s, d) =>
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_upper"),
        substring(col("p_name"), 1, 5).as("name_prefix"),
        length(col("p_name")).as("name_len"),
        col("p_name").like("%ol%").as("has_ol"),
        regexp_replace(col("p_type"), " ", "_").as("type_snake"),
        lower(col("p_type")).as("type_lower"))
      .orderBy(col("p_partkey"))

  private val qMathFuncs: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_discount") - 0.05).as("disc_dev"),
        floor(col("l_extendedprice")).cast("long").as("price_floor"),
        ceil(col("l_extendedprice")).cast("long").as("price_ceil"),
        sqrt(col("l_quantity")).as("qty_sqrt"),
        (col("l_quantity").cast("long") % 7L).as("qty_mod"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  private val qDatetimeFuncs: Q = (s, d) =>
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("days_since_epoch0"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("due_ts"))
      .orderBy(col("o_orderkey"))

  private val qArrayFuncs: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        element_at(col("toks"), 2).as("second_token"),
        array_contains(col("toks"), "spark").as("has_spark"),
        element_at(array_sort(col("toks")), 1).as("min_token"),
        size(array_distinct(col("toks"))).as("n_distinct_tokens"))
      .orderBy(col("doc_id"))

  /** Higher-order (lambda) functions over array columns — transform,
    * filter, aggregate, exists, forall — the codegen'd per-row
    * functional surface the text/similarity ops lean on, here as its
    * own coverage key with every output reduced to a SCALAR (the
    * oracle harness cannot sort array cells). The aggregate-fold
    * (0-seeded integer add) matches DuckDB's transform+list_sum
    * because integer addition is order-independent.
    */
  private val qLambdaFuncs: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .select(
        col("doc_id"),
        expr("aggregate(toks, 0L, (a, x) -> a + length(x))").as("sum_len"),
        expr("size(filter(toks, x -> length(x) >= 5))").as("n_long"),
        expr("exists(toks, x -> x = 'spark')").as("any_spark"),
        expr("forall(toks, x -> x <> 'zzz_never')").as("none_sentinel"),
        expr("size(transform(toks, x -> upper(x)))").as("n_upper"))
      .orderBy(col("doc_id"))

  /** Map construction + lookup: per-user event_type→count map, then keyed
    * extraction — exercises map_from_entries/element_at over an aggregate.
    */
  private val qMapFuncs: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("user_id"))
      .agg(map_from_entries(
        array_sort(collect_list(struct(col("event_type"), col("cnt"))))).as("m"))
      .select(
        col("user_id"),
        coalesce(element_at(col("m"), "click"), lit(0L)).as("n_click"),
        coalesce(element_at(col("m"), "error"), lit(0L)).as("n_error"))
      .orderBy(col("user_id"))

  /** Regex family: extract, match-test, count of matches. */
  private val qRegexFuncs: Q = (s, d) =>
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        regexp_extract(col("p_type"), "([A-Z]+)$", 1).as("last_word"),
        col("p_name").rlike("^[a-z]+ ").as("starts_lower_word"),
        size(expr("regexp_extract_all(p_name, '[aeiou]+', 0)")).as("vowel_runs"))
      .orderBy(col("p_partkey"))

  private val qJsonFuncs: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))

  /** Scalar semi-structured PARSING surface beside `q_json_funcs`'s
    * JSON path: `from_csv` and `from_xml` (Spark 4 scalar XML) each
    * parse a string column rendered deterministically from the fact
    * columns, and the query consumes ONLY parsed fields — grouped by
    * the XML-parsed type, filtered on CSV/XML cross-agreement, summing
    * both parsers' uid. The oracle recomputes from the RAW columns
    * (the construction-rule discipline), so any quoting/typing/field-
    * order slip in either parser breaks the group, the filter, or the
    * sum and hash-mismatches. At scale these parsers run codegen'd per
    * row with no shuffle — the landing-zone shape for CSV/XML-encoded
    * payload columns inside an otherwise-columnar table.
    */
  private val qParseFuncs: Q = (s, d) =>
    // fanOut (r16): the per-row from_csv + from_xml work is the
    // expensive stage and the narrow events scan yields ~1 split at
    // bench scale, serializing it on one core (profiled 3 jobs / 3
    // tasks, 1.1 s in one task); the guarded round-robin exchange of
    // the three projected columns spreads the parse across the session
    // parallelism and is a no-op on production-wide inputs
    graft.ops.Par.fanOut(Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type")))
      // render-safety guard, mirrored in the oracle: the CSV/XML
      // renders below do no escaping, so a type containing a comma or
      // an XML special would make the parsers disagree and SILENTLY
      // drop the row via the cross-agreement filter. Restricting to
      // identifier-shaped types keeps render→parse the exact identity
      // the oracle assumes, independent of future corpus changes.
      .filter(col("event_type").rlike("^[A-Za-z_]+$"))
      .withColumn("csv_line", concat_ws(",",
        col("event_id"), col("user_id"), col("event_type")))
      .withColumn("xml_doc", concat(lit("<e><u>"), col("user_id"),
        lit("</u><t>"), col("event_type"), lit("</t></e>")))
      .withColumn("c",
        expr("from_csv(csv_line, 'id BIGINT, uid BIGINT, typ STRING')"))
      .withColumn("x", expr("from_xml(xml_doc, 'u BIGINT, t STRING')"))
      .filter(col("c.typ") === col("x.t") && col("c.uid") === col("x.u"))
      .groupBy(col("x.t").as("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("c.uid") + col("x.u")).as("sum_uid2"))
      .orderBy(col("event_type"))

  /** Full star-schema join: the fact table against FIVE dimensions in
    * one plan — the one fact-fact shuffle (lineitem⋈orders) plus
    * customer/nation/region/part/supplier all as broadcast hash joins,
    * so the star costs exactly one exchange regardless of how many
    * dimensions pile on (the plan guard pins ≥4 BroadcastHashJoins and
    * no extra shuffle joins — the property that decides whether a
    * 100 TB star scan finishes). Revenue rolled up to (region, brand).
    */
  private val qStarJoin: Q = (s, d) => {
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(Tables.part(s, d)),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("r_name"), col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        sum(cents(col("l_extendedprice"))).as("revenue_cents"))
      .orderBy("r_name", "p_brand")
  }

  /** By-name union across drifted schemas: two extracts with different
    * column orders, one missing a column — `unionByName(allowMissing
    * Columns = true)` aligns on NAMES and nulls the absent column (the
    * position-based `q_union` would silently cross-wire them), exactly
    * the multi-vintage landing-zone merge `q_schema_evolution` does at
    * the file level, here as the DataFrame set op. Map-side only.
    */
  private val qUnionByName: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val open = o.filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey"), col("o_orderpriority").as("priority"),
        cents(col("o_totalprice")).as("price_cents"), lit("open").as("src"))
    val done = o.filter(col("o_orderstatus") === "F")
      .select(cents(col("o_totalprice")).as("price_cents"),
        col("o_orderkey"), lit("finished").as("src"))
    open.unionByName(done, allowMissingColumns = true)
      .orderBy("o_orderkey", "src")
  }

  /** Partition-skew report over the natural time-partitioning key (ship
    * month): per-partition row count, corpus share, and load relative
    * to the uniform expectation in e3 (1000 = perfectly balanced) — the
    * table a warehouse operator reads before picking partition columns
    * or sizing AQE skew thresholds (a month at load_e3 ≫ 1000 is the
    * straggler task at 100 TB). Month index is pure integer year·12+
    * month arithmetic (immune to date-diff convention splits). One
    * partial-agg shuffle into ~84 month groups + a scalar broadcast.
    */
  private val qPartitionSkew: Q = (s, d) => {
    val m = Tables.lineitem(s, d)
      .select((year(col("l_shipdate")) * 12 + month(col("l_shipdate")) - 1)
        .cast("long").as("month_idx"))
      .groupBy("month_idx").agg(count(lit(1)).as("n_rows"))
    val tot = m.agg(count(lit(1)).as("n_parts"), sum("n_rows").as("total_rows"))
    m.crossJoin(broadcast(tot))
      .select(col("month_idx"), col("n_rows"),
        expr("1000000 * n_rows DIV total_rows").as("share_ppm"),
        expr("1000 * n_rows * n_parts DIV total_rows").as("load_e3"))
      .orderBy("month_idx")
  }

  val registry: Map[String, Q] = Map(
    "q_partition_skew" -> qPartitionSkew,
    "q_union_by_name" -> qUnionByName,
    "q_star_join" -> qStarJoin,
    "q_join_inner" -> qJoinInner,
    "q_join_left" -> qJoinLeft,
    "q_join_semi" -> qJoinSemi,
    "q_join_anti" -> qJoinAnti,
    "q_join_theta" -> qJoinTheta,
    "q_join_range" -> qJoinRange,
    "q_join_interval" -> qJoinInterval,
    "q_join_asof" -> qJoinAsof,
    "q_join_asof_native" -> qJoinAsofNative,
    "q_join_asof_fwd" -> qJoinAsofFwd,
    "q_join_asof_tiebreak" -> qJoinAsofTiebreak,
    "q_join_asof_salted" -> qJoinAsofSalted,
    "q_join_nearest" -> qJoinNearest,
    "q_join_full" -> qJoinFull,
    "q_join_right" -> qJoinRight,
    "q_join_nullsafe" -> qJoinNullsafe,
    "q_try_arith" -> qTryArith,
    "q_groupby_agg" -> qGroupbyAgg,
    "q_stats_moments" -> qStatsMoments,
    "q_skew_kurt" -> qSkewKurt,
    "q_geomean" -> qGeomean,
    "q_cond_agg" -> qCondAgg,
    "q_typed_agg" -> qTypedAgg,
    "q_bitwise_agg" -> qBitwiseAgg,
    "q_count_distinct" -> qCountDistinct,
    "q_approx_distinct" -> qApproxDistinct,
    "q_hll_merge" -> qHllMerge,
    "q_theta_retention" -> qThetaRetention,
    "q_kll_quantiles" -> qKllQuantiles,
    "q_approx_topk" -> qApproxTopk,
    "q_rollup" -> qRollup,
    "q_cube" -> qCube,
    "q_grouping_sets" -> qGroupingSets,
    "q_window_rank" -> qWindowRank,
    "q_window_lag" -> qWindowLag,
    "q_window_running" -> qWindowRunning,
    "q_window_misc" -> qWindowMisc,
    "q_window_dist" -> qWindowDist,
    "q_window_range" -> qWindowRange,
    "q_window_fill" -> qWindowFill,
    "q_unpivot" -> qUnpivot,
    "q_orderby" -> qOrderby,
    "q_topk" -> qTopk,
    "q_union" -> qUnion,
    "q_intersect" -> qIntersect,
    "q_except" -> qExcept,
    "q_intersect_all" -> qIntersectAll,
    "q_except_all" -> qExceptAll,
    "q_string_funcs" -> qStringFuncs,
    "q_math_funcs" -> qMathFuncs,
    "q_datetime_funcs" -> qDatetimeFuncs,
    "q_array_funcs" -> qArrayFuncs,
    "q_lambda_funcs" -> qLambdaFuncs,
    "q_map_funcs" -> qMapFuncs,
    "q_json_funcs" -> qJsonFuncs,
    "q_parse_funcs" -> qParseFuncs,
    "q_regex_funcs" -> qRegexFuncs,
  )

  val oracle: Map[String, String] = Map(
    "q_partition_skew" ->
      """WITH m AS (SELECT
        |    CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS BIGINT)
        |      AS month_idx,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_parts,
        |    CAST(sum(n_rows) AS BIGINT) AS total_rows FROM m)
        |SELECT month_idx, n_rows,
        |  CAST(1000000 * n_rows // total_rows AS BIGINT) AS share_ppm,
        |  CAST(1000 * n_rows * n_parts // total_rows AS BIGINT) AS load_e3
        |FROM m CROSS JOIN t ORDER BY month_idx""".stripMargin,
    "q_union_by_name" ->
      """SELECT o_orderkey, o_orderpriority AS priority,
        |  CAST(round(o_totalprice * 100.0) AS BIGINT) AS price_cents,
        |  'open' AS src
        |FROM orders WHERE o_orderstatus = 'O'
        |UNION ALL BY NAME
        |SELECT CAST(round(o_totalprice * 100.0) AS BIGINT) AS price_cents,
        |  o_orderkey, 'finished' AS src
        |FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_orderkey, src""".stripMargin,
    "q_star_join" ->
      """SELECT r_name, p_brand, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT))
        |    AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1, 2 ORDER BY r_name, p_brand""".stripMargin,
    // Exact-regime KLL: the INCLUSIVE quantile of n ≤ k items is the
    // order statistic at 1-based position ceil(q·n) — computed here
    // explicitly so both engines evaluate the identical definition
    // (DuckDB's quantile_disc uses a different index formula).
    "q_kll_quantiles" ->
      """WITH c AS (SELECT c_nationkey,
        |    CAST(round(c_acctbal * 100.0) AS BIGINT) AS cents FROM customer),
        |r AS (SELECT c_nationkey, cents,
        |    row_number() OVER (PARTITION BY c_nationkey ORDER BY cents) AS rn,
        |    count(*) OVER (PARTITION BY c_nationkey) AS n
        |  FROM c)
        |SELECT c_nationkey,
        |  CAST(max(CASE WHEN rn = CAST(ceiling(0.25 * n) AS BIGINT)
        |    THEN cents END) AS BIGINT) AS p25_cents,
        |  CAST(max(CASE WHEN rn = CAST(ceiling(0.5 * n) AS BIGINT)
        |    THEN cents END) AS BIGINT) AS p50_cents,
        |  CAST(max(CASE WHEN rn = CAST(ceiling(0.75 * n) AS BIGINT)
        |    THEN cents END) AS BIGINT) AS p75_cents,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM r GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q_theta_retention" ->
      """WITH wk AS (SELECT DISTINCT user_id,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7
        |      AS BIGINT) AS week FROM events),
        |ret AS (SELECT x.week AS week_a, count(*) AS retained
        |        FROM wk x JOIN wk y ON x.user_id = y.user_id
        |          AND y.week = x.week + 1
        |        GROUP BY 1),
        |cnt AS (SELECT week, count(*) AS n FROM wk GROUP BY 1)
        |SELECT c.week AS week_a,
        |  CAST(coalesce(r.retained, 0) AS BIGINT) AS retained,
        |  CAST(c.n - coalesce(r.retained, 0) AS BIGINT) AS churned,
        |  CAST(c2.n - coalesce(r.retained, 0) AS BIGINT) AS new_users
        |FROM cnt c
        |JOIN cnt c2 ON c2.week = c.week + 1
        |LEFT JOIN ret r ON r.week_a = c.week
        |ORDER BY week_a""".stripMargin,
    "q_approx_topk" ->
      """SELECT event_type AS item, CAST(count(*) AS BIGINT) AS count
        |FROM events GROUP BY 1
        |ORDER BY count DESC, item""".stripMargin,
    "q_join_inner" ->
      """SELECT o_orderkey, c_name, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q_join_left" ->
      """SELECT c_custkey, o_orderkey
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_theta" ->
      """SELECT s_suppkey, count(*) AS n_higher_nations
        |FROM supplier JOIN nation ON s_nationkey < n_nationkey
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin,
    "q_join_range" ->
      """SELECT l_orderkey, l_linenumber, o_orderdate
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate >= o_orderdate
        |  AND l_shipdate < o_orderdate + INTERVAL 90 DAY
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_join_interval" ->
      """WITH w AS (SELECT n_nationkey,
        |        9497 + n_nationkey * 100 AS w_start,
        |        9497 + n_nationkey * 100 + n_nationkey % 7 + 2 AS w_end
        |      FROM nation),
        |a AS (SELECT o_orderkey,
        |        CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |          AS BIGINT) AS o_start
        |      FROM orders)
        |SELECT n_nationkey, o_orderkey, o_start
        |FROM w JOIN a ON w_start < o_start + 3 AND o_start < w_end
        |ORDER BY n_nationkey, o_orderkey""".stripMargin,
    "q_join_nearest" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts, event_id FROM events
        |  WHERE event_type = 'view'),
        |b AS (SELECT p.event_id, max(v.ts) AS prev_view_ts
        |  FROM p LEFT JOIN v ON v.user_id = p.user_id
        |    AND (v.ts < p.ts OR (v.ts = p.ts AND v.event_id <= p.event_id))
        |  GROUP BY 1),
        |f AS (SELECT p.event_id, min(v.ts) AS next_view_ts
        |  FROM p LEFT JOIN v ON v.user_id = p.user_id
        |    AND (v.ts > p.ts OR (v.ts = p.ts AND v.event_id >= p.event_id))
        |  GROUP BY 1),
        |n AS (SELECT p.event_id, p.user_id, p.ts, prev_view_ts, next_view_ts,
        |    CASE WHEN prev_view_ts IS NULL THEN next_view_ts
        |         WHEN next_view_ts IS NULL THEN prev_view_ts
        |         WHEN epoch_us(p.ts) - epoch_us(prev_view_ts) <=
        |              epoch_us(next_view_ts) - epoch_us(p.ts)
        |           THEN prev_view_ts
        |         ELSE next_view_ts END AS nearest_view_ts
        |  FROM p JOIN b USING (event_id) JOIN f USING (event_id))
        |SELECT event_id, user_id, nearest_view_ts,
        |  abs(epoch_us(nearest_view_ts) - epoch_us(ts)) AS gap_us
        |FROM n ORDER BY event_id""".stripMargin,
    "q_lambda_funcs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
        |    AS sum_len,
        |  CAST(len(list_filter(toks, x -> length(x) >= 5)) AS INT)
        |    AS n_long,
        |  len(list_filter(toks, x -> x = 'spark')) > 0 AS any_spark,
        |  len(list_filter(toks, x -> x = 'zzz_never')) = 0 AS none_sentinel,
        |  CAST(len(list_transform(toks, x -> upper(x))) AS INT) AS n_upper
        |FROM t ORDER BY doc_id""".stripMargin,
    "q_join_asof" ->
      """SELECT p.event_id, p.user_id, max(v.ts) AS last_view_ts
        |FROM events p LEFT JOIN events v
        |  ON v.user_id = p.user_id AND v.event_type = 'view'
        |  AND (v.ts < p.ts OR (v.ts = p.ts AND v.event_id <= p.event_id))
        |WHERE p.event_type = 'purchase'
        |GROUP BY p.event_id, p.user_id ORDER BY p.event_id""".stripMargin,
    "q_join_asof_fwd" ->
      """SELECT p.event_id, p.user_id, min(v.ts) AS next_view_ts
        |FROM events p LEFT JOIN events v
        |  ON v.user_id = p.user_id AND v.event_type = 'view'
        |  AND v.ts >= p.ts
        |WHERE p.event_type = 'purchase'
        |GROUP BY p.event_id, p.user_id ORDER BY p.event_id""".stripMargin,
    "q_join_asof_native" ->
      """SELECT p.event_id, p.user_id, max(v.ts) AS last_view_ts
        |FROM events p LEFT JOIN events v
        |  ON v.user_id = p.user_id AND v.event_type = 'view'
        |  AND v.ts <= p.ts
        |WHERE p.event_type = 'purchase'
        |GROUP BY p.event_id, p.user_id ORDER BY p.event_id""".stripMargin,
    "q_join_asof_tiebreak" ->
      """WITH pv AS (SELECT p.event_id, v.event_id AS vid,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY v.ts DESC, v.event_id DESC) AS rn
        |  FROM events p JOIN events v
        |    ON v.user_id = p.user_id AND v.event_type = 'view'
        |    AND v.ts <= p.ts
        |  WHERE p.event_type = 'purchase')
        |SELECT e.event_id, e.user_id, pv.vid AS last_view_id
        |FROM events e LEFT JOIN pv ON pv.event_id = e.event_id AND pv.rn = 1
        |WHERE e.event_type = 'purchase'
        |ORDER BY e.event_id""".stripMargin,
    // salted variant is EXACT: the oracle is q_join_asof_native's SQL
    "q_join_asof_salted" ->
      """SELECT p.event_id, p.user_id, max(v.ts) AS last_view_ts
        |FROM events p LEFT JOIN events v
        |  ON v.user_id = p.user_id AND v.event_type = 'view'
        |  AND v.ts <= p.ts
        |WHERE p.event_type = 'purchase'
        |GROUP BY p.event_id, p.user_id ORDER BY p.event_id""".stripMargin,
    "q_join_full" ->
      """SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey, c.c_name, o.n_big
        |FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 = 0) c
        |FULL JOIN (SELECT o_custkey, count(*) AS n_big FROM orders
        |           WHERE o_totalprice > 450000.0 GROUP BY o_custkey) o
        |  ON c.c_custkey = o.o_custkey
        |ORDER BY custkey""".stripMargin,
    "q_join_right" ->
      """SELECT c_custkey, o_orderkey
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin,
    "q_join_nullsafe" ->
      """SELECT o_orderkey, tier
        |FROM (SELECT o_orderkey, nullif(o_orderpriority, '3-MEDIUM') AS pr
        |      FROM orders) o
        |JOIN (VALUES ('1-URGENT', 'hot'), ('2-HIGH', 'warm'), (NULL, 'default'))
        |  AS dim(pr, tier)
        |  ON o.pr IS NOT DISTINCT FROM dim.pr
        |ORDER BY o_orderkey""".stripMargin,
    "q_try_arith" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN CAST(floor(l_quantity) AS BIGINT) % 7 = 0 THEN NULL
        |       ELSE CAST(round(l_extendedprice * 100.0) AS BIGINT) /
        |            (CAST(floor(l_quantity) AS BIGINT) % 7) END AS per_mod,
        |  CASE WHEN l_orderkey = 0 THEN 9223372036854775807 END AS overflowed
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_stats_moments" ->
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(x*x) AS BIGINT) AS sum_xx,
        |    CAST(sum(y) AS BIGINT) AS sum_y, CAST(sum(y*y) AS BIGINT) AS sum_yy,
        |    CAST(sum(x*y) AS BIGINT) AS sum_xy
        |  FROM (SELECT l_returnflag,
        |          CAST(floor(l_quantity) AS BIGINT) AS x,
        |          CAST(floor(l_extendedprice) AS BIGINT) AS y
        |        FROM lineitem)
        |  GROUP BY l_returnflag)
        |SELECT l_returnflag, n, sum_x, sum_xx, sum_y, sum_yy, sum_xy,
        |  sqrt((CAST(n AS DOUBLE)*CAST(sum_xx AS DOUBLE)
        |        - CAST(sum_x AS DOUBLE)*CAST(sum_x AS DOUBLE))
        |       / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE))) AS std_x,
        |  (CAST(n AS DOUBLE)*CAST(sum_xy AS DOUBLE)
        |   - CAST(sum_x AS DOUBLE)*CAST(sum_y AS DOUBLE))
        |  / (sqrt(CAST(n AS DOUBLE)*CAST(sum_xx AS DOUBLE)
        |          - CAST(sum_x AS DOUBLE)*CAST(sum_x AS DOUBLE))
        |     * sqrt(CAST(n AS DOUBLE)*CAST(sum_yy AS DOUBLE)
        |            - CAST(sum_y AS DOUBLE)*CAST(sum_y AS DOUBLE))) AS corr_xy
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "q_skew_kurt" ->
      """WITH a AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x*x) AS BIGINT) AS sxx,
        |    CAST(sum(x*x*x) AS BIGINT) AS sxxx,
        |    CAST(sum(x*x*x*x) AS BIGINT) AS sxxxx
        |  FROM (SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS x
        |        FROM lineitem)
        |  GROUP BY l_returnflag),
        |b AS (SELECT *, CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS m FROM a),
        |c AS (SELECT *,
        |    CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - m * m AS m2,
        |    CAST(sxxx AS DOUBLE) / CAST(n AS DOUBLE)
        |      - 3.0 * m * (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE))
        |      + 2.0 * m * m * m AS m3,
        |    CAST(sxxxx AS DOUBLE) / CAST(n AS DOUBLE)
        |      - 4.0 * m * (CAST(sxxx AS DOUBLE) / CAST(n AS DOUBLE))
        |      + 6.0 * m * m * (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE))
        |      - 3.0 * m * m * m * m AS m4
        |  FROM b)
        |SELECT l_returnflag, n, sx, sxx,
        |  CAST(floor(1000000.0 * (m3 / (m2 * sqrt(m2)))) AS BIGINT)
        |    AS skew_e6,
        |  CAST(floor(1000000.0 * (m4 / (m2 * m2) - 3.0)) AS BIGINT)
        |    AS kurt_e6
        |FROM c
        |WHERE CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
        |ORDER BY l_returnflag""".stripMargin,
    "q_geomean" ->
      """WITH b AS (SELECT p_brand,
        |    CAST(floor(1000000.0 * ln(CAST(CAST(round(p_retailprice * 100.0)
        |      AS BIGINT) AS DOUBLE) / 100.0)) AS BIGINT) AS lp
        |  FROM part),
        |g AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(lp) AS BIGINT) AS slp FROM b GROUP BY 1)
        |SELECT p_brand, n,
        |  CAST(floor(100.0 * exp(CAST(slp AS DOUBLE) / 1000000.0
        |    / CAST(n AS DOUBLE))) AS BIGINT) AS geomean_cents
        |FROM g ORDER BY p_brand""".stripMargin,
    "q_cond_agg" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  count(*) FILTER (WHERE o_totalprice > 100000.0) AS n_big,
        |  bool_or(o_orderstatus = 'O') AS any_open,
        |  bool_and(o_totalprice < 500000.0) AS all_under_500k,
        |  max_by(o_orderdate, o_orderkey) AS latest_key_date
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_bitwise_agg" ->
      """SELECT l_returnflag,
        |  bit_and(l_suppkey) AS and_supp,
        |  bit_or(l_suppkey) AS or_supp,
        |  bit_xor(l_suppkey) AS xor_supp
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_typed_agg" ->
      """SELECT o_custkey,
        |  CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q_groupby_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |  avg(l_quantity) AS avg_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT)
        |    AS sum_price_cents,
        |  min(CAST(floor(l_quantity) AS BIGINT)) AS min_qty,
        |  max(CAST(floor(l_quantity) AS BIGINT)) AS max_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_count_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_partkey) AS n_part
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_window_dist" ->
      """WITH b AS (SELECT event_id, event_type,
        |    CAST(round(value * 100.0) AS BIGINT) AS cents FROM events),
        |r AS (SELECT event_id, event_type, cents,
        |    rank() OVER (PARTITION BY event_type ORDER BY cents) AS rk,
        |    count(*) OVER (PARTITION BY event_type ORDER BY cents
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS le,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM b)
        |SELECT event_id, event_type, cents,
        |  CAST(1000000 * (rk - 1) // (n - 1) AS BIGINT) AS pr_ppm,
        |  CAST(1000000 * le // n AS BIGINT) AS cd_ppm
        |FROM r WHERE n > 1 ORDER BY event_id""".stripMargin,
    "q_window_rank" ->
      """SELECT o_orderpriority, rnk, drnk, o_orderkey FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS rnk,
        |    dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS drnk
        |  FROM orders) WHERE rnk <= 10
        |ORDER BY o_orderpriority, rnk, o_orderkey""".stripMargin,
    "q_window_lag" ->
      """SELECT event_id, user_id,
        |  CAST(round(value*100.0) AS BIGINT) -
        |  lag(CAST(round(value*100.0) AS BIGINT), 1)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta_cents
        |FROM events ORDER BY event_id""".stripMargin,
    "q_window_running" ->
      """SELECT event_id, user_id,
        |  CAST(sum(CAST(round(value*100.0) AS BIGINT))
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS running_cents
        |FROM events ORDER BY event_id""".stripMargin,
    "q_window_misc" ->
      """SELECT event_id,
        |  ntile(4) OVER w AS quartile,
        |  lead(event_type, 1) OVER w AS next_type,
        |  first_value(event_id) OVER wf AS first_event,
        |  last_value(event_id) OVER wf AS last_event
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |  wf AS (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin,
    "q_window_range" ->
      """SELECT event_id, user_id,
        |  CAST(sum(CAST(round(value*100.0) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS trail_cents
        |FROM events ORDER BY event_id""".stripMargin,
    "q_window_fill" ->
      """SELECT event_id, user_id,
        |  last_value(purchase_cents IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS last_purchase_cents,
        |  nth_value(purchase_cents, 2 IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS second_purchase_cents
        |FROM (SELECT *, CASE WHEN event_type = 'purchase'
        |        THEN CAST(round(value * 100.0) AS BIGINT) END AS purchase_cents
        |      FROM events)
        |ORDER BY event_id""".stripMargin,
    "q_unpivot" ->
      """SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val
        |FROM part
        |UNION ALL
        |SELECT p_partkey, 'retail' AS metric, p_retailprice AS val FROM part
        |ORDER BY p_partkey, metric""".stripMargin,
    "q_orderby" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |ORDER BY c_mktsegment ASC, c_acctbal DESC, c_custkey ASC""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q_union" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |UNION
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
        |ORDER BY c_custkey""".stripMargin,
    "q_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
        |ORDER BY c_custkey""".stripMargin,
    "q_except" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |EXCEPT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
        |ORDER BY c_custkey""".stripMargin,
    "q_intersect_all" ->
      """SELECT l_partkey FROM lineitem WHERE l_quantity > 25.0
        |INTERSECT ALL
        |SELECT l_partkey FROM lineitem WHERE l_discount > 0.05
        |ORDER BY l_partkey""".stripMargin,
    "q_except_all" ->
      """SELECT l_partkey FROM lineitem WHERE l_quantity > 25.0
        |EXCEPT ALL
        |SELECT l_partkey FROM lineitem WHERE l_discount > 0.05
        |ORDER BY l_partkey""".stripMargin,
    "q_string_funcs" ->
      """SELECT p_partkey,
        |  upper(p_brand) AS brand_upper,
        |  substring(p_name, 1, 5) AS name_prefix,
        |  length(p_name) AS name_len,
        |  p_name LIKE '%ol%' AS has_ol,
        |  replace(p_type, ' ', '_') AS type_snake,
        |  lower(p_type) AS type_lower
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_discount - 0.05) AS disc_dev,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        |  sqrt(l_quantity) AS qty_sqrt,
        |  CAST(floor(l_quantity) AS BIGINT) % 7 AS qty_mod
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_datetime_funcs" ->
      """SELECT o_orderkey,
        |  year(o_orderdate) AS yr,
        |  month(o_orderdate) AS mo,
        |  day(o_orderdate) AS dom,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch0,
        |  o_orderdate + INTERVAL 30 DAY AS due_ts
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_array_funcs" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  string_split(text, ' ')[2] AS second_token,
        |  list_contains(string_split(text, ' '), 'spark') AS has_spark,
        |  list_sort(string_split(text, ' '))[1] AS min_token,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_map_funcs" ->
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS n_click,
        |  count(*) FILTER (WHERE event_type = 'error') AS n_error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_regex_funcs" ->
      """SELECT p_partkey,
        |  regexp_extract(p_type, '([A-Z]+)$', 1) AS last_word,
        |  regexp_matches(p_name, '^[a-z]+ ') AS starts_lower_word,
        |  len(regexp_extract_all(p_name, '[aeiou]+')) AS vowel_runs
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_json_funcs" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // raw-column recompute: the CSV/XML render→parse round-trip is the
    // identity, so any parser slip on the Spark side hash-mismatches
    "q_parse_funcs" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(user_id * 2) AS BIGINT) AS sum_uid2
        |FROM events WHERE regexp_matches(event_type, '^[A-Za-z_]+$')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
  )
}
