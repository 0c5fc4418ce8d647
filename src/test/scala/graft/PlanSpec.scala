package graft

import org.apache.spark.sql.functions.{broadcast, max}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guard: the scale-critical plan properties —
  * pushdown reaching the scan, broadcast for dimension joins, top-k
  * short-circuit, no cartesian products in keyed joins, partial
  * aggregation — must survive refactors. These are the properties that
  * decide whether a plan survives a 100× scale-up.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def planOf(key: String): String = {
    val df = SparkEntry.queries(key)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("q_filter_eq pushes the predicate into the parquet scan") {
    val p = planOf("q_filter_eq")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(o_orderstatus,F)"), p.take(2000))
  }

  test("q_project prunes the scan to selected columns only") {
    val p = planOf("q_project")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_extendedprice"), "unselected column must not be read")
  }

  test("q_broadcast_join uses a broadcast hash join") {
    val p = planOf("q_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q_join_asof_native plans the custom AsOfJoinExec with one exchange per side") {
    val p = planOf("q_join_asof_native")
    assert(p.contains("AsOfJoin"), p.take(2000))
    // the operator's movement cost is exactly a sort-merge join's: one
    // hash exchange per input, nothing else
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p.take(2500))
  }

  test("q_join_asof_salted adds exactly one explode and no extra exchange") {
    val p = planOf("q_join_asof_salted")
    assert(p.contains("AsOfJoin"), p.take(2000))
    // salting must cost exactly what its contract says: the left side
    // gains a salt PROJECTION (free), the right side ONE explode
    // (Generate) for the per-salt replication — and the operator still
    // moves data like a sort-merge join, one hash exchange per side.
    // A third exchange or a second Generate would mean the composition
    // re-shuffles what it just salted.
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p.take(2500))
    assert("Generate explode".r.findAllIn(p).size == 1, p.take(2500))
  }

  test("native as-of join agrees with the inequality-join definition row for row") {
    import org.apache.spark.sql.functions._
    val ev = graft.model.Tables.events(spark, sf)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("ts").as("last_view_ts"))
    val native = graft.ops.AsOf.joinAsOf(purchases, views, Seq("user_id"),
        "ts", "ts", Seq("last_view_ts"))
      .select(col("event_id"), col("last_view_ts"))
    val expected = purchases.alias("p")
      .join(views.alias("v"),
        col("p.user_id") === col("v.user_id") && col("v.ts") <= col("p.ts"),
        "left")
      .groupBy(col("p.event_id").as("event_id"))
      .agg(max(col("v.last_view_ts")).as("last_view_ts"))
    assert(native.exceptAll(expected).isEmpty && expected.exceptAll(native).isEmpty,
      "native as-of and the inequality-join definition must be identical")
  }

  test("as-of rules: left filter reaches the scan; right side prunes to consumed columns") {
    import org.apache.spark.sql.functions._
    val ev = graft.model.Tables.events(spark, sf)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    // `value` is deliberately unused payload-side ballast
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("value"),
        col("ts").as("last_view_ts"))
    val df = graft.ops.AsOf.joinAsOf(purchases, views, Seq("user_id"),
        "ts", "ts", Seq("last_view_ts"))
      .filter(col("user_id") < 100L)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), p.take(2000))
    // PushFilterThroughAsOfJoin hands the predicate to the standard
    // pushdown, which lands it in BOTH scans' PushedFilters (left via
    // the rule, right via the views branch's own filter) — assert it
    // reached a parquet scan at all rather than sitting above the join
    assert(p.contains("LessThan(user_id,100)"), p.take(3000))
    // PruneAsOfJoinRight: the unused `value` column must not survive
    // into the operator's right input
    val opLine = p.linesIterator.find(_.contains("AsOfJoin")).get
    assert(!opLine.contains("value#"),
      s"unused right column fed into the as-of operator: $opLine")
  }

  test("q_sql_tpch_q9 probes the composite-key partsupp join with no cartesian") {
    val p = planOf("q_sql_tpch_q9")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // part/supplier/nation are dimension-sized → broadcast off the
    // lineitem ⋈ orders ⋈ partsupp backbone
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("derived partsupp is a durable read-through: derived once, then scanned as parquet") {
    val before = graft.queries.SqlSurface.partsuppDerivations.get()
    SparkEntry.queries("q_sql_tpch_q11")(spark, sf).count()
    SparkEntry.queries("q_sql_tpch_q16")(spark, sf).count()
    val after = graft.queries.SqlSurface.partsuppDerivations.get()
    assert(after - before <= 1,
      s"partsupp re-derived per query (${after - before} derivations)")
    // Q11 touches only partsupp/supplier/nation — if lineitem appears in
    // its plan, the query re-ran the distinct-pair derivation inline
    // instead of scanning the durable snapshot
    val p = planOf("q_sql_tpch_q11")
    assert(!p.contains("lineitem"),
      "q_sql_tpch_q11 must read the durable partsupp, not re-derive from lineitem")
  }

  test("q_ann_param_sweep answers every nprobe from one postings scan") {
    val df = SparkEntry.queries("q_ann_param_sweep")(spark, sf)
    df.collect()
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val postingScans = helper.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.dataFilters.exists(_.sql.contains("kind = 'p'")) => s
    }
    assert(postingScans.size == 1,
      s"expected one postings scan, got ${postingScans.size}")
  }

  test("q_topk plans TakeOrderedAndProject, not a global sort") {
    val p = planOf("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("analytics keys with no consumer for order plan no global sort; LIMIT keys keep top-k") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // results are compared order-free, so a trailing global sort here
    // would only add a sampling job, a range exchange and a sort
    val unordered = Seq("q_filter_eq", "q_project", "q_collect_struct",
      "q_broadcast_join", "q_upsert_merge", "q_join_inner", "q_join_asof",
      "q_groupby_agg", "q_count_distinct", "q_rollup", "q_window_rank",
      "q_window_running", "q_union", "q_json_funcs", "q_join_salted",
      "q_expr_laptime")
    unordered.foreach { k =>
      val plan = SparkEntry.queries(k)(spark, sf).queryExecution.executedPlan
      val ordering = walkPlan(plan).collect {
        case s: SortExec if s.global => s.nodeName
        case e: ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[RangePartitioning] => "Exchange rangepartitioning"
      }
      assert(ordering.isEmpty, s"$k plans $ordering:\n${plan.toString.take(2000)}")
    }
    Seq("q_topk", "q_sql_tpch_q3").foreach { k =>
      val p = planOf(k)
      assert(p.contains("TakeOrderedAndProject"), s"$k:\n${p.take(2000)}")
    }
  }

  test("q_join_range stays an equi hash/merge join with range residual") {
    val p = planOf("q_join_range")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("q_groupby_agg uses two-phase (partial+final) hash aggregation") {
    val p = planOf("q_groupby_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q_window_rank pushes the rank<=k limit below the shuffle") {
    // Catalyst's InferWindowGroupLimit turns the post-window rank filter
    // into partial (map-side) + final per-group top-k limits, so only ~k
    // rows per group cross the exchange — the property that keeps a
    // rank-filter window viable when a group no longer fits an executor.
    val p = planOf("q_window_rank")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q_chunk_tokens stays shuffle-free (map-side generator)") {
    val p = planOf("q_chunk_tokens")
    val body = p.split("TakeOrderedAndProject|Sort \\[").last
    assert(!body.contains("Exchange hashpartitioning"), p.take(2000))
  }

  test("q_stats_moments keeps partial aggregation (exact sums combine map-side)") {
    val p = planOf("q_stats_moments")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q_typed_agg plans hash aggregation, not an object/RDD fallback") {
    val p = planOf("q_typed_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
    assert(!p.contains("MapGroups"), p.take(2000))
  }

  test("q_sql_lateral decorrelates to a group-limit join, not a per-row loop") {
    val p = planOf("q_sql_lateral")
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("q_dedup_minhash candidate join is an equi join on (band, bucket)") {
    val p = planOf("q_dedup_minhash")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("q_domain_mix pushes the per-stratum quota below the shuffle") {
    // stratifiedSample's rank<=quota must become partial+final
    // WindowGroupLimit so each task ships `perStratum` rows per stratum,
    // not the whole corpus, into the sort exchange.
    val p = planOf("q_domain_mix")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q_decontaminate broadcasts the eval shingles, never a doc×doc product") {
    val p = planOf("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("q_repetition_filter keeps partial aggregation on the bigram histogram") {
    val p = planOf("q_repetition_filter")
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(2000))
  }

  test("q_dedup_exact shuffles digests, not documents") {
    val p = planOf("q_dedup_exact")
    assert(p.contains("sha2"), p.take(2000))
  }

  test("q_dedup_embedding candidates come from a banded equi join, not a theta self-join") {
    val p = planOf("q_dedup_embedding")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    // ...and the banded SELF-join is co-partitioned, never broadcast:
    // Catalyst's size estimate rides the narrow parquet scan and misses
    // the bands× explode fan-out, so auto-broadcast shipped the whole
    // banded corpus (with vectors) to the driver — survived 2k vectors,
    // OOM'd at the 20k-vector r12 soak. The shuffle_hash pin is the
    // 100 TB shape; a BroadcastHashJoin reappearing here means the pin
    // was lost.
    assert(p.contains("ShuffledHashJoin") && !p.contains("BroadcastHashJoin"),
      p.take(2000))
  }

  private def globalWindows(key: String): Seq[Any] = {
    val df = SparkEntry.queries(key)(spark, sf)
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
  }

  test("q_oov_rate and q_phrase_search broadcast their small side, no cartesian") {
    // vocab (top-20) and the phrase list are broadcast; the postings
    // self-join stays an equi join on (doc, pos±1) — a cartesian or
    // nested-loop here would be the substring-scan anti-pattern at scale
    Seq("q_oov_rate", "q_phrase_search").foreach { k =>
      val p = planOf(k)
      assert(p.contains("BroadcastHashJoin"), s"$k: ${p.take(1500)}")
      assert(!p.contains("CartesianProduct"), s"$k: ${p.take(1500)}")
    }
  }

  test("q_hard_negatives broadcasts the query side like bruteForceTopK") {
    val p = planOf("q_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(1500))
    // corpus side must NOT be exchanged into a single partition (the
    // per-query rank window partitions by q_id), and the label-mismatch
    // predicate must ride the broadcast join, not a cartesian
    assert(!p.contains("SinglePartition"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // the k=3 cut is pushed below the exchange as a group limit
    assert(p.contains("WindowGroupLimit"), p.take(1500))
  }

  test("q_join_nearest is one sort, two window passes, no self-join") {
    val p = planOf("q_join_nearest")
    assert(!p.contains("Join"), p.take(1500)) // window composition, not a join
  }

  test("q_doc_filter keeps partial aggregation on the token counts") {
    val p = planOf("q_doc_filter")
    assert(p.contains("partial"), p.take(1500))
  }

  test("q_rrf_fusion ranks without a single-partition window") {
    assert(globalWindows("q_rrf_fusion").isEmpty,
      "global Window.orderBy funnels the table through one task")
  }

  test("q_equidepth_hist ranks without a single-partition window") {
    // the whole point of Ranks.globalRowNumber — a naive
    // row_number().over(orderBy) would funnel the table into one task
    assert(globalWindows("q_equidepth_hist").isEmpty)
  }

  test("q_interval_union and q_attribution windows are all user-partitioned") {
    assert(globalWindows("q_interval_union").isEmpty)
    assert(globalWindows("q_attribution").isEmpty)
  }

  test("q_ivm_join delta terms stay keyed joins, no cartesian fallback") {
    val p = planOf("q_ivm_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("q_id_gaps plans the shifted-key anti join without nested loops") {
    val p = planOf("q_id_gaps")
    assert(p.contains("LeftAnti"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q_pack_sequences accumulates without a single-partition window") {
    assert(globalWindows("q_pack_sequences").isEmpty,
      "global Window.orderBy funnels the table through one task")
  }

  test("q_skyline sweeps without a single-partition window or cross join") {
    assert(globalWindows("q_skyline").isEmpty,
      "skyline sweep must not funnel through one task")
    val p = planOf("q_skyline")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("q_assoc_rules keeps keyed joins and partial aggregation throughout") {
    val p = planOf("q_assoc_rules")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q_markov_transitions windows are all partitioned (the lag subtree appears twice logically; exchange reuse dedupes it physically)") {
    val df = SparkEntry.queries("q_markov_transitions")(spark, sf)
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty))
  }

  test("q_hll_merge re-aggregates sketches with two-phase aggregation") {
    val p = planOf("q_hll_merge")
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q_join_interval is a binned equi join, never a cartesian product") {
    val p = planOf("q_join_interval")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  /** Final ADAPTIVE plan (after execution): totals derived from a
    * per-group aggregate duplicate that aggregate's subtree in the
    * static plan, but both branches share one identical exchange, so
    * AQE's ReuseExchange collapses them at runtime — the property that
    * matters is reuse in the executed plan, not the static tree.
    */
  private def finalPlanOf(key: String): String = {
    val df = SparkEntry.queries(key)(spark, sf)
    df.collect() // finalize the adaptive plan of THIS query execution
    df.queryExecution.executedPlan.toString
  }

  private def reusesExchange(p: String): Boolean =
    p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
      p.contains("reused")

  test("q_welch_ttest totals reuse the per-segment exchange (no second fact scan)") {
    val p = finalPlanOf("q_welch_ttest")
    assert(reusesExchange(p) || "Scan parquet".r.findAllIn(p).size <= 2,
      s"totals branch re-scanned the fact join\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q_target_encode and q_mutual_info derive totals via exchange reuse") {
    val te = finalPlanOf("q_target_encode")
    assert(reusesExchange(te) ||
      "Scan parquet".r.findAllIn(te).size <= 1, te.take(3000))
    val mi = finalPlanOf("q_mutual_info")
    assert(reusesExchange(mi) ||
      "Scan parquet".r.findAllIn(mi).size <= 2, mi.take(3000))
    assert(mi.contains("BroadcastHashJoin"))
  }

  test("q_common_neighbors pushes the per-focus top-5 below the exchange, no cartesian") {
    val p = planOf("q_common_neighbors")
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_pmi_cooccur broadcasts the vocabulary-sized frequency tables") {
    val p = planOf("q_pmi_cooccur")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_perplexity_lm broadcasts the model back onto the scoring pass") {
    val p = planOf("q_perplexity_lm")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_silhouette and q_covariance_matrix stay keyed joins, no cartesian") {
    Seq("q_silhouette", "q_covariance_matrix").foreach { k =>
      val p = planOf(k)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$k:\n${p.take(2000)}")
    }
  }

  test("q_pareto_share ranks without any window at all (partition-offset rank)") {
    assert(globalWindows("q_pareto_share").isEmpty)
  }

  test("q_sql_tpch_q1 pushes the date filter into the scan and aggregates in two phases") {
    val p = planOf("q_sql_tpch_q1")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q_sql_tpch_q6 pushes all three predicates into the parquet scan") {
    val p = planOf("q_sql_tpch_q6")
    Seq("l_shipdate", "l_discount", "l_quantity").foreach(c =>
      assert(p.contains(c), s"expected pushed filter on $c:\n${p.take(2000)}"))
    assert(p.contains("PushedFilters"), p.take(2000))
  }

  test("q_sql_tpch_q4 decorrelates EXISTS to a semi join, not a per-row subquery") {
    val p = planOf("q_sql_tpch_q4")
    assert(p.contains("LeftSemi"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("q_sql_tpch_q10 short-circuits the top-20 via TakeOrderedAndProject") {
    val p = planOf("q_sql_tpch_q10")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q_sql_tpch_q8 broadcasts every dimension off the fact backbone, no cartesian") {
    // The widest join tree in the suite (8 relations): part, supplier,
    // customer, nation ×2, and region must all ride broadcast hash joins
    // off the lineitem⋈orders backbone — at 100 TB a shuffled dimension
    // join here repartitions the whole fact table per dimension.
    val p = planOf("q_sql_tpch_q8")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 5, p.take(4000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(4000))
    assert(p.contains("PushedFilters") && p.contains("p_type"), p.take(4000))
  }

  test("q_chisq_contingency broadcasts the dim and total joins — no shuffled join") {
    // cells/rows/columns/N are all category-sized; any SortMergeJoin here
    // would shuffle the fact-derived cell table for nothing
    val p = planOf("q_chisq_contingency")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q_winsorize broadcasts its per-group bound tables back to the facts") {
    val p = planOf("q_winsorize")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q_psi_drift joins bucket-sized tables only; totals come back broadcast") {
    val p = planOf("q_psi_drift")
    // the single-row totals join is a broadcast nested-loop (cross of 1 row);
    // the bucket full-outer join may be any strategy — it is 10 rows — but
    // the plan must never shuffle the fact scan more than the two counts
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(3000))
  }

  test("q_cohort_retention aggregates with keyed shuffles only — no windows") {
    assert(globalWindows("q_cohort_retention").isEmpty)
    val p = planOf("q_cohort_retention")
    assert(!p.contains("Window"), "retention must not need a window at all")
  }

  test("q_decay_wavg evaluates all 8 taps in one partitioned Window node") {
    val df = SparkEntry.queries("q_decay_wavg")(spark, sf)
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.size == 1, s"expected one Window node, got ${wins.size}")
    assert(wins.head.partitionSpec.nonEmpty, "window must be partitioned")
  }

  test("q_zorder computes the interleave map-side with partial aggregation") {
    val p = planOf("q_zorder")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("q_variant parses each props string exactly once (structural parse-once)") {
    val p = planOf("q_variant")
    assert("parseJson|parse_json".r.findAllIn(p).size == 1, p.take(3000))
  }

  test("q_ks_test and q_abc_classes rank/accumulate without a single-partition window") {
    assert(globalWindows("q_ks_test").isEmpty, "KS running counts must shard")
    assert(globalWindows("q_abc_classes").isEmpty, "ABC running sum must shard")
  }

  test("q_theil_sen pairs via bounded nested-loop, never CartesianProduct; rank shards") {
    val p = planOf("q_theil_sen")
    // the all-pairs day join is deliberately a broadcast NLJ over the
    // calendar-bounded day table — a CartesianProduct would mean the
    // broadcast hint was lost and both sides shuffle-expand
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(globalWindows("q_theil_sen").isEmpty)
  }

  test("q_cross_source_overlap joins postings on the shingle key, no nested loops") {
    val p = planOf("q_cross_source_overlap")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q_dim_corr and q_ref_integrity stay keyed joins, no cartesian fallback") {
    val pd = planOf("q_dim_corr")
    assert(!pd.contains("CartesianProduct") &&
      !pd.contains("BroadcastNestedLoopJoin"), pd.take(1500))
    // ref_integrity's per-edge (total × orphans) combine is a scalar
    // 1-row × 1-row cross — BNLJ there is the right plan; what must
    // not appear is an unkeyed ANTI join or a CartesianProduct
    val pr = planOf("q_ref_integrity")
    assert(!pr.contains("CartesianProduct"), pr.take(1500))
    assert(!pr.contains("BroadcastNestedLoopJoin BuildRight, LeftAnti") &&
      !pr.contains("BroadcastNestedLoopJoin BuildLeft, LeftAnti"),
      "FK anti joins must stay keyed: " + pr.take(1500))
  }

  test("q_acf_lags broadcasts the day table onto its lag explode") {
    val p = planOf("q_acf_lags")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("CartesianGuard rejects accidental cross joins at analysis time, opt-in") {
    val shared = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s = Graft.session(master = "local[2]", shufflePartitions = 2)
      import s.implicits._
      val a = Seq(1, 2).toDF("x")
      val b = Seq(3, 4).toDF("y")
      s.conf.set(graft.plans.CartesianGuard.Conf, "TRUE") // case-insensitive
      val ex = intercept[org.apache.spark.SparkException] {
        a.crossJoin(b).collect()
      }
      assert(ex.getMessage.contains("cartesian guard"))
      val ex2 = intercept[org.apache.spark.SparkException] {
        a.join(b).collect() // no condition — implicit cartesian
      }
      assert(ex2.getMessage.contains("cartesian guard"))
      // cartesians hiding inside subquery expressions are caught too
      a.createOrReplaceTempView("ga"); b.createOrReplaceTempView("gb")
      val ex3 = intercept[org.apache.spark.SparkException] {
        s.sql("SELECT * FROM ga WHERE x > (SELECT min(ga.x * gb.y) FROM ga, gb)")
          .collect()
      }
      assert(ex3.getMessage.contains("cartesian guard"))
      // conditioned joins (incl. theta) pass untouched
      assert(a.join(b, $"x" < $"y").count() == 4L)
      // the engine's own scalar-stats broadcast cross (|a|×1) passes —
      // q_bm25's corpus-stats join is this exact shape
      assert(a.crossJoin(broadcast(b.agg(max($"y").as("m")))).count() == 2L)
      assert(SparkEntry.queries("q_bm25")(s, sf).count() > 0)
      // deliberate cross joins re-enable per session
      s.conf.set(graft.plans.CartesianGuard.Conf, "false")
      assert(a.crossJoin(b).count() == 4L)
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(shared)
      org.apache.spark.sql.SparkSession.setDefaultSession(shared)
    }
  }

  test("Graft.session builds a configured session with functions registered") {
    val shared = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      // operator code must never rebind a SQL name on the caller's
      // session: after the dedup signature pass at k=32 and the ingest
      // gate, SQL minhash_signature(sh, 8) still returns 8 hashes, and
      // nothing logs a replaced function
      val (s, replaced) = replacedFunctionWarnings {
        val s = Graft.session(master = "local[2]", shufflePartitions = 2)
        val sh = s.range(4).selectExpr("id AS doc_id",
          "shingle_hashes(array('a', 'b', 'c', CAST(id AS STRING)), 2) AS sh")
        val sigs = graft.ops.Dedup.minhashSignatures(sh, "doc_id", 32)
        assert(sigs.columns.length == 33 && sigs.collect().length == 4)
        assert(graft.streaming.IngestGate.replayNearDupGate(s, sf).count() > 0)
        s
      }
      assert(replaced.isEmpty, replaced.mkString("\n"))
      val k = s.sql("SELECT size(minhash_signature(" +
        "shingle_hashes(array('a','b','c','d'), 2), 8))").collect().head.getInt(0)
      assert(k == 8, s"SQL minhash_signature(sh, 8) returned $k hashes")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "2")
      assert(s.sql("SELECT lap_time_millis(1500L)").collect().head.getString(0) == "00:01.500")
      // every catalog function resolves through the extension path
      assertCatalogResolves(s)
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(shared)
      org.apache.spark.sql.SparkSession.setDefaultSession(shared)
    }
  }

  test("Graft.withConf restores a set key and unsets an unset one, on return and on throw") {
    val setKey = "spark.sql.shuffle.partitions"
    val unsetKey = "graft.spec.withConf.probe"
    val before = spark.conf.get(setKey)
    assert(spark.conf.getOption(unsetKey).isEmpty)
    def check(): Unit = {
      assert(spark.conf.get(setKey) == before)
      assert(spark.conf.getOption(unsetKey).isEmpty)
    }
    val got = Graft.withConf(spark, setKey -> "7", unsetKey -> "on") {
      (spark.conf.get(setKey), spark.conf.get(unsetKey))
    }
    assert(got == ("7", "on"))
    check()
    val e = intercept[IllegalStateException] {
      Graft.withConf(spark, setKey -> "7", unsetKey -> "on") {
        assert(spark.conf.get(setKey) == "7")
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    check()
  }

  test("Profile records a key's layers, goes on past a failed key, and leaves no listener") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    val before = org.apache.spark.sql.ListenerCounts(spark)
    val dir = java.nio.file.Files.createTempDirectory("profile").toFile
    try {
      val Seq(filter, unknown, stream, gate) =
        Seq("q_filter_eq", "q_no_such_key", "q_stream_asof_wm", "q_stream_ingest_gate")
          .map(k => graft.tools.Profile.profile(spark, sf, k, dir))
      assert(org.apache.spark.sql.ListenerCounts(spark) == before)
      def num(r: collection.Map[String, Any], k: String): Double =
        r(k).asInstanceOf[Number].doubleValue
      assert(!filter.contains("error"), filter)
      assert(num(filter, "exec.jobs") >= 1, filter)
      assert(num(filter, "exec.tasks") >= num(filter, "exec.jobs"), filter)
      assert(num(filter, "plans.queries") >= 1, filter)
      assert(num(filter, "codegen.recompiles") == 0, filter)
      Seq("analysis", "optimization", "planning").foreach(p =>
        assert(num(filter, s"plans.${p}_ms") >= 0, filter))
      val df = SparkEntry.queries("q_filter_eq")(spark, sf)
      df.collect()
      val exchanges = new AdaptiveSparkPlanHelper {}
        .collectWithSubqueries(df.queryExecution.executedPlan) { case e: Exchange => e }
      assert(num(filter, "plans.exchanges") == exchanges.size, filter)
      assert(new java.io.File(dir, "q_filter_eq.plan.txt").length > 0)
      assert(unknown("error").toString.contains("q_no_such_key"), unknown)
      assert(!stream.contains("error"), stream)
      assert(stream("streaming.batches").asInstanceOf[Seq[_]].nonEmpty, stream)
      // every gate job is labelled with its replay section, none with the
      // stream's raw " id = … batch = N" description
      assert(!gate.contains("error"), gate)
      val gateJobs = gate("jobs").asInstanceOf[Seq[collection.Map[String, Any]]]
        .map(_("desc").toString)
      assert(!gateJobs.exists(_.startsWith(" id = ")), gateJobs)
      Seq("fold", "land").foreach(sec =>
        assert(gateJobs.exists(_.matches(s"ingest_gate b\\d: $sec")), gateJobs))
    } finally {
      dir.listFiles.foreach(_.delete)
      dir.delete()
    }
  }

  test("the codegen cache holds a working set past Spark's default of 100 classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    // the session comes first: the cache takes its size from the session
    // active when it is first touched
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Graft.CodegenCacheEntries.toString)
    // empty the JVM-wide cache, so the cold round compiles the set's
    // whole working set whatever earlier suites left in it
    val cacheOf = CodeGenerator.getClass.getDeclaredMethod("cache")
    cacheOf.setAccessible(true)
    val cache = cacheOf.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    // the perfbench `analytics` keys plus the ingest gate
    val gate = "q_stream_ingest_gate"
    val keys = Seq("q_filter_eq", "q_project", "q_groupby_agg", "q_count_distinct",
      "q_rollup", "q_broadcast_join", "q_join_inner", "q_join_asof", "q_join_salted",
      "q_window_rank", "q_window_running", "q_topk", "q_union", "q_collect_struct",
      "q_json_funcs", "q_upsert_merge", "q_sql_tpch_q3", "q_expr_laptime", gate)
    def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def round(): Map[String, Long] = keys.map { k =>
      val c0 = compiled()
      SparkEntry.queries(k)(spark, sf).write.format("noop").mode("overwrite").save()
      k -> (compiled() - c0)
    }.toMap
    val cold = round()
    assert(cold.values.sum > 100, s"the set compiles only $cold: not past the default cache")
    val warm = round()
    assert(warm.removed(gate).values.forall(_ == 0),
      s"a warm round compiled classes again: $warm")
    // each replay starts a streaming query on a cloned session, and Spark
    // gives every session its own executor class loader, which is part of
    // the cache key: the gate's task-side classes (~40 here) compile again
    // on every replay at any cache size; its driver-side ones do not
    assert(warm(gate) <= 50 && warm(gate) < cold(gate), s"gate: $warm vs $cold")
  }

  test("join strategy hints steer the physical join as documented") {
    import org.apache.spark.sql.functions.col
    // the escape hatch when stats mislead the planner at 100 TB: a
    // SHUFFLE_HASH hint avoids sorting a huge-but-hashable side; MERGE
    // forces the sort-merge path; the hint column API must keep working
    val o = graft.model.Tables.orders(spark, sf)
    val c = graft.model.Tables.customer(spark, sf)
    val hashed = o.join(c.hint("shuffle_hash"),
      col("o_custkey") === col("c_custkey"))
    assert(hashed.queryExecution.executedPlan.toString
      .contains("ShuffledHashJoin"), "shuffle_hash hint ignored")
    val merged = o.join(c.hint("merge"), col("o_custkey") === col("c_custkey"))
    assert(merged.queryExecution.executedPlan.toString
      .contains("SortMergeJoin"), "merge hint ignored")
    val n = hashed.count()
    assert(n == merged.count() && n > 0)
  }

  test("Observation metrics ride the job without a second scan") {
    import org.apache.spark.sql.functions.col
    // df.observe collects aggregates as a side effect of the SAME pass —
    // the monitoring hook a pipeline uses instead of re-scanning to
    // count rows it just wrote
    val obs = new org.apache.spark.sql.Observation("ingest")
    val df = graft.model.Tables.orders(spark, sf)
      .observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_rows"),
        org.apache.spark.sql.functions.sum(col("o_totalprice")).as("gross"))
    val written = df.count()
    val got = obs.get
    assert(got("n_rows") == written)
    assert(got("gross").asInstanceOf[Double] > 0.0)
  }

  test("registry-wide: every key plans without a CartesianProduct") {
    // The per-key guards above pin the join SHAPE of the keys where it
    // was designed; this sweep pins the one property that must hold for
    // EVERY key at 100 TB — no unkeyed all-pairs product anywhere in any
    // plan. BroadcastNestedLoopJoin is deliberately NOT banned here:
    // scalar/tiny-aggregate crossJoin(broadcast(...)) fan-ins plan as
    // BNLJ and are correct (the per-key guards ban BNLJ where a keyed
    // join was intended). Planning all keys also smoke-checks that every
    // registry entry analyzes — a broken column reference fails here,
    // not in the driver run.
    val bad = registryPlans.flatMap { case (k, planOrErr) =>
      val plan = planOrErr.fold(e => s"ANALYSIS-ERROR: $e", _.toString)
      if (plan.contains("CartesianProduct") || plan.startsWith("ANALYSIS-ERROR"))
        Some(k -> plan.linesIterator.take(3).mkString(" | "))
      else None
    }
    assert(bad.isEmpty, s"keys with cartesian/broken plans: ${bad.take(5)}")
  }

  /** One physical plan per registry key, built once and shared by the
    * registry-wide sweeps below (each sweep re-planning 380+ keys would
    * multiply suite time for no extra signal). Left = analysis error.
    */
  private lazy val registryPlans
      : Seq[(String, Either[String, org.apache.spark.sql.execution.SparkPlan])] =
    SparkEntry.queries.keys.toSeq.sorted.map { k =>
      k -> (try Right(SparkEntry.queries(k)(spark, sf).queryExecution.executedPlan)
            catch { case e: Throwable => Left(String.valueOf(e.getMessage)) })
    }

  /** Deep physical-plan walk: TreeNode.collect alone sees NOTHING under
    * AQE (AdaptiveSparkPlanExec is a LEAF wrapping the real tree) and
    * skips subquery plans — both places a scale-hostile operator can
    * hide from a naive sweep.
    */
  private def walkPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val inner = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.inputPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(s.plan)
      case r: org.apache.spark.sql.execution.ReusedSubqueryExec =>
        Seq(r.child)
      case _ => p.children
    }
    p +: (inner ++ p.subqueries).flatMap(walkPlan)
  }

  test("registry-wide: global windows only over bounded-domain children") {
    // A WindowExec with an EMPTY partition spec funnels its entire input
    // through ONE task — the single shape that silently stops scaling
    // the moment its child grows with the corpus. Every such site in
    // this engine runs over a DOMAIN-BOUNDED child (day-collapsed
    // calendars, configuration-sized strata) and carries that argument
    // in its scaladoc; this sweep turns the hand audit into a gate so
    // the next global window over a corpus-sized child is a test
    // failure, not a judge grep. The allowlist carries the bound.
    val allowed: Map[String, String] = Map(
      // day-collapsed orders calendar: rows = distinct o_orderdate days,
      // bounded by the calendar span (~2.4k at any SF), never by |orders|
      "q_seasonal_decompose" -> "day-collapsed calendar",
      "q_changepoint" -> "day-collapsed calendar",
      "q_max_drawdown" -> "day-collapsed calendar",
      "q_rolling_corr" -> "day-collapsed calendar",
      "q_interpolate" -> "day-collapsed calendar",
      "q_autocorr" -> "day-collapsed calendar",
      "q_bollinger" -> "day-collapsed calendar (7-day frame)",
      "q_rsi" -> "day-collapsed calendar (14-day frame)",
      "q_obv" -> "day-collapsed calendar",
      "q_ewma" -> "day-collapsed calendar (14-tap kernel)",
      "q_rolling_median" -> "day-collapsed calendar (7-row frame)",
      "q_running_distinct" -> "day-collapsed calendar (first-seen days)",
      "q_period_over_period" -> "month-collapsed calendar",
      // stratum/bucket/configuration-collapsed: rows = #strata,
      // #histogram buckets, or a literal constant — never corpus-sized
      "q_token_budget_mix" -> "stratum-collapsed (sources × quota rows)",
      "q_temperature_mix" -> "stratum-collapsed (per-source quotas)",
      "q_lorenz_curve" -> "percentile-collapsed (≤100 rows)",
      "q_string_index" -> "dictionary-sized aggregate (25 brands)",
      "q_survival" -> "lifetime-bucket table (span/90 rows)",
      "q_bootstrap_ci" -> "B=100 resample-mean rows",
      "q_gains_deciles" -> "10-row decile table",
      "q_best_split" -> "10-row decile table",
      "q_heaps_law" -> "10-row decile table",
      // post-limit ranking: the window's child is a LIMIT k, so the
      // single task sees exactly k rows by construction
      "q_ndcg" -> "top-10 limited child",
      "q_rbo" -> "top-10 limited child (10-row depth table)",
      "q_zipf_slope" -> "top-1000 limited child"
    )
    def globalWindows(plan: org.apache.spark.sql.execution.SparkPlan) =
      walkPlan(plan).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w.nodeName
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
            if w.partitionSpec.isEmpty => w.nodeName
      }
    val offenders = registryPlans.flatMap {
      case (k, Right(plan)) =>
        val globals = globalWindows(plan)
        if (globals.nonEmpty && !allowed.contains(k))
          Some(k -> globals.head)
        else None
      case _ => None // analysis errors are the cartesian sweep's finding
    }
    assert(offenders.isEmpty,
      s"global (unpartitioned) window over a child with no documented " +
        s"cardinality bound — partition it, pre-collapse the domain, or " +
        s"use ops.Ranks: ${offenders.take(8)}")
    // the allowlist must not outlive its sites: every allowed key still
    // HAS a global window (stale entries would mask a future regression)
    val global = registryPlans.collect {
      case (k, Right(plan)) if globalWindows(plan).nonEmpty => k
    }.toSet
    val stale = allowed.keySet -- global
    assert(stale.isEmpty, s"allowlisted keys with no global window left: $stale")
  }
}
