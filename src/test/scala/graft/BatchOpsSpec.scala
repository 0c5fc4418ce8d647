package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the round-2 breadth operators (full outer join, unpivot,
  * RANGE-frame window, sequence packing, token chunking) — invariants the
  * DuckDB differential check can't express directly.
  */
class BatchOpsSpec extends AnyFunSuite {
  import TestSpark._

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("nearest join picks the closer side and breaks exact ties backward") {
    import spark.implicits._
    import java.sql.Timestamp
    def ev(id: Long, ts: String, typ: String) =
      (id, Timestamp.valueOf(ts), 1L, typ, 1.0, "{}")
    val rows = Seq(
      ev(1, "2024-01-01 10:00:00", "view"),   // 10 min before purchase A
      ev(2, "2024-01-01 10:10:00", "purchase"), // A: after-view is closer
      ev(3, "2024-01-01 10:15:00", "view"),   // 5 min after purchase A
      ev(4, "2024-01-01 11:00:00", "view"),   // 30 min before purchase B
      ev(5, "2024-01-01 11:30:00", "purchase"), // B: exact tie → backward
      ev(6, "2024-01-01 12:00:00", "view"),   // 30 min after purchase B
      ev(7, "2024-01-01 13:00:00", "purchase")  // C: only a before-view
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // same window composition as qJoinNearest, driven on the fixture
    // (the registered key is private; its invariants are asserted below)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val got = rows
      .withColumn("prev_view_ts", last(when(col("event_type") === "view",
        col("ts")), ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("next_view_ts", first(when(col("event_type") === "view",
        col("ts")), ignoreNulls = true)
        .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .filter(col("event_type") === "purchase")
      .withColumn("nearest_view_ts",
        when(col("prev_view_ts").isNull, col("next_view_ts"))
          .when(col("next_view_ts").isNull, col("prev_view_ts"))
          .when(unix_micros(col("ts")) - unix_micros(col("prev_view_ts")) <=
            unix_micros(col("next_view_ts")) - unix_micros(col("ts")),
            col("prev_view_ts"))
          .otherwise(col("next_view_ts")))
      .select(col("event_id"), col("nearest_view_ts"))
      .as[(Long, Timestamp)].collect().toMap
    assert(got(2L) == Timestamp.valueOf("2024-01-01 10:15:00")) // closer after
    assert(got(5L) == Timestamp.valueOf("2024-01-01 11:00:00")) // tie → before
    assert(got(7L) == Timestamp.valueOf("2024-01-01 12:00:00")) // only before/after side
    // registered key: every purchase row survives; gap is non-negative
    val reg = q("q_join_nearest").cache()
    assert(reg.filter(col("gap_us") < 0).count() == 0)
    assert(reg.count() ==
      graft.model.Tables.events(spark, sf)
        .filter(col("event_type") === "purchase").count())
    reg.unpersist()
  }

  test("hard negatives all carry a different label and rank the negative set") {
    import spark.implicits._
    // 2-d fixture: query q (label 0) at (1, 0); nearest overall is p1
    // (label 0, same) at (0.99, 0.14) which must be SKIPPED; the top
    // negatives are the label-1 vectors ordered by cosine.
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (10L, Array(0.99f, 0.14f), 0),  // same label: excluded
      (11L, Array(0.9f, 0.43f), 1),   // negative, cos ≈ 0.90
      (12L, Array(0.7f, 0.71f), 1),   // negative, cos ≈ 0.70
      (13L, Array(0.0f, 1.0f), 1)     // negative, cos = 0
    ).toDF("vec_id", "embedding", "label")
    val got = graft.ops.Similarity.hardNegatives(
        emb.filter($"vec_id" >= 10), emb.filter($"vec_id" === 1), "vec_id",
        "embedding", "label", k = 2)
      .select($"rnk", $"n_id", $"n_label").as[(Int, Long, Int)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1, 11L, 1), (2, 12L, 1)), s"got $got")
  }

  test("q_join_full keeps unmatched rows of both sides") {
    val df = q("q_join_full").cache()
    assert(df.filter(col("c_name").isNull).count() > 0, "right-only rows")
    assert(df.filter(col("n_big").isNull).count() > 0, "left-only rows")
    // custkey is the coalesced join key: never null, unique
    assert(df.filter(col("custkey").isNull).count() == 0)
    assert(df.select("custkey").distinct().count() == df.count())
    df.unpersist()
  }

  test("q_unpivot emits one row per (key, metric) and round-trips values") {
    val parts = graft.model.Tables.part(spark, sf).count()
    val df = q("q_unpivot").cache()
    assert(df.count() == 2 * parts)
    val back = df.groupBy("p_partkey").pivot("metric", Seq("size", "retail"))
      .agg(first("val"))
    val orig = graft.model.Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_size").cast("double").as("size"),
        col("p_retailprice").as("retail"))
    assert(back.exceptAll(orig).count() == 0 && orig.exceptAll(back).count() == 0)
    df.unpersist()
  }

  test("q_window_range trailing sum is bounded by the per-user total") {
    val df = q("q_window_range")
    val totals = graft.model.Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(sum(round(col("value") * 100.0).cast("long")).as("total_cents"))
    val bad = df.join(totals, "user_id")
      .filter(col("trail_cents") > col("total_cents") ||
        col("trail_cents") <= 0)
    assert(bad.count() == 0)
  }

  test("Ranks.globalRowNumber equals a global window row_number (total order)") {
    val ev = graft.model.Tables.events(spark, sf).select(col("event_id"), col("value"))
    val order = Seq(col("value").desc, col("event_id").asc)
    val got = graft.ops.Ranks.globalRowNumber(ev, order, "rnk", partitions = 7)
      .select("event_id", "rnk").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = ev.withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(order: _*)))
      .select("event_id", "rnk").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == want)
  }

  test("Ranks.globalRunningSum equals a global running-sum window") {
    val ev = graft.model.Tables.events(spark, sf)
      .select(col("event_id"),
        round(col("value") * 100.0).cast("long").as("cents"))
    val order = Seq(col("event_id").asc)
    val got = graft.ops.Ranks.globalRunningSum(ev, order, col("cents"), "cum",
        partitions = 7)
      .select("event_id", "cum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = org.apache.spark.sql.expressions.Window.orderBy(order: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val want = ev.withColumn("cum", sum(col("cents")).over(w))
      .select("event_id", "cum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("q_pack_sequences: packs are contiguous in doc order and start at 0") {
    val rows = q("q_pack_sequences")
      .select("doc_id", "n_tokens", "pack_id")
      .collect().sortBy(_.getLong(0))
    assert(rows.head.getLong(2) == 0L)
    // pack_id is nondecreasing and the exclusive-cum definition holds
    var cum = 0L
    rows.foreach { r =>
      assert(r.getLong(2) == cum / 512, s"doc ${r.getLong(0)}")
      cum += r.getInt(1)
    }
  }

  test("q_chunk_tokens: chunk 0 prefixes the doc; strides cover every token") {
    val docs = graft.model.Tables.documents(spark, sf)
      .select("doc_id", "text")
    val chunks = q("q_chunk_tokens")
    val joined = chunks.join(docs, "doc_id").cache()
    // first chunk is a prefix of the document text
    val badPrefix = joined.filter(col("chunk_idx") === 0 &&
      !col("text").startsWith(col("chunk_text")))
    assert(badPrefix.count() == 0)
    // per doc: chunk count = ceil(n_tokens / 16) (stride 16 over n-1 max start)
    val counts = joined.groupBy(col("doc_id"),
        size(split(col("text"), " ")).as("n"))
      .agg(countDistinct(col("chunk_idx")).as("n_chunks"))
      .filter(col("n_chunks") =!= ceil(col("n") / lit(16.0)).cast("long"))
    assert(counts.count() == 0)
    joined.unpersist()
  }

  test("percentile_approx degenerates to the exact discrete quantile at high accuracy") {
    // the approximate-percentile analog of q_ann_ivf_exhaustive: with
    // rank error < 1 row (accuracy >> n), the sketch MUST return an
    // exact order statistic — checked against Quantiles' two-scan exact
    // answer at p = 1/2 and 9/10 per event type
    val base = graft.model.Tables.events(spark, sf)
      .select(col("event_type"), round(col("value") * 100.0).cast("long").as("cents"))
    Seq((1L, 2L), (9L, 10L)).foreach { case (num, den) =>
      val approx = base.groupBy("event_type")
        .agg(expr(s"percentile_approx(cents, ${num.toDouble / den}, 10000000)")
          .as("q"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = graft.ops.Quantiles
        .quantileAt(base, "event_type", col("cents"), num, den, "q")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(approx == exact, s"p=$num/$den")
    }
  }

  test("q_hll_merge: merged daily sketches track exact weekly cardinality") {
    val ev = graft.model.Tables.events(spark, sf).select(
      expr("datediff(to_date(ts), DATE '2024-01-01') DIV 7").as("week"),
      col("user_id"))
    val exact = ev.groupBy("week")
      .agg(countDistinct("user_id").as("exact_users"))
    val got = q("q_hll_merge").join(exact, "week").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (approx, ex) = (r.getAs[Long]("approx_users"), r.getAs[Long]("exact_users"))
      assert(math.abs(approx - ex) <= math.max(1L, (ex * 0.05).toLong),
        s"week ${r.get(0)}: approx $approx vs exact $ex")
    }
  }

  test("q_approx_distinct: HLL estimate within 3x its rsd of the exact count") {
    val exact = graft.model.Tables.lineitem(spark, sf).groupBy("l_returnflag")
      .agg(countDistinct("l_orderkey").as("exact_orders"))
    val got = q("q_approx_distinct").join(exact, "l_returnflag").collect()
    assert(got.length == exact.count())
    got.foreach { r =>
      val (approx, ex) = (r.getAs[Long]("approx_orders"), r.getAs[Long]("exact_orders"))
      assert(math.abs(approx - ex) <= 3 * 0.02 * ex,
        s"flag ${r.get(0)}: approx $approx vs exact $ex")
    }
  }

  test("q_approx_percentile: p50 and p99 rank error within ceil(n/accuracy) per group") {
    // a returned value v covers the 1-based ranks (#below v, #at-or-below v];
    // its rank error is the distance from that range to the target q·n.
    // Ranks are whole, so the sketch's ε·n bound (ε = 1/accuracy) holds
    // rounded up to a whole rank
    val li = graft.model.Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_extendedprice"))
    val got = q("q_approx_percentile").collect()
    assert(got.length == li.select("l_returnflag").distinct().count())
    got.foreach { r =>
      val flag = r.getAs[String]("l_returnflag")
      val xs = li.filter(col("l_returnflag") === flag)
      val n = xs.count()
      Seq(0.5 -> "p50_price", 0.99 -> "p99_price").foreach { case (p, c) =>
        val v = r.getAs[Double](c)
        val row = xs.agg(
          count(when(col("l_extendedprice") < v, 1)),
          count(when(col("l_extendedprice") <= v, 1))).head()
        val (below, atOrBelow) = (row.getLong(0), row.getLong(1))
        val target = p * n
        val err = math.max(0.0, math.max(below + 1 - target, target - atOrBelow))
        assert(err <= math.ceil(n / 1000.0), s"flag $flag $c=$v: ranks ($below, $atOrBelow] " +
          s"vs target $target of $n")
      }
    }
  }

  test("q_current_ts: every ingested_at lies inside the action's wall-clock bracket") {
    import java.time.{Instant, LocalDateTime, ZoneId}
    import java.time.temporal.ChronoUnit
    val zone = ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    val df = q("q_current_ts")
    // the rendering keeps whole seconds, so the bracket opens on one
    val before = Instant.now().truncatedTo(ChronoUnit.SECONDS)
    val got = df.collect()
    val after = Instant.now()
    assert(got.length == graft.model.Tables.events(spark, sf).count())
    got.foreach { r =>
      val s = r.getAs[String]("ingested_at")
      assert(s.endsWith("Z"), s)
      val t = LocalDateTime.parse(s.dropRight(1)).atZone(zone).toInstant
      assert(!t.isBefore(before) && !t.isAfter(after),
        s"event ${r.get(0)}: ingested_at $s outside [$before, $after]")
    }
  }

  test("Ivm.maintain equals the direct join on every delta corner") {
    import spark.implicits._
    // bag semantics matter: duplicate keys on both sides must fan out
    // identically through the delta algebra and the direct join
    val aBase = Seq((1L, "a1"), (2L, "a2"), (2L, "a2b")).toDF("k", "av")
    val aDelta = Seq((2L, "a3"), (4L, "a4")).toDF("k", "av")
    val bBase = Seq((1L, "b1"), (2L, "b2")).toDF("k", "bv")
    val bDelta = Seq((2L, "b3"), (4L, "b4")).toDF("k", "bv")
    val empty = aBase.limit(0)
    val emptyB = bBase.limit(0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
        .sortBy(_.mkString("|"))
    val cases = Seq(
      ("both sides", aDelta, bDelta),
      ("a only", aDelta, emptyB),
      ("b only", empty, bDelta),
      ("no deltas", empty, emptyB))
    for ((name, da, db) <- cases) {
      val view = aBase.join(bBase, Seq("k"))
      val maintained = graft.ops.Ivm.maintain(view, aBase, da, bBase, db, Seq("k"))
      val direct = aBase.unionByName(da).join(bBase.unionByName(db), Seq("k"))
      assert(rows(maintained) == rows(direct), s"corner: $name")
    }
  }

  test("KLL sketches re-aggregate: banded merge equals direct sketching") {
    // the mergeable-quantile contract: sketching fine partitions and
    // merging must answer the coarse grain identically to sketching it
    // directly (exact regime: every group under k=200 items)
    graft.functions.Catalog.register(spark)
    val c = graft.model.Tables.customer(spark, sf)
      .select(col("c_nationkey"),
        expr("CAST(round(c_acctbal * 100.0) AS BIGINT)").as("cents"))
    def quantiles(skCol: org.apache.spark.sql.DataFrame) = skCol
      .select(col("c_nationkey"),
        expr("kll_sketch_quantile(sk, CAST(0.25 AS DOUBLE))").as("p25"),
        expr("kll_sketch_quantile(sk, CAST(0.5 AS DOUBLE))").as("p50"),
        expr("kll_sketch_quantile(sk, CAST(0.75 AS DOUBLE))").as("p75"))
      .collect().map(r => r.get(0) -> (r.get(1), r.get(2), r.get(3))).toMap
    val direct = quantiles(c.groupBy("c_nationkey")
      .agg(expr("kll_sketch_agg(cents, 200)").as("sk")))
    val banded = quantiles(c.withColumn("band", col("cents") % 4L)
      .groupBy("c_nationkey", "band")
      .agg(expr("kll_sketch_agg(cents, 200)").as("sk"))
      .groupBy("c_nationkey")
      .agg(expr("kll_merge_agg(sk, 200)").as("sk")))
    assert(direct.nonEmpty && direct == banded)
  }

  test("q_hll_merge: daily→weekly merge equals direct weekly sketching") {
    // the re-aggregation contract: merging partition sketches must give
    // the same estimate as sketching the coarser grain directly
    val ev = graft.model.Tables.events(spark, sf).select(
      expr("datediff(to_date(ts), DATE '2024-01-01') DIV 7").as("week"),
      col("user_id"))
    val direct = ev.groupBy("week")
      .agg(expr("CAST(hll_sketch_estimate(hll_sketch_agg(user_id, 14)) AS BIGINT)")
        .as("direct_users"))
    val merged = q("q_hll_merge")
    val diff = merged.join(direct, "week")
      .filter(col("approx_users") =!= col("direct_users"))
    assert(diff.count() == 0, "sketch merge must be associative")
  }

  test("q_window_dist integer ppm ratios agree with the float built-ins") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("cents")
    val ref = graft.model.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"),
        expr("CAST(round(value * 100.0) AS BIGINT)").as("cents"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(3), r.getDouble(4))).toMap
    q("q_window_dist").collect().foreach { r =>
      val (id, pr6, cd6) = (r.getLong(0), r.getLong(3), r.getLong(4))
      val (pr, cd) = ref(id)
      // exact integer DIV vs float floor: equal up to one ulp-induced ppm
      assert(math.abs(pr6 - math.floor(pr * 1e6).toLong) <= 1L,
        s"event $id percent_rank: $pr6 vs float $pr")
      assert(math.abs(cd6 - math.floor(cd * 1e6).toLong) <= 1L,
        s"event $id cume_dist: $cd6 vs float $cd")
    }
  }
}
