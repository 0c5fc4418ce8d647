package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{BloomJoin, Privacy, Retrieval, Sessions, TextStats}

/** Semantics of the curation/retrieval/CDC operators on tiny fixtures,
  * plus scale-shape assertions on their sf0.001 plans.
  */
class CurateOpsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // ---- BM25 -------------------------------------------------------------

  test("bm25: only docs containing a query term score, rarer term scores higher") {
    val docs = Seq(
      (0L, "spark spark spark runs fast"),
      (1L, "rare appears here once today"),
      (2L, "nothing relevant in this document")
    ).toDF("doc_id", "text")
    val got = Retrieval.bm25(docs, "doc_id", "text", Seq("spark", "rare"))
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(0L, 1L))
    // Hand check doc 1 / term "rare": tf=1, df=1, N=3, dl=5, avgdl=5:
    // idf = ln(1 + 2.5/1.5); score = idf*2.2/(1+1.2) — both docs share
    // df=1 idf and dl=avgdl, doc 0 has tf=3 > tf=1 so scores higher.
    assert(got(0L) > got(1L))
    val expected1 = math.floor(
      math.log(1.0 + 2.5 / 1.5) * (1.0 * 2.2) / (1.0 + 1.2) * 1e6).toLong
    assert(got(1L) == expected1)
  }

  test("bm25 plan is scan + one single-row stats aggregate (no explode shuffle)") {
    val df = Retrieval.bm25(
      graft.model.Tables.documents(spark, sf), "doc_id", "text",
      Seq("spark", "join"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), "per-term tf must be map-side, not explode")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "corpus stats must come back as a broadcast, not a shuffle join")
  }

  // ---- RRF --------------------------------------------------------------

  test("rrf fuses two rankings with 1/(60+r) weights") {
    val a = Seq((10L, 1), (20L, 2)).toDF("doc_id", "rnk")
    val b = Seq((10L, 2), (20L, 1)).toDF("doc_id", "rnk")
    val got = Retrieval.rrf(a, b, "doc_id")
      .select($"doc_id", $"rrf_e9").as[(Long, Long)].collect().toMap
    val expected = math.floor((1.0 / 61 + 1.0 / 62) * 1e9).toLong
    assert(got(10L) == expected && got(20L) == expected)
  }

  // ---- Sessionization ---------------------------------------------------

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")

  test("sessionize splits on gaps above the threshold, per user") {
    val events = Seq(
      (1L, 100L, ts(0)), (2L, 100L, ts(5)),   // session 1 of user 100
      (3L, 100L, ts(40)),                      // gap 35m > 30m → session 2
      (4L, 200L, ts(1))                        // other user: own session 1
    ).toDF("event_id", "user_id", "ts")
    val got = Sessions.sessionize(events, "user_id", "ts", "event_id", 30)
      .select($"event_id", $"session_seq").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("sessionSummary aggregates counts and integer-micros durations") {
    val events = Seq(
      (1L, 100L, ts(0)), (2L, 100L, ts(5)), (3L, 100L, ts(40))
    ).toDF("event_id", "user_id", "ts")
    val got = Sessions.sessionSummary(events, "user_id", "ts", "event_id", 30)
      .select($"session_seq", $"n_events", $"duration_us")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 300000000L), (2L, 1L, 0L)))
  }

  test("sessionize plans one shuffle: lag and running sum share the sort") {
    val df = Sessions.sessionize(
      graft.model.Tables.events(spark, sf), "user_id", "ts", "event_id", 720)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected a single user_id exchange, plan:\n$plan")
  }

  test("sessionize agrees with Spark's session_window on session structure") {
    // Same gap, same events: gaps-and-islands session count and sizes must
    // equal the session_window aggregate's (the streaming-native form).
    val events = graft.model.Tables.events(spark, sf)
    val gapMin = 720
    val island = graft.ops.Sessions
      .sessionSummary(events, "user_id", "ts", "event_id", gapMin)
      .select($"user_id", $"n_events")
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.toSeq).toMap
    val sw = events
      .groupBy($"user_id", session_window($"ts", s"$gapMin minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"n_events")
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(island == sw)
  }

  // ---- Entropy ----------------------------------------------------------

  test("tokenEntropy: uniform tokens → ln(n); constant tokens → 0") {
    val docs = Seq(
      (0L, "a b c d"),      // 4 distinct → H = ln 4
      (1L, "x x x x"),      // one symbol → H = 0
      (2L, "a a b b")       // two × 2 → H = ln 2
    ).toDF("doc_id", "text")
    val got = TextStats.tokenEntropy(docs, "doc_id", "text")
      .select($"doc_id", $"entropy_e6").as[(Long, Long)].collect().toMap
    assert(got(0L) == math.floor(math.log(4.0) * 1e6).toLong)
    assert(got(1L) == 0L)
    assert(got(2L) == math.floor(math.log(2.0) * 1e6).toLong)
  }

  // ---- Privacy ----------------------------------------------------------

  test("maskProfile pseudonymizes, masks all but last 3 digits, bands balance") {
    val df = Seq((7L, "Customer#000001234", 1234.56))
      .toDF("c_custkey", "c_name", "c_acctbal")
    val row = Privacy.maskProfile(df, "c_custkey", "c_name", "c_acctbal")
      .collect().head
    assert(row.getAs[String]("name_masked") == "Customer#******234")
    assert(row.getAs[Long]("bal_band") == 2L)  // floor(1234.56/500)
    // stable pseudonym: same input → same token
    val again = Privacy.maskProfile(df, "c_custkey", "c_name", "c_acctbal")
      .collect().head
    assert(row.getAs[String]("name_token") == again.getAs[String]("name_token"))
    assert(row.getAs[String]("name_token").matches("[0-9a-f]{64}"))
  }

  test("maskDigitsKeepLast passes short values through unchanged") {
    val got = Seq("ab", "a1c", "12", "9").toDF("s")
      .select(Privacy.maskDigitsKeepLast(col("s"), 3).as("m"))
      .as[String].collect().toSeq
    assert(got == Seq("ab", "a1c", "12", "9"))
  }

  // ---- Bloom semi join --------------------------------------------------

  test("bloom-prefiltered semi join equals the plain semi join") {
    val li = graft.model.Tables.lineitem(spark, sf)
    val urgent = graft.model.Tables.orders(spark, sf)
      .filter($"o_orderpriority" === "1-URGENT")
    val got = BloomJoin.semiJoin(li, urgent, "l_orderkey", "o_orderkey")
      .agg(count(lit(1)), sum($"l_quantity")).as[(Long, Double)].collect().head
    val want = li.join(urgent.select($"o_orderkey".as("l_orderkey")).distinct(),
        Seq("l_orderkey"), "left_semi")
      .agg(count(lit(1)), sum($"l_quantity")).as[(Long, Double)].collect().head
    assert(got == want)
  }

  // ---- Z-score outliers -------------------------------------------------

  test("zscore flags the planted outlier and only it") {
    import graft.queries.CurateOps
    // 20 values at 10.00 plus one at 1000.00 → only the spike has |z| > 3
    val rows = (1L to 20L).map(i => (i, "a", 10.0)) :+ (99L, "a", 1000.0)
    val df = rows.toDF("event_id", "event_type", "value")
    val c = df.select($"event_id", $"event_type",
      round($"value" * 100.0).cast("decimal(38,0)").as("cents"))
    val stats = c.groupBy($"event_type").agg(
      count(lit(1)).as("n"), sum($"cents").as("s1"),
      sum($"cents" * $"cents").as("s2"))
    val mu = col("s1").cast("double") / col("n")
    val varr = col("s2").cast("double") / col("n") - mu * mu
    val z = when(varr > 0.0, (col("cents").cast("double") - mu) / sqrt(varr))
    val out = c.join(broadcast(stats), "event_type").withColumn("z", z)
      .filter(abs(col("z")) > 3.0).select($"event_id").as[Long].collect().toSeq
    assert(out == Seq(99L))
  }

  test("zscore emits nothing for zero-variance groups (guarded, no ANSI divide)") {
    // a singleton group and an all-equal group both have variance 0:
    // the unguarded z = x/0 is an ANSI runtime error; the variance guard
    // turns it into NULL, which fails the threshold on both engines
    val rows = Seq((1L, "solo", 5.0), (2L, "flat", 3.0), (3L, "flat", 3.0))
    val df = rows.toDF("event_id", "event_type", "value")
    val c = df.select($"event_id", $"event_type",
      round($"value" * 100.0).cast("decimal(38,0)").as("cents"))
    val stats = c.groupBy($"event_type").agg(
      count(lit(1)).as("n"), sum($"cents").as("s1"),
      sum($"cents" * $"cents").as("s2"))
    val mu = col("s1").cast("double") / col("n")
    val varr = col("s2").cast("double") / col("n") - mu * mu
    val z = when(varr > 0.0, (col("cents").cast("double") - mu) / sqrt(varr))
    val out = c.join(broadcast(stats), "event_type").withColumn("z", z)
      .filter(abs(col("z")) > 3.0)
      .select($"event_id").as[Long].collect()
    assert(out.isEmpty)
  }

  // ---- CDC shapes -------------------------------------------------------

  test("keep_latest returns exactly the newest event per user") {
    val got = graft.queries.CurateOps.registry("q_keep_latest")(spark, sf)
    val events = graft.model.Tables.events(spark, sf)
    assert(got.count() ==
      events.select($"user_id").distinct().count())
    // spot-check one user against a direct max-ts lookup
    val u = events.select($"user_id").as[Long].head()
    val latest = events.filter($"user_id" === u)
      .orderBy($"ts".desc, $"event_id".desc).select($"event_id").as[Long].head()
    assert(got.filter($"user_id" === u).select($"event_id").as[Long].head()
      == latest)
  }

  test("keep_latest plans a WindowGroupLimit below the exchange") {
    val plan = graft.queries.CurateOps.registry("q_keep_latest")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rn=1 filter must push as a group limit, plan:\n$plan")
  }

  test("scd2 versions tile each user's timeline: to = next from, one current") {
    val got = graft.queries.CurateOps.registry("q_scd2")(spark, sf)
      .select($"user_id", $"valid_from_us", $"valid_to_us", $"is_current")
      .as[(Long, Long, Option[Long], Boolean)].collect()
    val byUser = got.groupBy(_._1)
    byUser.values.foreach { vs =>
      val sorted = vs.sortBy(_._2)
      assert(sorted.count(_._4) == 1 && sorted.last._4, "exactly one current, last")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3.contains(b._2), "interval chain gapless")
        case _ => ()
      }
    }
  }

  test("applyCdc: deletes remove, updates replace, inserts add, reinsert wins") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (1L, "D", null.asInstanceOf[String]),  // delete key 1
      (2L, "U", "b2"),                       // update key 2
      (4L, "I", "d"),                        // insert key 4
      (3L, "D", null.asInstanceOf[String]),  // delete key 3 ...
      (3L, "I", "c2")                        // ... and reinsert: insert wins
    ).toDF("k", "op", "v")
    val got = graft.ops.Sinks.applyCdc(base, changes, Seq("k"), "op")
      .as[(Long, String)].collect().toMap
    assert(got == Map(2L -> "b2", 3L -> "c2", 4L -> "d"))
  }

  test("Observation collects in-flight contract metrics with no extra scan") {
    // data-quality counters ride the SAME job as the real work — the
    // zero-extra-pass health check a 100 TB pipeline attaches to every
    // write (vs. re-scanning the table for a separate contract query)
    val obs = org.apache.spark.sql.Observation("contract")
    val li = graft.model.Tables.lineitem(spark, sf)
    val observed = li.observe(obs,
      count(lit(1)).as("rows_seen"),
      sum(when(!$"l_quantity".between(1.0, 50.0), 1L).otherwise(0L))
        .as("qty_violations"))
    val realWork = observed.groupBy($"l_returnflag").count().collect()
    assert(realWork.nonEmpty)
    val metrics = obs.get
    assert(metrics("rows_seen") == li.count())
    assert(metrics("qty_violations") == 0L)
  }

  test("incremental rollup merge equals the direct full aggregate") {
    val got = graft.queries.CurateOps.registry("q_incr_agg")(spark, sf)
      .as[(String, String, Long, Long)].collect().toSet
    val direct = graft.model.Tables.events(spark, sf)
      .withColumn("day", date_format(to_date($"ts"), "yyyy-MM-dd"))
      .withColumn("cents", round($"value" * 100.0).cast("long"))
      .groupBy($"day", $"event_type")
      .agg(count(lit(1)).as("n_events"), sum($"cents").as("sum_cents"))
      .as[(String, String, Long, Long)].collect().toSet
    assert(got == direct)
  }

  test("data contract rules fire on planted violations") {
    // same rule expressions as q_data_contract, against a dirty fixture
    val li = Seq(
      (1L, 10.0, 0.05, 100.0, "A"),   // clean
      (2L, 99.0, 0.05, 100.0, "N"),   // quantity out of range
      (3L, 10.0, 0.50, 100.0, "R"),   // discount out of range
      (4L, 10.0, 0.05, -5.0, "A"),    // non-positive price
      (5L, 10.0, 0.05, 100.0, "X"),   // flag outside domain
      (99L, 10.0, 0.05, 100.0, "A")   // orphan orderkey
    ).toDF("l_orderkey", "l_quantity", "l_discount", "l_extendedprice",
      "l_returnflag")
    val orders = Seq(1L, 2L, 3L, 4L, 5L).toDF("o_orderkey")
    def viol(name: String, c: org.apache.spark.sql.Column) =
      li.agg(lit(name).as("rule"),
        sum(when(c, 1L).otherwise(0L)).as("n_violations"))
    val got = viol("quantity_in_1_50",
        !$"l_quantity".between(1.0, 50.0) || $"l_quantity".isNull)
      .unionByName(viol("discount_in_0_0p1",
        !$"l_discount".between(0.0, 0.1) || $"l_discount".isNull))
      .unionByName(viol("price_positive",
        $"l_extendedprice" <= 0.0 || $"l_extendedprice".isNull))
      .unionByName(viol("returnflag_in_domain",
        !$"l_returnflag".isin("A", "N", "R") || $"l_returnflag".isNull))
      .unionByName(li.join(orders.select($"o_orderkey".as("l_orderkey")),
          Seq("l_orderkey"), "left_anti")
        .agg(lit("orderkey_fk_exists").as("rule"),
          count(lit(1)).as("n_violations")))
      .as[(String, Long)].collect().toMap
    assert(got == Map(
      "quantity_in_1_50" -> 1L, "discount_in_0_0p1" -> 1L,
      "price_positive" -> 1L, "returnflag_in_domain" -> 1L,
      "orderkey_fk_exists" -> 1L))
  }

  // ---- CSV round trip ---------------------------------------------------

  test("csv source round-trips region losslessly with explicit schema") {
    val path = "target/tmp/curate_spec_csv"
    val region = graft.model.Tables.region(spark, sf)
      .select($"r_regionkey", $"r_name")
    region.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
    val back = spark.read.option("header", "true")
      .schema("r_regionkey INT, r_name STRING").csv(path)
    assert(back.orderBy($"r_regionkey").collect().toSeq ==
      region.orderBy($"r_regionkey").collect().toSeq)
  }

  // ---- PSI drift ---------------------------------------------------------

  test("q_psi_drift: nonnegative contributions, counts partition the corpus") {
    val rows = SparkEntry.queries("q_psi_drift")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty && rows.length <= 10)
    val total = graft.model.Tables.orders(spark, sf).count()
    assert(rows.map(t => t._2 + t._3).sum == total,
      "every order must land in exactly one (bucket, side) cell")
    rows.foreach { case (bucket, _, _, p, qp, psi) =>
      // (p−q) and ln(p/q) always share a sign, so each term is ≥ 0
      assert(psi >= 0L, s"bucket $bucket: negative PSI contribution $psi")
      if (p == qp) assert(psi == 0L)
      assert(p > 0 && qp > 0, "Laplace smoothing must keep both sides positive")
    }
  }

  // ---- Unicode normalization -------------------------------------------

  test("novelty, OOV, and doc-filter invariants hold on the corpus") {
    import spark.implicits._
    // the first doc (lowest doc_id) can share no shingle with an
    // EARLIER doc, so its novelty is exactly 100%
    val nov = SparkEntry.queries("q_ngram_novelty")(spark, sf).cache()
    val firstDoc = nov.agg(min($"doc_id")).as[Long].head()
    assert(nov.filter($"doc_id" === firstDoc).select($"novel_ppm")
      .as[Long].head() == 1000000L)
    assert(nov.filter($"n_novel" > $"n_shingles" || $"n_novel" < 0).count() == 0)
    nov.unpersist()
    val oov = SparkEntry.queries("q_oov_rate")(spark, sf).cache()
    assert(oov.filter($"n_oov" > $"n_words" || $"oov_ppm" > 1000000L).count() == 0)
    oov.unpersist()
    // keep implies every flag; flags are 0/1
    val f = SparkEntry.queries("q_doc_filter")(spark, sf).cache()
    val flags = Seq("f_words", "f_wordlen", "f_ttr", "f_rep", "f_stop")
    flags.foreach { c =>
      assert(f.filter(col(c) =!= 0L && col(c) =!= 1L).count() == 0, c)
      assert(f.filter($"keep" === 1L && col(c) === 0L).count() == 0, s"keep without $c")
    }
    f.unpersist()
  }

  test("token-budget mix fills every source to its quota, crossing doc included") {
    import spark.implicits._
    val got = SparkEntry.queries("q_token_budget_mix")(spark, sf)
    val docs = graft.model.Tables.documents(spark, sf)
    // every source present in the corpus appears in the mix (quota ≥ 1
    // doc's worth once greatest(1, …) floors the tiny sources)
    val srcAll = docs.select($"source").distinct().as[String].collect().toSet
    val srcMix = got.select($"source").distinct().as[String].collect().toSet
    assert(srcMix == srcAll)
    // fill semantics: within a source, every kept doc started below the
    // quota (cum − n < quota) and the LAST kept doc either crosses the
    // quota or the source ran out of documents
    val last = got.groupBy($"source")
      .agg(max($"cum_toks").as("filled"),
        max(struct($"cum_toks", $"n_toks")).as("lastDoc"),
        count(lit(1)).as("n_kept"))
      .select($"source", $"filled", $"lastDoc.n_toks".as("last_n"), $"n_kept")
    val totals = docs
      .select($"source", size(split($"text", " ")).cast("long").as("n"))
      .groupBy($"source").agg(sum($"n").as("avail"), count(lit(1)).as("n_docs"))
    val joined = last.join(totals, "source")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    // recompute the quotas with the op's own formula (√ token mass,
    // sequential fold in source order, floor to BIGINT, min 1)
    val bySrc = joined.sortBy(_._1)
    val ws = bySrc.map { case (_, _, _, _, avail, _) => math.sqrt(avail.toDouble) }
    val totalW = ws.foldLeft(0.0)(_ + _)
    bySrc.zip(ws).foreach { case ((src, filled, lastN, nKept, avail, nDocs), w) =>
      val quota = math.max(1L, math.floor(10000.0 * (w / totalW)).toLong)
      assert(filled <= avail, s"$src kept more tokens than exist")
      assert(filled - lastN < quota, s"$src kept a doc past the met budget")
      // if the source still had unkept docs, the kept set reached the quota
      if (nKept < nDocs) assert(filled >= quota, s"$src under-filled: $filled < $quota")
    }
  }

  test("nfc_normalize recomposes combining marks; identity on normalized input") {
    graft.functions.Catalog.register(spark)
    // "é" decomposed (e + U+0301) vs precomposed (U+00E9): NFC must make
    // them THE SAME string — the property the corpus (ASCII) can't test
    val decomposed = "Cafe\u0301"
    val precomposed = "Caf\u00e9"
    val got = Seq((1, decomposed), (2, precomposed), (3, "plain ascii"))
      .toDF("id", "s")
      .selectExpr("id", "nfc_normalize(s) AS n")
      .orderBy($"id").collect().map(_.getString(1))
    assert(got(0) == precomposed, "decomposed form must recompose under NFC")
    assert(got(1) == precomposed)
    assert(got(2) == "plain ascii")
    // null-safety through UnaryExpression's default handling
    val nulls = Seq((1, null: String)).toDF("id", "s")
      .selectExpr("nfc_normalize(s) AS n").collect()
    assert(nulls.head.isNullAt(0))
    // q_text_normalize end-to-end: lowercase, punctuation collapsed,
    // trimmed — 'Customer#000000007' → 'customer 000000007'
    val norm = SparkEntry.queries("q_text_normalize")(spark, sf).collect()
    assert(norm.forall { r =>
      val s = r.getString(1)
      s == s.trim && s == s.toLowerCase && !s.exists(c => c == '#')
    })
    // the full pipeline must collapse the two encodings to ONE key:
    // NFC runs before the strip, so decomposed 'e'+U+0301 first
    // recomposes to U+00E9 and both forms strip identically — applying
    // NFC after the strip would leave 'cafe' vs 'caf'
    val pipeline = "trim(regexp_replace(lower(nfc_normalize(s)), '[^a-z0-9]+', ' '))"
    val keys = Seq((1, decomposed), (2, precomposed)).toDF("id", "s")
      .selectExpr(s"$pipeline AS k").collect().map(_.getString(0))
    assert(keys(0) == keys(1),
      s"encoding variants fragment into '${keys(0)}' vs '${keys(1)}'")
  }

  test("q_ndcg: DCG never exceeds IDCG and matches a brute-force recompute") {
    val r = SparkEntry.queries("q_ndcg")(spark, sf).collect()(0)
    val (nCand, dcg, idcg, ndcg) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(dcg <= idcg && ndcg <= 1000000L && ndcg >= 0L)
    // brute force: same pools, same tie-breaks, same per-position floor
    val terms = Seq("spark", "join", "window")
    val docs = graft.model.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(x => (x.getLong(0), x.getString(1).split(" ", -1)))
    val rel = docs.map { case (id, toks) =>
      (id, terms.count(t => toks.contains(t)).toLong)
    }.filter(_._2 > 0)
    assert(rel.length.toLong == nCand)
    val scores = SparkEntry.queries("q_bm25")(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    def gains(order: Seq[(Long, Long)]) = order.take(10).zipWithIndex.map {
      case ((_, rl), i) =>
        math.floor(1e6 * (math.pow(2.0, rl.toDouble) - 1.0) /
          (math.log(i + 2.0) / math.log(2.0))).toLong
    }.sum
    val byScore = rel.sortBy { case (id, _) => (-scores(id), id) }.toSeq
    val byRel = rel.sortBy { case (id, rl) => (-rl, id) }.toSeq
    assert(gains(byScore) == dcg, "DCG mismatch vs brute force")
    assert(gains(byRel) == idcg, "IDCG mismatch vs brute force")
  }

  test("q_ref_integrity: all seven FK edges report true row counts and zero orphans") {
    val rows = SparkEntry.queries("q_ref_integrity")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows.map(_._1).sorted == Seq("customer.nationkey",
      "lineitem.orderkey", "lineitem.partkey", "lineitem.suppkey",
      "nation.regionkey", "orders.custkey", "supplier.nationkey"))
    val li = graft.model.Tables.lineitem(spark, sf).count()
    assert(rows.filter(_._1.startsWith("lineitem")).forall(_._2 == li))
    assert(rows.find(_._1 == "orders.custkey").get._2 ==
      graft.model.Tables.orders(spark, sf).count())
    // the generated corpus is referentially clean — zero IS the contract
    assert(rows.forall(_._3 == 0L),
      s"orphans found: ${rows.filter(_._3 != 0L).mkString(",")}")
  }
}
