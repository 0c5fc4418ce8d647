package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.nfc
import graft.model.Tables
import graft.ops.{BloomJoin, Privacy, Retrieval, Sessions, TextStats}

/** Curation / retrieval / warehouse-maintenance surface: BM25 scoring,
  * reciprocal-rank fusion, batch sessionization, token entropy, PII
  * de-identification, Bloom-prefiltered semi join, exact-moment z-score
  * outliers, CDC keep-latest + SCD2 + incremental rollup refresh,
  * √n temperature mixing, a data-contract validator, and CSV/ORC/text
  * source round-trips.
  *
  * Determinism posture matches the rest of the registry: float exports as
  * scaled integers, integer arithmetic wherever an aggregate crosses a
  * partition boundary (exact under any order), and fixed-operation-order
  * float formulas mirrored token-for-token by the oracles.
  */
object CurateOps {
  private type Q = (SparkSession, String) => DataFrame

  /** Query-term set for the retrieval demos — mid-frequency corpus tokens. */
  private val Terms = Seq("spark", "join", "window")

  private val qBm25: Q = (s, d) =>
    Retrieval.bm25(Tables.documents(s, d), "doc_id", "text", Terms)
      .orderBy(col("doc_id"))

  /** Rank-biased overlap (p = 0.9, truncated at depth 10, no residual)
    * between the BM25 ranking and the plain term-frequency ranking of
    * the same query — the top-weighted ranking-agreement score a
    * retrieval stack reports when swapping scorers (`q_ndcg` grades one
    * ranking against relevance; RBO compares two rankings against each
    * other). ENTIRELY integer: (1−p)·p^(d−1) with p = 9/10 is the
    * rational 9^(d−1)/10^d, so each depth's weight is the exact BIGINT
    * 9^(d−1)·10^(10−d) on the e10 grid, the per-depth term is
    * overlap·weight DIV d, and the cumulative sum is order-independent —
    * no float anywhere (Webber et al.'s formulation with the p-powers
    * cleared of floats by scaling). Both top-10s are
    * TakeOrderedAndProject; every window scans ≤ 10 rows; candidate
    * pools coincide (BM25's non-negative idf keeps score > 0 ⟺ any
    * query term present ⟺ tfsum > 0).
    */
  private val qRbo: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val topA = Retrieval.bm25(docs, "doc_id", "text", Terms)
      .orderBy(col("bm25_e6").desc, col("doc_id").asc).limit(10)
      .withColumn("ra", row_number().over(
        Window.orderBy(col("bm25_e6").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("ra"))
    val tfsum = Terms.map(t =>
      size(filter(col("toks"), x => x === lit(t)))).reduce(_ + _)
    val topB = docs.withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), tfsum.cast("long").as("tfsum"))
      .filter(col("tfsum") > 0L)
      .orderBy(col("tfsum").desc, col("doc_id").asc).limit(10)
      .withColumn("rb", row_number().over(
        Window.orderBy(col("tfsum").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("rb"))
    val j = topA.join(topB, Seq("doc_id"), "full_outer")
      .select(coalesce(col("ra"), lit(99L)).as("ra"),
        coalesce(col("rb"), lit(99L)).as("rb"))
    val depths = s.range(1, 11).select(col("id").as("depth"))
    val x = depths.join(broadcast(j),
        col("ra") <= col("depth") && col("rb") <= col("depth"), "left")
      .groupBy("depth")
      .agg(sum(when(col("ra").isNotNull, 1L).otherwise(0L)).as("overlap"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("depth")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    x.withColumn("weight_e10", expr(
        """CASE depth WHEN 1 THEN 1000000000 WHEN 2 THEN 900000000
          |WHEN 3 THEN 810000000 WHEN 4 THEN 729000000
          |WHEN 5 THEN 656100000 WHEN 6 THEN 590490000
          |WHEN 7 THEN 531441000 WHEN 8 THEN 478296900
          |WHEN 9 THEN 430467210 ELSE 387420489 END""".stripMargin))
      .withColumn("term_e10", expr("overlap * weight_e10 DIV depth"))
      .withColumn("rbo_cum_e10", sum("term_e10").over(w))
      .select(col("depth"), col("overlap"), col("term_e10"),
        col("rbo_cum_e10"))
      .orderBy("depth")
  }

  /** nDCG@10 of the BM25 ranking against a graded relevance proxy
    * (number of distinct query terms present, 0..|Terms|) — the
    * ranking-quality score a retrieval stack reports before swapping
    * scorers. Both rankings are exact integer orders (bm25_e6 with
    * doc_id tie-break; rel with doc_id tie-break for the ideal), the
    * candidate pool is identical on both engines (score > 0 ⟺ rel > 0
    * under the non-negative idf), and each position's gain
    * (2^rel − 1)/log2(pos+1) is floored to e6 BEFORE the sum — the
    * `q_mutual_info` order-independence discipline, so the two 10-term
    * totals never depend on aggregation order. Top-10 via
    * TakeOrderedAndProject; the only windows rank the ten selected
    * rows.
    */
  /** Mean reciprocal rank of the BM25 ranking: the rank of the FIRST
    * relevant document (any query term present), as 10⁶/rank — the
    * metric behind "how far does a user scroll before the first hit".
    * Window-free by construction: the best-ranked relevant doc is a
    * max(struct) aggregate (bm25 desc, doc_id asc tie), and its rank is
    * 1 + the count of scored docs strictly ahead of it — two scalar
    * aggregates and a broadcast, no global sort of the corpus at all
    * (the shape that survives a 10⁹-doc corpus where a row_number over
    * all scored docs would not).
    */
  private val qMrr: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val scored = Retrieval.bm25(docs, "doc_id", "text", Terms)
    val rel = docs.withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        Terms.map(t => (size(filter(col("toks"), x => x === lit(t))) > 0)
          .cast("long")).reduce(_ + _).as("rel"))
      .filter(col("rel") > 0L)
    val best = scored.join(rel, "doc_id")
      .agg(max(struct(col("bm25_e6"), (-col("doc_id")).as("neg_id"))).as("b"))
      .select(col("b.bm25_e6").as("best_e6"), (-col("b.neg_id")).as("best_doc"))
    scored.crossJoin(broadcast(best))
      .groupBy("best_doc", "best_e6")
      .agg(sum(when(col("bm25_e6") > col("best_e6") ||
          (col("bm25_e6") === col("best_e6") &&
            col("doc_id") < col("best_doc")), 1L).otherwise(0L))
        .as("n_ahead"))
      .select(col("best_doc"), col("best_e6"),
        (col("n_ahead") + 1L).as("first_rel_rank"),
        expr("1000000 DIV (n_ahead + 1)").as("mrr_ppm"))
      .orderBy("best_doc")
  }

  /** Precision and recall at 10 of the BM25 ranking against the
    * any-term relevance set — the cutoff-quality pair next to
    * `q_ndcg`'s graded score. Top-10 via TakeOrderedAndProject
    * (distributed top-k, never a global sort); relevance arrives as a
    * left join onto ten rows; the relevant-total is a scalar broadcast.
    */
  private val qPrecisionAtK: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val scored = Retrieval.bm25(docs, "doc_id", "text", Terms)
    val rel = docs.withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        Terms.map(t => (size(filter(col("toks"), x => x === lit(t))) > 0)
          .cast("long")).reduce(_ + _).as("rel"))
      .filter(col("rel") > 0L)
    val top = scored.orderBy(col("bm25_e6").desc, col("doc_id").asc).limit(10)
    top.join(rel, Seq("doc_id"), "left")
      .agg(count(lit(1)).as("k"),
        sum(when(col("rel").isNotNull, 1L).otherwise(0L)).as("rel_at_k"))
      .crossJoin(broadcast(rel.agg(count(lit(1)).as("n_rel"))))
      .select(col("k"), col("rel_at_k"), col("n_rel"),
        expr("1000000 * rel_at_k DIV k").as("p_at_k_ppm"),
        expr("1000000 * rel_at_k DIV n_rel").as("recall_at_k_ppm"))
      .orderBy("k")
  }

  private val qNdcg: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val scored = Retrieval.bm25(docs, "doc_id", "text", Terms)
    val rel = docs.withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        Terms.map(t => (size(filter(col("toks"), x => x === lit(t))) > 0)
          .cast("long")).reduce(_ + _).as("rel"))
      .filter(col("rel") > 0L)
    val cand = scored.join(rel, "doc_id")
    def gain(pos: org.apache.spark.sql.Column) =
      floor(lit(1000000.0) * (pow(lit(2.0), col("rel")) - lit(1.0)) /
        log2(pos.cast("double") + lit(1.0))).cast("long")
    val dcg = cand.orderBy(col("bm25_e6").desc, col("doc_id").asc).limit(10)
      .withColumn("pos",
        row_number().over(Window.orderBy(col("bm25_e6").desc, col("doc_id").asc)))
      .agg(sum(gain(col("pos"))).as("dcg_e6"))
    val idcg = cand.orderBy(col("rel").desc, col("doc_id").asc).limit(10)
      .withColumn("pos",
        row_number().over(Window.orderBy(col("rel").desc, col("doc_id").asc)))
      .agg(sum(gain(col("pos"))).as("idcg_e6"))
    cand.agg(count(lit(1)).as("n_candidates"))
      .crossJoin(broadcast(dcg)).crossJoin(broadcast(idcg))
      .select(col("n_candidates"), col("dcg_e6"), col("idcg_e6"),
        expr("1000000 * dcg_e6 DIV idcg_e6").as("ndcg_ppm"))
      .orderBy("n_candidates")
  }

  /** RRF over two independent rankings: lexical (tf of 'spark', then
    * doc_id) and a length prior (n_chars desc). Both rankings use the
    * distributed range-partitioned rank ([[graft.ops.Ranks]]) — no
    * single-partition window anywhere in the plan (PlanSpec pins this),
    * so the ranking stage scales with the corpus.
    */
  private val qRrfFusion: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val a = graft.ops.Ranks.globalRowNumber(
      docs.withColumn("tf",
          size(filter(split(col("text"), " "), x => x === lit("spark"))))
        .select(col("doc_id"), col("tf")),
      Seq(col("tf").desc, col("doc_id").asc), "rnk")
      .select(col("doc_id"), col("rnk"))
    val b = graft.ops.Ranks.globalRowNumber(
      docs.select(col("doc_id"), col("n_chars")),
      Seq(col("n_chars").desc, col("doc_id").asc), "rnk")
      .select(col("doc_id"), col("rnk"))
    Retrieval.rrf(a, b, "doc_id")
      .orderBy(col("rrf_e9").desc, col("doc_id").asc)
      .limit(50)
  }

  /** Batch gaps-and-islands sessionization of the events stream (12 h
    * inactivity gap) — the offline mirror of `q_stream_session`.
    */
  private val qSessionize: Q = (s, d) =>
    Sessions.sessionSummary(Tables.events(s, d), "user_id", "ts",
        "event_id", gapMinutes = 720)
      .orderBy(col("user_id"), col("session_seq"))

  private val qEntropy: Q = (s, d) =>
    TextStats.tokenEntropy(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))

  private val qPiiMask: Q = (s, d) =>
    Privacy.maskProfile(Tables.customer(s, d), "c_custkey", "c_name",
        "c_acctbal")
      .orderBy(col("c_custkey"))

  /** Bloom-prefiltered semi join: lineitem rows of urgent orders. The
    * sketch prunes the probe side map-side before its shuffle; the exact
    * semi join removes Bloom false positives, so the result equals the
    * plain semi join the oracle runs.
    */
  private val qJoinBloom: Q = (s, d) => {
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
    BloomJoin.semiJoin(Tables.lineitem(s, d), urgent,
        "l_orderkey", "o_orderkey", expectedItems = 1L << 20)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).cast("long").as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** Per-group z-score outliers (|z| > 3) on price, computed from EXACT
    * integer moments: prices become cents (exact in decimal/hugeint), so
    * Σx and Σx² are bit-exact under any aggregation order and the final
    * float formula is evaluated once, identically, on both engines — no
    * Welford-vs-naive stddev drift, no summation-order boundary risk.
    */
  private val qZscoreOutliers: Q = (s, d) => {
    val c = Tables.events(s, d).select(
      col("event_id"), col("event_type"),
      round(col("value") * 100.0).cast("decimal(38,0)").as("cents"))
    val stats = c.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("cents")).as("s1"),
      sum(col("cents") * col("cents")).as("s2"))
    val mu = col("s1").cast("double") / col("n")
    val varr = col("s2").cast("double") / col("n") - mu * mu
    // Degenerate (zero/negative-variance) groups must yield NULL, not a
    // divide: ANSI mode makes x/0 a runtime error, and an unguarded
    // DuckDB NaN would sort above the threshold — the guard is mirrored
    // token-for-token in the oracle so both engines drop the same rows.
    val z = when(varr > 0.0,
      (col("cents").cast("double") - mu) / sqrt(varr))
    c.join(broadcast(stats), "event_type")
      .withColumn("z", z)
      .filter(abs(col("z")) > 3.0)
      .select(col("event_id"), col("event_type"),
        floor(col("z") * 1e3).cast("long").as("z_e3"))
      .orderBy(col("event_id"))
  }

  /** CSV source round-trip: region lands as header-ed CSV and is read
    * back with an explicit schema (schema-on-read, no inference job).
    */
  private val qCsvSource: Q = (s, d) => {
    val path = graft.model.Scratch.dir("q_csv_source", d)
    Tables.region(s, d).select(col("r_regionkey"), col("r_name"))
      .coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(path)
    s.read.option("header", "true")
      .schema("r_regionkey INT, r_name STRING").csv(path)
      .orderBy(col("r_regionkey"))
  }

  /** CDC compaction: latest state per key from an append-only event log
    * (the changelog → snapshot step). row_number()=1 compiles to Spark's
    * WindowGroupLimit, so each task keeps one row per key before the
    * exchange — at 100 TB the shuffle carries surviving rows only.
    */
  private val qKeepLatest: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .orderBy(col("user_id"))
  }

  /** SCD type-2 build: each event becomes a dimension version valid from
    * its timestamp until the key's next event (open-ended for the
    * current version) — one window pass, integer-micros bounds.
    */
  private val qScd2: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, d)
      .withColumn("valid_from_us", unix_micros(col("ts")))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("valid_from_us"), col("valid_to_us"), col("is_current"))
      .orderBy(col("user_id"), col("valid_from_us"), col("event_id"))
  }

  /** String-indexer fit: the categorical→integer dictionary every ML
    * feature pipeline needs — indices assigned by descending frequency
    * (most common = 0, the convention that keeps frequent categories in
    * small embeddings), ties broken lexicographically. The ranking
    * window runs over the DICTIONARY-sized aggregate (25 brands), never
    * the fact table — the `q_domain_mix` pattern; the encode step is a
    * broadcast join of this table back onto facts.
    */
  private val qStringIndex: Q = (s, d) => {
    val freq = Tables.part(s, d)
      .groupBy(col("p_brand")).agg(count(lit(1)).as("n_parts"))
    val w = Window.orderBy(col("n_parts").desc, col("p_brand").asc)
    freq.withColumn("idx", (row_number().over(w) - 1).cast("long"))
      .select(col("p_brand"), col("idx"), col("n_parts"))
      .orderBy("idx")
  }

  /** Smoothed mean-target encoding: each category's mean order value
    * shrunk toward the global mean with pseudo-count weight 20 — the
    * leakage-resistant categorical feature for high-cardinality
    * columns. enc = (Σcents + 20·global_avg) DIV (n + 20), all
    * integer: global_avg is itself a defined integer (total DIV n),
    * so the encoding is bit-deterministic and re-aggregatable. Totals
    * derive from the per-category moments (no second fact scan).
    */
  private val qTargetEncode: Q = (s, d) => {
    val per = Tables.orders(s, d)
      .select(col("o_orderpriority").as("cat"),
        round(col("o_totalprice") * 100.0).cast("long").as("cents"))
      .groupBy("cat").agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    val tot = per.agg(sum("n").as("n_tot"), sum("sum_cents").as("tot_cents"))
    per.crossJoin(broadcast(tot))
      .select(col("cat"), col("n"),
        expr("sum_cents DIV n").as("avg_cents"),
        expr("(sum_cents + 20 * (tot_cents DIV n_tot)) DIV (n + 20)")
          .as("enc_cents"))
      .orderBy("cat")
  }

  /** Point-in-time (as-of) fact lookup against an SCD2 dimension — the
    * warehouse query `q_scd2` exists to serve: each purchase fact finds
    * the ONE state version (here: the user's signup/error state events
    * versioned by `valid_from`/`valid_to`) whose half-open interval
    * [from, to) covers the fact timestamp. Plan shape: equi join on the
    * dimension key with the interval predicate as a residual — per-key
    * version chains are short (dimension churn, not fact volume), so
    * the join shards by user at any fact count; facts preceding the
    * first version survive with a null version (left join). Half-open
    * intervals make the match provably unique — the invariant that
    * separates PIT enrichment from a sloppy BETWEEN join.
    */
  private val qScd2Asof: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val dim = ev.filter(col("event_type").isin("signup", "error"))
      .select(col("user_id").as("d_user"), col("event_id").as("version_id"),
        col("event_type").as("state"), unix_micros(col("ts")).as("valid_from_us"))
      .withColumn("valid_to_us",
        lead(col("valid_from_us"), 1).over(
          Window.partitionBy(col("d_user"))
            .orderBy(col("valid_from_us").asc, col("version_id").asc)))
    val facts = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t_us"))
    facts.join(dim,
        facts("user_id") === dim("d_user") &&
          col("t_us") >= col("valid_from_us") &&
          (col("valid_to_us").isNull || col("t_us") < col("valid_to_us")),
        "left")
      .select(col("event_id"), col("user_id"), col("version_id"),
        col("state"), col("valid_from_us"))
      .orderBy(col("event_id"))
  }

  /** Calendar proration: each lineitem's revenue allocated across the
    * months its order-to-ship interval touches, weighted by day overlap
    * — the finance calendarization primitive (recognize revenue over
    * the service period, not at a point). Exactness contract: the
    * per-(row, month) allocation is floor(cents·overlap_days /
    * total_days) — pure integer arithmetic, so the month totals are
    * order-independent. Fan-out is bounded by the interval's month
    * count (data-bounded, ≤ 82 here); everything after the explode is
    * one partial-agg shuffle into month-count groups.
    */
  private val qIntervalProrate: Q = (s, d) => {
    val b = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(round(col("l_extendedprice") * 100.0).cast("long").as("cents"),
        to_date(col("o_orderdate")).as("d0"), to_date(col("l_shipdate")).as("d1"))
      .filter(col("d1") >= col("d0"))
    // Month fan-out as an INTEGER index sequence (year·12+month−1), not a
    // date-interval sequence: the int explode is a cheap codegen loop
    // where the calendar stepping built a per-row date array (measured at
    // sf0.1: 4.6 s → 2.5 s cold / 0.7 s warm); the month label renders
    // AFTER the aggregate, on month-count rows instead of every slice.
    b.withColumn("tdays", expr("datediff(d1, d0) + 1"))
      .withColumn("mi", explode(expr(
        "sequence(year(d0) * 12 + month(d0) - 1, year(d1) * 12 + month(d1) - 1)")))
      .withColumn("mstart", expr("make_date(mi DIV 12, mi % 12 + 1, 1)"))
      .select(col("mi"),
        expr("""cents * (datediff(least(last_day(mstart), d1),
                         greatest(mstart, d0)) + 1)
                DIV tdays""").as("alloc"))
      .groupBy("mi")
      .agg(count(lit(1)).as("n_slices"), sum("alloc").as("alloc_cents"))
      .select(expr(
        """concat(CAST(mi DIV 12 AS STRING), '-',
                  lpad(CAST(mi % 12 + 1 AS STRING), 2, '0'))""").as("month"),
        col("n_slices"), col("alloc_cents"))
      .orderBy("month")
  }

  /** Incremental aggregate maintenance: a stored daily rollup is
    * refreshed by merging the new day's PARTIAL aggregate into it —
    * counts and exact cent sums re-aggregate with plain sums, so the
    * refresh touches only the fresh slice, never the history. The stored
    * base is landed via the overwrite sink and read back (the real
    * materialized-rollup shape). Result ≡ the full re-aggregate the
    * oracle computes.
    */
  private val qIncrAgg: Q = (s, d) => {
    val cutoff = "2024-01-25"
    val ev = Tables.events(s, d)
      .withColumn("day", date_format(to_date(col("ts")), "yyyy-MM-dd"))
      .withColumn("cents", round(col("value") * 100.0).cast("long"))
    def partial(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
    val basePath = graft.model.Scratch.dir("q_incr_agg_base", d)
    graft.ops.Sinks.overwriteRefresh(
      partial(ev.filter(col("day") < cutoff)), basePath)
    val base = s.read.parquet(basePath)
    val fresh = partial(ev.filter(col("day") >= cutoff))
    base.unionByName(fresh)
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("sum_cents")).as("sum_cents"))
      .orderBy(col("day"), col("event_type"))
  }

  /** XML source (built into Spark core since 4.0): nation rows land as
    * an XML document per row and read back through the schema-on-read
    * XML reader — the feed-interchange format the CSV/ORC/text trio
    * doesn't cover. Oracle reads the same rows straight from parquet.
    */
  private val qXmlSource: Q = (s, d) => {
    val path = graft.model.Scratch.dir("q_xml_source", d)
    Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
      .coalesce(1)
      .write.mode("overwrite").option("rowTag", "nation").xml(path)
    s.read.option("rowTag", "nation")
      .schema("n_nationkey BIGINT, n_name STRING").xml(path)
      .orderBy(col("n_nationkey"))
  }

  /** `binaryFile` ingest — the source multimodal pipelines actually
    * start from: a directory of opaque payload files (images/audio/
    * shards) read as (path, modificationTime, length, content) rows
    * with NO decode on the scan. The fixture lands one payload per
    * region row (driver-side — it is a 5-file fixture, not a data
    * path), reads the directory back through the binaryFile format,
    * recovers the key from the file NAME, and exposes the payload —
    * which the oracle checks against the source-of-truth parquet
    * column, proving the bytes survived the round trip (the oracle
    * compares `strlen` — BYTE length, what binaryFile's `length`
    * reports — not character count, so the check stays honest the day
    * a payload carries multi-byte UTF-8). At scale this
    * source parallelizes by file and never materializes content twice;
    * downstream decode belongs to ops/Multimodal.
    */
  private val qBinaryfileSource: Q = (s, d) => {
    val path = graft.model.Scratch.dir("q_binaryfile_source", d)
    val dir = new java.io.File(path)
    dir.mkdirs()
    Tables.region(s, d).select(col("r_regionkey"), col("r_name"))
      .collect().foreach { r =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(path, s"r_${r.getInt(0)}.bin"),
          r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    s.read.format("binaryFile").load(path)
      .select(
        regexp_extract(col("path"), "r_(\\d+)\\.bin$", 1)
          .cast("bigint").as("r_regionkey"),
        col("length"),
        col("content").cast("string").as("payload"))
      .orderBy("r_regionkey")
  }

  /** Schema evolution on read: a long-lived table whose files were
    * written under DIFFERENT schema versions (v1 carries n_name, the
    * later v2 added n_regionkey) reads back as ONE unified relation via
    * `mergeSchema` — absent columns surface as nulls, by column NAME
    * not position. The capability that lets a 100 TB table add columns
    * without rewriting history; the oracle reconstructs the same
    * union-by-name relation straight from the base table.
    */
  private val qSchemaEvolution: Q = (s, d) => {
    val path = graft.model.Scratch.dir("q_schema_evolution", d)
    val n = Tables.nation(s, d)
    n.select(col("n_nationkey"), col("n_name"))
      .write.mode("overwrite").parquet(s"$path/v=1")
    n.select(col("n_nationkey"), col("n_regionkey"))
      .write.mode("overwrite").parquet(s"$path/v=2")
    s.read.option("mergeSchema", "true").parquet(s"$path/v=1", s"$path/v=2")
      .orderBy(col("n_nationkey"), col("n_name").asc_nulls_first)
  }

  /** ORC source round-trip: columnar alternative to Parquet, same
    * pushdown/pruning path through the vectorized ORC reader.
    */
  private val qOrcSource: Q = (s, d) => {
    val path = graft.model.Scratch.dir("q_orc_source", d)
    Tables.nation(s, d).write.mode("overwrite").orc(path)
    s.read.orc(path).orderBy(col("n_nationkey"))
  }

  /** Line-oriented text source: documents land as raw lines (the crawl
    * dump shape) and are re-aggregated from the text scan — order-free
    * global stats, so the round trip is oracle-checkable.
    */
  private val qTextSource: Q = (s, d) => {
    val path = graft.model.Scratch.dir("q_text_source", d)
    Tables.documents(s, d).select(col("text")).write.mode("overwrite").text(path)
    s.read.text(path)
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("value"))).as("sum_chars"))
  }

  /** Data-contract validation: one row per rule with its violation count
    * (the dbt-test / expectation-suite shape) — range rules as
    * conditional aggregates over one scan, referential integrity as an
    * anti-join count. All counts, no floats; each rule is a full
    * scan-parallel aggregate, so the contract check costs one pass at
    * any scale.
    */
  /** Full referential-integrity audit of the star schema: every
    * foreign-key edge reports its child row count and orphan count
    * (children whose key resolves to no parent) — the warehouse-wide
    * generalization of `q_data_contract`'s single FK rule, and the
    * first table a migration signs off against (all-zero orphans IS
    * the deliverable). Each edge is one LEFT ANTI join + count: dims
    * broadcast, the two fact-fact edges shuffle on their key — seven
    * independent scan-parallel passes, no floats anywhere.
    */
  private val qRefIntegrity: Q = (s, d) => {
    def edge(name: String, child: DataFrame, key: String,
             parent: DataFrame, pkey: String): DataFrame = {
      val total = child.agg(count(lit(1)).as("n_rows"))
      val orph = child
        .join(parent.select(col(pkey).as(key)), Seq(key), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      total.crossJoin(orph)
        .select(lit(name).as("edge"), col("n_rows"), col("n_orphans"))
    }
    edge("customer.nationkey", Tables.customer(s, d), "c_nationkey",
        Tables.nation(s, d), "n_nationkey")
      .unionByName(edge("lineitem.orderkey", Tables.lineitem(s, d),
        "l_orderkey", Tables.orders(s, d), "o_orderkey"))
      .unionByName(edge("lineitem.partkey", Tables.lineitem(s, d),
        "l_partkey", Tables.part(s, d), "p_partkey"))
      .unionByName(edge("lineitem.suppkey", Tables.lineitem(s, d),
        "l_suppkey", Tables.supplier(s, d), "s_suppkey"))
      .unionByName(edge("nation.regionkey", Tables.nation(s, d),
        "n_regionkey", Tables.region(s, d), "r_regionkey"))
      .unionByName(edge("orders.custkey", Tables.orders(s, d),
        "o_custkey", Tables.customer(s, d), "c_custkey"))
      .unionByName(edge("supplier.nationkey", Tables.supplier(s, d),
        "s_nationkey", Tables.nation(s, d), "n_nationkey"))
      .orderBy(col("edge"))
  }

  private val qDataContract: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    def rangeRule(name: String, violated: org.apache.spark.sql.Column) =
      li.agg(lit(name).as("rule"),
        sum(when(violated, 1L).otherwise(0L)).as("n_violations"))
    val orphans = Tables.lineitem(s, d)
      .join(Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey")),
        Seq("l_orderkey"), "left_anti")
      .agg(lit("orderkey_fk_exists").as("rule"),
        count(lit(1)).as("n_violations"))
    rangeRule("quantity_in_1_50",
        !col("l_quantity").between(1.0, 50.0) || col("l_quantity").isNull)
      .unionByName(rangeRule("discount_in_0_0p1",
        !col("l_discount").between(0.0, 0.1) || col("l_discount").isNull))
      .unionByName(rangeRule("price_positive",
        col("l_extendedprice") <= 0.0 || col("l_extendedprice").isNull))
      .unionByName(rangeRule("returnflag_in_domain",
        !col("l_returnflag").isin("A", "N", "R") || col("l_returnflag").isNull))
      .unionByName(orphans)
      .orderBy(col("rule"))
  }

  /** CDC change-feed apply: a deterministic I/U/D batch derived from the
    * orders table (key mod 10: 0→delete, 1-2→price-doubling update,
    * 3→re-keyed insert) applied to the base set-wise — one anti join for
    * the deletes, one merge for the upserts. Inserts are re-keyed by
    * NEGATION: o_orderkey is strictly positive at every scale factor, so
    * the insert namespace is disjoint from the base by construction — a
    * fixed additive offset would collide once the key domain outgrew it
    * (TPC-H orderkeys reach 6M×sf).
    */
  private val qCdcApply: Q = (s, d) => {
    val base = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100.0).cast("long").as("cents"))
    val m = pmod(col("k"), lit(10))
    val dels = base.filter(m === 0)
      .select(col("k"), lit("D").as("op"), lit(null).cast("long").as("cents"))
    val upds = base.filter(m.isin(1, 2))
      .select(col("k"), lit("U").as("op"), (col("cents") * 2).as("cents"))
    val ins = base.filter(m === 3)
      .select((-col("k")).as("k"), lit("I").as("op"), col("cents"))
    graft.ops.Sinks.applyCdc(base, dels.unionByName(upds).unionByName(ins),
        Seq("k"), "op")
      .orderBy(col("k"))
  }

  /** Versioned-snapshot round trip: two writes land v=N and v=N+1 with
    * an atomic `_LATEST` pointer flip; the read resolves the pointer, so
    * it must see exactly the second snapshot (open orders). Old versions
    * stay pinnable; vacuum bounds the history the repeated driver runs
    * accumulate.
    */
  private val qVersionedRead: Q = (s, d) => {
    val path = graft.model.Scratch.dir("q_versioned", d)
    val orders = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"))
    graft.ops.Sinks.writeVersioned(orders.filter(col("o_orderstatus") === "F"), path)
    graft.ops.Sinks.writeVersioned(orders.filter(col("o_orderstatus") === "O"), path)
    graft.ops.Sinks.vacuumVersions(s, path, keep = 2)
    graft.ops.Sinks.readVersioned(s, path).orderBy(col("o_orderkey"))
  }

  /** √n temperature mixing over the 20-source corpus, 200-doc target. */
  private val qTemperatureMix: Q = (s, d) =>
    TextStats.temperatureSample(Tables.documents(s, d), "doc_id", "source", 200)
      .orderBy(col("source"), col("rn"))

  /** Token-granularity training mix: 10k-token budget split √-weighted
    * across sources, each filled to its quota in salted-hash order —
    * see [[TextStats.tokenBudgetSample]].
    */
  private val qTokenBudgetMix: Q = (s, d) =>
    TextStats.tokenBudgetSample(Tables.documents(s, d), "doc_id", "source",
        "text", totalBudget = 10000L)
      .orderBy(col("source"), col("cum_toks"))

  /** Z-order (Morton) clustering stats: interleave the bits of
    * (l_partkey, l_suppkey) into one z-value ([[graft.ops.ZOrder]] — a
    * pure shift/mask/or Catalyst fold, fully codegen'd) and aggregate
    * per 4096-wide z range. Each bucket's (min,max) rectangle in
    * part×supplier space is what a z-ordered file's parquet footer
    * would carry: bounded in BOTH dimensions, so predicates on either
    * key prune most buckets — the lakehouse OPTIMIZE ZORDER layout,
    * checkable here as exact integer stats. LayoutSpec asserts the
    * corresponding file-level pruning on a real z-ordered write.
    */
  private val qZorder: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey"))
      .withColumn("z", graft.ops.ZOrder.interleave(col("l_partkey"), col("l_suppkey")))
      .groupBy(expr("z DIV 4096").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min("l_partkey").as("min_part"), max("l_partkey").as("max_part"),
        min("l_suppkey").as("min_supp"), max("l_suppkey").as("max_supp"))
      .orderBy("bucket")

  /** Full MERGE INTO semantics ([[graft.ops.Merge]]) in one statement:
    * conditional matched-DELETE (beats UPDATE per SQL clause
    * precedence), conditional matched-UPDATE (only when the source
    * row wins), conditional not-matched-INSERT, and
    * NOT MATCHED BY SOURCE DELETE — the clause the plain CDC apply
    * path doesn't have. One full-outer keyed join; every clause is a
    * map-side CASE. The oracle reproduces the clause algebra verbatim.
    */
  private val qMergeInto: Q = (s, d) => {
    val t = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100.0).cast("long").as("cents"),
      col("o_orderstatus").as("st"))
    val src = t.filter(col("k") % 7 === 1 || col("k") % 7 === 2)
      .select(col("k"), (col("cents") + col("k") % 100).as("cents"), col("st"))
      .unionAll(t.filter(col("k") % 7 === 3)
        .select((-col("k")).as("k"), (col("cents") + 5).as("cents"), col("st")))
    graft.ops.Merge.mergeInto(t, src, Seq("k"),
        matchedDeleteWhen = Some(col("s.cents") % 10 === 3),
        matchedUpdateWhen = Some(col("s.cents") > col("t.cents")),
        notMatchedInsertWhen = Some(col("s.cents") % 2 === 0),
        notMatchedBySourceDeleteWhen =
          Some(col("t.st") === "F" && col("t.k") % 10 === 0))
      .orderBy("k")
  }

  /** Table diff between two snapshot states ([[graft.ops.Merge
    * .snapshotDiff]]): the minimal I/U/D feed transforming before into
    * after — deletes every 10th key, updates every 7th, inserts negated
    * keys. The inverse of `q_cdc_apply`; PropertySpec pins the
    * round-trip law apply(diff(A,B), A) == B.
    */
  private val qSnapshotDiff: Q = (s, d) => {
    val before = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100.0).cast("long").as("cents"),
      col("o_orderstatus").as("st"))
    val after = before.filter(col("k") % 10 =!= 0)
      .select(col("k"),
        when(col("k") % 7 === 1, col("cents") + 11L).otherwise(col("cents"))
          .as("cents"),
        col("st"))
      .unionAll(before.filter(col("k") % 7 === 3)
        .select((-col("k")).as("k"), (col("cents") + 5L).as("cents"), col("st")))
    graft.ops.Merge.snapshotDiff(before, after, Seq("k")).orderBy("k")
  }

  /** Incremental join-view maintenance ([[graft.ops.Ivm]]): the
    * orders⋈customer view kept current by delta algebra. The fixture
    * splits both sides into base and "newly arrived" slices (orders
    * key ≡ 0 mod 5, customers ≡ 0 mod 7 — disjoint, deterministic at
    * any sf) and returns old-view ∪ ΔV; the oracle computes the full
    * join directly, so the hash match IS the maintenance-correctness
    * law (and BatchOpsSpec pins it in-engine including the empty-delta
    * and both-sides-delta corners). Every ΔV term joins a delta
    * against a base — work tracks the change size, never the base.
    */
  private val qIvmJoin: Q = (s, d) => {
    val o = Tables.orders(s, d).select(col("o_orderkey"),
      col("o_custkey").as("ck"),
      expr("CAST(round(o_totalprice * 100.0) AS BIGINT)").as("cents"))
    val c = Tables.customer(s, d)
      .select(col("c_custkey").as("ck"), col("c_name"))
    val (oBase, oDelta) = (o.filter(col("o_orderkey") % 5L =!= 0L),
      o.filter(col("o_orderkey") % 5L === 0L))
    val (cBase, cDelta) = (c.filter(col("ck") % 7L =!= 0L),
      c.filter(col("ck") % 7L === 0L))
    graft.ops.Ivm
      .maintain(oBase.join(cBase, Seq("ck")), oBase, oDelta, cBase, cDelta,
        Seq("ck"))
      .select(col("o_orderkey"), col("ck"), col("c_name"), col("cents"))
      .orderBy("o_orderkey")
  }

  /** Canonical text normalization — the step every dedup/join on text
    * must share or encoding accidents fragment keys: Unicode NFC →
    * lowercase → collapse non-alphanumeric runs to single spaces →
    * trim, with NFC via the native codegen
    * [[graft.functions.NfcNormalize]] Expression (Spark ships no
    * normalizer built-in; a UDF would break
    * whole-stage codegen in the hottest map stage of curation). Pure
    * map-side column work — no shuffle at any corpus size. The corpus
    * is ASCII so NFC is the fast-path identity here (exactly what it is
    * for most real corpus rows); the combining-mark recomposition cases
    * are pinned in CurateOpsSpec, and DuckDB's `nfc_normalize` mirrors
    * the full pipeline for the oracle.
    */
  private val qTextNormalize: Q = (s, d) => {
    // NFC runs FIRST — on the raw string — so decomposed and precomposed
    // encodings of the same character collapse BEFORE case folding and
    // the punctuation strip see them; normalizing after the strip would
    // hand NFC pure ASCII (a guaranteed no-op) while the strip treats
    // 'e'+U+0301 and U+00E9 differently, fragmenting the keys
    Tables.customer(s, d)
      .select(col("c_custkey"),
        trim(regexp_replace(lower(nfc(col("c_name"))),
          "[^a-z0-9]+", " ")).as("norm_name"))
      .orderBy("c_custkey")
  }

  /** Population-stability-index drift report between two corpus
    * slices (orders before vs after 1998-01-01): the monitoring
    * primitive behind "did the data distribution shift between
    * snapshots". Value buckets are FIXED-width ($50k of cents DIV —
    * deterministic, no quantile estimation inside a monitor), both
    * sides' proportions are Laplace-smoothed exact integer ppm
    * (missing buckets survive the full-outer join as zero counts
    * instead of dividing by zero), and only the final
    * (p−q)·ln(p/q) runs in floats — ONE fixed operation sequence
    * mirrored token-for-token (the `q_entropy` ln-parity envelope).
    * Per-bucket contributions are each ≥ 0 by construction; the
    * consumer sums them against the usual 0.1/0.25 alert thresholds.
    * Shape: two keyed counts + a bucket-sized (never data-sized)
    * full-outer join + one broadcast totals row.
    */
  private val qPsiDrift: Q = (s, d) => {
    val c = Tables.orders(s, d).select(
      (to_date(col("o_orderdate")) < lit("1998-01-01").cast("date")).as("is_a"),
      expr("CAST(round(o_totalprice * 100.0) AS BIGINT) DIV 5000000")
        .as("bucket"))
    val a = c.filter(col("is_a")).groupBy("bucket").agg(count(lit(1)).as("ca"))
    val b = c.filter(!col("is_a")).groupBy("bucket").agg(count(lit(1)).as("cb"))
    val full = a.join(b, Seq("bucket"), "full_outer")
      .select(col("bucket"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val tot = full.agg(sum("ca").as("ta"), sum("cb").as("tb"),
      count(lit(1)).as("nb"))
    // greatest(1, …): above ~1e6 rows per side the +1-smoothed
    // proportion of a one-sided bucket FLOORS to 0 on the ppm grid,
    // which would reintroduce the ln(0) the smoothing exists to prevent
    // (DuckDB raises, Spark yields null) — clamp to the grid's 1 ppm
    full.crossJoin(broadcast(tot))
      .select(col("bucket"), col("ca"), col("cb"),
        expr("greatest(1, 1000000 * (ca + 1) DIV (ta + nb))").as("p_ppm"),
        expr("greatest(1, 1000000 * (cb + 1) DIV (tb + nb))").as("q_ppm"))
      .withColumn("psi_e9",
        floor((col("p_ppm").cast("double") - col("q_ppm").cast("double")) /
          lit(1000000.0) *
          log(col("p_ppm").cast("double") / col("q_ppm").cast("double")) *
          lit(1000000000.0)).cast("long"))
      .orderBy("bucket")
  }

  /** Bhattacharyya coefficient (and Hellinger distance) between the
    * BUILDING segment's order-value distribution and everyone else's —
    * the bounded distribution-overlap monitor beside `q_psi_drift`'s
    * unbounded divergence and `q_ks_test`'s max-gap statistic (BC ∈
    * [0,1]: 1 = identical histograms, 0 = disjoint support; H =
    * √(1−BC)). Same fixed-width $50k buckets as the PSI key (a monitor
    * never estimates quantiles); proportions are exact integer ppm;
    * each bucket's √(p_ppm·q_ppm) is ONE float sqrt over an exact ≤10¹²
    * integer product (exactly representable in a double) floored to e6
    * BEFORE the sum, so the BC total is order-independent — and ≤ 10⁶
    * by Cauchy–Schwarz. Shape: two keyed counts + a bucket-sized
    * full-outer join + one broadcast totals row.
    */
  private val qBhattacharyya: Q = (s, d) => {
    val c = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"),
          (col("c_mktsegment") === "BUILDING").as("is_a"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("is_a"),
        expr("CAST(round(o_totalprice * 100.0) AS BIGINT) DIV 5000000")
          .as("bucket"))
    val a = c.filter(col("is_a")).groupBy("bucket").agg(count(lit(1)).as("ca"))
    val b = c.filter(!col("is_a")).groupBy("bucket").agg(count(lit(1)).as("cb"))
    val full = a.join(b, Seq("bucket"), "full_outer")
      .select(col("bucket"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val tot = full.agg(sum("ca").as("ta"), sum("cb").as("tb"))
    val terms = full.crossJoin(broadcast(tot))
      .filter(col("ta") > 0L && col("tb") > 0L)
      .select(col("bucket"),
        expr("1000000 * ca DIV ta").as("p_ppm"),
        expr("1000000 * cb DIV tb").as("q_ppm"))
      .withColumn("bc_term_e6",
        floor(sqrt((col("p_ppm") * col("q_ppm")).cast("double"))).cast("long"))
    terms.agg(count(lit(1)).as("n_buckets"), sum("bc_term_e6").as("bc_e6"))
      .select(col("n_buckets"), col("bc_e6"),
        floor(sqrt(((lit(1000000L) - least(col("bc_e6"), lit(1000000L))) *
          lit(1000000L)).cast("double"))).cast("long").as("hellinger_e6"))
      .orderBy("n_buckets")
  }

  /** ε=1 Laplace-mechanism histogram of order values — the
    * differential-privacy release shape that completes the privacy
    * family (`q_pii_mask` hides identifiers, `q_k_anonymity`/
    * `q_l_diversity` audit cohorts; this perturbs the published
    * counts). The Laplace draw is DETERMINISTIC without any RNG state
    * (the `q_bootstrap_ci` md5 inverse-CDF discipline): u = 1 + (md5
    * of the bucket id mod 999998) keeps 1 − 2|u/10⁶ − ½| ≥ 2·10⁻⁶, so
    * the inverse CDF −sign(v)·ln(1 − 2|v|/10⁶) can never reach ln(0)
    * at ANY bucket; the ln is one mirrored float sequence, floored to
    * e6 per bucket. The true count ships beside the noisy one here for
    * verifiability — a production release drops it (and the noise is
    * then pseudorandom in the md5 seed, the standard seeded-DP
    * deployment trade-off). One partial-agg shuffle, bucket-sized
    * output.
    */
  private val qDpHistogram: Q = (s, d) => {
    val h = Tables.orders(s, d)
      .select(expr("CAST(round(o_totalprice * 100.0) AS BIGINT) DIV 5000000")
        .as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    h.withColumn("u_ppm",
        pmod(conv(substring(md5(col("bucket").cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(999998L)) + lit(1L))
      .withColumn("v", col("u_ppm") - lit(500000L))
      .withColumn("noise_e6",
        floor(lit(-1000000.0) * signum(col("v").cast("double")) *
          log(lit(1.0) - lit(2.0) * abs(col("v").cast("double")) /
            lit(1000000.0))).cast("long"))
      .select(col("bucket"), col("n"), col("u_ppm"), col("noise_e6"),
        (col("n") * lit(1000000L) + col("noise_e6")).as("noisy_e6"))
      .orderBy("bucket")
  }

  /** Gopher/RefinedWeb-style rule filter: per-document boolean gates —
    * word-count bounds, mean-word-length bounds, type-token ratio,
    * single-token dominance, stopword presence — each an EXACT integer
    * inequality (`3·n ≤ chars` instead of float means), plus the
    * composite keep decision a curation pipeline executes. One token
    * explode + two-level partial agg (map-side combine on (doc, tok)),
    * joined back to the per-doc lengths: bounded by corpus token count,
    * no per-doc quadratic work. Thresholds calibrated to split this
    * corpus (words 10–99/doc): each flag is non-degenerate.
    */
  private val qDocFilter: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val tokAgg = docs
      .select(col("doc_id"), explode(graft.ops.TextStats.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct"), max("cnt").as("max_cnt"),
        sum("cnt").as("n_words"),
        max(when(col("tok").isin("the", "a"), 1L).otherwise(0L)).as("has_stop"))
    docs.select(col("doc_id"), length(col("text")).cast("long").as("len"))
      .join(tokAgg, Seq("doc_id"))
      // word chars = len − (n_words − 1) separators (single-space corpus)
      .withColumn("wchars", col("len") - col("n_words") + 1L)
      .select(col("doc_id"), col("n_words"),
        (col("n_words") >= 20L && col("n_words") <= 80L).cast("long").as("f_words"),
        (col("wchars") >= col("n_words") * 3L &&
          col("wchars") <= col("n_words") * 7L).cast("long").as("f_wordlen"),
        (col("n_distinct") * 2L >= col("n_words")).cast("long").as("f_ttr"),
        (col("max_cnt") * 5L <= col("n_words")).cast("long").as("f_rep"),
        col("has_stop").as("f_stop"))
      .withColumn("keep",
        (col("f_words") * col("f_wordlen") * col("f_ttr") * col("f_rep") *
          col("f_stop")).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** C4-style per-domain curation report: for each `source`, document
    * count, language spread, exact size stats, and the share of docs
    * whose text is an exact duplicate of ANY corpus doc (the signal
    * used to drop boilerplate-heavy domains). Duplicate detection is
    * one md5 groupBy over the corpus joined back — the domain report
    * rides two shuffles total regardless of corpus size.
    */
  private val qSourceStats: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val dupes = docs.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n_copies"))
    docs.withColumn("h", md5(col("text")))
      .join(dupes, Seq("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("sum_chars"),
        expr("sum(n_chars) DIV count(1)").as("mean_chars"),
        expr("1000000 * sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) " +
          "DIV count(1)").as("dup_ppm"))
      .orderBy(col("source"))
  }

  /** Out-of-vocabulary rate against the corpus top-20 vocabulary —
    * the tokenizer-coverage readout run before committing a vocab
    * (k=20 < the corpus's 31 distinct tokens so the rate is
    * non-degenerate; a production run would use top-32k against a
    * BPE vocab, same plan). The vocab is a deterministic top-k
    * (count desc, token asc — identical tie-break both engines) and
    * BROADCAST to the token stream; per-doc OOV is a left join flag
    * aggregated back to the doc grain. At 100 TB the vocab stays tiny
    * (top-k of a partial-agg'd count), so no stage shuffles more than
    * the token explode itself.
    */
  private val qOovRate: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"),
      explode(graft.ops.TextStats.tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(20)
      .select(col("tok"), lit(1L).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_words"), col("n_oov"),
        expr("1000000 * n_oov DIV n_words").as("oov_ppm"))
      .orderBy(col("doc_id"))
  }

  /** N-gram novelty curve: for each doc, the share of its DISTINCT
    * word-trigrams appearing in no earlier doc (doc_id order) — the
    * "how much new text does each increment add" readout behind
    * crawl-snapshot triage. First-occurrence is one min-agg on the
    * shingle (the inverted-index shuffle shape); novelty re-aggregates
    * at the doc grain. Explicit `transform(sequence(...))` shingles so
    * the oracle can mirror the construction token-for-token.
    */
  private val qNgramNovelty: Q = (s, d) => {
    val sh = Tables.documents(s, d)
      .withColumn("toks", graft.ops.TextStats.tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))")).as("shingle"))
      .distinct()
    val first = sh.groupBy(col("shingle")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        expr("1000000 * n_novel DIV n_shingles").as("novel_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Positional phrase search: exact consecutive-token phrase hits via
    * the positional-postings shape — ONE postings table (doc, tok, pos)
    * joined against itself per phrase word, positions constrained to
    * adjacency. The phrase list is a broadcast literal; the postings
    * join keys on (doc, tok), so at scale this is the inverted-index
    * intersection every phrase-capable search engine runs, never a
    * substring scan over raw text.
    */
  private val qPhraseSearch: Q = (s, d) => {
    val phrases = Seq("table scan", "fast join", "key value")
    val ph = phrases.zipWithIndex.map { case (p, i) =>
      val ws = p.split(' '); (i.toLong, p, ws(0), ws(1))
    }
    val phDf = s.createDataFrame(ph).toDF("phrase_id", "phrase", "w1", "w2")
    val post = Tables.documents(s, d)
      .withColumn("toks", graft.ops.TextStats.tokens(col("text")))
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
    val a = post.join(broadcast(phDf), col("tok") === col("w1"))
      .select(col("phrase_id"), col("phrase"), col("w2"), col("doc_id"), col("pos"))
    val b = post.select(col("doc_id").as("doc_b"), col("pos").as("pos_b"),
      col("tok").as("tok_b"))
    a.join(b, col("doc_id") === col("doc_b") &&
        col("pos_b") === col("pos") + 1 && col("tok_b") === col("w2"))
      .groupBy(col("phrase_id"), col("phrase"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_hits"))
      .orderBy(col("phrase_id"))
  }

  /** Per-source boilerplate candidates: the top-3 word-trigrams by
    * DOCUMENT frequency within each source — repeated across many docs
    * of one domain is the signature of template text (headers, footers,
    * nav chrome). Distinct (source, doc, shingle) first so a shingle
    * repeated within one doc counts once; the rank window scans the
    * per-source ngram table, never documents.
    */
  private val qBoilerplateNgrams: Q = (s, d) => {
    val sh = Tables.documents(s, d)
      .withColumn("toks", graft.ops.TextStats.tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .select(col("source"), col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))")).as("shingle"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(col("n_docs").desc, col("shingle").asc)
    sh.groupBy(col("source"), col("shingle"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .orderBy(col("source"), col("rnk"))
  }

  /** Ingest freshness: each event type's lag behind the corpus's newest
    * event, in exact microseconds — the staleness column of every
    * pipeline health dashboard, deterministic because the reference
    * point is the data's own high-water mark rather than now().
    */
  private val qFreshness: Q = (s, d) => {
    val m = Tables.events(s, d).groupBy(col("event_type"))
      .agg(max(unix_micros(col("ts"))).as("latest_us"),
        count(lit(1)).as("n_events"))
    val hw = m.agg(max("latest_us").as("corpus_latest_us"))
    m.crossJoin(broadcast(hw))
      .select(col("event_type"), col("n_events"),
        (col("corpus_latest_us") - col("latest_us")).as("lag_us"))
      .orderBy(col("event_type"))
  }

  /** Small-file compaction planner: documents bin-packed in stable
    * doc_id order into ~64 KiB output files by exclusive-prefix-sum DIV
    * target — the plan a table-maintenance job executes to fix the
    * many-small-files problem (bin = which output file each doc lands
    * in; every bin except possibly the last holds ≥ target bytes once
    * its first doc starts past the boundary). The prefix sum rides
    * [[graft.ops.Ranks.globalRunningSum]] (range-partitioned, per-
    * partition offsets only — the discipline that keeps a 10⁹-file
    * compaction plan off a single partition). Output is bin-sized.
    */
  private val qCompactionBins: Q = (s, d) => {
    val target = 65536L
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    val r = graft.ops.Ranks.globalRunningSum(docs,
      Seq(col("doc_id").asc), col("n_chars"), "cum")
    r.withColumn("bin", expr(s"(cum - n_chars) DIV $target"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("bin_chars"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("bin")
  }

  /** k-anonymity audit over the (segment, nation) quasi-identifier:
    * every QI equivalence class with its size and a k<5 re-identify
    * flag — the table a privacy review reads before a dataset release
    * (any flagged class means those members are distinguishable by the
    * QI pair alone; `q_pii_mask` is the remediation, this is the
    * detector). One partial-agg shuffle into a QI-cardinality-bounded
    * class table.
    */
  private val qKAnonymity: Q = (s, d) => {
    Tables.customer(s, d)
      .groupBy(col("c_mktsegment").as("seg"),
        col("c_nationkey").cast("long").as("nation"))
      .agg(count(lit(1)).as("n"))
      .withColumn("at_risk", (col("n") < 5L).cast("int"))
      .orderBy("seg", "nation")
  }

  /** l-diversity audit over the same quasi-identifier: distinct
    * sensitive values (account-balance band) per QI class, flagging
    * classes with fewer than 3 — k-anonymity's complement (a large but
    * single-band class still leaks the sensitive attribute). Band cuts
    * are exact integer cents thresholds; two-phase distinct aggregate.
    */
  private val qLDiversity: Q = (s, d) => {
    val banded = Tables.customer(s, d)
      .select(col("c_mktsegment").as("seg"),
        col("c_nationkey").cast("long").as("nation"),
        when(round(col("c_acctbal") * 100.0).cast("long") < 0L, "negative")
          .when(round(col("c_acctbal") * 100.0).cast("long") < 300000L, "low")
          .when(round(col("c_acctbal") * 100.0).cast("long") < 700000L, "mid")
          .otherwise("high").as("band"))
    banded.groupBy("seg", "nation")
      .agg(count(lit(1)).as("n"), countDistinct("band").as("l_distinct"))
      .withColumn("low_diversity", (col("l_distinct") < 3L).cast("int"))
      .orderBy("seg", "nation")
  }

  val registry: Map[String, Q] = Map(
    "q_k_anonymity" -> qKAnonymity,
    "q_l_diversity" -> qLDiversity,
    "q_compaction_bins" -> qCompactionBins,
    "q_boilerplate_ngrams" -> qBoilerplateNgrams,
    "q_freshness" -> qFreshness,
    "q_doc_filter" -> qDocFilter,
    "q_source_stats" -> qSourceStats,
    "q_oov_rate" -> qOovRate,
    "q_ngram_novelty" -> qNgramNovelty,
    "q_phrase_search" -> qPhraseSearch,
    "q_psi_drift" -> qPsiDrift,
    "q_bhattacharyya" -> qBhattacharyya,
    "q_dp_histogram" -> qDpHistogram,
    "q_text_normalize" -> qTextNormalize,
    "q_binaryfile_source" -> qBinaryfileSource,
    "q_schema_evolution" -> qSchemaEvolution,
    "q_ivm_join" -> qIvmJoin,
    "q_snapshot_diff" -> qSnapshotDiff,
    "q_merge_into" -> qMergeInto,
    "q_zorder" -> qZorder,
    "q_cdc_apply" -> qCdcApply,
    "q_data_contract" -> qDataContract,
    "q_ref_integrity" -> qRefIntegrity,
    "q_temperature_mix" -> qTemperatureMix,
    "q_token_budget_mix" -> qTokenBudgetMix,
    "q_versioned_read" -> qVersionedRead,
    "q_orc_source" -> qOrcSource,
    "q_xml_source" -> qXmlSource,
    "q_text_source" -> qTextSource,
    "q_incr_agg" -> qIncrAgg,
    "q_keep_latest" -> qKeepLatest,
    "q_scd2" -> qScd2,
    "q_scd2_asof" -> qScd2Asof,
    "q_interval_prorate" -> qIntervalProrate,
    "q_string_index" -> qStringIndex,
    "q_target_encode" -> qTargetEncode,
    "q_bm25" -> qBm25,
    "q_rbo" -> qRbo,
    "q_ndcg" -> qNdcg,
    "q_mrr" -> qMrr,
    "q_precision_at_k" -> qPrecisionAtK,
    "q_rrf_fusion" -> qRrfFusion,
    "q_sessionize" -> qSessionize,
    "q_entropy" -> qEntropy,
    "q_pii_mask" -> qPiiMask,
    "q_join_bloom" -> qJoinBloom,
    "q_zscore_outliers" -> qZscoreOutliers,
    "q_csv_source" -> qCsvSource,
  )

  /** BM25 oracle generated from the same constants so the float formula
    * is literally the same operation sequence.
    */
  private val bm25Sql: String = {
    val k1 = 1.2; val b = 0.75
    val tfDefs = Terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(toks, x -> x = '$t')) AS tf_$i"
    }.mkString(", ")
    val dfDefs = Terms.indices.map(i =>
      s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(", ")
    val contribs = Terms.indices.map { i =>
      s"""ln(1.0 + (n_docs - df_$i + 0.5) / (df_$i + 0.5)) *
         |   (CAST(tf_$i AS DOUBLE) * ${k1 + 1.0}) /
         |   (CAST(tf_$i AS DOUBLE) + $k1 * (${1.0 - b} + $b * dl / avgdl))""".stripMargin
    }.mkString("(", "\n + ", ")")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |b AS (SELECT doc_id, len(toks) AS dl, $tfDefs FROM t),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(dl) AS BIGINT) AS sum_dl, $dfDefs FROM b),
       |sc AS (SELECT doc_id,
       |         $contribs AS score
       |       FROM b CROSS JOIN
       |         (SELECT *, CAST(sum_dl AS DOUBLE) / n_docs AS avgdl FROM st))
       |SELECT doc_id, CAST(floor(score * 1000000) AS BIGINT) AS bm25_e6
       |FROM sc WHERE score > 0.0 ORDER BY doc_id""".stripMargin
  }

  /** RBO oracle: rides bm25Sql for ranking A; ranking B and the exact
    * integer depth weights 9^(d−1)·10^(10−d) mirror the plan.
    */
  private val rboSql: String = {
    val tfSum = Terms.map(t => s"len(list_filter(toks, x -> x = '$t'))")
      .mkString(" + ")
    s"""WITH bm AS (SELECT * FROM ($bm25Sql)),
       |ta AS (SELECT doc_id, ra FROM (SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY bm25_e6 DESC, doc_id ASC)
       |      AS BIGINT) AS ra FROM bm) WHERE ra <= 10),
       |tf AS (SELECT doc_id, CAST($tfSum AS BIGINT) AS tfsum
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |        FROM documents)),
       |tb AS (SELECT doc_id, rb FROM (SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY tfsum DESC, doc_id ASC)
       |      AS BIGINT) AS rb FROM tf WHERE tfsum > 0) WHERE rb <= 10),
       |j AS (SELECT coalesce(ta.ra, 99) AS ra, coalesce(tb.rb, 99) AS rb
       |  FROM ta FULL OUTER JOIN tb ON ta.doc_id = tb.doc_id),
       |dd AS (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS depth),
       |x AS (SELECT depth,
       |    CAST(sum(CASE WHEN j.ra IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS overlap
       |  FROM dd LEFT JOIN j ON ra <= depth AND rb <= depth GROUP BY 1),
       |t2 AS (SELECT depth, overlap,
       |    CASE depth WHEN 1 THEN 1000000000 WHEN 2 THEN 900000000
       |      WHEN 3 THEN 810000000 WHEN 4 THEN 729000000
       |      WHEN 5 THEN 656100000 WHEN 6 THEN 590490000
       |      WHEN 7 THEN 531441000 WHEN 8 THEN 478296900
       |      WHEN 9 THEN 430467210 ELSE 387420489 END AS weight_e10
       |  FROM x)
       |SELECT depth, overlap,
       |  CAST(overlap * weight_e10 // depth AS BIGINT) AS term_e10,
       |  CAST(sum(overlap * weight_e10 // depth) OVER (ORDER BY depth
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS rbo_cum_e10
       |FROM t2 ORDER BY depth""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_rbo" -> rboSql,
    "q_k_anonymity" ->
      """SELECT c_mktsegment AS seg, CAST(c_nationkey AS BIGINT) AS nation,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) < 5 AS INT) AS at_risk
        |FROM customer GROUP BY 1, 2 ORDER BY seg, nation""".stripMargin,
    "q_l_diversity" ->
      """WITH b AS (SELECT c_mktsegment AS seg,
        |    CAST(c_nationkey AS BIGINT) AS nation,
        |    CASE WHEN CAST(round(c_acctbal * 100.0) AS BIGINT) < 0
        |      THEN 'negative'
        |      WHEN CAST(round(c_acctbal * 100.0) AS BIGINT) < 300000
        |      THEN 'low'
        |      WHEN CAST(round(c_acctbal * 100.0) AS BIGINT) < 700000
        |      THEN 'mid' ELSE 'high' END AS band
        |  FROM customer)
        |SELECT seg, nation, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT band) AS BIGINT) AS l_distinct,
        |  CAST(count(DISTINCT band) < 3 AS INT) AS low_diversity
        |FROM b GROUP BY 1, 2 ORDER BY seg, nation""".stripMargin,
    "q_compaction_bins" ->
      """WITH r AS (SELECT doc_id, n_chars,
        |    sum(n_chars) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM documents),
        |b AS (SELECT doc_id, n_chars, (cum - n_chars) // 65536 AS bin
        |  FROM r)
        |SELECT CAST(bin AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS bin_chars,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc,
        |  CAST(max(doc_id) AS BIGINT) AS last_doc
        |FROM b GROUP BY 1 ORDER BY bin""".stripMargin,
    "q_boilerplate_ngrams" ->
      """WITH t AS (SELECT source, doc_id,
        |    unnest(string_split(text, ' ')) AS tok,
        |    CAST(generate_subscripts(string_split(text, ' '), 1)
        |      AS BIGINT) AS i
        |  FROM documents),
        |s0 AS (SELECT source, doc_id, tok,
        |    lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY i) AS t1,
        |    lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY i) AS t2
        |  FROM t),
        |sh AS (SELECT DISTINCT source, doc_id,
        |    tok || ' ' || t1 || ' ' || t2 AS shingle
        |  FROM s0 WHERE t2 IS NOT NULL),
        |c AS (SELECT source, shingle, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM sh GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY n_docs DESC, shingle ASC) AS rnk FROM c)
        |SELECT source, shingle, n_docs, CAST(rnk AS INT) AS rnk
        |FROM r WHERE rnk <= 3 ORDER BY source, rnk""".stripMargin,
    "q_freshness" ->
      """WITH m AS (SELECT event_type,
        |    CAST(epoch_us(max(ts)) AS BIGINT) AS latest_us,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1),
        |hw AS (SELECT max(latest_us) AS corpus_latest_us FROM m)
        |SELECT event_type, n_events,
        |  CAST(corpus_latest_us - latest_us AS BIGINT) AS lag_us
        |FROM m CROSS JOIN hw ORDER BY event_type""".stripMargin,
    "q_doc_filter" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT doc_id, tok, count(*) AS cnt FROM t GROUP BY 1, 2),
        |a AS (SELECT doc_id, count(*) AS n_distinct, max(cnt) AS max_cnt,
        |    CAST(sum(cnt) AS BIGINT) AS n_words,
        |    max(CASE WHEN tok IN ('the', 'a') THEN 1 ELSE 0 END) AS has_stop
        |  FROM c GROUP BY 1),
        |f AS (SELECT a.doc_id, n_words,
        |    CAST(CASE WHEN n_words BETWEEN 20 AND 80 THEN 1 ELSE 0 END
        |      AS BIGINT) AS f_words,
        |    CAST(CASE WHEN length(d.text) - n_words + 1
        |      BETWEEN n_words * 3 AND n_words * 7 THEN 1 ELSE 0 END
        |      AS BIGINT) AS f_wordlen,
        |    CAST(CASE WHEN n_distinct * 2 >= n_words THEN 1 ELSE 0 END
        |      AS BIGINT) AS f_ttr,
        |    CAST(CASE WHEN max_cnt * 5 <= n_words THEN 1 ELSE 0 END
        |      AS BIGINT) AS f_rep,
        |    CAST(has_stop AS BIGINT) AS f_stop
        |  FROM a JOIN documents d ON a.doc_id = d.doc_id)
        |SELECT doc_id, n_words, f_words, f_wordlen, f_ttr, f_rep, f_stop,
        |  CAST(f_words * f_wordlen * f_ttr * f_rep * f_stop AS BIGINT)
        |    AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    "q_source_stats" ->
      """WITH dup AS (SELECT md5(text) AS h, count(*) AS n_copies
        |  FROM documents GROUP BY 1)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(n_chars) // count(*) AS BIGINT) AS mean_chars,
        |  CAST(1000000 * sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END)
        |    // count(*) AS BIGINT) AS dup_ppm
        |FROM documents d JOIN dup ON md5(d.text) = dup.h
        |GROUP BY source ORDER BY source""".stripMargin,
    "q_oov_rate" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |v AS (SELECT tok FROM (SELECT tok, count(*) AS cnt FROM t
        |  GROUP BY 1 ORDER BY cnt DESC, tok ASC LIMIT 20)),
        |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(sum(CASE WHEN tok IN (SELECT tok FROM v) THEN 0 ELSE 1
        |      END) AS BIGINT) AS n_oov
        |  FROM t GROUP BY 1)
        |SELECT doc_id, n_words, n_oov,
        |  CAST(1000000 * n_oov // n_words AS BIGINT) AS oov_ppm
        |FROM a ORDER BY doc_id""".stripMargin,
    "q_ngram_novelty" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS tok,
        |    CAST(generate_subscripts(string_split(text, ' '), 1)
        |      AS BIGINT) AS i
        |  FROM documents),
        |s0 AS (SELECT doc_id, tok,
        |    lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY i) AS t1,
        |    lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY i) AS t2
        |  FROM t),
        |s AS (SELECT DISTINCT doc_id, tok || ' ' || t1 || ' ' || t2
        |    AS shingle
        |  FROM s0 WHERE t2 IS NOT NULL),
        |f AS (SELECT shingle, min(doc_id) AS first_doc FROM s GROUP BY 1),
        |a AS (SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |    CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_novel
        |  FROM s JOIN f USING (shingle) GROUP BY 1)
        |SELECT doc_id, n_shingles, n_novel,
        |  CAST(1000000 * n_novel // n_shingles AS BIGINT) AS novel_ppm
        |FROM a ORDER BY doc_id""".stripMargin,
    "q_phrase_search" ->
      """WITH p AS (SELECT * FROM (VALUES
        |    (0, 'table scan', 'table', 'scan'),
        |    (1, 'fast join', 'fast', 'join'),
        |    (2, 'key value', 'key', 'value'))
        |    AS t(phrase_id, phrase, w1, w2)),
        |post AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS tok,
        |    CAST(generate_subscripts(string_split(text, ' '), 1)
        |      AS BIGINT) - 1 AS pos
        |  FROM documents),
        |m AS (SELECT p.phrase_id, p.phrase, a.doc_id
        |  FROM p JOIN post a ON a.tok = p.w1
        |  JOIN post b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |    AND b.tok = p.w2)
        |SELECT CAST(phrase_id AS BIGINT) AS phrase_id, phrase,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_hits
        |FROM m GROUP BY 1, 2 ORDER BY phrase_id""".stripMargin,
    "q_psi_drift" ->
      """WITH c AS (SELECT CAST(o_orderdate AS DATE) < DATE '1998-01-01'
        |      AS is_a,
        |    CAST(round(o_totalprice * 100.0) AS BIGINT) // 5000000 AS bucket
        |  FROM orders),
        |a AS (SELECT bucket, count(*) AS ca FROM c WHERE is_a GROUP BY 1),
        |b AS (SELECT bucket, count(*) AS cb FROM c WHERE NOT is_a GROUP BY 1),
        |f AS (SELECT coalesce(a.bucket, b.bucket) AS bucket,
        |        coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
        |      FROM a FULL OUTER JOIN b ON a.bucket = b.bucket),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS ta,
        |        CAST(sum(cb) AS BIGINT) AS tb,
        |        CAST(count(*) AS BIGINT) AS nb FROM f),
        |p AS (SELECT bucket, ca, cb,
        |        CAST(greatest(1, 1000000 * (ca + 1) // (ta + nb)) AS BIGINT)
        |          AS p_ppm,
        |        CAST(greatest(1, 1000000 * (cb + 1) // (tb + nb)) AS BIGINT)
        |          AS q_ppm
        |      FROM f CROSS JOIN t)
        |SELECT bucket, CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
        |  p_ppm, q_ppm,
        |  CAST(floor((CAST(p_ppm AS DOUBLE) - CAST(q_ppm AS DOUBLE))
        |    / 1000000.0
        |    * ln(CAST(p_ppm AS DOUBLE) / CAST(q_ppm AS DOUBLE))
        |    * 1000000000.0) AS BIGINT) AS psi_e9
        |FROM p ORDER BY bucket""".stripMargin,
    "q_bhattacharyya" ->
      """WITH c AS (SELECT (c_mktsegment = 'BUILDING') AS is_a,
        |    CAST(round(o_totalprice * 100.0) AS BIGINT) // 5000000 AS bucket
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |a AS (SELECT bucket, count(*) AS ca FROM c WHERE is_a GROUP BY 1),
        |b AS (SELECT bucket, count(*) AS cb FROM c WHERE NOT is_a
        |      GROUP BY 1),
        |f AS (SELECT coalesce(a.bucket, b.bucket) AS bucket,
        |    coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
        |  FROM a FULL OUTER JOIN b ON a.bucket = b.bucket),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS ta,
        |    CAST(sum(cb) AS BIGINT) AS tb FROM f),
        |terms AS (SELECT bucket,
        |    CAST(floor(sqrt(CAST((1000000 * ca // ta) * (1000000 * cb // tb)
        |      AS DOUBLE))) AS BIGINT) AS bc_term_e6
        |  FROM f CROSS JOIN t WHERE ta > 0 AND tb > 0),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets,
        |    CAST(sum(bc_term_e6) AS BIGINT) AS bc_e6 FROM terms)
        |SELECT n_buckets, bc_e6,
        |  CAST(floor(sqrt(CAST((1000000 - least(bc_e6, 1000000)) * 1000000
        |    AS DOUBLE))) AS BIGINT) AS hellinger_e6
        |FROM agg ORDER BY n_buckets""".stripMargin,
    "q_dp_histogram" ->
      """WITH h AS (SELECT
        |    CAST(round(o_totalprice * 100.0) AS BIGINT) // 5000000
        |      AS bucket,
        |    count(*) AS n
        |  FROM orders GROUP BY 1),
        |u AS (SELECT bucket, CAST(n AS BIGINT) AS n,
        |    ('0x' || substr(md5(CAST(bucket AS VARCHAR)), 1, 8))::BIGINT
        |      % 999998 + 1 AS u_ppm
        |  FROM h),
        |v AS (SELECT bucket, n, u_ppm, u_ppm - 500000 AS v FROM u)
        |SELECT bucket, n, u_ppm,
        |  CAST(floor(-1000000.0 * sign(CAST(v AS DOUBLE)) *
        |    ln(1.0 - 2.0 * abs(CAST(v AS DOUBLE)) / 1000000.0))
        |    AS BIGINT) AS noise_e6,
        |  n * 1000000 + CAST(floor(-1000000.0 * sign(CAST(v AS DOUBLE)) *
        |    ln(1.0 - 2.0 * abs(CAST(v AS DOUBLE)) / 1000000.0))
        |    AS BIGINT) AS noisy_e6
        |FROM v ORDER BY bucket""".stripMargin,
    "q_text_normalize" ->
      """SELECT c_custkey,
        |  trim(regexp_replace(
        |    lower(nfc_normalize(c_name)), '[^a-z0-9]+', ' ', 'g'))
        |    AS norm_name
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_schema_evolution" ->
      """SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS n_regionkey
        |FROM nation
        |UNION ALL
        |SELECT n_nationkey, CAST(NULL AS VARCHAR) AS n_name, n_regionkey
        |FROM nation
        |ORDER BY n_nationkey, n_name NULLS FIRST""".stripMargin,
    "q_ivm_join" ->
      """SELECT o_orderkey, o_custkey AS ck, c_name,
        |  CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q_snapshot_diff" ->
      """WITH t AS (SELECT o_orderkey AS k,
        |        CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents,
        |        o_orderstatus AS st FROM orders),
        |af AS (SELECT k,
        |         CASE WHEN k % 7 = 1 THEN cents + 11 ELSE cents END AS cents,
        |         st
        |       FROM t WHERE k % 10 <> 0
        |       UNION ALL
        |       SELECT -k, cents + 5, st FROM t WHERE k % 7 = 3)
        |SELECT coalesce(a.k, b.k) AS k,
        |  CASE WHEN b.k IS NULL THEN 'I'
        |       WHEN a.k IS NULL THEN 'D' ELSE 'U' END AS op,
        |  CASE WHEN a.k IS NOT NULL THEN a.cents ELSE b.cents END AS cents,
        |  CASE WHEN a.k IS NOT NULL THEN a.st ELSE b.st END AS st
        |FROM t b FULL JOIN af a ON b.k = a.k
        |WHERE b.k IS NULL OR a.k IS NULL
        |   OR b.cents IS DISTINCT FROM a.cents
        |   OR b.st IS DISTINCT FROM a.st
        |ORDER BY k""".stripMargin,
    "q_merge_into" ->
      """WITH t AS (SELECT o_orderkey AS k,
        |        CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents,
        |        o_orderstatus AS st FROM orders),
        |src AS (SELECT k, cents + k % 100 AS cents, st FROM t WHERE k % 7 IN (1, 2)
        |        UNION ALL
        |        SELECT -k, cents + 5, st FROM t WHERE k % 7 = 3),
        |m AS (SELECT t.k AS tk, t.cents AS tc, t.st AS tst,
        |        s.k AS sk, s.cents AS sc, s.st AS sst
        |      FROM t FULL OUTER JOIN src s ON t.k = s.k)
        |SELECT coalesce(tk, sk) AS k,
        |  CASE WHEN (tk IS NOT NULL AND sk IS NOT NULL
        |             AND NOT sc % 10 = 3 AND sc > tc)
        |         OR tk IS NULL
        |       THEN sc ELSE tc END AS cents,
        |  CASE WHEN (tk IS NOT NULL AND sk IS NOT NULL
        |             AND NOT sc % 10 = 3 AND sc > tc)
        |         OR tk IS NULL
        |       THEN sst ELSE tst END AS st
        |FROM m
        |WHERE CASE
        |  WHEN tk IS NOT NULL AND sk IS NOT NULL AND sc % 10 = 3 THEN FALSE
        |  WHEN tk IS NOT NULL AND sk IS NOT NULL THEN TRUE
        |  WHEN tk IS NULL THEN sc % 2 = 0
        |  ELSE NOT (tst = 'F' AND tk % 10 = 0) END
        |ORDER BY k""".stripMargin,
    "q_zorder" ->
      s"""WITH z AS (SELECT l_partkey, l_suppkey,
         |    ${graft.ops.ZOrder.interleaveSql("l_partkey", "l_suppkey")} AS z
         |  FROM lineitem)
         |SELECT z // 4096 AS bucket, CAST(count(*) AS BIGINT) AS n,
         |  min(l_partkey) AS min_part, max(l_partkey) AS max_part,
         |  min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
         |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_cdc_apply" ->
      """WITH b AS (SELECT o_orderkey AS k,
        |             CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents
        |           FROM orders)
        |SELECT k, CASE WHEN k % 10 IN (1, 2) THEN cents * 2 ELSE cents END AS cents
        |FROM b WHERE k % 10 <> 0
        |UNION ALL
        |SELECT -k, cents FROM b WHERE k % 10 = 3
        |ORDER BY k""".stripMargin,
    "q_versioned_read" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderstatus = 'O' ORDER BY o_orderkey""".stripMargin,
    "q_ref_integrity" ->
      """SELECT 'customer.nationkey' AS edge,
        |  (SELECT count(*) FROM customer) AS n_rows,
        |  (SELECT count(*) FROM customer WHERE NOT EXISTS
        |    (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey))
        |  AS n_orphans
        |UNION ALL SELECT 'lineitem.orderkey',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem WHERE NOT EXISTS
        |    (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey))
        |UNION ALL SELECT 'lineitem.partkey',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem WHERE NOT EXISTS
        |    (SELECT 1 FROM part WHERE p_partkey = l_partkey))
        |UNION ALL SELECT 'lineitem.suppkey',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem WHERE NOT EXISTS
        |    (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey))
        |UNION ALL SELECT 'nation.regionkey',
        |  (SELECT count(*) FROM nation),
        |  (SELECT count(*) FROM nation WHERE NOT EXISTS
        |    (SELECT 1 FROM region WHERE r_regionkey = n_regionkey))
        |UNION ALL SELECT 'orders.custkey',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders WHERE NOT EXISTS
        |    (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
        |UNION ALL SELECT 'supplier.nationkey',
        |  (SELECT count(*) FROM supplier),
        |  (SELECT count(*) FROM supplier WHERE NOT EXISTS
        |    (SELECT 1 FROM nation WHERE n_nationkey = s_nationkey))
        |ORDER BY edge""".stripMargin,
    "q_data_contract" ->
      """SELECT 'discount_in_0_0p1' AS rule,
        |  CAST(sum(CASE WHEN l_discount NOT BETWEEN 0.0 AND 0.1
        |                  OR l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violations FROM lineitem
        |UNION ALL
        |SELECT 'orderkey_fk_exists', count(*) FROM lineitem
        |WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        |UNION ALL
        |SELECT 'price_positive',
        |  CAST(sum(CASE WHEN l_extendedprice <= 0.0
        |                  OR l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'quantity_in_1_50',
        |  CAST(sum(CASE WHEN l_quantity NOT BETWEEN 1.0 AND 50.0
        |                  OR l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'returnflag_in_domain',
        |  CAST(sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
        |                  OR l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem
        |ORDER BY rule""".stripMargin,
    "q_token_budget_mix" ->
      """WITH dt AS (SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |c AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS toks
        |  FROM dt GROUP BY source),
        |w AS (SELECT source, sqrt(CAST(toks AS DOUBLE)) AS w FROM c),
        |cw AS (SELECT source, w,
        |    sum(w) OVER (ORDER BY source ROWS UNBOUNDED PRECEDING) AS cum_w
        |  FROM w),
        |t AS (SELECT max(cum_w) AS total_w FROM cw),
        |q AS (SELECT source,
        |    greatest(1, CAST(floor(10000.0 * (w / total_w)) AS BIGINT))
        |      AS quota
        |  FROM cw CROSS JOIN t),
        |r AS (SELECT source, doc_id, n_toks,
        |    CAST(sum(n_toks) OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks
        |  FROM dt)
        |SELECT r.source, doc_id, n_toks, cum_toks
        |FROM r JOIN q ON r.source = q.source
        |WHERE cum_toks - n_toks < quota
        |ORDER BY r.source, cum_toks""".stripMargin,
    "q_temperature_mix" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |w AS (SELECT source, sqrt(CAST(n AS DOUBLE)) AS w FROM c),
        |cw AS (SELECT source, w,
        |         sum(w) OVER (ORDER BY source ROWS UNBOUNDED PRECEDING) AS cum_w
        |       FROM w),
        |t AS (SELECT max(cum_w) AS total_w FROM cw),
        |q AS (SELECT source,
        |        greatest(1, CAST(floor(200.0 * (w / total_w)) AS BIGINT)) AS quota
        |      FROM cw CROSS JOIN t),
        |r AS (SELECT source, doc_id,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |      FROM documents)
        |SELECT r.source, doc_id, CAST(rn AS INT) AS rn
        |FROM r JOIN q ON r.source = q.source
        |WHERE rn <= quota ORDER BY r.source, rn""".stripMargin,
    "q_orc_source" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin,
    "q_text_source" ->
      """SELECT count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars
        |FROM documents""".stripMargin,
    "q_incr_agg" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "q_keep_latest" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q_scd2" ->
      """WITH v AS (SELECT user_id, event_id, event_type,
        |        epoch_us(ts) AS valid_from_us,
        |        lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |          ORDER BY ts ASC, event_id ASC) AS valid_to_us
        |      FROM events)
        |SELECT user_id, event_id, event_type, valid_from_us, valid_to_us,
        |  valid_to_us IS NULL AS is_current
        |FROM v ORDER BY user_id, valid_from_us, event_id""".stripMargin,
    "q_string_index" ->
      """WITH f AS (SELECT p_brand, count(*) AS n_parts FROM part GROUP BY 1)
        |SELECT p_brand,
        |  CAST(row_number() OVER (ORDER BY n_parts DESC, p_brand ASC) - 1
        |    AS BIGINT) AS idx,
        |  n_parts
        |FROM f ORDER BY idx""".stripMargin,
    "q_target_encode" ->
      """WITH per AS (SELECT o_orderpriority AS cat, count(*) AS n,
        |    CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
        |      AS sum_cents
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot,
        |    CAST(sum(sum_cents) AS BIGINT) AS tot_cents FROM per)
        |SELECT cat, n, CAST(sum_cents // n AS BIGINT) AS avg_cents,
        |  CAST((sum_cents + 20 * (tot_cents // n_tot)) // (n + 20)
        |    AS BIGINT) AS enc_cents
        |FROM per CROSS JOIN tot ORDER BY cat""".stripMargin,
    "q_scd2_asof" ->
      """WITH dim AS (SELECT user_id AS d_user, event_id AS version_id,
        |    event_type AS state, epoch_us(ts) AS valid_from_us,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) ASC, event_id ASC) AS valid_to_us
        |  FROM events WHERE event_type IN ('signup', 'error')),
        |f AS (SELECT event_id, user_id, epoch_us(ts) AS t_us FROM events
        |      WHERE event_type = 'purchase')
        |SELECT f.event_id, f.user_id, version_id, state, valid_from_us
        |FROM f LEFT JOIN dim ON f.user_id = dim.d_user
        |  AND t_us >= valid_from_us
        |  AND (valid_to_us IS NULL OR t_us < valid_to_us)
        |ORDER BY f.event_id""".stripMargin,
    "q_interval_prorate" ->
      """WITH b AS (SELECT
        |    CAST(round(l_extendedprice * 100.0) AS BIGINT) AS cents,
        |    CAST(o_orderdate AS DATE) AS d0, CAST(l_shipdate AS DATE) AS d1
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE CAST(l_shipdate AS DATE) >= CAST(o_orderdate AS DATE)),
        |m AS (SELECT cents, d0, d1,
        |    CAST(unnest(generate_series(date_trunc('month', d0),
        |      date_trunc('month', d1), INTERVAL 1 MONTH)) AS DATE) AS mstart
        |  FROM b),
        |x AS (SELECT strftime(mstart, '%Y-%m') AS month,
        |    cents * (date_diff('day', greatest(mstart, d0),
        |      least(last_day(mstart), d1)) + 1) //
        |      (date_diff('day', d0, d1) + 1) AS alloc
        |  FROM m)
        |SELECT month, count(*) AS n_slices,
        |  CAST(sum(alloc) AS BIGINT) AS alloc_cents
        |FROM x GROUP BY 1 ORDER BY month""".stripMargin,
    "q_bm25" -> bm25Sql,
    "q_ndcg" ->
      s"""WITH sc AS (SELECT * FROM (${bm25Sql})),
         |r AS (SELECT doc_id,
         |    (CASE WHEN len(list_filter(string_split(text, ' '),
         |        x -> x = 'spark')) > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN len(list_filter(string_split(text, ' '),
         |        x -> x = 'join')) > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN len(list_filter(string_split(text, ' '),
         |        x -> x = 'window')) > 0 THEN 1 ELSE 0 END) AS rel
         |  FROM documents),
         |cand AS (SELECT sc.doc_id, bm25_e6, rel
         |  FROM sc JOIN r ON sc.doc_id = r.doc_id WHERE rel > 0),
         |dp AS (SELECT rel, row_number() OVER
         |    (ORDER BY bm25_e6 DESC, doc_id ASC) AS pos FROM cand),
         |d AS (SELECT CAST(sum(CAST(floor(1000000.0 * (pow(2.0, rel) - 1.0)
         |    / log2(CAST(pos AS DOUBLE) + 1.0)) AS BIGINT)) AS BIGINT)
         |    AS dcg_e6
         |  FROM dp WHERE pos <= 10),
         |ip AS (SELECT rel, row_number() OVER
         |    (ORDER BY rel DESC, doc_id ASC) AS pos FROM cand),
         |i AS (SELECT CAST(sum(CAST(floor(1000000.0 * (pow(2.0, rel) - 1.0)
         |    / log2(CAST(pos AS DOUBLE) + 1.0)) AS BIGINT)) AS BIGINT)
         |    AS idcg_e6
         |  FROM ip WHERE pos <= 10),
         |n AS (SELECT count(*) AS n_candidates FROM cand)
         |SELECT n_candidates, dcg_e6, idcg_e6,
         |  CAST(1000000 * dcg_e6 // idcg_e6 AS BIGINT) AS ndcg_ppm
         |FROM n CROSS JOIN d CROSS JOIN i ORDER BY n_candidates""".stripMargin,
    "q_mrr" ->
      s"""WITH sc AS (SELECT * FROM (${bm25Sql})),
         |r AS (SELECT doc_id,
         |    (CASE WHEN len(list_filter(string_split(text, ' '),
         |        x -> x = 'spark')) > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN len(list_filter(string_split(text, ' '),
         |        x -> x = 'join')) > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN len(list_filter(string_split(text, ' '),
         |        x -> x = 'window')) > 0 THEN 1 ELSE 0 END) AS rel
         |  FROM documents),
         |cand AS (SELECT sc.doc_id, bm25_e6
         |  FROM sc JOIN r ON sc.doc_id = r.doc_id WHERE rel > 0),
         |best AS (SELECT doc_id AS best_doc, bm25_e6 AS best_e6
         |  FROM cand ORDER BY bm25_e6 DESC, doc_id ASC LIMIT 1),
         |a AS (SELECT best_doc, best_e6,
         |    CAST(sum(CASE WHEN sc.bm25_e6 > best_e6
         |      OR (sc.bm25_e6 = best_e6 AND sc.doc_id < best_doc)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_ahead
         |  FROM sc CROSS JOIN best GROUP BY 1, 2)
         |SELECT best_doc, best_e6,
         |  CAST(n_ahead + 1 AS BIGINT) AS first_rel_rank,
         |  CAST(1000000 // (n_ahead + 1) AS BIGINT) AS mrr_ppm
         |FROM a ORDER BY best_doc""".stripMargin,
    "q_precision_at_k" ->
      s"""WITH sc AS (SELECT * FROM (${bm25Sql})),
         |r AS (SELECT doc_id,
         |    (CASE WHEN len(list_filter(string_split(text, ' '),
         |        x -> x = 'spark')) > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN len(list_filter(string_split(text, ' '),
         |        x -> x = 'join')) > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN len(list_filter(string_split(text, ' '),
         |        x -> x = 'window')) > 0 THEN 1 ELSE 0 END) AS rel
         |  FROM documents),
         |relv AS (SELECT doc_id FROM r WHERE rel > 0),
         |top AS (SELECT doc_id FROM sc
         |  ORDER BY bm25_e6 DESC, doc_id ASC LIMIT 10),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS k,
         |    CAST(sum(CASE WHEN relv.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS rel_at_k
         |  FROM top LEFT JOIN relv ON top.doc_id = relv.doc_id),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_rel FROM relv)
         |SELECT k, rel_at_k, n_rel,
         |  CAST(1000000 * rel_at_k // k AS BIGINT) AS p_at_k_ppm,
         |  CAST(1000000 * rel_at_k // n_rel AS BIGINT) AS recall_at_k_ppm
         |FROM a CROSS JOIN t ORDER BY k""".stripMargin,
    "q_rrf_fusion" ->
      """WITH t AS (SELECT doc_id, n_chars,
        |    len(list_filter(string_split(text, ' '), x -> x = 'spark')) AS tf
        |  FROM documents),
        |a AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY tf DESC, doc_id ASC) AS rnk_a FROM t),
        |b AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rnk_b FROM t)
        |SELECT doc_id, CAST(rnk_a AS INT) AS rnk_a, CAST(rnk_b AS INT) AS rnk_b,
        |  CAST(floor((1.0 / (60 + rnk_a) + 1.0 / (60 + rnk_b)) * 1000000000)
        |       AS BIGINT) AS rrf_e9
        |FROM a JOIN b USING (doc_id)
        |ORDER BY rrf_e9 DESC, doc_id LIMIT 50""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |l AS (SELECT user_id, event_id, ts_us,
        |        lag(ts_us) OVER (PARTITION BY user_id
        |                         ORDER BY ts_us, event_id) AS prev_us
        |      FROM e),
        |f AS (SELECT user_id, event_id, ts_us,
        |        CASE WHEN prev_us IS NULL OR ts_us - prev_us > 43200000000
        |             THEN 1 ELSE 0 END AS is_new
        |      FROM l),
        |s AS (SELECT user_id, ts_us,
        |        sum(is_new) OVER (PARTITION BY user_id
        |                          ORDER BY ts_us, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS session_seq
        |      FROM f)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  count(*) AS n_events, min(ts_us) AS start_us, max(ts_us) AS end_us,
        |  max(ts_us) - min(ts_us) AS duration_us
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,
    "q_entropy" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |b AS (SELECT doc_id, len(toks) AS n,
        |        list_sort(list_distinct(toks)) AS uniq, toks
        |      FROM t WHERE len(toks) > 0),
        |c AS (SELECT doc_id, n,
        |        list_transform(uniq,
        |          u -> CAST(len(list_filter(toks, x -> x = u)) AS DOUBLE)) AS cnts
        |      FROM b),
        |r AS (SELECT doc_id, n,
        |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |          list_transform(cnts, c -> c * ln(c))), (a, b) -> a + b) AS clogc
        |      FROM c)
        |SELECT doc_id, CAST(n AS INT) AS n_tokens,
        |  CAST(floor((ln(CAST(n AS DOUBLE)) - clogc / n) * 1000000) AS BIGINT)
        |    AS entropy_e6
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_pii_mask" ->
      """SELECT c_custkey, sha256(c_name) AS name_token,
        |  regexp_replace(substr(c_name, 1, length(c_name) - 3),
        |                 '[0-9]', '*', 'g')
        |    || substr(c_name, length(c_name) - 2, 3) AS name_masked,
        |  CAST(floor(c_acctbal / 500.0) AS BIGINT) AS bal_band
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_join_bloom" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN
        |  (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_zscore_outliers" ->
      """WITH c AS (SELECT event_id, event_type,
        |        CAST(round(value * 100.0) AS BIGINT) AS cents
        |      FROM events),
        |st AS (SELECT event_type, count(*) AS n,
        |         sum(cents) AS s1, sum(cents * cents) AS s2
        |       FROM c GROUP BY event_type),
        |z AS (SELECT event_id, c.event_type,
        |        CASE WHEN CAST(s2 AS DOUBLE) / n -
        |               (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) > 0.0
        |        THEN (CAST(cents AS DOUBLE) - CAST(s1 AS DOUBLE) / n) /
        |             sqrt(CAST(s2 AS DOUBLE) / n -
        |                  (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
        |        END AS z
        |      FROM c JOIN st ON c.event_type = st.event_type)
        |SELECT event_id, event_type, CAST(floor(z * 1000) AS BIGINT) AS z_e3
        |FROM z WHERE abs(z) > 3.0
        |ORDER BY event_id""".stripMargin,
    "q_csv_source" ->
      """SELECT r_regionkey, r_name FROM region
        |ORDER BY r_regionkey""".stripMargin,
    "q_xml_source" ->
      """SELECT n_nationkey, n_name FROM nation
        |ORDER BY n_nationkey""".stripMargin,
    "q_binaryfile_source" ->
      """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey,
        |  CAST(strlen(r_name) AS BIGINT) AS length,
        |  r_name AS payload
        |FROM region ORDER BY r_regionkey""".stripMargin,
  )
}
