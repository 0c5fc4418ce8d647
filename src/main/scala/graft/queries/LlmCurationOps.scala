package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.ops.{Dedup, Similarity, TextStats}

/** Curation tier: token dropout, span corruption, curriculum order,
  * deterministic sampling/splits, sequence packing/chunking, domain
  * mixes, and corpus profiling.
  *
  * One of the five LLM-pipeline registry sections;
  * [[graft.SparkEntry]] lists each directly.
  */
private[graft] object LlmCurationOps {
  private[graft] type Q = (SparkSession, String) => DataFrame

  /** Deterministic token-dropout augmentation: each document re-emitted
    * with ~10% of tokens dropped by an md5 draw on (doc, position) —
    * the data-augmentation transform a training pipeline applies for
    * robustness, WITHOUT RNG state (the `q_sample_split` discipline:
    * same corpus in, same augmented corpus out, on any cluster). The
    * rebuild is order-exact: sort_array over (pos, tok) structs then
    * join — the distributed equivalent of an ORDER BY string_agg.
    * Map-side explode + one per-doc aggregate.
    */
  private[queries] val qTokenDropout: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p", "tok")))
      .filter(col("tok") =!= "")
      .withColumn("pos", col("p").cast("long") + 1L)
    val kept = toks.withColumn("keep",
      pmod(conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
        col("pos").cast("string"))), 1, 8), 16, 10).cast("long"),
        lit(10L)) < 9L)
    kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_orig"),
        sum(col("keep").cast("long")).as("n_kept"),
        array_join(transform(array_sort(collect_list(
          when(col("keep"), struct(col("pos"), col("tok"))))),
          x => x.getField("tok")), " ").as("aug_text"))
      .orderBy("doc_id")
  }

  /** T5-style span corruption: ~10% of token positions open a 3-token
    * mask span (overlaps merge), each merged span replaced by a
    * numbered `<extra_id_k>` sentinel — the denoising-objective
    * augmentation next to `q_token_dropout`'s i.i.d. deletion. Spans
    * are md5 position draws (RNG-free, identical both engines);
    * membership is a DIRECT recompute of the ≤2 predecessor draws (no
    * self-join); sentinel numbering is one doc-partitioned running
    * count; the rebuild is the dropout key's order-exact sort_array +
    * ordered join. Everything shards by document.
    */
  private[queries] val qSpanMask: Q = (s, d) => {
    def hppm(p: org.apache.spark.sql.Column) =
      pmod(conv(substring(md5(concat(col("doc_id").cast("string"), lit("#"),
        p.cast("string"))), 1, 8), 16, 10).cast("long"), lit(100L))
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p", "tok")))
      .filter(col("tok") =!= "")
      .withColumn("pos", col("p").cast("long") + 1L)
    val flagged = toks
      .withColumn("st", hppm(col("pos")) < 10L)
      .withColumn("st1", col("pos") >= 2L && hppm(col("pos") - 1L) < 10L)
      .withColumn("st2", col("pos") >= 3L && hppm(col("pos") - 2L) < 10L)
      .withColumn("masked", col("st") || col("st1") || col("st2"))
      .withColumn("sentinel", col("st") && !col("st1") && !col("st2"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    flagged
      .withColumn("sent_idx", sum(col("sentinel").cast("long")).over(w))
      .withColumn("out",
        when(col("sentinel"), concat(lit("<extra_id_"),
          (col("sent_idx") - 1L).cast("string"), lit(">")))
          .when(!col("masked"), col("tok")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("masked").cast("long")).as("n_masked"),
        sum(col("sentinel").cast("long")).as("n_spans"),
        array_join(transform(array_sort(collect_list(
          when(col("out").isNotNull, struct(col("pos"), col("out"))))),
          x => x.getField("out")), " ").as("masked_text"))
      .orderBy("doc_id")
  }

  /** Curriculum ordering: the full corpus ranked highest-quality-first
    * (the `q_quality_score` heuristic) with a 3-phase bucket — the
    * schedule a curriculum-learning trainer consumes (clean text
    * first, tail later). The rank rides the distributed total-order
    * rank; the phase is integer arithmetic on it.
    */
  private[queries] val qCurriculumOrder: Q = (s, d) => {
    val qs = TextStats.qualityScore(Tables.documents(s, d), "doc_id", "text")
    val ranked = graft.ops.Ranks.globalRowNumber(qs,
      Seq(col("quality_e6").desc, col("doc_id").asc), "curriculum_rank")
    val tot = qs.agg(count(lit(1)).as("n"))
    ranked.crossJoin(broadcast(tot))
      .select(col("doc_id"), col("quality_e6"),
        col("curriculum_rank").cast("long").as("curriculum_rank"),
        expr("(CAST(curriculum_rank AS BIGINT) - 1) * 3 DIV n").as("phase"))
      .orderBy("doc_id")
  }

  private[queries] val qSampleSplit: Q = (s, d) =>
    TextStats.sampleSplit(Tables.documents(s, d), "doc_id")
      .orderBy(col("doc_id"))

  /** Deterministic FIXED-SIZE uniform sample: the k smallest
    * md5-of-key values (salted so this sample is independent of
    * `q_sample_split`'s bucketing). The rate-based split gives each row
    * an independent coin flip — sample SIZE varies; bottom-k-by-hash
    * gives exactly k rows, stable across runs/partitionings, and
    * distributed as TakeOrderedAndProject: per-partition top-k heaps,
    * k rows per partition to the driver stage, never a global sort.
    * The "give me exactly 10k eval docs, reproducibly" primitive.
    */
  private[queries] val qSampleBottomk: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        md5(concat(lit("smpl:"), col("doc_id").cast("string"))).as("h"))
      .orderBy(col("h"), col("doc_id"))
      .limit(100)

  /** Deterministic weighted Bernoulli sampling: each document keeps
    * with probability `w_ppm/10⁶` decided by comparing its OWN salted
    * md5 draw against its weight — the row-level form of temperature
    * sampling (here weight ∝ document length, capped at 1). Pure
    * map-side filter: no shuffle, no RNG state, reproducible across
    * runs/partitionings/engines, and upsampling-free (a row is in or
    * out). Complements `q_temperature_mix` (per-DOMAIN quota √n
    * reweighting) and `q_sample_split` (unweighted rate split).
    */
  private[queries] val qWeightedSample: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        pmod(conv(substring(
            md5(concat(lit("wsmp:"), col("doc_id").cast("string"))), 1, 8),
          16, 10).cast("long"), lit(1000000L)).as("u_ppm"),
        // cap at the FULL 10⁶ grid: draws live in [0, 10⁶), so a
        // max-weight doc satisfies u < w with certainty — capping at
        // 999999 would deterministically drop the ~1e-6 of large docs
        // whose draw is exactly 999999, forever
        least(lit(1000000L), col("n_chars") * 2000L).as("w_ppm"))
      .filter(col("u_ppm") < col("w_ppm"))
      .orderBy("doc_id")

  /** Column profiling: per-column count/nulls/distinct in one pass shape
    * (a union of per-column aggregates — the data-quality health check).
    */
  private[queries] val qProfile: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val cols = Seq("l_returnflag", "l_linestatus", "l_suppkey")
    cols.map { c =>
      li.agg(
        lit(c).as("column_name"),
        count(lit(1)).as("n_rows"),
        count(col(c)).as("n_nonnull"),
        countDistinct(col(c)).as("n_distinct"))
    }.reduce(_ unionByName _).orderBy(col("column_name"))
  }

  /** Approximate percentile sketch — approximate by design, rows-only. */
  /** Scalar output columns (not the raw percentile array): the driver's
    * differential check loads results into pandas, which cannot sort or
    * hash array-typed cells.
    */
  private[queries] val qApproxPercentile: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.99), 1000)")
        .as("pp"))
      .select(col("l_returnflag"),
        element_at(col("pp"), 1).as("p50_price"),
        element_at(col("pp"), 2).as("p99_price"))
      .orderBy(col("l_returnflag"))

  /** Sequence packing (pretraining batch assembly): assign docs to fixed
    * token-budget packs. Streaming first-boundary packing in doc_id
    * order: a doc's pack is the exclusive cumulative token count divided
    * by the budget. The cumulative sum is the distributed
    * range-partitioned running total ([[graft.ops.Ranks]]): per-partition
    * windows (parallel) plus collected partition subtotals — no
    * single-partition window in the plan (PlanSpec pins this), so
    * packing scales with the corpus.
    */
  private[queries] val qPackSequences: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .select(col("doc_id"), col("n_tokens"))
    graft.ops.Ranks.globalRunningSum(toks, Seq(col("doc_id").asc),
        col("n_tokens"), "cum")
      .select(col("doc_id"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / 512.0).cast("long").as("pack_id"))
      .orderBy(col("doc_id"))
  }

  /** Overlapping token-window chunking (context-window prep / RAG
    * indexing): 32-token chunks at stride 16, one row per (doc, offset).
    * Pure map-side generator — explode(sequence) + slice — no shuffle.
    */
  private[queries] val qChunkTokens: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("toks")) - 1, lit(16))).as("start"),
        col("toks"))
      .select(col("doc_id"),
        (col("start") / 16).cast("long").as("chunk_idx"),
        array_join(slice(col("toks"), col("start") + 1, lit(32)), " ")
          .as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Domain mixing: rebalance the corpus to ≤40 docs per language,
    * selected in deterministic md5-of-key order.
    */
  private[queries] val qDomainMix: Q = (s, d) =>
    TextStats.stratifiedSample(Tables.documents(s, d), "doc_id", "lang", 40)
      .orderBy(col("lang"), col("rn"))

  private[graft] val registry: Map[String, Q] = Map(
    "q_domain_mix" -> qDomainMix,
    "q_approx_percentile" -> qApproxPercentile,
    "q_sample_split" -> qSampleSplit,
    "q_sample_bottomk" -> qSampleBottomk,
    "q_weighted_sample" -> qWeightedSample,
    "q_profile" -> qProfile,
    "q_token_dropout" -> qTokenDropout,
    "q_span_mask" -> qSpanMask,
    "q_curriculum_order" -> qCurriculumOrder,
    "q_pack_sequences" -> qPackSequences,
    "q_chunk_tokens" -> qChunkTokens,
  )

  private[graft] val oracle: Map[String, String] = Map(
    "q_domain_mix" ->
      """WITH r AS (SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT lang, doc_id, rn FROM r WHERE rn <= 40
        |ORDER BY lang, rn""".stripMargin,
    "q_sample_bottomk" ->
      """SELECT doc_id, md5('smpl:' || CAST(doc_id AS VARCHAR)) AS h
        |FROM documents
        |ORDER BY h, doc_id
        |LIMIT 100""".stripMargin,
    "q_weighted_sample" ->
      """WITH b AS (SELECT doc_id, n_chars,
        |    ('0x' || substr(md5('wsmp:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |      ::BIGINT % 1000000 AS u_ppm,
        |    CAST(least(1000000, n_chars * 2000) AS BIGINT) AS w_ppm
        |  FROM documents)
        |SELECT doc_id, n_chars, u_ppm, w_ppm FROM b
        |WHERE u_ppm < w_ppm ORDER BY doc_id""".stripMargin,
    "q_sample_split" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
        |      AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    "q_profile" ->
      """SELECT 'l_linestatus' AS column_name, count(*) AS n_rows,
        |       count(l_linestatus) AS n_nonnull,
        |       count(DISTINCT l_linestatus) AS n_distinct FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', count(*), count(l_returnflag),
        |       count(DISTINCT l_returnflag) FROM lineitem
        |UNION ALL
        |SELECT 'l_suppkey', count(*), count(l_suppkey),
        |       count(DISTINCT l_suppkey) FROM lineitem
        |ORDER BY column_name""".stripMargin,
    "q_token_dropout" ->
      """WITH toks AS (SELECT doc_id, tok, pos FROM
        |    (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |       CAST(generate_subscripts(string_split(text, ' '), 1)
        |         AS BIGINT) AS pos
        |     FROM documents) WHERE tok <> ''),
        |k AS (SELECT doc_id, tok, pos,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
        |      || CAST(pos AS VARCHAR)), 1, 8))::BIGINT % 10 < 9 AS keep
        |  FROM toks)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_orig,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN keep THEN tok END, ' '
        |    ORDER BY pos), '') AS aug_text
        |FROM k GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "q_span_mask" ->
      """WITH toks AS (SELECT doc_id, tok, pos FROM
        |    (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |       CAST(generate_subscripts(string_split(text, ' '), 1)
        |         AS BIGINT) AS pos
        |     FROM documents) WHERE tok <> ''),
        |f AS (SELECT doc_id, tok, pos,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#'
        |      || CAST(pos AS VARCHAR)), 1, 8))::BIGINT % 100 < 10 AS st,
        |    pos >= 2 AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#'
        |      || CAST(pos - 1 AS VARCHAR)), 1, 8))::BIGINT % 100 < 10 AS st1,
        |    pos >= 3 AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#'
        |      || CAST(pos - 2 AS VARCHAR)), 1, 8))::BIGINT % 100 < 10 AS st2
        |  FROM toks),
        |g AS (SELECT *, st OR st1 OR st2 AS masked,
        |    st AND NOT st1 AND NOT st2 AS sentinel FROM f),
        |h AS (SELECT *, sum(CASE WHEN sentinel THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY pos) AS sent_idx FROM g),
        |o AS (SELECT doc_id, pos, masked, sentinel,
        |    CASE WHEN sentinel THEN '<extra_id_'
        |        || CAST(sent_idx - 1 AS VARCHAR) || '>'
        |      WHEN NOT masked THEN tok END AS out
        |  FROM h)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
        |  CAST(sum(CASE WHEN sentinel THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
        |  coalesce(string_agg(out, ' ' ORDER BY pos), '') AS masked_text
        |FROM o GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "q_curriculum_order" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        |q AS (SELECT doc_id,
        |  least(1.0, len(toks) / 100.0) AS len_score,
        |  len(list_distinct(toks)) * 1.0 / len(toks) AS ttr,
        |  len([x for x in toks if length(x) >= 5]) * 1.0 / len(toks)
        |    AS long_share
        |FROM t),
        |s AS (SELECT doc_id,
        |  CAST(floor((len_score * 0.5 + ttr * 0.3 + long_share * 0.2)
        |    * 1000000) AS BIGINT) AS quality_e6
        |FROM q),
        |r AS (SELECT doc_id, quality_e6,
        |    CAST(row_number() OVER (ORDER BY quality_e6 DESC, doc_id ASC)
        |      AS BIGINT) AS curriculum_rank
        |  FROM s),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s)
        |SELECT doc_id, quality_e6, curriculum_rank,
        |  CAST((curriculum_rank - 1) * 3 // n AS BIGINT) AS phase
        |FROM r CROSS JOIN n ORDER BY doc_id""".stripMargin,
    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |           FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |        sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |          AS cum
        |      FROM t)
        |SELECT doc_id, n_tokens,
        |  CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack_id
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_chunk_tokens" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |s AS (SELECT doc_id, unnest(range(0, len(toks), 16)) AS start, toks
        |      FROM t)
        |SELECT doc_id, CAST(start / 16 AS BIGINT) AS chunk_idx,
        |  array_to_string(toks[start + 1 : start + 32], ' ') AS chunk_text
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin,
  )
}
