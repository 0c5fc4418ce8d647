package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.ops.{Dedup, Similarity, TextStats}

/** Text dedup tier: exact/minhash/simhash/n-gram/prefix/containment
  * dedup, durable cluster tables + representatives, cross-source overlap,
  * decontamination, and the dedup-detector evaluation keys.
  *
  * One of the five LLM-pipeline registry sections;
  * [[graft.SparkEntry]] lists each directly.
  */
private[graft] object LlmDedupOps {
  private[graft] type Q = (SparkSession, String) => DataFrame

  private[queries] val qDedupExact: Q = (s, d) =>
    Dedup.exactDedup(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** 32 hashes × 2 rows/band = 16 bands: candidate-recall at the J=0.5
    * threshold is 1-(1-0.25)^16 ≈ 0.99 and ≈1 at the J ≥ 0.8 the corpus
    * actually contains; LlmOpsSpec's recall audit pins 0 pairs missed
    * (and none extra) vs the exact PPJoin ground truth `q_dedup_ngram`
    * at sf0.01. 64 hashes doubled the banded explode
    * + candidate shuffle for no recall gain.
    */
  private[queries] val qDedupMinhash: Q = (s, d) =>
    Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
        numHashes = 32, rowsPerBand = 2, shingleSize = 3, threshold = 0.5)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Near-dup pairs → duplicate clusters: every document mapped to the
    * canonical (minimum) doc_id of its connected component; docs in no
    * pair are their own canonical. This is the keep/drop decision a
    * dedup pipeline actually executes.
    */
  /** Cluster assignment shared by q_dedup_clusters and
    * q_dedup_representatives: doc_id → canonical component id.
    *
    * The minhash-LSH + connected-components derivation is the expensive
    * part (the representative pick after it is one aggregate), so it
    * lands as a [[graft.ops.DurableTable]] — derive ONCE per (data
    * dir), write a versioned snapshot, serve every later cluster
    * consumer the read-back table. At 100 TB this is how a dedup
    * pipeline actually ships: the cluster map is a materialized asset
    * downstream keep/drop jobs join against, not something recomputed
    * per consumer; the scratch table stands in for that permanent
    * location.
    */
  private[queries] val clusterTable = new graft.ops.DurableTable("dedup_clusters")

  /** Cluster-table derivation counter, pinned run-once by LlmOpsSpec. */
  private[graft] val clusterDerivations = clusterTable.derivations

  /** Force the durable cluster-table build (and return its row count).
    * Bench times this as its own `_derive_dedup_clusters` entry so the
    * cluster consumers report steady-state read-through cost.
    */
  private[graft] def materializeClusters(s: SparkSession, d: String): Long =
    clusterAssign(s, d).count()

  private[queries] def clusterAssign(s: SparkSession, d: String): DataFrame =
    clusterTable(s, d) {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        numHashes = 32, rowsPerBand = 2, shingleSize = 3, threshold = 0.5)
      val comp = Dedup.connectedComponentsStar(pairs, "doc_a", "doc_b")
        .withColumnRenamed("node", "doc_id")
      docs.select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster_id"))
    }

  private[queries] val qDedupClusters: Q = (s, d) =>
    clusterAssign(s, d).orderBy(col("doc_id"))

  /** The KEEP decision a dedup pipeline executes after clustering:
    * one representative per duplicate cluster — the longest member
    * (quality proxy; swap in any scored column), ties to the lowest
    * doc_id. One `max(struct(len, -doc_id))` aggregate per cluster —
    * max_by with a deterministic tie-break in a single shuffle, no
    * window, no per-cluster buffering; singleton docs are their own
    * representative, so `Σ n_members = corpus size` (the invariant a
    * keep-list must satisfy before the drop side ships).
    */
  private[queries] val qDedupRepresentatives: Q = (s, d) => {
    clusterAssign(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"),
        length(col("text")).cast("long").as("ln")), Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("ln"), (-col("doc_id")).as("nid"))).as("m"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), (-col("m.nid")).as("kept_doc_id"),
        col("m.ln").as("kept_len"), col("n_members"))
      .orderBy(col("cluster_id"))
  }

  /** Duplicate-cluster size histogram — the dedup health readout (a
    * heavy tail means boilerplate floods; all-singletons means the
    * thresholds are dead). Rides the memoized durable cluster table,
    * so its cost is two tiny aggregates.
    */
  private[queries] val qClusterSizes: Q = (s, d) =>
    clusterAssign(s, d).groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("sz"))

  /** Near-duplicate rate per source — the per-feed dedup health
    * readout (one crawler feeding boilerplate shows up as a dup_ppm
    * outlier long before it floods the corpus). Docs count as
    * duplicates when their durable-cluster size exceeds 1, so the key
    * rides the memoized cluster table twice (assignment + size) plus
    * one doc_id-keyed join for the source column — steady-state cost
    * is two reads and two aggregates, no re-clustering.
    */
  private[queries] val qDupRateBySource: Q = (s, d) => {
    val sz = clusterAssign(s, d).groupBy("cluster_id")
      .agg(count(lit(1)).as("sz"))
    clusterAssign(s, d)
      .join(sz, "cluster_id")
      .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("sz") > 1L).cast("long")).as("n_dup"))
      .select(col("source"), col("n_docs"), col("n_dup"),
        expr("1000000 * n_dup DIV n_docs").as("dup_ppm"))
      .orderBy("source")
  }

  /** Cross-source shingle overlap: for every source pair, the count of
    * shared distinct 3-shingles and the Jaccard of their shingle
    * vocabularies — the "are two feeds scraping the same sites"
    * contamination matrix. Shape is the inverted index: distinct
    * (source, shingle) postings self-joined on the shingle, so a
    * shingle in k sources fans to k(k−1)/2 pairs — bounded by
    * |sources|², NEVER document-pairs. At petabyte scale swap the
    * shingle strings for [[graft.functions.shingleHashes]] 64-bit
    * postings (8 bytes/posting through the shuffle); strings here keep
    * the oracle exact. Per-source vocabulary sizes re-join as
    * broadcasts (one row per source).
    */
  private[queries] val qCrossSourceOverlap: Q = (s, d) => {
    val sh = Dedup.explodeShingles(
        Tables.documents(s, d).select(col("source"), col("text")),
        "source", "text", 3)
      .distinct()
    val per = sh.groupBy("source").agg(count(lit(1)).as("n_sh"))
    val a = sh.toDF("src_a", "shingle")
    val b = sh.toDF("src_b", "shingle_b")
    a.join(b, col("shingle") === col("shingle_b") &&
        col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("shared"))
      .join(broadcast(per.toDF("src_a", "n_a")), "src_a")
      .join(broadcast(per.toDF("src_b", "n_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("shared"),
        col("n_a"), col("n_b"),
        expr("1000000 * shared DIV (n_a + n_b - shared)").as("jaccard_ppm"))
      .orderBy("src_a", "src_b")
  }

  private[queries] val qDedupSimhash: Q = (s, d) =>
    Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text", maxHamming = 3)
      .orderBy(col("doc_a"), col("doc_b"))

  private[queries] val qDedupNgram: Q = (s, d) =>
    Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Detector-quality evaluation: the hamming≤3 SimHash pair set scored
    * against exact Jaccard≥0.5 ground truth — TP/FP/FN with precision/
    * recall in exact ppm. This is the readout a curation team checks
    * before swapping a cheap detector in for an expensive one (SimHash
    * is one map-side pass + a 64-bit key join; the exact PPJoin truth
    * costs an inverted index). Both operands are the registry's own
    * `q_dedup_simhash`/`q_dedup_ngram` pipelines, already mirrored
    * bit-for-bit in DuckDB, so even the confusion counts hash-match.
    * The pair-level full join is bounded by the two pair sets, never
    * the corpus².
    */
  private[queries] val qDedupEval: Q = (s, d) => {
    val truth = Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id",
        "text", shingleSize = 3, threshold = 0.5)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("t"))
    val pred = Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text",
        maxHamming = 3)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("p"))
    truth.join(pred, Seq("doc_a", "doc_b"), "full")
      .agg(
        sum(coalesce(col("t"), lit(0L)) * coalesce(col("p"), lit(0L))).as("tp"),
        sum((lit(1L) - coalesce(col("t"), lit(0L))) *
          coalesce(col("p"), lit(0L))).as("fp"),
        sum(coalesce(col("t"), lit(0L)) *
          (lit(1L) - coalesce(col("p"), lit(0L)))).as("fn"))
      .filter(col("tp") + col("fp") > 0L && col("tp") + col("fn") > 0L)
      .select(col("tp"), col("fp"), col("fn"),
        expr("1000000 * tp DIV (tp + fp)").as("precision_ppm"),
        expr("1000000 * tp DIV (tp + fn)").as("recall_ppm"))
      .orderBy("tp")
  }

  /** Dataset card: the one-row corpus datasheet every data release
    * ships — size, language/source breadth, token mass, the exact
    * median document length, and the exact-duplicate rate. Composes the
    * registry's own primitives (digest groupBy for dups, distributed
    * rank for the median) into the summary a consumer reads FIRST;
    * every figure is exact integer so the card is reproducible
    * bit-for-bit. Three partial-agg shuffles + one rank pass,
    * broadcast-joined into a single row.
    */
  private[queries] val qDatasetCard: Q = (s, d) => {
    val t = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        md5(col("text")).as("dg"))
    val base = t.agg(count(lit(1)).as("n_docs"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      sum("n_chars").as("total_chars"),
      sum("toks").as("total_tokens"))
    val ranked = graft.ops.Ranks.globalRowNumber(
      t.select(col("doc_id"), col("toks")),
      Seq(col("toks").asc, col("doc_id").asc), "rnk")
    val med = ranked.crossJoin(broadcast(base.select(col("n_docs"))))
      .filter(col("rnk") === expr("(n_docs + 1) DIV 2"))
      .select(col("toks").as("med_tokens"))
    val dups = t.groupBy("dg").agg(count(lit(1)).as("cnt"))
      .agg(sum(col("cnt") - 1L).as("dup_docs"))
    base.crossJoin(broadcast(med)).crossJoin(broadcast(dups))
      .select(col("n_docs"), col("n_langs"), col("n_sources"),
        col("total_chars"), col("total_tokens"), col("med_tokens"),
        col("dup_docs"),
        expr("1000000 * dup_docs DIV n_docs").as("dup_ppm"))
      .orderBy("n_docs")
  }

  /** Boilerplate-prefix clusters: documents sharing an identical leading
    * 64 characters — the cheap screen for templated/mirrored content
    * (headers, licence blocks, scraper chrome) that full-document
    * near-dup misses when bodies diverge. One digest groupBy; emits
    * only groups with >1 member, smallest doc as the exemplar.
    */
  private[queries] val qDedupPrefix: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), md5(substring(col("text"), 1, 64)).as("pfx"))
      .groupBy("pfx")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("exemplar_doc"))
      .filter(col("n_docs") > 1L)
      .select(col("pfx"), col("n_docs"), col("exemplar_doc"))
      .orderBy("pfx")

  /** Containment near-dup pairs (doc embedded in doc) — the asymmetric
    * complement of `q_dedup_ngram`'s Jaccard; see
    * [[Dedup.containmentPairs]] for why the relation and the plan differ.
    */
  private[queries] val qDedupContainment: Q = (s, d) =>
    Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Incremental ingest dedup: new docs (doc_id ≥ 400) against the
    * accumulated corpus (doc_id < 400) — cross pairs only.
    */
  private[queries] val qDedupIncremental: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Dedup.incrementalNearDups(
        docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 400),
        "doc_id", "text", threshold = 0.5)
      .orderBy(col("corpus_doc"), col("new_doc"))
  }

  /** Benchmark decontamination: the held-out eval set is the deterministic
    * `doc_id % 10 = 7` tenth of the corpus (standing in for a benchmark
    * suite); every other doc is training data. A train doc is
    * contaminated if it shares ≥1 distinct 3-shingle with any eval doc.
    */
  private[queries] val qDecontaminate: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Dedup.contaminationReport(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 7),
        docs.filter(pmod(col("doc_id"), lit(10)) === 7),
        "doc_id", "text", shingleSize = 3)
      .orderBy(col("doc_id"))
  }

  /** Shared DuckDB CTE: per-doc distinct 3-shingle list. */
  private[queries] val shingleCte =
    """WITH s AS (
      |  SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                                for i in range(1, len(t) - 1)]) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 3)""".stripMargin

  /** Components oracle: exact-Jaccard pairs (same predicate as the Spark
    * LSH+verify pipeline) closed transitively with a recursive CTE; the
    * canonical id is the minimum reachable doc_id. Docs outside every
    * pair canonicalize to themselves.
    */
  private[queries] def clustersSql(threshold: Double): String =
    s"""${shingleCte.replace("WITH s AS", "WITH RECURSIVE s AS")},
       |p AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |      FROM s a JOIN s b ON a.doc_id < b.doc_id
       |      WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
       |            len(list_distinct(list_concat(a.sh, b.sh))) >= $threshold),
       |e AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM p
       |      UNION SELECT doc_b, doc_a FROM p),
       |r(a, b) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM e)
       |  UNION
       |  SELECT e.a, r.b FROM e JOIN r ON r.a = e.b),
       |comp AS (SELECT a AS doc_id, min(b) AS cluster_id FROM r GROUP BY a)
       |SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
       |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
       |ORDER BY d.doc_id""".stripMargin

  private[queries] def jaccardPairsSql(threshold: Double): String =
    s"""$shingleCte,
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |        len(list_intersect(a.sh, b.sh)) * 1.0 /
       |        len(list_distinct(list_concat(a.sh, b.sh))) AS jac
       |      FROM s a JOIN s b ON a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(floor(jac * 1000000) AS BIGINT) AS jaccard_e6
       |FROM p WHERE jac >= $threshold ORDER BY doc_a, doc_b""".stripMargin

  /** SimHash oracle generated with the same chunk/bit loops as the Spark
    * plan in [[Dedup.simhashChunks]] — md5 makes the two engines agree
    * bit-for-bit.
    */
  private[queries] def simhashOracleSql(maxHamming: Int): String = {
    val chunkDefs = (0 until Dedup.SimhashChunks)
      .map(c => s"('0x' || substr(md5(tok), ${1 + 4 * c}, 4))::INT AS c$c")
      .mkString(", ")
    val bitSums = (0 until 64).map { b =>
      val c = b / 16; val k = b % 16
      s"sum(CASE WHEN ((c$c >> $k) & 1) = 1 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(", ")
    val chunkAsm = (0 until Dedup.SimhashChunks).map { c =>
      (0 until 16).map(k => s"(CASE WHEN s${c * 16 + k} > 0 THEN ${1 << k} ELSE 0 END)")
        .mkString(" + ") + s" AS sh$c"
    }.mkString(", ")
    val ham = (0 until Dedup.SimhashChunks)
      .map(c => s"bit_count(xor(a.sh$c, b.sh$c))").mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |h AS (SELECT doc_id, $chunkDefs FROM tok),
       |s AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
       |sh AS (SELECT doc_id, $chunkAsm FROM s),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, $ham AS hamming
       |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM p
       |WHERE hamming <= $maxHamming ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Merged truth⋈prediction oracle for `q_dedup_eval`: the exact-Jaccard
    * pair CTE and the SimHash pair CTE (same generator loops as
    * [[simhashOracleSql]]) scored with INTERSECT/EXCEPT counts — both
    * operand pipelines are the ones the standalone dedup oracles already
    * pin, so the confusion counts are exact on both engines.
    */
  private[queries] def dedupEvalSql(maxHamming: Int, threshold: Double): String = {
    val chunkDefs = (0 until Dedup.SimhashChunks)
      .map(c => s"('0x' || substr(md5(tok), ${1 + 4 * c}, 4))::INT AS c$c")
      .mkString(", ")
    val bitSums = (0 until 64).map { b =>
      val c = b / 16; val k = b % 16
      s"sum(CASE WHEN ((c$c >> $k) & 1) = 1 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(", ")
    val chunkAsm = (0 until Dedup.SimhashChunks).map { c =>
      (0 until 16).map(k => s"(CASE WHEN s${c * 16 + k} > 0 THEN ${1 << k} ELSE 0 END)")
        .mkString(" + ") + s" AS sh$c"
    }.mkString(", ")
    val ham = (0 until Dedup.SimhashChunks)
      .map(c => s"bit_count(xor(a.sh$c, b.sh$c))").mkString(" + ")
    s"""$shingleCte,
       |truth AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |      FROM s a JOIN s b ON a.doc_id < b.doc_id
       |      WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
       |            len(list_distinct(list_concat(a.sh, b.sh))) >= $threshold),
       |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |hh AS (SELECT doc_id, $chunkDefs FROM tok),
       |bs AS (SELECT doc_id, $bitSums FROM hh GROUP BY doc_id),
       |sh2 AS (SELECT doc_id, $chunkAsm FROM bs),
       |pred AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |      FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
       |      WHERE $ham <= $maxHamming),
       |cnt AS (SELECT
       |  (SELECT count(*) FROM (SELECT * FROM truth
       |     INTERSECT SELECT * FROM pred)) AS tp,
       |  (SELECT count(*) FROM (SELECT * FROM pred
       |     EXCEPT SELECT * FROM truth)) AS fp,
       |  (SELECT count(*) FROM (SELECT * FROM truth
       |     EXCEPT SELECT * FROM pred)) AS fn)
       |SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       |  CAST(fn AS BIGINT) AS fn,
       |  CAST(1000000 * tp // (tp + fp) AS BIGINT) AS precision_ppm,
       |  CAST(1000000 * tp // (tp + fn) AS BIGINT) AS recall_ppm
       |FROM cnt WHERE tp + fp > 0 AND tp + fn > 0 ORDER BY tp""".stripMargin
  }

  private[graft] val registry: Map[String, Q] = Map(
    "q_decontaminate" -> qDecontaminate,
    "q_dedup_incremental" -> qDedupIncremental,
    "q_dedup_containment" -> qDedupContainment,
    "q_dedup_exact" -> qDedupExact,
    "q_dedup_minhash" -> qDedupMinhash,
    "q_dedup_clusters" -> qDedupClusters,
    "q_dedup_representatives" -> qDedupRepresentatives,
    "q_cluster_sizes" -> qClusterSizes,
    "q_dup_rate_by_source" -> qDupRateBySource,
    "q_cross_source_overlap" -> qCrossSourceOverlap,
    "q_dedup_simhash" -> qDedupSimhash,
    "q_dedup_eval" -> qDedupEval,
    "q_dedup_prefix" -> qDedupPrefix,
    "q_dataset_card" -> qDatasetCard,
    "q_dedup_ngram" -> qDedupNgram,
  )

  private[graft] val oracle: Map[String, String] = Map(
    "q_decontaminate" ->
      s"""$shingleCte,
         |ev AS (SELECT doc_id AS eval_id, unnest(sh) AS g FROM s WHERE doc_id % 10 = 7),
         |tr AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 10 <> 7)
         |SELECT tr.doc_id, count(DISTINCT ev.eval_id) AS n_eval_docs,
         |       count(DISTINCT tr.g) AS n_shared_shingles
         |FROM tr JOIN ev ON tr.g = ev.g
         |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,
    "q_dedup_incremental" ->
      s"""$shingleCte,
         |p AS (SELECT a.doc_id AS corpus_doc, b.doc_id AS new_doc,
         |        len(list_intersect(a.sh, b.sh)) * 1.0 /
         |        len(list_distinct(list_concat(a.sh, b.sh))) AS jac
         |      FROM s a JOIN s b ON a.doc_id < 400 AND b.doc_id >= 400)
         |SELECT corpus_doc, new_doc,
         |       CAST(floor(jac * 1000000) AS BIGINT) AS jaccard_e6
         |FROM p WHERE jac >= 0.5 ORDER BY corpus_doc, new_doc""".stripMargin,
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    "q_dedup_minhash" -> jaccardPairsSql(0.5),
    "q_dedup_clusters" -> clustersSql(0.5),
    // the clusters query wrapped as a derived table (DuckDB allows a
    // nested WITH RECURSIVE there), then one rank per cluster by
    // (length DESC, doc_id) — the same (len, -doc_id) max_by order
    "q_dup_rate_by_source" ->
      s"""WITH cl AS (SELECT * FROM (${clustersSql(0.5)})),
         |sz AS (SELECT cluster_id, count(*) AS sz FROM cl GROUP BY 1),
         |j AS (SELECT d.source, sz.sz
         |      FROM cl JOIN sz USING (cluster_id)
         |      JOIN documents d ON cl.doc_id = d.doc_id)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  CAST(1000000 * CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) // count(*) AS BIGINT) AS dup_ppm
         |FROM j GROUP BY 1 ORDER BY source""".stripMargin,
    "q_cross_source_overlap" ->
      """WITH t AS (SELECT source, string_split(text, ' ') AS t
        |  FROM documents),
        |e AS (SELECT DISTINCT source,
        |    unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |            for i in range(1, len(t) - 1)]) AS sh
        |  FROM t WHERE len(t) >= 3),
        |per AS (SELECT source, count(*) AS n_sh FROM e GROUP BY 1),
        |ov AS (SELECT a.source AS src_a, b.source AS src_b,
        |    count(*) AS shared
        |  FROM e a JOIN e b ON a.sh = b.sh AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, shared,
        |  CAST(pa.n_sh AS BIGINT) AS n_a, CAST(pb.n_sh AS BIGINT) AS n_b,
        |  CAST(1000000 * shared // (pa.n_sh + pb.n_sh - shared) AS BIGINT)
        |    AS jaccard_ppm
        |FROM ov JOIN per pa ON ov.src_a = pa.source
        |  JOIN per pb ON ov.src_b = pb.source
        |ORDER BY src_a, src_b""".stripMargin,
    "q_cluster_sizes" ->
      s"""WITH cl AS (SELECT * FROM (${clustersSql(0.5)}))
         |SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters FROM (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
         |  FROM cl GROUP BY 1)
         |GROUP BY sz ORDER BY sz""".stripMargin,
    "q_dedup_representatives" ->
      s"""WITH cl AS (SELECT * FROM (${clustersSql(0.5)})),
         |j AS (SELECT cl.cluster_id, cl.doc_id, len(d.text) AS ln
         |      FROM cl JOIN documents d USING (doc_id)),
         |r AS (SELECT *,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY ln DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY cluster_id) AS n_members
         |  FROM j)
         |SELECT cluster_id, doc_id AS kept_doc_id,
         |  CAST(ln AS BIGINT) AS kept_len, CAST(n_members AS BIGINT) AS n_members
         |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
    "q_dedup_ngram" -> jaccardPairsSql(0.5),
    "q_dedup_containment" ->
      s"""$shingleCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(1000000 * len(list_intersect(a.sh, b.sh)) // len(a.sh)
         |    AS BIGINT) AS cont_ppm
         |FROM s a JOIN s b ON a.doc_id <> b.doc_id
         |WHERE 1000000 * len(list_intersect(a.sh, b.sh)) // len(a.sh)
         |  >= 500000
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_simhash" -> simhashOracleSql(3),
    "q_dedup_eval" -> dedupEvalSql(3, 0.5),
    "q_dataset_card" ->
      """WITH t AS (SELECT doc_id, lang, source, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    md5(text) AS dg
        |  FROM documents),
        |base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |    CAST(sum(toks) AS BIGINT) AS total_tokens
        |  FROM t),
        |ranked AS (SELECT toks, CAST(row_number() OVER (ORDER BY toks ASC,
        |    doc_id ASC) AS BIGINT) AS rnk FROM t),
        |med AS (SELECT toks AS med_tokens FROM ranked CROSS JOIN base
        |  WHERE rnk = (n_docs + 1) // 2),
        |dups AS (SELECT CAST(sum(cnt - 1) AS BIGINT) AS dup_docs
        |  FROM (SELECT count(*) AS cnt FROM t GROUP BY dg))
        |SELECT n_docs, n_langs, n_sources, total_chars, total_tokens,
        |  CAST(med_tokens AS BIGINT) AS med_tokens, dup_docs,
        |  CAST(1000000 * dup_docs // n_docs AS BIGINT) AS dup_ppm
        |FROM base CROSS JOIN med CROSS JOIN dups
        |ORDER BY n_docs""".stripMargin,
    "q_dedup_prefix" ->
      """SELECT md5(substr(text, 1, 64)) AS pfx,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS exemplar_doc
        |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY pfx""".stripMargin,
  )
}
