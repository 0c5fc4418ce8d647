package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.shingles

/** Text analysis operators for LLM-pipeline curation: token statistics,
  * language identification (marker-token heuristic), quality scoring,
  * token counting (whitespace + regex "BPE-ish"), and document
  * fingerprinting (min-shingle-hash winnowing). Everything is a native
  * expression — deterministic, codegen'd, oracle-mirrorable.
  */
object TextStats {

  /** Marker-token lists per language for the n-gram/marker heuristic.
    * On real corpora these are stopword/character-class lists; they are
    * plain literals so the scoring stays a pure expression.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("customer", "hash", "join", "merge"),
    "en" -> Seq("the", "a", "order", "table"),
    "es" -> Seq("slow", "agg", "vector", "line"),
    "fr" -> Seq("scan", "data", "batch", "query"),
    "zh" -> Seq("small", "row", "column", "part"))

  def tokens(text: Column): Column = split(text, " ")

  /** Per-doc token statistics; ratios exported as integer millionths. */
  def textStats(docs: DataFrame, key: String, text: String): DataFrame =
    docs.withColumn("toks", tokens(col(text)))
      .select(
        col(key),
        size(col("toks")).as("n_tokens"),
        length(col(text)).as("n_chars_total"),
        length(regexp_replace(col(text), " ", "")).as("n_chars_nospace"),
        size(array_distinct(col("toks"))).as("n_distinct_tokens"),
        floor(size(array_distinct(col("toks"))).cast("double") /
          size(col("toks")) * 1e6).cast("long").as("ttr_e6"))

  /** Language-ID: score = |doc tokens ∩ marker set| per language; predict
    * the argmax with deterministic tie-break on language code order.
    */
  def langId(docs: DataFrame, key: String, text: String): DataFrame = {
    val withSet = docs.withColumn("tset", array_distinct(tokens(col(text))))
    val scored = LangMarkers.foldLeft(withSet) { case (df, (lang, markers)) =>
      df.withColumn(s"score_$lang",
        size(array_intersect(col("tset"), array(markers.map(lit): _*))))
    }
    val best = LangMarkers.map(_._1).map(l => col(s"score_$l"))
      .reduce((a, b) => greatest(a, b))
    // First language (in LangMarkers order) achieving the max score.
    val predictedFirst = LangMarkers.map(_._1).reverse
      .foldLeft(lit(null).cast("string")) { case (els, lang) =>
        when(col(s"score_$lang") === best, lit(lang)).otherwise(els)
      }
    scored.select(
      col(key), col("lang").as("actual_lang"),
      predictedFirst.as("predicted_lang"),
      best.as("best_score"))
  }

  /** Quality score: 0.5·length-score + 0.3·type-token-ratio + 0.2·long-token
    * share — fixed-order arithmetic, exported as integer millionths.
    */
  def qualityScore(docs: DataFrame, key: String, text: String): DataFrame =
    docs.withColumn("toks", tokens(col(text)))
      .withColumn("n_tokens", size(col("toks")).cast("double"))
      .withColumn("len_score", least(lit(1.0), col("n_tokens") / 100.0))
      .withColumn("ttr",
        size(array_distinct(col("toks"))).cast("double") / col("n_tokens"))
      .withColumn("long_share",
        size(filter(col("toks"), t => length(t) >= 5)).cast("double") / col("n_tokens"))
      .select(col(key),
        floor((col("len_score") * 0.5 + col("ttr") * 0.3 + col("long_share") * 0.2) * 1e6)
          .cast("long").as("quality_e6"))

  /** Whitespace token count + regex-segment ("BPE-ish" pre-tokenizer)
    * count: alpha runs, digit runs, and other non-space symbols.
    */
  def tokenCounts(docs: DataFrame, key: String, text: String): DataFrame =
    docs.select(
      col(key),
      size(tokens(col(text))).as("ws_tokens"),
      size(expr(s"regexp_extract_all($text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
        .as("bpe_ish_tokens"))

  /** Global top-k n-grams by frequency — corpus statistics for curation
    * (map-side partial counts, one shuffle on the n-gram).
    */
  def topNgrams(docs: DataFrame, text: String, n: Int, k: Int): DataFrame =
    docs.withColumn("toks", tokens(col(text)))
      .withColumn("ngram", explode(shingles(col("toks"), n)))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("ngram").asc)
      .limit(k)

  /** Stopword removal: rebuilt text with marker/stop tokens filtered out. */
  def removeStopwords(docs: DataFrame, key: String, text: String,
                      stopwords: Seq[String]): DataFrame = {
    val stops = array(stopwords.map(lit): _*)
    docs.withColumn("toks", tokens(col(text)))
      .select(col(key),
        array_join(filter(col("toks"), t => !array_contains(stops, t)), " ")
          .as("clean_text"),
        size(filter(col("toks"), t => array_contains(stops, t)))
          .as("n_removed"))
  }

  /** TF-IDF per (doc, token): tf · ln(N/df). One aggregate for term
    * frequencies; document frequencies come from the tf aggregate itself
    * (tf has exactly one row per (doc, token), so counting its rows per
    * token IS the document frequency) — the exploded token stream is
    * scanned once, not twice, and the tok-keyed exchange of tf is shared
    * between the df branch and the join (ReusedExchange).
    */
  def tfidf(docs: DataFrame, key: String, text: String): DataFrame = {
    val toks = docs.select(col(key), explode(tokens(col(text))).as("tok"))
    val tf = toks.groupBy(col(key), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    tf.join(df, "tok")
      .crossJoin(broadcast(n))
      .withColumn("tfidf_e4",
        floor(col("tf") * log(col("n_docs").cast("double") / col("df")) * 1e4)
          .cast("long"))
      .select(col(key), col("tok"), col("tf"), col("df"), col("tfidf_e4"))
  }

  /** Deterministic train/val/test assignment by content-independent key
    * hash (md5 → 32-bit bucket mod 100): reproducible across engines,
    * runs, and partitionings — the property random() sampling lacks.
    * Split fractions: [0,80) train, [80,90) val, [90,100) test.
    */
  def sampleSplit(docs: DataFrame, key: String): DataFrame =
    docs.withColumn("bucket",
        pmod(conv(substring(md5(col(key).cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(100L)))
      .select(col(key), col("bucket"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))

  /** Gopher-style repetition metrics per document: the duplicate-token
    * fraction (1 − distinct/total) and the frequency share of the most
    * repeated bigram, plus the keep/drop decision a repetition filter
    * makes (Rae et al., "Scaling Language Models" §A1.2 thresholds the
    * same two families). Ratios are exported as integer millionths and
    * the keep flag compares those integers, so the decision is
    * bit-deterministic across engines.
    *
    * Scale shape: the bigram histogram is explode → two partial-agg
    * shuffles (doc,gram → doc), the canonical distributed counting plan —
    * per-doc state never materializes a map on the driver or in a single
    * task. Docs with fewer than two tokens have no bigram and are
    * excluded.
    */
  def repetitionMetrics(docs: DataFrame, key: String, text: String,
                        maxDupTokenFracE6: Long = 300000L,
                        maxTopBigramFracE6: Long = 180000L): DataFrame = {
    val base = docs.withColumn("toks", tokens(col(text)))
      .filter(size(col("toks")) >= 2)
      .select(col(key), col("toks"),
        size(col("toks")).as("n_tok"),
        size(array_distinct(col("toks"))).as("n_uniq"))
    val gramTop = base
      .select(col(key), explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i+1]))"))
        .as("gram"))
      .groupBy(col(key), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col(key))
      .agg(max(col("c")).as("max_bigram"), sum(col("c")).as("n_bigrams"))
    base.select(col(key), col("n_tok"), col("n_uniq"))
      .join(gramTop, key)
      .withColumn("dup_token_frac_e6",
        floor((lit(1.0) - col("n_uniq").cast("double") / col("n_tok")) * 1e6)
          .cast("long"))
      .withColumn("top_bigram_frac_e6",
        floor(col("max_bigram").cast("double") / col("n_bigrams") * 1e6)
          .cast("long"))
      .select(col(key), col("dup_token_frac_e6"), col("top_bigram_frac_e6"),
        (col("dup_token_frac_e6") <= maxDupTokenFracE6 &&
          col("top_bigram_frac_e6") <= maxTopBigramFracE6).as("keep"))
  }

  /** Deterministic stratified sampling — exactly `perStratum` docs per
    * stratum (fewer when a stratum is smaller), chosen by md5 order of
    * the key with the key itself as tie-break: the domain-mixing step
    * that rebalances a corpus's language/source distribution before
    * training. Reproducible across engines, runs, and partitionings like
    * [[sampleSplit]], unlike anything seeded by `rand()`.
    *
    * Scale shape: one shuffle on the stratum; the rank ≤ quota predicate
    * is pushed into the sort as a per-partition group limit (Spark's
    * WindowGroupLimit), so each task keeps `perStratum` rows per stratum
    * and the full sort never materializes.
    */
  def stratifiedSample(docs: DataFrame, key: String, stratum: String,
                       perStratum: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(stratum))
      .orderBy(md5(col(key).cast("string")).asc, col(key).asc)
    docs.select(col(stratum), col(key))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= perStratum)
  }

  /** Per-doc unigram Shannon entropy (nats) — the distributional quality
    * signal (low entropy ⇒ repetitive/boilerplate text; pairs with
    * [[repetitionMetrics]] in a curation filter chain).
    *
    * Uses H = ln(n) − (Σ c·ln c)/n. The Σ c·ln c fold runs MAP-SIDE over
    * the doc's own token array in sorted-distinct-token order via
    * `aggregate(...)` — a sequential left fold in a deterministic order,
    * so the float sum is bit-identical to the oracle's `list_reduce` over
    * the same sorted list (a groupBy-sum formulation would sum in
    * partition order and could land on the wrong side of the e6 floor).
    * No shuffle at all: at 100 TB this is a pure scan.
    */
  def tokenEntropy(docs: DataFrame, key: String, text: String): DataFrame =
    docs.withColumn("toks", tokens(col(text)))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .withColumn("uniq", array_sort(array_distinct(col("toks"))))
      .withColumn("clogc", expr(
        """aggregate(
          |  transform(uniq, u -> cast(size(filter(toks, x -> x = u)) as double)),
          |  cast(0.0 as double),
          |  (acc, c) -> acc + c * ln(c))""".stripMargin))
      .select(col(key), col("n").as("n_tokens"),
        floor((log(col("n").cast("double")) - col("clogc") / col("n")) * 1e6)
          .cast("long").as("entropy_e6"))

  /** Temperature-based mixture sampling: per-stratum quotas proportional
    * to √n (temperature 0.5 smoothing — upweights small sources, damps
    * dominant ones, the standard multilingual/source rebalancing before
    * training), filled in deterministic md5-of-key order.
    *
    * Determinism across engines: the weight function is `sqrt` — IEEE
    * correctly rounded everywhere, unlike `pow(x, α)` which can differ by
    * an ulp between libm implementations — and the weight total comes
    * from a RUNNING window sum in stratum order (a sequential fold both
    * engines execute identically) rather than an unordered aggregate.
    * Every stratum gets at least one row.
    *
    * Scale shape: stratum cardinality is tiny (quotas broadcast); the doc
    * ranking is the same single-shuffle WindowGroupLimit pattern as
    * [[stratifiedSample]].
    */
  def temperatureSample(docs: DataFrame, key: String, stratum: String,
                        totalTarget: Int): DataFrame = {
    require(totalTarget > 0, s"sampling target must be positive, got $totalTarget")
    val wW = org.apache.spark.sql.expressions.Window.orderBy(col(stratum))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val weights = docs.groupBy(col(stratum)).agg(count(lit(1)).as("n"))
      .withColumn("w", sqrt(col("n").cast("double")))
      .withColumn("cum_w", sum(col("w")).over(wW))
    // w > 0, so the max cumulative value IS the last (full) sequential fold
    val total = weights.agg(max(col("cum_w")).as("total_w"))
    val quotas = weights.crossJoin(broadcast(total))
      .withColumn("quota",
        greatest(lit(1L),
          floor(lit(totalTarget.toDouble) * (col("w") / col("total_w")))
            .cast("long")))
      .select(col(stratum), col("quota"))
    val rankW = org.apache.spark.sql.expressions.Window.partitionBy(col(stratum))
      .orderBy(md5(col(key).cast("string")).asc, col(key).asc)
    docs.select(col(stratum), col(key))
      .withColumn("rn", row_number().over(rankW))
      .join(broadcast(quotas), stratum)
      .filter(col("rn") <= col("quota"))
      .select(col(stratum), col(key), col("rn"))
  }

  /** Token-budget mixing: the "build a training mix" op at TOKEN (not
    * document) granularity. A total token budget is allocated across
    * sources by temperature-weighted token mass (w_s ∝ √tokens_s — the
    * √n upweighting of small sources), then each source fills its quota
    * in salted-hash document order with a per-source running token sum;
    * the document that CROSSES the quota is kept (docs are indivisible,
    * so every source meets its budget). Deterministic end to end: the
    * hash order replaces RNG state, and the only global window scans
    * the source-count-sized weight table. Per-source running sums ride
    * a (stratum)-partitioned window — event-volume-safe at any scale.
    */
  def tokenBudgetSample(docs: DataFrame, key: String, stratum: String,
                        text: String, totalBudget: Long): DataFrame = {
    require(totalBudget > 0, s"token budget must be positive, got $totalBudget")
    val W = org.apache.spark.sql.expressions.Window
    val docsT = docs.select(col(stratum), col(key),
      size(split(col(text), " ")).cast("long").as("n_toks"))
    val wW = W.orderBy(col(stratum))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val weights = docsT.groupBy(col(stratum)).agg(sum("n_toks").as("toks"))
      .withColumn("w", sqrt(col("toks").cast("double")))
      .withColumn("cum_w", sum(col("w")).over(wW))
    val total = weights.agg(max(col("cum_w")).as("total_w"))
    val quotas = weights.crossJoin(broadcast(total))
      .withColumn("quota",
        greatest(lit(1L),
          floor(lit(totalBudget.toDouble) * (col("w") / col("total_w")))
            .cast("long")))
      .select(col(stratum), col("quota"))
    val runW = W.partitionBy(col(stratum))
      .orderBy(md5(col(key).cast("string")).asc, col(key).asc)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    docsT
      .withColumn("cum_toks", sum(col("n_toks")).over(runW))
      .join(broadcast(quotas), stratum)
      // keep while the budget was not yet met BEFORE this doc — the
      // crossing doc is included, later docs are not
      .filter(col("cum_toks") - col("n_toks") < col("quota"))
      .select(col(stratum), col(key), col("n_toks"), col("cum_toks"))
  }

  /** Fingerprints: md5 of the full text (exact identity) plus the minimum
    * shingle md5 (winnowing-style robust fingerprint: equal for docs
    * sharing their lexicographically-smallest shingle hash).
    */
  def fingerprints(docs: DataFrame, key: String, text: String,
                   shingleSize: Int = 3): DataFrame =
    docs.withColumn("toks", split(col(text), " "))
      .withColumn("sh", shingles(col("toks"), shingleSize))
      .select(
        col(key),
        md5(col(text)).as("text_md5"),
        array_min(transform(col("sh"), s => md5(s))).as("min_shingle_md5"))
}
