package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{countMin, rollingHashMin}
import graft.model.Tables
import graft.ops.{Dedup, Similarity, TextStats}

/** Text analysis tier: stats, language ID (+ eval), quality scores,
  * token counts, fingerprints, n-grams, BPE, PMI, vocabulary laws
  * (Heaps/Zipf), LM scoring (bigram/perplexity), divergence measures.
  *
  * One of the five LLM-pipeline registry sections;
  * [[graft.SparkEntry]] lists each directly.
  */
private[graft] object LlmTextOps {
  private[graft] type Q = (SparkSession, String) => DataFrame

  /** Tokenizer fertility by language: whitespace tokens per UTF-8 byte
    * (ppm) and mean bytes per token — the compression-rate table that
    * decides how a token budget translates to storage per language
    * (CJK and agglutinative languages sit far from English). Map-side
    * arithmetic + one partial-agg shuffle into |languages| groups.
    * Headroom: 10⁶·Σtokens stays under 2⁶³ through ~9·10¹² corpus
    * tokens; past that promote to DECIMAL(38,0).
    */
  private[queries] val qTokenizerFertility: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        octet_length(col("text")).cast("long").as("bytes"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("tokens"),
        sum("bytes").as("bytes"))
      .select(col("lang"), col("n_docs"), col("tokens"), col("bytes"),
        expr("1000000 * tokens DIV bytes").as("fert_ppm"),
        expr("1000 * bytes DIV tokens").as("bytes_per_tok_e3"))
      .orderBy("lang")

  private[queries] val qTextStats: Q = (s, d) =>
    TextStats.textStats(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))

  private[queries] val qLangAgg: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        floor(sum(col("n_tokens")).cast("double") / count(lit(1)) * 1e6)
          .cast("long").as("avg_tokens_e6"))
      .orderBy(col("lang"))

  private[queries] val qLangId: Q = (s, d) =>
    TextStats.langId(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Count–Min sketch over the token stream (d=4 rows × w=256
    * counters, md5 row-hashes) queried for the top-10 exact tokens:
    * exact count vs CMS estimate and the overestimate — the mergeable
    * frequency sketch whose counters re-aggregate across corpus shards
    * without rescanning raw text (the approx_top_k sibling, built from
    * first principles so the counter table itself is inspectable).
    * Everything is integer: the sketch build is one 4× explode +
    * 1024-cell aggregate; the probe joins 40 (token, row) pairs
    * against the cells and takes the row-wise min. CMS law estimate ≥
    * exact is spec-pinned. (Perf note, r9: the 118.9 s single-shot
    * reading in BENCH_r08 was adjudicated pure sweep contamination —
    * a fresh session measures 5.4 s first / 2.4 s warm at sf0.1. md5
    * stays the bucket hash because the DuckDB oracle mirrors it
    * exactly — no faster non-cryptographic hash exists in both
    * engines — but the per-token crypto cost is now 1 digest, not 4.)
    */
  private[queries] val qCountmin: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val rows = s.range(0, 4).select(col("id").as("r"))
    // the d=4 row hashes are DISJOINT 8-hex-char windows of ONE md5
    // digest (r9: one hash per token instead of four — the digest is
    // projected BEFORE the 4× row explode, so the crypto work never
    // replicates; DuckDB mirrors the identical windowing)
    val bucket =
      pmod(conv(expr("substring(dig, r * 8 + 1, 8)"), 16, 10).cast("long"),
        lit(256L))
    val cells = toks.select(md5(col("tok")).as("dig"))
      .crossJoin(broadcast(rows))
      .select(col("r"), bucket.as("bucket"))
      .groupBy("r", "bucket").agg(count(lit(1)).as("c"))
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("tok").asc).limit(10)
    exact.withColumn("dig", md5(col("tok")))
      .crossJoin(broadcast(rows))
      .select(col("tok"), col("exact"), col("r"), bucket.as("bucket"))
      .join(cells, Seq("r", "bucket"))
      .groupBy("tok", "exact").agg(min("c").as("cms_estimate"))
      .select(col("tok"), col("exact"), col("cms_estimate"),
        (col("cms_estimate") - col("exact")).as("overestimate"))
      .orderBy(col("exact").desc, col("tok").asc)
  }

  /** The NATIVE-aggregate Count–Min path: the SAME sketch as
    * `q_countmin`, built by [[graft.functions.CountMinAgg]] in one
    * pass — tokens fold into a heap-resident 4×256 counter plane that
    * crosses the shuffle once as 8 KB, instead of the declarative 4×
    * explode + 1024-cell groupBy. Identical md5-window hashing means
    * identical counters, so this key's oracle IS q_countmin's SQL: the
    * driver hash proves the imperative aggregate ≡ the declarative
    * plan ≡ the DuckDB recompute, bit-for-bit. The probe indexes the
    * broadcast counter array directly (`sk[r·256 + bucket]`), no cells
    * join. At 100 TB this is the form that wins: per-shard sketches
    * are 8 KB columns that [[graft.functions.CountMinMergeAgg]] unions
    * exactly with zero raw-token rescan.
    */
  private[queries] val qCountminNative: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val sk = toks.agg(countMin(col("tok")).as("sk"))
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("tok").asc).limit(10)
    val est = (0 until 4).map(r =>
        s"sk[$r * 256 + CAST(pmod(CAST(conv(substring(dig, $r * 8 + 1, 8), " +
          s"16, 10) AS BIGINT), 256) AS INT)]")
      .mkString("least(", ", ", ")")
    exact.withColumn("dig", md5(col("tok")))
      .crossJoin(broadcast(sk))
      .withColumn("cms_estimate", expr(est))
      .select(col("tok"), col("exact"), col("cms_estimate"),
        (col("cms_estimate") - col("exact")).as("overestimate"))
      .orderBy(col("exact").desc, col("tok").asc)
  }

  /** Keyphrase extraction: each focus doc's top-3 terms by tf·idf with
    * the same >10%-df prune as `q_tfidf_cosine` — the summary-tag
    * generator a corpus browser shows per document. Integer weights,
    * WindowGroupLimit top-3 per doc.
    */
  private[queries] val qKeyphrases: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok")).filter(col("tok") =!= "")
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("nd"))
    val dft = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val weights = tf.join(dft, "tok").crossJoin(broadcast(nDocs))
      .filter(col("df") * 10L <= col("nd") && col("doc_id") < 50L)
      .select(col("doc_id"), col("tok"),
        (col("tf") * floor(lit(1000000.0) * log(col("nd").cast("double") /
          col("df").cast("double"))).cast("long")).as("w"))
    val win = Window.partitionBy("doc_id")
      .orderBy(col("w").desc, col("tok").asc)
    weights.withColumn("rnk", row_number().over(win))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("tok"), col("w").as("tfidf_e6"), col("rnk"))
      .orderBy("doc_id", "rnk")
  }

  /** Language-ID confusion matrix: the marker-heuristic's predictions
    * crossed with the labeled language, each cell with its within-label
    * share in exact ppm — the evaluation table that decides whether the
    * classifier is good enough to route a crawl by (per-label recall is
    * the diagonal's share_ppm). Rides the same `TextStats.langId`
    * column expressions as `q_lang_id`; one partial-agg shuffle into a
    * |langs|²-bounded cell table + a 5-row broadcast back.
    */
  private[queries] val qLangidEval: Q = (s, d) => {
    val pred = TextStats.langId(Tables.documents(s, d), "doc_id", "text")
    val cm = pred.groupBy(col("actual_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
    val tot = cm.groupBy("actual_lang").agg(sum("n").as("n_actual"))
    cm.join(broadcast(tot), "actual_lang")
      .select(col("actual_lang"), col("predicted_lang"), col("n"),
        col("n_actual"),
        expr("1000000 * n DIV n_actual").as("share_ppm"),
        (col("actual_lang") === col("predicted_lang")).cast("int")
          .as("correct"))
      .orderBy("actual_lang", "predicted_lang")
  }

  private[queries] val qQualityScore: Q = (s, d) =>
    TextStats.qualityScore(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))

  private[queries] val qTokenCount: Q = (s, d) =>
    TextStats.tokenCounts(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))

  private[queries] val qFingerprint: Q = (s, d) =>
    TextStats.fingerprints(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Karp-Rabin winnowing fingerprint: min rolling hash over 16-byte
    * windows (graft.functions.RollingHashMin, O(n) per doc).
    */
  private[queries] val qFingerprintRolling: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("doc_id"),
        rollingHashMin(col("text"), 16).as("min_window_hash"))
      .orderBy(col("doc_id"))
  }

  private[queries] val qTopNgrams: Q = (s, d) =>
    TextStats.topNgrams(Tables.documents(s, d), "text", n = 3, k = 20)

  /** BPE merge-candidate table: corpus frequency of every adjacent
    * character pair inside words — iteration 0 of byte-pair-encoding
    * tokenizer training (the most frequent pair is the first merge).
    * Scale shape: pair extraction runs over the VOCABULARY (distinct
    * words weighted by their corpus counts), not the corpus — the word
    * collapse is one partial-agg shuffle, the per-word pair explode
    * fans out ≤ len(word) rows per DISTINCT word. Output is bounded by
    * alphabet², independent of corpus size.
    */
  private[queries] val qBpePairs: Q = (s, d) => {
    val wc = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    wc.select(col("w"), col("cnt"),
        explode(expr("sequence(1, length(w) - 1)")).as("i"))
      .select(expr("substr(w, i, 2)").as("pair"), col("cnt"))
      .groupBy("pair").agg(sum("cnt").as("n"))
      .orderBy(col("n").desc, col("pair"))
  }

  /** One full BPE training step applied: pick the argmax merge pair
    * from the `q_bpe_pairs` table (ties to the lexicographically
    * smallest pair — a total order) and apply the greedy left-to-right
    * merge to the entire weighted vocabulary, reporting the corpus
    * token-count compression that merge buys — the quantity a
    * tokenizer-training loop maximizes each round. Non-overlapping
    * occurrence counting rides `length(w) − length(replace(w, pair,
    * '#'))` — both engines' replace scans left-to-right and continues
    * AFTER the match, which IS the BPE greedy application order (the
    * 'aaa' with pair 'aa' case yields one merge on both). All counts
    * exact integers; the argmax is TakeOrderedAndProject; the apply is
    * map-side over the vocabulary (never the token stream).
    */
  private[queries] val qBpeMerge: Q = (s, d) => {
    val wc = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val pairs = wc.select(col("w"), col("cnt"),
        explode(expr("sequence(1, length(w) - 1)")).as("i"))
      .select(expr("substr(w, i, 2)").as("pair"), col("cnt"))
      .groupBy("pair").agg(sum("cnt").as("n"))
    val top = pairs.orderBy(col("n").desc, col("pair").asc).limit(1)
      .select(col("pair"), col("n").as("pair_n"))
    wc.crossJoin(broadcast(top))
      .select(col("cnt"), col("pair"), col("pair_n"),
        (length(col("w")).cast("long") -
          length(expr("replace(w, pair, '#')")).cast("long")).as("occ"),
        length(col("w")).cast("long").as("len"))
      .groupBy("pair", "pair_n")
      .agg(sum(when(col("occ") > 0L, col("cnt")).otherwise(0L)).as("n_words"),
        sum(col("cnt") * col("occ")).as("occ_total"),
        sum(col("cnt") * col("len")).as("tokens_before"),
        sum(col("cnt") * (col("len") - col("occ"))).as("tokens_after"))
      .select(col("pair"), col("pair_n"), col("n_words"), col("occ_total"),
        col("tokens_before"), col("tokens_after"),
        expr("1000000 * (tokens_before - tokens_after) DIV tokens_before")
          .as("savings_ppm"))
      .orderBy("pair")
  }

  /** Document-level co-occurrence lift of word pairs: how much more
    * often two words share a document than independence predicts —
    * lift = N·c_xy / (c_x·c_y) as exact integer ppm (the PMI
    * association score without the log, so it stays in integer
    * arithmetic; PMI = ln(lift) is monotone in it). Shape: distinct
    * (doc, word) pairs → doc-keyed self-join (fan-out bounded by
    * per-doc DISTINCT vocabulary, not doc length) → pair counts;
    * document frequencies broadcast back (vocabulary-sized). The
    * support floor keeps the output dense-pair only. BIGINT headroom:
    * 10⁶·N·c_xy needs N·c_xy < 9.2·10¹² — past that the ratio moves
    * to DECIMAL(38,0), same plan.
    */
  private[queries] val qPmiCooccur: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val dw = docs
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      .filter(col("w") =!= "")
    val dfreq = dw.groupBy("w").agg(count(lit(1)).as("df"))
    val pairs = dw.select(col("doc_id"), col("w").as("w1"))
      .join(dw.select(col("doc_id"), col("w").as("w2")), "doc_id")
      .filter(col("w1") < col("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("nxy"))
      .filter(col("nxy") >= 5L)
    pairs
      .join(broadcast(dfreq.select(col("w").as("w1"), col("df").as("df1"))), "w1")
      .join(broadcast(dfreq.select(col("w").as("w2"), col("df").as("df2"))), "w2")
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
      .select(col("w1"), col("w2"), col("nxy"),
        expr("1000000 * n_docs * nxy DIV (df1 * df2)").as("lift_ppm"))
      .orderBy("w1", "w2")
  }

  /** Vocabulary frequency spectrum (frequency-of-frequencies): how many
    * distinct tokens occur exactly f times — the Zipf/Heaps corpus
    * health check (a missing singleton tail or a spike at one f is the
    * classic symptom of template text or a broken tokenizer). Two
    * keyed aggregates; the second runs over the vocabulary table.
    */
  private[queries] val qVocabSpectrum: Q = (s, d) =>
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("f"))
      .groupBy("f").agg(count(lit(1)).as("n_tokens"))
      .orderBy("f")

  private[queries] val qStopwordFilter: Q = (s, d) =>
    TextStats.removeStopwords(Tables.documents(s, d), "doc_id", "text",
        Seq("the", "a", "value", "data"))
      .orderBy(col("doc_id"))

  private[queries] val qTfidf: Q = (s, d) =>
    TextStats.tfidf(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"), col("tok"))

  /** Bigram language model over the corpus: P(next word | word) as
    * exact floored millionths — the Markov-chain view of the token
    * stream (the n-gram LM builders' first aggregation, and the raw
    * material for perplexity-style quality scoring). Adjacent pairs
    * come from zipping the token array with its own tail INSIDE the row
    * (`zip_with` over two slices — no positional explode+self-join, no
    * shuffle until the count); counts and conditional ratios are the
    * `q_markov_transitions` integer discipline applied to text. Output
    * is vocabulary², corpus-size-independent.
    */
  private[queries] val qBigramLm: Q = (s, d) => {
    val pairs = Tables.documents(s, d)
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1), " +
          "(a, b) -> struct(a AS w1, b AS w2))")).as("p"))
      .select(col("p.w1"), col("p.w2"))
    val n = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n"))
    val tot = n.groupBy("w1").agg(sum("n").as("out_n"))
    n.join(tot, "w1")
      .select(col("w1"), col("w2"), col("n"), col("out_n"),
        expr("1000000L * n DIV out_n").as("p_e6"))
      .orderBy("w1", "w2")
  }

  /** Model-based document quality score: each document's mean negative
    * log-likelihood under the corpus's OWN bigram LM — the perplexity
    * filter of an LLM curation pipeline (templated/corrupt text scores
    * abnormally low or high vs the corpus norm). Two-pass train/score
    * shape by design: pass 1 fits the vocabulary²-bounded probability
    * table (broadcast back), pass 2 scores every document's bigrams
    * against it. Determinism: probabilities are `q_bigram_lm`'s exact
    * floored millionths clamped to ≥1 (so an out-of-model rounding-to-0
    * tail can never reach ln(0) at any corpus size — the `q_psi_drift`
    * clamp); each bigram's log term floors to an integer BEFORE the
    * per-document sum, so the aggregate is order-independent; the mean
    * is sum DIV n.
    */
  /** Per-doc mean bigram negative log-likelihood under the corpus's own
    * bigram LM — shared by `q_perplexity_lm` (the raw score table) and
    * `q_ppl_filter` (the threshold-retention curation report).
    */
  private[queries] def docNll(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1), " +
          "(a, b) -> struct(a AS w1, b AS w2))")).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
    // out_n via an unordered window over the (w1, w2) counts (r16):
    // the groupBy(w1) + join-back form re-exchanged the count table by
    // w1 twice (aggregate + join); the whole-partition sum window is
    // ONE exchange and the identical exact integer per group
    val n = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n"))
    val model = n.withColumn("out_n",
        sum("n").over(Window.partitionBy("w1")))
      .select(col("w1"), col("w2"),
        greatest(expr("1000000L * n DIV out_n"), lit(1L)).as("p_e6"))
    pairs.join(broadcast(model), Seq("w1", "w2"))
      .withColumn("lp_e6",
        floor(lit(1000000.0) *
          log(col("p_e6").cast("double") / lit(1000000.0))).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("lp_e6").as("sum_lp"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("(-sum_lp) DIV n_bigrams").as("nll_e6"))
  }

  private[queries] val qPerplexityLm: Q = (s, d) =>
    docNll(s, d).orderBy("doc_id")

  /** Perplexity-threshold curation report: per language, how much of
    * the corpus survives dropping the worst-perplexity quartile — the
    * standard LM-based quality gate (docs the corpus LM finds
    * surprising are boilerplate, noise, or wrong-language). The cut is
    * the exact per-language NLL order statistic at inclusive rank
    * ceil(3n/4) (ties keep docs — deterministic both engines), ranks
    * ride a per-language window (partitioned — never a global sort),
    * and the report is language-sized. The score table is the
    * `q_perplexity_lm` pipeline reused verbatim.
    */
  private[queries] val qPplFilter: Q = (s, d) => {
    val nll = docNll(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang"),
        col("n_chars")), "doc_id")
    val w = Window.partitionBy("lang").orderBy(col("nll_e6").asc,
      col("doc_id").asc)
    val ranked = nll.withColumn("rnk", row_number().over(w))
    // n and the rank-ceil(3n/4) cut as whole-partition windows over the
    // ranked table (r16): the former groupBy + two join-backs re-ran
    // the ranked subtree three times and paid three lang exchanges; the
    // unordered windows ride the rank window's existing lang
    // partitioning in one pass. rnk is unique per lang, so exactly one
    // row matches the cut rank — max(case...) is that row's value,
    // identical to the former filter+join.
    val wl = Window.partitionBy("lang")
    ranked
      .withColumn("n_docs", count(lit(1)).over(wl))
      .withColumn("cut_nll_e6", max(when(
        col("rnk") === expr("(3 * n_docs + 3) DIV 4"), col("nll_e6"))).over(wl))
      .groupBy(col("lang"), col("n_docs"), col("cut_nll_e6"))
      .agg(sum((col("nll_e6") <= col("cut_nll_e6")).cast("long")).as("n_kept"),
        sum(when(col("nll_e6") <= col("cut_nll_e6"), col("n_chars"))
          .otherwise(0L)).as("kept_chars"))
      .select(col("lang"), col("n_docs"), col("n_kept"), col("kept_chars"),
        col("cut_nll_e6"),
        expr("1000000 * n_kept DIV n_docs").as("retention_ppm"))
      .orderBy("lang")
  }

  private[queries] val qRepetitionFilter: Q = (s, d) =>
    TextStats.repetitionMetrics(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Heaps'-law vocabulary growth curve: cumulative distinct-term count
    * vs cumulative token count at corpus deciles (docs in doc_id
    * order) — the "is the corpus still yielding new vocabulary?"
    * readout a data-curation loop watches to decide whether more
    * crawling pays. Each term is charged to the decile of its FIRST
    * document (min doc_id per term — one groupBy over the exploded
    * terms, one join back to the doc spine), so no per-checkpoint
    * rescan: the whole curve costs two shuffles regardless of how many
    * checkpoints it reports. The only windows scan the 10-row decile
    * table. Tokens/terms drop empties, matching `q_vocab_spectrum`'s
    * convention.
    */
  private[queries] val qHeapsLaw: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val ranked = graft.ops.Ranks.globalRowNumber(
      docs.select(col("doc_id"),
        size(filter(split(col("text"), " "), w => w =!= ""))
          .cast("long").as("toks")),
      Seq(col("doc_id").asc), "rn")
    val tot = ranked.agg(count(lit(1)).as("nd"))
    val withDec = ranked.crossJoin(broadcast(tot))
      .select(col("doc_id"), col("toks"),
        expr("(CAST(rn AS BIGINT) - 1) * 10 DIV nd").as("decile"))
    val perDecTok = withDec.groupBy("decile")
      .agg(count(lit(1)).as("docs"), sum("toks").as("dtoks"))
    val firstSeen = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(min("doc_id").as("fd"))
    val vocabPerDec = firstSeen
      .join(withDec.select(col("doc_id").as("fd"), col("decile")), "fd")
      .groupBy("decile").agg(count(lit(1)).as("dvocab"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDecTok.join(vocabPerDec, Seq("decile"), "left")
      .withColumn("dvocab", coalesce(col("dvocab"), lit(0L)))
      .select(col("decile"), col("docs"),
        sum("dtoks").over(w).as("cum_tokens"),
        sum("dvocab").over(w).as("cum_vocab"))
      .orderBy("decile")
  }

  /** Zipf rank–frequency slope: OLS fit of ln(freq) on ln(rank) over
    * the top-1000 terms — the one-number power-law conformance check
    * (natural text sits near −1; boilerplate-heavy or synthetic
    * corpora drift). The top-k is TakeOrderedAndProject (never a
    * global sort materialized); the only global window ranks the
    * 1,000 collected survivors. Determinism rides the per-row integer
    * floor: lx = ⌊10⁶·ln(rank)⌋ / ly = ⌊10⁶·ln(freq)⌋ are exact
    * BIGINTs (the `q_perplexity_lm` log discipline), their moments sum
    * order-independently (|Σlx·ly| ≤ 1000·1.5·10¹⁴, Long-safe), and
    * the final slope is ONE mirrored float sequence over those exact
    * moments. Ranks are all-distinct so the Var(lx) denominator is
    * positive whenever n ≥ 2 — the n ≥ 2 filter is the only degenerate
    * guard needed, mirrored oracle-side.
    */
  private[queries] val qZipfSlope: Q = (s, d) => {
    val tf = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("f"))
    val top = tf.orderBy(col("f").desc, col("w").asc).limit(1000)
    val rw = Window.orderBy(col("f").desc, col("w").asc)
    val pts = top.withColumn("rnk", row_number().over(rw).cast("long"))
      .select(
        floor(lit(1000000.0) * log(col("rnk").cast("double")))
          .cast("long").as("lx"),
        floor(lit(1000000.0) * log(col("f").cast("double")))
          .cast("long").as("ly"))
    pts.agg(count(lit(1)).as("n"), sum("lx").as("sx"), sum("ly").as("sy"),
        sum(col("lx") * col("ly")).as("sxy"),
        sum(col("lx") * col("lx")).as("sxx"))
      .filter(col("n") >= 2L)
      .select(col("n"),
        floor(lit(1000000.0) *
          (col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
          (col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")))
          .cast("long").as("slope_e6"))
      .orderBy("n")
  }

  /** Jensen–Shannon divergence of each source's unigram distribution
    * from the corpus-wide one — the bounded, symmetric corpus-mix
    * monitor (JSD ∈ [0, ln 2]; `q_psi_drift` screens one scalar
    * feature, this compares whole token distributions, the quantity a
    * pretraining-mix dashboard tracks per source). Per-(source, token)
    * contributions ½·p·ln(p/m) + ½·q·ln(q/m) with m = (p+q)/2 floor to
    * e9 BEFORE the per-source sum (the q_mutual_info per-term
    * discipline — the integer sum is order-independent; each term is
    * ONE mirrored float sequence). The q-side term exists even where
    * the source never emits the token, so the term grid is sources ×
    * vocab — built from a broadcast of the vocab-sized totals table,
    * bounded by |vocab|·|sources|, never corpus-sized; the only
    * corpus-sized work is the one (source, token) count shuffle.
    */
  private[queries] val qJsDivergence: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("source"),
        explode(graft.ops.TextStats.tokens(col("text"))).as("tok"))
    val cts = toks.groupBy("source", "tok").agg(count(lit(1)).as("cts"))
    val ct = cts.groupBy("tok").agg(sum("cts").as("ct"))
    val ns = cts.groupBy("source").agg(sum("cts").as("ns"))
    val nn = ct.agg(sum("ct").as("nn"))
    val grid = ns.crossJoin(broadcast(ct))
      .join(cts, Seq("source", "tok"), "left")
      .na.fill(0L, Seq("cts"))
      .crossJoin(broadcast(nn))
    val p = col("cts").cast("double") / col("ns").cast("double")
    val q = col("ct").cast("double") / col("nn").cast("double")
    val m = (p + q) / lit(2.0)
    val terms = grid.select(col("source"), col("ns"),
      floor(lit(500000000.0) * (
        when(col("cts") > 0L, p * log(p / m)).otherwise(lit(0.0)) +
          q * log(q / m)
      )).cast("long").as("term_e9"))
    terms.groupBy("source", "ns")
      .agg(count(lit(1)).as("vocab"), sum("term_e9").as("jsd_e9"))
      .select(col("source"), col("ns").as("n_tokens"), col("vocab"),
        col("jsd_e9"))
      .orderBy("source")
  }

  /** Simpson diversity of each source's token distribution: the
    * probability two tokens drawn without replacement coincide,
    * Σc(c−1) / (N(N−1)) in exact ppm, plus the inverse-Simpson
    * "effective vocabulary" — the pure-INTEGER diversity measure beside
    * `q_entropy`'s float bits (Simpson weights common types
    * quadratically, so template/boilerplate dominance moves it harder
    * than entropy). One (source, token) count shuffle, source-sized
    * output. Headroom: 10⁶·Σc(c−1) and N(N−1) stay in BIGINT to ~3·10⁹
    * tokens per source; past that promote to DECIMAL(38,0) (the
    * q_pmi_cooccur point).
    */
  private[queries] val qSimpsonDiversity: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    toks.groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(count(lit(1)).as("vocab"), sum("c").as("n"),
        sum(col("c") * (col("c") - 1L)).as("coll"))
      .filter(col("n") >= 2L)
      .select(col("source"), col("vocab"), col("n"),
        expr("1000000 * coll DIV (n * (n - 1))").as("simpson_ppm"),
        expr("CASE WHEN coll > 0 THEN 1000 * n * (n - 1) DIV coll " +
          "ELSE 0 END").as("inv_simpson_e3"))
      .orderBy("source")
  }

  /** Oracle for the Karp-Rabin winnowing fingerprint: per-window
    * polynomial sum with mod-powers precomputed here (31^p overflows
    * BIGINT beyond p=12, so the reduced powers are inlined as literals).
    * Congruent mod M to the Spark side's O(n) rolling accumulation.
    */
  private[queries] def rollingFingerprintSql(k: Int): String = {
    val M = graft.functions.RollingHashMin.Mod
    val B = graft.functions.RollingHashMin.Base
    val pows = (0 until k).map { j =>
      var p = 1L
      (0 until (k - 1 - j)).foreach(_ => p = p * B % M)
      p
    }
    val terms = (0 until k).map { j =>
      s"CAST(ord(substr(text, CAST(i + ${j + 1} AS INT), 1)) AS BIGINT) * ${pows(j)} % $M"
    }.mkString("[", ", ", "]")
    s"""WITH w AS (
       |  SELECT doc_id, unnest(range(0, greatest(length(text) - ${k - 1}, 0))) AS i, text
       |  FROM documents),
       |h AS (SELECT doc_id, list_sum($terms) % $M AS wh FROM w)
       |SELECT d.doc_id, CAST(hh.mh AS BIGINT) AS min_window_hash
       |FROM documents d LEFT JOIN
       |  (SELECT doc_id, min(wh) AS mh FROM h GROUP BY doc_id) hh USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  private[queries] val langIdSql: String = {
    val scores = TextStats.LangMarkers.map { case (lang, ms) =>
      val lst = ms.map(m => s"'$m'").mkString(", ")
      s"len(list_intersect(tset, [$lst])) AS score_$lang"
    }.mkString(", ")
    val langs = TextStats.LangMarkers.map(_._1)
    val best = s"greatest(${langs.map(l => s"score_$l").mkString(", ")})"
    val cases = langs.map(l => s"WHEN score_$l = best THEN '$l'").mkString(" ")
    s"""WITH t AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS tset
       |           FROM documents),
       |sc AS (SELECT doc_id, lang, $scores FROM t),
       |b AS (SELECT *, $best AS best FROM sc)
       |SELECT doc_id, lang AS actual_lang, CASE $cases END AS predicted_lang,
       |       best AS best_score
       |FROM b ORDER BY doc_id""".stripMargin
  }

  private[graft] val registry: Map[String, Q] = Map(
    "q_simpson_diversity" -> qSimpsonDiversity,
    "q_js_divergence" -> qJsDivergence,
    "q_heaps_law" -> qHeapsLaw,
    "q_zipf_slope" -> qZipfSlope,
    "q_repetition_filter" -> qRepetitionFilter,
    "q_bigram_lm" -> qBigramLm,
    "q_perplexity_lm" -> qPerplexityLm,
    "q_ppl_filter" -> qPplFilter,
    "q_top_ngrams" -> qTopNgrams,
    "q_bpe_pairs" -> qBpePairs,
    "q_bpe_merge" -> qBpeMerge,
    "q_pmi_cooccur" -> qPmiCooccur,
    "q_vocab_spectrum" -> qVocabSpectrum,
    "q_stopword_filter" -> qStopwordFilter,
    "q_tfidf" -> qTfidf,
    "q_tokenizer_fertility" -> qTokenizerFertility,
    "q_text_stats" -> qTextStats,
    "q_lang_agg" -> qLangAgg,
    "q_lang_id" -> qLangId,
    "q_langid_eval" -> qLangidEval,
    "q_countmin" -> qCountmin,
    "q_countmin_native" -> qCountminNative,
    "q_keyphrases" -> qKeyphrases,
    "q_quality_score" -> qQualityScore,
    "q_token_count" -> qTokenCount,
    "q_fingerprint" -> qFingerprint,
    "q_fingerprint_rolling" -> qFingerprintRolling,
  )

  private[graft] val oracle: Map[String, String] = Map(
    "q_simpson_diversity" ->
      """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM toks WHERE tok <> '' GROUP BY 1, 2),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab,
        |    CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(c * (c - 1)) AS BIGINT) AS coll
        |  FROM c GROUP BY 1)
        |SELECT source, vocab, n,
        |  CAST(1000000 * coll // (n * (n - 1)) AS BIGINT) AS simpson_ppm,
        |  CAST(CASE WHEN coll > 0 THEN 1000 * n * (n - 1) // coll
        |    ELSE 0 END AS BIGINT) AS inv_simpson_e3
        |FROM a WHERE n >= 2 ORDER BY source""".stripMargin,
    "q_js_divergence" ->
      """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |cts AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cts
        |  FROM toks GROUP BY 1, 2),
        |ct AS (SELECT tok, CAST(sum(cts) AS BIGINT) AS ct
        |  FROM cts GROUP BY 1),
        |ns AS (SELECT source, CAST(sum(cts) AS BIGINT) AS ns
        |  FROM cts GROUP BY 1),
        |nn AS (SELECT CAST(sum(ct) AS BIGINT) AS nn FROM ct),
        |grid AS (SELECT ns.source, ns.ns, ct.tok, ct.ct,
        |    coalesce(cts.cts, 0) AS cts
        |  FROM ns CROSS JOIN ct
        |  LEFT JOIN cts ON cts.source = ns.source AND cts.tok = ct.tok),
        |t AS (SELECT source, ns,
        |    CAST(floor(500000000.0 * (
        |      CASE WHEN cts > 0 THEN
        |        (CAST(cts AS DOUBLE) / CAST(ns AS DOUBLE)) *
        |          ln((CAST(cts AS DOUBLE) / CAST(ns AS DOUBLE)) /
        |            (((CAST(cts AS DOUBLE) / CAST(ns AS DOUBLE)) +
        |              (CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE))) / 2.0))
        |      ELSE 0.0 END +
        |      (CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE)) *
        |        ln((CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE)) /
        |          (((CAST(cts AS DOUBLE) / CAST(ns AS DOUBLE)) +
        |            (CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE))) / 2.0))
        |    )) AS BIGINT) AS term_e9
        |  FROM grid CROSS JOIN nn)
        |SELECT source, ns AS n_tokens, CAST(count(*) AS BIGINT) AS vocab,
        |  CAST(sum(term_e9) AS BIGINT) AS jsd_e9
        |FROM t GROUP BY 1, 2 ORDER BY source""".stripMargin,
    "q_heaps_law" ->
      """WITH dr AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
        |      AS BIGINT) AS toks,
        |    row_number() OVER (ORDER BY doc_id) AS rn
        |  FROM documents),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM dr),
        |wd AS (SELECT doc_id, toks,
        |    (CAST(rn AS BIGINT) - 1) * 10 // nd AS decile
        |  FROM dr CROSS JOIN tot),
        |pt AS (SELECT decile, CAST(count(*) AS BIGINT) AS docs,
        |    CAST(sum(toks) AS BIGINT) AS dtoks FROM wd GROUP BY 1),
        |fs AS (SELECT w, min(doc_id) AS fd
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  WHERE w <> '' GROUP BY w),
        |vd AS (SELECT wd.decile, CAST(count(*) AS BIGINT) AS dvocab
        |  FROM fs JOIN wd ON fs.fd = wd.doc_id GROUP BY 1)
        |SELECT CAST(pt.decile AS BIGINT) AS decile, docs,
        |  CAST(sum(dtoks) OVER (ORDER BY pt.decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_tokens,
        |  CAST(sum(coalesce(dvocab, 0)) OVER (ORDER BY pt.decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_vocab
        |FROM pt LEFT JOIN vd ON vd.decile = pt.decile
        |ORDER BY decile""".stripMargin,
    "q_zipf_slope" ->
      """WITH tf AS (SELECT w, count(*) AS f
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w),
        |top AS (SELECT * FROM tf ORDER BY f DESC, w ASC LIMIT 1000),
        |pts AS (SELECT
        |    CAST(floor(1000000.0 * ln(CAST(row_number()
        |      OVER (ORDER BY f DESC, w ASC) AS DOUBLE))) AS BIGINT) AS lx,
        |    CAST(floor(1000000.0 * ln(CAST(f AS DOUBLE))) AS BIGINT) AS ly
        |  FROM top),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
        |    CAST(sum(lx * ly) AS BIGINT) AS sxy,
        |    CAST(sum(lx * lx) AS BIGINT) AS sxx
        |  FROM pts)
        |SELECT n,
        |  CAST(floor(1000000.0 *
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS BIGINT)
        |    AS slope_e6
        |FROM m WHERE n >= 2 ORDER BY n""".stripMargin,
    "q_repetition_filter" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |b AS (SELECT doc_id, len(toks) AS n_tok, len(list_distinct(toks)) AS n_uniq
        |      FROM t WHERE len(toks) >= 2),
        |g AS (SELECT doc_id,
        |        unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS gram
        |      FROM t WHERE len(toks) >= 2),
        |gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
        |gt AS (SELECT doc_id, max(c) AS max_bigram, sum(c) AS n_bigrams FROM gc GROUP BY 1),
        |m AS (SELECT b.doc_id,
        |        CAST(floor((1.0 - n_uniq * 1.0 / n_tok) * 1000000) AS BIGINT) AS dup_token_frac_e6,
        |        CAST(floor(max_bigram * 1.0 / n_bigrams * 1000000) AS BIGINT) AS top_bigram_frac_e6
        |      FROM b JOIN gt ON b.doc_id = gt.doc_id)
        |SELECT doc_id, dup_token_frac_e6, top_bigram_frac_e6,
        |       (dup_token_frac_e6 <= 300000 AND top_bigram_frac_e6 <= 180000) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_bigram_lm" ->
      """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT unnest(list_slice(w, 1, len(w) - 1)) AS w1,
        |             unnest(list_slice(w, 2, len(w))) AS w2
        |      FROM w WHERE len(w) >= 2),
        |n AS (SELECT w1, w2, count(*) AS n FROM b GROUP BY 1, 2),
        |t AS (SELECT w1, CAST(sum(n) AS BIGINT) AS out_n FROM n GROUP BY 1)
        |SELECT n.w1, w2, CAST(n AS BIGINT) AS n, out_n,
        |  CAST(1000000 * n // out_n AS BIGINT) AS p_e6
        |FROM n JOIN t ON n.w1 = t.w1
        |ORDER BY n.w1, w2""".stripMargin,
    "q_top_ngrams" ->
      """WITH g AS (
        |  SELECT unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |                 for i in range(1, len(t) - 1)])) AS ngram
        |  FROM (SELECT string_split(text, ' ') AS t FROM documents)
        |  WHERE len(t) >= 3)
        |SELECT ngram, count(*) AS n_docs FROM g GROUP BY ngram
        |ORDER BY n_docs DESC, ngram ASC LIMIT 20""".stripMargin,
    "q_stopword_filter" ->
      """SELECT doc_id,
        |  list_aggregate([x for x in string_split(text, ' ')
        |                  if NOT list_contains(['the','a','value','data'], x)],
        |                 'string_agg', ' ') AS clean_text,
        |  len([x for x in string_split(text, ' ')
        |       if list_contains(['the','a','value','data'], x)]) AS n_removed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.tok, tf.tf, df.df,
        |  CAST(floor(tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df) * 10000)
        |       AS BIGINT) AS tfidf_e4
        |FROM tf JOIN df USING (tok) CROSS JOIN n
        |ORDER BY doc_id, tok""".stripMargin,
    "q_tokenizer_fertility" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
        |  CAST(sum(strlen(text)) AS BIGINT) AS bytes,
        |  CAST(1000000 * CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |    // CAST(sum(strlen(text)) AS BIGINT) AS BIGINT) AS fert_ppm,
        |  CAST(1000 * CAST(sum(strlen(text)) AS BIGINT)
        |    // CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS BIGINT)
        |    AS bytes_per_tok_e3
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin,
    "q_bpe_pairs" ->
      """WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w
        |            FROM documents),
        |wc AS (SELECT w, count(*) AS cnt FROM w0
        |       WHERE length(w) >= 2 GROUP BY 1),
        |p AS (SELECT substr(w, i, 2) AS pair, cnt
        |      FROM (SELECT w, cnt,
        |              unnest(generate_series(1, length(w) - 1)) AS i
        |            FROM wc))
        |SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
        |FROM p GROUP BY 1 ORDER BY n DESC, pair""".stripMargin,
    "q_bpe_merge" ->
      """WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w
        |            FROM documents),
        |wc AS (SELECT w, count(*) AS cnt FROM w0
        |       WHERE length(w) >= 2 GROUP BY 1),
        |p AS (SELECT substr(w, i, 2) AS pair, cnt
        |      FROM (SELECT w, cnt,
        |              unnest(generate_series(1, length(w) - 1)) AS i
        |            FROM wc)),
        |pc AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
        |       FROM p GROUP BY 1),
        |top AS (SELECT pair, n AS pair_n FROM pc
        |        ORDER BY n DESC, pair ASC LIMIT 1),
        |ap AS (SELECT cnt, pair, pair_n,
        |    CAST(length(w) AS BIGINT)
        |      - CAST(length(replace(w, pair, '#')) AS BIGINT) AS occ,
        |    CAST(length(w) AS BIGINT) AS len
        |  FROM wc CROSS JOIN top),
        |agg AS (SELECT pair, pair_n,
        |    CAST(sum(CASE WHEN occ > 0 THEN cnt ELSE 0 END) AS BIGINT)
        |      AS n_words,
        |    CAST(sum(cnt * occ) AS BIGINT) AS occ_total,
        |    CAST(sum(cnt * len) AS BIGINT) AS tokens_before,
        |    CAST(sum(cnt * (len - occ)) AS BIGINT) AS tokens_after
        |  FROM ap GROUP BY 1, 2)
        |SELECT pair, pair_n, n_words, occ_total, tokens_before,
        |  tokens_after,
        |  CAST(1000000 * (tokens_before - tokens_after) // tokens_before
        |    AS BIGINT) AS savings_ppm
        |FROM agg ORDER BY pair""".stripMargin,
    "q_pmi_cooccur" ->
      """WITH dw AS (SELECT DISTINCT doc_id, w
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |        FROM documents) WHERE w <> ''),
        |dfreq AS (SELECT w, count(*) AS df FROM dw GROUP BY 1),
        |pairs AS (SELECT a.w AS w1, b.w AS w2, count(*) AS nxy
        |  FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |nd AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT w1, w2, CAST(nxy AS BIGINT) AS nxy,
        |  CAST(1000000 * n_docs * nxy // (f1.df * f2.df) AS BIGINT)
        |    AS lift_ppm
        |FROM pairs JOIN dfreq f1 ON w1 = f1.w
        |  JOIN dfreq f2 ON w2 = f2.w CROSS JOIN nd
        |ORDER BY w1, w2""".stripMargin,
    "q_vocab_spectrum" ->
      """WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w
        |            FROM documents),
        |tf AS (SELECT w, count(*) AS f FROM w0 WHERE w <> '' GROUP BY 1)
        |SELECT CAST(f AS BIGINT) AS f, count(*) AS n_tokens
        |FROM tf GROUP BY f ORDER BY f""".stripMargin,
    "q_perplexity_lm" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |b AS (SELECT doc_id, unnest(list_slice(w, 1, len(w) - 1)) AS w1,
        |             unnest(list_slice(w, 2, len(w))) AS w2
        |      FROM w WHERE len(w) >= 2),
        |n AS (SELECT w1, w2, count(*) AS n FROM b GROUP BY 1, 2),
        |t AS (SELECT w1, CAST(sum(n) AS BIGINT) AS out_n FROM n GROUP BY 1),
        |m AS (SELECT n.w1, w2, greatest(1000000 * n // out_n, 1) AS p_e6
        |      FROM n JOIN t ON n.w1 = t.w1),
        |sc AS (SELECT doc_id,
        |    CAST(floor(1000000.0 * ln(CAST(p_e6 AS DOUBLE) / 1000000.0))
        |      AS BIGINT) AS lp_e6
        |  FROM b JOIN m ON b.w1 = m.w1 AND b.w2 = m.w2)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST((-CAST(sum(lp_e6) AS BIGINT)) // count(*) AS BIGINT)
        |    AS nll_e6
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_ppl_filter" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |b AS (SELECT doc_id, unnest(list_slice(w, 1, len(w) - 1)) AS w1,
        |             unnest(list_slice(w, 2, len(w))) AS w2
        |      FROM w WHERE len(w) >= 2),
        |n AS (SELECT w1, w2, count(*) AS n FROM b GROUP BY 1, 2),
        |t AS (SELECT w1, CAST(sum(n) AS BIGINT) AS out_n FROM n GROUP BY 1),
        |m AS (SELECT n.w1, w2, greatest(1000000 * n // out_n, 1) AS p_e6
        |      FROM n JOIN t ON n.w1 = t.w1),
        |sc AS (SELECT doc_id,
        |    CAST(floor(1000000.0 * ln(CAST(p_e6 AS DOUBLE) / 1000000.0))
        |      AS BIGINT) AS lp_e6
        |  FROM b JOIN m ON b.w1 = m.w1 AND b.w2 = m.w2),
        |nll AS (SELECT doc_id,
        |    CAST((-CAST(sum(lp_e6) AS BIGINT)) // count(*) AS BIGINT)
        |      AS nll_e6
        |  FROM sc GROUP BY doc_id),
        |j AS (SELECT nll.doc_id, nll_e6, lang, n_chars
        |  FROM nll JOIN documents USING (doc_id)),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY nll_e6 ASC, doc_id ASC) AS BIGINT) AS rnk FROM j),
        |nn AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM r GROUP BY 1),
        |cut AS (SELECT r.lang, nll_e6 AS cut_nll_e6
        |  FROM r JOIN nn ON r.lang = nn.lang
        |  WHERE rnk = (3 * n_docs + 3) // 4)
        |SELECT r.lang AS lang, n_docs,
        |  CAST(sum(CASE WHEN nll_e6 <= cut_nll_e6 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN nll_e6 <= cut_nll_e6 THEN n_chars ELSE 0 END)
        |    AS BIGINT) AS kept_chars,
        |  cut_nll_e6,
        |  CAST(1000000 * sum(CASE WHEN nll_e6 <= cut_nll_e6 THEN 1 ELSE 0
        |    END) // n_docs AS BIGINT) AS retention_ppm
        |FROM r JOIN nn ON r.lang = nn.lang JOIN cut ON r.lang = cut.lang
        |GROUP BY 1, 2, 5 ORDER BY 1""".stripMargin,
    "q_text_stats" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  length(text) AS n_chars_total,
        |  length(replace(text, ' ', '')) AS n_chars_nospace,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
        |  CAST(floor(len(list_distinct(string_split(text, ' '))) * 1.0 /
        |       len(string_split(text, ' ')) * 1000000) AS BIGINT) AS ttr_e6
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_lang_agg" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(floor(sum(len(string_split(text, ' '))) * 1.0 / count(*) * 1000000)
        |       AS BIGINT) AS avg_tokens_e6
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_lang_id" -> langIdSql,
    "q_langid_eval" ->
      s"""WITH p AS (SELECT * FROM (${langIdSql})),
         |cm AS (SELECT actual_lang, predicted_lang,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM p GROUP BY 1, 2),
         |t AS (SELECT actual_lang, CAST(sum(n) AS BIGINT) AS n_actual
         |  FROM cm GROUP BY 1)
         |SELECT cm.actual_lang, predicted_lang, n, n_actual,
         |  CAST(1000000 * n // n_actual AS BIGINT) AS share_ppm,
         |  CAST(cm.actual_lang = predicted_lang AS INT) AS correct
         |FROM cm JOIN t ON cm.actual_lang = t.actual_lang
         |ORDER BY cm.actual_lang, predicted_lang""".stripMargin,
    // q_countmin_native shares this text verbatim: identical md5-window
    // hashing makes the native aggregate's counters bit-equal to the
    // declarative build's, so ONE oracle proves both forms
    "q_countmin" ->
      """WITH toks AS (SELECT tok FROM
        |    (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> ''),
        |rows_ AS (SELECT unnest(range(4)) AS r),
        |cells AS (SELECT r,
        |    ('0x' || substr(md5(tok), CAST(r * 8 + 1 AS INT), 8))
        |      ::BIGINT % 256 AS bucket,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM toks CROSS JOIN rows_ GROUP BY 1, 2),
        |exact AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact
        |  FROM toks GROUP BY 1 ORDER BY exact DESC, tok ASC LIMIT 10),
        |probe AS (SELECT tok, exact, r,
        |    ('0x' || substr(md5(tok), CAST(r * 8 + 1 AS INT), 8))
        |      ::BIGINT % 256 AS bucket
        |  FROM exact CROSS JOIN rows_)
        |SELECT tok, exact, CAST(min(c) AS BIGINT) AS cms_estimate,
        |  CAST(min(c) - exact AS BIGINT) AS overestimate
        |FROM probe JOIN cells USING (r, bucket)
        |GROUP BY tok, exact ORDER BY exact DESC, tok ASC""".stripMargin,
    "q_countmin_native" ->
      """WITH toks AS (SELECT tok FROM
        |    (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> ''),
        |rows_ AS (SELECT unnest(range(4)) AS r),
        |cells AS (SELECT r,
        |    ('0x' || substr(md5(tok), CAST(r * 8 + 1 AS INT), 8))
        |      ::BIGINT % 256 AS bucket,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM toks CROSS JOIN rows_ GROUP BY 1, 2),
        |exact AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact
        |  FROM toks GROUP BY 1 ORDER BY exact DESC, tok ASC LIMIT 10),
        |probe AS (SELECT tok, exact, r,
        |    ('0x' || substr(md5(tok), CAST(r * 8 + 1 AS INT), 8))
        |      ::BIGINT % 256 AS bucket
        |  FROM exact CROSS JOIN rows_)
        |SELECT tok, exact, CAST(min(c) AS BIGINT) AS cms_estimate,
        |  CAST(min(c) - exact AS BIGINT) AS overestimate
        |FROM probe JOIN cells USING (r, bucket)
        |GROUP BY tok, exact ORDER BY exact DESC, tok ASC""".stripMargin,
    "q_keyphrases" ->
      """WITH toks AS (SELECT doc_id, tok FROM
        |    (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |     FROM documents) WHERE tok <> ''),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
        |dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
        |  FROM tf GROUP BY 1),
        |w AS (SELECT doc_id, tok,
        |    tf * CAST(floor(1000000.0 * ln(CAST(nd AS DOUBLE) /
        |      CAST(df AS DOUBLE))) AS BIGINT) AS w
        |  FROM tf JOIN dft USING (tok) CROSS JOIN nd
        |  WHERE df * 10 <= nd AND doc_id < 50),
        |r AS (SELECT doc_id, tok, w,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY w DESC, tok ASC) AS INTEGER) AS rnk
        |  FROM w)
        |SELECT doc_id, tok, w AS tfidf_e6, rnk FROM r WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,
    "q_quality_score" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |q AS (SELECT doc_id,
        |  least(1.0, len(toks) / 100.0) AS len_score,
        |  len(list_distinct(toks)) * 1.0 / len(toks) AS ttr,
        |  len([x for x in toks if length(x) >= 5]) * 1.0 / len(toks) AS long_share
        |FROM t)
        |SELECT doc_id,
        |  CAST(floor((len_score * 0.5 + ttr * 0.3 + long_share * 0.2) * 1000000)
        |       AS BIGINT) AS quality_e6
        |FROM q ORDER BY doc_id""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_ish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_fingerprint_rolling" -> rollingFingerprintSql(16),
    "q_fingerprint" ->
      """WITH s AS (SELECT doc_id, text,
        |  [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)] AS sh
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents))
        |SELECT doc_id, md5(text) AS text_md5,
        |  list_min([md5(x) for x in sh]) AS min_shingle_md5
        |FROM s ORDER BY doc_id""".stripMargin,
  )
}
