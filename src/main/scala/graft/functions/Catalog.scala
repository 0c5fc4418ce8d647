package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The SQL names of the engine's kernels: one `(name, usage, builder)`
  * entry per kernel. [[graft.GraftExtensions]] injects these entries;
  * [[register]] installs the same entries on a session built without
  * the extension. Operator code never resolves a kernel by name — it
  * uses the typed Column builders of [[graft.functions]].
  */
object Catalog {

  final case class Entry(name: String, usage: String,
                         build: Seq[Expression] => Expression) {
    def info: ExpressionInfo =
      new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")
  }

  private def intArg(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()

  val entries: Seq[Entry] = Seq(
    Entry("lap_time_millis", "lap_time_millis(ms BIGINT) - millis to MM:SS.mmm",
      es => LapTimeMillis(es.head)),
    Entry("nfc_normalize", "nfc_normalize(s STRING) - Unicode NFC normalization",
      es => NfcNormalize(es.head)),
    Entry("dot_arr", "dot_arr(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) - dot product",
      es => DotProduct(es(0), es(1))),
    Entry("jaccard_sorted", "jaccard_sorted(a, b) - jaccard of sorted distinct arrays",
      es => JaccardSorted(es(0), es(1))),
    Entry("graft_shingles",
      "graft_shingles(toks ARRAY<STRING>, n INT) - distinct sorted n-shingles",
      es => Shingles(es(0), intArg(es(1)))),
    Entry("rolling_hash_min",
      "rolling_hash_min(s STRING, k INT) - min Karp-Rabin k-window hash",
      es => RollingHashMin(es(0), intArg(es(1)))),
    Entry("shingle_hashes",
      "shingle_hashes(toks ARRAY<STRING>, n INT) - sorted distinct xxhash64 of n-shingles",
      es => ShingleHashes(es(0), intArg(es(1)))),
    Entry("minhash_signature",
      "minhash_signature(sh ARRAY<BIGINT>, k INT) - k Carter-Wegman min-hashes",
      es => MinHashSignature(es(0), intArg(es(1)))),
    Entry("srp_bands",
      "srp_bands(v ARRAY<DOUBLE>, bands INT, bits INT) - band-tagged hyperplane LSH codes",
      es => SrpBands(es(0), intArg(es(1)), intArg(es(2)))),
    Entry("simhash_signature", "simhash_signature(toks ARRAY<STRING>) - 64-bit simhash",
      es => SimhashSignature(es.head)),
    Entry("kll_sketch_agg",
      "kll_sketch_agg(v BIGINT[, k INT]) - mergeable KLL quantile sketch",
      es => KllSketchAgg(es(0), KllSketch.kArg(es))),
    Entry("kll_merge_agg", "kll_merge_agg(sk BINARY[, k INT]) - union stored KLL sketches",
      es => KllMergeAgg(es(0), KllSketch.kArg(es))),
    Entry("kll_sketch_quantile",
      "kll_sketch_quantile(sk BINARY, q DOUBLE) - inclusive quantile",
      es => KllSketchQuantile(es(0), es(1))),
    Entry("countmin_agg",
      "countmin_agg(tok STRING) - 4x256 Count-Min counter plane (md5-window hashes)",
      es => CountMinAgg(es.head)),
    Entry("countmin_merge_agg",
      "countmin_merge_agg(cells ARRAY<BIGINT>) - union stored Count-Min planes",
      es => CountMinMergeAgg(es.head)))

  /** Install every catalog entry, plus the two demonstration UDFs
    * (`lap_time_udf`, `top_k_events`), on `spark` — each only if its
    * name is absent, so a session that already has a function under
    * that name (injected by the extension, or registered by its user)
    * keeps it, and repeated calls log nothing.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def absent(name: String) = !reg.functionExists(FunctionIdentifier(name))
    entries.filter(e => absent(e.name)).foreach(e =>
      reg.registerFunction(FunctionIdentifier(e.name), e.info, e.build))
    if (absent("lap_time_udf"))
      spark.udf.register("lap_time_udf", Udfs.formatLapTimeUdf)
    if (absent("top_k_events"))
      spark.udf.register("top_k_events",
        org.apache.spark.sql.functions.udaf(new TopKAggregator(3)))
  }
}
