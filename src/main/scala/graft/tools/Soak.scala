package graft.tools

import java.io.File

import scala.collection.immutable.SeqMap
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The scale soak:
  * `runMain graft.tools.Soak <tier> [baseDir] [soakDir] [outDir] [key…]`
  * amplifies the tier's tables of `baseDir` into `soakDir` with the one
  * [[graft.ops.ScaleFold]] rule, runs the tier's keys (or the listed
  * ones) over it on [[graft.Graft.session]], writes each key's result
  * parquet to `outDir/<key>` and one run record to
  * `outDir/soak_run.json`: tier, folds, tables, keys, paths, the
  * committed oracle texts and timings. `scripts/soak_check.py <outDir>
  * <artifact>` then checks every key of the record against DuckDB at
  * the amplified scale, so a constant that only looks safe at the test
  * scale (a bucket cap, a broadcast threshold, a salting fan-out) fails
  * as a hash mismatch.
  *
  * Timings: amplification, each durable derivation (so per-key readings
  * are steady-state, as in Bench), each key's first run (`count()`) and
  * warm run plus write, and a `q_filter_eq` calibration probe over the
  * base dir at each phase boundary (quiet floor 0.09 s), so a slow
  * reading on a loaded host is attributable without a re-run.
  */
object Soak {

  /** One soak scale: its fold count, the tables it amplifies, the keys
    * it runs, and whether the durable derivations are timed first.
    */
  final case class Tier(name: String, folds: Int, tables: Seq[String],
      keys: Seq[String], derive: Boolean)

  /** ~SF1: 10 folds of every table (over sf0.1, exactly TPC-H SF1
    * proportions). The keys are the expensive tail of the registry.
    * `q_dedup_eval` is left out: its contract is quadratic (it scores
    * blocking against exact all-pairs truth, on corpus samples), and at
    * ~SF1 its fold-amplified prefix join passed 90 GB. The production
    * dedup paths it evaluates are all here.
    */
  val sf1: Tier = Tier("sf1", 10,
    Seq("customer", "documents", "embeddings", "events", "lineitem",
      "nation", "orders", "part", "region", "supplier"),
    Seq(
      // graph: 10 disjoint copies of the part co-purchase graph
      "q_triangles", "q_pagerank", "q_ppr", "q_hits", "q_label_prop",
      "q_kcore", "q_graph_bfs", "q_clustering_coeff", "q_top_eigenvector",
      "q_adamic_adar",
      // dedup: fold copies are near-duplicate documents
      "q_dedup_exact", "q_dedup_minhash", "q_dedup_ngram",
      "q_entity_clusters",
      // similarity over 10x embeddings, whose fold copies are vector
      // near-duplicates: blocking, probe/re-rank and top-k tie-breaks
      // meet the candidate explosion a replicated corpus produces
      "q_dedup_embedding", "q_cosine_topk", "q_ann_ivf", "q_ann_lsh",
      "q_ann_pq", "q_ann_ivfpq", "q_ann_ivfpq_read", "q_ivfpq_cell_stats",
      "q_ann_ivfpq_delete", "q_ann_ivfpq_delete_stats",
      "q_ann_ivfpq_retrain",
      "q_ann_ivfpq_append", "q_ann_ivfpq_shard_merge",
      "q_stream_ann_ingest", "q_stream_ann_delete", "q_stream_ann_query",
      "q_stream_ann_recall",
      "q_ann_ivf_incremental", "q_ann_recall_eval", "q_stream_emb_gate",
      // text / stats
      "q_tfidf", "q_cluster_topics", "q_ks_test", "q_weighted_median",
      "q_theil_sen", "q_assoc_rules",
      // the partsupp-derived and heavy-join TPC-H shapes
      "q_sql_tpch_q9", "q_sql_tpch_q18", "q_sql_tpch_q21",
      "q_multimodal_phash_near",
      // streaming: the as-of replay over 10x events, and the ingest
      // gate whose band index accumulates 10x state
      "q_stream_asof_wm", "q_stream_ingest_gate"),
    derive = true)

  /** ~SF10: 100 folds of documents, events and embeddings, and the keys
    * whose cost and output are linear in them, so 100x flushes constants
    * (hash widths, buffers, per-partition state) that 10x cannot.
    * Events keys stay fold-local (the fold shifts `user_id`). The
    * pair-generating document keys (minhash, ngram, embedding) are left
    * out: every fold is a near-duplicate of fold 0, so their true pair
    * set grows as folds², which measures the corpus, not the engine.
    * The two gates are pair-generating on purpose: at 100 folds every
    * batch verifies against a store of near-duplicates; the ANN gate
    * runs its wide-band parameterization (see its scaladoc).
    */
  val sf10: Tier = Tier("sf10", 100, Seq("documents", "events", "embeddings"),
    Seq(
      "q_dedup_exact", "q_dedup_prefix",
      "q_text_stats", "q_token_count", "q_fingerprint",
      "q_fingerprint_rolling", "q_lang_id", "q_quality_score", "q_lang_agg",
      "q_sessionize", "q_interval_union", "q_markov_transitions",
      "q_stream_ingest_gate", "q_stream_ann_ingest_wide"),
    derive = false)

  val tiers: SeqMap[String, Tier] = SeqMap(sf1.name -> sf1, sf10.name -> sf10)

  def main(args: Array[String]): Unit = {
    val tier = args.headOption.flatMap(tiers.get).getOrElse(throw new IllegalArgumentException(
      s"usage: Soak <${tiers.keys.mkString("|")}> [baseDir] [soakDir] [outDir] [key…]"))
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, tier, args.lift(1).getOrElse("/root/testdata/sf0.1"),
      args.lift(2).getOrElse(s"target/soak_${tier.name}"),
      args.lift(3).getOrElse(s"target/soak_${tier.name}_out"), args.drop(4).toSeq)
    finally spark.stop()
  }

  /** Runs `tier` (only `keys`, if given) and returns the run record it
    * writes. Every tier key and every listed key must have a registry
    * entry and an oracle; that is checked before anything is written.
    */
  def run(spark: SparkSession, tier: Tier, baseDir: String, soakDir: String,
      outDir: String, keys: Seq[String] = Nil): SeqMap[String, Any] = {
    val unknown = (tier.keys ++ keys).distinct.filterNot(k =>
      SparkEntry.queries.contains(k) && SparkEntry.oracleSql.contains(k))
    require(unknown.isEmpty,
      s"soak keys without a registry entry and an oracle: ${unknown.mkString(" ")}")
    val todo = if (keys.isEmpty) tier.keys else keys
    new File(outDir).mkdirs()
    def clock(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; Profile.round((System.nanoTime() - t0) / 1e9)
    }
    // a failed step reads -1 s and the run goes on; a key whose write
    // failed has no output, which the checker counts as an engine failure
    def timed(what: String)(body: => Unit): Double =
      try clock(body) catch { case NonFatal(e) =>
        System.err.println(s"[soak] $what FAILED: $e"); -1.0
      } finally Profile.dropBlocks(spark)
    val probes = Seq.newBuilder[SeqMap[String, Any]]
    def probe(tag: String): Unit = {
      val fn = SparkEntry.queries("q_filter_eq")
      val sec = Seq.fill(3)(clock(fn(spark, baseDir).count())).sorted.apply(1)
      println(f"[soak] calib probe $tag: $sec%.3f s")
      probes += SeqMap("tag" -> tag, "sec" -> sec)
    }

    val amplify = clock(graft.ops.ScaleFold.amplify(spark, baseDir, soakDir,
      tier.folds, tier.tables))
    println(f"[soak] amplify ${tier.tables.mkString("+")} x${tier.folds}: $amplify%.1f s")
    probe("start")
    val derives = if (!tier.derive) Nil else {
      val ts = SparkEntry.derives.toSeq.map { case (name, fn) =>
        name -> timed(name)(fn(spark, soakDir))
      }
      probe("post-derive")
      ts
    }
    val queries = todo.map { k =>
      val fn = SparkEntry.queries(k)
      // no earlier run's output may stand in for a failed write
      org.apache.commons.io.FileUtils.deleteQuietly(new File(outDir, k))
      val first = timed(k)(fn(spark, soakDir).count())
      val warm = timed(k)(fn(spark, soakDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$k"))
      println(f"[soak] $k%-28s first $first%8.1f s  warm+write $warm%8.1f s")
      k -> SeqMap("first" -> first, "warm_write" -> warm)
    }
    probe("end")
    val record = SeqMap(
      "tier" -> tier.name, "folds" -> tier.folds, "tables" -> tier.tables,
      "keys" -> todo,
      "base_dir" -> new File(baseDir).getAbsolutePath,
      "soak_dir" -> new File(soakDir).getAbsolutePath,
      "oracle_sql" -> SeqMap.from(todo.map(k => k -> SparkEntry.oracleSql(k))),
      "timings" -> SeqMap("amplify_sec" -> amplify, "calib_floor" -> 0.09,
        "calib_probes" -> probes.result(), "derive" -> SeqMap.from(derives),
        "queries" -> SeqMap.from(queries)))
    java.nio.file.Files.writeString(new File(outDir, "soak_run.json").toPath,
      Profile.json.writerWithDefaultPrettyPrinter().writeValueAsString(record))
    println(s"[soak] record -> $outDir/soak_run.json")
    record
  }
}
