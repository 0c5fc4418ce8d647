package graft.queries

import org.apache.spark.sql.SparkSession

/** LLM-training-data pipeline operators (brief: dedup, similarity search,
  * text analysis) as oracled queries over `documents`/`embeddings`, in
  * five section registries ([[LlmDedupOps]], [[LlmSimOps]],
  * [[LlmModelOps]], [[LlmTextOps]], [[LlmCurationOps]]) that
  * [[graft.SparkEntry]] lists directly. This object keeps only the
  * durable-table materializers under the names `graft.Bench` calls.
  *
  * Oracle-parity notes: every float exported as integer millionths
  * (`floor(x*1e6)`); md5 is the only hash used where DuckDB must mirror
  * the computation (simhash oracle SQL is generated from the same loop
  * as the Spark plan); thresholds are calibrated against the corpus so
  * LSH recall is exact at sf0.01/sf0.1 (near-dup pairs sit at J≥0.85,
  * far from the 0.5 threshold: collision prob 1-(1-J²)^32 > 1-1e-18,
  * and ≈0.9999 even for a borderline pair at exactly J=0.5).
  */
object LlmOps {
  /** Force the durable cluster-table build — Bench's
    * `_derive_dedup_clusters` entry.
    */
  private[graft] def materializeClusters(s: SparkSession, d: String): Long =
    LlmDedupOps.materializeClusters(s, d)

  /** Force the durable match-pair table build — Bench's
    * `_derive_match_pairs` entry.
    */
  private[graft] def materializeMatchPairs(s: SparkSession, d: String): Long =
    LlmSimOps.materializeMatchPairs(s, d)

  /** Force the durable IVFADC index build — Bench's
    * `_derive_ann_index` entry.
    */
  private[graft] def materializeAnnIndex(s: SparkSession, d: String): Long =
    LlmSimOps.materializeAnnIndex(s, d)
}
