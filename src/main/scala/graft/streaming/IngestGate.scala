package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.model.Scratch
import graft.ops.Dedup
import GateStores.Store

/** Streaming near-duplicate INGESTION GATE — the continuous-corpus form
  * of the batch MinHash dedup: documents arrive in micro-batches, each
  * batch's band buckets probe a PERSISTENT index of everything seen
  * before, candidates verify by exact Jaccard, and every document gets
  * an admit/reject decision with the earliest matching prior document
  * (`dup_src`). This is the pipeline a training-data ingest actually
  * runs: the dedup state is a durable TABLE (band index + shingle
  * store), not in-memory operator state, so it survives restarts, is
  * shared across jobs, and grows append-only — per batch the probe cost
  * is (batch bands) ⋈ index, proportional to the BATCH, never a corpus
  * self-join. The lifecycle and the probe/verify step are
  * [[GateStores.replay]] and [[GateStores.dupSources]].
  *
  * Contract (stated identically by the DuckDB oracle): doc `d` is a
  * duplicate iff some earlier document `e` (e.doc_id < d.doc_id — the
  * replay lands contiguous doc_id ranges in ascending order, so arrival
  * order IS id order) has exact hashed-shingle Jaccard ≥ 0.5 with `d`;
  * `dup_src` is the minimum such `e`. "Earlier" means SEEN, not
  * admitted: near-dup chains collapse to their earliest member, exactly
  * the batch pipeline's min-id cluster canonicalization
  * (`q_dedup_clusters`). Documents under 3 tokens have no shingles and
  * are always admitted — both engines state that rule. The decisions
  * are a pure function of the corpus (the rule is doc_id order, not
  * batch boundaries), so the hash gate holds at any slice count.
  *
  * The banding (32 hashes × 2 rows/band — `q_dedup_minhash`'s exact
  * parameters, measured recall 1.0 at J ≥ 0.5 on this corpus) makes the
  * LSH probe complete here, so the gate's output equals the oracle's
  * all-pairs statement; on a corpus where banding missed a pair this
  * key would hash-mismatch rather than silently under-dedup.
  */
object IngestGate {
  /** One micro-batch of the MinHash gate: shingle and band the batch,
    * then [[GateStores.dupSources]] with exact Jaccard. Returns (withSh,
    * bands, dupSrc); withSh and bands are persisted on `b`.
    */
  private[graft] def gateBatch(b: GateStores.Batch, idx: Store, sh: Store)
      : (DataFrame, DataFrame, DataFrame) = {
    val withSh = b.persist(Dedup.shingleSets(b.rows, "doc_id", "text", 3))
    val sigs = Dedup.minhashSignatures(withSh, "doc_id", 32)
    val bands = b.persist(Dedup.bandBuckets(sigs, "doc_id", 32, 2))
    val dupSrc = GateStores.dupSources(b, withSh, bands, "doc_id",
      Seq("band", "bucket"), idx, sh,
      Dedup.verifyJaccardSides(_, _, _, "doc_id", 0.5, broadcastB = true))
    (withSh, bands, dupSrc)
  }

  def replayNearDupGate(s: SparkSession, d: String): DataFrame =
    replayInternal(s, d, ckpt = GateStores.freshCkpt("ingest_gate", d),
      wipeStores = true, crash = None)

  /** [[GateStores.replay]]'s `ckpt` / `wipeStores` / `crash` exposed for
    * the restart specs.
    */
  private[graft] def replayInternal(s: SparkSession, d: String,
      ckpt: String, wipeStores: Boolean,
      crash: Option[GateStores.Crash]): DataFrame = {
    val docs = graft.model.Tables.documents(s, d).select(col("doc_id"), col("text"))
    val dec = GateStores.decisionStore(Scratch.dir("ingest_gate_dec", d), "doc_id")
    val idx = Store(Scratch.dir("ingest_gate_idx", d),
      StructType.fromDDL("doc_id BIGINT, band INT, bucket BIGINT"))
    val sh = Store(Scratch.dir("ingest_gate_sh", d),
      StructType.fromDDL("doc_id BIGINT, sh ARRAY<BIGINT>"))
    GateStores.replay(s, "ingest_gate", docs, "doc_id",
        Scratch.dir("ingest_gate_src", d), stores = Seq(dec, idx, sh),
        folded = Seq(idx, sh), ckpt, wipeStores, crash) { b =>
      val (withSh, bands, dupSrc) = gateBatch(b, idx, sh)
      Seq(dec -> GateStores.decide(b.rows, "doc_id", dupSrc),
        idx -> bands,
        sh -> withSh)
    }
    GateStores.decisions(s, dec, "doc_id")
  }
}
