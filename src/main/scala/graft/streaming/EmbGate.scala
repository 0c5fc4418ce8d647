package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.model.Scratch
import graft.ops.Similarity
import GateStores.Store

/** Streaming EMBEDDING near-duplicate ingestion gate — the vector-space
  * sibling of [[IngestGate]]: embedding rows arrive in micro-batches,
  * each batch's SRP band buckets probe a PERSISTENT band index of
  * everything seen before, candidates verify by exact cosine against a
  * persistent vector store, and every vector gets an admit/reject
  * decision with the earliest matching prior vector (`dup_src`). This
  * is the gate a continuously-trained embedding corpus runs in front of
  * its ANN index: dedup state is durable TABLES (band index + vector
  * store), not operator memory, so it survives restarts and grows
  * append-only; per batch the probe cost is (batch buckets) ⋈ index —
  * proportional to the BATCH — and the vector store streams through the
  * broadcast candidate join, so only candidates verify, never
  * corpus×corpus. The
  * lifecycle and the probe/verify step are [[GateStores.replay]] and
  * [[GateStores.dupSources]].
  *
  * Contract (stated identically by the committed DuckDB oracle, which
  * bit-mirrors the SRP hyperplanes like `q_dedup_embedding`): vector
  * `d` is a duplicate iff some earlier vector `e` (e.vec_id < d.vec_id
  * — the replay lands contiguous vec_id ranges in ascending order, so
  * arrival order IS id order) shares at least one band code with `d`
  * AND has exact cosine ≥ threshold; `dup_src` is the minimum such
  * `e`. The candidate set is batch-structure-independent: a pair
  * (a, b), a < b, lands in the same-batch self-join if co-arriving and
  * in the index probe otherwise — exactly once either way — so the
  * decisions are a pure function of the corpus and the gate hash-gates
  * against the oracle's one-sentence restatement.
  */
object EmbGate {
  /** The band-index store [[gateBatch]] probes: SRP band codes by
    * `vec_id`, one unpartitioned file per landing and per fold — every
    * probe reads the whole index.
    */
  private[graft] def idxStore(dir: String): Store = Store(dir,
    StructType.fromDDL("vec_id BIGINT, bucket BIGINT"))

  /** The raw-vector store [[gateBatch]] verifies against. */
  private[graft] def vecStore(dir: String, eraseKey: Option[String] = None): Store =
    Store(dir, StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>"),
      eraseKey = eraseKey)

  /** One micro-batch of the SRP embedding gate, shared by this gate and
    * [[AnnIngest]]'s composed pipeline: band the batch, then
    * [[GateStores.dupSources]] with exact cosine. Returns (vecs,
    * buckets, dupSrc); vecs and buckets are persisted on `b`.
    * `tombstones` hides erased predecessors from verification
    * ([[AnnIngest]]'s takedown). Consequence, stated in the delete
    * contract: a re-upload of deleted content IS re-admitted once its
    * predecessor is erased — a takedown genuinely forgets the content
    * (the retained band codes are non-invertible and cannot veto
    * without the vector).
    */
  private[graft] def gateBatch(b: GateStores.Batch, idx: Store,
      vec: Store, threshold: Double, bands: Int, bitsPerBand: Int,
      tombstones: Option[DataFrame] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    val vecs = b.persist(b.rows.select(col("vec_id"), col("embedding")))
    val buckets = b.persist(Similarity.srpBuckets(vecs, "vec_id", "embedding",
      bands, bitsPerBand))
    val dupSrc = GateStores.dupSources(b, vecs, buckets, "vec_id",
      Seq("bucket"), idx, vec,
      Similarity.verifyCosineSides(_, _, _, "vec_id", "embedding",
        threshold, broadcastB = true),
      tombstones)
    (vecs, buckets, dupSrc)
  }

  def replayEmbNearDupGate(s: SparkSession, d: String, threshold: Double,
                           bands: Int, bitsPerBand: Int): DataFrame =
    replayInternal(s, d, threshold, bands, bitsPerBand,
      ckpt = GateStores.freshCkpt("emb_gate", d),
      wipeStores = true, crash = None)

  /** [[GateStores.replay]]'s `ckpt` / `wipeStores` / `crash` exposed for
    * the restart specs.
    */
  private[graft] def replayInternal(s: SparkSession, d: String,
      threshold: Double, bands: Int, bitsPerBand: Int, ckpt: String,
      wipeStores: Boolean, crash: Option[GateStores.Crash]): DataFrame = {
    val embs = graft.model.Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
    val dec = GateStores.decisionStore(Scratch.dir("emb_gate_dec", d), "vec_id")
    val idx = idxStore(Scratch.dir("emb_gate_idx", d))
    val vec = vecStore(Scratch.dir("emb_gate_vec", d))
    GateStores.replay(s, "emb_gate", embs, "vec_id",
        Scratch.dir("emb_gate_src", d), stores = Seq(dec, idx, vec),
        folded = Seq(idx, vec), ckpt, wipeStores, crash) { b =>
      val (vecs, buckets, dupSrc) =
        gateBatch(b, idx, vec, threshold, bands, bitsPerBand)
      Seq(dec -> GateStores.decide(b.rows, "vec_id", dupSrc),
        idx -> buckets,
        vec -> vecs)
    }
    GateStores.decisions(s, dec, "vec_id")
  }
}
