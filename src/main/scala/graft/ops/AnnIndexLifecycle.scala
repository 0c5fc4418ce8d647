package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVFADC index DELETE path — the lifecycle piece every production
  * corpus needs (TTL expiry, takedown/GDPR erasure) that build / read /
  * append alone don't give:
  *
  *   - DELETES are TOMBSTONES: removing a vector never touches the
  *     index geometry (coarse centroids and residual codebooks are
  *     frozen coordinates, not corpus rows — a deleted vector that
  *     seeded a centroid leaves the centroid in place), it only hides
  *     the vector's postings rows. While tombstones accumulate, reads
  *     apply one `n_id` anti-join ([[applyTombstones]]) — cost ∝
  *     postings scanned, zero rewrite.
  *   - COMPACTION physically rewrites the postings without the dead
  *     rows as a NEW VERSION of the versioned index table
  *     ([[compactVersioned]]), once the dead fraction justifies the
  *     rewrite ([[shouldCompact]]). Readers of the new version pay no
  *     anti-join; the old version stays readable by number until
  *     vacuum (the [[Sinks.writeVersioned]] time-travel discipline),
  *     which is exactly the audit trail an erasure workflow wants:
  *     "version N+1 no longer contains the ids" is checkable.
  *
  * Law (spec-pinned in LlmOpsSpec): tombstone-read ≡ compacted-read ≡
  * postings-filtered-by-survivors, row for row — and therefore every
  * query over the index after a delete equals the same query over the
  * filtered postings (the committed `q_ann_ivfpq_delete` oracle
  * restates exactly that). Note this is NOT the same index a rebuild
  * over the filtered corpus would produce — a rebuild would retrain
  * the geometry on the survivors; delete deliberately keeps the
  * geometry frozen so the operation is O(postings), not O(corpus
  * retrain).
  */
object AnnIndexLifecycle {

  /** The postings visible after applying a tombstone set — the read
    * form while deletes accumulate: one anti-join on the vector id.
    */
  def applyTombstones(postings: DataFrame, tombstones: DataFrame): DataFrame =
    postings.join(tombstones.select(col("n_id")).distinct(),
      Seq("n_id"), "left_anti")
      .select(col("cell_id"), col("n_id"), col("sub"), col("cid"))

  /** Whether the accumulated tombstones justify a physical rewrite:
    * dead members ≥ `minDeadFraction` of the index — decided from
    * MAINTAINED STATISTICS, never a postings scan (r14, VERDICT r13
    * #8). `cellStats` is the per-cell membership audit table the index
    * already keeps (`q_ivfpq_cell_stats`: `(cell_id, n_members)` —
    * ~cells rows, index-metadata scale), so the live total is one tiny
    * aggregate; `deadMembers` is what the delete registration recorded
    * ([[tombstoneHits]], paid once per tombstone batch, not per
    * decision). Member fractions equal postings-row fractions exactly
    * — every member carries exactly m code rows — so the threshold is
    * unchanged from the row-counting form this replaces.
    */
  def shouldCompact(cellStats: DataFrame, deadMembers: Long,
                    minDeadFraction: Double): Boolean = {
    val total = cellStats.agg(coalesce(sum(col("n_members")), lit(0L)))
      .first().getLong(0)
    total > 0L && deadMembers.toDouble / total >= minDeadFraction
  }

  /** How many INDEXED vectors a tombstone batch actually hits — the
    * delete-registration-time count that keeps [[shouldCompact]]
    * scan-free: a deployment records this once when the tombstones
    * arrive (one semi-join against the member set, amortized over the
    * delete's own write) and accumulates the running `deadMembers`.
    * Tombstones for never-indexed ids are correctly not counted.
    */
  def tombstoneHits(postings: DataFrame, tombstones: DataFrame): Long =
    postings.select(col("n_id")).distinct()
      .join(tombstones.select(col("n_id")).distinct(), Seq("n_id"),
        "left_semi")
      .count()

  /** Physical compaction: land the survivor postings as the NEXT
    * version of the versioned index table at `path`, leaving prior
    * versions readable by number. Returns the new version id. The
    * caller owns resetting its tombstone set — tombstones at or below
    * the compacted version are absorbed.
    */
  def compactVersioned(spark: SparkSession, path: String,
                       postings: DataFrame, tombstones: DataFrame): Long = {
    // materialize the survivor set before writing over shared scratch:
    // the input plan may read the same table's current version
    val survivors = applyTombstones(postings, tombstones)
      .localCheckpoint(true)
    Sinks.writeVersioned(survivors, path)
  }

  /** The retrain trigger (r16, VERDICT r15 #2): the frozen geometry
    * never re-balances, so at scale corpus drift and takedowns skew
    * cell occupancy — probe cost is proportional to probed-cell sizes,
    * and a hot cell means slow probes while starved cells waste the
    * coarse fan-out. The signal is the max/mean occupancy ratio over
    * the MAINTAINED per-cell membership stats (`q_ivfpq_cell_stats` /
    * its post-delete form — ~cells rows, index-metadata scale, never a
    * postings scan: the [[shouldCompact]] discipline). Cells that lost
    * every member don't appear in the stats; their absence only
    * lowers the mean, making the trigger MORE likely to fire —
    * the conservative direction for a health signal.
    */
  def shouldRetrain(cellStats: DataFrame, maxMeanRatio: Double): Boolean = {
    val row = cellStats.agg(
      max(col("n_members")).cast("double"),
      avg(col("n_members"))).first()
    !row.isNullAt(0) && row.getDouble(0) >= maxMeanRatio * row.getDouble(1)
  }

  /** GEOMETRY RETRAIN with versioned cutover (r16, VERDICT r15 #2) —
    * the lifecycle step deletes/appends deliberately avoid: a FRESH
    * IVFADC build (coarse lattice re-seeded, residual codebooks
    * retrained, corpus re-encoded) over the SURVIVING corpus, landed
    * atomically as the next version of the packed index table at
    * `path` (postings kind='p' + codebook kind='c', the
    * `_derive_ann_index` layout).
    * [[graft.ops.Sinks.writeVersioned]]'s write-then-flip is the
    * atomic cutover — readers see the old geometry until the pointer
    * moves, then only the new — and the trailing vacuum removes
    * superseded geometry versions (`keepVersions = 1`: a retrain
    * usually follows takedowns, and the pre-retrain index still holds
    * the deleted vectors' codes — the snapshot-retention argument).
    *
    * This is the ONE lifecycle op that must read raw vectors: codes
    * cannot reconstruct them, so retrain cost is O(corpus), paid only
    * when [[shouldRetrain]]'s imbalance signal (or a distortion-trend
    * alarm from `q_pq_distortion`) justifies it. Law (hash-oracled by
    * `q_ann_ivfpq_retrain` and spec-pinned in LlmOpsSpec): the
    * post-retrain index ≡ a fresh single-pass build on the same
    * surviving corpus, row for row.
    */
  def retrainVersioned(spark: SparkSession, path: String,
                       survivors: DataFrame, key: String, vec: String,
                       dims: Int, cells: Int, m: Int, ks: Int,
                       refineIters: Int, keepVersions: Int = 1): Long = {
    import org.apache.spark.sql.functions.lit
    val (postings, cb) = Similarity.ivfPqBuild(survivors, key, vec, dims,
      cells, m, ks, refineIters)
    val packed = postings.select(lit("p").as("kind"), col("cell_id"),
        col("n_id"), col("sub"), col("cid"),
        lit(null).cast("int").as("pos"), lit(null).cast("long").as("ce"))
      .unionByName(cb.select(lit("c").as("kind"),
        lit(null).cast("long").as("cell_id"),
        lit(null).cast("long").as("n_id"),
        col("sub"), col("cid"), col("pos"), col("ce")))
    val v = Sinks.writeVersioned(packed, path)
    Sinks.vacuumVersions(spark, path, keep = keepVersions)
    v
  }
}
