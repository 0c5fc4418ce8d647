package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{cellAsg, cellRanks, cellResidual, dot, pqCodes, pqDist2,
  srpBands}

/** Embedding similarity search over `array<float>` columns.
  *
  * Dot products run through the native codegen'd
  * [[graft.functions.DotProduct]] expression (`dot_arr` — a primitive
  * loop; the composable `aggregate(zip_with(...))` form is interpreted
  * and was ~40× slower at sf0.1); sign-random-projection band codes run
  * through [[graft.functions.SrpBands]] (`srp_bands` — all bands in one
  * pass). Norms are computed once per row on each join side, not once
  * per pair. The arithmetic (sequential fold, `dot/(sqrt(aa)*sqrt(bb))`
  * grouping) is bit-identical to DuckDB's `list_dot_product` oracle
  * formula.
  *
  * Scale posture: brute-force top-k is the exact baseline — broadcast
  * the (small) query set, scan the corpus once, per-query top-k via a
  * rank-limited window. For corpus×corpus pair detection use
  * [[cosinePairsBlocked]] (banded equi join, never a theta join); for
  * corpus×corpus top-k at 100 TB use [[ivfTopK]] (vectors bucketed by
  * nearest coarse centroid, queries scan `nprobe` cells) or [[lshTopK]]
  * (data-independent banding, append-friendly).
  */
object Similarity {

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Quantization scale for distributed centroid means: per-dimension
    * sums accumulate as exact integers (order-independent under any
    * partitioning), then divide once — bit-deterministic, unlike a
    * double `avg` whose summation order follows the partitioning. The
    * ≈6e-8 quantization of each member is irrelevant for coarse IVF
    * cells and is the price of exactness-under-reordering.
    */
  private[graft] val MeanScale = (1L << 24).toDouble

  /** Key + unit-normless vector + precomputed L2 norm, aliased for a join side. */
  private def side(df: DataFrame, key: String, vec: String,
                   keyAs: String, vecAs: String, normAs: String): DataFrame =
    df.select(col(key).as(keyAs), asDouble(col(vec)).as(vecAs))
      .withColumn(normAs, sqrt(dot(col(vecAs), col(vecAs))))

  /** Banded view: one row per (row, band) keyed by the band-tagged
    * bucket code, so a plain equi join on `bucket` is the per-band
    * bucket join. Null vectors produce no rows (they have no buckets
    * and can match nothing).
    */
  private def banded(df: DataFrame, bands: Int, bitsPerBand: Int,
                     vecCol: String, keep: Column*): DataFrame =
    df.select(keep :+
      explode(srpBands(col(vecCol), bands, bitsPerBand)).as("bucket"): _*)

  /** SRP band-bucket rows `(key, bucket)` — the persistent-index unit
    * of the streaming embedding gate ([[graft.streaming.EmbGate]]):
    * the same band-tagged codes as [[cosinePairsBlocked]]'s blocking,
    * but with NO vector payload, so the durable index stores and the
    * probe join shuffle ~16 bytes per band row; vectors live in their
    * own store and are fetched for verification candidates only.
    */
  def srpBuckets(corpus: DataFrame, key: String, vec: String,
                 bands: Int, bitsPerBand: Int): DataFrame = {
    corpus.select(col(key), asDouble(col(vec)).as("_v"))
      .select(col(key),
        explode(srpBands(col("_v"), bands, bitsPerBand)).as("bucket"))
  }

  /** Exact-cosine verification of `(key_a, key_b)` candidate pairs
    * against a vector table — candidates only, never a corpus
    * self-join; the same mirrored float-cosine sequence as
    * [[cosinePairsBlocked]]'s verify stage.
    */
  def verifyCosine(cands: DataFrame, vecs: DataFrame, key: String,
                   vec: String, threshold: Double): DataFrame =
    verifyCosineSides(cands, vecs, vecs, key, vec, threshold)

  /** [[verifyCosine]] with separate vector tables per pair side — the
    * streaming-gate shape: `key_b` rows always come from the in-memory
    * micro-batch while `key_a` rows come from the whole durable vector
    * store, which streams map-side through the broadcast candidate join
    * (`broadcastB`), so only candidate rows survive it and no exchange
    * carries the store.
    */
  def verifyCosineSides(cands: DataFrame, vecsA: DataFrame, vecsB: DataFrame,
                        key: String, vec: String, threshold: Double,
                        broadcastB: Boolean = false): DataFrame = {
    val a = side(vecsA, key, vec, "key_a", "va", "na")
    val b0 = side(vecsB, key, vec, "key_b", "vb", "nb")
    // broadcastB: the caller guarantees the b side AND the candidate
    // set are BOUNDED (the streaming gates' micro-batch and its
    // collisions) — broadcasting both makes the verify a pure map-side
    // pass over the (big) a-side store: zero exchanges carry vectors,
    // at any corpus scale (guide §3.1: broadcast the side that is
    // small by construction; candidate pairs are 16 bytes/row)
    val cand = if (broadcastB) broadcast(cands) else cands
    val b = if (broadcastB) broadcast(b0) else b0
    cand.join(a, Seq("key_a")).join(b, Seq("key_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("key_a"), col("key_b"))
  }

  /** Exact brute-force top-k cosine neighbors for a query subset. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, key: String,
                     vec: String, k: Int): DataFrame = {
    val q = broadcast(side(queries, key, vec, "q_id", "q_vec", "q_norm"))
    // The q×corpus dot products run map-side on the corpus scan's own
    // partitioning — fan a narrow corpus out so they use every core.
    val c = side(Par.fanOut(corpus.select(col(key), col(vec))),
      key, vec, "n_id", "n_vec", "n_norm")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    q.join(c, col("q_id") =!= col("n_id"))
      .withColumn("cos", dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk"),
        floor(col("cos") * 1e6).cast("long").as("cos_e6"))
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the k most similar corpus vectors whose label DIFFERS
    * from the query's. Same broadcast-query / fanned-corpus shape as
    * [[bruteForceTopK]], but the label-mismatch predicate applies
    * BEFORE the per-query rank — the negatives are the top-k OF the
    * negative set, which post-filtering a plain top-k cannot produce
    * (a query surrounded by same-label vectors would lose rows).
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, key: String,
                    vec: String, label: String, k: Int): DataFrame = {
    val q = broadcast(queries
      .select(col(key).as("q_id"), asDouble(col(vec)).as("q_vec"),
        col(label).as("q_label"))
      .withColumn("q_norm", sqrt(dot(col("q_vec"), col("q_vec")))))
    val c = Par.fanOut(corpus.select(col(key), col(vec), col(label)))
      .select(col(key).as("n_id"), asDouble(col(vec)).as("n_vec"),
        col(label).as("n_label"))
      .withColumn("n_norm", sqrt(dot(col("n_vec"), col("n_vec"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    q.join(c, col("q_id") =!= col("n_id") && col("q_label") =!= col("n_label"))
      .withColumn("cos", dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("q_label"), col("n_id"), col("n_label"),
        col("rnk"), floor(col("cos") * 1e6).cast("long").as("cos_e6"))
  }

  /** Exact cosine near-duplicate pairs (cos ≥ threshold) — O(n²) compare,
    * intended for dimension-sized inputs or per-bucket verification at
    * scale. An EXACT sub-quadratic threshold join needs a margin around
    * the threshold: when the corpus has pairs densely on both sides of
    * the cut (this repo's synthetic embeddings place pairs at 0.3999 and
    * 0.4001), any complete candidate filter must admit essentially every
    * pair, so the registered scale path is [[cosinePairsBlocked]] and
    * this exact form stays scoped to small inputs.
    */
  def cosinePairs(corpus: DataFrame, key: String, vec: String,
                  threshold: Double): DataFrame = {
    // Pairwise compute runs on the streamed side's partitioning — fan a
    // narrow corpus out once; both join sides reuse the exchange.
    val wide = Par.fanOut(corpus.select(col(key), col(vec)))
    val a = side(wide, key, vec, "vec_a", "va", "na")
    val b = side(wide, key, vec, "vec_b", "vb", "nb")
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"),
        floor(col("cos") * 1e6).cast("long").as("cos_e6"))
  }

  /** LSH-blocked cosine near-duplicate pairs — the corpus×corpus scale
    * path: candidates come from a banded equi self-join on
    * sign-random-projection bucket codes (never a theta join / cartesian
    * product), each candidate is verified with the exact cosine, and
    * only verified pairs (a 24-byte projection) reach the final
    * duplicate-elimination shuffle. A pair colliding in several bands is
    * verified once per collision — redundant map-side flops are strictly
    * cheaper than shuffling the full candidate set with vectors attached
    * to dedup it first.
    *
    * The operator's contract is deliberately "exact cosine over LSH
    * candidates", not "exact cosine over all pairs": recall against the
    * all-pairs ideal is 1 − (1 − p^bits)^bands with p = 1 − θ/π, a
    * data-dependent quantity with no exact sub-quadratic alternative
    * (see [[cosinePairs]]). With the defaults (96 bands × 8 bits) on the
    * repo's synthetic corpus — true pairs planted at cos ∈ [0.4, 0.6],
    * background up to 0.3999, i.e. zero margin at the 0.4 threshold, the
    * hardest possible regime for any blocking scheme — measured recall
    * is 0.94–0.97 at sf0.001–0.1 with ~34% candidate pairs; on a real
    * near-dup corpus (dups at cos ≥ 0.9) the same defaults give recall
    * 1 − 5e-15 and far sparser candidates, and fewer bands suffice.
    */
  def cosinePairsBlocked(corpus: DataFrame, key: String, vec: String,
                         threshold: Double, bands: Int = 96,
                         bitsPerBand: Int = 8): DataFrame = {
    val wide = side(Par.fanOut(corpus.select(col(key), col(vec))),
      key, vec, "vec_a", "va", "na")
    val a = banded(wide, bands, bitsPerBand, "va",
      col("vec_a"), col("va"), col("na"))
    val b = a.select(col("bucket"), col("vec_a").as("vec_b"),
      col("va").as("vb"), col("na").as("nb"))
    // shuffle_hash pinned: the banded side is corpus×bands rows EACH
    // CARRYING THE VECTOR, but Catalyst's size estimate rides the
    // narrow parquet scan (the explode's fan-out is invisible to it),
    // so auto-broadcast picks BroadcastHashJoin and materializes the
    // whole banded corpus on the driver — fine at 2k vectors, dead at
    // 20k (the r12 similarity soak caught exactly this: ~600 MB actual
    // vs a ~5 MB estimate). A banded SELF-join must co-partition by
    // bucket; at 100 TB broadcast is never the right shape here.
    a.hint("shuffle_hash").join(b.hint("shuffle_hash"), Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"),
        floor(col("cos") * 1e6).cast("long").as("cos_e6"))
      .dropDuplicates(Seq("vec_a", "vec_b"))
  }

  /** Raw SRP candidate pairs — the banded self-join BEFORE the exact
    * cosine verify, exposed so detector-quality evaluations can score
    * the blocking stage itself against exact ground truth (the
    * [[cosinePairsBlocked]] output is verify-filtered and so trivially
    * precision-1). Same bands, same bit-mirrored hyperplanes.
    */
  def srpCandidatePairs(corpus: DataFrame, key: String, vec: String,
                        bands: Int = 96, bitsPerBand: Int = 8): DataFrame = {
    val wide = side(Par.fanOut(corpus.select(col(key), col(vec))),
      key, vec, "vec_a", "va", "na")
    // same shuffle_hash pin as [[cosinePairsBlocked]]: the explode's
    // fan-out is invisible to the size estimate, so auto-broadcast
    // would ship the banded corpus to the driver
    val a = banded(wide, bands, bitsPerBand, "va", col("vec_a"))
    val b = a.select(col("bucket"), col("vec_a").as("vec_b"))
    a.hint("shuffle_hash").join(b.hint("shuffle_hash"), Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .distinct()
  }

  /** Coarse centroids refined by Lloyd iterations (distributed k-means):
    * seeds are the first `k` corpus vectors in key order (deterministic
    * init); each iteration assigns every vector to its nearest centroid
    * via a broadcast join + `min_by` partial aggregate (map-side
    * combine: one row per vector crosses the exchange, not one per
    * vector×centroid) and recomputes per-cell means from exact
    * integer-scaled sums (see [[MeanScale]]) — bit-deterministic under
    * any partitioning, one shuffle per iteration. Cells that lose all
    * members drop out (k can shrink). `iters = 0` returns the raw seeds.
    */
  def kmeansCentroids(corpus: DataFrame, key: String, vec: String,
                      k: Int, iters: Int): DataFrame = {
    var cents = side(corpus.orderBy(col(key)).limit(k),
      key, vec, "cell_id", "cent", "cent_norm")
    if (iters > 0) {
      val members = side(Par.fanOut(corpus.select(col(key), col(vec))),
        key, vec, "n_id", "n_vec", "n_norm")
      for (_ <- 0 until iters) {
        // argmax cell per vector: min of (−sim, cell_id) ≡ highest sim,
        // lowest cell on ties — same total order the row_number form had,
        // but with partial aggregation instead of a window shuffle of the
        // vector×centroid expansion
        val assigned = members.join(broadcast(cents))
          .withColumn("sim",
            dot(col("n_vec"), col("cent")) / (col("n_norm") * col("cent_norm")))
          .groupBy(col("n_id"))
          .agg(min_by(struct(col("cell_id"), col("n_vec")),
            struct((-col("sim")).as("neg_sim"), col("cell_id"))).as("best"))
          .select(col("best.cell_id").as("cell_id"), col("best.n_vec").as("n_vec"))
        cents = assigned
          .select(col("cell_id"), posexplode(col("n_vec")).as(Seq("pos", "x")))
          .groupBy(col("cell_id"), col("pos"))
          .agg(count(lit(1)).as("cnt"),
            sum(round(col("x") * MeanScale).cast("long")).as("sx"))
          .groupBy(col("cell_id"))
          .agg(transform(array_sort(collect_list(struct(col("pos"),
              (col("sx").cast("double") / col("cnt") / MeanScale).as("m")))),
            s => s.getField("m")).as("cent"))
          .withColumn("cent_norm", sqrt(dot(col("cent"), col("cent"))))
          .localCheckpoint(true)
      }
    }
    cents
  }

  /** Approximate top-k via IVF-flat: coarse centroids are the first
    * `cells` corpus vectors (by key order) — deterministic and cheap,
    * adequate for bucketing — optionally tightened with `refineIters`
    * Lloyd rounds ([[kmeansCentroids]]). Every vector is assigned to its
    * nearest centroid via one broadcast join + `min_by` partial
    * aggregate (the cells-wide expansion never crosses an exchange); a
    * query probes the `nprobe` nearest cells only. `nprobe = cells`
    * degenerates to exact brute force — the oracled gate
    * `q_ann_ivf_exhaustive` pins that equivalence.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, key: String, vec: String,
              k: Int, cells: Int = 16, nprobe: Int = 4,
              refineIters: Int = 0): DataFrame = {
    val cents = broadcast(kmeansCentroids(corpus, key, vec, cells, refineIters))
    ivfProbe(ivfAssign(corpus, cents, key, vec), queries, cents,
      key, vec, k, nprobe)
  }

  /** Nearest-centroid cell assignment: one broadcast join +
    * `min_by` partial aggregate — the cells-wide expansion never
    * crosses an exchange. Factored from [[ivfTopK]] so
    * [[ivfTopKIncremental]] can assign base and new-batch rows against
    * the SAME frozen centroids.
    */
  private def ivfAssign(xs: DataFrame, cents: DataFrame,
                        key: String, vec: String): DataFrame =
    side(Par.fanOut(xs.select(col(key), col(vec))),
        key, vec, "n_id", "n_vec", "n_norm")
      .join(cents)
      .withColumn("sim", dot(col("n_vec"), col("cent")) / (col("n_norm") * col("cent_norm")))
      .groupBy(col("n_id"))
      .agg(min_by(struct(col("cell_id"), col("n_vec"), col("n_norm")),
        struct((-col("sim")).as("neg_sim"), col("cell_id"))).as("best"))
      .select(col("best.cell_id").as("cell_id"), col("n_id"),
        col("best.n_vec").as("n_vec"), col("best.n_norm").as("n_norm"))

  /** Query-side probe + exact-cosine re-rank over an assigned cell
    * table — the read path shared by [[ivfTopK]] and
    * [[ivfTopKIncremental]].
    */
  private def ivfProbe(corpusCells: DataFrame, queries: DataFrame,
                       cents: DataFrame, key: String, vec: String,
                       k: Int, nprobe: Int): DataFrame = {
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("cell_id").asc)
    val queryCells = side(queries, key, vec, "q_id", "q_vec", "q_norm")
      .join(cents)
      .withColumn("sim", dot(col("q_vec"), col("cent")) / (col("q_norm") * col("cent_norm")))
      .withColumn("crnk", row_number().over(probeW))
      .filter(col("crnk") <= nprobe)
      .select(col("q_id"), col("q_vec"), col("q_norm"), col("cell_id"))
    val topW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    broadcast(queryCells).join(corpusCells, Seq("cell_id"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
      .withColumn("rnk", row_number().over(topW))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk"),
        floor(col("cos") * 1e6).cast("long").as("cos_e6"))
  }

  /** IVFADC index APPEND — the write path of a live ANN service: the
    * index geometry (coarse centroids + residual PQ codebooks) froze
    * when the BASE corpus was built; a newly-arrived batch is encoded
    * against it — coarse-assign to the nearest frozen cell, form the
    * residual, PQ-assign each subspace against the frozen codebook —
    * and the resulting postings rows `(cell_id, n_id, sub, cid)`
    * append to the inverted lists. Cost ∝ batch (two broadcast-join
    * argmins per new vector); the base is never re-read, re-trained,
    * or re-shuffled — the property that lets a 100 TB index absorb a
    * continuous feed, with staleness watched by `q_pq_distortion` /
    * `q_ivfpq_cell_stats`. Returns the NEW postings only (the rows an
    * append RPC would write).
    */
  private[graft] def ivfPqAppend(base: DataFrame, newBatch: DataFrame,
                                 key: String, vec: String, dims: Int,
                                 cells: Int, m: Int, ks: Int,
                                 refineIters: Int): DataFrame = {
    require(dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    val dsub = dims / m
    // frozen geometry from the base build (a deployment reads these
    // from its index file; recomputing is the ivfPqSearch discipline)
    val (_, cb) = ivfPqBuild(base, key, vec, dims, cells, m, ks, refineIters)
    ivfPqEncode(newBatch, coarseFromBase(base, key, vec, dsub, cells), cb,
      key, vec, dsub)
  }

  /** Encode a batch against a FROZEN IVFADC geometry (coarse lattice
    * codebook `cc` + residual PQ codebook `cb`): coarse argmin →
    * residual → frozen-codebook argmin per subspace. Returns the
    * postings rows `(cell_id, n_id, sub, cid)`. Shared by
    * [[ivfPqAppend]] and the streaming ingest
    * ([[graft.streaming.AnnIngest]]); cost ∝ batch (two broadcast-join
    * argmins per vector).
    */
  private[graft] def ivfPqEncode(newBatch: DataFrame, cc: DataFrame,
                                 cb: DataFrame, key: String, vec: String,
                                 dsub: Int): DataFrame = {
    // array-native (r16): the frozen geometry collects to driver
    // arrays (cells·dims + m·ks·dsub longs — index metadata) and the
    // whole encode — coarse argmin, residual, per-subspace code argmin
    // — is one map-side pass over the batch: no checkpoint, no joins,
    // no exchange, exactly the per-partition frozen-geometry encode
    // the shard-merge key's 100 TB recipe describes. (The former form
    // checkpointed dims×-exploded rows and paid two broadcast-join
    // argmins per batch.)
    val (subCids, subCents) = collectCbGeo(cb, dsub)
    val (ccIds, ccCents) = collectCoarseGeo(cc, subCids.length * dsub)
    latticeVecs(newBatch.select(
        col(key).cast("long").as("n_id"), col(vec)), "n_id", vec)
      .select(col("n_id"), cellAsg(col("xs"), ccIds, ccCents).as("cell_id"),
        col("xs"))
      .select(col("n_id"), col("cell_id"),
        cellResidual(col("xs"), col("cell_id"), ccIds, ccCents).as("xs"))
      .select(col("cell_id"), col("n_id"),
        posexplode(pqCodes(col("xs"), dsub, subCids, subCents))
          .as(Seq("sub", "cid")))
      .select(col("cell_id"), col("n_id"), col("sub"), col("cid"))
  }

  /** The frozen coarse lattice codebook recomputed from a stored base
    * slice — first `cells` vectors in key order as `(pos, cell_id,
    * ce)`; the stream's batch-1+ encodes read this from the vector
    * store instead of recomputing the lattice of the whole corpus.
    */
  private[graft] def coarseFromBase(base: DataFrame, key: String,
                                    vec: String, dsub: Int,
                                    cells: Int): DataFrame =
    coarseLattice(pqLattice(base.select(
      col(key).cast("long").as("n_id"), col(vec))
      .filter(col(key) < cells), "n_id", vec, dsub), cells)

  /** Incremental IVF insert — the index-MAINTENANCE path a 100 TB ANN
    * deployment actually runs: coarse centroids were fixed when the
    * index was built over the BASE corpus; a newly-arrived batch is
    * assigned to those EXISTING centroids (one broadcast join + argmin
    * per new vector — cost ∝ batch, no refit, no re-shuffle of the
    * base), and queries probe the union index. This is IVF's
    * operational advantage over retrain-coupled structures: inserts
    * never re-cluster, so the 100 TB index absorbs a continuous feed —
    * at the price that centroids slowly stale as the distribution
    * drifts, which is exactly what `q_pq_distortion`-style audits
    * watch. The base assignment here recomputes what a deployment
    * would read from its stored cell table; the formula is identical
    * either way (centroids frozen), so the committed oracle assigns
    * base ∪ batch in one pass against the base-derived centroids.
    */
  def ivfTopKIncremental(base: DataFrame, newBatch: DataFrame,
                         queries: DataFrame, key: String, vec: String,
                         k: Int, cells: Int = 16,
                         nprobe: Int = 4): DataFrame = {
    // centroids from the BASE build only — the frozen index geometry
    val cents = broadcast(kmeansCentroids(base, key, vec, cells, 0))
    val corpusCells = ivfAssign(base, cents, key, vec)
      .unionByName(ivfAssign(newBatch, cents, key, vec))
    ivfProbe(corpusCells, queries, cents, key, vec, k, nprobe)
  }

  /** Approximate top-k via product quantization (PQ with asymmetric
    * distance computation — Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", public knowledge): vectors split into
    * `m` subspaces of `dims/m` dimensions; each subspace gets a
    * codebook of `ks` centroids (the first `ks` corpus subvectors in
    * key order — the same deterministic seeding as [[ivfTopK]]), and a
    * corpus vector is stored as `m` small codes, ~log2(ks)·m bits
    * instead of dims·8 bytes. THIS is the 100 TB embedding path: the
    * encoded corpus is ~50× smaller than raw vectors, the encode pass
    * is one broadcast join + partial-aggregate argmin (no exchange of
    * the vector×centroid expansion), and a query scans CODES, not
    * vectors — per query the ADC cost is `m` lookup-table entries per
    * corpus row, built from one tiny query×codebook table.
    *
    * Codebooks are TRAINED, not just seeded: `refineIters` Lloyd
    * rounds per subspace (assign by exact lattice L2, update by
    * sign-split integer means — the kmeansFit discipline), because
    * raw first-k seeds measured recall 0.22 vs 0.66 with one trained
    * round at sf0.01.
    *
    * Determinism discipline: coordinates quantize once onto the 2²⁴
    * lattice; every later step — distance terms `|c|² − 2·(x·c)`
    * (|x|² is constant inside an argmin group), centroid means,
    * lookup-table cells, and the CROSS-subspace ADC sum — is exact
    * BIGINT arithmetic, order-independent under any partitioning. The
    * committed oracle restates the whole algorithm (seeding, Lloyd
    * round, encode, LUT, ADC, ranking), so the driver hash-gates
    * every stage. Approximation vs exact L2 top-k is spec-pinned
    * (recall), like the other ANN tiers.
    */
  /** Lattice rows (id, sub, pos, xe) for the PQ family: coordinates
    * quantized once onto the 2²⁴ integer lattice (the kmeansFit
    * discipline) so every later product, mean (sign-split DIV),
    * comparison, and cross-subspace sum is exact BIGINT arithmetic —
    * order-independent under any partitioning, no float sequence to
    * mirror.
    */
  private def pqLattice(df: DataFrame, keyAs: String, vec: String,
                        dsub: Int): DataFrame =
    df.select(col(keyAs),
      posexplode(asDouble(col(vec))).as(Seq("pos", "x")))
      .select(col(keyAs), expr(s"pos DIV $dsub").cast("int").as("sub"),
        col("pos"), round(col("x") * MeanScale).cast("long").as("xe"))

  /** Array-native lattice vectors `(keyAs, xs array<long>)` — the SAME
    * per-coordinate quantization as [[pqLattice]] (`round(x·MeanScale)`
    * as BIGINT), kept as ONE row per vector so the codec expressions
    * ([[graft.functions.PqCodec]]) run coarse assign, residuals and
    * code assignment map-side: checkpoints and exchanges carry one row
    * per vector instead of dims, and the per-assignment broadcast-join
    * + two-Exchange argmin disappears (r16 profile: the PQ keys were
    * job-count bound on exactly those materializations).
    */
  private def latticeVecs(df: DataFrame, keyAs: String,
                          vec: String): DataFrame =
    df.select(col(keyAs), lattice(col(vec)).as("xs"))

  private def lattice(vec: Column): Column =
    transform(asDouble(vec), x => round(x * MeanScale).cast("long"))

  /** Collect a coarse codebook `(pos, cell_id, ce)` to driver arrays
    * (ids ascending, centroid per id indexed by pos) — `cells`·dims
    * longs, index METADATA by construction (the bounded-collect rule:
    * parameter-sized, never data-sized).
    */
  private[graft] def collectCoarseGeo(cc: DataFrame, dims: Int)
      : (Array[Long], Array[Array[Long]]) = {
    val rows = cc.select(col("cell_id").cast("long"), col("pos").cast("int"),
      col("ce").cast("long")).collect()
    val byId = rows.groupBy(_.getLong(0)).toArray.sortBy(_._1)
    // dense-geometry contract: every cell holds exactly one row per pos
    // in [0, dims). A cell with a missing, extra or duplicated pos row (a
    // truncated or hand-landed coarse table) would otherwise yield a
    // centroid whose absent coordinates read as 0 in the dot/norm but
    // pass through unsubtracted in pq_residual. A corrupt store must
    // fail loudly, not skew residuals.
    require(byId.nonEmpty, "coarse geometry is empty")
    byId.foreach { case (id, rs) =>
      require(rs.map(_.getInt(1)).sorted.sameElements(0 until dims),
        s"coarse geometry is not dense: cell $id has ${rs.length} pos " +
          s"rows, want exactly one per pos in 0..${dims - 1}")
    }
    val cents = byId.map { case (_, rs) =>
      val a = new Array[Long](dims)
      rs.foreach(r => a(r.getInt(1)) = r.getLong(2))
      a
    }
    (byId.map(_._1), cents)
  }

  /** Collect a PQ codebook `(sub, cid, pos, ce)` to per-sub driver
    * arrays (cids ascending, centroids indexed by `pos − sub·dsub`) —
    * m·ks·dsub longs, index metadata like [[collectCoarseGeo]].
    */
  private def collectCbGeo(cb: DataFrame, dsub: Int)
      : (Array[Array[Long]], Array[Array[Array[Long]]]) = {
    val rows = cb.select(col("sub").cast("int"), col("cid").cast("long"),
      col("pos").cast("int"), col("ce").cast("long")).collect()
    require(rows.nonEmpty, "PQ codebook is empty")
    val bySub = rows.groupBy(_.getInt(0))
    val m = bySub.keys.max + 1
    val subCids = Array.tabulate(m) { s =>
      bySub.get(s).map(_.map(_.getLong(1)).distinct.sorted).getOrElse(
        throw new IllegalStateException(
          s"PQ codebook has no centroids for subspace $s"))
    }
    val subCents = Array.tabulate(m) { s =>
      val byCid = bySub(s).groupBy(_.getLong(1))
      subCids(s).map { cid =>
        val a = new Array[Long](dsub)
        byCid(cid).foreach(r => a(r.getInt(2) - s * dsub) = r.getLong(3))
        a
      }
    }
    (subCids, subCents)
  }

  /** The PQ codebook as the `(sub, cid, pos, ce)` DataFrame the query
    * paths and the durable index consume — built locally from the
    * trained driver arrays (no job).
    */
  private def cbFromGeo(spark: org.apache.spark.sql.SparkSession, dsub: Int,
                        subCids: Array[Array[Long]],
                        subCents: Array[Array[Array[Long]]]): DataFrame = {
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    for (s <- subCids.indices; j <- subCids(s).indices; p <- 0 until dsub)
      rows.add(org.apache.spark.sql.Row(
        s, subCids(s)(j), s * dsub + p, subCents(s)(j)(p)))
    spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("sub",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("cid",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("ce",
        org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Array-native PQ training over `(n_id, xs array<long>)` vectors:
    * the SAME seeding (the `ks` vectors at ids `[seedFrom,
    * seedFrom+ks)`, cid = id), the SAME Lloyd rounds (assign by exact
    * lattice term, ties → lowest cid; update by the sign-split integer
    * mean), the SAME surviving-cid semantics (empty cells drop out of
    * the codebook) as the former join-form `pqTrain` — hash-identical
    * by the argument on [[graft.functions.PqCodec]]. Per round the
    * cluster sums partial-aggregate map-side and only m·ks·dsub groups
    * cross the wire into a driver collect (the codebook is index
    * metadata); the corpus itself is never exchanged.
    */
  private[graft] def pqTrainVec(vecs: DataFrame, dsub: Int, m: Int, ks: Int,
                                refineIters: Int, seedFrom: Long = 0L)
      : (Array[Array[Long]], Array[Array[Array[Long]]]) = {
    val seedRows = vecs.filter(col("n_id") >= seedFrom &&
        col("n_id") < seedFrom + ks)
      .select(col("n_id"), col("xs")).collect().sortBy(_.getLong(0))
    require(seedRows.nonEmpty,
      s"PQ seed id range [$seedFrom, ${seedFrom + ks}) is unpopulated")
    var subCids: Array[Array[Long]] =
      Array.fill(m)(seedRows.map(_.getLong(0)))
    var subCents: Array[Array[Array[Long]]] = Array.tabulate(m) { s =>
      seedRows.map { r =>
        val xs = r.getSeq[Long](1)
        Array.tabulate(dsub) { p =>
          val i = s * dsub + p
          if (i < xs.length) xs(i) else 0L
        }
      }
    }
    for (_ <- 0 until refineIters) {
      val upd = vecs
        .select(pqCodes(col("xs"), dsub, subCids, subCents).as("cids"),
          posexplode(col("xs")).as(Seq("pos", "xe")))
        .filter(col("pos") < lit(m * dsub))
        .select(expr(s"CAST(pos DIV $dsub AS INT)").as("sub"), col("pos"),
          expr(s"cids[CAST(pos DIV $dsub AS INT)]").as("cid"), col("xe"))
        .groupBy(col("sub"), col("cid"), col("pos"))
        // sign-split mean: Spark DIV truncates, DuckDB // floors —
        // dividing magnitudes keeps the two equal on negative sums
        .agg(expr("CAST(sign(sum(xe)) AS BIGINT) * " +
          "(abs(sum(xe)) DIV count(1))").as("ce"))
        .collect()
      require(upd.nonEmpty, "PQ Lloyd round produced an empty codebook")
      val bySub = upd.groupBy(_.getInt(0))
      subCids = Array.tabulate(m)(s =>
        bySub.get(s).map(_.map(_.getLong(1)).distinct.sorted).getOrElse(
          throw new IllegalStateException(
            s"PQ Lloyd round emptied subspace $s")))
      subCents = Array.tabulate(m) { s =>
        val byCid = bySub(s).groupBy(_.getLong(1))
        subCids(s).map { cid =>
          val a = new Array[Long](dsub)
          byCid(cid).foreach(r => a(r.getInt(2) - s * dsub) = r.getLong(3))
          a
        }
      }
    }
    (subCids, subCents)
  }

  /** Shared PQ fit: trained per-subspace codebook and the encoded
    * corpus — see [[pqTopK]] for the full design argument. Returns
    * (cb, codes).
    *
    * Array-native (r16): the corpus checkpoints ONCE as `(n_id, xs)`
    * vectors (one row per vector, not dims); training runs through
    * [[pqTrainVec]] (seed collect + one tiny partial-aggregated update
    * per Lloyd round — the codebook is index metadata, the corpus is
    * never exchanged); codes are a map-side generate off the
    * checkpoint. Seeding note
    * (unchanged law): raw-vector fits seed from id 0; RESIDUAL fits
    * (IVFADC) must seed PAST the coarse centroids — ids < cells ARE
    * the centroids, their residuals are identically zero, and 16 zero
    * seeds collapse the Lloyd round to one surviving centroid per
    * subspace (measured r16: ADC ranks degenerate, recall@5 0.40 at
    * 2k vectors once the shortlist binds; seeding at [cells,
    * cells+ks) restores an informative codebook, 0.54 same config /
    * 0.89 unbound shortlist). Like the first-`cells` coarse rule,
    * this assumes the corpus populates the seed id range.
    */
  private[graft] def pqFit(corpus: DataFrame, key: String, vec: String,
                           dims: Int, m: Int, ks: Int, refineIters: Int)
      : (DataFrame, DataFrame) = {
    require(dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    val dsub = dims / m
    val vecs = latticeVecs(Par.fanOut(corpus.select(
      col(key).cast("long").as("n_id"), col(vec))), "n_id", vec)
      .localCheckpoint(true)
    val (subCids, subCents) = pqTrainVec(vecs, dsub, m, ks, refineIters)
    val codes = vecs.select(col("n_id"),
      posexplode(pqCodes(col("xs"), dsub, subCids, subCents))
        .as(Seq("sub", "cid")))
    (cbFromGeo(corpus.sparkSession, dsub, subCids, subCents), codes)
  }

  /** Per-cell quantization distortion of the trained PQ index: for each
    * (subspace, cell), the member count and the mean exact lattice L2
    * between member subvectors and their centroid — the quality gauge a
    * PQ deployment monitors (a cell whose distortion explodes means the
    * codebook no longer fits the data and wants retraining; an empty or
    * single-member cell means wasted code space). Same exact-integer
    * arithmetic as the fit, so the committed oracle restates it
    * verbatim and the driver hash-gates the audit.
    */
  def pqDistortion(corpus: DataFrame, key: String, vec: String,
                   dims: Int, m: Int = 8, ks: Int = 16,
                   refineIters: Int = 1): DataFrame = {
    require(dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    val dsub = dims / m
    val vecs = latticeVecs(Par.fanOut(corpus.select(
      col(key).cast("long").as("n_id"), col(vec))), "n_id", vec)
      .localCheckpoint(true)
    val (subCids, subCents) = pqTrainVec(vecs, dsub, m, ks, refineIters)
    // per-(vector, sub) assigned cid and exact squared distance to its
    // centroid in one map pass (pq_dist2 recomputes the same argmin as
    // pq_codes), then one partial-aggregated m·ks-group rollup —
    // replaces the former codes ⋈ lattice-rows ⋈ codebook join chain
    vecs.select(pqDist2(col("xs"), dsub, subCids, subCents).as("ds"),
        posexplode(pqCodes(col("xs"), dsub, subCids, subCents))
          .as(Seq("sub", "cid")))
      .select(col("sub"), col("cid"), expr("ds[sub]").as("d2"))
      .groupBy(col("sub"), col("cid"))
      .agg(count(lit(1)).as("n_members"),
        expr("sum(d2) DIV count(1)").as("avg_d2"))
      .orderBy(col("sub"), col("cid"))
  }

  def pqTopK(corpus: DataFrame, queries: DataFrame, key: String, vec: String,
             k: Int, dims: Int, m: Int = 8, ks: Int = 16,
             refineIters: Int = 1, shortlist: Int = 50): DataFrame = {
    val (cb, codes) = pqFit(corpus, key, vec, dims, m, ks, refineIters)
    val qvecs = latticeVecs(queries.select(col(key).cast("long").as("q_id"),
      col(vec)), "q_id", vec)
    // the single-cell, no-residual case of the IVFADC search: every code
    // sits in cell 0, which each query probes at rank 1 with its raw
    // vector as the residual
    adcSearch(codes.withColumn("cell_id", lit(0L)), cb,
        qvecs.select(col("q_id"), lit(0L).as("cell_id"), lit(1).as("crnk"),
          col("xs").as("rs")),
        qvecs, corpus.select(col(key).cast("long").as("n_id"), col(vec)), vec,
        dims / m, k, Seq(1), shortlist)
      .select(col("q_id"), col("n_id"), col("rnk"), col("d2"))
  }

  /** The LUT/ADC/shortlist/refine step of [[pqTopK]] and [[ivfPqSearch]].
    * `probe` `(q_id, cell_id, crnk, rs)` holds one row per (query,
    * probed cell): the cell's probe rank and the query's lattice
    * residual against the cell's centroid. `postings` are
    * `(cell_id, n_id, sub, cid)`, `qvecs` the query lattice vectors
    * `(q_id, xs)`, `corpus` the raw `(n_id, vec)` the refine reads.
    * Returns `(nprobe, q_id, n_id, rnk, d2)`: the exact-L2 top-k per
    * (width, query) for every width in `nprobes`.
    *
    * Probe sets nest (the cells of width w are the `crnk ≤ w` prefix of
    * any wider width), so one LUT, one postings join and one ADC sum
    * serve every width: a candidate's shortlist rank at width w is the
    * running count of `crnk ≤ w` candidates in (adist, n_id) order, one
    * window for all widths. The exact refine then runs once per
    * distinct (q, n) and ranks per (width, query).
    */
  private def adcSearch(postings: DataFrame, cb: DataFrame, probe: DataFrame,
                        qvecs: DataFrame, corpus: DataFrame, vec: String,
                        dsub: Int, k: Int, nprobes: Seq[Int],
                        shortlist: Int): DataFrame = {
    // the LUT is every (query, cell, sub, cid) distance term — ks·m rows
    // per probed cell, the table an ADC scan reads instead of vectors
    // (codebook norms ride the same aggregate: each group holds exactly
    // one centroid's dsub (sub, pos) rows, so the codebook is read once)
    val lut = probe
      .select(col("q_id"), col("cell_id"),
        posexplode(col("rs")).as(Seq("pos", "xe")))
      .withColumn("sub", expr(s"pos DIV $dsub").cast("int"))
      .join(broadcast(cb), Seq("sub", "pos"))
      .groupBy(col("q_id"), col("cell_id"), col("sub"), col("cid"))
      .agg(sum(col("xe") * col("ce")).as("dot"),
        sum(col("ce") * col("ce")).as("cn2"))
      .select(col("q_id"), col("cell_id"), col("sub"), col("cid"),
        (col("cn2") - col("dot") * 2L).as("term"))
    // ADC: Σ_sub term + |r|² = the exact lattice distance to the
    // reconstructed residual; headroom |xe| ≤ 2²⁵ ⇒ the sum stays under
    // 2⁵⁷ for dims ≤ 512. The (cell_id, sub, cid) equi-join is the cell
    // pruning — un-probed cells never join
    val adc = postings.join(broadcast(lut), Seq("cell_id", "sub", "cid"))
      .filter(col("q_id") =!= col("n_id"))
      .groupBy(col("q_id"), col("n_id"), col("cell_id"))
      .agg(sum(col("term")).as("t"))
      .join(broadcast(probe.select(col("q_id"), col("cell_id"), col("crnk"),
        aggregate(col("rs"), lit(0L), (acc, x) => acc + x * x).as("rn2"))),
        Seq("q_id", "cell_id"))
      .select(col("q_id"), col("n_id"), col("crnk"),
        (col("t") + col("rn2")).as("adist"))
    import org.apache.spark.sql.expressions.Window
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("adist").asc, col("n_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val widths = nprobes.distinct.sorted.map { np =>
      val probed = col("crnk") <= np
      val srnk = sum(when(probed, 1L).otherwise(0L)).over(wAdc)
      when(probed && srnk <= shortlist, lit(np))
    }
    val shortl = adc
      .select(col("q_id"), col("n_id"),
        filter(array(widths: _*), _.isNotNull).as("nps"))
      .filter(size(col("nps")) > 0)
    // Exact re-rank of the ADC shortlist (the FAISS refine stage):
    // quantized distances order a SHORTLIST reliably but not the final
    // k on near-equidistant corpora, so the last step pays the exact
    // lattice L2 once per shortlisted (q, n) — raw vectors are quantized
    // for those rows only, never the corpus
    val w = Window.partitionBy(col("nprobe"), col("q_id"))
      .orderBy(col("d2").asc, col("n_id").asc)
    corpus.join(broadcast(shortl), Seq("n_id"))
      .join(broadcast(qvecs.select(col("q_id"), col("xs").as("qxs"))),
        Seq("q_id"))
      .select(col("q_id"), col("n_id"), col("nps"),
        aggregate(zip_with(col("qxs"), lattice(col(vec)),
          (a, b) => (a - b) * (a - b)), lit(0L), _ + _).as("d2"))
      .select(explode(col("nps")).as("nprobe"), col("q_id"), col("n_id"),
        col("d2"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("nprobe"), col("q_id"), col("n_id"), col("rnk"), col("d2"))
  }

  /** Full-dim coarse lattice codebook: the first `cells` corpus
    * vectors' lattice rows, shared by the build and query paths (the
    * query side recomputes it instead of persisting — `cells` vectors
    * is a broadcast-trivial read against the frozen key order).
    */
  private def coarseLattice(rows: DataFrame, cells: Int): DataFrame =
    rows.filter(col("n_id") < cells)
      .select(col("pos"), col("n_id").as("cell_id"), col("xe").as("ce"))

  /** One-time IVFADC index BUILD — coarse assign to the first `cells`
    * corpus vectors (exact-L2 argmin, ties → lowest cell id), residuals
    * `x − c(cell)`, residual PQ train + encode — returning
    * `(postings, codebook)`: postings are `(cell_id, n_id, sub, cid)`
    * — the inverted lists, codes already grouped by their cell, the
    * durable ~50×-compressed representation of the corpus — and the
    * codebook is `(sub, cid, pos, ce)` (ks·m·dsub rows, broadcast
    * size). Together they are what an ANN index FILE contains; at
    * 100 TB this runs once per corpus snapshot and lands as a table
    * ([[graft.queries.LlmSimOps]]'s durable `_derive_ann_index`), not per
    * query.
    *
    * Degenerate-corpus behavior (ADVICE r16, intentional hardening):
    * where the pre-r16 join forms returned silently-empty codebooks or
    * assignments, the array-native path FAILS LOUD — [[pqTrainVec]]
    * throws on an unpopulated seed id range (e.g. a first slice
    * smaller than `cells + ks`), an empty Lloyd round, or an emptied
    * subspace, and the codec expressions reject vectors shorter than
    * the geometry's dims. A caller feeding a tiny or ragged corpus
    * (the streaming gate's batch 0 included) gets an exception naming
    * the violated assumption instead of an empty index.
    */
  private[graft] def ivfPqBuild(corpus: DataFrame, key: String, vec: String,
                                dims: Int, cells: Int, m: Int, ks: Int,
                                refineIters: Int): (DataFrame, DataFrame) = {
    require(dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    val dsub = dims / m
    // array-native (r16): ONE eager checkpoint of the quantized
    // vectors; coarse assign, residuals and code assignment are
    // map-side codec expressions against driver-collected geometry
    // (cells·dims + m·ks·dsub longs — index metadata, the bounded-
    // collect rule), so the build never exchanges the corpus at all —
    // the former chain paid two Exchanges per argmin plus three
    // dims×-row checkpoints
    val vecs = latticeVecs(Par.fanOut(corpus.select(
      col(key).cast("long").as("n_id"), col(vec))), "n_id", vec)
      .localCheckpoint(true)
    // 1. coarse codebook: first `cells` corpus vectors, full-dim
    val ccRows = vecs.filter(col("n_id") < cells).collect()
      .sortBy(_.getLong(0))
    val ccIds = ccRows.map(_.getLong(0))
    val ccCents = ccRows.map(_.getSeq[Long](1).toArray)
    // 2. residual vectors, the cell assignment riding alongside
    val resid = vecs
      .select(col("n_id"), cellAsg(col("xs"), ccIds, ccCents).as("cell_id"),
        col("xs"))
      .select(col("n_id"), col("cell_id"),
        cellResidual(col("xs"), col("cell_id"), ccIds, ccCents).as("xs"))
    // 3. PQ codebooks + codes over residuals — seeded PAST the coarse
    // centroids (see pqFit: centroid residuals are zero); codes carry
    // their cell to become the inverted-list postings
    val (subCids, subCents) =
      pqTrainVec(resid, dsub, m, ks, refineIters, seedFrom = cells)
    val postings = resid.select(col("cell_id"), col("n_id"),
        posexplode(pqCodes(col("xs"), dsub, subCids, subCents))
          .as(Seq("sub", "cid")))
      .select(col("cell_id"), col("n_id"), col("sub"), col("cid"))
    (postings, cbFromGeo(corpus.sparkSession, dsub, subCids, subCents))
  }

  /** IVFADC SEARCH — the one query entry point over a built index
    * (Jégou et al., §IV): [[ivfTopK]]'s coarse cell pruning fused with
    * [[pqTopK]]'s quantized-code scan, so a query touches only the codes
    * of its probed cells, and codes quantize RESIDUALS (x − coarse
    * centroid), which compress tighter than raw vectors. `postings`
    * `(cell_id, n_id, sub, cid)` and `cb` `(sub, cid, pos, ce)` come from
    * [[ivfPqBuild]] or the durable index; the raw corpus is read only
    * for the `cells` coarse centroids and the shortlist refine.
    *
    * Answers every probe width in `nprobes` from one plan, returning
    * `(nprobe, q_id, n_id, rnk, d2)` — all exact BIGINT arithmetic on
    * the 2²⁴ lattice (the [[pqFit]] discipline), so the committed oracle
    * restates each width and the driver hash-gates it:
    *  1. each query ranks every cell once by the exact term
    *     `|c|² − 2·x·c` (ties → lowest cell id), giving `crnk`, in one
    *     map-side pass ([[graft.functions.CellRanks]]) that checkpoints
    *     with the query vectors;
    *  2. per cell with `crnk ≤ max(nprobes)` the query forms its own
    *     residual, and [[adcSearch]] builds one LUT, joins the postings
    *     once, shortlists per (width, query) by (adist, n_id) and
    *     refines by exact lattice L2.
    *
    * Recall vs [[bruteForceTopKL2]] is spec-pinned in LlmOpsSpec.
    */
  def ivfPqSearch(postings: DataFrame, cb: DataFrame, corpus: DataFrame,
                  queries: DataFrame, key: String, vec: String, k: Int,
                  dims: Int, cells: Int, m: Int, nprobes: Seq[Int],
                  shortlist: Int = 50): DataFrame = {
    require(dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    require(nprobes.nonEmpty && nprobes.forall(_ > 0),
      s"nprobes ${nprobes.mkString(",")} must be positive widths")
    val dsub = dims / m
    // the coarse geometry collects once (cells·dims longs — the same
    // bounded collect the encode path pays) into the codec kernels
    val (ccIds, ccCents) = collectCoarseGeo(
      coarseFromBase(corpus, key, vec, dsub, cells), dims)
    // every cell ranked once per query in one map-side pass; the
    // checkpoint holds one row per query
    val ranked = latticeVecs(queries.select(col(key).cast("long").as("q_id"),
        col(vec)), "q_id", vec)
      .withColumn("cells", cellRanks(col("xs"), ccIds, ccCents))
      .localCheckpoint(true)
    val probe = ranked
      .select(col("q_id"), col("xs"),
        posexplode(col("cells")).as(Seq("r", "cell_id")))
      .select(col("q_id"), col("cell_id"), (col("r") + 1).as("crnk"),
        cellResidual(col("xs"), col("cell_id"), ccIds, ccCents).as("rs"))
      .filter(col("crnk") <= nprobes.max)
    adcSearch(postings, cb, probe, ranked.select(col("q_id"), col("xs")),
      corpus.select(col(key).cast("long").as("n_id"), col(vec)), vec, dsub,
      k, nprobes, shortlist)
  }

  /** Exact brute-force top-k by L2 distance — the ground truth
    * [[pqTopK]]'s recall is measured against (PQ approximates L2, not
    * cosine). Distances ride the same floored-e9 integer scale.
    */
  def bruteForceTopKL2(corpus: DataFrame, queries: DataFrame, key: String,
                       vec: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(key).cast("long").as("q_id"),
      asDouble(col(vec)).as("qv")))
    val c = Par.fanOut(corpus.select(col(key).cast("long").as("n_id"),
      asDouble(col(vec)).as("nv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d2_e9").asc, col("n_id").asc)
    q.join(c, col("q_id") =!= col("n_id"))
      .withColumn("d2_e9", floor(lit(1e9) *
        (dot(col("qv"), col("qv")) - lit(2) * dot(col("qv"), col("nv")) +
          dot(col("nv"), col("nv")))).cast("long"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk"), col("d2_e9"))
  }

  /** Approximate top-k via sign-random-projection LSH (hyperplane
    * hashing): `bands × bitsPerBand` Rademacher hyperplanes give each
    * vector a sign bit per plane ([[graft.functions.SrpBands]]); vectors
    * agreeing on ALL bits of a band land in the same bucket
    * (P[bit agree] = 1 − θ/π). Candidates come from an equi join on the
    * band-tagged bucket code — never a cross product — and are re-ranked
    * by exact cosine. Recall tunes with `bands`; `bitsPerBand` controls
    * bucket selectivity. The complement of [[ivfTopK]]: no centroid
    * pass, fully data-independent, so inserts never re-cluster — the
    * right trade for append-heavy 100 TB corpora.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, key: String, vec: String,
              k: Int, bands: Int = 16, bitsPerBand: Int = 4): DataFrame = {
    val c = banded(side(Par.fanOut(corpus.select(col(key), col(vec))),
        key, vec, "n_id", "n_vec", "n_norm"),
      bands, bitsPerBand, "n_vec", col("n_id"), col("n_vec"), col("n_norm"))
    val q = banded(side(queries, key, vec, "q_id", "q_vec", "q_norm"),
      bands, bitsPerBand, "q_vec", col("q_id"), col("q_vec"), col("q_norm"))
    val topW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    broadcast(q).join(c, Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("q_vec"), col("q_norm"),
        col("n_id"), col("n_vec"), col("n_norm"))
      // a pair can collide in several bands; duplicates are identical
      // rows, so key-only dedup is safe and avoids hashing the vectors
      .dropDuplicates(Seq("q_id", "n_id"))
      .withColumn("cos", dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
      .withColumn("rnk", row_number().over(topW))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk"),
        floor(col("cos") * 1e6).cast("long").as("cos_e6"))
  }
}
