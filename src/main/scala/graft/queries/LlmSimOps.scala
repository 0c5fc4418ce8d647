package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.ops.{Dedup, Similarity, TextStats}

/** Embedding similarity tier: SRP-banded embedding near-dup, cosine
  * top-k, hard negatives, quantization, kNN labeling, ANN (IVF + LSH),
  * and the durable fuzzy-match pair table + entity clusters.
  *
  * Section registry of [[LlmOps]] (split in round 8 purely for file
  * modularity — no behavior change; LlmOps concatenates the fragments
  * and remains the single public surface).
  */
private[queries] object LlmSimOps {
  private[queries] type Q = (SparkSession, String) => DataFrame

  /** Embedding near-dup via LSH blocking + exact cosine verify — the
    * corpus×corpus scale shape (banded equi join, never a theta join).
    * The oracle mirrors the banding bit-for-bit (same splitmix
    * hyperplanes, same left-fold dot order — the `q_dedup_simhash`
    * discipline), so the contract is "exact cosine over LSH candidates".
    * Measured against the exact all-pairs ideal on this corpus: recall
    * 0.94–0.97 at sf0.001–0.1 with ~34% candidate pairs. That is the
    * hardest possible regime — the synthetic generator plants pairs at
    * cos ∈ [0.4, 0.6] with background up to 0.3999, i.e. zero margin at
    * the 0.4 threshold, where NO complete sub-quadratic filter exists
    * (a blocking scheme admitting every pair at 0.4001 must admit
    * essentially every pair at 0.3999 too). See
    * [[Similarity.cosinePairsBlocked]].
    */
  private[queries] val qDedupEmbedding: Q = (s, d) =>
    Similarity.cosinePairsBlocked(Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.4, bands = EmbBands, bitsPerBand = EmbBits)
      .orderBy(col("vec_a"), col("vec_b"))

  /** Embedding-blocking quality evaluation: the SRP band candidate set
    * scored against exact all-pairs cosine ≥ 0.4 ground truth —
    * TP/FP/FN with precision/recall in exact ppm, the embedding-side
    * sibling of `q_dedup_eval`. Evaluates the BLOCKING stage itself
    * (the verified `q_dedup_embedding` output is trivially
    * precision-1), i.e. the number every ANN/blocking parameter sweep
    * actually optimizes. Candidates ride the bit-mirrored SRP bands;
    * truth is the all-pairs join the oracle also runs — quadratic by
    * definition, which is exactly why this is an EVAL key over the
    * corpus sample, not a production path.
    */
  private[queries] val qEmbDedupEval: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val truth = Similarity.cosinePairs(emb, "vec_id", "embedding", 0.4)
      .select(col("vec_a"), col("vec_b"), lit(1L).as("t"))
    val pred = Similarity.srpCandidatePairs(emb, "vec_id", "embedding",
        EmbBands, EmbBits)
      .select(col("vec_a"), col("vec_b"), lit(1L).as("p"))
    truth.join(pred, Seq("vec_a", "vec_b"), "full")
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

  /** LSH parameters for `q_dedup_embedding`, shared with its oracle. */
  private[queries] val EmbBands = 96

  private[queries] val EmbBits = 8

  private[queries] val qCosineTopk: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** kNN majority-vote classification: each held-out query vector
    * (vec_id < 20) takes the majority label of its 5 exact-cosine
    * nearest neighbors in the labeled remainder — the
    * label-propagation / eval-probe query of an embedding pipeline.
    * Neighbor selection rides [[Similarity.bruteForceTopK]] (broadcast
    * queries, map-side dot products); the vote is a keyed aggregate
    * with the `q_mode` composite-key tie-break (most votes, then
    * smallest label — labels < 1000 by the composite's construction).
    */
  /** Contrastive hard negatives: top-3 nearest different-label corpus
    * vectors per held-out query — see [[Similarity.hardNegatives]] for
    * why the label filter precedes the rank.
    */
  private[queries] val qHardNegatives: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.hardNegatives(emb.filter(col("vec_id") >= 20),
        emb.filter(col("vec_id") < 20), "vec_id", "embedding", "label", k = 3)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Per-label L2-norm² profile of the embedding table — the
    * broken-embedding detector (zero vectors, un-normalized batches,
    * and magnitude drift all surface as norm outliers before they
    * poison cosine math downstream). Each vector's norm² is ONE
    * map-side left fold floored to e6 (the same sequential-fold parity
    * `dot_arr`/`list_dot_product` rely on); everything after is exact
    * integer per-label aggregation.
    */
  private[queries] val qEmbNormProfile: Q = (s, d) =>
    Tables.embeddings(s, d)
      .select(col("label"),
        floor(expr("aggregate(CAST(embedding AS ARRAY<DOUBLE>), " +
          "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)") * 1e6)
          .cast("long").as("n2"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), min("n2").as("min_n2_e6"),
        max("n2").as("max_n2_e6"),
        expr("sum(n2) DIV count(1)").as("mean_n2_e6"))
      .orderBy(col("label"))

  /** Per-dimension min-max int8 quantization audit: the storage-
    * compression dry run (PQ-lite) — each dimension's range and the
    * worst-case reconstruction error of snapping values to a 256-level
    * grid. Quantization uses floor(u + 0.5), NOT round(): Spark rounds
    * doubles HALF_UP while DuckDB rounds HALF_EVEN, and the .5 edges
    * land exactly on grid midpoints here, so round() is the one
    * function that would silently diverge cross-engine. Per-element
    * errors floor to e6 BEFORE the max, keeping the aggregate
    * order-independent; constant dimensions (mx = mn) define error 0.
    */
  private[queries] val qEmbQuantize: Q = (s, d) => {
    val el = Tables.embeddings(s, d)
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
    val rng = el.groupBy("pos").agg(min("x").as("mn"), max("x").as("mx"))
    el.join(broadcast(rng), "pos")
      .withColumn("err_e6", when(col("mx") === col("mn"), lit(0L))
        .otherwise(floor(lit(1e6) * abs(col("x") -
          (col("mn") + floor((col("x") - col("mn")) /
            ((col("mx") - col("mn")) / 255.0) + 0.5) *
            ((col("mx") - col("mn")) / 255.0)))).cast("long")))
      .groupBy("pos")
      .agg(floor(min("x") * 1e6).cast("long").as("mn_e6"),
        floor(max("x") * 1e6).cast("long").as("mx_e6"),
        max("err_e6").as("max_abs_err_e6"))
      .orderBy(col("pos"))
  }

  private[queries] val qKnnLabel: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val labels = emb.select(col("vec_id"), col("label"))
    val top = Similarity.bruteForceTopK(emb.filter(col("vec_id") >= 20),
      emb.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5)
    top.join(broadcast(labels.withColumnRenamed("vec_id", "n_id")
        .withColumnRenamed("label", "n_label")), "n_id")
      .groupBy("q_id", "n_label").agg(count(lit(1)).as("votes"))
      .groupBy("q_id")
      .agg(max_by(col("n_label"), col("votes") * 1000L - col("n_label"))
        .as("pred_label"), max("votes").as("top_votes"))
      .join(broadcast(labels.withColumnRenamed("vec_id", "q_id")
        .withColumnRenamed("label", "true_label")), "q_id")
      .select(col("q_id"), col("true_label"), col("pred_label"),
        col("top_votes"))
      .orderBy("q_id")
  }

  /** Pairwise cosine between per-label centroid embeddings — the
    * class-separation / cluster-quality matrix (label-count² rows).
    * Exactness: cosine is invariant to each vector's positive scaling,
    * so the centroid sums-of-scaled-integers stand in for the means —
    * no division before the final ratio. Dot products and squared
    * norms of those BIGINT sums accumulate as DECIMAL(38,0) (Spark) /
    * HUGEINT (DuckDB): exact integers regardless of aggregation order,
    * with the single fixed float sequence at the very end. Everything
    * after the per-(label,dim) collapse is dimension×label sized.
    */
  private[queries] val qCentroidDist: Q = (s, d) => {
    val a = Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(sum(round(col("x").cast("double") * Similarity.MeanScale)
        .cast("long")).as("sx"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val n2 = a.groupBy("label").agg(sum(dec(col("sx")) * dec(col("sx"))).as("nn"))
    val dp = a.select(col("label").as("label_a"), col("pos"), col("sx").as("sxa"))
      .join(a.select(col("label").as("label_b"), col("pos"), col("sx").as("sxb")),
        "pos")
      .filter(col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(sum(dec(col("sxa")) * dec(col("sxb"))).as("dot"))
    dp.join(broadcast(n2.select(col("label").as("label_a"), col("nn").as("nna"))),
        "label_a")
      .join(broadcast(n2.select(col("label").as("label_b"), col("nn").as("nnb"))),
        "label_b")
      .select(col("label_a"), col("label_b"),
        floor(lit(1000000.0) * (col("dot").cast("double") /
          (sqrt(col("nna").cast("double")) * sqrt(col("nnb").cast("double")))))
          .cast("long").as("cos_e6"))
      .orderBy("label_a", "label_b")
  }

  /** Per-(label, dimension) embedding variance — the dimension-collapse
    * detector (a dimension whose variance pins near zero inside a class
    * carries no signal; one that explodes flags a normalization bug).
    * Moments are exact scaled-integer BIGINTs (Σx̂², at the 2²⁴ scale,
    * holds ~3·10⁴ vectors per (label,dim) before needing the
    * DECIMAL(38,0) upgrade); the variance itself is one mirrored float
    * sequence. Output is label×dimension sized.
    */
  private[queries] val qEmbVariance: Q = (s, d) => {
    val sc2 = Similarity.MeanScale * Similarity.MeanScale
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("xe", round(col("x").cast("double") * Similarity.MeanScale)
        .cast("long"))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n"), sum("xe").as("sx"),
        sum(col("xe") * col("xe")).as("sxx"))
      .select(col("label"), col("pos"), col("n"),
        floor(lit(1000000000.0) *
          ((col("sxx").cast("double") / col("n") -
            (col("sx").cast("double") / col("n")) *
              (col("sx").cast("double") / col("n"))) / lit(sc2)))
          .cast("long").as("var_e9"))
      .orderBy("label", "pos")
  }

  /** Approximate ANN (IVF) — no SQL oracle (approximate by design). */
  private[queries] val qAnnIvf: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, cells = 16, nprobe = 4)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** IVF exhaustive gate: `nprobe = cells` probes every cell, so the
    * index degenerates to exact brute force — this key is oracled
    * (rows+schema+hash against the same SQL as `q_cosine_topk`), turning
    * the approximate ANN path's correctness from spec-only into a
    * hash-checked row: the cell assignment must partition the corpus and
    * the probe/rank plumbing must lose nothing.
    */
  private[queries] val qAnnIvfExhaustive: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, cells = 16, nprobe = 16)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Quantized ANN (product quantization + ADC): the 100 TB embedding
    * tier — corpus stored as 8 codes of 4 bits each instead of 64
    * doubles, queries scan codes through a per-query lookup table.
    * Deterministic end to end (first-16 codebooks, mirrored float
    * subspace L2, integer ADC sums), so the committed SQL restates the
    * full algorithm and the driver hash-gates codebook, encode, LUT,
    * and ranking ([[graft.ops.Similarity.pqTopK]]); recall vs exact L2
    * is spec-pinned in LlmOpsSpec.
    */
  private[queries] val qAnnPq: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.pqTopK(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, dims = 64, m = 8, ks = 16)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Per-cell quantization distortion of the trained PQ index — the
    * retrain/health audit a PQ deployment runs beside the index; see
    * [[graft.ops.Similarity.pqDistortion]].
    */
  private[queries] val qPqDistortion: Q = (s, d) =>
    Similarity.pqDistortion(Tables.embeddings(s, d), "vec_id", "embedding",
      dims = 64, m = 8, ks = 16)

  /** IVFADC — coarse cell pruning composed with residual PQ, the form a
    * 100 TB deployment actually runs: the ADC scan touches only the
    * codes of the query's probed cells (vs `q_ann_pq`'s full-table
    * scan), and codes quantize residuals, which compress tighter. The
    * whole pipeline is exact lattice BIGINT arithmetic, so the
    * committed SQL restates every stage (coarse assign, residuals,
    * codebook train, probe, per-cell LUT, pruned ADC, exact refine) and
    * the driver hash-gates it; recall vs exact L2 is spec-pinned in
    * LlmOpsSpec. See [[graft.ops.Similarity.ivfPqTopK]].
    */
  private[queries] val qAnnIvfPq: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, dims = 64, cells = 16, nprobe = 4,
        m = 8, ks = 16)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** The durable IVFADC index — what an ANN index FILE contains, as a
    * [[graft.ops.DurableTable]]: inverted-list postings (kind='p':
    * cell_id, n_id, sub, cid — the ~50×-compressed corpus, codes
    * grouped by cell) and the trained residual codebook (kind='c':
    * sub, cid, pos, ce — ks·m·dsub rows, broadcast size), packed in
    * one table the way FAISS packs lists + codebooks in one file —
    * Hive-partitioned by (kind, cell_id), so the codebook read opens
    * only the kind=c files and a probe's postings read opens
    * ~nprobe/cells of the kind=p files (file-level pruning, the r12
    * layout note closed; LayoutSpec counts the files). At 100 TB the
    * build runs once per corpus snapshot (Bench's `_derive_ann_index`);
    * every query after reads the postings. Parameters are the
    * registry's standard ANN geometry (dims=64, cells=16, m=8, ks=16,
    * one Lloyd round) — a deployment would key the table by its
    * geometry.
    *
    * Read-back note: Hive partition values come from directory names,
    * so `cell_id` reads as INT and rides last in column order —
    * consumers select explicitly and cast where the column is output.
    */
  private[queries] val annIndexTable =
    new graft.ops.DurableTable("ann_index", Seq("kind", "cell_id"))

  private[graft] val annIndexDerivations = annIndexTable.derivations

  private[graft] def materializeAnnIndex(s: SparkSession, d: String): Long =
    annIndex(s, d).count()

  private[graft] def annIndex(s: SparkSession, d: String): DataFrame =
    annIndexTable(s, d) {
      val (postings, cb) = Similarity.ivfPqBuild(Tables.embeddings(s, d),
        "vec_id", "embedding", dims = 64, cells = 16, m = 8, ks = 16,
        refineIters = 1)
      postings.select(lit("p").as("kind"), col("cell_id"), col("n_id"),
          col("sub"), col("cid"), lit(null).cast("int").as("pos"),
          lit(null).cast("long").as("ce"))
        .unionByName(cb.select(lit("c").as("kind"),
          lit(null).cast("long").as("cell_id"),
          lit(null).cast("long").as("n_id"),
          col("sub"), col("cid"), col("pos"), col("ce")))
    }

  /** IVFADC through the DURABLE index — the production read path:
    * `q_ann_ivfpq` rebuilds the index inside the query (honest
    * whole-algorithm cost, like the other ANN keys); THIS key reads
    * the pre-built `_derive_ann_index` table and pays only the query
    * side (probe + per-cell LUT + pruned ADC + shortlist re-rank).
    * Same algorithm, same parameters, so the committed oracle is the
    * identical full restatement — the build/read split cannot change a
    * row without a hash mismatch — and LlmOpsSpec additionally pins
    * read ≡ rebuild row-for-row and the derivation run-once.
    */
  private[queries] val qAnnIvfPqRead: Q = (s, d) => {
    val idx = annIndex(s, d)
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 20)
    // Probe-cell selection FIRST (bounded by `cells` — index-metadata
    // scale), so the postings read carries a static partition filter:
    // the cell_id-partitioned store opens only the probed cells' files
    // instead of scanning every posting into the ADC join. Harmless to
    // results — the (cell, sub, cid) equi-join already ignores
    // un-probed cells — this is purely the I/O half of that pruning.
    // ONE probe pipeline (r17): the checkpointed probe feeds both the
    // bounded distinct-cells collect and the query plan, where the key
    // previously ran qrows/coarse-collect/terms twice (ivfPqProbeCells
    // + again inside ivfPqQuery).
    val (qrows, cc, terms) = Similarity.ivfPqProbeTerms(emb, queries,
      "vec_id", "embedding", dims = 64, cells = 16, m = 8)
    val qprobe = Similarity.probeOf(terms, nprobe = 4).localCheckpoint(true)
    val probed = Similarity.probedCellIds(qprobe)
    val postings = idx.filter(col("kind") === "p" &&
        col("cell_id").isin(probed.map(java.lang.Long.valueOf): _*))
      .select(col("cell_id"), col("n_id"), col("sub"), col("cid"))
    val cb = idx.filter(col("kind") === "c")
      .select(col("sub"), col("cid"), col("pos"), col("ce"))
    Similarity.ivfPqQueryFrom(postings, cb, emb, "vec_id", "embedding",
        k = 5, dsub = 8, qrows, cc, qprobe, shortlist = 50)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Per-cell membership of the durable IVFADC index — the BALANCE
    * audit beside `q_pq_distortion`'s quality audit: IVF probe cost is
    * proportional to the probed cells' sizes, so a hot cell (first-k
    * seeding is deliberately cheap, not balanced) means slow probes
    * and wants a re-seed/Lloyd refresh, while near-empty cells waste
    * the coarse fan-out. Reads the `_derive_ann_index` postings —
    * distinct (cell, vector) pairs ÷ the m-way code rows — never
    * re-assigning; the oracle restates the assignment from scratch, so
    * a drifted stored index is a hash mismatch.
    */
  private[queries] val qIvfPqCellStats: Q = (s, d) =>
    annIndex(s, d).filter(col("kind") === "p")
      .select(col("cell_id").cast("long").as("cell_id"), col("n_id"))
      .distinct()
      .groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("cell_id"))

  /** The delete keys' tombstone rule: vec_id ≡ 3 (mod 7) — ~14% of the
    * corpus, a pure function of the ids that both engines state (the
    * TTL/takedown batch a production index receives).
    */
  private def deleteTombstones(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") % 7 === 3)
      .select(col("vec_id").as("n_id"))

  /** IVFADC query AFTER A DELETE — the read path over the durable index
    * with a tombstone set applied ([[graft.ops.AnnIndexLifecycle]]):
    * deleted vectors' postings are hidden by one anti-join, the
    * geometry stays frozen (deletes are O(postings), never a retrain),
    * and the top-k can no longer contain a deleted id. The committed
    * oracle restates the full [[annIvfPqSql]] pipeline with the
    * tombstone predicate excluding deleted codes from the ADC — so a
    * delete that leaks a row, hides a survivor, or perturbs the
    * geometry is a hash mismatch. The physical
    * tombstone→compaction→new-version flow is spec-pinned in
    * LlmOpsSpec (tombstone-read ≡ compacted-read, old version
    * time-travels).
    */
  private[queries] val qAnnIvfPqDelete: Q = (s, d) => {
    val idx = annIndex(s, d)
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 20)
    // one probe pipeline for the partition filter AND the query plan —
    // see qAnnIvfPqRead (r17)
    val (qrows, cc, terms) = Similarity.ivfPqProbeTerms(emb, queries,
      "vec_id", "embedding", dims = 64, cells = 16, m = 8)
    val qprobe = Similarity.probeOf(terms, nprobe = 4).localCheckpoint(true)
    val probed = Similarity.probedCellIds(qprobe)
    val postings = idx.filter(col("kind") === "p" &&
        col("cell_id").isin(probed.map(java.lang.Long.valueOf): _*))
      .select(col("cell_id"), col("n_id"), col("sub"), col("cid"))
    val visible = graft.ops.AnnIndexLifecycle.applyTombstones(postings,
      deleteTombstones(s, d))
    val cb = idx.filter(col("kind") === "c")
      .select(col("sub"), col("cid"), col("pos"), col("ce"))
    Similarity.ivfPqQueryFrom(visible, cb, emb, "vec_id", "embedding",
        k = 5, dsub = 8, qrows, cc, qprobe, shortlist = 50)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Per-cell membership AFTER the delete — `q_ivfpq_cell_stats` over
    * the tombstone-applied postings: the balance audit reflects
    * removals immediately (the erasure-verification readout: a cell
    * whose count did not drop still holds a deleted vector).
    */
  private[queries] val qAnnIvfPqDeleteStats: Q = (s, d) =>
    graft.ops.AnnIndexLifecycle.applyTombstones(
        annIndex(s, d).filter(col("kind") === "p")
          .select(col("cell_id").cast("long").as("cell_id"), col("n_id"),
            col("sub"), col("cid")),
        deleteTombstones(s, d))
      .select(col("cell_id"), col("n_id")).distinct()
      .groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("cell_id"))

  /** The max/mean cell-occupancy ratio above which the retrain key's
    * trigger fires — shared with the spec. Measured post-takedown
    * imbalance on the first-k-seeded geometry: 1.18–1.38 across
    * sf0.001/0.01/0.1 (the seeding is deliberately cheap, not
    * balanced), so 1.1 fires robustly on this corpus family while a
    * genuinely balanced index (ratio → 1.0) would not.
    */
  private[graft] val RetrainMaxMeanRatio = 1.1

  /** GEOMETRY RETRAIN (r16, VERDICT r15 #2): the lifecycle op that
    * consumes the imbalance signal `q_ivfpq_cell_stats` computes.
    * Story, end to end: the durable index has absorbed the takedown
    * batch (`q_ann_ivfpq_delete`'s rule); the post-delete per-cell
    * stats show max/mean occupancy ≥ [[RetrainMaxMeanRatio]] (the key
    * REQUIREs the trigger actually fired — a balanced index must not
    * silently pay a retrain); the geometry then RETRAINS on the
    * surviving corpus via [[graft.ops.AnnIndexLifecycle
    * .retrainVersioned]] — fresh coarse seeds, fresh residual
    * codebooks, full re-encode, landed as the next version of a
    * versioned geometry store with an atomic pointer flip and the
    * superseded version vacuumed. Output is the new version's postings
    * READ BACK FROM THE STORE, and the committed oracle restates a
    * fresh build over the survivors — so the hash gate pins the whole
    * law: retrain ≡ fresh build on the surviving corpus, through the
    * versioned write/read path.
    */
  private[queries] val qAnnIvfPqRetrain: Q = (s, d) => {
    val stats = qAnnIvfPqDeleteStats(s, d)
    require(graft.ops.AnnIndexLifecycle.shouldRetrain(stats,
        RetrainMaxMeanRatio),
      s"retrain key ran on a balanced index (max/mean < $RetrainMaxMeanRatio)" +
        " — the imbalance trigger must fire before paying an O(corpus) retrain")
    val survivors = Tables.embeddings(s, d)
      .join(deleteTombstones(s, d).withColumnRenamed("n_id", "vec_id"),
        Seq("vec_id"), "left_anti")
    val path = graft.model.Scratch.dir("ann_geo_retrain", d)
    val v = graft.ops.AnnIndexLifecycle.retrainVersioned(s, path, survivors,
      "vec_id", "embedding", dims = 64, cells = 16, m = 8, ks = 16,
      refineIters = 1)
    graft.ops.Sinks.readVersioned(s, path, Some(v))
      .filter(col("kind") === "p")
      .select(col("cell_id").cast("long").as("cell_id"), col("n_id"),
        col("sub").cast("int").as("sub"), col("cid"))
      .orderBy(col("n_id"), col("sub"))
  }

  /** IVFADC index append: the LAST 10% of the corpus by vec_id (the
    * "newly-arrived" tail — cut = 9·max DIV 10, a pure function of the
    * corpus both engines state) encodes against the geometry FROZEN at
    * the base build: coarse argmin cell, residual, frozen-codebook PQ
    * argmin per subspace. Output is exactly the postings rows an
    * append RPC would write to the inverted lists — so the hash gate
    * pins cell routing AND code assignment of the write path, the
    * complement of `q_ann_ivf_incremental`'s read-path pin. See
    * [[graft.ops.Similarity.ivfPqAppend]].
    */
  private[queries] val qAnnIvfPqAppend: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val cut = emb.agg(expr("9 * max(vec_id) DIV 10").as("cut"))
    val base = emb.crossJoin(broadcast(cut))
      .filter(col("vec_id") < col("cut")).drop("cut")
    val newb = emb.crossJoin(broadcast(cut))
      .filter(col("vec_id") >= col("cut")).drop("cut")
    Similarity.ivfPqAppend(base, newb, "vec_id", "embedding", dims = 64,
        cells = 16, m = 8, ks = 16, refineIters = 1)
      .orderBy(col("n_id"), col("sub"))
  }

  /** DISTRIBUTED IVFADC index build (r15; single-scan form r16): the
    * 100 TB build story. The geometry — coarse lattice + residual PQ
    * codebooks, trained once on the base prefix (vec_id <
    * 9·max DIV 10, the append key's cut) — is broadcast-shared state;
    * the corpus partitions into four disjoint hash shards
    * (vec_id mod 4) that encode INDEPENDENTLY: the encode is a pure
    * per-vector function of (vector, frozen geometry), so once the
    * data is laid out by shard every partition is a self-contained
    * job with no cross-shard reads and no shared shuffle, and the
    * "merge" is a bag union of the per-shard postings. This is how a
    * 100 TB index is actually built: train small, broadcast the
    * geometry, encode embarrassingly parallel, concatenate inverted
    * lists.
    *
    * READ AMPLIFICATION (r16, VERDICT r15 #5): the r15 form ran four
    * separate `filter(vec_id % 4 = i)` jobs, each a fresh full table
    * scan — 4× read amplification at 100 TB unless the corpus is
    * already bucketed by the shard key. This form states the honest
    * single-scan recipe: ONE pass computes the shard key and
    * `repartition`s by it, so each resulting partition holds exactly
    * one shard's vectors and the frozen-geometry encode runs
    * shard-local from there (a deployment replaces the repartition
    * with a bucketed-by-shard layout and skips even that one
    * shuffle). Output is row-identical to the 4-scan form — the
    * committed oracle (one single-pass encode of the whole corpus
    * against the frozen fit) is UNCHANGED, and LlmOpsSpec still pins
    * union-of-independent-shard-encodes ≡ single-pass encode row for
    * row at the Similarity level, which is the shard-merge law
    * itself.
    */
  private[queries] val qAnnIvfPqShardMerge: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val cut = emb.agg(expr("9 * max(vec_id) DIV 10").as("cut"))
    val base = emb.crossJoin(broadcast(cut))
      .filter(col("vec_id") < col("cut")).drop("cut")
    val (_, cb) = Similarity.ivfPqBuild(base, "vec_id", "embedding",
      dims = 64, cells = 16, m = 8, ks = 16, refineIters = 1)
    val cc = Similarity.coarseFromBase(base, "vec_id", "embedding",
      dsub = 8, cells = 16)
    // one scan: shard key computed in-flight, corpus laid out by shard
    // (4 partitions, one per shard), encode runs per-partition against
    // the broadcast frozen geometry — no cross-shard exchange after
    // this point
    val sharded = emb
      .withColumn("shard", pmod(col("vec_id"), lit(4)))
      .repartition(4, col("shard"))
      .drop("shard")
    Similarity.ivfPqEncode(sharded, cc, cb, "vec_id", "embedding", dsub = 8)
      .orderBy(col("n_id"), col("sub"))
  }

  /** The full streaming ANN ingest: gate + frozen-geometry encode +
    * durable postings append, end to end in one replay — see
    * [[graft.streaming.AnnIngest]]. Gate parameters are the
    * `q_dedup_embedding` banding; index geometry is the registry's
    * standard (dims 64, 16 cells, m=8, ks=16, one Lloyd round).
    */
  private[queries] val qStreamAnnIngest: Q = (s, d) =>
    graft.streaming.AnnIngest.replayAnnIngest(s, d, threshold = 0.4,
      bands = EmbBands, bitsPerBand = EmbBits, dims = 64, cells = 16,
      m = 8, ks = 16, refineIters = 1)

  /** Gate parameters for the WIDE-BAND scale variant: at 96 bands × 8
    * bits (tuned for the zero-margin 0.4 threshold at corpus-sample
    * scale) two RANDOM vectors share a band with probability
    * 1 − (1 − 2⁻⁸)⁹⁶ ≈ 0.31 — the verify join is ~31% of ALL pairs,
    * a quadratic death sentence past ~10⁵ vectors. The deployment
    * configuration for a large corpus gates TRUE near-dups
    * (threshold 0.9) with few, deep bands: 16 bands × 16 bits puts the
    * background collision rate at ~16·2⁻¹⁶ ≈ 2.4·10⁻⁴ (≈5M candidate
    * pairs at 200k vectors — linear-ish in practice) while a cos ≥ 0.9
    * near-dup still collides with ~75% probability per arrival. Same
    * code, same stores, same oracle discipline — only the constants
    * move, which is exactly the knob a 100 TB deployment turns.
    */
  private[queries] val WideBands = 16
  private[queries] val WideBits = 16
  private[queries] val WideThreshold = 0.9

  /** The streaming ANN ingest at the SCALE configuration (r16, VERDICT
    * r15 #3): [[qStreamAnnIngest]]'s exact machinery — gate, frozen
    * geometry, durable postings, snapshot folds — replayed with
    * [[WideBands]]×[[WideBits]] banding at threshold [[WideThreshold]].
    * This is the variant the SF10 soak drives over the 100-fold
    * embeddings corpus (200k vectors), where the snapshot dominates
    * the store and the 96×8 gate's ~31%-of-all-pairs candidate rate
    * would be quadratic; its committed oracle states the band-collision
    * candidate rule via unnest + code equi-join (semantically identical
    * to `list_has_any`, and the form DuckDB executes at 200k vectors
    * without a nested-loop pair scan — the same banded-equi-join shape
    * the Spark side runs).
    */
  private[queries] val qStreamAnnIngestWide: Q = (s, d) =>
    graft.streaming.AnnIngest.replayAnnIngest(s, d,
      threshold = WideThreshold, bands = WideBands, bitsPerBand = WideBits,
      dims = 64, cells = 16, m = 8, ks = 16, refineIters = 1,
      ns = "ann_ingest_wide")

  /** Streaming ingest WITH A TAKEDOWN: the same replay, but after batch
    * [[graft.streaming.AnnIngest.DeleteAfterBatch]] commits, every
    * arrived id ≡ 3 (mod 7) is tombstoned — hidden from all subsequent
    * postings reads by one anti-join and physically dropped by the
    * next store compaction ([[graft.streaming.AnnIngest]]'s delete
    * path, the streaming form of `q_ann_ivfpq_delete`). Output is the
    * SURVIVING postings; the committed oracle is the full ingest
    * restatement with the tombstone predicate excluded, so a delete
    * that leaks a posting, hides a survivor, or perturbs the frozen
    * geometry is a hash mismatch.
    */
  private[queries] val qStreamAnnDelete: Q = (s, d) =>
    graft.streaming.AnnIngest.replayAnnIngestDelete(s, d, threshold = 0.4,
      bands = EmbBands, bitsPerBand = EmbBits, dims = 64, cells = 16,
      m = 8, ks = 16, refineIters = 1)

  /** END-TO-END SERVING (r15): answer top-k queries FROM the
    * stream-built, takedown-filtered store — the full vector-database
    * loop in one key. The delete replay runs the gated ingest with its
    * takedown ([[qStreamAnnDelete]]'s store), then the IVFADC read
    * path serves 20 queries from what survived: coarse probe of the
    * frozen lattice, per-(query, cell) residual LUT against the
    * codebook read from the stream's geometry store (the "index
    * file"), cell-pruned ADC over the surviving postings, exact L2
    * re-rank of the shortlist. A taken-down vector cannot appear in
    * results — it has no postings to probe — and the committed oracle
    * restates ingest + takedown + serve as ONE statement, so the
    * whole loop hash-gates.
    */
  private[queries] val qStreamAnnQuery: Q = (s, d) => {
    // the surviving postings materialize once (the recall key's
    // discipline, r17): the serve plan otherwise re-embeds the
    // store-read + tombstone-anti-join subtree at every postings
    // reference (ADC, shortlist, re-rank chain — ~215k chars of plan)
    val post = graft.streaming.AnnIngest.replayAnnIngestDelete(s, d,
      threshold = 0.4, bands = EmbBands, bitsPerBand = EmbBits, dims = 64,
      cells = 16, m = 8, ks = 16, refineIters = 1)
      .localCheckpoint(true)
    val cb = graft.streaming.AnnIngest.deleteGeometry(s, d)
    val emb = Tables.embeddings(s, d)
    Similarity.ivfPqQuery(post, cb, emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, dims = 64, cells = 16, nprobe = 4,
        m = 8, shortlist = 50)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** SERVING-STORE RECALL (r16, VERDICT r15 #1): recall@5 of the
    * stream-built, takedown-filtered store — the question a vector-DB
    * user actually asks of the index they serve from. [[qStreamAnnQuery]]
    * proves the serve loop is deterministic; THIS key measures whether
    * serving quality survives gate rejections + takedowns: the ground
    * truth is the exact-L2 top-5 over the ADMITTED-AND-SURVIVING
    * corpus (the only vectors the store can possibly return — rejected
    * and tombstoned vectors are not recall misses, they are absent by
    * contract), and the approx side is the full frozen-geometry serve
    * path over the surviving postings. Both operands are
    * deterministic, so the recall NUMBERS hash-gate (the
    * `q_ann_recall_eval` discipline applied to the streaming store);
    * the ≥0.8 quality bar is spec-pinned in LlmOpsSpec.
    */
  private[queries] val qStreamAnnRecall: Q = (s, d) => {
    val post = graft.streaming.AnnIngest.replayAnnIngestDelete(s, d,
      threshold = 0.4, bands = EmbBands, bitsPerBand = EmbBits, dims = 64,
      cells = 16, m = 8, ks = 16, refineIters = 1)
      .localCheckpoint(true)
    val cb = graft.streaming.AnnIngest.deleteGeometry(s, d)
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 20)
    // admitted-and-surviving = exactly the ids with live postings
    val survivors = emb.join(
      post.select(col("n_id").as("vec_id")).distinct(), Seq("vec_id"))
    val exact = Similarity.bruteForceTopKL2(survivors, queries,
        "vec_id", "embedding", k = 5)
      .select(col("q_id"), col("n_id"))
    val approx = Similarity.ivfPqQuery(post, cb, emb, queries,
        "vec_id", "embedding", k = 5, dims = 64, cells = 16, nprobe = 4,
        m = 8, shortlist = 50)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"),
        count(lit(1)).as("k"))
      .select(col("q_id"), col("hits"),
        expr("hits * 1000000 DIV k").as("recall_ppm"))
      .orderBy(col("q_id"))
  }

  /** Incremental IVF insert: the corpus splits into a BASE build
    * (vec_id % 10 ≠ 0) and a newly-arrived batch (vec_id % 10 = 0);
    * centroids freeze at build time over the base, the batch assigns
    * to them without refit (cost ∝ batch), and queries probe the union
    * index. Deterministic end to end, so the committed SQL restates
    * the whole maintenance path — frozen base-derived centroids,
    * one-pass union assignment, probe, mirrored-cosine re-rank — and
    * the driver hash-gates that inserts reached the right cells. See
    * [[graft.ops.Similarity.ivfTopKIncremental]].
    */
  private[queries] val qAnnIvfIncremental: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfTopKIncremental(
        emb.filter(col("vec_id") % 10 =!= 0),
        emb.filter(col("vec_id") % 10 === 0),
        emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, cells = 16, nprobe = 4)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Per-query IVFADC recall@5 vs the exact L2 brute force, IN-ENGINE —
    * the index-quality monitor an ANN deployment runs beside its index
    * (a cell gone stale or a codebook drifted shows up as a recall drop
    * long before users notice). Both operands are deterministic
    * pipelines this registry already mirrors, so even the recall
    * NUMBERS hash-gate: the committed SQL composes the full
    * [[annIvfPqSql]] restatement with the exact-L2 top-k and counts the
    * per-query overlap. Spec-level recall pins live in LlmOpsSpec; this
    * key turns the measurement itself into a hash-checked artifact
    * (the `q_dedup_eval` discipline applied to ANN).
    */
  private[queries] val qAnnRecallEval: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopKL2(emb, queries,
        "vec_id", "embedding", k = 5)
      .select(col("q_id"), col("n_id"))
    val approx = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
        k = 5, dims = 64, cells = 16, nprobe = 4, m = 8, ks = 16)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"),
        count(lit(1)).as("k"))
      // exact ppm on the k=5 grid: integer DIV, no float crosses the
      // engines (hits·10⁶ is an exact multiple of k=5)
      .select(col("q_id"), col("hits"),
        expr("hits * 1000000 DIV k").as("recall_ppm"))
      .orderBy(col("q_id"))
  }

  /** The nprobe sweep grid for `q_ann_param_sweep` — shared with its
    * oracle and the monotone-recall spec.
    */
  private[graft] val NprobeSweep = Seq(1, 2, 4, 8, 16)

  /** nprobe/recall trade-off readout — the tuning table every IVFADC
    * deployment derives before fixing nprobe: per nprobe in
    * [[NprobeSweep]] and per query, recall@5 of the durable-index read
    * path against the exact-L2 brute force. ONE brute-force pass and
    * ONE index read are shared across the whole sweep (the index is
    * never rebuilt; only the probe width varies — exactly how a real
    * parameter sweep amortizes), and every number is exact integer ppm,
    * so the committed oracle (five [[annRecallEvalSql]] restatements
    * UNION ALL'd) hash-gates the entire trade-off curve.
    */
  private[queries] val qAnnParamSweep: Q = (s, d) => {
    val idx = annIndex(s, d)
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 20)
    val postings = idx.filter(col("kind") === "p")
      .select(col("cell_id"), col("n_id"), col("sub"), col("cid"))
    val cb = idx.filter(col("kind") === "c")
      .select(col("sub"), col("cid"), col("pos"), col("ce"))
    // the ground truth is nprobe-independent: materialize once
    val exact = Similarity.bruteForceTopKL2(emb, queries,
        "vec_id", "embedding", k = 5)
      .select(col("q_id"), col("n_id"))
      .localCheckpoint(true)
    // the probe pipeline (query lattice checkpoint, coarse-geometry
    // collect, distance terms) is nprobe-INDEPENDENT: pay it once for
    // the whole sweep instead of once per width (r17) — only the
    // rank-filter differs per nprobe. The terms table (queries×cells
    // rows) checkpoints eagerly so the five branches' plans embed a
    // truncated scan instead of five copies of the terms subtree per
    // broadcast consumer (the plan was ~1 MB of text — planning time
    // itself was a cost).
    val (qrows, cc, terms0) = Similarity.ivfPqProbeTerms(emb, queries,
      "vec_id", "embedding", dims = 64, cells = 16, m = 8)
    val terms = terms0.localCheckpoint(true)
    NprobeSweep.map { np =>
      val approx = Similarity.ivfPqQueryFrom(postings, cb, emb,
          "vec_id", "embedding", k = 5, dsub = 8, qrows, cc,
          Similarity.probeOf(terms, np), shortlist = 50)
        .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("q_id", "n_id"), "left")
        .groupBy(col("q_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"),
          count(lit(1)).as("k"))
        .select(lit(np).as("nprobe"), col("q_id"), col("hits"),
          expr("hits * 1000000 DIV k").as("recall_ppm"))
    }.reduce(_.unionByName(_))
      .orderBy(col("nprobe"), col("q_id"))
  }

  /** Oracle for `q_ann_param_sweep`: the [[annRecallEvalSql]]
    * restatement once per swept nprobe, UNION ALL'd — five full IVFADC
    * pipelines in one statement, so a drift at ANY probe width is a
    * hash mismatch.
    */
  private[queries] def annParamSweepSql(dims: Int, m: Int, ks: Int,
                                        cells: Int, k: Int,
                                        nprobes: Seq[Int]): String =
    nprobes.map { np =>
      s"""SELECT $np AS nprobe, q_id, hits, recall_ppm FROM (
         |${annRecallEvalSql(dims, m, ks, cells, np, k)})""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY nprobe, q_id")

  /** Streaming embedding ingest gate — the vector-space sibling of
    * `q_stream_ingest_gate`: micro-batched vectors probe a persistent
    * SRP band index, verify by exact cosine against a persistent vector
    * store, and land admit/reject decisions with the earliest matching
    * predecessor. The oracle bit-mirrors the hyperplanes (the
    * `q_dedup_embedding` discipline) and states the decision rule as
    * one sentence, so the driver hash-proves the index probe, the
    * same-batch self-join, the verify, and the cross-batch state
    * accumulation. See [[graft.streaming.EmbGate]].
    */
  private[queries] val qStreamEmbGate: Q = (s, d) =>
    graft.streaming.EmbGate.replayEmbNearDupGate(s, d, threshold = 0.4,
      bands = EmbBands, bitsPerBand = EmbBits)

  /** Approximate ANN (hyperplane LSH) — no SQL oracle (approximate by
    * design); recall vs brute force is spec-asserted (LlmOpsSpec).
    */
  private[queries] val qAnnLsh: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, bands = 16, bitsPerBand = 4)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Blocked fuzzy match — the entity-resolution shape: a cheap blocking
    * key (brand) bounds the candidate space, an edit-distance verify
    * runs only within blocks. Never run levenshtein across the full
    * cross product; the blocking key IS the scale strategy. Threshold
    * is calibrated to the corpus: names are two-word phrases of 7–12
    * chars, so dist ≤ 2 is typo-level variance (a ≤ 10 cut measured
    * near-vacuous — 7.93M of 8.0M block pairs "matched", turning the
    * downstream match graph nearly complete). The |Δlen| ≤ 2 guard is
    * a provably-safe prefilter (length difference lower-bounds edit
    * distance) that skips the O(m·n) DP on pairs that cannot match.
    */
  /** Blocked-match pair table shared by q_fuzzy_match and
    * q_entity_clusters: (part_a, part_b, dist) with dist ≤ 2, derived
    * ONCE per (data dir) as a [[graft.ops.DurableTable]] — the verify
    * join (the banded levenshtein over the length-blocked candidates)
    * dominates both keys' cost, and at 100 TB a match-pair table is a
    * materialized asset the golden-record and review-queue jobs scan,
    * not a per-consumer recompute (the dedup cluster-map discipline).
    */
  private[queries] val matchPairTable = new graft.ops.DurableTable("match_pairs")

  /** Match-pair derivation counter, pinned run-once by LlmOpsSpec. */
  private[graft] val matchPairDerivations = matchPairTable.derivations

  /** Force the durable match-pair build (and return its row count).
    * Bench times this as its own `_derive_match_pairs` entry so both
    * consumers report steady-state read-through cost.
    */
  private[graft] def materializeMatchPairs(s: SparkSession, d: String): Long =
    matchPairs(s, d).count()

  private[queries] def matchPairs(s: SparkSession, d: String): DataFrame =
    matchPairTable(s, d) {
      val p = Tables.part(s, d)
      // VERIFY ON THE DISTINCT NAME DOMAIN, then expand to key pairs.
      // dist is a pure function of the two names, so running the DP per
      // (part_a, part_b) re-pays it once per key pair sharing the same
      // name pair — harmless when names are near-unique (sf0.1: 20k parts,
      // ~20k distinct names) but quadratic in the duplication factor on
      // a duplicate-heavy corpus (the 10-fold soak copies every name 10×:
      // verify work ×100, measured 292 s at ~SF1). Deduping first pins
      // the quadratic stage to the distinct-value domain — the entity-
      // resolution standard at 100 TB, where hot names repeat millions
      // of times — and the expansion back to keys is linear in the
      // OUTPUT, which is the job's inherent size.
      val names = p.select(col("p_brand"), col("p_name")).distinct()
      val na = names.select(col("p_brand"), col("p_name").as("name_a"))
      val nb = names.select(col("p_brand"), col("p_name").as("name_b"))
      // length-blocking as an EQUI key: side A explodes to its 5 candidate
      // lengths len±2, so the join itself enforces |Δlen| ≤ 2 — each block
      // is (brand, length)-sized instead of brand-sized, and levenshtein
      // runs on ~25× fewer pairs (edit distance ≥ |Δlen| makes this exact)
      val a2 = na.withColumn("lb",
        explode(sequence(length(col("name_a")) - 2, length(col("name_a")) + 2)))
      val b2 = nb.withColumn("lb", length(col("name_b")))
      // threshold-bounded levenshtein: the 3-arg form runs the banded
      // O(n·k) DP and bails out at distance > 2 (returns -1) instead of
      // filling the full O(n·m) matrix. The ≤ canonical name ordering
      // halves the DP work exactly like the old part_a < part_b cut, and
      // keeps the name_a = name_b diagonal (distinct KEYS sharing one
      // name are dist-0 matches).
      val namePairs = a2.join(b2, Seq("p_brand", "lb"))
        .filter(col("name_a") <= col("name_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 2))
        .filter(col("dist") >= 0)
      // Expansion: each matched (brand, name_a, name_b) fans out to all
      // key pairs carrying those names. A key pair arises from exactly
      // one unordered name pair, so no dedup pass is needed — only the
      // diagonal needs the ka < kb cut (both orientations of an equal-
      // name pair survive the ≤ filter above).
      val ka = p.select(col("p_brand"), col("p_name").as("name_a"),
        col("p_partkey").as("ka"))
      val kb = p.select(col("p_brand"), col("p_name").as("name_b"),
        col("p_partkey").as("kb"))
      namePairs.join(ka, Seq("p_brand", "name_a"))
        .join(kb, Seq("p_brand", "name_b"))
        .filter(col("name_a") =!= col("name_b") || col("ka") < col("kb"))
        .select(least(col("ka"), col("kb")).as("part_a"),
          greatest(col("ka"), col("kb")).as("part_b"), col("dist"))
    }

  private[queries] val qFuzzyMatch: Q = (s, d) =>
    matchPairs(s, d).orderBy(col("part_a"), col("part_b"))

  /** Entity resolution end-to-end: the blocked fuzzy-match pairs
    * (`q_fuzzy_match`'s brand-blocked levenshtein ≤ 2 with the
    * length-band prefilter) closed into connected components, every
    * part mapped to its canonical entity id (minimum reachable key;
    * unmatched parts canonicalize to themselves) — the master-data
    * "golden record" assignment built from the same star-contraction
    * CC the dedup pipeline uses. The blocking key bounds the verify
    * join; CC is O(log n) rounds over the match edges only — and the
    * calibrated threshold is what KEEPS that edge set sparse (the old
    * ≤ 10 cut matched 99% of block pairs, so CC ran over a
    * near-complete 8M-edge graph: 24 s at sf0.1; ≤ 2 leaves ~220k
    * true near-duplicate edges).
    */
  private[queries] val qEntityClusters: Q = (s, d) => {
    // rides the durable match-pair table — see matchPairs; CC runs over
    // the ~220k true near-duplicate edges only
    val pairs = matchPairs(s, d).select(col("part_a"), col("part_b"))
    val comp = Dedup.connectedComponentsStar(pairs, "part_a", "part_b")
      .withColumnRenamed("node", "p_partkey")
    Tables.part(s, d).select(col("p_partkey"))
      .join(comp, Seq("p_partkey"), "left")
      .select(col("p_partkey"),
        coalesce(col("component"), col("p_partkey")).as("entity_id"))
      .orderBy("p_partkey")
  }

  private[queries] val cosineCte =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)""".stripMargin

  private[queries] def cosExpr(a: String, b: String): String =
    s"""list_dot_product($a.v, $b.v) /
       |(sqrt(list_dot_product($a.v, $a.v)) * sqrt(list_dot_product($b.v, $b.v)))""".stripMargin

  /** Oracle for the LSH-blocked embedding near-dup: mirrors
    * [[graft.functions.SrpBands]] bit-for-bit. Each hyperplane appears as
    * a literal ±1 vector fed to native `list_dot_product` (sequential
    * fold, same accumulation order as `dot_arr`; ±1 multiplies are
    * exact), so the sign decisions — hence the candidate sets — agree
    * with Spark exactly. Band codes are band-tagged like SrpBands'
    * output and a pair is a candidate iff the tagged code lists
    * intersect (`list_has_any` ≡ the banded equi join). Literal vectors
    * rather than a lambda over sign masks: DuckDB executes the native
    * dot ~100× faster than interpreted nested lambdas (3.5 s vs >6 min
    * at sf0.01). `dims` is the corpus's embedding width (the oracle is
    * data-calibrated, like the LSH thresholds above).
    */
  private[queries] def embeddingBlockedSql(threshold: Double, bands: Int, bits: Int,
                                  dims: Int): String = {
    def planeLit(p: Int): String =
      (0 until dims).map(j =>
        if (graft.functions.SrpBands.positive(p, j)) "1" else "-1")
        .mkString("CAST([", ",", "] AS DOUBLE[])")
    val ct = (0 until bands).map { b =>
      val terms = (0 until bits).map { i =>
        s"(CASE WHEN list_dot_product(v, ${planeLit(b * bits + i)}) > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"${b * (1L << bits)} + $terms"
    }.mkString("[", ",\n", "]")
    s"""$cosineCte,
       |c AS (SELECT vec_id, v, $ct AS ct FROM e),
       |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |        ${cosExpr("a", "b")} AS cos
       |      FROM c a JOIN c b ON a.vec_id < b.vec_id AND list_has_any(a.ct, b.ct))
       |SELECT vec_a, vec_b, CAST(floor(cos * 1000000) AS BIGINT) AS cos_e6
       |FROM p WHERE cos >= $threshold ORDER BY vec_a, vec_b""".stripMargin
  }

  /** Merged truth⋈candidate oracle for `q_emb_dedup_eval`: the exact
    * all-pairs cosine truth and the bit-mirrored SRP band candidates
    * (same planeLit loops as [[embeddingBlockedSql]]) scored with
    * INTERSECT/EXCEPT counts.
    */
  private[queries] def embDedupEvalSql(threshold: Double, bands: Int, bits: Int,
                              dims: Int): String = {
    def planeLit(p: Int): String =
      (0 until dims).map(j =>
        if (graft.functions.SrpBands.positive(p, j)) "1" else "-1")
        .mkString("CAST([", ",", "] AS DOUBLE[])")
    val ct = (0 until bands).map { b =>
      val terms = (0 until bits).map { i =>
        s"(CASE WHEN list_dot_product(v, ${planeLit(b * bits + i)}) > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"${b * (1L << bits)} + $terms"
    }.mkString("[", ",\n", "]")
    s"""$cosineCte,
       |truth AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |      FROM e a JOIN e b ON a.vec_id < b.vec_id
       |      WHERE ${cosExpr("a", "b")} >= $threshold),
       |c AS (SELECT vec_id, $ct AS ct FROM e),
       |pred AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |      FROM c a JOIN c b ON a.vec_id < b.vec_id
       |        AND list_has_any(a.ct, b.ct)),
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

  /** Exact top-5 cosine neighbors of the query subset — the oracle for
    * both the brute-force baseline and the exhaustive IVF gate.
    */
  /** The SRP band-code list as DuckDB SQL — the [[embeddingBlockedSql]]
    * planeLit construction factored for reuse: band b's tagged code is
    * `b·2^bits + Σ bit_i·2^i` with bit_i the sign of the dot against
    * hyperplane `b·bits + i`, exactly [[graft.functions.SrpBands]].
    */
  private def srpCodeListSql(bands: Int, bits: Int, dims: Int): String = {
    def planeLit(p: Int): String =
      (0 until dims).map(j =>
        if (graft.functions.SrpBands.positive(p, j)) "1" else "-1")
        .mkString("CAST([", ",", "] AS DOUBLE[])")
    (0 until bands).map { b =>
      val terms = (0 until bits).map { i =>
        s"(CASE WHEN list_dot_product(v, ${planeLit(b * bits + i)}) > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"${b * (1L << bits)} + $terms"
    }.mkString("[", ",\n", "]")
  }

  /** Full-algorithm oracle for `q_ann_lsh`: the ANN result is
    * approximate RELATIVE TO brute force but DETERMINISTIC in itself —
    * hyperplanes are hash-derived ([[graft.functions.SrpBands]], no
    * RNG), candidate generation is a set intersection of band codes,
    * and the re-rank is the mirrored float cosine sequence — so the
    * committed SQL restates the ALGORITHM (bit-mirrored band codes via
    * [[srpCodeListSql]], `list_has_any` ≡ the banded equi join, exact
    * cosine top-k) rather than an idealized answer, and the driver's
    * hash gate pins the whole path: a plane-sign slip, a band-tag
    * collision, or a re-rank tie-break drift is a hash mismatch.
    * Recall vs brute force stays spec-pinned in LlmOpsSpec.
    */
  private[queries] def annLshSql(bands: Int, bits: Int, dims: Int, k: Int): String =
    s"""$cosineCte,
       |c AS (SELECT vec_id, v, ${srpCodeListSql(bands, bits, dims)} AS ct
       |      FROM e),
       |cand AS (SELECT DISTINCT q.vec_id AS q_id, n.vec_id AS n_id
       |      FROM c q JOIN c n ON q.vec_id < 20 AND n.vec_id <> q.vec_id
       |        AND list_has_any(q.ct, n.ct)),
       |p AS (SELECT q_id, n_id, ${cosExpr("a", "b")} AS cos
       |      FROM cand JOIN e a ON a.vec_id = cand.q_id
       |        JOIN e b ON b.vec_id = cand.n_id),
       |r AS (SELECT q_id, n_id, cos, row_number() OVER (PARTITION BY q_id
       |        ORDER BY cos DESC, n_id ASC) AS rnk FROM p)
       |SELECT q_id, n_id, rnk, CAST(floor(cos * 1000000) AS BIGINT) AS cos_e6
       |FROM r WHERE rnk <= $k ORDER BY q_id, rnk""".stripMargin

  /** Full-algorithm oracle for `q_ann_ivf` (same determinism argument
    * as [[annLshSql]]): coarse centroids are the first `cells` corpus
    * vectors in key order, every corpus vector assigns to its highest-
    * cosine cell (ties to the lowest cell id — the Spark `min_by`
    * struct order), each query probes its `nprobe` nearest cells, and
    * candidates re-rank by the mirrored exact cosine. The hash gate
    * pins assignment, probe selection, and re-rank; the exhaustive
    * nprobe=cells variant additionally pins equality with brute force.
    */
  private[queries] def annIvfSql(cells: Int, nprobe: Int, k: Int): String =
    s"""$cosineCte,
       |cents AS (SELECT vec_id AS cell_id, v FROM e
       |      ORDER BY vec_id LIMIT $cells),
       |asg AS (SELECT n_id, cell_id FROM (
       |      SELECT n.vec_id AS n_id, c.cell_id,
       |        row_number() OVER (PARTITION BY n.vec_id
       |          ORDER BY ${cosExpr("n", "c")} DESC, c.cell_id ASC) AS r
       |      FROM e n CROSS JOIN cents c) WHERE r = 1),
       |qc AS (SELECT q_id, cell_id FROM (
       |      SELECT q.vec_id AS q_id, c.cell_id,
       |        row_number() OVER (PARTITION BY q.vec_id
       |          ORDER BY ${cosExpr("q", "c")} DESC, c.cell_id ASC) AS r
       |      FROM e q CROSS JOIN cents c WHERE q.vec_id < 20)
       |      WHERE r <= $nprobe),
       |p AS (SELECT qc.q_id, asg.n_id, ${cosExpr("a", "b")} AS cos
       |      FROM qc JOIN asg USING (cell_id)
       |        JOIN e a ON a.vec_id = qc.q_id
       |        JOIN e b ON b.vec_id = asg.n_id
       |      WHERE qc.q_id <> asg.n_id),
       |r AS (SELECT q_id, n_id, cos, row_number() OVER (PARTITION BY q_id
       |        ORDER BY cos DESC, n_id ASC) AS rnk FROM p)
       |SELECT q_id, n_id, rnk, CAST(floor(cos * 1000000) AS BIGINT) AS cos_e6
       |FROM r WHERE rnk <= $k ORDER BY q_id, rnk""".stripMargin

  /** Full-algorithm oracle for `q_ann_ivf_incremental`: [[annIvfSql]]
    * with the centroids drawn from the BASE partition only
    * (vec_id % 10 ≠ 0 — the index as built before the batch arrived),
    * while assignment/probe/re-rank run over the full corpus: the
    * frozen-centroid insert is the ONLY difference from the rebuild,
    * so a refit sneaking into the insert path is a hash mismatch.
    */
  private[queries] def annIvfIncrementalSql(cells: Int, nprobe: Int,
                                            k: Int): String =
    s"""$cosineCte,
       |cents AS (SELECT vec_id AS cell_id, v FROM e
       |      WHERE vec_id % 10 <> 0
       |      ORDER BY vec_id LIMIT $cells),
       |asg AS (SELECT n_id, cell_id FROM (
       |      SELECT n.vec_id AS n_id, c.cell_id,
       |        row_number() OVER (PARTITION BY n.vec_id
       |          ORDER BY ${cosExpr("n", "c")} DESC, c.cell_id ASC) AS r
       |      FROM e n CROSS JOIN cents c) WHERE r = 1),
       |qc AS (SELECT q_id, cell_id FROM (
       |      SELECT q.vec_id AS q_id, c.cell_id,
       |        row_number() OVER (PARTITION BY q.vec_id
       |          ORDER BY ${cosExpr("q", "c")} DESC, c.cell_id ASC) AS r
       |      FROM e q CROSS JOIN cents c WHERE q.vec_id < 20)
       |      WHERE r <= $nprobe),
       |p AS (SELECT qc.q_id, asg.n_id, ${cosExpr("a", "b")} AS cos
       |      FROM qc JOIN asg USING (cell_id)
       |        JOIN e a ON a.vec_id = qc.q_id
       |        JOIN e b ON b.vec_id = asg.n_id
       |      WHERE qc.q_id <> asg.n_id),
       |r AS (SELECT q_id, n_id, cos, row_number() OVER (PARTITION BY q_id
       |        ORDER BY cos DESC, n_id ASC) AS rnk FROM p)
       |SELECT q_id, n_id, rnk, CAST(floor(cos * 1000000) AS BIGINT) AS cos_e6
       |FROM r WHERE rnk <= $k ORDER BY q_id, rnk""".stripMargin

  /** Full-algorithm oracle for `q_ann_pq` (the [[annLshSql]]/[[annIvfSql]]
    * argument applied to product quantization): the whole pipeline lives
    * on the 2²⁴ integer lattice — quantize once, then codebook seeding,
    * the Lloyd training round (argmin by `|c|² − 2·x·c`, ties to the
    * lowest centroid id; update by sign-split integer means — the
    * kmeansFitCtes idiom with an extra `sub` grouping), the encode, the
    * query lookup table, and the cross-subspace ADC sum are all exact
    * BIGINT arithmetic, so a seeding slip, a tie-break drift, a mean
    * rounding mismatch, or a dropped subspace is a hash mismatch.
    */
  /** The PQ fit (lattice, seed, one Lloyd round, encode) as shared
    * DuckDB CTEs — [[annPqSql]] appends the ADC/re-rank stages,
    * [[annPqDistortionSql]] the per-cell quantization audit.
    */
  private def pqFitCtes(dims: Int, m: Int, ks: Int): String = {
    val dsub = dims / m
    s"""${latticeCte(dsub)},
       |c0 AS (SELECT sub, pos, vec_id AS cid, xe AS ce FROM r
       |    WHERE vec_id < $ks),
       |cn0 AS (SELECT sub, cid, CAST(sum(ce * ce) AS BIGINT) AS cn2
       |    FROM c0 GROUP BY 1, 2),
       |d0 AS (SELECT r.vec_id, r.sub, c0.cid,
       |      CAST(sum(r.xe * c0.ce) AS BIGINT) AS dot
       |    FROM r JOIN c0 ON r.sub = c0.sub AND r.pos = c0.pos
       |    GROUP BY 1, 2, 3),
       |a0 AS (SELECT vec_id, sub, cid FROM (SELECT d0.vec_id, d0.sub, d0.cid,
       |      row_number() OVER (PARTITION BY d0.vec_id, d0.sub
       |        ORDER BY cn2 - 2 * dot ASC, d0.cid ASC) AS rn
       |    FROM d0 JOIN cn0 ON d0.sub = cn0.sub AND d0.cid = cn0.cid)
       |    WHERE rn = 1),
       |c1 AS MATERIALIZED (SELECT r.sub, a0.cid, r.pos,
       |      CAST(sign(sum(xe)) AS BIGINT) *
       |        (abs(CAST(sum(xe) AS BIGINT)) // count(*)) AS ce
       |    FROM r JOIN a0 ON r.vec_id = a0.vec_id AND r.sub = a0.sub
       |    GROUP BY 1, 2, 3),
       |cn1 AS (SELECT sub, cid, CAST(sum(ce * ce) AS BIGINT) AS cn2
       |    FROM c1 GROUP BY 1, 2),
       |d1 AS (SELECT r.vec_id, r.sub, c1.cid,
       |      CAST(sum(r.xe * c1.ce) AS BIGINT) AS dot
       |    FROM r JOIN c1 ON r.sub = c1.sub AND r.pos = c1.pos
       |    GROUP BY 1, 2, 3),
       |codes AS (SELECT vec_id AS n_id, sub, cid FROM (
       |    SELECT d1.vec_id, d1.sub, d1.cid,
       |      row_number() OVER (PARTITION BY d1.vec_id, d1.sub
       |        ORDER BY cn2 - 2 * dot ASC, d1.cid ASC) AS rn
       |    FROM d1 JOIN cn1 ON d1.sub = cn1.sub AND d1.cid = cn1.cid)
       |    WHERE rn = 1)""".stripMargin
  }

  private[queries] def annPqSql(dims: Int, m: Int, ks: Int, k: Int,
                                shortlist: Int = 50): String = {
    s"""WITH ${pqFitCtes(dims, m, ks)},
       |qn2 AS (SELECT vec_id AS q_id, CAST(sum(xe * xe) AS BIGINT) AS qn2
       |    FROM r WHERE vec_id < 20 GROUP BY 1),
       |lut AS (SELECT d1.vec_id AS q_id, d1.sub, d1.cid,
       |      cn2 - 2 * dot AS term
       |    FROM d1 JOIN cn1 ON d1.sub = cn1.sub AND d1.cid = cn1.cid
       |    WHERE d1.vec_id < 20),
       |adc AS (SELECT q_id, n_id,
       |      CAST(sum(term) AS BIGINT) AS t
       |    FROM codes JOIN lut USING (sub, cid)
       |    WHERE q_id <> n_id GROUP BY 1, 2),
       |shortl AS (SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
       |        ORDER BY t + qn2 ASC, n_id ASC) AS srnk
       |    FROM adc JOIN qn2 USING (q_id)) WHERE srnk <= $shortlist),
       |nn2 AS (SELECT vec_id AS n_id, CAST(sum(xe * xe) AS BIGINT) AS nn2
       |    FROM r GROUP BY 1),
       |pd AS (SELECT s.q_id, s.n_id,
       |      CAST(sum(rn.xe * rq.xe) AS BIGINT) AS dot
       |    FROM shortl s
       |    JOIN r rn ON rn.vec_id = s.n_id
       |    JOIN r rq ON rq.vec_id = s.q_id AND rq.pos = rn.pos
       |    GROUP BY 1, 2),
       |f AS (SELECT q_id, n_id,
       |      CAST(qn2 - 2 * dot + nn2 AS BIGINT) AS d2,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY qn2 - 2 * dot + nn2 ASC, n_id ASC) AS rnk
       |    FROM pd JOIN qn2 USING (q_id) JOIN nn2 USING (n_id))
       |SELECT q_id, n_id, rnk, d2
       |FROM f WHERE rnk <= $k ORDER BY q_id, rnk""".stripMargin
  }

  /** Oracle for `q_pq_distortion`: the shared fit CTEs plus the exact
    * per-cell mean lattice L2 between members and their centroid —
    * all BIGINT (the `//` mean mirrors Spark's DIV on the non-negative
    * distortion sum).
    */
  private[queries] def annPqDistortionSql(dims: Int, m: Int, ks: Int): String =
    s"""WITH ${pqFitCtes(dims, m, ks)},
       |dist AS (SELECT codes.n_id, codes.sub, codes.cid,
       |      CAST(sum((r.xe - c1.ce) * (r.xe - c1.ce)) AS BIGINT) AS d2
       |    FROM codes
       |    JOIN r ON r.vec_id = codes.n_id AND r.sub = codes.sub
       |    JOIN c1 ON c1.sub = codes.sub AND c1.cid = codes.cid
       |      AND c1.pos = r.pos
       |    GROUP BY 1, 2, 3)
       |SELECT sub, cid, CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(sum(d2) // count(*) AS BIGINT) AS avg_d2
       |FROM dist GROUP BY 1, 2 ORDER BY sub, cid""".stripMargin

  /** Full-algorithm oracle for `q_ann_ivfpq` (IVFADC): every stage of
    * [[graft.ops.Similarity.ivfPqTopK]] restated on the same 2²⁴
    * integer lattice — coarse first-`cells` centroids and exact-L2
    * argmin assignment, residual rows, the residual PQ fit (seed + one
    * Lloyd round + encode, the [[pqFitCtes]] chain reading residuals),
    * per-(query, probed-cell) residual LUTs, the cell-pruned ADC sum,
    * and the exact re-rank — all BIGINT, so a probe-selection slip, a
    * residual sign error, a cross-cell ADC leak, or a tie-break drift
    * is a hash mismatch.
    */
  /** The IVFADC coarse stage as shared CTEs — lattice rows `r`, the
    * full-dim coarse codebook `cc`, exact cell terms `ct`, and the
    * corpus cell assignment `casg` — reused verbatim by
    * [[annIvfPqSql]] and [[ivfPqCellStatsSql]] so the assignment rule
    * has ONE statement.
    */
  private def ivfCoarseCtes(dims: Int, dsub: Int, cells: Int,
                            where: String = ""): String =
    s"""${latticeCte(dsub, where)},
       |cc AS MATERIALIZED (SELECT pos, vec_id AS cell, xe AS ce FROM r
       |    WHERE vec_id < $cells),
       |ccn AS (SELECT cell, CAST(sum(ce * ce) AS BIGINT) AS cn2
       |    FROM cc GROUP BY 1),
       |ct AS MATERIALIZED (SELECT cd.vec_id, cd.cell, cn2 - 2 * dot AS term
       |    FROM (SELECT r.vec_id, cc.cell,
       |            CAST(sum(r.xe * cc.ce) AS BIGINT) AS dot
       |          FROM r JOIN cc ON cc.pos = r.pos GROUP BY 1, 2) cd
       |    JOIN ccn ON ccn.cell = cd.cell),
       |casg AS MATERIALIZED (SELECT vec_id AS n_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |        ORDER BY term ASC, cell ASC) AS rn FROM ct) WHERE rn = 1)""".stripMargin

  private[queries] def annIvfPqSql(dims: Int, m: Int, ks: Int, cells: Int,
                                   nprobe: Int, k: Int,
                                   shortlist: Int = 50,
                                   delete: Option[String] = None): String = {
    // `delete`: a predicate over codes.n_id marking TOMBSTONED vectors
    // — excluded from the ADC scan (the q_ann_ivfpq_delete oracle:
    // geometry/codebook CTEs untouched, only visibility changes)
    val delPred = delete.map(p => s" AND NOT ($p)").getOrElse("")
    val dsub = dims / m
    s"""WITH ${ivfCoarseCtes(dims, dsub, cells)},
       |qprobe AS (SELECT vec_id AS q_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |        ORDER BY term ASC, cell ASC) AS rn FROM ct
       |    WHERE vec_id < 20) WHERE rn <= $nprobe),
       |${residualFitCtes(ks, cells)},
       |qr AS MATERIALIZED (SELECT r.vec_id AS q_id, qprobe.cell, r.sub,
       |      r.pos, r.xe - cc.ce AS xe
       |    FROM r JOIN qprobe ON qprobe.q_id = r.vec_id
       |    JOIN cc ON cc.cell = qprobe.cell AND cc.pos = r.pos),
       |qrn2 AS (SELECT q_id, cell, CAST(sum(xe * xe) AS BIGINT) AS rn2
       |    FROM qr GROUP BY 1, 2),
       |lut AS (SELECT qd.q_id, qd.cell, qd.sub, qd.cid,
       |      cn2 - 2 * dot AS term
       |    FROM (SELECT qr.q_id, qr.cell, c1.sub, c1.cid,
       |            CAST(sum(qr.xe * c1.ce) AS BIGINT) AS dot
       |          FROM qr JOIN c1 ON c1.sub = qr.sub AND c1.pos = qr.pos
       |          GROUP BY 1, 2, 3, 4) qd
       |    JOIN cn1 ON cn1.sub = qd.sub AND cn1.cid = qd.cid),
       |adc AS (SELECT lut.q_id, codes.n_id, casg.cell,
       |      CAST(sum(term) AS BIGINT) AS t
       |    FROM codes JOIN casg USING (n_id)
       |    JOIN lut ON lut.cell = casg.cell AND lut.sub = codes.sub
       |      AND lut.cid = codes.cid
       |    WHERE lut.q_id <> codes.n_id$delPred GROUP BY 1, 2, 3),
       |shortl AS (SELECT q_id, n_id FROM (
       |    SELECT adc.q_id, adc.n_id, row_number() OVER (PARTITION BY adc.q_id
       |        ORDER BY t + rn2 ASC, n_id ASC) AS srnk
       |    FROM adc JOIN qrn2 ON qrn2.q_id = adc.q_id
       |      AND qrn2.cell = adc.cell) WHERE srnk <= $shortlist),
       |qn2 AS (SELECT vec_id AS q_id, CAST(sum(xe * xe) AS BIGINT) AS qn2
       |    FROM r WHERE vec_id < 20 GROUP BY 1),
       |nn2 AS (SELECT vec_id AS n_id, CAST(sum(xe * xe) AS BIGINT) AS nn2
       |    FROM r GROUP BY 1),
       |pd AS (SELECT s.q_id, s.n_id,
       |      CAST(sum(rn.xe * rq.xe) AS BIGINT) AS dot
       |    FROM shortl s
       |    JOIN r rn ON rn.vec_id = s.n_id
       |    JOIN r rq ON rq.vec_id = s.q_id AND rq.pos = rn.pos
       |    GROUP BY 1, 2),
       |f AS (SELECT q_id, n_id,
       |      CAST(qn2 - 2 * dot + nn2 AS BIGINT) AS d2,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY qn2 - 2 * dot + nn2 ASC, n_id ASC) AS rnk
       |    FROM pd JOIN qn2 USING (q_id) JOIN nn2 USING (n_id))
       |SELECT q_id, n_id, rnk, d2
       |FROM f WHERE rnk <= $k ORDER BY q_id, rnk""".stripMargin
  }

  /** The residual-PQ fit over the coarse-assigned lattice (`r`, `casg`,
    * `cc` from [[ivfCoarseCtes]]): residual rows `rr`, `ks` seeds drawn
    * at `[cells, cells + ks)` — PAST the coarse centroids, whose own
    * residuals are identically zero (the r16 degenerate-codebook fix,
    * mirrored in [[graft.ops.Similarity.pqTrain]]) — one Lloyd round,
    * and the final `codes`; factored so the full-index pipeline
    * ([[annIvfPqSql]]) and the retrain-rebuild oracle
    * ([[annIvfPqRebuildSql]]) state the fit ONCE.
    */
  private def residualFitCtes(ks: Int, cells: Int): String =
    s"""rr AS MATERIALIZED (SELECT r.vec_id, r.sub, r.pos,
       |      r.xe - cc.ce AS xe
       |    FROM r JOIN casg ON casg.n_id = r.vec_id
       |    JOIN cc ON cc.cell = casg.cell AND cc.pos = r.pos),
       |c0 AS (SELECT sub, pos, vec_id AS cid, xe AS ce FROM rr
       |    WHERE vec_id >= $cells AND vec_id < ${cells + ks}),
       |cn0 AS (SELECT sub, cid, CAST(sum(ce * ce) AS BIGINT) AS cn2
       |    FROM c0 GROUP BY 1, 2),
       |d0 AS (SELECT rr.vec_id, rr.sub, c0.cid,
       |      CAST(sum(rr.xe * c0.ce) AS BIGINT) AS dot
       |    FROM rr JOIN c0 ON rr.sub = c0.sub AND rr.pos = c0.pos
       |    GROUP BY 1, 2, 3),
       |a0 AS (SELECT vec_id, sub, cid FROM (SELECT d0.vec_id, d0.sub, d0.cid,
       |      row_number() OVER (PARTITION BY d0.vec_id, d0.sub
       |        ORDER BY cn2 - 2 * dot ASC, d0.cid ASC) AS rn
       |    FROM d0 JOIN cn0 ON d0.sub = cn0.sub AND d0.cid = cn0.cid)
       |    WHERE rn = 1),
       |c1 AS MATERIALIZED (SELECT rr.sub, a0.cid, rr.pos,
       |      CAST(sign(sum(xe)) AS BIGINT) *
       |        (abs(CAST(sum(xe) AS BIGINT)) // count(*)) AS ce
       |    FROM rr JOIN a0 ON rr.vec_id = a0.vec_id AND rr.sub = a0.sub
       |    GROUP BY 1, 2, 3),
       |cn1 AS (SELECT sub, cid, CAST(sum(ce * ce) AS BIGINT) AS cn2
       |    FROM c1 GROUP BY 1, 2),
       |d1 AS (SELECT rr.vec_id, rr.sub, c1.cid,
       |      CAST(sum(rr.xe * c1.ce) AS BIGINT) AS dot
       |    FROM rr JOIN c1 ON rr.sub = c1.sub AND rr.pos = c1.pos
       |    GROUP BY 1, 2, 3),
       |codes AS MATERIALIZED (SELECT vec_id AS n_id, sub, cid FROM (
       |    SELECT d1.vec_id, d1.sub, d1.cid,
       |      row_number() OVER (PARTITION BY d1.vec_id, d1.sub
       |        ORDER BY cn2 - 2 * dot ASC, d1.cid ASC) AS rn
       |    FROM d1 JOIN cn1 ON d1.sub = cn1.sub AND d1.cid = cn1.cid)
       |    WHERE rn = 1)""".stripMargin

  /** Oracle for `q_ann_ivfpq_retrain`: a FRESH IVFADC build restated
    * over the survivor corpus only (`where` excludes the tombstoned
    * ids) — coarse seeds and PQ seeds alike are drawn from the
    * survivors, exactly what [[graft.ops.AnnIndexLifecycle
    * .retrainVersioned]]'s in-engine rebuild does. The hash gate IS the
    * law post-retrain index ≡ fresh build on the surviving corpus.
    */
  private[queries] def annIvfPqRebuildSql(dims: Int, m: Int, ks: Int,
                                          cells: Int,
                                          where: String): String =
    s"""WITH ${ivfCoarseCtes(dims, dims / m, cells, where)},
       |${residualFitCtes(ks, cells)}
       |SELECT casg.cell AS cell_id, codes.n_id,
       |  CAST(codes.sub AS INT) AS sub, codes.cid
       |FROM codes JOIN casg USING (n_id)
       |ORDER BY n_id, sub""".stripMargin

  /** The 2²⁴-lattice rows CTE `r` over embeddings — the opening
    * statement every PQ-family oracle shares. `where` optionally
    * restricts the corpus (the retrain oracle's survivor filter).
    */
  private def latticeCte(dsub: Int, where: String = ""): String =
    s"""r AS MATERIALIZED (SELECT vec_id,
       |      (generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1)
       |        // $dsub AS sub,
       |      generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1 AS pos,
       |      CAST(round(unnest(CAST(embedding AS DOUBLE[])) * 16777216.0)
       |        AS BIGINT) AS xe
       |    FROM embeddings${if (where.isEmpty) "" else s"\n    WHERE $where"})""".stripMargin

  /** Frozen-geometry IVFADC FIT over the base CTE `rb`: coarse codebook
    * `cc` from rb's first `cells` ids, base cell assignment, base
    * residuals, PQ seed + one Lloyd round → the frozen `c1`/`cn1`.
    * Shared verbatim by [[annIvfPqAppendSql]] and
    * [[streamAnnIngestSql]] (the ADVICE r12 de-duplication: ONE
    * statement of the frozen-fit rule).
    */
  private def frozenFitCtes(ks: Int, cells: Int): String =
    s"""cc AS MATERIALIZED (SELECT pos, vec_id AS cell, xe AS ce FROM rb
       |    WHERE vec_id < $cells),
       |ccn AS (SELECT cell, CAST(sum(ce * ce) AS BIGINT) AS cn2
       |    FROM cc GROUP BY 1),
       |ctb AS (SELECT cd.vec_id, cd.cell, cn2 - 2 * dot AS term
       |    FROM (SELECT rb.vec_id, cc.cell,
       |            CAST(sum(rb.xe * cc.ce) AS BIGINT) AS dot
       |          FROM rb JOIN cc ON cc.pos = rb.pos GROUP BY 1, 2) cd
       |    JOIN ccn ON ccn.cell = cd.cell),
       |casgb AS MATERIALIZED (SELECT vec_id AS n_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |        ORDER BY term ASC, cell ASC) AS rn FROM ctb) WHERE rn = 1),
       |rrb AS MATERIALIZED (SELECT rb.vec_id, rb.sub, rb.pos,
       |      rb.xe - cc.ce AS xe
       |    FROM rb JOIN casgb ON casgb.n_id = rb.vec_id
       |    JOIN cc ON cc.cell = casgb.cell AND cc.pos = rb.pos),
       |c0 AS (SELECT sub, pos, vec_id AS cid, xe AS ce FROM rrb
       |    WHERE vec_id >= $cells AND vec_id < ${cells + ks}),
       |cn0 AS (SELECT sub, cid, CAST(sum(ce * ce) AS BIGINT) AS cn2
       |    FROM c0 GROUP BY 1, 2),
       |d0 AS (SELECT rrb.vec_id, rrb.sub, c0.cid,
       |      CAST(sum(rrb.xe * c0.ce) AS BIGINT) AS dot
       |    FROM rrb JOIN c0 ON rrb.sub = c0.sub AND rrb.pos = c0.pos
       |    GROUP BY 1, 2, 3),
       |a0 AS (SELECT vec_id, sub, cid FROM (SELECT d0.vec_id, d0.sub, d0.cid,
       |      row_number() OVER (PARTITION BY d0.vec_id, d0.sub
       |        ORDER BY cn2 - 2 * dot ASC, d0.cid ASC) AS rn
       |    FROM d0 JOIN cn0 ON d0.sub = cn0.sub AND d0.cid = cn0.cid)
       |    WHERE rn = 1),
       |c1 AS MATERIALIZED (SELECT rrb.sub, a0.cid, rrb.pos,
       |      CAST(sign(sum(xe)) AS BIGINT) *
       |        (abs(CAST(sum(xe) AS BIGINT)) // count(*)) AS ce
       |    FROM rrb JOIN a0 ON rrb.vec_id = a0.vec_id AND rrb.sub = a0.sub
       |    GROUP BY 1, 2, 3),
       |cn1 AS (SELECT sub, cid, CAST(sum(ce * ce) AS BIGINT) AS cn2
       |    FROM c1 GROUP BY 1, 2)""".stripMargin

  /** ENCODE of the lattice-row CTE `src` against the frozen geometry
    * (`cc`/`ccn`/`c1`/`cn1` from [[frozenFitCtes]]): coarse argmin cell,
    * residual, frozen-codebook argmin per subspace — ending in the
    * postings SELECT an append RPC would write. Shared by the append
    * and stream-ingest oracles.
    */
  private def frozenEncodeSql(src: String): String =
    s"""${frozenEncodeCtes(src)}
       |SELECT casg_e.cell AS cell_id, enc_e.vec_id AS n_id,
       |  CAST(enc_e.sub AS INT) AS sub, enc_e.cid
       |FROM enc_e JOIN casg_e ON casg_e.n_id = enc_e.vec_id
       |ORDER BY n_id, sub""".stripMargin

  /** [[frozenEncodeSql]]'s CTE chain without the final postings SELECT
    * — for oracles that keep composing past the encode (the
    * stream-served query restatement joins the encoded postings to a
    * probe/ADC/re-rank chain).
    */
  private def frozenEncodeCtes(src: String): String =
    s"""ct_e AS (SELECT cd.vec_id, cd.cell, cn2 - 2 * dot AS term
       |    FROM (SELECT $src.vec_id, cc.cell,
       |            CAST(sum($src.xe * cc.ce) AS BIGINT) AS dot
       |          FROM $src JOIN cc ON cc.pos = $src.pos GROUP BY 1, 2) cd
       |    JOIN ccn ON ccn.cell = cd.cell),
       |casg_e AS MATERIALIZED (SELECT vec_id AS n_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |        ORDER BY term ASC, cell ASC) AS rw FROM ct_e) WHERE rw = 1),
       |rr_e AS (SELECT $src.vec_id, $src.sub, $src.pos,
       |      $src.xe - cc.ce AS xe
       |    FROM $src JOIN casg_e ON casg_e.n_id = $src.vec_id
       |    JOIN cc ON cc.cell = casg_e.cell AND cc.pos = $src.pos),
       |d_e AS (SELECT rr_e.vec_id, rr_e.sub, c1.cid,
       |      CAST(sum(rr_e.xe * c1.ce) AS BIGINT) AS dot
       |    FROM rr_e JOIN c1 ON rr_e.sub = c1.sub AND rr_e.pos = c1.pos
       |    GROUP BY 1, 2, 3),
       |enc_e AS (SELECT vec_id, sub, cid FROM (SELECT d_e.vec_id, d_e.sub,
       |      d_e.cid, row_number() OVER (PARTITION BY d_e.vec_id, d_e.sub
       |        ORDER BY cn2 - 2 * dot ASC, d_e.cid ASC) AS rw
       |    FROM d_e JOIN cn1 ON d_e.sub = cn1.sub AND d_e.cid = cn1.cid)
       |    WHERE rw = 1)""".stripMargin

  /** Full-algorithm oracle for `q_ann_ivfpq_append`: the base-build
    * fit (coarse codebook from the base prefix, base residuals, one
    * Lloyd round — [[frozenFitCtes]] over vec_id < cut) followed by
    * the encode of the tail batch against the FROZEN c1/cn1
    * ([[frozenEncodeSql]]) — a retrain sneaking into the append path,
    * a mis-routed cell, or a code tie-break drift is a hash mismatch.
    */
  private[queries] def annIvfPqAppendSql(dims: Int, m: Int, ks: Int,
                                         cells: Int): String = {
    val dsub = dims / m
    s"""WITH mx AS (SELECT 9 * max(vec_id) // 10 AS cut FROM embeddings),
       |${latticeCte(dsub)},
       |rb AS MATERIALIZED (SELECT r.* FROM r, mx WHERE r.vec_id < mx.cut),
       |rt AS MATERIALIZED (SELECT r.* FROM r, mx WHERE r.vec_id >= mx.cut),
       |${frozenFitCtes(ks, cells)},
       |${frozenEncodeSql("rt")}""".stripMargin
  }

  /** Full-algorithm oracle for `q_ann_ivfpq_shard_merge`: the
    * base-prefix fit ([[frozenFitCtes]] over vec_id < cut, cut =
    * 9·max DIV 10 — the append key's rule) followed by ONE single-pass
    * encode of the ENTIRE corpus against the frozen geometry. The
    * Spark side builds the index as four independent hash shards and
    * unions their postings; equality against this one-pass statement
    * is exactly the distributed-build law (a posting is a pure
    * per-vector function of the frozen geometry, so shard boundaries
    * cannot show).
    */
  private[queries] def annIvfPqShardMergeSql(dims: Int, m: Int, ks: Int,
                                             cells: Int): String = {
    val dsub = dims / m
    s"""WITH mx AS (SELECT 9 * max(vec_id) // 10 AS cut FROM embeddings),
       |${latticeCte(dsub)},
       |rb AS MATERIALIZED (SELECT r.* FROM r, mx WHERE r.vec_id < mx.cut),
       |${frozenFitCtes(ks, cells)},
       |${frozenEncodeSql("r")}""".stripMargin
  }

  /** Full-algorithm oracle for `q_stream_ann_ingest`: the gate rule
    * ([[streamEmbGateSql]]'s bit-mirrored banding + exact cosine,
    * reduced to the rejected set) composed with the frozen-geometry
    * encode ([[frozenFitCtes]] with the cut at the first slice —
    * `slices` is interpolated from [[graft.streaming.GateStores.Slices]]
    * so the fixture and the oracle state the ONE slice rule — and
    * [[frozenEncodeSql]] over every ADMITTED vector): one statement
    * covering gate decisions, geometry training, cell routing, and
    * code assignment end to end.
    */
  private[queries] def streamAnnIngestSql(threshold: Double, bands: Int,
                                          bits: Int, dims: Int, m: Int,
                                          ks: Int, cells: Int,
                                          slices: Int,
                                          rejExclude: String = ""): String = {
    val dsub = dims / m
    s"""WITH mx AS (SELECT max(vec_id) // $slices + 1 AS cut FROM embeddings),
       |${streamGateCtes(threshold, bands, bits, dims, rejExclude)},
       |${latticeCte(dsub)},
       |rb AS MATERIALIZED (SELECT r.* FROM r, mx WHERE r.vec_id < mx.cut),
       |${frozenFitCtes(ks, cells)},
       |ra AS MATERIALIZED (SELECT r.* FROM r
       |    JOIN adm ON adm.vec_id = r.vec_id),
       |${frozenEncodeSql("ra")}""".stripMargin
  }

  /** The streaming embedding gate's decision rule as a CTE chain ending
    * in `adm` (the admitted ids) — shared by the ingest, delete, and
    * served-query oracles so the one-sentence gate statement cannot
    * drift between them. `rejExclude` is the delete path's
    * erased-predecessor exclusion.
    */
  private def streamGateCtes(threshold: Double, bands: Int, bits: Int,
                             dims: Int, rejExclude: String): String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |    FROM embeddings),
       |cg AS MATERIALIZED (SELECT vec_id, v,
       |      ${srpCodeListSql(bands, bits, dims)} AS ct FROM e),
       |rej AS (SELECT DISTINCT b.vec_id
       |    FROM cg a JOIN cg b ON a.vec_id < b.vec_id
       |      AND list_has_any(a.ct, b.ct)
       |    WHERE ${cosExpr("a", "b")} >= $threshold$rejExclude),
       |adm AS (SELECT e.vec_id FROM e LEFT JOIN rej USING (vec_id)
       |    WHERE rej.vec_id IS NULL)""".stripMargin

  /** The streaming embedding gate's decision rule in the SCALABLE
    * candidate form: band codes unnest to `(vec_id, code)` rows and
    * candidates come from a DISTINCT code equi-join — semantically
    * identical to [[streamGateCtes]]'s `list_has_any` (a pair shares
    * ≥1 tagged code iff some unnested code matches) but executable as
    * a hash join at any corpus size, the exact shape the Spark side
    * runs. Used by the wide-band scale variant whose soak corpus
    * (200k vectors) a nested-loop pair scan cannot cover.
    */
  private def streamGateCtesEquiJoin(threshold: Double, bands: Int,
                                     bits: Int, dims: Int): String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |    FROM embeddings),
       |cg AS MATERIALIZED (SELECT vec_id, v,
       |      ${srpCodeListSql(bands, bits, dims)} AS ct FROM e),
       |u AS MATERIALIZED (SELECT vec_id, unnest(ct) AS code FROM cg),
       |cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |    FROM u a JOIN u b ON a.code = b.code
       |      AND a.vec_id < b.vec_id),
       |rej AS (SELECT DISTINCT vb AS vec_id
       |    FROM cand JOIN cg a ON a.vec_id = cand.va
       |      JOIN cg b ON b.vec_id = cand.vb
       |    WHERE ${cosExpr("a", "b")} >= $threshold),
       |adm AS (SELECT e.vec_id FROM e LEFT JOIN rej USING (vec_id)
       |    WHERE rej.vec_id IS NULL)""".stripMargin

  /** Oracle for `q_stream_ann_ingest_wide`: [[streamAnnIngestSql]]'s
    * exact statement with the gate in the scalable equi-join form
    * ([[streamGateCtesEquiJoin]]) — one statement covering gate
    * decisions, geometry training, cell routing, and code assignment,
    * runnable verbatim by DuckDB at the SF10 soak's 200k vectors.
    */
  private[queries] def streamAnnIngestWideSql(threshold: Double, bands: Int,
                                              bits: Int, dims: Int, m: Int,
                                              ks: Int, cells: Int,
                                              slices: Int): String = {
    val dsub = dims / m
    s"""WITH mx AS (SELECT max(vec_id) // $slices + 1 AS cut FROM embeddings),
       |${streamGateCtesEquiJoin(threshold, bands, bits, dims)},
       |${latticeCte(dsub)},
       |rb AS MATERIALIZED (SELECT r.* FROM r, mx WHERE r.vec_id < mx.cut),
       |${frozenFitCtes(ks, cells)},
       |ra AS MATERIALIZED (SELECT r.* FROM r
       |    JOIN adm ON adm.vec_id = r.vec_id),
       |${frozenEncodeSql("ra")}""".stripMargin
  }

  /** Oracle for `q_stream_ann_delete`: the [[streamAnnIngestSql]]
    * restatement with TWO delete-rule sentences on top, exactly the
    * erasure contract the delete path promises. Tombstoned = ids
    * ≡ residue (mod modulo) among the first `deleteAfter + 1` slices
    * (ids below `(deleteAfter+1) · width`, width = max/slices + 1 —
    * the same slice rule the fixture and ingest oracle state).
    * (1) survivors only: tombstoned ids are filtered from the
    * postings; (2) erased predecessors cannot veto (r15): a vector
    * arriving AFTER the takedown (slice > deleteAfter, i.e. id ≥
    * (deleteAfter+1)·width) is not rejected by a tombstoned
    * predecessor — its raw embedding is erased from the gate's store,
    * so the cosine verification that a rejection requires can no
    * longer run. The exclusion applies only to post-takedown
    * arrivals: decisions already made (slices ≤ deleteAfter) saw the
    * vector while it was live.
    */
  private[queries] def streamAnnDeleteSql(threshold: Double, bands: Int,
                                          bits: Int, dims: Int, m: Int,
                                          ks: Int, cells: Int, slices: Int,
                                          deleteAfter: Long, modulo: Long,
                                          residue: Long): String = {
    val cut = "(SELECT cut FROM mx)"
    val rejExclude =
      s"""
         |      AND NOT (a.vec_id % $modulo = $residue
         |        AND a.vec_id < ${deleteAfter + 1} * $cut
         |        AND b.vec_id >= ${deleteAfter + 1} * $cut)""".stripMargin
    s"""SELECT * FROM (
       |${streamAnnIngestSql(threshold, bands, bits, dims, m, ks, cells,
            slices, rejExclude)}
       |) WHERE NOT (n_id % $modulo = $residue AND n_id <
       |  ${deleteAfter + 1} * (SELECT max(vec_id) // $slices + 1
       |                        FROM embeddings))
       |ORDER BY n_id, sub""".stripMargin
  }

  /** Oracle for `q_stream_ann_query` — the END-TO-END serving
    * statement: the gate rule (with the delete path's
    * erased-predecessor exclusion), the frozen-geometry fit and encode
    * of the admitted vectors, the tombstone filter, and then the FULL
    * IVFADC read path over the surviving postings — coarse probe of
    * the frozen lattice, per-(query, cell) residual LUT against the
    * frozen codebook, cell-pruned ADC, shortlist, exact L2 re-rank.
    * One SQL statement covering ingest-with-dedup → takedown → serve;
    * a leak of a deleted id into results, a probe against drifted
    * geometry, or a re-rank tie-break drift is a hash mismatch.
    */
  private[queries] def streamAnnQuerySql(threshold: Double, bands: Int,
      bits: Int, dims: Int, m: Int, ks: Int, cells: Int, slices: Int,
      deleteAfter: Long, modulo: Long, residue: Long,
      nprobe: Int, k: Int, shortlist: Int): String =
    s"""WITH ${streamServeCtes(threshold, bands, bits, dims, m, ks, cells,
          slices, deleteAfter, modulo, residue, nprobe, shortlist)}
       |SELECT q_id, n_id, rnk, d2
       |FROM f WHERE rnk <= $k ORDER BY q_id, rnk""".stripMargin

  /** The end-to-end serving pipeline (gate → frozen fit/encode →
    * tombstone filter `vis` → probe/LUT/ADC/shortlist → exact re-rank
    * `f`) as a reusable CTE chain — shared by [[streamAnnQuerySql]] and
    * [[streamAnnRecallSql]] so the serve rule has ONE statement.
    */
  private def streamServeCtes(threshold: Double, bands: Int,
      bits: Int, dims: Int, m: Int, ks: Int, cells: Int, slices: Int,
      deleteAfter: Long, modulo: Long, residue: Long,
      nprobe: Int, shortlist: Int): String = {
    val dsub = dims / m
    val cut = "(SELECT cut FROM mx)"
    val rejExclude =
      s"""
         |      AND NOT (a.vec_id % $modulo = $residue
         |        AND a.vec_id < ${deleteAfter + 1} * $cut
         |        AND b.vec_id >= ${deleteAfter + 1} * $cut)""".stripMargin
    s"""mx AS (SELECT max(vec_id) // $slices + 1 AS cut FROM embeddings),
       |${streamGateCtes(threshold, bands, bits, dims, rejExclude)},
       |${latticeCte(dsub)},
       |rb AS MATERIALIZED (SELECT r.* FROM r, mx WHERE r.vec_id < mx.cut),
       |${frozenFitCtes(ks, cells)},
       |ra AS MATERIALIZED (SELECT r.* FROM r
       |    JOIN adm ON adm.vec_id = r.vec_id),
       |${frozenEncodeCtes("ra")},
       |vis AS MATERIALIZED (SELECT casg_e.cell, enc_e.vec_id AS n_id,
       |      enc_e.sub, enc_e.cid
       |    FROM enc_e JOIN casg_e ON casg_e.n_id = enc_e.vec_id
       |    WHERE NOT (enc_e.vec_id % $modulo = $residue
       |      AND enc_e.vec_id < ${deleteAfter + 1} * $cut)),
       |qct AS (SELECT cd.vec_id, cd.cell, cn2 - 2 * dot AS term
       |    FROM (SELECT r.vec_id, cc.cell,
       |            CAST(sum(r.xe * cc.ce) AS BIGINT) AS dot
       |          FROM r JOIN cc ON cc.pos = r.pos
       |          WHERE r.vec_id < 20 GROUP BY 1, 2) cd
       |    JOIN ccn ON ccn.cell = cd.cell),
       |qprobe AS (SELECT vec_id AS q_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |        ORDER BY term ASC, cell ASC) AS rn FROM qct)
       |    WHERE rn <= $nprobe),
       |qr AS MATERIALIZED (SELECT r.vec_id AS q_id, qprobe.cell, r.sub,
       |      r.pos, r.xe - cc.ce AS xe
       |    FROM r JOIN qprobe ON qprobe.q_id = r.vec_id
       |    JOIN cc ON cc.cell = qprobe.cell AND cc.pos = r.pos),
       |qrn2 AS (SELECT q_id, cell, CAST(sum(xe * xe) AS BIGINT) AS rn2
       |    FROM qr GROUP BY 1, 2),
       |lut AS (SELECT qd.q_id, qd.cell, qd.sub, qd.cid,
       |      cn2 - 2 * dot AS term
       |    FROM (SELECT qr.q_id, qr.cell, c1.sub, c1.cid,
       |            CAST(sum(qr.xe * c1.ce) AS BIGINT) AS dot
       |          FROM qr JOIN c1 ON c1.sub = qr.sub AND c1.pos = qr.pos
       |          GROUP BY 1, 2, 3, 4) qd
       |    JOIN cn1 ON cn1.sub = qd.sub AND cn1.cid = qd.cid),
       |adc AS (SELECT lut.q_id, vis.n_id, vis.cell,
       |      CAST(sum(term) AS BIGINT) AS t
       |    FROM vis JOIN lut ON lut.cell = vis.cell AND lut.sub = vis.sub
       |      AND lut.cid = vis.cid
       |    WHERE lut.q_id <> vis.n_id GROUP BY 1, 2, 3),
       |shortl AS (SELECT q_id, n_id FROM (
       |    SELECT adc.q_id, adc.n_id, row_number() OVER (PARTITION BY adc.q_id
       |        ORDER BY t + rn2 ASC, n_id ASC) AS srnk
       |    FROM adc JOIN qrn2 ON qrn2.q_id = adc.q_id
       |      AND qrn2.cell = adc.cell) WHERE srnk <= $shortlist),
       |qn2 AS (SELECT vec_id AS q_id, CAST(sum(xe * xe) AS BIGINT) AS qn2
       |    FROM r WHERE vec_id < 20 GROUP BY 1),
       |nn2 AS (SELECT vec_id AS n_id, CAST(sum(xe * xe) AS BIGINT) AS nn2
       |    FROM r GROUP BY 1),
       |pd AS (SELECT s.q_id, s.n_id,
       |      CAST(sum(rn.xe * rq.xe) AS BIGINT) AS dot
       |    FROM shortl s
       |    JOIN r rn ON rn.vec_id = s.n_id
       |    JOIN r rq ON rq.vec_id = s.q_id AND rq.pos = rn.pos
       |    GROUP BY 1, 2),
       |f AS (SELECT q_id, n_id,
       |      CAST(qn2 - 2 * dot + nn2 AS BIGINT) AS d2,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY qn2 - 2 * dot + nn2 ASC, n_id ASC) AS rnk
       |    FROM pd JOIN qn2 USING (q_id) JOIN nn2 USING (n_id))""".stripMargin
  }

  /** Oracle for `q_stream_ann_recall` — the serving-quality statement:
    * the full [[streamServeCtes]] pipeline (ingest gate → takedown →
    * frozen-geometry serve) scored against the exact-L2 top-k over the
    * ADMITTED-AND-SURVIVING corpus (`vis`'s distinct ids — the set the
    * store can possibly serve), per-query overlap in exact integer
    * ppm. Ground truth deliberately restricts to survivors: recall of
    * the serving store is "of what it holds, how much does it find",
    * not "does a takedown lower recall against vectors that no longer
    * exist".
    */
  private[queries] def streamAnnRecallSql(threshold: Double, bands: Int,
      bits: Int, dims: Int, m: Int, ks: Int, cells: Int, slices: Int,
      deleteAfter: Long, modulo: Long, residue: Long,
      nprobe: Int, k: Int, shortlist: Int): String =
    s"""WITH ${streamServeCtes(threshold, bands, bits, dims, m, ks, cells,
          slices, deleteAfter, modulo, residue, nprobe, shortlist)},
       |surv AS (SELECT DISTINCT n_id AS vec_id FROM vis),
       |bf AS (SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        CAST(floor(1e9 * (list_dot_product(q.v, q.v)
       |          - 2 * list_dot_product(q.v, n.v)
       |          + list_dot_product(n.v, n.v))) AS BIGINT) ASC,
       |        n.vec_id ASC) AS rnk
       |    FROM e q JOIN e n ON q.vec_id < 20 AND n.vec_id <> q.vec_id
       |      AND n.vec_id IN (SELECT vec_id FROM surv))
       |    WHERE rnk <= $k),
       |ap AS (SELECT q_id, n_id FROM f WHERE rnk <= $k),
       |j AS (SELECT bf.q_id,
       |      CAST(count(*) AS BIGINT) AS k,
       |      CAST(sum(CASE WHEN ap.n_id IS NULL THEN 0 ELSE 1 END)
       |        AS BIGINT) AS hits
       |    FROM bf LEFT JOIN ap ON ap.q_id = bf.q_id AND ap.n_id = bf.n_id
       |    GROUP BY 1)
       |SELECT q_id, hits, hits * 1000000 // k AS recall_ppm
       |FROM j ORDER BY q_id""".stripMargin

  /** Oracle for `q_ivfpq_cell_stats`: the shared coarse CTEs reduced to
    * the per-cell membership histogram.
    */
  private[queries] def ivfPqCellStatsSql(dims: Int, m: Int, cells: Int,
                                         delete: Option[String] = None)
      : String =
    s"""WITH ${ivfCoarseCtes(dims, dims / m, cells)}
       |SELECT cell AS cell_id, CAST(count(*) AS BIGINT) AS n_members
       |FROM casg${delete.map(p => s" WHERE NOT ($p)").getOrElse("")}
       |GROUP BY 1 ORDER BY cell_id""".stripMargin

  /** Oracle for `q_ann_recall_eval`: the exact-L2 top-k (the
    * [[graft.ops.Similarity.bruteForceTopKL2]] float sequence — d2
    * floored to e9, ranked by the FLOORED value then n_id, exactly the
    * Spark window) and the complete [[annIvfPqSql]] restatement as a
    * subquery, overlap-counted per query with integer-DIV ppm.
    */
  private[queries] def annRecallEvalSql(dims: Int, m: Int, ks: Int,
                                        cells: Int, nprobe: Int,
                                        k: Int): String =
    s"""$cosineCte,
       |bf AS (SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        CAST(floor(1e9 * (list_dot_product(q.v, q.v)
       |          - 2 * list_dot_product(q.v, n.v)
       |          + list_dot_product(n.v, n.v))) AS BIGINT) ASC,
       |        n.vec_id ASC) AS rnk
       |    FROM e q JOIN e n ON q.vec_id < 20 AND n.vec_id <> q.vec_id)
       |    WHERE rnk <= $k),
       |ap AS (SELECT q_id, n_id FROM
       |    (${annIvfPqSql(dims, m, ks, cells, nprobe, k)})),
       |j AS (SELECT bf.q_id,
       |      CAST(count(*) AS BIGINT) AS k,
       |      CAST(sum(CASE WHEN ap.n_id IS NULL THEN 0 ELSE 1 END)
       |        AS BIGINT) AS hits
       |    FROM bf LEFT JOIN ap ON ap.q_id = bf.q_id AND ap.n_id = bf.n_id
       |    GROUP BY 1)
       |SELECT q_id, hits, hits * 1000000 // k AS recall_ppm
       |FROM j ORDER BY q_id""".stripMargin

  /** Oracle for `q_stream_emb_gate`: the gate's decision rule as one
    * sentence — dup iff some SMALLER vec_id shares ≥1 bit-mirrored SRP
    * band code AND reaches exact cosine ≥ threshold; `dup_src` is the
    * minimum such predecessor (the [[embeddingBlockedSql]] banding +
    * verify, reduced to a min-predecessor per vector).
    */
  private[queries] def streamEmbGateSql(threshold: Double, bands: Int,
                                        bits: Int, dims: Int): String =
    s"""$cosineCte,
       |c AS (SELECT vec_id, v, ${srpCodeListSql(bands, bits, dims)} AS ct
       |      FROM e),
       |p AS (SELECT b.vec_id AS vec_id,
       |        CAST(min(a.vec_id) AS BIGINT) AS dup_src
       |      FROM c a JOIN c b ON a.vec_id < b.vec_id
       |        AND list_has_any(a.ct, b.ct)
       |      WHERE ${cosExpr("a", "b")} >= $threshold
       |      GROUP BY 1)
       |SELECT e.vec_id, (p.dup_src IS NULL) AS admitted, p.dup_src
       |FROM e LEFT JOIN p USING (vec_id) ORDER BY vec_id""".stripMargin

  private[queries] val cosineTopkSql: String =
    s"""$cosineCte,
       |p AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |        ${cosExpr("q", "c")} AS cos
       |      FROM e q JOIN e c ON q.vec_id < 20 AND c.vec_id <> q.vec_id),
       |r AS (SELECT q_id, n_id, cos,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rnk
       |      FROM p)
       |SELECT q_id, n_id, rnk, CAST(floor(cos * 1000000) AS BIGINT) AS cos_e6
       |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  private[queries] val registry: Map[String, Q] = Map(
    "q_dedup_embedding" -> qDedupEmbedding,
    "q_emb_dedup_eval" -> qEmbDedupEval,
    "q_cosine_topk" -> qCosineTopk,
    "q_knn_label" -> qKnnLabel,
    "q_hard_negatives" -> qHardNegatives,
    "q_emb_norm_profile" -> qEmbNormProfile,
    "q_emb_quantize" -> qEmbQuantize,
    "q_centroid_dist" -> qCentroidDist,
    "q_emb_variance" -> qEmbVariance,
    "q_ann_ivf" -> qAnnIvf,
    "q_ann_ivf_exhaustive" -> qAnnIvfExhaustive,
    "q_ann_lsh" -> qAnnLsh,
    "q_ann_pq" -> qAnnPq,
    "q_ann_ivfpq" -> qAnnIvfPq,
    "q_ann_ivfpq_read" -> qAnnIvfPqRead,
    "q_ivfpq_cell_stats" -> qIvfPqCellStats,
    "q_ann_ivfpq_delete" -> qAnnIvfPqDelete,
    "q_ann_ivfpq_delete_stats" -> qAnnIvfPqDeleteStats,
    "q_ann_ivfpq_retrain" -> qAnnIvfPqRetrain,
    "q_ann_ivfpq_append" -> qAnnIvfPqAppend,
    "q_ann_ivfpq_shard_merge" -> qAnnIvfPqShardMerge,
    "q_stream_ann_ingest" -> qStreamAnnIngest,
    "q_stream_ann_ingest_wide" -> qStreamAnnIngestWide,
    "q_stream_ann_delete" -> qStreamAnnDelete,
    "q_stream_ann_query" -> qStreamAnnQuery,
    "q_stream_ann_recall" -> qStreamAnnRecall,
    "q_ann_ivf_incremental" -> qAnnIvfIncremental,
    "q_ann_recall_eval" -> qAnnRecallEval,
    "q_ann_param_sweep" -> qAnnParamSweep,
    "q_stream_emb_gate" -> qStreamEmbGate,
    "q_pq_distortion" -> qPqDistortion,
    "q_fuzzy_match" -> qFuzzyMatch,
    "q_entity_clusters" -> qEntityClusters,
  )

  private[queries] val oracle: Map[String, String] = Map(
    "q_entity_clusters" ->
      """WITH RECURSIVE p AS MATERIALIZED (
        |  SELECT a.p_partkey AS pa, b.p_partkey AS pb
        |  FROM part a JOIN part b
        |    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |  WHERE abs(len(a.p_name) - len(b.p_name)) <= 2
        |    AND levenshtein(a.p_name, b.p_name) <= 2),
        |e AS MATERIALIZED (SELECT pa AS a, pb AS b FROM p
        |  UNION SELECT pb, pa FROM p),
        |r(a, b) AS (
        |  SELECT a, a FROM (SELECT DISTINCT a FROM e)
        |  UNION
        |  SELECT e.a, r.b FROM e JOIN r ON r.a = e.b),
        |comp AS (SELECT a AS p_partkey, min(b) AS entity_id
        |  FROM r GROUP BY a)
        |SELECT pt.p_partkey, coalesce(c.entity_id, pt.p_partkey)
        |  AS entity_id
        |FROM part pt LEFT JOIN comp c ON pt.p_partkey = c.p_partkey
        |ORDER BY pt.p_partkey""".stripMargin,
    "q_fuzzy_match" ->
      """SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
        |  levenshtein(a.p_name, b.p_name) AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE abs(len(a.p_name) - len(b.p_name)) <= 2
        |  AND levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY part_a, part_b""".stripMargin,
    "q_dedup_embedding" -> embeddingBlockedSql(0.4, EmbBands, EmbBits, dims = 64),
    "q_emb_dedup_eval" -> embDedupEvalSql(0.4, EmbBands, EmbBits, dims = 64),
    "q_cosine_topk" -> cosineTopkSql,
    "q_ann_ivf" -> annIvfSql(cells = 16, nprobe = 4, k = 5),
    "q_ann_ivf_exhaustive" -> cosineTopkSql,
    "q_ann_lsh" -> annLshSql(bands = 16, bits = 4, dims = 64, k = 5),
    "q_ann_pq" -> annPqSql(dims = 64, m = 8, ks = 16, k = 5),
    "q_ann_ivfpq" -> annIvfPqSql(dims = 64, m = 8, ks = 16, cells = 16,
      nprobe = 4, k = 5),
    "q_ann_ivfpq_read" -> annIvfPqSql(dims = 64, m = 8, ks = 16, cells = 16,
      nprobe = 4, k = 5),
    "q_ivfpq_cell_stats" -> ivfPqCellStatsSql(dims = 64, m = 8, cells = 16),
    "q_ann_ivfpq_delete" -> annIvfPqSql(dims = 64, m = 8, ks = 16,
      cells = 16, nprobe = 4, k = 5, delete = Some("codes.n_id % 7 = 3")),
    "q_ann_ivfpq_delete_stats" -> ivfPqCellStatsSql(dims = 64, m = 8,
      cells = 16, delete = Some("n_id % 7 = 3")),
    "q_ann_ivfpq_retrain" -> annIvfPqRebuildSql(dims = 64, m = 8, ks = 16,
      cells = 16, where = "NOT (vec_id % 7 = 3)"),
    "q_ann_ivfpq_append" -> annIvfPqAppendSql(dims = 64, m = 8, ks = 16,
      cells = 16),
    "q_ann_ivfpq_shard_merge" -> annIvfPqShardMergeSql(dims = 64, m = 8,
      ks = 16, cells = 16),
    "q_stream_ann_ingest" -> streamAnnIngestSql(0.4, EmbBands, EmbBits,
      dims = 64, m = 8, ks = 16, cells = 16,
      slices = graft.streaming.GateStores.Slices),
    "q_stream_ann_ingest_wide" -> streamAnnIngestWideSql(WideThreshold,
      WideBands, WideBits, dims = 64, m = 8, ks = 16, cells = 16,
      slices = graft.streaming.GateStores.Slices),
    "q_stream_ann_delete" -> streamAnnDeleteSql(0.4, EmbBands, EmbBits,
      dims = 64, m = 8, ks = 16, cells = 16,
      slices = graft.streaming.GateStores.Slices,
      deleteAfter = graft.streaming.AnnIngest.DeleteAfterBatch,
      modulo = graft.streaming.AnnIngest.DeleteMod,
      residue = graft.streaming.AnnIngest.DeleteResidue),
    "q_stream_ann_query" -> streamAnnQuerySql(0.4, EmbBands, EmbBits,
      dims = 64, m = 8, ks = 16, cells = 16,
      slices = graft.streaming.GateStores.Slices,
      deleteAfter = graft.streaming.AnnIngest.DeleteAfterBatch,
      modulo = graft.streaming.AnnIngest.DeleteMod,
      residue = graft.streaming.AnnIngest.DeleteResidue,
      nprobe = 4, k = 5, shortlist = 50),
    "q_stream_ann_recall" -> streamAnnRecallSql(0.4, EmbBands, EmbBits,
      dims = 64, m = 8, ks = 16, cells = 16,
      slices = graft.streaming.GateStores.Slices,
      deleteAfter = graft.streaming.AnnIngest.DeleteAfterBatch,
      modulo = graft.streaming.AnnIngest.DeleteMod,
      residue = graft.streaming.AnnIngest.DeleteResidue,
      nprobe = 4, k = 5, shortlist = 50),
    "q_ann_ivf_incremental" -> annIvfIncrementalSql(cells = 16, nprobe = 4,
      k = 5),
    "q_ann_recall_eval" -> annRecallEvalSql(dims = 64, m = 8, ks = 16,
      cells = 16, nprobe = 4, k = 5),
    "q_ann_param_sweep" -> annParamSweepSql(dims = 64, m = 8, ks = 16,
      cells = 16, k = 5, nprobes = NprobeSweep),
    "q_stream_emb_gate" -> streamEmbGateSql(0.4, EmbBands, EmbBits,
      dims = 64),
    "q_pq_distortion" -> annPqDistortionSql(dims = 64, m = 8, ks = 16),
    "q_emb_quantize" ->
      """WITH el AS (SELECT vec_id,
        |    generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1 AS pos,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x
        |  FROM embeddings),
        |rng AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM el GROUP BY 1),
        |e AS (SELECT el.pos, x, mn, mx,
        |    CASE WHEN mx = mn THEN 0
        |    ELSE CAST(floor(1000000 * abs(x - (mn +
        |      floor((x - mn) / ((mx - mn) / 255.0) + 0.5) *
        |      ((mx - mn) / 255.0)))) AS BIGINT) END AS err_e6
        |  FROM el JOIN rng ON el.pos = rng.pos)
        |SELECT CAST(pos AS INT) AS pos,
        |  CAST(floor(min(x) * 1000000) AS BIGINT) AS mn_e6,
        |  CAST(floor(max(x) * 1000000) AS BIGINT) AS mx_e6,
        |  CAST(max(err_e6) AS BIGINT) AS max_abs_err_e6
        |FROM e GROUP BY 1 ORDER BY pos""".stripMargin,
    "q_emb_norm_profile" ->
      """WITH v AS (SELECT label,
        |    CAST(floor(1000000 * list_dot_product(
        |      CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
        |      AS BIGINT) AS n2
        |  FROM embeddings)
        |SELECT CAST(label AS INTEGER) AS label,
        |  CAST(count(*) AS BIGINT) AS n,
        |  min(n2) AS min_n2_e6, max(n2) AS max_n2_e6,
        |  CAST(sum(n2) // count(*) AS BIGINT) AS mean_n2_e6
        |FROM v GROUP BY 1 ORDER BY label""".stripMargin,
    "q_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |p AS (SELECT q.vec_id AS q_id, q.label AS q_label,
        |        c.vec_id AS n_id, c.label AS n_label,
        |        list_dot_product(q.v, c.v) /
        |        (sqrt(list_dot_product(q.v, q.v)) *
        |         sqrt(list_dot_product(c.v, c.v))) AS cos
        |      FROM e q JOIN e c ON q.vec_id < 20 AND c.vec_id >= 20
        |        AND q.label <> c.label),
        |r AS (SELECT q_id, q_label, n_id, n_label, cos,
        |        row_number() OVER (PARTITION BY q_id
        |                           ORDER BY cos DESC, n_id ASC) AS rnk
        |      FROM p)
        |SELECT q_id, CAST(q_label AS INTEGER) AS q_label, n_id,
        |  CAST(n_label AS INTEGER) AS n_label, CAST(rnk AS INTEGER) AS rnk,
        |  CAST(floor(cos * 1000000) AS BIGINT) AS cos_e6
        |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,
    "q_knn_label" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |p AS (SELECT q.vec_id AS q_id, q.label AS true_label,
        |        c.vec_id AS n_id, c.label AS n_label,
        |        list_dot_product(q.v, c.v) /
        |        (sqrt(list_dot_product(q.v, q.v)) *
        |         sqrt(list_dot_product(c.v, c.v))) AS cos
        |      FROM e q JOIN e c ON q.vec_id < 20 AND c.vec_id >= 20),
        |r AS (SELECT q_id, true_label, n_label,
        |        row_number() OVER (PARTITION BY q_id
        |                           ORDER BY cos DESC, n_id ASC) AS rnk
        |      FROM p),
        |v AS (SELECT q_id, true_label, n_label, count(*) AS votes
        |      FROM r WHERE rnk <= 5 GROUP BY 1, 2, 3)
        |SELECT q_id, true_label,
        |  CAST(max_by(n_label, votes * 1000 - n_label) AS INTEGER)
        |    AS pred_label,
        |  CAST(max(votes) AS BIGINT) AS top_votes
        |FROM v GROUP BY q_id, true_label ORDER BY q_id""".stripMargin,
    "q_centroid_dist" ->
      """WITH u AS (SELECT label,
        |    generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1 AS pos,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x
        |  FROM embeddings),
        |a AS (SELECT label, pos,
        |    CAST(sum(CAST(round(x * 16777216.0) AS BIGINT)) AS BIGINT) AS sx
        |  FROM u GROUP BY 1, 2),
        |n2 AS (SELECT label, sum(CAST(sx AS HUGEINT) * sx) AS nn
        |  FROM a GROUP BY 1),
        |dp AS (SELECT a1.label AS label_a, a2.label AS label_b,
        |    sum(CAST(a1.sx AS HUGEINT) * a2.sx) AS dot
        |  FROM a a1 JOIN a a2 ON a1.pos = a2.pos AND a1.label < a2.label
        |  GROUP BY 1, 2)
        |SELECT label_a, label_b,
        |  CAST(floor(1000000.0 * (CAST(dot AS DOUBLE) /
        |    (sqrt(CAST(x.nn AS DOUBLE)) * sqrt(CAST(y.nn AS DOUBLE)))))
        |    AS BIGINT) AS cos_e6
        |FROM dp JOIN n2 x ON label_a = x.label
        |  JOIN n2 y ON label_b = y.label
        |ORDER BY label_a, label_b""".stripMargin,
    "q_emb_variance" ->
      """WITH u AS (SELECT label,
        |    generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1 AS pos,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x
        |  FROM embeddings),
        |a AS (SELECT label, pos, count(*) AS n,
        |    CAST(sum(CAST(round(x * 16777216.0) AS BIGINT)) AS BIGINT) AS sx,
        |    CAST(sum(CAST(round(x * 16777216.0) AS BIGINT) *
        |             CAST(round(x * 16777216.0) AS BIGINT)) AS BIGINT) AS sxx
        |  FROM u GROUP BY 1, 2)
        |SELECT label, pos, CAST(n AS BIGINT) AS n,
        |  CAST(floor(1000000000.0 *
        |    ((CAST(sxx AS DOUBLE) / n -
        |      (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)) /
        |     (16777216.0 * 16777216.0))) AS BIGINT) AS var_e9
        |FROM a ORDER BY label, pos""".stripMargin,
  )
}
