package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{jaccard, minhash, shingleHashes, shingles, simhash}

/** Distributed deduplication operators for LLM training-data pipelines.
  *
  * All operators are pure DataFrame transforms — shuffle-based, no driver
  * collect, no cartesian products except where a caller explicitly asks for
  * an exact O(n²) pass on a dimension-sized input. The scale paths:
  *
  *  - exact dedup: hash-groupBy on a digest of the content (one shuffle).
  *  - MinHash-LSH: shingle → k min-hashes → banded bucket join; candidate
  *    pairs are verified with exact Jaccard so false positives never
  *    survive. Recall is 1-(1-J^r)^b per pair (r rows/band, b bands).
  *  - SimHash: 64-bit signature (4 × 16-bit chunks); pairs within hamming
  *    distance h ≤ chunks-1 are guaranteed to collide on ≥1 chunk
  *    (pigeonhole), so chunk-bucket join + exact hamming verify is
  *    EXACT for h ≤ 3 — no recall loss, no n².
  *  - n-gram Jaccard: exact set-similarity join via inverted index on
  *    shingles (pairs sharing ≥1 shingle), then exact Jaccard — the
  *    canonical distributed exact algorithm.
  *
  * Hashing is md5-based where cross-engine parity matters (the DuckDB
  * oracle mirrors the same bit construction), xxhash64 where it does not.
  */
object Dedup {

  /** (doc key, shingle) long table — the inverted-index layout. */
  def explodeShingles(df: DataFrame, key: String, text: String, n: Int = 3): DataFrame =
    df.withColumn("toks", split(col(text), " "))
      .withColumn("shingle", explode(shingles(col("toks"), n)))
      .select(col(key), col("shingle"))

  /** `(key, sh)`: each doc's hashed `shingleSize`-token shingle set
    * ([[graft.functions.shingleHashes]]), over a corpus fanned out to
    * every core; docs too short to shingle are dropped.
    */
  def shingleSets(docs: DataFrame, key: String, text: String,
                  shingleSize: Int): DataFrame =
    Par.fanOut(docs.select(col(key), col(text)))
      .withColumn("toks", split(col(text), " "))
      .withColumn("sh", shingleHashes(col("toks"), shingleSize))
      .filter(size(col("sh")) > 0)
      .select(col(key), col("sh"))

  /** Exact dedup: keep the lowest key per content digest. One shuffle on
    * the digest; at 100 TB the digest groupBy is the only viable exact
    * dedup (never groupBy the raw text — digest first, the shuffle then
    * moves 32 bytes/row instead of documents).
    */
  def exactDedup(df: DataFrame, key: String, text: String): DataFrame =
    df.withColumn("digest", sha2(col(text), 256))
      .groupBy(col("digest"))
      .agg(min(col(key)).as(key), count(lit(1)).as("n_copies"))
      .select(col(key), col("n_copies"))

  /** MinHash signatures: `numHashes` columns h0..h{k-1}, each the min of a
    * Carter-Wegman family over the doc's HASHED shingle set (`sh` must be
    * `array<bigint>` from [[graft.functions.shingleHashes]]). Computed
    * map-side from the shingle ARRAY — zero shuffle (the explode + groupBy
    * formulation re-shuffles rows that were already grouped) — in ONE
    * codegen'd pass via [[graft.functions.MinHashSignature]] (k interpreted
    * `array_min(transform(...))` HOFs measured ~3× slower; the k-from-1
    * family removes the remaining k byte-hashes per shingle).
    */
  def minhashSignatures(docsWithShingles: DataFrame, key: String, numHashes: Int): DataFrame = {
    val withSig = docsWithShingles
      .withColumn("sig", minhash(col("sh"), numHashes))
    val sigCols = (0 until numHashes).map(j => col("sig").getItem(j).as(s"h$j"))
    withSig.select(col(key) +: sigCols: _*)
  }

  /** LSH candidate pairs from banded signatures: r consecutive hashes per
    * band, hashed to one bucket id; docs sharing any (band, bucket) pair
    * up. The self-join shuffles on (band, bucket) — bucket sizes stay
    * small because a 64-bit band hash only collides for near-identical
    * signature slices.
    */
  /** Banded view of minhash signatures: one row per (doc, band) keyed
    * by the band's bucket hash — the indexable form ([[lshCandidates]]
    * self-joins it; the streaming ingestion gate persists it as the
    * band index a new batch probes).
    */
  def bandBuckets(sigs: DataFrame, key: String, numHashes: Int,
                  rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val bandCols = (0 until numBands).map { b =>
      val slice = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      xxhash64(lit(1000 + b) +: slice: _*)
    }
    sigs.select(col(key), posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))
  }

  def lshCandidates(sigs: DataFrame, key: String, numHashes: Int, rowsPerBand: Int): DataFrame = {
    // Both self-join sides are identical subtrees — Spark's ReusedExchange
    // computes the signature pipeline once (persisting here measured slower).
    val banded = bandBuckets(sigs, key, numHashes, rowsPerBand)
    val a = banded.select(col(key).as("key_a"), col("band"), col("bucket"))
    val b = banded.select(col(key).as("key_b"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("key_a") < col("key_b"))
      .select(col("key_a"), col("key_b"))
      .distinct()
  }

  /** Exact Jaccard verification of candidate pairs against the hashed
    * shingle sets (`sh` = sorted distinct `array<bigint>` from
    * [[graft.functions.shingleHashes]]); emits jaccard scaled to integer
    * millionths (portable floats). The verify join ships ~8 bytes per shingle
    * instead of the string, and the per-pair check is the codegen'd
    * linear-merge [[graft.functions.JaccardSorted]] on longs (the
    * hash-set array_intersect/array_union pair was the verify
    * bottleneck; a 64-bit collision inside one doc's ~10² shingles is
    * ~1e-15 — negligible, so hashed-set Jaccard equals string-set
    * Jaccard, which is what the DuckDB oracle computes).
    */
  def verifyJaccard(candidates: DataFrame, docsWithShingles: DataFrame, key: String,
                    threshold: Double): DataFrame =
    verifyJaccardSides(candidates, docsWithShingles, docsWithShingles, key,
      threshold)

  /** [[verifyJaccard]] with separate shingle tables per pair side — the
    * streaming-gate shape (see
    * [[graft.ops.Similarity.verifyCosineSides]]): `key_b` rows come from
    * the in-memory micro-batch, `key_a` rows from the whole durable
    * shingle store, which streams map-side through the broadcast
    * candidate join (`broadcastB`).
    */
  def verifyJaccardSides(candidates: DataFrame, shA: DataFrame,
                         shB: DataFrame, key: String, threshold: Double,
                         broadcastB: Boolean = false): DataFrame = {
    val sa = shA.select(col(key).as("key_a"), col("sh").as("sh_a"))
    val sb0 = shB.select(col(key).as("key_b"), col("sh").as("sh_b"))
    // broadcastB: caller-guaranteed bounded b side AND candidate set
    // (the streaming gates' micro-batch) — the verify then streams the
    // big a-side store map-side, no exchange carries shingle arrays;
    // see Similarity.verifyCosineSides
    val cand = if (broadcastB) broadcast(candidates) else candidates
    val sb = if (broadcastB) broadcast(sb0) else sb0
    cand.join(sa, "key_a").join(sb, "key_b")
      .withColumn("jac", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jac") >= threshold)
      .select(col("key_a"), col("key_b"),
        floor(col("jac") * 1e6).cast("long").as("jaccard_e6"))
  }

  /** Full MinHash-LSH near-dup pipeline over a text table. The shingle
    * table is persisted (memory-and-disk) because the plan fans out into
    * the signature branch and two verification branches — without it the
    * tokenize+shingle scan runs three times.
    */
  def minhashLshPairs(docs: DataFrame, key: String, text: String,
                      numHashes: Int = 32, rowsPerBand: Int = 2,
                      shingleSize: Int = 3, threshold: Double = 0.5): DataFrame = {
    val withSh = shingleSets(docs, key, text, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigs = minhashSignatures(withSh, key, numHashes)
    val cands = lshCandidates(sigs, key, numHashes, rowsPerBand)
    verifyJaccard(cands, withSh, key, threshold)
      .withColumnRenamed("key_a", "doc_a").withColumnRenamed("key_b", "doc_b")
  }

  /** Exact n-gram-Jaccard similarity join with PPJoin-style prefix
    * filtering: under a global shingle order (rarest first), a pair with
    * J ≥ t must share a shingle within each doc's first
    * |A| - ceil(t·|A|) + 1 shingles (since |A∩B| ≥ t·|A∪B| ≥ t·|A|), so
    * only prefix shingles are indexed — the candidate join shrinks by
    * ~(1-t)² while staying EXACT. Candidates are then verified against
    * the full shingle sets.
    */
  def ngramJaccardPairs(docs: DataFrame, key: String, text: String,
                        shingleSize: Int = 3, threshold: Double = 0.5): DataFrame = {
    val withSh = shingleSets(docs, key, text, shingleSize)
      .withColumn("sz", size(col("sh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inv = withSh.select(col(key), col("sz"), explode(col("sh")).as("shingle"))
    // Global rarest-first order; ties broken by shingle hash so the
    // prefix choice is deterministic (PPJoin exactness holds for any
    // total order). The inverted index and candidate join key on the
    // 8-byte hash, not the shingle string.
    val freq = inv.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col("df").asc, col("shingle").asc)
    val prefix = inv.join(freq, "shingle")
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= floor((lit(1.0) - threshold) * col("sz")) + 1)
      .select(col(key), col("shingle"))
    val a = prefix.select(col(key).as("key_a"), col("shingle"))
    val b = prefix.select(col(key).as("key_b"), col("shingle"))
    val cands = a.join(b, Seq("shingle"))
      .filter(col("key_a") < col("key_b"))
      .select(col("key_a"), col("key_b"))
      .distinct()
    verifyJaccard(cands, withSh.select(col(key), col("sh")), key, threshold)
      .withColumnRenamed("key_a", "doc_a").withColumnRenamed("key_b", "doc_b")
  }

  /** Exact n-gram CONTAINMENT pairs: directed (a → b) where
    * |sh(a) ∩ sh(b)| / |sh(a)| ≥ threshold — the asymmetric near-dup
    * relation that catches a document EMBEDDED in a larger one, which
    * symmetric Jaccard misses (a 100-line doc pasted into a 10,000-line
    * doc has Jaccard ≈ 0.01 but containment ≈ 1.0). The quote/boilerplate
    * -inclusion screen of a curation pipeline.
    *
    * Shape: full inverted index on shingle hashes; the index self-join
    * yields each shared shingle once per (a,b) (shingle sets are
    * distinct), so `count(*)` per pair IS the exact intersection size —
    * no arrays cross the shuffle, no verify pass needed. Cost is
    * Σ_shingle df² candidate rows (the canonical set-similarity
    * inverted-index bound); unlike Jaccard, containment admits no
    * B-side prefix filter (b may be any superset), so the index is
    * complete — callers on web-scale corpora should cap pathological
    * shingle document-frequencies (boilerplate shingles) upstream.
    */
  def containmentPairs(docs: DataFrame, key: String, text: String,
                       shingleSize: Int = 3, threshold: Double = 0.5): DataFrame = {
    val withSh = shingleSets(docs, key, text, shingleSize)
      .withColumn("sz", size(col("sh")).cast("long"))
    val inv = withSh.select(col(key), explode(col("sh")).as("shingle"))
    val a = inv.select(col(key).as("doc_a"), col("shingle"))
    val b = inv.select(col(key).as("doc_b"), col("shingle"))
    val inter = a.join(b, Seq("shingle"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val ppm = math.round(threshold * 1000000L)
    inter.join(withSh.select(col(key).as("doc_a"), col("sz")), "doc_a")
      .select(col("doc_a"), col("doc_b"),
        expr("1000000 * inter DIV sz").as("cont_ppm"))
      .filter(col("cont_ppm") >= ppm)
  }

  /** Incremental near-dedup: find near-duplicate pairs BETWEEN a new
    * batch and an existing corpus (not within either side) — the
    * production ingest shape: each arriving batch is checked against the
    * accumulated corpus without re-pairing the corpus with itself. Same
    * LSH banding; the band join is new×corpus instead of a self-join, so
    * cost scales with |new|, not |corpus|².
    */
  def incrementalNearDups(corpus: DataFrame, fresh: DataFrame, key: String,
                          text: String, numHashes: Int = 32, rowsPerBand: Int = 2,
                          shingleSize: Int = 3, threshold: Double = 0.5): DataFrame = {
    val corpusSh = shingleSets(corpus, key, text, shingleSize)
    val freshSh = shingleSets(fresh, key, text, shingleSize)
    def banded(sh: DataFrame) =
      bandBuckets(minhashSignatures(sh, key, numHashes), key, numHashes, rowsPerBand)
    val corpusBands = banded(corpusSh)
      .select(col(key).as("key_a"), col("band"), col("bucket"))
    val freshBands = banded(freshSh)
      .select(col(key).as("key_b"), col("band"), col("bucket"))
    val cands = corpusBands.join(freshBands, Seq("band", "bucket"))
      .select(col("key_a"), col("key_b")).distinct()
    verifyJaccard(cands, corpusSh.unionByName(freshSh).distinct(), key, threshold)
      .withColumnRenamed("key_a", "corpus_doc").withColumnRenamed("key_b", "new_doc")
  }

  /** Benchmark decontamination report: for every training document, its
    * overlap with an evaluation corpus measured in shared distinct
    * n-gram shingles — the n-gram contamination check run before every
    * training launch (the GPT-3 appendix-C / PaLM style: a training doc
    * sharing enough n-grams with a benchmark is dropped or flagged).
    * Only contaminated docs (≥1 shared shingle) are returned, with the
    * number of distinct eval docs hit and distinct shared shingles.
    *
    * Scale shape: the overlap is an inverted-index equi join keyed on
    * the 8-byte shingle hash ([[graft.functions.shingleHashes]]), never a
    * doc×doc product. Eval corpora are benchmark-sized (≪ training corpus), so
    * the exploded eval shingle table is broadcast and the 100 TB train
    * side streams map-side; the only shuffle is the per-doc aggregate.
    */
  def contaminationReport(train: DataFrame, evalSet: DataFrame, key: String,
                          text: String, shingleSize: Int = 3): DataFrame = {
    def shingleTable(df: DataFrame, keyAs: String) =
      df.select(col(key), col(text))
        .withColumn("toks", split(col(text), " "))
        .select(col(key).as(keyAs),
          explode(shingleHashes(col("toks"), shingleSize)).as("sh"))
    val ev = shingleTable(evalSet, "eval_id")
    shingleTable(Par.fanOut(train), key)
      .join(broadcast(ev), "sh")
      .groupBy(col(key))
      .agg(countDistinct(col("eval_id")).as("n_eval_docs"),
        countDistinct(col("sh")).as("n_shared_shingles"))
  }

  /** Number of 16-bit chunks in a simhash signature. */
  val SimhashChunks = 4

  /** Per-doc simhash as 4 × 16-bit chunk columns sh0..sh3, built from
    * md5-derived token hashes (md5 so the DuckDB oracle can mirror the
    * construction bit-for-bit). Token multiplicity is kept (standard
    * frequency-weighted simhash). Computed map-side in one pass by
    * [[graft.functions.SimhashSignature]] — the earlier explode +
    * 64-column groupBy-sum formulation shuffled every token to rebuild
    * per-doc groups the input already had.
    */
  def simhashChunks(docs: DataFrame, key: String, text: String): DataFrame = {
    val withSig = docs
      .withColumn("toks", split(col(text), " "))
      .withColumn("sig", simhash(col("toks")))
    withSig.select(col(key) +:
      (0 until SimhashChunks).map(c => col("sig").getItem(c).as(s"sh$c")): _*)
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming (must be
    * < SimhashChunks for exactness): chunk-equality bucket join generates
    * candidates (pigeonhole guarantees recall), exact hamming verifies.
    */
  def simhashPairs(docs: DataFrame, key: String, text: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming < SimhashChunks, "pigeonhole exactness needs h < #chunks")
    val sigs = simhashChunks(Par.fanOut(docs.select(col(key), col(text))), key, text)
    val banded = sigs.select(col(key),
      posexplode(array((0 until SimhashChunks).map(c => col(s"sh$c")): _*))
        .as(Seq("band", "bucket")))
    val a = banded.select(col(key).as("doc_a"), col("band"), col("bucket"))
    val b = banded.select(col(key).as("doc_b"), col("band"), col("bucket"))
    val cands = a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val sa = sigs.select(col(key).as("doc_a") +:
      (0 until SimhashChunks).map(c => col(s"sh$c").as(s"a$c")): _*)
    val sb = sigs.select(col(key).as("doc_b") +:
      (0 until SimhashChunks).map(c => col(s"sh$c").as(s"b$c")): _*)
    val hamming = (0 until SimhashChunks).map(c =>
      bit_count(col(s"a$c").bitwiseXOR(col(s"b$c")))).reduce(_ + _)
    cands.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Connected components by alternating large-star/small-star (Kiveris
    * et al., "Connected Components in MapReduce and Beyond") — converges
    * in O(log n) rounds regardless of graph diameter, where the plain
    * min-label propagation in [[connectedComponents]] needs O(diameter)
    * rounds. Use this variant when components can be long chains (linked
    * records, citation trails); both return identical labels.
    *
    * Each round is two groupBy-min passes over the edge list, no
    * neighborhood materialization: the per-node minimum is an aggregate,
    * and the re-linked edges come from joining that minimum back to the
    * original edges — hub nodes never collect their neighbor lists.
    */
  def connectedComponentsStar(edges: DataFrame, aCol: String, bCol: String,
                              maxIter: Int = 35): DataFrame = {
    val spark = edges.sparkSession
    import org.apache.spark.sql.DataFrame

    def sym(e: DataFrame): DataFrame =
      e.select(col("a"), col("b"))
        .union(e.select(col("b").as("a"), col("a").as("b")))

    // large-star: every edge (u,v) with v>u re-links v to
    // m(u) = min(Γ(u) ∪ {u}); small-star: every edge with v≤u re-links v
    // to m≤(u) = min over u's ≤-neighbors and u itself, and links u too.
    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val mins = s.groupBy(col("a").as("u"))
        .agg(least(min(col("b")), first(col("a"))).as("m"))
      // no distinct here (r16): smallStar's terminal distinct dedups the
      // round's output anyway — duplicates only pass through its min
      // aggregate (unaffected) and relink join (multiplicity ≤ the sym
      // fan), so the intermediate dedup was one pure Exchange per round
      s.filter(col("b") > col("a"))
        .join(mins, col("a") === col("u"))
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val s = sym(e).filter(col("b") <= col("a"))
      val mins = s.groupBy(col("a").as("u")).agg(min(col("b")).as("m"))
      val relinked = s.join(mins, col("a") === col("u"))
        .select(col("b").as("a"), col("m").as("b"))
      val self = mins.select(col("u").as("a"), col("m").as("b"))
      relinked.union(self).filter(col("a") =!= col("b")).distinct()
    }

    var cur = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint(true)
    var curCount = cur.count()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val next = smallStar(largeStar(cur)).localCheckpoint(true)
      // Set equality in ONE job instead of two exceptAll passes: both
      // sides are distinct() outputs, so |next| = |cur| = |next ∪ cur|
      // ⟺ the sets are equal (the union-distinct count reuses the two
      // checkpointed inputs; exceptAll planned a hash-join-shaped
      // anti-diff twice per round — measured as the dominant fixed cost
      // per CC round on converged-size graphs).
      val nextCount = next.count()
      converged = nextCount == curCount &&
        next.union(cur).distinct().count() == curCount
      cur = next
      curCount = nextCount
      i += 1
    }
    // Unconverged labels are silently WRONG (nodes still point at
    // non-minimum hubs) and would poison every downstream keep/drop
    // decision — fail loudly rather than return them.
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar did not converge within maxIter=$maxIter rounds; " +
        "raise maxIter (rounds needed is O(log n) in component size)")
    // converged state is a star forest: every edge points node → hub (the
    // component minimum); hubs label themselves
    val nodes = sym(cur).select(col("a").as("node"), col("b"))
      .groupBy(col("node")).agg(least(min(col("b")), first(col("node"))).as("component"))
    nodes
  }

  /** Connected components over an undirected edge list — the step that
    * turns pairwise near-dup edges into duplicate CLUSTERS (keep the
    * canonical member, drop the rest). Iterative min-label propagation:
    * each round every node takes the minimum label among itself and its
    * neighbors, converging in O(diameter) rounds — near-dup clusters are
    * small and dense, so the diameter is tiny. Each round is one
    * edges⋈labels shuffle + a partial-agg min; lineage is cut per round
    * (localCheckpoint) so plans stay bounded. For adversarial
    * long-diameter graphs use [[connectedComponentsStar]] — same join
    * shape, O(log n) rounds.
    *
    * Returns (node, component) with component = min node id reachable;
    * only nodes that appear in `edges` are returned.
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25): DataFrame = {
    val both = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = both.select(col("src").as("node")).distinct()
      .withColumn("component", col("node"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val msgs = both.join(labels, both("src") === labels("node"))
        .select(col("dst").as("node"), col("component"))
      val next = labels.union(msgs)
        .groupBy(col("node")).agg(min(col("component")).as("component"))
        .localCheckpoint(true)
      converged = next.join(labels.withColumnRenamed("component", "old"), "node")
        .filter(col("component") =!= col("old")).isEmpty
      labels = next
      i += 1
    }
    both.unpersist()
    // min-label propagation needs O(component diameter) rounds; a
    // diameter > maxIter graph would get silently wrong labels here —
    // fail loudly and point at the O(log n) alternative.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within maxIter=$maxIter rounds " +
        "(component diameter exceeds the cap); raise maxIter or use " +
        "connectedComponentsStar, which converges in O(log n) rounds")
    labels
  }
}
