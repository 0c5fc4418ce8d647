package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, Similarity, TextStats}

class LlmOpsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** IVFADC build + search at one probe width — the whole algorithm,
    * `(q_id, n_id, rnk, d2)`. */
  private def ivfPqTopK(corpus: org.apache.spark.sql.DataFrame,
                        queries: org.apache.spark.sql.DataFrame,
                        nprobe: Int, shortlist: Int = 50) = {
    val (postings, cb) = Similarity.ivfPqBuild(corpus, "vec_id", "embedding",
      dims = 64, cells = 16, m = 8, ks = 16, refineIters = 1)
    Similarity.ivfPqSearch(postings, cb, corpus, queries, "vec_id",
        "embedding", k = 5, dims = 64, cells = 16, m = 8, Seq(nprobe),
        shortlist)
      .select($"q_id", $"n_id", $"rnk", $"d2")
  }

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 0
    (2L, "completely different content about spark engines here"),
    (3L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 0
    (4L, "one two")                                        // < shingle size
  ).toDF("doc_id", "text")

  test("exactDedup collapses identical texts to the lowest key") {
    val got = Dedup.exactDedup(docs, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((0L, 2L), (1L, 1L), (2L, 1L), (4L, 1L)))
  }

  test("minhashLshPairs finds near and exact dups, not unrelated docs") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)))          // exact dup: J = 1
    assert(pairs.contains((0L, 1L)))          // near dup: 6/8 shingles shared
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
    // recall audit: the exact n-gram pipeline shares the minhash key's
    // oracle (Jaccard >= 0.5), so on the sf0.01 corpus the banded LSH
    // must miss no pair and admit none
    val sf01 = sf.replace("sf0.001", "sf0.01")
    val lsh = SparkEntry.queries("q_dedup_minhash")(spark, sf01)
    val exact = SparkEntry.queries("q_dedup_ngram")(spark, sf01)
    assert(lsh.columns.toSeq == exact.columns.toSeq)
    val (l, e) = (lsh.collect().toSet, exact.collect().toSet)
    assert(e.nonEmpty && l == e, s"missed ${(e -- l).take(5)}; extra ${(l -- e).take(5)}")
  }

  test("simhashPairs: identical docs have hamming 0; unrelated docs excluded") {
    val got = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Int)].collect()
    val h03 = got.find(r => r._1 == 0L && r._2 == 3L)
    assert(h03.exists(_._3 == 0))
    assert(!got.exists(r => r._1 == 2L || r._2 == 2L))
  }

  test("ngramJaccardPairs computes exact jaccard in millionths") {
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.3)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got((0L, 3L)) == 1000000L)
    // docs 0/1: 9 tokens → 7 shingles each, 6 shared → J = 6/8 = 0.75
    assert(got((0L, 1L)) == 750000L)
  }

  test("cosine: identical vectors → 1, orthogonal → 0") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)), (3L, Array(0.0f, 2.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.cosinePairs(df, "vec_id", "embedding", threshold = -2.0)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs((1L, 2L)) == 1000000L)
    assert(pairs((1L, 3L)) == 0L)
  }

  test("bruteForceTopK ranks nearest first with deterministic tie-break") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(1.0f, 0.05f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(df, df.filter($"vec_id" === 0), "vec_id", "embedding", 2)
      .orderBy($"rnk").as[(Long, Long, Int, Long)].collect().toSeq
    assert(got.map(_._2) == Seq(3L, 1L)) // 3 is closer to 0 than 1 is
  }

  test("ivfTopK returns k rows per query with plausible neighbors") {
    val emb = graft.model.Tables.embeddings(spark, sf)
    val got = SparkEntry.queries("q_ann_ivf")(spark, sf)
    val counts = got.groupBy($"q_id").count().as[(Long, Long)].collect().toMap
    assert(counts.values.forall(_ == 5L))
    assert(counts.size == 20)
  }

  test("ivfTopK recall vs brute force") {
    val emb = graft.model.Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // measured 0.94 with the default cells=16/nprobe=4 on the sf0.01
    // embeddings; 0.8 matches the LSH spec's bound
    assert(recall >= 0.8, s"IVF recall $recall too low")

    // Lloyd-refined centroids must stay at least as usable: the refined
    // index meets the same recall bound (and keeps the output shape)
    val refined = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
        k = 5, refineIters = 2)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val refinedRecall = (exact & refined).size.toDouble / exact.size
    assert(refinedRecall >= 0.8, s"refined IVF recall $refinedRecall too low")
  }

  test("pqTopK recall vs exact L2 brute force") {
    // PQ approximates L2, so the ground truth is the exact-L2 top-k,
    // not the cosine ranking the other ANN tiers target
    val emb = graft.model.Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopKL2(emb, queries, "vec_id", "embedding", k = 5)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
        k = 5, dims = 64, m = 8, ks = 16)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    assert(approx.groupBy(_._1).forall(_._2.size == 5))
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"PQ recall@5 vs exact L2: $recall")
    // measured 0.88 with m=8/ks=16/1 Lloyd round/shortlist=50 on the
    // near-random sf0.01 embeddings (ADC alone reads 0.22 — distance
    // concentration; the exact re-rank of the shortlist is what makes
    // the operator usable, exactly the FAISS refine design)
    assert(recall >= 0.7, s"PQ recall $recall too low")
  }

  test("ivfPqTopK (IVFADC) recall vs exact L2 brute force") {
    val emb = graft.model.Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopKL2(emb, queries, "vec_id", "embedding", k = 5)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val approx = ivfPqTopK(emb, queries, nprobe = 4)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    // nprobe=4 of 16 cells prunes ~3/4 of the corpus before the ADC
    // scan, so recall is bounded by the coarse stage's cell hit rate on
    // this near-random corpus; the residual-PQ + exact-refine stack
    // must still recover most of the exact set from the probed quarter
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"IVFADC recall@5 vs exact L2: $recall")
    assert(recall >= 0.5, s"IVFADC recall $recall too low")
    assert(approx.groupBy(_._1).forall(_._2.size == 5))
    // exhaustive probe (nprobe = cells) removes the coarse pruning, so
    // the only loss left is the PQ shortlist — must meet pqTopK's bound
    val exhaustive = ivfPqTopK(emb, queries, nprobe = 16)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val exRecall = (exact & exhaustive).size.toDouble / exact.size
    info(s"IVFADC exhaustive-probe recall@5: $exRecall")
    assert(exRecall >= 0.7, s"exhaustive IVFADC recall $exRecall too low")
  }

  test("q_ann_ivfpq_read (durable index) equals q_ann_ivfpq (rebuild), derivation runs once") {
    val rebuild = SparkEntry.queries("q_ann_ivfpq")(spark, sf)
      .as[(Long, Long, Int, Long)].collect().toSet
    val before = graft.queries.LlmSimOps.annIndexDerivations.get()
    val read1 = SparkEntry.queries("q_ann_ivfpq_read")(spark, sf)
      .as[(Long, Long, Int, Long)].collect().toSet
    val read2 = SparkEntry.queries("q_ann_ivfpq_read")(spark, sf)
      .as[(Long, Long, Int, Long)].collect().toSet
    val after = graft.queries.LlmSimOps.annIndexDerivations.get()
    assert(read1 == rebuild,
      s"index read path diverged from rebuild: ${(read1 diff rebuild).take(3)}")
    assert(read2 == read1, "second read not reproducible")
    assert(after - before <= 1,
      s"ANN index derived ${after - before} times for two reads — " +
        "the durable table must build once per (session, dir)")
  }

  test("ivfPqTopK is partition-invariant (exact BIGINT lattice claim)") {
    // the scaladoc claims every stage is order-independent under any
    // partitioning — prove it: a deliberately odd repartitioning of the
    // corpus must yield row-identical results (ties, means, ADC sums
    // and all). This is the property that lets the committed oracle
    // restate the algorithm at all.
    val emb = graft.model.Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 10)
    def run(c: org.apache.spark.sql.DataFrame) =
      ivfPqTopK(c, queries, nprobe = 4)
        .as[(Long, Long, Int, Long)].collect().toSet
    val base = run(emb)
    val shuffled = run(emb.repartition(7, $"label"))
    assert(base == shuffled,
      s"partitioning changed IVFADC output: ${(base diff shuffled).take(3)}")
  }

  test("cosinePairsBlocked: exact-cosine subset of all-pairs with high recall") {
    val emb = graft.model.Tables.embeddings(spark, sf)
    val exact = Similarity.cosinePairs(emb, "vec_id", "embedding", threshold = 0.4)
      .as[(Long, Long, Long)].collect().toSet
    val blocked = Similarity
      .cosinePairsBlocked(emb, "vec_id", "embedding", threshold = 0.4)
      .as[(Long, Long, Long)].collect().toSet
    // every blocked pair carries the EXACT cosine (verify step), so the
    // blocked result must be a subset of the exact all-pairs result
    assert(blocked.subsetOf(exact), s"${(blocked -- exact).take(3)}")
    // measured 0.939 on the sf0.001 corpus — the zero-margin worst case
    // (pairs planted at the 0.4 threshold); see cosinePairsBlocked docs
    val recall = blocked.size.toDouble / exact.size
    assert(recall >= 0.9, s"blocked recall $recall (${blocked.size}/${exact.size})")
  }

  test("ivfTopK with nprobe = cells degenerates to exact brute force") {
    val emb = graft.model.Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .as[(Long, Long, Int, Long)].collect().toSet
    val exhaustive = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
        k = 5, cells = 16, nprobe = 16)
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(exhaustive == exact)
  }

  test("lshTopK recall vs brute force is high and output shape matches") {
    val emb = graft.model.Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 10)
    val exact = graft.ops.Similarity
      .bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val approx = graft.ops.Similarity
      .lshTopK(emb, queries, "vec_id", "embedding", k = 5,
        bands = 16, bitsPerBand = 4)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall too low (found ${approx.size})")
  }

  /** Shared body for the larger-scale recall pins: the sf0.001 bounds
    * above could mask a recall cliff that only appears when cells/bands
    * carve a larger corpus — pin the same ≥0.8 floor at every harness
    * scale so index parameters that only work at toy scale can't land.
    */
  private def recallAt(dir: String): Unit = {
    val emb = graft.model.Tables.embeddings(spark, dir)
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val ivfRecall = (exact & ivf).size.toDouble / exact.size
    assert(ivfRecall >= 0.8, s"IVF recall $ivfRecall too low at $dir")
    val lsh = Similarity.lshTopK(emb, queries, "vec_id", "embedding", k = 5,
        bands = 16, bitsPerBand = 4)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val lshRecall = (exact & lsh).size.toDouble / exact.size
    assert(lshRecall >= 0.8, s"LSH recall $lshRecall too low at $dir")
  }

  test("IVF and LSH recall hold at the sf0.01 scale") {
    recallAt("/root/testdata/sf0.01")
  }

  test("IVF and LSH recall hold at the sf0.1 bench scale") {
    recallAt("/root/testdata/sf0.1")
  }

  test("lshTopK on an empty corpus returns an empty frame with the output schema") {
    val emb = graft.model.Tables.embeddings(spark, sf)
    val got = graft.ops.Similarity.lshTopK(
      emb.filter($"vec_id" < 0), emb.filter($"vec_id" < 10), "vec_id", "embedding", k = 5)
    assert(got.columns.toSeq == Seq("q_id", "n_id", "rnk", "cos_e6"))
    assert(got.count() == 0)
  }

  test("lshTopK empty path: all-null vectors and mixed key types") {
    import org.apache.spark.sql.functions.{col, lit}
    val emb = graft.model.Tables.embeddings(spark, sf)
    // a corpus whose rows exist but whose vectors are all null has no
    // dimensionality — must hit the empty branch, not NPE on the probe
    val nullVec = emb.limit(3).withColumn(
      "embedding", lit(null).cast("array<float>"))
    // queries key is STRING while corpus key is BIGINT: the empty-path
    // schema must type q_id from the queries frame, n_id from the corpus
    val qStr = emb.filter($"vec_id" < 5).withColumn("vec_id", col("vec_id").cast("string"))
    val got = graft.ops.Similarity.lshTopK(nullVec, qStr, "vec_id", "embedding", k = 3)
    assert(got.count() == 0)
    assert(got.schema("q_id").dataType == org.apache.spark.sql.types.StringType)
    assert(got.schema("n_id").dataType == org.apache.spark.sql.types.LongType)
  }

  test("connectedComponents fails loudly instead of returning unconverged labels") {
    // chain of diameter 5 with maxIter=2 cannot converge
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      graft.ops.Dedup.connectedComponents(edges, "doc_a", "doc_b", maxIter = 2).collect()
    }
    assert(e.getMessage.contains("maxIter=2"))
  }

  test("langId predicts deterministically with tie-break on language order") {
    val df = Seq((1L, "the a order table", "en"), (2L, "xyz", "de"))
      .toDF("doc_id", "text", "lang")
    val got = TextStats.langId(df, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, String, String, Int)].collect().toSeq
    assert(got(0)._3 == "en" && got(0)._4 == 4)
    assert(got(1)._3 == "de" && got(1)._4 == 0) // all-zero tie → first lang
  }

  test("fingerprints: permuted doc shares no text_md5 but exact dup does") {
    val df = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "d c b a"))
      .toDF("doc_id", "text")
    val got = TextStats.fingerprints(df, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, String, String)].collect()
    assert(got(0)._2 == got(1)._2 && got(0)._3 == got(1)._3)
    assert(got(0)._2 != got(2)._2)
  }

  test("connectedComponents labels a chain, a triangle, and leaves them apart") {
    // chain 1-2-3-4 (diameter 3, needs >1 propagation round) + triangle 7-8-9
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L),
      (7L, 8L), (8L, 9L), (7L, 9L)).toDF("doc_a", "doc_b")
    val got = graft.ops.Dedup.connectedComponents(edges, "doc_a", "doc_b")
      .orderBy($"node").as[(Long, Long)].collect().toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("connectedComponentsStar matches propagation and handles a 300-chain in O(log n) rounds") {
    // same toy graph → identical labels
    val toy = Seq((2L, 1L), (2L, 3L), (3L, 4L),
      (7L, 8L), (8L, 9L), (7L, 9L)).toDF("doc_a", "doc_b")
    val naive = graft.ops.Dedup.connectedComponents(toy, "doc_a", "doc_b")
      .orderBy($"node").as[(Long, Long)].collect().toSeq
    val star = graft.ops.Dedup.connectedComponentsStar(toy, "doc_a", "doc_b")
      .orderBy($"node").as[(Long, Long)].collect().toSeq
    assert(star == naive)

    // a 300-node chain with shuffled ids: diameter 299, so min-label
    // propagation would need ~299 rounds — star must finish within 12
    val perm = new scala.util.Random(7).shuffle((0L until 300L).toVector)
    val chain = perm.sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("doc_a", "doc_b")
    val labels = graft.ops.Dedup.connectedComponentsStar(
        chain, "doc_a", "doc_b", maxIter = 12)
      .as[(Long, Long)].collect()
    assert(labels.length == 300)
    assert(labels.forall(_._2 == 0L), "single chain collapses to min id 0")
  }

  test("dedup cluster-table derivation runs at most once across cluster keys") {
    // Both cluster consumers read the durable cluster-assignment table;
    // only the FIRST over a (dir) may pay the minhash-LSH + connected
    // components pipeline. (≤ 1, not == 1: an earlier suite in this JVM
    // may already have landed the table.)
    val before = graft.queries.LlmDedupOps.clusterDerivations.get()
    SparkEntry.queries("q_dedup_clusters")(spark, sf).count()
    SparkEntry.queries("q_dedup_representatives")(spark, sf).count()
    val after = graft.queries.LlmDedupOps.clusterDerivations.get()
    assert(after - before <= 1, s"cluster derivations ran ${after - before}×")
  }

  test("match-pair derivation runs at most once across fuzzy/entity keys") {
    // Both match consumers read the durable match-pair table; only the
    // FIRST over a (dir) may pay the blocked levenshtein verify join.
    val before = graft.queries.LlmSimOps.matchPairDerivations.get()
    SparkEntry.queries("q_fuzzy_match")(spark, sf).count()
    SparkEntry.queries("q_entity_clusters")(spark, sf).count()
    val after = graft.queries.LlmSimOps.matchPairDerivations.get()
    assert(after - before <= 1, s"match-pair derivations ran ${after - before}×")
  }

  test("contaminationReport flags only train docs sharing shingles with eval") {
    // eval = doc 0; train doc 3 is an exact dup (all shingles shared),
    // doc 1 shares 6 of its 7 shingles, doc 2 shares none, doc 4 has no
    // 3-shingle at all.
    val evalSet = docs.filter($"doc_id" === 0L)
    val train = docs.filter($"doc_id" =!= 0L)
    val got = Dedup.contaminationReport(train, evalSet, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L, 6L), (3L, 1L, 7L)))
  }

  test("repetitionMetrics measures dup-token and top-bigram fractions") {
    val d = Seq(
      (1L, "a b c d"),          // all distinct, every bigram unique
      (2L, "x x x x"),          // 3/4 dup tokens, sole bigram "x x" = 100%
      (3L, "solo")              // <2 tokens: excluded
    ).toDF("doc_id", "text")
    val got = TextStats.repetitionMetrics(d, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, 333333L, false),       // top bigram 1/3 > 0.18 threshold
      (2L, 750000L, 1000000L, false)))
  }

  test("stratifiedSample takes exactly perStratum per group, deterministically") {
    val d = (0L until 20L).map(i => (i, if (i < 15) "en" else "de"))
      .toDF("doc_id", "lang")
    val got = TextStats.stratifiedSample(d, "doc_id", "lang", 4)
    val counts = got.groupBy($"lang").count().as[(String, Long)].collect().toMap
    assert(counts == Map("en" -> 4L, "de" -> 4L))
    // deterministic: same rows on a second evaluation
    val a = got.orderBy($"lang", $"rn").collect().toSeq
    val b = TextStats.stratifiedSample(d, "doc_id", "lang", 4)
      .orderBy($"lang", $"rn").collect().toSeq
    assert(a == b)
  }

  test("q_bigram_lm: conditional probabilities partition each context word") {
    val rows = SparkEntry.queries("q_bigram_lm")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (w1, grp) =>
      val outN = grp.head._3
      assert(grp.forall(_._3 == outN), s"$w1: inconsistent out_n")
      assert(grp.map(_._2).sum == outN,
        s"$w1: bigram counts must sum to the context total")
      // floored millionths: each p in (0, 1e6], sum within flooring slack
      assert(grp.forall(t => t._4 > 0 && t._4 <= 1000000L))
      val pSum = grp.map(_._4).sum
      assert(pSum > 1000000L - grp.length && pSum <= 1000000L,
        s"$w1: floored probabilities sum to $pSum over ${grp.length} pairs")
    }
  }

  test("q_dup_rate_by_source: per-source counts conserve corpus and cluster members") {
    val rows = SparkEntry.queries("q_dup_rate_by_source")(spark, sf).collect()
    val corpus = graft.model.Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == corpus, "sources must partition the corpus")
    // total duplicates across sources = members of all size>1 clusters
    val dupMembers = SparkEntry.queries("q_cluster_sizes")(spark, sf).collect()
      .filter(_.getLong(0) > 1L).map(r => r.getLong(0) * r.getLong(1)).sum
    assert(rows.map(_.getLong(2)).sum == dupMembers,
      "per-source dup counts must re-sum the size>1 cluster membership")
    rows.foreach(r => assert(r.getLong(3) <= 1000000L))
  }

  test("q_cross_source_overlap: shared vocab bounded by each side; Jaccard sane") {
    val rows = SparkEntry.queries("q_cross_source_overlap")(spark, sf).collect()
    assert(rows.nonEmpty, "no source pair shares any shingle")
    rows.foreach { r =>
      val (shared, na, nb, jac) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(r.getString(0) < r.getString(1), "pairs must be ordered, no mirrors")
      assert(shared <= math.min(na, nb), "intersection exceeds a side")
      assert(jac == 1000000L * shared / (na + nb - shared))
    }
  }

  test("q_tokenizer_fertility: languages partition the corpus; ratios invert") {
    val rows = SparkEntry.queries("q_tokenizer_fertility")(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum ==
      graft.model.Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val (toks, bytes) = (r.getLong(2), r.getLong(3))
      assert(toks > 0L && bytes > 0L)
      assert(r.getLong(4) == 1000000L * toks / bytes)
      assert(r.getLong(5) == 1000L * bytes / toks)
    }
  }

  test("q_dim_corr: one row per dimension pair, correlations bounded, sign matches covariance") {
    val rows = SparkEntry.queries("q_dim_corr")(spark, sf).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    val dims = graft.model.Tables.embeddings(spark, sf)
      .select(size(col("embedding"))).first().getInt(0)
    assert(rows.size == dims * (dims - 1) / 2, "missing dimension pairs")
    assert(rows.values.forall(c => c >= -1000001L && c <= 1000000L))
    // floor(corr·1e6) and floor(cov·1e9) may straddle zero by one ulp's
    // floor; require sign agreement only where both are decisively off 0
    val cov = SparkEntry.queries("q_covariance_matrix")(spark, sf).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    rows.foreach { case (k, c) =>
      val v = cov(k)
      if (math.abs(c) > 10 && math.abs(v) > 10)
        assert(c.sign == v.sign, s"pair $k: corr $c vs cov $v sign mismatch")
    }
  }

  test("q_entity_clusters: canonical ids are minimal and matched pairs co-resolve") {
    val ent = SparkEntry.queries("q_entity_clusters")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val nParts = graft.model.Tables.part(spark, sf).count()
    assert(ent.size.toLong == nParts, "every part needs an entity id")
    assert(ent.forall { case (p, e) => e <= p }, "canonical id must be minimal")
    // every fuzzy-match edge must resolve both endpoints to one entity
    val pairs = SparkEntry.queries("q_fuzzy_match")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (a, b) => ent(a) == ent(b) },
      "matched pair split across entities")
  }

  test("deterministic samplers: fixed size bottom-k, weight-monotone Bernoulli") {
    val k = SparkEntry.queries("q_sample_bottomk")(spark, sf).collect()
    assert(k.length == 100)
    assert(k.map(_.getString(1)).sorted.toSeq == k.map(_.getString(1)).toSeq.sorted)
    // same rows on re-evaluation (no RNG state anywhere)
    val k2 = SparkEntry.queries("q_sample_bottomk")(spark, sf).collect()
    assert(k.map(_.getLong(0)).toSet == k2.map(_.getLong(0)).toSet)
    val w = SparkEntry.queries("q_weighted_sample")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(w.nonEmpty)
    w.foreach { case (id, nChars, u, wp) =>
      assert(u < wp, s"doc $id kept with draw $u >= weight $wp")
      assert(wp == math.min(1000000L, nChars * 2000L))
    }
  }

  test("q_heaps_law: deciles partition the corpus; curve totals close on direct counts") {
    val rows = SparkEntry.queries("q_heaps_law")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == (0L to 9L))
    val docs = graft.model.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("text")).collect()
      .map(_.getString(0))
    assert(rows.map(_._2).sum == docs.length.toLong)
    val allToks = docs.flatMap(_.split(" ", -1)).filter(_.nonEmpty)
    assert(rows.last._3 == allToks.length.toLong,
      s"final cum_tokens ${rows.last._3} vs ${allToks.length}")
    assert(rows.last._4 == allToks.distinct.length.toLong,
      s"final cum_vocab ${rows.last._4} vs ${allToks.distinct.length}")
    // both curves are running sums — non-decreasing
    assert(rows.sliding(2).forall(p => p(1)._3 >= p(0)._3 && p(1)._4 >= p(0)._4))
  }

  test("q_zipf_slope: negative power-law exponent matching a plain-Scala OLS recompute") {
    val r0 = SparkEntry.queries("q_zipf_slope")(spark, sf).collect().head
    val n = r0.getLong(0)
    val slope = r0.getLong(1) / 1e6
    assert(slope < 0.0, s"rank-frequency slope $slope not negative")
    val tf = graft.model.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("text")).collect()
      .flatMap(_.getString(0).split(" ", -1)).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => (w, ws.length.toLong) }
      .toArray.sortBy { case (w, f) => (-f, w) }.take(1000)
    assert(n == tf.length.toLong)
    val pts = tf.zipWithIndex.map { case ((_, f), i) =>
      (math.floor(1e6 * math.log(i + 1.0)), math.floor(1e6 * math.log(f.toDouble))) }
    val nn = pts.length.toDouble
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum; val sxx = pts.map(p => p._1 * p._1).sum
    val ols = (nn * sxy - sx * sy) / (nn * sxx - sx * sx)
    assert(math.abs(slope - ols) < 1e-3, s"slope $slope vs recompute $ols")
  }

  test("IVFADC delete lifecycle: tombstone-read ≡ compacted-read, old version time-travels, stats drop") {
    val emb = graft.model.Tables.embeddings(spark, sf)
    val (postings, _) = Similarity.ivfPqBuild(emb, "vec_id", "embedding",
      dims = 64, cells = 16, m = 8, ks = 16, refineIters = 1)
    val tombs = emb.filter($"vec_id" % 7 === 3).select($"vec_id".as("n_id"))
    val dir = java.nio.file.Files.createTempDirectory("ann_del").toString

    // v0: the live index (unpartitioned, like _derive_ann_index)
    assert(graft.ops.Sinks.writeVersioned(postings, dir) == 0L)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int, Long)] =
      df.select($"cell_id".cast("long"), $"n_id", $"sub", $"cid")
        .as[(Long, Long, Int, Long)].collect().toSet
    val v0 = graft.ops.Sinks.readVersioned(spark, dir)
    val all = rows(v0)
    val deadIds = tombs.as[Long].collect().toSet
    assert(deadIds.nonEmpty && all.exists(p => deadIds(p._2)),
      "fixture must tombstone vectors that are actually indexed")

    // while tombstones accumulate: the anti-join read form
    val visible = rows(graft.ops.AnnIndexLifecycle.applyTombstones(v0, tombs))
    assert(visible == all.filterNot(p => deadIds(p._2)),
      "tombstone read must hide exactly the deleted vectors' postings")

    // ~14% dead: below a 50% compaction bar, above a 5% one. The
    // decision reads the maintained cell-stats table (the
    // q_ivfpq_cell_stats statement) + the registration-time hit count
    // — never the postings (r14, VERDICT r13 #8)
    val cellStats = v0.select($"cell_id", $"n_id").distinct()
      .groupBy($"cell_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_members"))
    val deadMembers = graft.ops.AnnIndexLifecycle.tombstoneHits(v0, tombs)
    assert(deadMembers == all.map(_._2).toSet.count(deadIds),
      "registration-time hit count must equal the indexed ∩ tombstoned set")
    assert(!graft.ops.AnnIndexLifecycle.shouldCompact(cellStats, deadMembers, 0.5))
    assert(graft.ops.AnnIndexLifecycle.shouldCompact(cellStats, deadMembers, 0.05))

    // compaction lands the survivors as v1; v0 stays readable by number
    // (the erasure audit trail)
    assert(graft.ops.AnnIndexLifecycle.compactVersioned(spark, dir, v0, tombs) == 1L)
    assert(rows(graft.ops.Sinks.readVersioned(spark, dir)) == visible,
      "compacted read must equal the tombstone read, row for row")
    assert(rows(graft.ops.Sinks.readVersioned(spark, dir, Some(0L))) == all,
      "the pre-delete snapshot must still time-travel")

    // the balance audit reflects the delete immediately
    val statsAfter = SparkEntry.queries("q_ann_ivfpq_delete_stats")(spark, sf)
      .as[(Long, Long)].collect().toMap
    val expect = all.filterNot(p => deadIds(p._2))
      .map(p => (p._1, p._2)).groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(statsAfter == expect, "post-delete cell stats must count survivors only")

    // and the query path can never return a deleted vector
    val res = SparkEntry.queries("q_ann_ivfpq_delete")(spark, sf)
      .select($"n_id").as[Long].collect()
    assert(res.nonEmpty && res.forall(!deadIds(_)),
      "top-k after delete must exclude tombstoned ids")

    // ERASURE AUDIT AT THE FILE LEVEL (r14, VERDICT r13 #4): a GDPR
    // claim is about bytes on disk, not query results. After vacuuming
    // the pre-delete version, NO parquet file anywhere under the store
    // may still contain a deleted id — each surviving file is read
    // INDIVIDUALLY (no partition pruning, no plan-level filter that
    // could mask a leaked row).
    graft.ops.Sinks.vacuumVersions(spark, dir, keep = 1)
    intercept[Exception] { // the audit trail is gone exactly when asked
      graft.ops.Sinks.readVersioned(spark, dir, Some(0L)).collect()
    }
    def parquetFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(parquetFiles)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val files = parquetFiles(new java.io.File(dir))
    assert(files.nonEmpty, "vacuumed store must still hold the survivors")
    files.foreach { pf =>
      val leaked = spark.read.parquet(pf.getPath)
        .select($"n_id").as[Long].collect().filter(deadIds)
      assert(leaked.isEmpty,
        s"file ${pf.getPath} still contains erased ids: ${leaked.take(5).toSeq}")
    }
  }

  test("q_ann_param_sweep: full grid; recall monotone in nprobe once the shortlist stops binding") {
    val sweep = SparkEntry.queries("q_ann_param_sweep")(spark, sf)
      .as[(Int, Long, Long, Long)].collect().toSeq
    val grid = graft.queries.LlmSimOps.NprobeSweep
    val qs = sweep.map(_._2).distinct
    assert(sweep.map(_._1).distinct.sorted == grid.sorted, "sweep must cover the declared grid")
    assert(sweep.size == grid.size * qs.size, "one row per (nprobe, query)")
    // With the PRODUCTION shortlist (50) per-nprobe mean recall is NOT
    // guaranteed monotone: a wider probe admits more ADC candidates,
    // and on this zero-margin corpus quantized distances can push a
    // true neighbor out of the fixed-size shortlist (measured: mean
    // recall 0.78→0.80→0.79 over nprobe 1→2→4 at sf0.01). The LAW that
    // does hold — and what this test pins — is monotone recall once
    // the shortlist stops binding: with shortlist ≥ corpus the ADC
    // candidate set is ⊇-monotone in nprobe and the exact re-rank of
    // ALL candidates can only improve.
    val emb = graft.model.Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopKL2(emb, queries,
        "vec_id", "embedding", k = 5)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val recalls = grid.map { np =>
      val approx = ivfPqTopK(emb, queries, nprobe = np, shortlist = 1000000)
        .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
      (exact & approx).size.toDouble / exact.size
    }
    info(s"unbound-shortlist recall by nprobe ${grid.zip(recalls)}")
    recalls.sliding(2).foreach {
      case Seq(a, b) => assert(b >= a,
        s"recall must be non-decreasing in nprobe with unbound shortlist: ${grid.zip(recalls)}")
      case _ => ()
    }
    // exhaustive probe + unbound shortlist degenerates to exact search
    assert(recalls.last == 1.0,
      s"nprobe=cells with unbound shortlist must recover the exact top-k, got ${recalls.last}")
  }

  test("ivfPqSearch sweep law: one search over NprobeSweep equals the union of the single-width searches") {
    // probe sets nest, so one plan that tags each candidate with its
    // cell's probe rank must answer every width exactly as a search at
    // that width alone — ties, shortlist cuts and refine ranks included
    val d = sf.replace("sf0.001", "sf0.01")
    val emb = graft.model.Tables.embeddings(spark, d)
    val queries = emb.filter($"vec_id" < 20)
    val (postings, cb) = Similarity.ivfPqBuild(emb, "vec_id", "embedding",
      dims = 64, cells = 16, m = 8, ks = 16, refineIters = 1)
    def search(nprobes: Seq[Int]) =
      Similarity.ivfPqSearch(postings, cb, emb, queries, "vec_id",
          "embedding", k = 5, dims = 64, cells = 16, m = 8, nprobes)
        .as[(Int, Long, Long, Int, Long)].collect().toSeq
    val grid = graft.queries.LlmSimOps.NprobeSweep
    val swept = search(grid)
    val singles = grid.flatMap(np => search(Seq(np)))
    assert(swept.sorted == singles.sorted,
      s"sweep diverged from single widths: ${swept.diff(singles).take(3)} / " +
        s"${singles.diff(swept).take(3)}")
    assert(swept.map(_._1).distinct.sorted == grid.sorted &&
      swept.size == grid.size * 20 * 5, s"${swept.size} rows")
  }

  test("sharded IVFADC build: union of independent shard encodes equals the single-pass encode") {
    // The distributed-build law q_ann_ivfpq_shard_merge's oracle states
    // cross-engine, pinned in-engine here: a posting is a pure
    // per-vector function of the frozen geometry, so four disjoint
    // hash-shard encodes unioned must match one whole-corpus encode
    // row for row (and cover every vector exactly once).
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val emb = graft.model.Tables.embeddings(spark, d)
    val cut = emb.agg(expr("9 * max(vec_id) DIV 10").as("cut"))
    val base = emb.crossJoin(broadcast(cut))
      .filter(col("vec_id") < col("cut")).drop("cut")
    val (_, cb) = graft.ops.Similarity.ivfPqBuild(base, "vec_id",
      "embedding", dims = 64, cells = 16, m = 8, ks = 16, refineIters = 1)
    val cc = graft.ops.Similarity.coarseFromBase(base, "vec_id",
      "embedding", dsub = 8, cells = 16)
    val single = graft.ops.Similarity.ivfPqEncode(emb, cc, cb,
        "vec_id", "embedding", dsub = 8)
      .orderBy(col("n_id"), col("sub"))
      .as[(Long, Long, Int, Long)].collect().toSeq
    // the law itself: four genuinely independent encode jobs (each its
    // own plan over its own shard filter — no shared shuffle), bag-union
    val merged = (0 until 4).map { i =>
        graft.ops.Similarity.ivfPqEncode(
          emb.filter(pmod(col("vec_id"), lit(4)) === i), cc, cb,
          "vec_id", "embedding", dsub = 8)
      }
      .reduce(_.unionByName(_))
      .orderBy(col("n_id"), col("sub"))
      .as[(Long, Long, Int, Long)].collect().toSeq
    assert(merged == single,
      "shard-merged postings must equal the single-pass encode")
    val nVecs = emb.count()
    assert(merged.map(_._2).distinct.size == nVecs,
      "the merged index must cover every corpus vector exactly once")
    // the registry key's single-scan form (shard key + repartition —
    // the honest no-read-amplification recipe) lands the same rows
    val keyRows = graft.SparkEntry.queries("q_ann_ivfpq_shard_merge")(spark, d)
      .as[(Long, Long, Int, Long)].collect().toSeq
    assert(keyRows == single,
      "the single-scan sharded form must equal the single-pass encode")
  }

  test("geometry retrain: trigger fires on skew only; retrain = fresh build via versioned cutover; old geometry vacuumed") {
    import org.apache.spark.sql.functions.{col, lit}
    val d = "/root/testdata/sf0.001"
    // (1) the trigger consumes the maintained stats: fires on the
    // fixture's post-takedown skew, stays quiet on a balanced index
    val skewed = graft.SparkEntry.queries("q_ann_ivfpq_delete_stats")(spark, d)
    assert(graft.ops.AnnIndexLifecycle.shouldRetrain(skewed, 1.1),
      "the fixture's post-delete stats must trip the imbalance trigger")
    val balanced = Seq((0L, 10L), (1L, 10L), (2L, 10L))
      .toDF("cell_id", "n_members")
    assert(!graft.ops.AnnIndexLifecycle.shouldRetrain(balanced, 1.1),
      "a perfectly balanced index must not pay a retrain")
    assert(!graft.ops.AnnIndexLifecycle.shouldRetrain(
        balanced.filter(col("cell_id") < 0), 1.1),
      "empty stats (no index) must not trigger")
    // (2) the law: the key's output (rebuild -> versioned write ->
    // pointer flip -> read-back) equals a fresh in-engine build over
    // the surviving corpus, row for row
    val emb = graft.model.Tables.embeddings(spark, d)
    val survivors = emb.filter(col("vec_id") % 7 =!= 3)
    val (freshPostings, freshCb) = Similarity.ivfPqBuild(survivors, "vec_id",
      "embedding", dims = 64, cells = 16, m = 8, ks = 16, refineIters = 1)
    val fresh = freshPostings
      .select(col("cell_id").cast("long"), col("n_id"),
        col("sub").cast("int"), col("cid"))
      .orderBy(col("n_id"), col("sub"))
      .as[(Long, Long, Int, Long)].collect().toSeq
    val retrained = graft.SparkEntry.queries("q_ann_ivfpq_retrain")(spark, d)
      .as[(Long, Long, Int, Long)].collect().toSeq
    assert(retrained == fresh,
      "post-retrain index must equal a fresh build on the surviving corpus")
    assert(!retrained.exists(_._2 % 7 == 3),
      "no tombstoned id may appear in the retrained index")
    // (3) atomic cutover + vacuum: a second retrain advances the
    // version pointer and the superseded geometry directory is GONE
    val path = graft.model.Scratch.dir("ann_geo_retrain", d)
    val v1 = graft.ops.Sinks.latestVersion(spark, path).get
    graft.SparkEntry.queries("q_ann_ivfpq_retrain")(spark, d).count()
    val v2 = graft.ops.Sinks.latestVersion(spark, path).get
    assert(v2 == v1 + 1, "each retrain lands as the next version")
    assert(!new java.io.File(s"$path/v=$v1").exists(),
      "keepVersions=1: the superseded geometry version must be vacuumed")
    // the packed store carries BOTH halves of the geometry: the
    // retrained residual codebook (kind=c) beside the postings the key
    // outputs — row-identical to the fresh build's codebook
    val packed = graft.ops.Sinks.readVersioned(spark, path, Some(v2))
    val storedCb = packed.filter(col("kind") === "c")
      .select(col("sub").cast("int"), col("cid"), col("pos"), col("ce"))
      .orderBy("sub", "cid", "pos")
      .as[(Int, Long, Int, Long)].collect().toSeq
    val expectCb = freshCb
      .select(col("sub").cast("int"), col("cid"), col("pos"), col("ce"))
      .orderBy("sub", "cid", "pos")
      .as[(Int, Long, Int, Long)].collect().toSeq
    assert(storedCb.nonEmpty && storedCb == expectCb,
      "the new version must carry the retrained residual codebook verbatim")
  }

  test("stream-served queries: a taken-down vector is never served, tombstoned queries still query, shape is top-5 x 20") {
    // The serving end of q_stream_ann_query (the oracle pins
    // exactness; this pins the TAKEDOWN LAW at the serving surface):
    // a tombstoned id has no postings, so no query can return it.
    import org.apache.spark.sql.functions.max
    val d = "/root/testdata/sf0.001"
    val served = graft.SparkEntry.queries("q_stream_ann_query")(spark, d)
      .as[(Long, Long, Int, Long)].collect().toSeq
    val hi = graft.model.Tables.embeddings(spark, d)
      .agg(max($"vec_id")).as[Long].head()
    val width = hi / graft.streaming.GateStores.Slices + 1L
    def dead(id: Long) = id % graft.streaming.AnnIngest.DeleteMod ==
      graft.streaming.AnnIngest.DeleteResidue &&
      id < (graft.streaming.AnnIngest.DeleteAfterBatch + 1L) * width
    assert(served.nonEmpty && served.forall(r => !dead(r._2)),
      "no taken-down vector may be served")
    assert(served.exists(r => dead(r._1)),
      "tombstoned QUERY vectors still query (only serving is revoked)")
    val perQuery = served.groupBy(_._1)
    assert(perQuery.size == 20 &&
      perQuery.values.forall(_.map(_._3).sorted == (1 to 5)),
      "every query must serve a full top-5")
  }

  test("stream-store recall: floor at the serving config, no degradation vs the batch index, exhaustive probe is exact") {
    // VERDICT r15 #1: does serving quality survive gate rejections +
    // takedowns? Three laws, weakest to strongest:
    // (1) absolute floor: mean recall@5 of the serving path at its
    //     production config (nprobe 4/16, shortlist 50) stays ≥ 0.75 at
    //     fixture scale (measured 0.79 post-seed-fix; the batch-built
    //     index itself reads 0.80 here — the limit is probe width +
    //     shortlist, not the store);
    // (2) the store does not DEGRADE recall: stream-built +
    //     takedown-filtered serving recalls within 0.05 of the
    //     batch-built full-corpus index at the same parameters — gate
    //     rejections and takedowns shrink cells but must not corrupt
    //     what remains;
    // (3) exhaustive probe + unbound shortlist over the SURVIVING
    //     corpus recovers recall 1.0 — every miss at production config
    //     is cell pruning, never a lost or mis-encoded posting.
    val d = "/root/testdata/sf0.001"
    val streamRecall = graft.SparkEntry.queries("q_stream_ann_recall")(spark, d)
      .agg(avg($"recall_ppm")).as[Double].head() / 1e6
    val batchRecall = graft.SparkEntry.queries("q_ann_recall_eval")(spark, d)
      .agg(avg($"recall_ppm")).as[Double].head() / 1e6
    info(f"mean recall@5: stream store $streamRecall%.3f, batch index $batchRecall%.3f")
    assert(streamRecall >= 0.75,
      f"serving-store recall floor: $streamRecall%.3f < 0.75")
    assert(streamRecall >= batchRecall - 0.05,
      f"stream store degraded recall: $streamRecall%.3f vs batch $batchRecall%.3f")
    // (3): same store, probe everything, rank everything
    val post = graft.streaming.AnnIngest.replayAnnIngestDelete(spark, d,
      threshold = 0.4, bands = 96, bitsPerBand = 8, dims = 64,
      cells = 16, m = 8, ks = 16, refineIters = 1)
    val cb = graft.streaming.AnnIngest.deleteGeometry(spark, d)
    val emb = graft.model.Tables.embeddings(spark, d)
    val queries = emb.filter($"vec_id" < 20)
    val survivors = emb.join(
      post.select($"n_id".as("vec_id")).distinct(), Seq("vec_id"))
    val exact = Similarity.bruteForceTopKL2(survivors, queries,
        "vec_id", "embedding", k = 5)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val exhaustive = Similarity.ivfPqSearch(post, cb, emb, queries,
        "vec_id", "embedding", k = 5, dims = 64, cells = 16, m = 8,
        Seq(16), shortlist = 1000000)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    assert((exact & exhaustive).size == exact.size,
      "exhaustive probe over the surviving store must recover the exact top-k")
  }
}
