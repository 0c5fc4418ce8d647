package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.cellAsg
import graft.model.Tables
import graft.ops.{Dedup, Similarity, TextStats}

/** Model-adjacent tier: k-means (fit + topics), TF-IDF cosine, naive
  * Bayes, silhouette, dimension correlations, covariance matrix, top
  * eigenvector, and class weights.
  *
  * Section registry of [[LlmOps]] (split in round 8 purely for file
  * modularity — no behavior change; LlmOps concatenates the fragments
  * and remains the single public surface).
  */
private[queries] object LlmModelOps {
  private[queries] type Q = (SparkSession, String) => DataFrame

  /** k-means (k=8, 2 fixed Lloyd rounds) over the embedding corpus in
    * EXACT integer arithmetic: centroids are integer mean vectors
    * (Σxe DIV n — the Similarity centroid discipline), assignment
    * minimizes ‖c‖²−2·x·c (the ‖x‖² term is constant per vector, so
    * argmin needs no subtraction of it), ties break to the lowest
    * cluster id — every round is bit-deterministic under any
    * partitioning, so a FIXED round count is cross-engine exact (the
    * `q_pagerank` fixpoint discipline applied to clustering).
    * Deterministic init: the 8 lowest vec_ids. Each round is one
    * broadcast join against the 512-cell centroid table + one
    * partial-agg shuffle; per-round localCheckpoint bounds lineage.
    * Output: the final 512-cell centroid table with cluster sizes.
    */
  /** The 2-round Lloyd fit shared by q_kmeans and q_cluster_topics:
    * returns (final centroid table, final assignment).
    *
    * Array-native (r16, the [[graft.functions.PqCodec]] discipline):
    * the corpus checkpoints once as `(vec_id, xs array<long>)`;
    * assignment is the map-side [[graft.functions.cellAsg]] argmin against
    * driver-collected centroids (k·dims longs — model metadata, the
    * bounded-collect rule), and each Lloyd update is one partial-
    * aggregated groupBy whose exchange carries ≤ k·dims groups,
    * collected into the next round's centroid arrays. Same exact
    * integer terms, same lowest-k tie rule, same empty-cluster drop —
    * hash-identical to the former broadcast-join rounds; the final
    * centroid table is a LocalTableScan.
    */
  private[queries] def kmeansFit(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val vecs = Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding").cast("array<double>"),
        x => round(x * Similarity.MeanScale).cast("long")).as("xs"))
      .localCheckpoint()
    // deterministic init: the 8 lowest vec_ids' quantized vectors
    val seed = vecs.filter(col("vec_id") < 8L).collect().sortBy(_.getLong(0))
    var ids = seed.map(_.getLong(0))
    var cents = seed.map(_.getSeq[Long](1).toArray)
    def update(): Unit = {
      val upd = vecs
        .select(cellAsg(col("xs"), ids, cents).as("k"),
          posexplode(col("xs")).as(Seq("pos", "xe")))
        .groupBy("k", "pos")
        // sign-split: component sums go negative, where Spark DIV
        // (truncate) and DuckDB // (floor) disagree — divide magnitudes
        .agg(expr("CAST(sign(sum(xe)) AS BIGINT) * " +
          "(abs(sum(xe)) DIV count(1))").as("ce"))
        .collect()
      val byK = upd.groupBy(_.getLong(0)).toArray.sortBy(_._1)
      ids = byK.map(_._1)
      cents = byK.map { case (_, rs) =>
        val a = new Array[Long](rs.map(_.getInt(1)).max + 1)
        rs.foreach(r => a(r.getInt(1)) = r.getLong(2))
        a
      }
    }
    update(); update()
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    for (i <- ids.indices; p <- cents(i).indices)
      rows.add(org.apache.spark.sql.Row(ids(i), p, cents(i)(p)))
    val cent = s.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("ce",
        org.apache.spark.sql.types.LongType, nullable = false))))
    (cent, vecs.select(col("vec_id"), cellAsg(col("xs"), ids, cents).as("k")))
  }

  private[queries] val qKmeans: Q = (s, d) => {
    val (c2, assign) = kmeansFit(s, d)
    val sizes = assign.groupBy("k").agg(count(lit(1)).as("cluster_size"))
    c2.join(broadcast(sizes), "k")
      .select(col("k"), col("pos"), col("ce"), col("cluster_size"))
      .orderBy("k", "pos")
  }

  /** Topic terms per embedding cluster (the BERTopic shape): k-means
    * clusters over the embedding corpus, then each cluster's top-5
    * DISTINCTIVE terms by class-based lift — 10⁶·c_tk·N DIV (N_k·c_t),
    * the same integer PMI-without-the-log score as `q_pmi_cooccur`
    * (monotone in c-TF-IDF's log at fixed support) — with a c_tk ≥ 5
    * support floor. This is the "name the clusters" step every
    * embedding-space corpus browser ships: the doc↔vector identity
    * (doc_id = vec_id, the corpus convention) joins text onto the
    * geometry. Lift headroom: 10⁶·c_tk·N < 2⁶³ to ~10⁸ corpus tokens
    * per count pair; past that promote to DECIMAL(38,0) (the
    * q_pmi_cooccur point). The only window ranks within 8 clusters.
    */
  private[queries] val qClusterTopics: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val (_, assign) = kmeansFit(s, d)
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val ck = toks.join(assign.withColumnRenamed("vec_id", "doc_id"), "doc_id")
      .groupBy(col("k"), col("tok")).agg(count(lit(1)).as("ctk"))
    val nk = ck.groupBy("k").agg(sum("ctk").as("nk"))
    val tt = ck.groupBy("tok").agg(sum("ctk").as("c_t"))
    val nn = tt.agg(sum("c_t").as("nn"))
    val lift = ck.join(broadcast(nk), "k").join(tt, "tok")
      .crossJoin(broadcast(nn))
      .filter(col("ctk") >= 5L)
      .select(col("k"), col("tok"), col("ctk"),
        expr("1000000 * ctk * nn DIV (nk * c_t)").as("lift_ppm"))
    val w = Window.partitionBy("k")
      .orderBy(col("lift_ppm").desc, col("ctk").desc, col("tok").asc)
    lift.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
      .select(col("k"), col("rnk"), col("tok"), col("ctk"), col("lift_ppm"))
      .orderBy("k", "rnk")
  }

  /** TF-IDF cosine similarity, focus-set top-3: sparse dot products
    * via the inverted index (postings join on shared terms — never a
    * dense all-pairs), with the classic idf prune (terms in >10% of
    * docs dropped) bounding the per-term fan-out exactly the way the
    * minhash band join bounds candidate pairs. Weights are integer
    * tf·idf_e6 (idf floored per term — one mirrored ln each); norms
    * and dots ride DECIMAL(38,0)/HUGEINT (w² can pass 2⁶³ for heavy
    * terms); the cosine is one mirrored float sequence per pair. The
    * score-based sibling of `q_dedup_minhash`'s hash-based near-dup.
    */
  private[queries] val qTfidfCosine: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok")).filter(col("tok") =!= "")
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("nd"))
    // df via an unordered window over tf (r16, the docNll form): the
    // groupBy(tok) + join-back paid an aggregate exchange AND re-
    // exchanged tf by tok for the join; the whole-partition count is
    // one exchange and the identical integer per token
    val weights = tf.withColumn("df",
        count(lit(1)).over(Window.partitionBy("tok")))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 10L <= col("nd"))
      .select(col("doc_id"), col("tok"),
        (col("tf") * floor(lit(1000000.0) * log(col("nd").cast("double") /
          col("df").cast("double"))).cast("long")).as("w"))
    val norms = weights.groupBy("doc_id")
      .agg(sum(dec(col("w")) * dec(col("w"))).as("n2"))
    val pairs = weights.filter(col("doc_id") < 50L)
      .select(col("doc_id").as("a"), col("tok"), col("w").as("wa"))
      .join(weights.select(col("doc_id").as("b"), col("tok"),
        col("w").as("wb")), "tok")
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(sum(dec(col("wa")) * dec(col("wb"))).as("dot"))
    val scored = pairs
      .join(norms.select(col("doc_id").as("a"), col("n2").as("na2")), "a")
      .join(norms.select(col("doc_id").as("b"), col("n2").as("nb2")), "b")
      // Fixed float sequence, mirrored token-for-token by the oracle.
      .select(col("a"), col("b"),
        floor(lit(1000000.0) * col("dot").cast("double") /
          (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))))
          .cast("long").as("cos_e6"))
    val w = Window.partitionBy("a").orderBy(col("cos_e6").desc, col("b").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select(col("a"), col("b"), col("cos_e6"), col("rnk"))
      .orderBy("a", "rnk")
  }

  /** Multinomial Naive Bayes language classifier, trained AND applied
    * in one plan: per-(lang, token) Laplace-smoothed log-likelihoods
    * ln((c+1)/(tot+V)) and log-priors, each floored to e6 PER TERM
    * before any cross-row sum (the `q_mutual_info` order-independence
    * discipline — the only floats are one mirrored ln sequence per
    * vocabulary cell), then every doc scored against all 5 classes by
    * an integer sum over its token stream and argmaxed (per-doc
    * 5-row window). Output is the train-set confusion matrix — the
    * richer learned-model sibling of `q_langid_eval`'s marker
    * heuristic. Scale shape: the model is |V|·L rows (a broadcastable
    * side at small V, a plain hash join past that — no all-pairs
    * anything); scoring is one join over the exploded token stream.
    */
  private[queries] val qNaiveBayes: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok")).filter(col("tok") =!= "")
    val labeled = toks.join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val counts = labeled.groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy("lang").agg(sum("cnt").as("tot"))
    val vocab = toks.select("tok").distinct().agg(count(lit(1)).as("v"))
    // Fixed float sequences, mirrored token-for-token by the oracle.
    val scores = counts.join(broadcast(totals), "lang")
      .crossJoin(broadcast(vocab))
      .select(col("lang").as("cand_lang"), col("tok"),
        floor(lit(1000000.0) * log((col("cnt") + lit(1L)).cast("double") /
          (col("tot") + col("v")).cast("double"))).cast("long")
          .as("score_e6"))
    val defaults = totals.crossJoin(broadcast(vocab))
      .select(col("lang").as("cand_lang"),
        floor(lit(1000000.0) * log(lit(1.0) /
          (col("tot") + col("v")).cast("double"))).cast("long").as("def_e6"))
    val nDocs = docs.agg(count(lit(1)).as("nd"))
    val priors = docs.groupBy(col("lang").as("cand_lang"))
      .agg(count(lit(1)).as("ndl"))
      .crossJoin(broadcast(nDocs))
      .select(col("cand_lang"),
        floor(lit(1000000.0) * log(col("ndl").cast("double") /
          col("nd").cast("double"))).cast("long").as("prior_e6"))
    val perDoc = toks.crossJoin(broadcast(defaults))
      .join(scores, Seq("cand_lang", "tok"), "left")
      .select(col("doc_id"), col("cand_lang"),
        coalesce(col("score_e6"), col("def_e6")).as("term_score"))
      .groupBy("doc_id", "cand_lang").agg(sum("term_score").as("ll_e6"))
      .join(broadcast(priors), "cand_lang")
      .withColumn("post_e6", col("ll_e6") + col("prior_e6"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("post_e6").desc, col("cand_lang").asc)
    perDoc.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(docs.select(col("doc_id"), col("lang").as("actual")), "doc_id")
      .groupBy(col("actual"), col("cand_lang").as("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy("actual", "predicted")
  }

  /** Per-vector centroid-margin score (silhouette-style cluster
    * quality): cosine to the vector's OWN class centroid minus the best
    * cosine to any OTHER class centroid — negative margin = the vector
    * sits closer to a foreign class (a mislabeled or boundary example;
    * the embedding-space analogue of a label-noise detector). Centroids
    * include the vector itself (the centroid-based approximation, not
    * Rousseeuw's pairwise silhouette — O(n·L·dim), not O(n²)).
    * Exactness rides the `q_centroid_dist` machinery: scale-invariant
    * integer sums, DECIMAL(38,0)/HUGEINT dot products, one float
    * sequence per cosine, floored to e6 BEFORE the max/compare so the
    * argmax is an integer decision on both engines.
    */
  private[queries] val qSilhouette: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val xe = emb
      .select(col("vec_id"), col("label").as("own_label"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("xe",
        round(col("x").cast("double") * Similarity.MeanScale).cast("long"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val cent = xe.groupBy(col("own_label").as("c_label"), col("pos"))
      .agg(sum("xe").as("sx"))
    val cn2 = cent.groupBy("c_label")
      .agg(sum(dec(col("sx")) * dec(col("sx"))).as("cn"))
    val vn2 = xe.groupBy("vec_id")
      .agg(sum(dec(col("xe")) * dec(col("xe"))).as("vn"))
    val dots = xe.join(broadcast(cent), "pos")
      .groupBy(col("vec_id"), col("own_label"), col("c_label"))
      .agg(sum(dec(col("xe")) * dec(col("sx"))).as("dot"))
    val cos = dots.join(broadcast(cn2), "c_label").join(vn2, "vec_id")
      .select(col("vec_id"), col("own_label"), col("c_label"),
        floor(lit(1000000.0) * (col("dot").cast("double") /
          (sqrt(col("vn").cast("double")) * sqrt(col("cn").cast("double")))))
          .cast("long").as("cos_e6"))
    // own_label IS the output label — carrying it through `own` avoids
    // a third scan of the embeddings table just to re-fetch it
    val own = cos.filter(col("c_label") === col("own_label"))
      .select(col("vec_id"), col("own_label").as("label"),
        col("cos_e6").as("own_cos_e6"))
    val other = cos.filter(col("c_label") =!= col("own_label"))
      .groupBy("vec_id")
      .agg(max(col("cos_e6")).as("best_other_cos_e6"),
        max_by(col("c_label"), col("cos_e6") * 1000L - col("c_label"))
          .as("best_other"))
    own.join(other, "vec_id")
      .select(col("vec_id"), col("label"), col("own_cos_e6"),
        col("best_other"), col("best_other_cos_e6"),
        (col("own_cos_e6") - col("best_other_cos_e6")).as("margin_e6"))
      .orderBy("vec_id")
  }

  /** Embedding dimension covariance matrix (upper triangle + diagonal)
    * — the PCA/whitening prep artifact and the redundant-dimension
    * detector (a high off-diagonal says two dimensions encode the same
    * signal). Exact moments end-to-end: Σx̂ₐ, Σx̂ₐx̂_b accumulate as
    * BIGINT / DECIMAL(38,0) scaled integers (order-independent), one
    * mirrored float sequence per cell at the end. Shape: the positional
    * self-join fans each vector to dims²/2 rows — cost n·dims², the
    * Gram-matrix lower bound — then collapses to a dims²-sized output;
    * per-dimension means broadcast back.
    */
  /** Pearson correlation per embedding dimension PAIR — the normalized
    * form of `q_covariance_matrix`'s redundancy detector (corr ≈ ±1
    * says a dimension is a linear copy; the pruning readout before
    * quantization). Same exact-moment shape: scaled-integer Σxₐ, Σxₐ²,
    * Σxₐx_b accumulate as BIGINT/DECIMAL(38,0) (order-independent),
    * then ONE mirrored float sequence per cell — num/√denₐ/√den_b, the
    * `q_autocorr` discipline. Zero-variance dimensions drop on BOTH
    * engines (the Welch guard). Cost n·dims² through the positional
    * self-join, output dims²-bounded; per-dimension moments broadcast.
    */
  private[queries] val qDimCorr: Q = (s, d) => {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val xe = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("xe",
        round(col("x").cast("double") * Similarity.MeanScale).cast("long"))
    val p = xe.select(col("vec_id"), col("pos").as("pos_a"), col("xe").as("xa"))
      .join(xe.select(col("vec_id"), col("pos").as("pos_b"), col("xe").as("xb")),
        "vec_id")
      .filter(col("pos_a") < col("pos_b"))
      .groupBy("pos_a", "pos_b")
      .agg(sum(dec(col("xa")) * dec(col("xb"))).as("pab"))
    val m = xe.groupBy("pos")
      .agg(sum("xe").as("sx"), sum(dec(col("xe")) * dec(col("xe"))).as("sxx"),
        count(lit(1)).as("n"))
    p.join(broadcast(m.select(col("pos").as("pos_a"), col("sx").as("sa"),
        col("sxx").as("saa"), col("n"))), "pos_a")
      .join(broadcast(m.select(col("pos").as("pos_b"), col("sx").as("sb"),
        col("sxx").as("sbb"))), "pos_b")
      .filter(col("n").cast("double") * col("saa").cast("double") -
        col("sa").cast("double") * col("sa").cast("double") > lit(0.0) &&
        col("n").cast("double") * col("sbb").cast("double") -
        col("sb").cast("double") * col("sb").cast("double") > lit(0.0))
      .select(col("pos_a"), col("pos_b"),
        floor(lit(1000000.0) *
          (col("n").cast("double") * col("pab").cast("double") -
            col("sa").cast("double") * col("sb").cast("double")) /
          sqrt(col("n").cast("double") * col("saa").cast("double") -
            col("sa").cast("double") * col("sa").cast("double")) /
          sqrt(col("n").cast("double") * col("sbb").cast("double") -
            col("sb").cast("double") * col("sb").cast("double")))
          .cast("long").as("corr_e6"))
      .orderBy("pos_a", "pos_b")
  }

  /** Upper-triangle covariance cells (pos_a ≤ pos_b, cov_e9) — shared
    * by `q_covariance_matrix` and the power-iteration eigenvector.
    */
  private[queries] def covCells(s: SparkSession, d: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val xe = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("xe",
        round(col("x").cast("double") * Similarity.MeanScale).cast("long"))
    val p = xe.select(col("vec_id"), col("pos").as("pos_a"), col("xe").as("xa"))
      .join(xe.select(col("vec_id"), col("pos").as("pos_b"), col("xe").as("xb")),
        "vec_id")
      .filter(col("pos_a") <= col("pos_b"))
      .groupBy("pos_a", "pos_b")
      .agg(sum(dec(col("xa")) * dec(col("xb"))).as("pab"))
    val m = xe.groupBy("pos")
      .agg(sum("xe").as("sx"), count(lit(1)).as("n"))
    val sc2 = Similarity.MeanScale * Similarity.MeanScale
    p.join(broadcast(m.select(col("pos").as("pos_a"), col("sx").as("sa"),
        col("n"))), "pos_a")
      .join(broadcast(m.select(col("pos").as("pos_b"), col("sx").as("sb"))),
        "pos_b")
      .select(col("pos_a"), col("pos_b"),
        floor(lit(1000000000.0) *
          ((col("pab").cast("double") / col("n") -
            (col("sa").cast("double") / col("n")) *
              (col("sb").cast("double") / col("n"))) / lit(sc2)))
          .cast("long").as("cov_e9"))
  }

  private[queries] val qCovarianceMatrix: Q = (s, d) =>
    covCells(s, d).orderBy("pos_a", "pos_b")

  /** Oracle for `q_top_eigenvector`: the EigenIters power rounds
    * unrolled as generated CTEs from the SAME constant, so the two
    * engines walk the identical trajectory (the HITS-oracle pattern).
    */
  private[queries] def topEigenvectorSql: String = {
    // MATERIALIZED: without it DuckDB may inline each round's CTE into
    // the next, re-expanding the whole iteration chain exponentially —
    // the oracle-side analogue of the localCheckpoint above.
    val iters = (1 to EigenIters).map { i =>
      val prev = if (i == 1) "v0" else s"v${i - 1}"
      s"""w$i AS MATERIALIZED (SELECT a, CAST(sum(c * v) AS BIGINT) AS w
         |       FROM f JOIN $prev ON b = dim GROUP BY a),
         |mx$i AS MATERIALIZED (SELECT CAST(max(abs(w)) AS BIGINT) AS wmax
         |        FROM w$i HAVING max(abs(w)) > 0),
         |v$i AS MATERIALIZED (SELECT a AS dim, CAST(sign(w) AS BIGINT) *
         |    CAST(floor(1000000.0 * CAST(abs(w) AS DOUBLE) /
         |      CAST(wmax AS DOUBLE)) AS BIGINT) AS v
         |  FROM w$i CROSS JOIN mx$i)""".stripMargin
    }.mkString(",\n")
    val last = s"v$EigenIters"
    s"""WITH u AS (SELECT vec_id,
       |    generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1 AS pos,
       |    CAST(round(unnest(CAST(embedding AS DOUBLE[])) * 16777216.0)
       |      AS BIGINT) AS xe
       |  FROM embeddings),
       |p AS (SELECT a.pos AS pos_a, b.pos AS pos_b,
       |    sum(CAST(a.xe AS HUGEINT) * b.xe) AS pab
       |  FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.pos <= b.pos
       |  GROUP BY 1, 2),
       |m AS (SELECT pos, CAST(sum(xe) AS BIGINT) AS sx, count(*) AS n
       |      FROM u GROUP BY 1),
       |tri AS (SELECT pos_a, pos_b,
       |  CAST(floor(1000000000.0 *
       |    ((CAST(pab AS DOUBLE) / ma.n -
       |      (CAST(ma.sx AS DOUBLE) / ma.n) *
       |        (CAST(mb.sx AS DOUBLE) / ma.n)) /
       |     (16777216.0 * 16777216.0))) AS BIGINT) AS c
       |  FROM p JOIN m ma ON pos_a = ma.pos JOIN m mb ON pos_b = mb.pos),
       |f AS MATERIALIZED (SELECT pos_a AS a, pos_b AS b, c FROM tri
       |      UNION ALL
       |      SELECT pos_b, pos_a, c FROM tri WHERE pos_a <> pos_b),
       |v0 AS MATERIALIZED (SELECT DISTINCT a AS dim,
       |      CAST(1000000 AS BIGINT) AS v FROM f),
       |$iters,
       |sg AS (SELECT CAST(sign(v) AS BIGINT) AS sgn FROM $last
       |       ORDER BY abs(v) DESC, dim ASC LIMIT 1)
       |SELECT CAST(dim AS INT) AS dim, CAST(v * sgn AS BIGINT) AS v_e6
       |FROM $last CROSS JOIN sg ORDER BY dim""".stripMargin
  }

  /** Power-iteration rounds for the leading-eigenvector key — fixed so
    * both engines unroll the identical trajectory.
    */
  private[queries] val EigenIters = 8

  /** Leading eigenvector of the embedding covariance by EigenIters
    * fixed power iterations — the first PCA axis, the direction a
    * whitening or anisotropy diagnosis needs. The matrix is the
    * D²-cell integer cov_e9 table (64×64 here — broadcast-sized at any
    * corpus scale, since D is the embedding dim, not the row count);
    * each iteration is one matrix·vector join-aggregate in exact
    * BIGINT (|w| ≤ D·|cov|·10⁶ ≈ 10¹⁷ headroom) followed by max-|w|
    * normalization — sign split from magnitude so the integer division
    * never sees a negative operand (Spark div truncates toward zero,
    * DuckDB // floors: they disagree BELOW zero, agree above — the
    * same reason `q_pagerank` keeps its arithmetic non-negative). The
    * magnitude ratio is one mirrored float sequence per round. Output
    * canonicalized so the max-|v| component (tie lowest dim) is
    * positive; the spec pins cosine ≥ 0.98 against a double-precision
    * recompute of the same trajectory.
    */
  private[queries] val qTopEigenvector: Q = (s, d) => {
    import s.implicits._
    // The DISTRIBUTED stage is the corpus-sized covariance aggregation
    // (covCells — one pos-pair shuffle over the exploded embeddings);
    // the matrix itself is D² cells, data-independent and broadcast-
    // small BY CONSTRUCTION (D is the embedding dim, not the row
    // count), so the EigenIters power rounds run as driver arithmetic
    // over the collected cells — the Ranks per-partition-subtotal
    // exception: ≤ D² rows ever cross the driver, never corpus rows.
    // Every integer/float operation is the SAME sequence the former
    // join-based rounds (and the unchanged oracle) execute, so results
    // are bit-identical; the rewrite removes EigenIters scheduler
    // round-trips that dominated the key's bench cost (measured
    // 4–5 s → covariance-only, iterations ≪ 1 ms).
    val tri = covCells(s, d).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val full = tri.flatMap { case (a, b, c) =>
      if (a == b) Seq((a, b, c)) else Seq((a, b, c), (b, a, c)) }
    val byRow = full.groupBy(_._1)
    var v: Map[Int, Long] = full.map(_._1).distinct.map(_ -> 1000000L).toMap
    var it = 0
    while (it < EigenIters && v.nonEmpty) {
      val w = byRow.map { case (a, rows) =>
        a -> rows.iterator.map { case (_, b, c) => c * v(b) }.sum }
      val wmax = if (w.isEmpty) 0L else w.valuesIterator.map(math.abs).max
      // mirror the former plan (and the oracle): a zero matrix drains
      // the vector to the empty result rather than freezing it
      v =
        if (wmax == 0L) Map.empty
        else w.map { case (a, x) =>
          a -> math.signum(x) *
            math.floor(1000000.0 * math.abs(x).toDouble / wmax.toDouble)
              .toLong }
      it += 1
    }
    val out =
      if (v.isEmpty) Seq.empty[(Int, Long)]
      else {
        val winner = v.maxBy { case (dim, vv) => (math.abs(vv), -dim) }
        val sgn = math.signum(winner._2)
        v.toSeq.sortBy(_._1).map { case (dim, vv) => (dim, vv * sgn) }
      }
    out.toDF("dim", "v_e6").orderBy("dim")
  }

  /** Inverse-frequency class weights for the language column — the
    * balancing weight table a training loop multiplies into its loss
    * (rare classes weigh more; weights average ~1 across classes).
    * weight_e6 = 10⁶·N DIV (L·n_c), pure integer arithmetic; N and L
    * re-aggregate from the class-sized table (no second corpus scan —
    * the exchange-reuse pattern PlanSpec pins for target-encode).
    */
  private[queries] val qClassWeights: Q = (s, d) => {
    val per = Tables.documents(s, d)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val tot = per.agg(sum("n_docs").as("n_total"),
      count(lit(1)).as("n_classes"))
    per.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"),
        expr("1000000 * n_total DIV (n_classes * n_docs)").as("weight_e6"))
      .orderBy("lang")
  }

  /** Shared oracle CTE chain for the 2-round Lloyd fit (u → … → c2,
    * a3): q_kmeans reads the centroids, q_cluster_topics the
    * assignment. Must be defined before the oracle map (object-init
    * order).
    */
  private[queries] val kmeansFitCtes: String =
    """u AS MATERIALIZED (SELECT vec_id,
      |    generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1 AS pos,
      |    CAST(round(unnest(CAST(embedding AS DOUBLE[])) * 16777216.0)
      |      AS BIGINT) AS xe
      |  FROM embeddings),
      |c0 AS MATERIALIZED (SELECT vec_id AS k, pos, xe AS ce FROM u
      |  WHERE vec_id < 8),
      |cn0 AS MATERIALIZED (SELECT k, CAST(sum(ce * ce) AS BIGINT) AS cn2
      |  FROM c0 GROUP BY 1),
      |d1 AS MATERIALIZED (SELECT u.vec_id, c0.k,
      |    CAST(sum(u.xe * c0.ce) AS BIGINT) AS dot
      |  FROM u JOIN c0 ON u.pos = c0.pos GROUP BY 1, 2),
      |a1 AS MATERIALIZED (SELECT vec_id, k FROM
      |    (SELECT d1.vec_id, d1.k,
      |       row_number() OVER (PARTITION BY d1.vec_id
      |         ORDER BY cn2 - 2 * dot ASC, d1.k ASC) AS rn
      |     FROM d1 JOIN cn0 ON d1.k = cn0.k)
      |  WHERE rn = 1),
      |c1 AS MATERIALIZED (SELECT k, pos,
      |    CAST(sign(sum(xe)) AS BIGINT) *
      |      (abs(CAST(sum(xe) AS BIGINT)) // count(*)) AS ce
      |  FROM u JOIN a1 USING (vec_id) GROUP BY 1, 2),
      |cn1 AS MATERIALIZED (SELECT k, CAST(sum(ce * ce) AS BIGINT) AS cn2
      |  FROM c1 GROUP BY 1),
      |d2 AS MATERIALIZED (SELECT u.vec_id, c1.k,
      |    CAST(sum(u.xe * c1.ce) AS BIGINT) AS dot
      |  FROM u JOIN c1 ON u.pos = c1.pos GROUP BY 1, 2),
      |a2 AS MATERIALIZED (SELECT vec_id, k FROM
      |    (SELECT d2.vec_id, d2.k,
      |       row_number() OVER (PARTITION BY d2.vec_id
      |         ORDER BY cn2 - 2 * dot ASC, d2.k ASC) AS rn
      |     FROM d2 JOIN cn1 ON d2.k = cn1.k)
      |  WHERE rn = 1),
      |c2 AS MATERIALIZED (SELECT k, pos,
      |    CAST(sign(sum(xe)) AS BIGINT) *
      |      (abs(CAST(sum(xe) AS BIGINT)) // count(*)) AS ce
      |  FROM u JOIN a2 USING (vec_id) GROUP BY 1, 2),
      |cn2_ AS MATERIALIZED (SELECT k, CAST(sum(ce * ce) AS BIGINT) AS cn2
      |  FROM c2 GROUP BY 1),
      |d3 AS MATERIALIZED (SELECT u.vec_id, c2.k,
      |    CAST(sum(u.xe * c2.ce) AS BIGINT) AS dot
      |  FROM u JOIN c2 ON u.pos = c2.pos GROUP BY 1, 2),
      |a3 AS MATERIALIZED (SELECT vec_id, k FROM
      |    (SELECT d3.vec_id, d3.k,
      |       row_number() OVER (PARTITION BY d3.vec_id
      |         ORDER BY cn2 - 2 * dot ASC, d3.k ASC) AS rn
      |     FROM d3 JOIN cn2_ ON d3.k = cn2_.k)
      |  WHERE rn = 1)""".stripMargin

  private[queries] val registry: Map[String, Q] = Map(
    "q_silhouette" -> qSilhouette,
    "q_covariance_matrix" -> qCovarianceMatrix,
    "q_top_eigenvector" -> qTopEigenvector,
    "q_dim_corr" -> qDimCorr,
    "q_class_weights" -> qClassWeights,
    "q_naive_bayes" -> qNaiveBayes,
    "q_tfidf_cosine" -> qTfidfCosine,
    "q_kmeans" -> qKmeans,
    "q_cluster_topics" -> qClusterTopics,
  )

  private[queries] val oracle: Map[String, String] = Map(
    "q_class_weights" ->
      """WITH per AS (SELECT lang, count(*) AS n_docs
        |             FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
        |        count(*) AS n_classes FROM per)
        |SELECT lang, n_docs,
        |  CAST(1000000 * n_total // (n_classes * n_docs) AS BIGINT)
        |    AS weight_e6
        |FROM per CROSS JOIN tot ORDER BY lang""".stripMargin,
    "q_dim_corr" ->
      """WITH u AS (SELECT vec_id,
        |    generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1 AS pos,
        |    CAST(round(unnest(CAST(embedding AS DOUBLE[])) * 16777216.0)
        |      AS BIGINT) AS xe
        |  FROM embeddings),
        |p AS (SELECT a.pos AS pos_a, b.pos AS pos_b,
        |    sum(CAST(a.xe AS HUGEINT) * b.xe) AS pab
        |  FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.pos < b.pos
        |  GROUP BY 1, 2),
        |m AS (SELECT pos, CAST(sum(xe) AS BIGINT) AS sx,
        |    sum(CAST(xe AS HUGEINT) * xe) AS sxx, count(*) AS n
        |  FROM u GROUP BY 1),
        |j AS (SELECT pos_a, pos_b, pab,
        |    ma.sx AS sa, ma.sxx AS saa, ma.n AS n,
        |    mb.sx AS sb, mb.sxx AS sbb
        |  FROM p JOIN m ma ON pos_a = ma.pos JOIN m mb ON pos_b = mb.pos)
        |SELECT pos_a, pos_b,
        |  CAST(floor(1000000.0 *
        |    (CAST(n AS DOUBLE) * CAST(pab AS DOUBLE) -
        |      CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)) /
        |    sqrt(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE) -
        |      CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) /
        |    sqrt(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE) -
        |      CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))) AS BIGINT)
        |  AS corr_e6
        |FROM j
        |WHERE CAST(n AS DOUBLE) * CAST(saa AS DOUBLE) -
        |    CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) > 0.0
        |  AND CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE) -
        |    CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) > 0.0
        |ORDER BY pos_a, pos_b""".stripMargin,
    "q_covariance_matrix" ->
      """WITH u AS (SELECT vec_id,
        |    generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1 AS pos,
        |    CAST(round(unnest(CAST(embedding AS DOUBLE[])) * 16777216.0)
        |      AS BIGINT) AS xe
        |  FROM embeddings),
        |p AS (SELECT a.pos AS pos_a, b.pos AS pos_b,
        |    sum(CAST(a.xe AS HUGEINT) * b.xe) AS pab
        |  FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.pos <= b.pos
        |  GROUP BY 1, 2),
        |m AS (SELECT pos, CAST(sum(xe) AS BIGINT) AS sx, count(*) AS n
        |      FROM u GROUP BY 1)
        |SELECT pos_a, pos_b,
        |  CAST(floor(1000000000.0 *
        |    ((CAST(pab AS DOUBLE) / ma.n -
        |      (CAST(ma.sx AS DOUBLE) / ma.n) *
        |        (CAST(mb.sx AS DOUBLE) / ma.n)) /
        |     (16777216.0 * 16777216.0))) AS BIGINT) AS cov_e9
        |FROM p JOIN m ma ON pos_a = ma.pos JOIN m mb ON pos_b = mb.pos
        |ORDER BY pos_a, pos_b""".stripMargin,
    "q_top_eigenvector" -> topEigenvectorSql,
    "q_silhouette" ->
      """WITH u AS (SELECT vec_id, label AS own_label,
        |    generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1 AS pos,
        |    CAST(round(unnest(CAST(embedding AS DOUBLE[])) * 16777216.0)
        |      AS BIGINT) AS xe
        |  FROM embeddings),
        |cent AS (SELECT own_label AS c_label, pos,
        |    CAST(sum(xe) AS BIGINT) AS sx FROM u GROUP BY 1, 2),
        |cn2 AS (SELECT c_label, sum(CAST(sx AS HUGEINT) * sx) AS cn
        |        FROM cent GROUP BY 1),
        |vn2 AS (SELECT vec_id, sum(CAST(xe AS HUGEINT) * xe) AS vn
        |        FROM u GROUP BY 1),
        |dots AS (SELECT vec_id, own_label, c_label,
        |    sum(CAST(xe AS HUGEINT) * sx) AS dot
        |  FROM u JOIN cent ON u.pos = cent.pos GROUP BY 1, 2, 3),
        |coss AS (SELECT vec_id, own_label, c_label,
        |    CAST(floor(1000000.0 * (CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(vn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE)))))
        |      AS BIGINT) AS cos_e6
        |  FROM dots JOIN cn2 USING (c_label) JOIN vn2 USING (vec_id)),
        |own AS (SELECT vec_id, own_label AS label, cos_e6 AS own_cos_e6
        |        FROM coss WHERE c_label = own_label),
        |oth AS (SELECT vec_id, max(cos_e6) AS best_other_cos_e6,
        |    CAST(max_by(c_label, cos_e6 * 1000 - c_label) AS INTEGER)
        |      AS best_other
        |  FROM coss WHERE c_label <> own_label GROUP BY 1)
        |SELECT own.vec_id, label, own_cos_e6, best_other,
        |  best_other_cos_e6,
        |  own_cos_e6 - best_other_cos_e6 AS margin_e6
        |FROM own JOIN oth USING (vec_id)
        |ORDER BY own.vec_id""".stripMargin,
    "q_naive_bayes" ->
      """WITH toks AS (SELECT doc_id, tok FROM
        |    (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |     FROM documents) WHERE tok <> ''),
        |lab AS (SELECT t.doc_id, tok, lang
        |  FROM toks t JOIN documents d ON t.doc_id = d.doc_id),
        |counts AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS cnt
        |  FROM lab GROUP BY 1, 2),
        |totals AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS tot
        |  FROM counts GROUP BY 1),
        |vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM toks),
        |scores AS (SELECT lang AS cand_lang, tok,
        |    CAST(floor(1000000.0 * ln(CAST(cnt + 1 AS DOUBLE) /
        |      CAST(tot + v AS DOUBLE))) AS BIGINT) AS score_e6
        |  FROM counts JOIN totals USING (lang) CROSS JOIN vocab),
        |defaults AS (SELECT lang AS cand_lang,
        |    CAST(floor(1000000.0 * ln(1.0 / CAST(tot + v AS DOUBLE)))
        |      AS BIGINT) AS def_e6
        |  FROM totals CROSS JOIN vocab),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
        |priors AS (SELECT lang AS cand_lang,
        |    CAST(floor(1000000.0 * ln(CAST(count(*) AS DOUBLE) /
        |      CAST(nd AS DOUBLE))) AS BIGINT) AS prior_e6
        |  FROM documents CROSS JOIN nd GROUP BY lang, nd),
        |per AS (SELECT t.doc_id, d.cand_lang,
        |    CAST(sum(coalesce(score_e6, def_e6)) AS BIGINT) AS ll_e6
        |  FROM toks t CROSS JOIN defaults d
        |  LEFT JOIN scores s ON s.cand_lang = d.cand_lang AND s.tok = t.tok
        |  GROUP BY 1, 2),
        |post AS (SELECT doc_id, cand_lang, ll_e6 + prior_e6 AS post_e6
        |  FROM per JOIN priors USING (cand_lang)),
        |pred AS (SELECT doc_id, cand_lang AS predicted FROM
        |    (SELECT *, row_number() OVER (PARTITION BY doc_id
        |       ORDER BY post_e6 DESC, cand_lang ASC) AS rn FROM post)
        |  WHERE rn = 1)
        |SELECT d.lang AS actual, predicted, CAST(count(*) AS BIGINT) AS n
        |FROM pred JOIN documents d ON pred.doc_id = d.doc_id
        |GROUP BY 1, 2 ORDER BY actual, predicted""".stripMargin,
    "q_tfidf_cosine" ->
      """WITH toks AS (SELECT doc_id, tok FROM
        |    (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |     FROM documents) WHERE tok <> ''),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
        |dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
        |  FROM tf GROUP BY 1),
        |w AS (SELECT doc_id, tok,
        |    tf * CAST(floor(1000000.0 * ln(CAST(nd AS DOUBLE) /
        |      CAST(df AS DOUBLE))) AS BIGINT) AS w
        |  FROM tf JOIN dft USING (tok) CROSS JOIN nd
        |  WHERE df * 10 <= nd),
        |norms AS (SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS n2
        |  FROM w GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS a, b.doc_id AS b,
        |    sum(CAST(a.w AS HUGEINT) * b.w) AS dot
        |  FROM w a JOIN w b ON a.tok = b.tok
        |  WHERE a.doc_id < 50 AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2),
        |sc AS (SELECT a, b,
        |    CAST(floor(1000000.0 * CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))))
        |      AS BIGINT) AS cos_e6
        |  FROM pairs JOIN norms na ON na.doc_id = a
        |  JOIN norms nb ON nb.doc_id = b),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY a
        |      ORDER BY cos_e6 DESC, b ASC) AS INTEGER) AS rnk FROM sc)
        |SELECT a, b, cos_e6, rnk FROM r WHERE rnk <= 3
        |ORDER BY a, rnk""".stripMargin,
    "q_kmeans" ->
      s"""WITH $kmeansFitCtes,
        |sz AS (SELECT k, CAST(count(*) AS BIGINT) AS cluster_size
        |  FROM a3 GROUP BY 1)
        |SELECT CAST(c2.k AS BIGINT) AS k, CAST(pos AS INT) AS pos, ce,
        |  cluster_size
        |FROM c2 JOIN sz ON c2.k = sz.k ORDER BY k, pos""".stripMargin,
    "q_cluster_topics" ->
      s"""WITH $kmeansFitCtes,
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |ck AS (SELECT a3.k, tok, CAST(count(*) AS BIGINT) AS ctk
        |  FROM toks JOIN a3 ON toks.doc_id = a3.vec_id
        |  WHERE tok <> '' GROUP BY 1, 2),
        |nk AS (SELECT k, CAST(sum(ctk) AS BIGINT) AS nk FROM ck GROUP BY 1),
        |tt AS (SELECT tok, CAST(sum(ctk) AS BIGINT) AS c_t
        |  FROM ck GROUP BY 1),
        |nn AS (SELECT CAST(sum(c_t) AS BIGINT) AS nn FROM tt),
        |lift AS (SELECT ck.k, ck.tok, ctk,
        |    CAST(1000000 * ctk * nn // (nk * c_t) AS BIGINT) AS lift_ppm
        |  FROM ck JOIN nk USING (k) JOIN tt USING (tok) CROSS JOIN nn
        |  WHERE ctk >= 5),
        |r AS (SELECT *, row_number() OVER (PARTITION BY k
        |    ORDER BY lift_ppm DESC, ctk DESC, tok ASC) AS rnk FROM lift)
        |SELECT CAST(k AS BIGINT) AS k, CAST(rnk AS INT) AS rnk, tok, ctk,
        |  lift_ppm
        |FROM r WHERE rnk <= 5 ORDER BY k, rnk""".stripMargin,
  )
}
