package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.LapTimeMillis
import graft.ops.{Dedup, Sinks}

/** Property-based tests (SURVEY.md §5.2.3): formatting round-trips, merge
  * idempotence/algebra, dedup fixpoint, set-op laws. ScalaCheck Gens are
  * sampled with fixed seeds (the scalatest-scalacheck bridge isn't in the
  * offline cache, so sampling is explicit — deterministic across runs).
  */
class PropertySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("token-budget mix is monotone in the budget (smaller mix ⊆ larger mix)") {
    // quota_s = max(1, floor(B·w_s/W)) is nondecreasing in B and the
    // per-source hash order is fixed, so every doc kept under a smaller
    // budget must be kept under a larger one — the property that makes
    // budget sweeps reproducible supersets instead of reshuffles.
    val docs = graft.model.Tables.documents(spark, sf)
    def kept(b: Long): Set[Long] =
      graft.ops.TextStats.tokenBudgetSample(docs, "doc_id", "source", "text", b)
        .select($"doc_id").as[Long].collect().toSet
    val small = kept(2000L); val mid = kept(8000L); val large = kept(30000L)
    assert(small.subsetOf(mid), s"${(small -- mid).take(5)} lost when budget grew")
    assert(mid.subsetOf(large), s"${(mid -- large).take(5)} lost when budget grew")
    assert(small.size < large.size, "budget increase had no effect")
  }

  test("ScaleFold amplification: exact 10x, fold-0 identity, intact shards") {
    import org.apache.spark.sql.functions._
    val docs = graft.model.Tables.documents(spark, sf)
    val amp = graft.ops.ScaleFold.amplifyTable(docs, "documents", 10)
    val n = docs.count()
    assert(amp.count() == 10 * n, "amplification must be exactly 10-fold")
    // fold 0 is the identity: the base corpus survives verbatim
    val fold0 = amp.filter(col("doc_id") < graft.ops.ScaleFold.Shift)
      .withColumn("text", expr("substring(text, 1, length(text) - 3)"))
      .withColumn("n_chars", col("n_chars") - 3L)
    assert(fold0.exceptAll(docs).isEmpty && docs.exceptAll(fold0).isEmpty,
      "fold 0 (minus the ' f0' suffix) must equal the base corpus")
    // every fold is a complete shard: n docs per fold, ids disjoint
    val perFold = amp.groupBy((col("doc_id") / graft.ops.ScaleFold.Shift)
      .cast("long").as("fold")).count().collect()
    assert(perFold.length == 10 && perFold.forall(_.getLong(1) == n))
    // n_chars tracks the suffixed text exactly — the metadata-consistency
    // property every documents-derived stat relies on
    assert(amp.filter(length(col("text")) =!= col("n_chars")).isEmpty ==
      docs.filter(length(col("text")) =!= col("n_chars")).isEmpty)
  }

  test("ScaleFold.amplify marker records fold count + table set; uncovered tables re-amplify") {
    // ADVICE r13: a documents-only SF10 soak dir later reused for a
    // wider soak must amplify the MISSING tables instead of returning
    // as complete on a bare marker.
    val out = java.nio.file.Files.createTempDirectory("amp_marker").toString
    val base = "/root/testdata/sf0.001"
    def markerText = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/_SOAK_COMPLETE"))
    def parts(t: String) = new java.io.File(s"$out/$t.parquet")
      .listFiles().map(_.getName).toSet
    graft.ops.ScaleFold.amplify(spark, base, out, folds = 3,
      tables = Seq("region"))
    assert(markerText == "3:region")
    assert(!new java.io.File(s"$out/supplier.parquet").exists())
    val regionParts = parts("region")
    // widening the requested set amplifies ONLY the missing table
    graft.ops.ScaleFold.amplify(spark, base, out, folds = 3,
      tables = Seq("region", "supplier"))
    assert(markerText == "3:region,supplier")
    assert(parts("region") == regionParts,
      "already-covered tables must not be rewritten")
    val nSupp = graft.model.Tables.supplier(spark, base).count()
    assert(spark.read.parquet(s"$out/supplier.parquet").count() == 3 * nSupp)
    // a DIFFERENT fold count invalidates all prior coverage
    graft.ops.ScaleFold.amplify(spark, base, out, folds = 2,
      tables = Seq("supplier"))
    assert(markerText == "2:supplier")
    assert(spark.read.parquet(s"$out/supplier.parquet").count() == 2 * nSupp)
    // a LEGACY (empty) marker records neither fold count nor table set
    // — amplify must fail loud instead of guessing coverage (ADVICE
    // r14: the guess validated wrong-scale data)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/_SOAK_COMPLETE"), "")
    val e = intercept[IllegalStateException] {
      graft.ops.ScaleFold.amplify(spark, base, out, folds = 2,
        tables = Seq("supplier"))
    }
    assert(e.getMessage.contains("re-amplify"))
  }

  test("ScaleFold embeddings: fold-0 exact identity, folds are near-dups") {
    import org.apache.spark.sql.functions._
    val emb = graft.model.Tables.embeddings(spark, sf)
    val amp = graft.ops.ScaleFold.amplifyTable(emb, "embeddings", 10)
    val n = emb.count()
    assert(amp.count() == 10 * n)
    // fold 0 is the BIT-exact identity: x + 0.0 rounds back to x, so
    // the base corpus survives verbatim (unlike documents' ' f0')
    val fold0 = amp.filter(col("vec_id") < graft.ops.ScaleFold.Shift)
    assert(fold0.exceptAll(emb).isEmpty && emb.exceptAll(fold0).isEmpty,
      "fold 0 must equal the base corpus bit-for-bit")
    // the perturbation is the stated rule exactly: fold k's vector is
    // float(double(x) + (k mod 10) * 2^-7) per component — recompute it
    // from the base here (a second statement of the one rule, like the
    // DuckDB restatement in scripts/soak_check.py) and require
    // equality; at 10 folds the mod is the identity
    val restated = emb.select(col("*"),
        explode(sequence(lit(0L), lit(9L))).as("k"))
      .select((col("vec_id") + col("k") * lit(graft.ops.ScaleFold.Shift))
          .as("vec_id"),
        transform(col("embedding"), x =>
          (x.cast("double") + col("k").cast("double") *
            lit(graft.ops.ScaleFold.EmbEps)).cast("float")).as("embedding"),
        col("label"))
    assert(amp.exceptAll(restated).isEmpty && restated.exceptAll(amp).isEmpty,
      "amplified embeddings must match the stated rule bit-for-bit")
    // folds are vector-space NEAR-dups: cosine(fold0, fold9 copy) stays
    // above the q_dedup_embedding threshold for at least some vectors —
    // the similarity soak's candidate-pressure premise
    val f0 = amp.filter(col("vec_id") === 0L).select(col("embedding")).first()
      .getSeq[Float](0)
    val f9 = amp.filter(col("vec_id") === 9L * graft.ops.ScaleFold.Shift)
      .select(col("embedding")).first().getSeq[Float](0)
    def dot(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val cos = dot(f0, f9) / math.sqrt(dot(f0, f0) * dot(f9, f9))
    assert(cos > 0.4, s"fold copies must be near-dups, cos=$cos")
    // the BOUNDED alphabet (r16): past 10 folds the perturbation wraps,
    // so fold k+10 is the EXACT duplicate of fold k (ids shifted) —
    // near-dup density per vector stays constant at any fold count
    // instead of every high fold collapsing toward the all-ones
    // direction (an unbounded k*2^-7 at fold 99 shifts by 6.2x the
    // unit norm, making copies of DIFFERENT bases mutually near-dup —
    // a O((n*folds)^2) corpus no engine property can save)
    val amp20 = graft.ops.ScaleFold.amplifyTable(emb, "embeddings", 20)
    val fold10 = amp20
      .filter(col("vec_id") >= 10L * graft.ops.ScaleFold.Shift &&
        col("vec_id") < 11L * graft.ops.ScaleFold.Shift)
      .select((col("vec_id") - 10L * graft.ops.ScaleFold.Shift).as("vec_id"),
        col("embedding"), col("label"))
    assert(fold10.exceptAll(emb).isEmpty && emb.exceptAll(fold10).isEmpty,
      "fold 10 must be the exact duplicate of fold 0 (wrapped alphabet)")
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  test("Soak tiers keep the r16 soak key sets; an unknown key fails before anything is written") {
    import scala.jdk.CollectionConverters._
    import graft.tools.Soak
    def soaked(artifact: String): Set[String] =
      json.readTree(new java.io.File(artifact)).get("queries").fieldNames().asScala.toSet
    assert(Soak.sf1.keys.size == 46 && Soak.sf1.keys.toSet == soaked("SOAK_r16.json"))
    assert(Soak.sf10.keys.size == 14 && Soak.sf10.keys.toSet == soaked("SOAK_SF10_r16.json"))
    assert(Soak.tiers.values.map(t => t.name -> t.folds).toSeq == Seq("sf1" -> 10, "sf10" -> 100))
    val tmp = java.nio.file.Files.createTempDirectory("soak_unknown").toFile
    try {
      // a requested key, or a tier key renamed away from the registry
      Seq(Soak.sf1 -> Seq("q_dedup_exact", "q_no_such_key"),
        Soak.sf10.copy(keys = Soak.sf10.keys :+ "q_no_such_key") -> Nil).foreach {
        case (tier, keys) =>
          val e = intercept[IllegalArgumentException](
            Soak.run(spark, tier, sf, s"$tmp/corpus", s"$tmp/out", keys))
          assert(e.getMessage.contains("q_no_such_key"), e.getMessage)
          assert(tmp.list().isEmpty, "nothing may be written before the key check")
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("Soak sf1 on two keys writes their outputs and one run record") {
    import scala.jdk.CollectionConverters._
    import graft.tools.Soak
    val keys = Seq("q_dedup_exact", "q_tfidf")
    val tmp = java.nio.file.Files.createTempDirectory("soak_smoke").toFile
    try {
      Soak.run(spark, Soak.sf1, sf, s"$tmp/corpus", s"$tmp/out", keys)
      keys.foreach(k => assert(new java.io.File(s"$tmp/out/$k/_SUCCESS").exists, k))
      val rec = json.readTree(new java.io.File(s"$tmp/out/soak_run.json"))
      def strings(f: String) = rec.get(f).elements().asScala.map(_.asText).toSeq
      assert(rec.get("tier").asText == "sf1" && rec.get("folds").asInt == 10)
      assert(strings("tables") == Soak.sf1.tables && strings("keys") == keys)
      assert(rec.get("base_dir").asText == new java.io.File(sf).getAbsolutePath)
      val oracles = rec.get("oracle_sql")
      assert(oracles.fieldNames().asScala.toSeq == keys)
      keys.foreach { k =>
        assert(oracles.get(k).asText == SparkEntry.oracleSql(k), k)
        val t = rec.get("timings").get("queries").get(k)
        assert(t.get("first").asDouble >= 0 && t.get("warm_write").asDouble >= 0, k)
      }
      assert(rec.get("timings").get("derive").size == SparkEntry.derives.size)
      assert(rec.get("timings").get("calib_probes").size == 3)
      // the amplified corpus is the tier's: 10 folds of every table
      assert(spark.read.parquet(s"$tmp/corpus/documents.parquet").count() ==
        10 * graft.model.Tables.documents(spark, sf).count())
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("every Bench headline/extended key exists in the registry") {
    // Bench silently filters unknown keys (queries.contains), so a
    // typo'd entry would vanish from the artifact instead of failing —
    // pin the lists to the registry here.
    val missing = (Bench.headline ++ Bench.extended)
      .filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"bench keys not in registry: $missing")
    // ...and the converse, registry-wide since r7: every key is timed
    // (headline or extended), so no operator ships unbenchmarked and a
    // new key must be enrolled here to land
    val benched = (Bench.headline ++ Bench.extended).toSet
    val unbenched = SparkEntry.queries.keySet -- benched
    assert(unbenched.isEmpty, s"registry keys missing from bench: $unbenched")
    val dups = (Bench.headline ++ Bench.extended)
      .groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"keys benched twice: $dups")
  }

  test("registry families must be disjoint: a key in two family maps fails") {
    val a = Map("q_a" -> 1, "q_shared" -> 2)
    val b = Map("q_b" -> 3, "q_shared" -> 4)
    val e = intercept[IllegalArgumentException] {
      SparkEntry.disjointUnion("query", Seq(a, b))
    }
    assert(e.getMessage.contains("q_shared"))
    assert(SparkEntry.disjointUnion("query", Seq(a, Map("q_b" -> 3))) ==
      Map("q_a" -> 1, "q_shared" -> 2, "q_b" -> 3))
  }

  test("COVERAGE.md header key count matches the actual registry") {
    // Round-6 advice flagged silent drift between the documented count
    // and SparkEntry.queries.size — pin them together so the doc can't
    // go stale without a red test.
    val header = scala.io.Source.fromFile("COVERAGE.md", "UTF-8").getLines()
      .take(5).mkString(" ")
    val m = """(\d+) query keys""".r.findFirstMatchIn(header)
    assert(m.isDefined, "COVERAGE.md header lost its key-count sentence")
    assert(m.get.group(1).toInt == SparkEntry.queries.size,
      s"COVERAGE.md says ${m.get.group(1)} keys; registry has ${SparkEntry.queries.size}")
    val o = """(\d+) carry DuckDB oracle SQL""".r.findFirstMatchIn(header)
    assert(o.isDefined && o.get.group(1).toInt == SparkEntry.oracleSql.size,
      s"COVERAGE.md oracle count vs actual ${SparkEntry.oracleSql.size}")
  }

  test("lap-time format round-trips for ms < 100 minutes") {
    val cases = samples(Gen.choose(0L, 100L * 60000L - 1), 200) ++
      Seq(0L, 59L, 999L, 1000L, 59999L, 60000L, 5999999L)
    cases.foreach { ms =>
      val s = LapTimeMillis.format(ms)
      val m = raw"(\d+):(\d{2})\.(\d{3})".r.findFirstMatchIn(s).get
      val back = m.group(1).toLong * 60000L + m.group(2).toLong * 1000L + m.group(3).toLong
      assert(back == ms, s"$ms → $s → $back")
    }
  }

  private val kvList = Gen.listOf(Gen.zip(Gen.choose(1, 20), Gen.alphaStr.map(_.take(4))))

  test("mergeByKey is idempotent and updates win (K1 algebra)") {
    samples(Gen.zip(kvList, kvList), 8).foreach { case (baseRows, updRows) =>
      val base = baseRows.toMap.toSeq.toDF("k", "v")
      val upd = updRows.toMap.toSeq.toDF("k", "v")
      val expected = baseRows.toMap ++ updRows.toMap
      val once = Sinks.mergeByKey(base, upd, Seq("k"))
      assert(once.as[(Int, String)].collect().toMap == expected)
      val twice = Sinks.mergeByKey(once, upd, Seq("k"))
      assert(twice.as[(Int, String)].collect().toMap == expected)
    }
  }

  test("exactDedup is a fixpoint and conserves row counts") {
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "c"))
      .toDF("doc_id", "text")
    val once = Dedup.exactDedup(docs, "doc_id", "text")
    val survivors = once.select($"doc_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 3L, 5L))
    val again = Dedup.exactDedup(
      docs.filter($"doc_id".isin(survivors.toSeq: _*)), "doc_id", "text")
    assert(again.select($"doc_id").as[Long].collect().toSet == survivors)
    assert(once.agg(sum($"n_copies")).as[Long].collect().head == 5L)
  }

  test("set-op algebra: |A∩B| + |A\\B| = |A| on key sets") {
    val intList = Gen.listOf(Gen.choose(1, 50))
    samples(Gen.zip(intList, intList), 8).foreach { case (xs, ys) =>
      val a = xs.distinct.toDF("k")
      val b = ys.distinct.toDF("k")
      assert(a.intersect(b).count() + a.except(b).count() == xs.distinct.size)
    }
  }

  test("group-max equals per-group reference maximum") {
    val rowsGen = Gen.nonEmptyListOf(Gen.zip(Gen.choose(1, 5), Gen.choose(-100, 100)))
    samples(rowsGen, 8).foreach { rows =>
      val viaAgg = rows.toDF("g", "v").groupBy($"g").agg(max($"v").as("m"))
        .as[(Int, Int)].collect().toMap
      val expected = rows.groupBy(_._1).map { case (g, vs) => g -> vs.map(_._2).max }
      assert(viaAgg == expected)
    }
  }

  test("star and propagation components agree on random graphs") {
    // reference labeling via union-find on the driver
    def ufLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    val edgeGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0L, 30L), Gen.choose(0L, 30L)))
      .map(_.filter(e => e._1 != e._2))
    samples(edgeGen, 6).filter(_.nonEmpty).foreach { edges =>
      val df = edges.toDF("doc_a", "doc_b")
      val expected = ufLabels(edges).toSeq.sorted
      val naive = Dedup.connectedComponents(df, "doc_a", "doc_b")
        .as[(Long, Long)].collect().toSeq.sorted
      val star = Dedup.connectedComponentsStar(df, "doc_a", "doc_b")
        .as[(Long, Long)].collect().toSeq.sorted
      assert(naive == expected, s"propagation diverges on $edges")
      assert(star == expected, s"star diverges on $edges")
    }
  }

  test("stratifiedSample takes min(perStratum, |stratum|) and stays a subset") {
    val rows = Gen.listOf(Gen.zip(Gen.choose(0L, 200L), Gen.oneOf("a", "b", "c", "d")))
    samples(rows, 6).filter(_.nonEmpty).foreach { data =>
      val df = data.distinct.toDF("doc_id", "lang")
      val strata = data.distinct.groupBy(_._2).view.mapValues(_.size).toMap
      val got = graft.ops.TextStats.stratifiedSample(df, "doc_id", "lang", 3)
        .as[(String, Long, Int)].collect().toSeq
      val byStratum = got.groupBy(_._1).view.mapValues(_.size).toMap
      strata.foreach { case (s, n) =>
        assert(byStratum.getOrElse(s, 0) == math.min(3, n), s"stratum $s of $data")
      }
      val inputPairs = data.distinct.map(p => (p._2, p._1)).toSet
      assert(got.forall(r => inputPairs((r._1, r._2))), "sample must be a subset")
    }
  }

  test("repetitionMetrics fractions stay in [0, 1e6]; distinct docs score 0 dup") {
    val toks = Gen.choose(2, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("w1", "w2", "w3", "w4")))
    val docs = samples(toks, 20).zipWithIndex
      .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }.toDF("doc_id", "text")
    val got = graft.ops.TextStats.repetitionMetrics(docs, "doc_id", "text")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(got.forall(r => r._2 >= 0 && r._2 <= 1000000L))
    assert(got.forall(r => r._3 > 0 && r._3 <= 1000000L))
    val distinctDoc = Seq((99L, "u1 u2 u3 u4")).toDF("doc_id", "text")
    val d = graft.ops.TextStats.repetitionMetrics(distinctDoc, "doc_id", "text")
      .as[(Long, Long, Long, Boolean)].collect().head
    assert(d._2 == 0L, "all-distinct tokens must have zero dup fraction")
  }

  test("contaminationReport: disjoint vocabularies yield an empty report") {
    val train = Seq((1L, "aa bb cc dd"), (2L, "ee ff gg hh")).toDF("doc_id", "text")
    val ev = Seq((10L, "xx yy zz ww")).toDF("doc_id", "text")
    assert(Dedup.contaminationReport(train, ev, "doc_id", "text").count() == 0)
  }

  test("tokenEntropy is bounded by [0, ln(n_distinct)] and permutation-invariant") {
    val tokGen = Gen.listOfN(12, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" "))
    val texts = samples(tokGen, 30).distinct
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = graft.ops.TextStats.tokenEntropy(df, "doc_id", "text")
      .as[(Long, Int, Long)].collect()
    got.foreach { case (id, n, e6) =>
      val distinct = texts(id.toInt).split(" ").distinct.length
      assert(e6 >= 0L && e6 <= math.ceil(math.log(distinct.toDouble) * 1e6).toLong)
    }
    // permutation invariance: entropy depends on the multiset only
    val perm = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t.split(" ").sorted.reverse.mkString(" ")) }
      .toDF("doc_id", "text")
    val gotPerm = graft.ops.TextStats.tokenEntropy(perm, "doc_id", "text")
      .as[(Long, Int, Long)].collect().map(r => r._1 -> r._3).toMap
    got.foreach { case (id, _, e6) => assert(gotPerm(id) == e6) }
  }

  test("bm25 is monotone in tf when df, dl, and corpus stats are held fixed") {
    // Same length, same single query term, increasing tf — score must rise.
    val docs = Seq(
      (0L, "x x x x pad1 pad2 pad3 pad4"),
      (1L, "x x x pad1 pad2 pad3 pad4 pad5"),
      (2L, "x x pad1 pad2 pad3 pad4 pad5 pad6"),
      (3L, "x pad1 pad2 pad3 pad4 pad5 pad6 pad7")
    ).toDF("doc_id", "text")
    val scores = graft.ops.Retrieval.bm25(docs, "doc_id", "text", Seq("x"))
      .as[(Long, Long)].collect().toMap
    assert(scores(0L) > scores(1L) && scores(1L) > scores(2L) &&
      scores(2L) > scores(3L))
  }

  test("sessionize: session count per user = gap count + 1; seq is contiguous") {
    val gapsGen = Gen.listOfN(10, Gen.choose(1L, 100L))
    samples(gapsGen, 10).foreach { deltasMin =>
      // one user; events at cumulative offsets, threshold 30 minutes
      var t = 0L
      val rows = deltasMin.zipWithIndex.map { case (d, i) =>
        t += d * 60L * 1000000L
        (i.toLong, 1L, new java.sql.Timestamp(1700000000000L + t / 1000L))
      }
      val df = rows.toDF("event_id", "user_id", "ts")
      val seqs = graft.ops.Sessions
        .sessionize(df, "user_id", "ts", "event_id", 30)
        .select($"session_seq").as[Long].collect().sorted
      val expectedSessions = 1 + deltasMin.drop(1).count(_ > 30)
      assert(seqs.max == expectedSessions)
      assert(seqs.distinct.toSeq == (1L to expectedSessions))
    }
  }

  test("maskDigitsKeepLast preserves length and non-digit structure") {
    val nameGen = Gen.listOfN(8, Gen.numChar).map(ds => "Cust#" + ds.mkString)
    samples(nameGen, 40).distinct.zipWithIndex.foreach { case (name, i) =>
      val df = Seq((i.toLong, name, 0.0)).toDF("k", "name", "bal")
      val masked = df.select(
        graft.ops.Privacy.maskDigitsKeepLast(col("name"), 3).as("m"))
        .as[String].head()
      assert(masked.length == name.length)
      assert(masked.takeRight(3) == name.takeRight(3))
      assert(masked.drop(5).dropRight(3).forall(_ == '*'))
      assert(masked.startsWith("Cust#"))
    }
  }

  test("temperatureSample covers every stratum and upweights small ones") {
    // skewed strata: 64/16/4 docs
    val rows = (1L to 64L).map(i => (i, "big")) ++
      (101L to 116L).map(i => (i, "mid")) ++ (201L to 204L).map(i => (i, "small"))
    val df = rows.toDF("doc_id", "src")
    val got = graft.ops.TextStats.temperatureSample(df, "doc_id", "src", 40)
      .as[(String, Long, Int)].collect()
    val perStratum = got.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perStratum.keySet == Set("big", "mid", "small"), "every stratum sampled")
    // √n weights: 8/4/2 of 14 → quotas floor(40·w/Σw) = 22/11/5,
    // 'small' capped at its 4 available docs
    assert(perStratum == Map("big" -> 22, "mid" -> 11, "small" -> 4))
    // sampled share of 'small' (5/4 capped at 4) exceeds its raw share;
    // 'big' is damped below its raw 64/84 share
    assert(perStratum("big").toDouble / got.length < 64.0 / 84.0)
    // subset + rank contiguity per stratum
    val ids = rows.toMap
    got.foreach { case (src, id, _) => assert(ids(id) == src) }
  }

  test("K2 overwriteRefresh replaces table contents atomically") {
    val path = "target/tmp/refresh_test"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    Sinks.overwriteRefresh(Seq((1, "a"), (2, "b")).toDF("k", "v"), path)
    Sinks.overwriteRefresh(Seq((3, "c")).toDF("k", "v"), path)
    val got = spark.read.parquet(path).as[(Int, String)].collect().toSeq
    assert(got == Seq((3, "c")))
  }

  test("GraftExtensions injects functions via withExtensions") {
    // Force a genuinely new session (getOrCreate would return the shared
    // one, whose registry other suites may already have populated), then
    // restore the shared session as active/default for later suites.
    val shared = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master("local[4]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val got = s2.sql(
        "SELECT lap_time_millis(83456L) AS s, dot_arr(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .collect().head
      assert(got.getString(0) == "01:23.456")
      assert(got.getDouble(1) == 11.0)
      // every catalog function is injected, and the registrar (which adds
      // only the two demonstration UDFs here) replaces none of them
      assertCatalogResolves(s2)
      // a plain session gets the same functions from the registrar, which
      // keeps a function its user registered under a catalog name
      val plain = spark.newSession()
      val reg = plain.sessionState.functionRegistry
      reg.createOrReplaceTempFunction("dot_arr",
        _ => org.apache.spark.sql.catalyst.expressions.Literal(42), "scala_udf")
      graft.functions.Catalog.register(plain)
      assert(plain.sql("SELECT dot_arr(array(1.0d), array(1.0d))")
        .collect().head.getInt(0) == 42, "the registrar replaced dot_arr")
      reg.dropFunction(org.apache.spark.sql.catalyst.FunctionIdentifier("dot_arr"))
      graft.functions.Catalog.register(plain)
      assertCatalogResolves(plain)
      // the planner strategy and both optimizer rules ride the same
      // extension — a deployment-configured session needs no runtime
      // registration through ops/AsOf
      assert(s2.sessionState.planner.extraPlanningStrategies
        .contains(graft.plans.AsOfJoinStrategy),
        "AsOfJoinStrategy not injected")
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(shared)
      org.apache.spark.sql.SparkSession.setDefaultSession(shared)
    }
  }

  test("AsOf.joinAsOf equals the inequality-join argmax on random tables") {
    // adversarial shapes on purpose: few keys (forced collisions),
    // duplicate timestamps, keys present on only one side, and the
    // empty-side degenerate cases
    val rowsGen = Gen.listOf(
      Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 20L)))
    samples(Gen.zip(rowsGen, rowsGen), 8).zipWithIndex.foreach {
      case ((ls, rs), i) =>
        val lhs = ls.zipWithIndex
          .map { case ((k, t), id) => (id.toLong, k, t) }
          .toDF("l_id", "k", "t")
        val rhs = rs.zipWithIndex
          .map { case ((k, t), id) => (id.toLong, k, t) }
          .toDF("r_id", "k", "t")
          .select(col("k"), col("t"), col("t").as("pay"))
        val native = graft.ops.AsOf
          .joinAsOf(lhs, rhs, Seq("k"), "t", "t", Seq("pay"))
          .select(col("l_id"), col("pay"))
        val expected = lhs.alias("l")
          .join(rhs.alias("r"),
            col("l.k") === col("r.k") && col("r.t") <= col("l.t"), "left")
          .groupBy(col("l.l_id").as("l_id"))
          .agg(max(col("r.pay")).as("pay"))
        assert(native.exceptAll(expected).isEmpty &&
          expected.exceptAll(native).isEmpty,
          s"case $i: native as-of diverged from the argmax definition")
    }
  }

  test("decodeWavDsp matches a naive per-sample recompute on random planes") {
    import graft.ops.Multimodal
    val planeGen = Gen.listOf(Gen.choose(0, 255)).map(_.map(_.toByte))
    samples(planeGen, 24).zipWithIndex.foreach { case (raw, i) =>
      val samplesArr = raw.take(raw.length - raw.length % 2).toArray
      val wav = Multimodal.buildWavPcm8Stereo(8000, samplesArr)
      val dsp = Multimodal.decodeWavDsp(i.toLong, wav)
      val frames = samplesArr.length / 2
      val l = (0 until frames).map(j => (samplesArr(2 * j) & 0xff) - 128)
      val r = (0 until frames).map(j => (samplesArr(2 * j + 1) & 0xff) - 128)
      def e(c: Seq[Int]) = c.map(v => v.toLong * v).sum
      def z(c: Seq[Int]) =
        c.zip(c.drop(1)).count { case (a, b) => (a < 0) != (b < 0) }.toLong
      def pk(c: Seq[Int]) = if (c.isEmpty) 0 else c.map(math.abs).max
      assert(dsp.n_frames == frames && dsp.energy_l == e(l) &&
        dsp.energy_r == e(r) && dsp.zc_l == z(l) && dsp.zc_r == z(r) &&
        dsp.peak_l == pk(l) && dsp.peak_r == pk(r),
        s"case $i diverged: $dsp")
    }
  }

  test("IntervalJoin.overlapJoin equals the theta join on random interval sets") {
    // len 0 produces EMPTY intervals — they must match nothing
    val iv = Gen.listOfN(12,
      Gen.zip(Gen.choose(0L, 60L), Gen.choose(0L, 15L)).map {
        case (s, len) => (s, s + len)
      })
    samples(Gen.zip(iv, iv), 6).zipWithIndex.foreach { case ((as, bs), i) =>
      val a = as.zipWithIndex.map { case ((s, e), id) => (id.toLong, s, e) }
        .toDF("a_id", "a_s", "a_e")
      val b = bs.zipWithIndex.map { case ((s, e), id) => (id.toLong, s, e) }
        .toDF("b_id", "b_s", "b_e")
      // try several cell widths incl. degenerate tiny/huge cells
      Seq(1L, 4L, 7L, 64L).foreach { w =>
        val got = graft.ops.IntervalJoin
          .overlapJoin(a, "a_s", "a_e", b, "b_s", "b_e", w)
          .select("a_id", "b_id").as[(Long, Long)].collect().sorted.toSeq
        val want = for {
          ((s1, e1), i1) <- as.zipWithIndex
          ((s2, e2), i2) <- bs.zipWithIndex
          if s1 < e1 && s2 < e2 && s1 < e2 && s2 < e1
        } yield (i1.toLong, i2.toLong)
        assert(got == want.sorted,
          s"case $i width $w: got ${got.size} want ${want.size}")
      }
    }
  }

  /** Shared codec fuzz harness: random (dims, content) planes through
    * an encode/decode pair must (a) round-trip to exact channel sums
    * and (b) agree with the JDK's independent ImageIO reader on the
    * SAME bytes — so the encoder emits the real format (not a private
    * dialect) and the decoder is right for arbitrary content, not just
    * the fixture corpus.
    */
  private def fuzzImageCodec(
      name: String,
      build: (Int, Int, Array[Byte]) => Array[Byte],
      decode: Array[Byte] => graft.ops.Multimodal.ImageStats): Unit = {
    val gen = for {
      w <- Gen.choose(1, 24)
      h <- Gen.choose(1, 24)
      seed <- Gen.choose(0, Int.MaxValue)
    } yield (w, h, seed)
    samples(gen, 40).foreach { case (w, h, seed) =>
      val rnd = new scala.util.Random(seed)
      val rgb = Array.fill(w * h * 3)(rnd.nextInt(256).toByte)
      val bytes = build(w, h, rgb)
      val ours = decode(bytes)
      def sum(off: Int) =
        rgb.indices.filter(_ % 3 == off).map(rgb(_) & 0xff).map(_.toLong).sum
      assert((ours.width, ours.height) == (w, h),
        s"$name dims diverged at ${w}x$h seed=$seed")
      assert((ours.sum_r, ours.sum_g, ours.sum_b) == (sum(0), sum(1), sum(2)),
        s"$name round-trip sums diverged at ${w}x$h seed=$seed")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      var sr = 0L; var sg = 0L; var sb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val px = img.getRGB(x, y)
        sr += (px >> 16) & 0xff; sg += (px >> 8) & 0xff; sb += px & 0xff
      }
      assert((sr, sg, sb) == (ours.sum_r, ours.sum_g, ours.sum_b),
        s"$name: ImageIO disagreed at ${w}x$h seed=$seed")
    }
  }

  test("PNG codec property: random planes round-trip exactly, and ImageIO agrees") {
    fuzzImageCodec("png", graft.ops.Multimodal.buildPng,
      graft.ops.Multimodal.decodePng(7L, _))
  }

  test("BMP codec property: random planes round-trip exactly, and ImageIO agrees") {
    fuzzImageCodec("bmp", graft.ops.Multimodal.buildBmp24,
      graft.ops.Multimodal.decodeBmp(7L, _))
  }

  /** JPEG is lossy, so its fuzz contract differs from PNG/BMP's
    * byte-exact round trip: (a) MCU-constant fixtures with all-ones
    * quant ARE exact by construction (DC-only blocks), through both
    * this module's decoder and — with constant chroma, where
    * upsampler choice cannot matter — the JDK's independent ImageIO
    * reader; (b) on files the JDK's ImageIO ENCODER wrote (its own
    * quant + Huffman tables, general AC content), the decoder must
    * agree with ImageIO's read-back within IDCT rounding (±1/pixel
    * for single-component gray, where no chroma upsampling choice
    * exists).
    */
  test("JPEG fixture property: MCU-constant planes round-trip exactly through the full codec") {
    val gen = for {
      wm <- Gen.choose(1, 3); hm <- Gen.choose(1, 3)
      clipX <- Gen.choose(0, 15); clipY <- Gen.choose(0, 15)
      seed <- Gen.choose(0, Int.MaxValue)
    } yield (wm, hm, clipX, clipY, seed)
    samples(gen, 40).foreach { case (wm, hm, clipX, clipY, seed) =>
      val rnd = new scala.util.Random(seed)
      val w = 16 * wm - clipX; val h = 16 * hm - clipY
      val ycc = Array.fill(wm * hm)(
        (rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
      val bytes = graft.ops.Multimodal.buildJpeg(w, h, ycc)
      val ours = graft.ops.Multimodal.decodeJpeg(7L, bytes)
      var er = 0L; var eg = 0L; var eb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val (yv, cbv, crv) = ycc((y / 16) * wm + x / 16)
        val (r, g, b) = graft.ops.Multimodal.yccToRgb(yv, cbv, crv)
        er += r; eg += g; eb += b
      }
      assert((ours.width, ours.height, ours.format) == (w, h, "jpeg"),
        s"jpeg dims diverged at ${w}x$h seed=$seed")
      assert((ours.sum_r, ours.sum_g, ours.sum_b) == (er, eg, eb),
        s"jpeg round-trip sums diverged at ${w}x$h seed=$seed")
    }
  }

  test("JPEG encoder property: ImageIO reads our constant-chroma fixtures to the same pixels") {
    val gen = for {
      wm <- Gen.choose(1, 3); hm <- Gen.choose(1, 3)
      seed <- Gen.choose(0, Int.MaxValue)
    } yield (wm, hm, seed)
    samples(gen, 25).foreach { case (wm, hm, seed) =>
      val rnd = new scala.util.Random(seed)
      val w = 16 * wm; val h = 16 * hm
      // luma varies per MCU; chroma constant per image so ImageIO's
      // h2v2 interpolating upsampler and our replication agree exactly
      val cb = rnd.nextInt(256); val cr = rnd.nextInt(256)
      val ycc = Array.fill(wm * hm)((rnd.nextInt(256), cb, cr))
      val bytes = graft.ops.Multimodal.buildJpeg(w, h, ycc)
      val ours = graft.ops.Multimodal.decodeJpeg(7L, bytes)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null && img.getWidth == w && img.getHeight == h,
        s"ImageIO rejected our JPEG at ${w}x$h seed=$seed")
      var sr = 0L; var sg = 0L; var sb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val px = img.getRGB(x, y)
        sr += (px >> 16) & 0xff; sg += (px >> 8) & 0xff; sb += px & 0xff
      }
      assert((sr, sg, sb) == (ours.sum_r, ours.sum_g, ours.sum_b),
        s"jpeg: ImageIO disagreed at ${w}x$h seed=$seed")
    }
  }

  test("JPEG decoder property: ImageIO-encoded grayscale decodes within IDCT rounding") {
    val gen = for {
      w <- Gen.choose(1, 40); h <- Gen.choose(1, 40)
      seed <- Gen.choose(0, Int.MaxValue)
    } yield (w, h, seed)
    samples(gen, 25).foreach { case (w, h, seed) =>
      val rnd = new scala.util.Random(seed)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      // raster samples, NOT set/getRGB: TYPE_BYTE_GRAY is a LINEAR
      // color space, so the RGB view gamma-converts — the decoder
      // reports the raw JPEG samples, and so must the reference
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setSample(x, y, 0, rnd.nextInt(256))
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "jpg", bos))
      val bytes = bos.toByteArray
      val ours = graft.ops.Multimodal.decodeJpeg(7L, bytes)
      val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      var s0 = 0L
      for (y <- 0 until h; x <- 0 until w)
        s0 += back.getRaster.getSample(x, y, 0)
      assert((ours.width, ours.height) == (w, h),
        s"jpeg-gray dims diverged at ${w}x$h seed=$seed")
      // same coefficients, independent IDCTs: at most 1 level/pixel apart
      assert(Math.abs(ours.sum_r - s0) <= w.toLong * h,
        s"jpeg-gray: |${ours.sum_r} - $s0| > ${w * h} at ${w}x$h seed=$seed")
      assert(ours.sum_r == ours.sum_g && ours.sum_g == ours.sum_b)
    }
  }

  test("JPEG decoder property: ImageIO-encoded 4:2:0 color decodes to agreeing aggregates") {
    val gen = for {
      w <- Gen.choose(8, 40); h <- Gen.choose(8, 40)
      seed <- Gen.choose(0, Int.MaxValue)
    } yield (w, h, seed)
    samples(gen, 15).foreach { case (w, h, seed) =>
      val rnd = new scala.util.Random(seed)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rnd.nextInt(1 << 24))
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "jpg", bos))
      val bytes = bos.toByteArray
      val ours = graft.ops.Multimodal.decodeJpeg(7L, bytes)
      val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      var sr = 0L; var sg = 0L; var sb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val px = back.getRGB(x, y)
        sr += (px >> 16) & 0xff; sg += (px >> 8) & 0xff; sb += px & 0xff
      }
      assert((ours.width, ours.height) == (w, h),
        s"jpeg-color dims diverged at ${w}x$h seed=$seed")
      // ImageIO interpolates chroma (fancy h2v2), we replicate — both
      // preserve local means, so aggregates must stay within a few
      // levels/pixel even though individual edge pixels differ
      val tol = 4L * w * h
      assert(Math.abs(ours.sum_r - sr) <= tol && Math.abs(ours.sum_g - sg) <= tol &&
        Math.abs(ours.sum_b - sb) <= tol,
        s"jpeg-color sums diverged beyond $tol at ${w}x$h seed=$seed: " +
          s"ours=(${ours.sum_r},${ours.sum_g},${ours.sum_b}) imageio=($sr,$sg,$sb)")
    }
  }

  test("countmin_agg: whole-corpus plane equals the merge of per-source planes, exactly") {
    // counters are plain sums, so sketch mergeability is EXACT — the
    // property that lets per-shard sketches land as 8 KB columns and
    // answer the corpus question later with zero raw-token rescan
    graft.functions.Catalog.register(spark)
    val toks = graft.model.Tables.documents(spark, sf)
      .select($"source", explode(split($"text", " ")).as("tok"))
      .filter($"tok" =!= "")
    val whole = toks.agg(expr("countmin_agg(tok)").as("sk"))
      .as[Seq[Long]].head()
    val merged = toks.groupBy("source")
      .agg(expr("countmin_agg(tok)").as("sk"))
      .agg(expr("countmin_merge_agg(sk)").as("sk"))
      .as[Seq[Long]].head()
    assert(whole == merged, "per-shard merge diverged from the one-pass plane")
    // mass conservation: every token lands in exactly one bucket per row
    val n = toks.count()
    assert(whole.sum == 4L * n, s"plane mass ${whole.sum} != 4*$n")
    // hash parity with the SQL expression the oracle mirrors
    val tok = org.apache.spark.unsafe.types.UTF8String.fromString("widget")
    val hex = graft.functions.CountMin.md5Hex(tok)
    val sqlBuckets = spark.sql(
      s"SELECT " + (0 until 4).map(r =>
        s"CAST(pmod(CAST(conv(substring(md5('widget'), $r * 8 + 1, 8), " +
          s"16, 10) AS BIGINT), 256) AS INT)").mkString(", "))
      .head().toSeq.map(_.asInstanceOf[Int])
    val ours = (0 until 4).map(graft.functions.CountMin.bucket(hex, _))
    assert(ours == sqlBuckets, s"bucket parity broke: $ours vs $sqlBuckets")
  }

  test("mergeInto algebra: empty source is identity; self-merge-update is identity") {
    samples(kvList, 6).foreach { rows =>
      val t = rows.toMap.toSeq.toDF("k", "v")
      val empty = Seq.empty[(Int, String)].toDF("k", "v")
      val idEmpty = graft.ops.Merge.mergeInto(t, empty, Seq("k"))
        .as[(Int, String)].collect().toSet
      assert(idEmpty == rows.toMap.toSeq.toSet, "empty source must be identity")
      val idSelf = graft.ops.Merge.mergeInto(t, t, Seq("k"))
        .as[(Int, String)].collect().toSet
      assert(idSelf == rows.toMap.toSeq.toSet, "self-merge-update must be identity")
      // delete-all-matched with self as source empties the table
      val deleted = graft.ops.Merge.mergeInto(t, t, Seq("k"),
        matchedDeleteWhen = Some(lit(true)), notMatchedInsertWhen = None)
      assert(deleted.count() == 0L)
    }
  }

  test("Quantiles.quantileAt matches sort-and-index for random groups and ranks") {
    val grp = Gen.listOfN(40,
      Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(0L, 100000L)))
    samples(grp, 5).zipWithIndex.foreach { case (rows, i) =>
      val df = rows.toDF("g", "v")
      Seq((1L, 2L), (9L, 10L), (99L, 100L), (1L, 1L)).foreach { case (num, den) =>
        val got = graft.ops.Quantiles
          .quantileAt(df, "g", col("v"), num, den, "q", bucketWidth = 512L)
          .as[(String, Long)].collect().toMap
        val want = rows.groupBy(_._1).map { case (g, vs) =>
          val sorted = vs.map(_._2).sorted
          val rk = ((sorted.length * num + den - 1) / den).toInt
          g -> sorted(rk - 1)
        }
        assert(got == want, s"case $i p=$num/$den")
      }
    }
  }

  test("snapshotDiff round-trips (apply(diff(A,B), A) == B) and is minimal") {
    samples(Gen.zip(kvList, kvList), 6).foreach { case (b0, a0) =>
      val bm = b0.toMap; val am = a0.toMap
      val before = bm.toSeq.toDF("k", "v")
      val after = am.toSeq.toDF("k", "v")
      val diff = graft.ops.Merge.snapshotDiff(before, after, Seq("k")).cache()
      val iu = diff.filter(col("op") =!= "D").drop("op")
      val dels = diff.filter(col("op") === "D").select("k")
      val applied = graft.ops.Merge.mergeInto(before, iu, Seq("k"))
        .join(dels, Seq("k"), "left_anti")
        .as[(Int, String)].collect().toSet
      assert(applied == am.toSeq.toSet, "round-trip must reproduce after")
      // minimality: exactly one row per genuinely-changed key
      val expected = (am.keySet -- bm.keySet).size +
        (bm.keySet -- am.keySet).size +
        (am.keySet & bm.keySet).count(k => am(k) != bm(k))
      assert(diff.count() == expected.toLong)
      diff.unpersist()
    }
  }

  test("ZOrder.interleave is injective and order-embeds aligned quadrants") {
    val pts = for { x <- 0L until 32L; y <- 0L until 32L } yield (x, y)
    val df = pts.toDF("x", "y")
      .withColumn("z", graft.ops.ZOrder.interleave(col("x"), col("y"), 5))
    val rows = df.as[(Long, Long, Long)].collect()
    assert(rows.map(_._3).distinct.length == pts.length, "z must be injective")
    // aligned 16×16 quadrants occupy contiguous, ordered z ranges
    def quad(x: Long, y: Long) = (x / 16, y / 16)
    val byQuad = rows.groupBy(r => quad(r._1, r._2)).view.mapValues(
      rs => (rs.map(_._3).min, rs.map(_._3).max)).toMap
    val ranges = byQuad.values.toSeq.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi < lo, "quadrant z ranges overlap")
      case _ => ()
    }
  }
}
