package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Catalog, LapTimeMillis}
import graft.ops.Multimodal

class ExtOpsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("LapTimeMillis expression formats and stays null-safe in codegen") {
    Catalog.register(spark)
    val got = Seq[Option[Long]](Some(83456L), None, Some(59L)).toDF("ms")
      .selectExpr("lap_time_millis(ms) AS s")
      .collect().map(r => Option(r.getString(0))).toSeq
    assert(got == Seq(Some("01:23.456"), None, Some("00:00.059")))
  }

  test("LapTimeMillis rejects non-long input at analysis time") {
    Catalog.register(spark)
    val err = intercept[Exception] {
      Seq("x").toDF("s").selectExpr("lap_time_millis(s)").collect()
    }
    assert(err.getMessage.contains("BIGINT"))
  }

  test("UDF and native expression agree everywhere") {
    Catalog.register(spark)
    val df = graft.model.Tables.events(spark, sf)
      .withColumn("ms", floor($"value" * 1000).cast("long"))
    val diff = df.selectExpr("lap_time_millis(ms) a", "lap_time_udf(ms) b")
      .filter($"a" =!= $"b").count()
    assert(diff == 0)
  }

  test("TopKAggregator keeps the k largest with deterministic ties") {
    Catalog.register(spark)
    val df = Seq((1L, 5.0, "a"), (2L, 9.0, "a"), (3L, 9.0, "a"), (4L, 1.0, "a"))
      .toDF("id", "score", "g")
    val got = df.groupBy($"g").agg(expr("top_k_events(id, score)").as("t"))
      .select($"t").as[Seq[String]].collect().head
    assert(got == Seq("2:900", "3:900", "1:500")) // ties: lower id first
  }

  test("custom expressions reject wrong input types at analysis time") {
    import graft.functions.{dot, jaccard, shingles}
    val dotErr = intercept[Exception] {
      Seq((Array("x"), Array(1.0))).toDF("a", "b")
        .select(dot($"a", $"b")).collect()
    }
    assert(dotErr.getMessage.contains("ARRAY<DOUBLE>"))
    val jacErr = intercept[Exception] {
      Seq((Array(1.0), Array(2.0))).toDF("a", "b")
        .select(jaccard($"a", $"b")).collect()
    }
    assert(jacErr.getMessage.toUpperCase.contains("ARRAY"))
    val shErr = intercept[Exception] {
      Seq(Array(1L, 2L)).toDF("a").select(shingles($"a", 3)).collect()
    }
    assert(shErr.getMessage.contains("ARRAY<STRING>"))
  }

  test("RollingHashMin: rolling update equals direct polynomial evaluation") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.RollingHashMin.{Base, Mod, minHash}
    val s = "the quick brown fox jumps"
    val k = 8
    val direct = s.getBytes.sliding(k).map { w =>
      w.foldLeft(0L)((h, b) => (h * Base + (b & 0xff)) % Mod)
    }.min
    assert(minHash(UTF8String.fromString(s), k) == direct)
    // shorter than the window → sentinel (rendered as null by the expr)
    assert(minHash(UTF8String.fromString("short"), 8) == -1L)
    Catalog.register(spark)
    val viaSql = Seq("short", s).toDF("t")
      .selectExpr("rolling_hash_min(t, 8) AS h")
      .collect().map(r => Option(r.get(0))).toSeq
    assert(viaSql == Seq(None, Some(direct)))
  }

  test("Shingles builds distinct n-grams in first-occurrence order") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(xs: String*) = new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])
    def strings(a: org.apache.spark.sql.catalyst.util.ArrayData) =
      (0 until a.numElements()).map(a.getUTF8String(_).toString)
    assert(strings(graft.functions.Shingles.compute(arr("a", "b", "c", "d"), 3))
      == Seq("a b c", "b c d"))
    assert(strings(graft.functions.Shingles.compute(arr("a", "b"), 3)).isEmpty)
    // repeated n-gram appears once, first occurrence wins
    assert(strings(graft.functions.Shingles.compute(arr("x", "y", "x", "y", "x", "y"), 2))
      == Seq("x y", "y x"))
  }

  test("ShingleHashes equals sorted distinct xxhash64 of the string shingles") {
    // the fused pass must agree with the composable reference formulation
    // (xxhash64 seed 42 — Spark's SQL function), including the distinct
    // on repeated n-grams and the empty case
    val df = Seq("a b c d", "x y x y x y", "a b").toDF("text")
      .selectExpr("split(text, ' ') AS toks")
    Catalog.register(spark)
    val rows = df.selectExpr(
      "shingle_hashes(toks, 3) AS fused",
      "array_sort(array_distinct(transform(graft_shingles(toks, 3), s -> xxhash64(s)))) AS composed"
    ).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString)
    }
  }

  test("ShingleHashes skips null tokens (as if filtered) instead of NPE") {
    Catalog.register(spark)
    val rows = Seq(Seq("a", null, "b", "c"), Seq(null, null), Seq("a", "b", null))
      .toDF("toks")
      .selectExpr(
        "shingle_hashes(toks, 2) AS withNulls",
        "shingle_hashes(filter(toks, t -> t IS NOT NULL), 2) AS filtered")
      .collect()
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString))
  }

  test("Shingles and ShingleHashes agree on null-skip semantics") {
    // both kernels must behave as if `filter(toks, t -> t IS NOT NULL)`
    // ran first, so the documented equivalence
    // shingle_hashes(toks,n) == sort(distinct(transform(shingles(toks,n), xxhash64)))
    // holds for null-containing arrays too
    Catalog.register(spark)
    val rows = Seq(Seq("a", null, "b", "c"), Seq("x", "y", null, "x", "y"), Seq[String](null, null))
      .toDF("toks")
      .selectExpr(
        "graft_shingles(toks, 2) AS withNulls",
        "graft_shingles(filter(toks, t -> t IS NOT NULL), 2) AS filtered",
        "shingle_hashes(toks, 2) AS fused",
        "array_sort(array_distinct(transform(graft_shingles(toks, 2), s -> xxhash64(s)))) AS composed")
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString)
      assert(r.getSeq[Long](2) == r.getSeq[Long](3), r.toString)
    }
  }

  test("MinHashSignature equals per-j min of the Carter-Wegman family over shingle hashes") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val hashes = Seq(-7743856125933513497L, 1234567890123456789L, 42L)
    val arr = new GenericArrayData(hashes.toArray[Any])
    val got = graft.functions.MinHashSignature.compute(arr, 4)
    val (as, bs) = graft.functions.MinHashSignature.coeffs(4)
    (0 until 4).foreach { j =>
      val expected = hashes.map(h => as(j) * h + bs(j)).min
      assert(got.getLong(j) == expected, s"hash $j")
    }
    // identical shingle sets must produce identical signatures (LSH relies
    // on equality), and the j-columns must differ (distinct permutations)
    val again = graft.functions.MinHashSignature.compute(arr, 4)
    assert((0 until 4).forall(j => again.getLong(j) == got.getLong(j)))
    assert((0 until 4).map(got.getLong).toSet.size == 4)
  }

  test("multimodal decodeFeatures derives deterministic features per item") {
    val media = Multimodal.synthesizeMedia(
      Seq((1L, "abc", "en", "s", 3L), (2L, "", "en", "s", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val feats = Multimodal.decodeFeatures(media)
      .collect().map(f => f.media_id -> f).toMap
    assert(feats(1L).n_bytes == 3)
    assert(feats(1L).checksum == (('a' * 31 + 'b') * 31 + 'c').toLong)
    assert(feats(2L).n_bytes == 0 && feats(2L).brightness == 0.0)
  }

  test("multimodal sampleFrames splits payload into strided chunks") {
    val media = Multimodal.synthesizeMedia(
      Seq((1L, "0123456789", "en", "s", 10L)).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val frames = Multimodal.sampleFrames(media, frameSize = 2, stride = 2)
      .collect().sortBy(_.frame_no)
    assert(frames.map(_.frame_no).toSeq == Seq(0, 2, 4))
    assert(new String(frames(1).frame_bytes) == "45")
  }

  test("decodePpm parses a real P6 header (comments included) and sums channels") {
    // 2×1 image: pixels (1,2,3) and (250,251,252); a header comment and
    // mixed whitespace exercise the netpbm grammar, not just the happy path.
    val header = "P6\n# a comment\n2 1\n# another\n255\n".getBytes("US-ASCII")
    val plane = Array[Byte](1, 2, 3, 250.toByte, 251.toByte, 252.toByte)
    val got = Multimodal.decodePpm(7L, header ++ plane)
    assert(got == Multimodal.PpmStats(7L, 2, 1, 255, 2L, 251L, 253L, 255L))
  }

  test("decodePpm fails loudly on bad magic, wide maxval, truncated plane") {
    val ok = "P6\n1 1\n255\nRGB".getBytes("US-ASCII")
    assert(Multimodal.decodePpm(1L, ok).n_pixels == 1L)
    intercept[IllegalArgumentException] {
      Multimodal.decodePpm(2L, "P5\n1 1\n255\nX".getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodePpm(3L, "P6\n1 1\n65535\nRRGGBB".getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodePpm(4L, "P6\n2 2\n255\nRGB".getBytes("US-ASCII"))
    }
  }

  test("q_multimodal_decode round-trips synthesized PPMs through the real parser") {
    val got = SparkEntry.queries("q_multimodal_decode")(spark, sf)
      .limit(3).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val w = r.getAs[Int]("width"); val h = r.getAs[Int]("height")
      assert(r.getAs[Long]("n_pixels") == w.toLong * h)
      // every pixel byte is printable ASCII (text-derived): 32..126
      val npx = r.getAs[Long]("n_pixels")
      Seq("sum_r", "sum_g", "sum_b").foreach { c =>
        val sum = r.getAs[Long](c)
        assert(sum >= 32L * npx && sum <= 126L * npx, s"$c=$sum outside ASCII bounds")
      }
    }
  }

  test("BMP round-trip: build → decode recovers the exact channel sums") {
    // widths 4..8 cover both unpadded (12/24-byte rows) and padded
    // (15/18/21-byte) strides; deterministic pseudo-random planes
    (4 to 8).foreach { w =>
      val h = 5
      val rgb = Array.tabulate(w * h * 3)(i => ((i * 131 + 7 * w) % 256).toByte)
      val stats = Multimodal.decodeBmp(1L, Multimodal.buildBmp24(w, h, rgb))
      def sum(off: Int) =
        rgb.indices.filter(_ % 3 == off).map(rgb(_) & 0xff).map(_.toLong).sum
      assert((stats.width, stats.height, stats.n_pixels) == (w, h, w.toLong * h))
      assert((stats.sum_r, stats.sum_g, stats.sum_b) == (sum(0), sum(1), sum(2)),
        s"w=$w: channel sums diverged")
    }
  }

  test("BMP decode honors a top-down (negative height) raster") {
    val (w, h) = (5, 4)
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 37) % 256).toByte)
    val bottomUp = Multimodal.buildBmp24(w, h, rgb)
    // flip to top-down: negate the height field and reverse row order
    val stride = (w * 3 + 3) / 4 * 4
    val topDown = bottomUp.clone()
    val negH = -h
    topDown(22) = (negH & 0xff).toByte
    topDown(23) = ((negH >> 8) & 0xff).toByte
    topDown(24) = ((negH >> 16) & 0xff).toByte
    topDown(25) = ((negH >>> 24) & 0xff).toByte
    (0 until h).foreach { y =>
      System.arraycopy(bottomUp, 54 + (h - 1 - y) * stride,
        topDown, 54 + y * stride, stride)
    }
    assert(Multimodal.decodeBmp(1L, topDown) == Multimodal.decodeBmp(1L, bottomUp))
  }

  test("PNG round-trip: build → inflate → unfilter recovers the exact channel sums") {
    // h = 6 ≥ 5 rows, so EVERY filter type (None/Sub/Up/Average/Paeth)
    // is live in each image (buildPng filters row y with type y % 5)
    (4 to 8).foreach { w =>
      val h = 6
      val rgb = Array.tabulate(w * h * 3)(i => ((i * 131 + 7 * w) % 256).toByte)
      val stats = Multimodal.decodePng(1L, Multimodal.buildPng(w, h, rgb))
      def sum(off: Int) =
        rgb.indices.filter(_ % 3 == off).map(rgb(_) & 0xff).map(_.toLong).sum
      assert((stats.format, stats.width, stats.height, stats.n_pixels) ==
        ("png", w, h, w.toLong * h))
      assert((stats.sum_r, stats.sum_g, stats.sum_b) == (sum(0), sum(1), sum(2)),
        s"w=$w: channel sums diverged")
    }
  }

  test("PNG encoder emits real PNG: the JDK's own ImageIO reader agrees") {
    // independent decoder cross-check — javax.imageio ships with the JDK
    // and knows nothing about our filter/deflate choices, so agreement
    // proves buildPng writes the actual format, not a private dialect
    val (w, h) = (7, 6)
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 53 + 11) % 256).toByte)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.buildPng(w, h, rgb)))
    assert(img != null && img.getWidth == w && img.getHeight == h)
    var sr = 0L; var sg = 0L; var sb = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val px = img.getRGB(x, y)
      sr += (px >> 16) & 0xff; sg += (px >> 8) & 0xff; sb += px & 0xff
    }
    val ours = Multimodal.decodePng(1L, Multimodal.buildPng(w, h, rgb))
    assert((sr, sg, sb) == (ours.sum_r, ours.sum_g, ours.sum_b),
      "ImageIO and the pure-JVM decoder disagree on the same bytes")
  }

  test("PNG decode fails loud on CRC corruption and truncated deflate streams") {
    val (w, h) = (5, 5)
    val rgb = Array.tabulate(w * h * 3)(i => (i % 256).toByte)
    val good = Multimodal.buildPng(w, h, rgb)
    // flip one bit inside the IHDR data (offset 18 sits in the width
    // field, bytes 16-19) — the chunk CRC must catch it before any
    // field is trusted
    val corrupt = good.clone()
    corrupt(18) = (corrupt(18) ^ 0x40).toByte
    val err = intercept[IllegalArgumentException] {
      Multimodal.decodePng(1L, corrupt)
    }
    assert(err.getMessage.contains("CRC"), err.getMessage)
    // drop the final IEND chunk AND the second IDAT: scanlines come up
    // short and the decoder must refuse a partial image
    val truncated = good.take(good.length / 2)
    intercept[IllegalArgumentException] {
      Multimodal.decodePng(1L, truncated)
    }
  }

  test("decodeImage dispatches on magic and fails loud on unknown containers") {
    val (w, h) = (4, 3)
    val rgb = Array.tabulate(w * h * 3)(i => (i % 256).toByte)
    val ppm = (s"P6\n$w $h\n255\n").getBytes("US-ASCII") ++ rgb
    val viaPpm = Multimodal.decodeImage(1L, ppm)
    val viaBmp = Multimodal.decodeImage(1L, Multimodal.buildBmp24(w, h, rgb))
    val viaPng = Multimodal.decodeImage(1L, Multimodal.buildPng(w, h, rgb))
    assert(viaPpm.format == "ppm" && viaBmp.format == "bmp" &&
      viaPng.format == "png")
    assert((viaPpm.sum_r, viaPpm.sum_g, viaPpm.sum_b) ==
      (viaBmp.sum_r, viaBmp.sum_g, viaBmp.sum_b),
      "same plane through both containers must decode identically")
    assert((viaPpm.sum_r, viaPpm.sum_g, viaPpm.sum_b) ==
      (viaPng.sum_r, viaPng.sum_g, viaPng.sum_b),
      "same plane through the PNG container must decode identically")
    val err = intercept[IllegalArgumentException] {
      Multimodal.decodeImage(2L, Array[Byte]('G', 'I', 'F', '8'))
    }
    assert(err.getMessage.contains("unrecognized image container"))
  }

  test("signatureNearPairs dedups the domain; cap binds on distinct sigs") {
    // all-identical-luminance corpus: every signature is the same
    // all-zero bitstring — ONE distinct signature, so every chunk
    // bucket has distinct-frequency 1 and the cap never fires. The
    // banding/verify work is a single diagonal signature pair; the
    // full quadratic pair set comes only from the OUTPUT expansion,
    // which is the answer itself (all pairs are exact dups, hamming 0).
    val degenerate = (0 until 200).map(i => (i.toLong, 8, 2, "0" * 16))
      .toDF("media_id", "width", "height", "bits")
    val degOut = Multimodal.signatureNearPairs(degenerate, 3, bucketCap = 50L)
    assert(degOut.count() == 200L * 199L / 2)
    assert(degOut.filter(col("hamming") =!= 0).count() == 0L)
    // The cap now guards the shape duplication can't create: MANY
    // DISTINCT signatures colliding in a chunk bucket. 8 signatures
    // share the three leading all-zero chunks (distinct-frequency 8 >
    // cap 5 → hot, excluded) and carry pairwise-distinct final chunks
    // (cold, but never equal) — so with the cap no candidate survives...
    val distinctSigs = (0 until 8).map { i =>
      val tail = Integer.toBinaryString(16 | i).drop(1) // 4 bits, values 0..7
      (i.toLong, 8, 2, "0" * 12 + tail)
    }.toDF("media_id", "width", "height", "bits")
    assert(Multimodal.signatureNearPairs(distinctSigs, 3, bucketCap = 5L)
      .count() == 0L,
      "hot distinct-signature buckets must be excluded by the cap")
    // ...and with the cap lifted the same corpus pairs freely (tails
    // 0..7 differ pairwise by ≤ 3 bits), pinning that the cap — not
    // the pigeonhole — removed them
    assert(Multimodal.signatureNearPairs(distinctSigs, 3, bucketCap = 100L)
      .count() == 8L * 7L / 2)
    // near-dup pairs OUTSIDE hot buckets survive the cap: two signatures
    // differing in one bit, in their own cold buckets
    val mixed = distinctSigs.unionAll(Seq(
      (900L, 9, 2, "111111111111111011"),
      (901L, 9, 2, "111111111111111111")).toDF("media_id", "width", "height", "bits"))
    val kept = Multimodal.signatureNearPairs(mixed, 3, bucketCap = 5L)
      .select("a", "b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(kept == Set((900L, 901L, 1)),
      s"cold-bucket near-dup pair must survive the cap, got $kept")
  }

  test("multimodal resizePayload bounds output size deterministically") {
    val media = Multimodal.synthesizeMedia(
      Seq((1L, "a" * 100, "en", "s", 100L)).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = Multimodal.resizePayload(media, targetBytes = 10).collect().head
    assert(out.payload.length == 50 || out.payload.length <= 50) // ceil(100/10)=10 → every 10th
    assert(out.payload.length == 10)
  }
}
