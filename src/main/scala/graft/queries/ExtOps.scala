package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.functions.{Catalog, lapTime}
import graft.ops.Multimodal

/** Extension-surface queries: the custom Catalyst Expression, the Scala
  * UDF, the typed Aggregator (UDAF), and the multimodal binary-column
  * plumbing — each oracled where the computation is portable.
  */
object ExtOps {
  private type Q = (SparkSession, String) => DataFrame

  /** Millis → "MM:SS.mmm" via the native codegen'd Expression. */
  private val qExprLapTime: Q = (s, d) => {
    Tables.events(s, d)
      .withColumn("lap_ms", floor(col("value") * 1000.0).cast("long"))
      .withColumn("lap_time", lapTime(col("lap_ms")))
      .select(col("event_id"), col("lap_time"))
  }

  /** Same semantics through the black-box Scala UDF registration path. */
  private val qUdfLapTime: Q = (s, d) => {
    Catalog.register(s)
    Tables.events(s, d)
      .withColumn("lap_ms", floor(col("value") * 1000.0).cast("long"))
      .withColumn("lap_time", expr("lap_time_udf(lap_ms)"))
      .select(col("event_id"), col("lap_time"))
      .orderBy(col("event_id"))
  }

  /** Typed Aggregator: bounded top-3 per group with map-side heaps. */
  private val qUdafTopk: Q = (s, d) => {
    Catalog.register(s)
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(expr("top_k_events(event_id, value)").as("topk"))
      .select(col("event_type"), posexplode(col("topk")).as(Seq("pos", "entry")))
      .orderBy(col("event_type"), col("pos"))
  }

  /** Multimodal metadata scan: binary payload + typed meta struct
    * (the oracle checks the portable parts: byte length and md5).
    */
  private val qMultimodalMeta: Q = (s, d) => {
    import s.implicits._
    Multimodal.synthesizeMedia(Tables.documents(s, d))
      .select(col("media_id"), col("kind"),
        octet_length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("payload_md5"),
        col("meta.mime").as("mime"),
        col("meta.durationMs").as("duration_ms"))
      .orderBy(col("media_id"))
  }

  /** Multimodal frame sampling: every 2nd 32-byte chunk of each payload
    * (the video-keyframe shape: 1 input row → N frame rows), with frames
    * identified portably by md5.
    */
  private val qMultimodalFrames: Q = (s, d) => {
    import s.implicits._
    Multimodal.sampleFrames(
        Multimodal.synthesizeMedia(Tables.documents(s, d)),
        frameSize = 32, stride = 2)
      .select(col("media_id"), col("frame_no"),
        md5(col("frame_bytes")).as("frame_md5"))
      .orderBy(col("media_id"), col("frame_no"))
  }

  /** REAL multimodal decode: each document is rendered as an actual
    * binary PPM (P6) image — header + raw RGB plane, dimensions varying
    * per doc, pixel bytes cycling through the text — and decoded by the
    * pure-JVM PPM parser in [[Multimodal.decodePpm]] (header grammar,
    * maxval check, per-channel pixel sums). The oracle recomputes the
    * expected stats from the construction rule alone, so a parser that
    * misreads the header, mis-offsets the plane, or drops a channel
    * hash-mismatches. Codec-bound formats (PNG/JPEG/WAV) stay stubbed;
    * this key pins the decode plumbing end-to-end on a real format.
    */
  private val qMultimodalDecode: Q = (s, d) => {
    import s.implicits._
    // ASCII guard, mirrored in the oracle: the pixel plane is built by
    // CHARACTER substring then UTF-8 cast, so a multibyte character
    // would break the w·h·3 byte-length invariant and byte↔ord parity.
    // Filtering octet==char length on BOTH engines keeps a future
    // non-ASCII corpus consistent instead of latently divergent.
    val media = Tables.documents(s, d)
      .filter(octet_length(col("text")) === length(col("text")))
      .select(col("doc_id"), col("text"),
        (lit(4) + col("doc_id") % 5).cast("int").as("w"),
        (lit(3) + col("doc_id") % 7).cast("int").as("h"))
      .select(col("doc_id"),
        concat(
          format_string("P6\n%d %d\n255\n", col("w"), col("h")).cast("binary"),
          expr("CAST(substring(repeat(text, CAST(ceil(CAST(w * h * 3 AS DOUBLE) " +
            "/ length(text)) AS INT)), 1, w * h * 3) AS BINARY)")).as("payload"))
      .as[(Long, Array[Byte])]
    Multimodal.decodePpmFeatures(media)
      .select(col("media_id"), col("width"), col("height"), col("maxval"),
        col("n_pixels"), col("sum_r"), col("sum_g"), col("sum_b"))
      .orderBy(col("media_id"))
  }

  /** Perceptual-hash image dedup over the decoded PPM plane: each
    * image's average-hash bitstring (strict integer threshold against
    * the mean luminance — [[graft.ops.Multimodal.ppmSignature]]) plus
    * the size of its exact-signature duplicate group — the image-side
    * analogue of `q_dedup_exact` (identical signatures ⟹ identical
    * perceptual content; Hamming distance over the strings is the
    * near-dup extension). The decode is the REAL P6 parser; the group
    * size is one hash-shuffle on the signature string, exactly the
    * digest-groupBy shape text dedup uses.
    */
  private val qMultimodalPhash: Q = (s, d) => {
    import s.implicits._
    val media = Tables.documents(s, d)
      .filter(octet_length(col("text")) === length(col("text")))
      .select(col("doc_id"), col("text"),
        (lit(4) + col("doc_id") % 5).cast("int").as("w"),
        (lit(3) + col("doc_id") % 7).cast("int").as("h"))
      .select(col("doc_id"),
        concat(
          format_string("P6\n%d %d\n255\n", col("w"), col("h")).cast("binary"),
          expr("CAST(substring(repeat(text, CAST(ceil(CAST(w * h * 3 AS DOUBLE) " +
            "/ length(text)) AS INT)), 1, w * h * 3) AS BINARY)")).as("payload"))
      .as[(Long, Array[Byte])]
    val sig = Multimodal.ppmSignatures(media)
      .select(col("media_id"), col("width"), col("height"), col("bits"),
        col("n_ones"))
    val groups = sig.groupBy("bits").agg(count(lit(1)).as("dup_group_size"))
    sig.join(groups, "bits")
      .select(col("media_id"), col("width"), col("height"), col("bits"),
        col("n_ones"), col("dup_group_size"))
      .orderBy(col("media_id"))
  }

  /** NEAR-duplicate image pairs over the perceptual signatures — the
    * Hamming-distance extension of `q_multimodal_phash`'s exact-group
    * dedup, banded the way every signature dedup here is banded:
    * hamming ≤ 3 pigeonholes into 4 covering chunks (at least one
    * chunk equal), so candidates come from an EQUI join on
    * (dims, chunk index, chunk bits) — never an all-pairs scan — and
    * only candidates pay the exact per-position verify (Spark: a
    * zip_with fold; oracle: DuckDB's native hamming). Dims for THIS
    * key derive from n_chars (not doc_id) so duplicate texts share
    * dimensions and the pair set is non-degenerate. The candidate set
    * is near-dup-sized, so the dedup `distinct` exchange is tiny by
    * construction. The band join runs through
    * [[graft.ops.Multimodal.signatureNearPairs]], which bands and
    * verifies over the DISTINCT signature domain and expands matches
    * back to doc pairs (duplicate-heavy corpora — the 10-fold soak —
    * pay the quadratic stage once per distinct plane, not per copy),
    * with a bucket frequency cap (4096, counted over distinct
    * signatures, mirrored in the oracle) guarding genuinely
    * near-colliding DISTINCT signatures — see the op's scaladoc for
    * the recall argument and ExtOpsSpec for the distinct-domain and
    * cap pins.
    */
  private val qMultimodalPhashNear: Q = (s, d) => {
    import s.implicits._
    val media = Tables.documents(s, d)
      .filter(octet_length(col("text")) === length(col("text")))
      .select(col("doc_id"), col("text"),
        (lit(4) + col("n_chars") % 5).cast("int").as("w"),
        (lit(3) + col("n_chars") % 7).cast("int").as("h"))
      .select(col("doc_id"),
        concat(
          format_string("P6\n%d %d\n255\n", col("w"), col("h")).cast("binary"),
          expr("CAST(substring(repeat(text, CAST(ceil(CAST(w * h * 3 AS DOUBLE) " +
            "/ length(text)) AS INT)), 1, w * h * 3) AS BINARY)")).as("payload"))
      .as[(Long, Array[Byte])]
    val sig = Multimodal.ppmSignatures(media)
      .select(col("media_id"), col("width"), col("height"), col("bits"))
    Multimodal.signatureNearPairs(sig, maxHamming = 3, bucketCap = 4096L)
      .select(col("a").as("media_a"), col("b").as("media_b"),
        col("width"), col("height"), col("hamming"))
      .orderBy("media_a", "media_b")
  }

  /** REAL multimodal BMP decode — the second image container beside
    * `q_multimodal_decode`'s PPM: each document's pixel plane is
    * packaged as an actual 24bpp BMP (little-endian headers, BGR
    * channel order, bottom-up rows, 4-byte row padding —
    * [[graft.ops.Multimodal.buildBmp24]]) and decoded by the pure-JVM
    * raster walk in [[Multimodal.decodeBmp]]. The oracle recomputes the
    * expected channel sums from the construction rule alone, so a
    * stride miscount, an unflipped row, or an un-swapped channel
    * hash-mismatches. Width 4+id%5 makes rows 12–24 bytes, so both
    * padded (w=5,6,7) and unpadded (w=4,8) strides are exercised.
    */
  private val qMultimodalBmp: Q = (s, d) => {
    import s.implicits._
    val media = Tables.documents(s, d)
      .filter(octet_length(col("text")) === length(col("text")) &&
        length(col("text")) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val w = (4 + id % 5).toInt
        val h = (3 + id % 7).toInt
        val rgb = new Array[Byte](w * h * 3)
        var i = 0
        while (i < rgb.length) {
          rgb(i) = text.charAt(i % text.length).toByte; i += 1
        }
        (id, Multimodal.buildBmp24(w, h, rgb))
      }
    Multimodal.decodeImageFeatures(media)
      .select(col("media_id"), col("width"), col("height"), col("n_pixels"),
        col("sum_r"), col("sum_g"), col("sum_b"))
      .orderBy(col("media_id"))
  }

  /** REAL multimodal PNG decode — the third image container: each
    * document's pixel plane is packaged as a spec-conformant truecolor
    * PNG (CRC'd chunks, zlib-deflated scanlines, filter type cycling
    * y % 5 so None/Sub/Up/Average/Paeth are ALL live, IDAT split in
    * two — [[graft.ops.Multimodal.buildPng]]) and decoded by the
    * pure-JVM inflate + unfilter walk in [[Multimodal.decodePng]]. The
    * oracle recomputes the channel sums from the construction rule
    * alone, so a filter-reconstruction slip, a CRC skip, or a short
    * inflate hash-mismatches. Height 3+id%7 spans 3–9 rows, so most
    * fixtures carry every filter type.
    */
  private val qMultimodalPng: Q = (s, d) => {
    import s.implicits._
    val media = Tables.documents(s, d)
      .filter(octet_length(col("text")) === length(col("text")) &&
        length(col("text")) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val w = (4 + id % 5).toInt
        val h = (3 + id % 7).toInt
        val rgb = new Array[Byte](w * h * 3)
        var i = 0
        while (i < rgb.length) {
          rgb(i) = text.charAt(i % text.length).toByte; i += 1
        }
        (id, Multimodal.buildPng(w, h, rgb))
      }
    Multimodal.decodeImageFeatures(media)
      .select(col("media_id"), col("width"), col("height"), col("n_pixels"),
        col("sum_r"), col("sum_g"), col("sum_b"))
      .orderBy(col("media_id"))
  }

  /** REAL multimodal JPEG decode — the fourth image container, closing
    * the format the earlier rounds left stubbed: each document is
    * packaged as a spec-conformant baseline JFIF ([[graft.ops
    * .Multimodal.buildJpeg]]: SOF0 4:2:0, Annex-K Huffman tables,
    * byte-stuffed entropy scan) and decoded by the pure-JVM marker
    * walk + canonical Huffman + dequant + IDCT + chroma upsample +
    * fixed-point color convert in [[Multimodal.decodeJpeg]] (routed
    * through the magic dispatcher, so the 0xFFD8 branch is live).
    * JPEG is lossy, so the fixture is built where the format is exact:
    * constant color per 16x16 MCU in YCbCr with all-ones quant tables
    * makes every block DC-only and bit-exact through the codec, and
    * the oracle restates pixel = yccToRgb(MCU color rule) in SQL —
    * the same fixed-point convert, so a Huffman slip, a DC-prediction
    * bug, an IDCT scale error, or a chroma-placement slip all
    * hash-mismatch. Dims 16·(1+id%3)−id%5 × 16·(1+id%2)−id%3 keep
    * right/bottom MCU clipping live; generality beyond DC-only
    * fixtures (AC runs, EOB/ZRL, ImageIO-encoded files) is pinned by
    * the PropertySpec fuzz, which this key complements.
    */
  private val qMultimodalJpeg: Q = (s, d) => {
    import s.implicits._
    val media = Tables.documents(s, d)
      .filter(octet_length(col("text")) === length(col("text")) &&
        length(col("text")) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val wm = (1 + id % 3).toInt; val hm = (1 + id % 2).toInt
        val w = 16 * wm - (id % 5).toInt; val h = 16 * hm - (id % 3).toInt
        val ycc = Array.tabulate(wm * hm) { m =>
          def b(k: Int): Int = text.charAt((3 * m + k) % text.length).toInt
          (b(0), b(1), b(2))
        }
        (id, Multimodal.buildJpeg(w, h, ycc))
      }
    Multimodal.decodeImageFeatures(media)
      .select(col("media_id"), col("format"), col("width"), col("height"),
        col("n_pixels"), col("sum_r"), col("sum_g"), col("sum_b"))
      .orderBy(col("media_id"))
  }

  /** Format-DISPATCH proof over a MIXED image corpus: docs package by
    * id mod 3 as P6 PPM / 24bpp BMP / truecolor PNG — one decode
    * pipeline ([[Multimodal.decodeImageFeatures]]) sniffs each
    * payload's magic and routes to the right real parser, emitting one
    * unified schema with the detected `format`. The oracle recomputes
    * stats + format from the mod-3 rule, so a mis-dispatch (or any
    * parser corrupting its third) hash-mismatches.
    */
  private val qMultimodalDispatch: Q = (s, d) => {
    import s.implicits._
    val media = Tables.documents(s, d)
      .filter(octet_length(col("text")) === length(col("text")) &&
        length(col("text")) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val w = (4 + id % 5).toInt
        val h = (3 + id % 7).toInt
        val rgb = new Array[Byte](w * h * 3)
        var i = 0
        while (i < rgb.length) {
          rgb(i) = text.charAt(i % text.length).toByte; i += 1
        }
        val payload = (id % 3) match {
          case 0 => (s"P6\n$w $h\n255\n").getBytes("US-ASCII") ++ rgb
          case 1 => Multimodal.buildBmp24(w, h, rgb)
          case _ => Multimodal.buildPng(w, h, rgb)
        }
        (id, payload)
      }
    Multimodal.decodeImageFeatures(media)
      .select(col("media_id"), col("format"), col("width"), col("height"),
        col("n_pixels"), col("sum_r"), col("sum_g"), col("sum_b"))
      .orderBy(col("media_id"))
  }

  /** REAL multimodal audio decode: each document is packaged as an
    * actual RIFF/WAVE PCM container — proper little-endian chunk sizes,
    * 8-bit stereo interleaved plane cycling through the text bytes —
    * and decoded by the pure-JVM chunk-walking parser in
    * [[Multimodal.decodeWav]] (magic, fmt validation, unknown-chunk
    * skip, per-channel amplitude sums). The oracle recomputes the
    * expected stats from the construction rule alone, so an endianness
    * slip, a chunk-offset bug, or swapped channels hash-mismatches —
    * the audio-side sibling of `q_multimodal_decode`'s PPM contract.
    */
  private val qMultimodalWav: Q = (s, d) => {
    import s.implicits._
    val media = Tables.documents(s, d)
      .filter(octet_length(col("text")) === length(col("text")) &&
        length(col("text")) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val sr = (8000 + id % 8000).toInt
        val frames = (50 + id % 100).toInt
        val samples = new Array[Byte](frames * 2)
        var j = 0
        while (j < samples.length) {
          samples(j) = text.charAt(j % text.length).toByte; j += 1
        }
        (id, Multimodal.buildWavPcm8Stereo(sr, samples))
      }
    Multimodal.decodeWavFeatures(media)
      .select(col("media_id"), col("sample_rate"), col("n_channels"),
        col("bits"), col("n_frames"), col("sum_l"), col("sum_r"))
      .orderBy(col("media_id"))
  }

  /** REAL audio feature extraction: the same WAV fixture as
    * `q_multimodal_wav` pushed through [[Multimodal.decodeWavDsp]] —
    * per-channel signal energy Σ(s−128)², zero-crossing count under the
    * deterministic `< 128` midline partition, and peak |s−128| — the
    * RMS/ZCR/peak trio an audio-curation pipeline thresholds on before
    * keeping a clip (silence ⇒ energy ≈ 0, clipping ⇒ peak = 128/127,
    * noise ⇒ high ZCR). Unlike the `q_multimodal_wav` fixture (pure
    * ASCII bytes — all below the midline, so crossings would be
    * trivially zero and the ZCR logic unpinned), this fixture adds a
    * cycling (j%3)·64 offset mod 256 so samples genuinely cross 128.
    * The oracle recomputes all six stats from the construction rule
    * alone, so an off-by-one in the frame pairing or a channel swap
    * hash-mismatches. Everything is exact integer.
    */
  private val qAudioFeatures: Q = (s, d) => {
    import s.implicits._
    val media = Tables.documents(s, d)
      .filter(octet_length(col("text")) === length(col("text")) &&
        length(col("text")) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val sr = (8000 + id % 8000).toInt
        val frames = (50 + id % 100).toInt
        val samples = new Array[Byte](frames * 2)
        var j = 0
        while (j < samples.length) {
          samples(j) =
            ((text.charAt(j % text.length) + (j % 3) * 64) % 256).toByte
          j += 1
        }
        (id, Multimodal.buildWavPcm8Stereo(sr, samples))
      }
    Multimodal.wavDspFeatures(media)
      .select(col("media_id"), col("n_frames"),
        col("energy_l"), col("energy_r"), col("zc_l"), col("zc_r"),
        col("peak_l"), col("peak_r"))
      .orderBy(col("media_id"))
  }

  /** Custom DataSourceV2 scan (the REST-source shape, SURVEY.md §2.A S1):
    * page-partitioned batch read through the connector API.
    */
  private val qDsv2Source: Q = (s, _) =>
    s.read.format("graft.sources.StandingsSource")
      .option("season", "2025").load()
      .orderBy(col("position"))

  /** The [[graft.ops.ScaleFold]] corpus-amplification rule as an oracled
    * query: 10 key-shifted folds of `documents`, text suffixed ' f&lt;k&gt;'
    * so folds are near-duplicates (the shape a dedup pass must survive)
    * and n_chars tracks the 3-char suffix. This puts the 10× soak's
    * corpus rule under the SAME per-round DuckDB gate as every operator
    * — `scripts/soak_check.py` then EXCEPT-verifies the full written
    * corpus against the identical SQL restatement at soak time.
    */
  private val qScaleFold: Q = (s, d) =>
    graft.ops.ScaleFold.amplifyTable(Tables.documents(s, d), "documents", 10)
      .orderBy(col("doc_id"))

  /** The r12 EMBEDDINGS fold rule under the same per-round gate: fold
    * k's vector is `float(double(x) + k·2⁻⁷)` per component
    * ([[graft.ops.ScaleFold]]) — both operations correctly rounded
    * identically in Spark and DuckDB, which this key PROVES at the bit
    * level every round: the perturbed floats are exploded to scalar
    * rows and emitted as doubles (float→double is exact and injective,
    * so double equality ⇔ float bit equality), and the driver's
    * full-precision hash compare fails on any 1-ulp divergence. The
    * similarity-tier soak (SOAK_r12.json) rides exactly this rule.
    */
  private val qScaleFoldEmb: Q = (s, d) =>
    graft.ops.ScaleFold.amplifyTable(Tables.embeddings(s, d), "embeddings", 10)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos"), col("x").cast("double").as("x"))
      .orderBy(col("vec_id"), col("pos"))

  val registry: Map[String, Q] = Map(
    "q_scale_fold" -> qScaleFold,
    "q_scale_fold_emb" -> qScaleFoldEmb,
    "q_expr_laptime" -> qExprLapTime,
    "q_udf_laptime" -> qUdfLapTime,
    "q_udaf_topk" -> qUdafTopk,
    "q_multimodal_meta" -> qMultimodalMeta,
    "q_multimodal_frames" -> qMultimodalFrames,
    "q_multimodal_decode" -> qMultimodalDecode,
    "q_multimodal_phash" -> qMultimodalPhash,
    "q_multimodal_phash_near" -> qMultimodalPhashNear,
    "q_multimodal_wav" -> qMultimodalWav,
    "q_multimodal_bmp" -> qMultimodalBmp,
    "q_multimodal_png" -> qMultimodalPng,
    "q_multimodal_jpeg" -> qMultimodalJpeg,
    "q_multimodal_dispatch" -> qMultimodalDispatch,
    "q_audio_features" -> qAudioFeatures,
    "q_dsv2_source" -> qDsv2Source,
  )

  private val lapTimeSql =
    """SELECT event_id, concat(
      |lpad(CAST(CAST(floor(value*1000.0) AS BIGINT) // 60000 AS VARCHAR), 2, '0'),
      |':',
      |lpad(CAST((CAST(floor(value*1000.0) AS BIGINT) % 60000) // 1000 AS VARCHAR), 2, '0'),
      |'.',
      |lpad(CAST(CAST(floor(value*1000.0) AS BIGINT) % 1000 AS VARCHAR), 3, '0'))
      |AS lap_time FROM events ORDER BY event_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_scale_fold" ->
      """SELECT doc_id + k * 10000000 AS doc_id,
        |text || ' f' || CAST(k AS VARCHAR) AS text, lang, source,
        |n_chars + 3 AS n_chars
        |FROM documents, (SELECT unnest(range(10)) AS k)
        |ORDER BY doc_id""".stripMargin,
    "q_scale_fold_emb" ->
      """SELECT vec_id + k * 10000000 AS vec_id,
        |CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
        |CAST(CAST(CAST(unnest(embedding) AS DOUBLE) + k % 10 * 0.0078125
        |  AS FLOAT) AS DOUBLE) AS x
        |FROM embeddings, (SELECT unnest(range(10)) AS k)
        |ORDER BY vec_id, pos""".stripMargin,
    "q_expr_laptime" -> lapTimeSql,
    "q_udf_laptime" -> lapTimeSql,
    "q_udaf_topk" ->
      """SELECT event_type, CAST(rnk - 1 AS INT) AS pos,
        |  concat(CAST(event_id AS VARCHAR), ':',
        |         CAST(CAST(round(value * 100.0) AS BIGINT) AS VARCHAR)) AS entry
        |FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY value DESC, event_id ASC) AS rnk
        |  FROM events)
        |WHERE rnk <= 3 ORDER BY event_type, pos""".stripMargin,
    "q_multimodal_frames" ->
      """WITH f AS (
        |  SELECT doc_id AS media_id,
        |    unnest(range(0, CAST(ceil(length(text) / 32.0) AS BIGINT))) AS i,
        |    text
        |  FROM documents)
        |SELECT media_id, CAST(i AS INT) AS frame_no,
        |  md5(substr(text, CAST(1 + i * 32 AS INT), 32)) AS frame_md5
        |FROM f WHERE i % 2 = 0
        |ORDER BY media_id, frame_no""".stripMargin,
    "q_dsv2_source" ->
      """SELECT * FROM (VALUES
        |(1, 'max', 'Red Bull', 255, 6, '2025'),
        |(2, 'lando', 'McLaren', 220, 4, '2025'),
        |(3, 'charles', 'Ferrari', 180, 1, '2025'),
        |(4, 'lewis', 'Ferrari', 160, 0, '2025'))
        |AS t(position, driver_id, constructor, points, wins, season)
        |ORDER BY position""".stripMargin,
    "q_multimodal_decode" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len,
        |    4 + doc_id % 5 AS w, 3 + doc_id % 7 AS h
        |  FROM documents
        |  WHERE octet_length(encode(text)) = length(text)),
        |px AS (SELECT doc_id, w, h, i,
        |    ord(substr(text, CAST(i % len AS INT) + 1, 1)) AS b
        |  FROM d, LATERAL (SELECT unnest(range(w * h * 3)) AS i) t)
        |SELECT doc_id AS media_id, CAST(w AS INT) AS width,
        |  CAST(h AS INT) AS height, CAST(255 AS INT) AS maxval,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  CAST(sum(CASE WHEN i % 3 = 0 THEN b ELSE 0 END) AS BIGINT) AS sum_r,
        |  CAST(sum(CASE WHEN i % 3 = 1 THEN b ELSE 0 END) AS BIGINT) AS sum_g,
        |  CAST(sum(CASE WHEN i % 3 = 2 THEN b ELSE 0 END) AS BIGINT) AS sum_b
        |FROM px GROUP BY 1, 2, 3, 4, 5
        |ORDER BY media_id""".stripMargin,
    "q_multimodal_bmp" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len,
        |    4 + doc_id % 5 AS w, 3 + doc_id % 7 AS h
        |  FROM documents
        |  WHERE octet_length(encode(text)) = length(text)
        |    AND length(text) > 0),
        |px AS (SELECT doc_id, w, h, i,
        |    ord(substr(text, CAST(i % len AS INT) + 1, 1)) AS b
        |  FROM d, LATERAL (SELECT unnest(range(w * h * 3)) AS i) t)
        |SELECT doc_id AS media_id, CAST(w AS INT) AS width,
        |  CAST(h AS INT) AS height,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  CAST(sum(CASE WHEN i % 3 = 0 THEN b ELSE 0 END) AS BIGINT) AS sum_r,
        |  CAST(sum(CASE WHEN i % 3 = 1 THEN b ELSE 0 END) AS BIGINT) AS sum_g,
        |  CAST(sum(CASE WHEN i % 3 = 2 THEN b ELSE 0 END) AS BIGINT) AS sum_b
        |FROM px GROUP BY 1, 2, 3, 4
        |ORDER BY media_id""".stripMargin,
    "q_multimodal_png" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len,
        |    4 + doc_id % 5 AS w, 3 + doc_id % 7 AS h
        |  FROM documents
        |  WHERE octet_length(encode(text)) = length(text)
        |    AND length(text) > 0),
        |px AS (SELECT doc_id, w, h, i,
        |    ord(substr(text, CAST(i % len AS INT) + 1, 1)) AS b
        |  FROM d, LATERAL (SELECT unnest(range(w * h * 3)) AS i) t)
        |SELECT doc_id AS media_id, CAST(w AS INT) AS width,
        |  CAST(h AS INT) AS height,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  CAST(sum(CASE WHEN i % 3 = 0 THEN b ELSE 0 END) AS BIGINT) AS sum_r,
        |  CAST(sum(CASE WHEN i % 3 = 1 THEN b ELSE 0 END) AS BIGINT) AS sum_g,
        |  CAST(sum(CASE WHEN i % 3 = 2 THEN b ELSE 0 END) AS BIGINT) AS sum_b
        |FROM px GROUP BY 1, 2, 3, 4
        |ORDER BY media_id""".stripMargin,
    // pixel = yccToRgb(MCU color rule): the SAME fixed-point convert the
    // decoder applies, restated over the construction rule — floor() on
    // float64 is exact here (|numerator| < 2^25)
    "q_multimodal_jpeg" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len,
        |    1 + doc_id % 3 AS wm,
        |    16 * (1 + doc_id % 3) - doc_id % 5 AS w,
        |    16 * (1 + doc_id % 2) - doc_id % 3 AS h
        |  FROM documents
        |  WHERE octet_length(encode(text)) = length(text)
        |    AND length(text) > 0),
        |px AS (SELECT doc_id, w, h, i,
        |    ord(substr(text, CAST((3 * (((i // w) // 16) * wm + ((i % w) // 16))) % len AS INT) + 1, 1)) AS yy,
        |    ord(substr(text, CAST((3 * (((i // w) // 16) * wm + ((i % w) // 16)) + 1) % len AS INT) + 1, 1)) AS cb,
        |    ord(substr(text, CAST((3 * (((i // w) // 16) * wm + ((i % w) // 16)) + 2) % len AS INT) + 1, 1)) AS cr
        |  FROM d, LATERAL (SELECT unnest(range(w * h)) AS i) t),
        |rgb AS (SELECT doc_id, w, h,
        |    GREATEST(0, LEAST(255, yy + CAST(floor((91881 * (cr - 128) + 32768) / 65536.0) AS BIGINT))) AS r,
        |    GREATEST(0, LEAST(255, yy - CAST(floor((22554 * (cb - 128) + 46802 * (cr - 128) + 32768) / 65536.0) AS BIGINT))) AS g,
        |    GREATEST(0, LEAST(255, yy + CAST(floor((116130 * (cb - 128) + 32768) / 65536.0) AS BIGINT))) AS b
        |  FROM px)
        |SELECT doc_id AS media_id, 'jpeg' AS format, CAST(w AS INT) AS width,
        |  CAST(h AS INT) AS height, CAST(w * h AS BIGINT) AS n_pixels,
        |  CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b
        |FROM rgb GROUP BY 1, 2, 3, 4, 5
        |ORDER BY media_id""".stripMargin,
    "q_multimodal_dispatch" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len,
        |    4 + doc_id % 5 AS w, 3 + doc_id % 7 AS h
        |  FROM documents
        |  WHERE octet_length(encode(text)) = length(text)
        |    AND length(text) > 0),
        |px AS (SELECT doc_id, w, h, i,
        |    ord(substr(text, CAST(i % len AS INT) + 1, 1)) AS b
        |  FROM d, LATERAL (SELECT unnest(range(w * h * 3)) AS i) t)
        |SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'ppm'
        |       WHEN doc_id % 3 = 1 THEN 'bmp' ELSE 'png' END AS format,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  CAST(sum(CASE WHEN i % 3 = 0 THEN b ELSE 0 END) AS BIGINT) AS sum_r,
        |  CAST(sum(CASE WHEN i % 3 = 1 THEN b ELSE 0 END) AS BIGINT) AS sum_g,
        |  CAST(sum(CASE WHEN i % 3 = 2 THEN b ELSE 0 END) AS BIGINT) AS sum_b
        |FROM px GROUP BY 1, 2, 3, 4, 5
        |ORDER BY media_id""".stripMargin,
    "q_multimodal_wav" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len,
        |    8000 + doc_id % 8000 AS sr, 50 + doc_id % 100 AS nf
        |  FROM documents
        |  WHERE octet_length(encode(text)) = length(text)
        |    AND length(text) > 0),
        |s AS (SELECT doc_id, sr, nf, i,
        |    ord(substr(text, CAST(i % len AS INT) + 1, 1)) AS b
        |  FROM d, LATERAL (SELECT unnest(range(nf * 2)) AS i) t)
        |SELECT doc_id AS media_id, CAST(sr AS INT) AS sample_rate,
        |  CAST(2 AS INT) AS n_channels, CAST(8 AS INT) AS bits,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  CAST(sum(CASE WHEN i % 2 = 0 THEN b ELSE 0 END) AS BIGINT) AS sum_l,
        |  CAST(sum(CASE WHEN i % 2 = 1 THEN b ELSE 0 END) AS BIGINT) AS sum_r
        |FROM s GROUP BY 1, 2, 3, 4, 5 ORDER BY media_id""".stripMargin,
    "q_audio_features" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len,
        |    50 + doc_id % 100 AS nf
        |  FROM documents
        |  WHERE octet_length(encode(text)) = length(text)
        |    AND length(text) > 0),
        |s AS (SELECT doc_id, nf, i,
        |    (ord(substr(text, CAST(i % len AS INT) + 1, 1))
        |      + (i % 3) * 64) % 256 - 128 AS v,
        |    CASE WHEN i + 2 < nf * 2 THEN
        |      (ord(substr(text, CAST((i + 2) % len AS INT) + 1, 1))
        |        + ((i + 2) % 3) * 64) % 256 - 128
        |    END AS v2
        |  FROM d, LATERAL (SELECT unnest(range(nf * 2)) AS i) t)
        |SELECT doc_id AS media_id, CAST(nf AS BIGINT) AS n_frames,
        |  CAST(sum(CASE WHEN i % 2 = 0 THEN v * v ELSE 0 END) AS BIGINT)
        |    AS energy_l,
        |  CAST(sum(CASE WHEN i % 2 = 1 THEN v * v ELSE 0 END) AS BIGINT)
        |    AS energy_r,
        |  CAST(sum(CASE WHEN i % 2 = 0 AND v2 IS NOT NULL
        |    AND ((v < 0) != (v2 < 0)) THEN 1 ELSE 0 END) AS BIGINT) AS zc_l,
        |  CAST(sum(CASE WHEN i % 2 = 1 AND v2 IS NOT NULL
        |    AND ((v < 0) != (v2 < 0)) THEN 1 ELSE 0 END) AS BIGINT) AS zc_r,
        |  CAST(max(CASE WHEN i % 2 = 0 THEN abs(v) END) AS INT) AS peak_l,
        |  CAST(max(CASE WHEN i % 2 = 1 THEN abs(v) END) AS INT) AS peak_r
        |FROM s GROUP BY 1, 2 ORDER BY media_id""".stripMargin,
    "q_multimodal_phash" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len,
        |    4 + doc_id % 5 AS w, 3 + doc_id % 7 AS h
        |  FROM documents
        |  WHERE octet_length(encode(text)) = length(text)),
        |px AS (SELECT doc_id, w, h, i AS j,
        |    ord(substr(text, CAST((3 * i) % len AS INT) + 1, 1))
        |    + ord(substr(text, CAST((3 * i + 1) % len AS INT) + 1, 1))
        |    + ord(substr(text, CAST((3 * i + 2) % len AS INT) + 1, 1))
        |      AS gray
        |  FROM d, LATERAL (SELECT unnest(range(w * h)) AS i) t),
        |s AS (SELECT doc_id, CAST(sum(gray) AS BIGINT) AS sum_gray,
        |    CAST(count(*) AS BIGINT) AS npx
        |  FROM px GROUP BY 1),
        |b AS (SELECT px.doc_id, max(w) AS w, max(h) AS h,
        |    string_agg(CASE WHEN gray * npx > sum_gray THEN '1' ELSE '0' END,
        |      '' ORDER BY j) AS bits,
        |    CAST(sum(CASE WHEN gray * npx > sum_gray THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_ones
        |  FROM px JOIN s ON px.doc_id = s.doc_id GROUP BY 1),
        |g AS (SELECT bits, CAST(count(*) AS BIGINT) AS dup_group_size
        |  FROM b GROUP BY 1)
        |SELECT doc_id AS media_id, CAST(w AS INT) AS width,
        |  CAST(h AS INT) AS height, bits, n_ones, dup_group_size
        |FROM b JOIN g USING (bits) ORDER BY media_id""".stripMargin,
    "q_multimodal_phash_near" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len,
        |    4 + n_chars % 5 AS w, 3 + n_chars % 7 AS h
        |  FROM documents
        |  WHERE octet_length(encode(text)) = length(text)),
        |px AS (SELECT doc_id, w, h, i AS j,
        |    ord(substr(text, CAST((3 * i) % len AS INT) + 1, 1))
        |    + ord(substr(text, CAST((3 * i + 1) % len AS INT) + 1, 1))
        |    + ord(substr(text, CAST((3 * i + 2) % len AS INT) + 1, 1))
        |      AS gray
        |  FROM d, LATERAL (SELECT unnest(range(w * h)) AS i) t),
        |sums AS (SELECT doc_id, CAST(sum(gray) AS BIGINT) AS sum_gray,
        |    CAST(count(*) AS BIGINT) AS npx
        |  FROM px GROUP BY 1),
        |b AS (SELECT px.doc_id, max(w) AS w, max(h) AS h,
        |    string_agg(CASE WHEN gray * npx > sum_gray THEN '1' ELSE '0' END,
        |      '' ORDER BY j) AS bits
        |  FROM px JOIN sums ON px.doc_id = sums.doc_id GROUP BY 1),
        |ds AS (SELECT DISTINCT w, h, bits FROM b),
        |sg AS (SELECT w, h, bits, length(bits) // 4 AS clen
        |  FROM ds),
        |ch AS (SELECT w, h, bits, i,
        |    CASE WHEN i < 3 THEN substr(bits, i * clen + 1, clen)
        |      ELSE substr(bits, 3 * clen + 1, length(bits) - 3 * clen)
        |    END AS chunk
        |  FROM sg, LATERAL (SELECT unnest(range(0, 4)) AS i) t),
        |chc AS (SELECT *, count(*) OVER (PARTITION BY w, h, i, chunk) AS bf
        |  FROM ch),
        |sp AS (SELECT DISTINCT x.w AS width, x.h AS height,
        |    x.bits AS bits_a, y.bits AS bits_b
        |  FROM chc x JOIN chc y ON x.w = y.w AND x.h = y.h AND x.i = y.i
        |    AND x.chunk = y.chunk AND x.bits <= y.bits
        |  WHERE x.bf <= 4096 AND y.bf <= 4096
        |    AND hamming(x.bits, y.bits) <= 3)
        |SELECT least(xa.doc_id, yb.doc_id) AS media_a,
        |  greatest(xa.doc_id, yb.doc_id) AS media_b,
        |  CAST(width AS INT) AS width, CAST(height AS INT) AS height,
        |  CAST(hamming(bits_a, bits_b) AS INT) AS hamming
        |FROM sp
        |JOIN b xa ON xa.w = sp.width AND xa.h = sp.height
        |  AND xa.bits = sp.bits_a
        |JOIN b yb ON yb.w = sp.width AND yb.h = sp.height
        |  AND yb.bits = sp.bits_b
        |WHERE bits_a <> bits_b OR xa.doc_id < yb.doc_id
        |ORDER BY media_a, media_b""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
        |  length(text) AS n_bytes,
        |  md5(text) AS payload_md5,
        |  CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END AS mime,
        |  n_chars * 10 AS duration_ms
        |FROM documents ORDER BY media_id""".stripMargin,
  )
}
