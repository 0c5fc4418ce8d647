package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic k-fold corpus amplifier: scales a TPC-H-shaped data
  * dir by an integer factor with ONE stated rule, so constants that
  * only look safe at the test scale (bucket caps, broadcast thresholds,
  * salting fan-out, window-domain bounds) can be soaked at ~10× before
  * they meet a cluster.
  *
  * THE RULE (per fold k in 0..folds-1; fold 0 is the key-identity
  * fold — documents still gain the ' f0' text suffix):
  * every join key gains `k * 10_000_000`, consistently across the
  * tables that share it, so each fold is a self-contained shard with
  * intact referential integrity:
  *
  *   - customer:  c_custkey + k·S
  *   - supplier:  s_suppkey + k·S
  *   - part:      p_partkey + k·S
  *   - orders:    o_orderkey + k·S, o_custkey + k·S
  *   - lineitem:  l_orderkey + k·S, l_partkey + k·S, l_suppkey + k·S
  *   - events:    event_id + k·S, user_id + k·S
  *   - documents: doc_id + k·S, text ∥ ' f'∥k (so folds are NEAR-dups,
  *                not exact dups — the shape a dedup pass must survive),
  *                n_chars + 2 + digits(k) (= +3 for k ≤ 9, +4 for the
  *                two-digit folds of the SF10 soak)
  *   - embeddings: vec_id + k·S, every component perturbed
  *                 `float(double(x) + (k mod 10) · 2⁻⁷)` — the
  *                 vector-space analogue of documents' suffix: fold
  *                 copies are embedding NEAR-dups (cosine ≈ 1), so the
  *                 similarity tier (SRP blocking, ANN probe/re-rank,
  *                 top-k tie-breaks) soaks with the candidate
  *                 explosion a replicated corpus really produces. The
  *                 perturbation ALPHABET is bounded at 10 levels
  *                 (r16): an unbounded k·2⁻⁷ shifts every fold along
  *                 the SAME all-ones direction, and past ~30 folds the
  *                 shift (k·2⁻⁷·√64 ≥ 1.9) dwarfs the unit-norm base
  *                 vectors — ALL high-fold copies of DIFFERENT bases
  *                 collapse into one mutually-near-dup cluster
  *                 (pairwise cos ≥ 0.9), and any near-dup pass over
  *                 them is Θ((n·folds)²) by construction of the
  *                 corpus, not by any property of the engine (the
  *                 same reason the soak's sf10 tier leaves out the
  *                 pair-generating document keys). Bounding the
  *                 alphabet keeps each base's copies near THAT base —
  *                 constant near-dup density per vector at every fold
  *                 count — and folds
  *                 k, k+10 of one base are exact duplicates, the shape
  *                 a dedup gate must also survive. At folds ≤ 10 the
  *                 rule is bit-identical to the pre-r16 `k · 2⁻⁷`
  *                 form (k mod 10 = k), so the ~SF1 soak corpus and
  *                 its oracle restatement are unchanged. The
  *                 arithmetic is bit-exactly restatable in the
  *                 oracle: float→double is exact, (k mod 10)·2⁻⁷ is
  *                 exact, one IEEE double add and one round-to-float
  *                 are correctly rounded identically in Spark and
  *                 DuckDB. k = 0 is the exact identity (x + 0.0 → x).
  *                 label passes through, so per-label profiles scale.
  *   - nation, region: copied unchanged (fixed-size at every TPC-H
  *     scale)
  *
  * The same rule is restated as DuckDB SQL in `scripts/soak_check.py`,
  * which EXCEPT-compares every table a [[graft.tools.Soak]] run
  * amplified against the restatement at the run's fold count — the `_derive_partsupp` two-statements-one-text
  * discipline applied to a whole corpus. Amplified keys stay well
  * under 2³¹ (max base key ~600k, max shift 9·10⁷), so downstream
  * integer arithmetic keeps its headroom arguments.
  *
  * The output proportions at folds=10 over sf0.1 are exactly TPC-H
  * SF1 (6M lineitem, 1.5M orders, 200k part, 150k customer, 10k
  * supplier), plus 1M events and 50k documents.
  */
object ScaleFold {
  val Shift = 10000000L

  /** Columns shifted per table; everything else passes through. */
  private val shifted: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "nation" -> Nil,
    "region" -> Nil,
    "embeddings" -> Seq("vec_id")
  )

  /** Exactly 2⁻⁷: representable in float and double, so k·Eps and the
    * perturbation rounding are identical across engines. */
  val EmbEps = 0.0078125

  def amplifyTable(df: DataFrame, table: String, folds: Int): DataFrame = {
    // ≤ 100: keys shift by k·10⁷ and must stay under 2³¹ (max base key
    // ~2.4M at sf0.1), and k·EmbEps stays exact (integer × 2⁻⁷)
    require(folds >= 1 && folds <= 100, s"folds must be in 1..100, got $folds")
    val shiftCols = shifted(table)
    if (shiftCols.isEmpty) df
    else {
      // one explode per row — the fold column rides the narrow scan and
      // the projection is codegen'd; no shuffle anywhere in the derive
      val folded = df.select(col("*"),
        explode(sequence(lit(0L), lit(folds - 1L))).as("_fold"))
      val shiftedDf = shiftCols.foldLeft(folded) { (acc, c) =>
        acc.withColumn(c, col(c) + col("_fold") * lit(Shift))
      }
      val textFixed =
        if (table == "documents")
          // n_chars grows by the suffix width: 2 + digits(k) — exactly
          // +3 for k ≤ 9 (the ~SF1 soak's historical rule), +4 for the
          // two-digit folds of the SF10 soak
          shiftedDf
            .withColumn("text",
              concat(col("text"), lit(" f"), col("_fold").cast("string")))
            .withColumn("n_chars",
              col("n_chars") + 2L + length(col("_fold").cast("string")))
        else if (table == "embeddings")
          // per-component double add then round back to float — the
          // only two operations, both correctly rounded, both stated
          // identically by the DuckDB rule restatement; the (k mod 10)
          // alphabet bound is the r16 anti-collapse rule (see scaladoc)
          shiftedDf.withColumn("embedding",
            transform(col("embedding"), x =>
              (x.cast("double") +
                (col("_fold") % 10).cast("double") * lit(EmbEps))
                .cast("float")))
        else shiftedDf
      // restore the exact input column order (drop the fold marker)
      textFixed.select(df.columns.map(col).toIndexedSeq: _*)
    }
  }

  /** Write the amplified corpus under `outDir` with the standard table
    * layout, so every `Tables.*` reader and oracle view works
    * unchanged. Idempotent via a completion marker.
    */
  def amplify(s: SparkSession, inDir: String, outDir: String,
      folds: Int = 10,
      tables: Seq[String] = shifted.keys.toSeq.sorted): Unit = {
    // The marker records WHAT was amplified (fold count + table set),
    // not just that something was: a documents-only sf10 soak run into a
    // dir later reused for a wider soak must re-amplify the missing
    // tables instead of silently skipping them (ADVICE r13). Tables
    // already covered at the same fold count are not rewritten; a
    // DIFFERENT fold count invalidates everything.
    val marker = new java.io.File(s"$outDir/_SOAK_COMPLETE")
    val (doneFolds, doneTables): (Int, Set[String]) =
      if (!marker.exists()) (folds, Set.empty)
      else java.nio.file.Files.readString(marker.toPath).trim.split(":", 2) match {
        case Array(f, ts) if f.forall(_.isDigit) && f.nonEmpty =>
          (f.toInt, ts.split(",").filter(_.nonEmpty).toSet)
        // legacy empty marker (pre-r14): its fold count and table set
        // are UNKNOWN — guessing "10 folds, all tables" would silently
        // accept wrong-scale data (e.g. a documents-only 100-fold dir
        // validated as a full 10-fold corpus, ADVICE r14). Fail loud:
        // a re-amplify is minutes; a wrong-scale soak is a lie.
        case _ => throw new IllegalStateException(
          s"legacy _SOAK_COMPLETE marker at $outDir records neither fold " +
            "count nor table set — delete the directory (or the marker) " +
            "and re-amplify")
      }
    val covered = if (doneFolds == folds) doneTables else Set.empty[String]
    val todo = tables.filterNot(covered)
    if (todo.isEmpty) return
    // read timestamps as NTZ so the written files keep the BASE corpus's
    // physical flavor (unadjusted micros) — the DuckDB rule restatement
    // then EXCEPT-compares naive timestamps on both sides, and
    // model.Tables normalizes the NTZ read-back like any harness file
    graft.Graft.withConf(s, "spark.sql.parquet.inferTimestampNTZ.enabled" -> "true") {
      todo.sorted.foreach { t =>
        val in = s.read.parquet(s"$inDir/$t.parquet")
        // 8 output files for the fact tables keeps downstream scans
        // parallel without a shuffle: repartition would be one, so the
        // per-input-split explode writes as-is (splits × 1 files) and the
        // biggest table lands as a handful of ~100 MB-scale files.
        amplifyTable(in, t, folds)
          .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      }
    }
    java.nio.file.Files.writeString(marker.toPath,
      s"$folds:${(covered ++ todo).toSeq.sorted.mkString(",")}"): Unit
  }
}
