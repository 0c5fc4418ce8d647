package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-row cost of graft's codegen'd kernels (`graft.functions`), each
  * timed on a generated, cached column of fixed size: the time of a
  * projection calling the kernel, less that of a projection passing its
  * input through, per row.
  */
object Kernels {
  val Rows = 40000

  private val kernels = Seq(
    "shingle_hashes" -> ("shingle_hashes(toks, 3)", "toks"),
    "minhash_signature" -> ("minhash_signature(sh, 32)", "sh"),
    "jaccard_sorted" -> ("jaccard_sorted(sh, sh2)", "sh"),
    "simhash_signature" -> ("simhash_signature(toks)", "toks"),
    "srp_bands" -> ("srp_bands(vec, 8, 8)", "vec"),
    "dot_arr" -> ("dot_arr(vec, vec2)", "vec"),
    "lap_time_millis" -> ("lap_time_millis(ms)", "ms"))

  private def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)

  private def time(df: DataFrame, e: String): Double = median((1 to 5).map { _ =>
    val t0 = System.nanoTime()
    df.selectExpr(s"$e AS o").write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  })

  def measure(spark: SparkSession): Map[String, Double] = {
    val words = "transform(sequence(0, 19 + CAST(id % 60 AS INT)), " +
      "i -> concat('w', CAST((id * 31 + i * i * 17) % 97 AS STRING)))"
    val vec = (k: Int) => s"transform(sequence(0, 63), i -> sin(id * 64 + i + $k))"
    val base = spark.range(Rows).selectExpr("id", s"$words AS toks",
        s"${vec(0)} AS vec", s"${vec(7)} AS vec2",
        "CAST(id * 37 % 600000 AS BIGINT) AS ms")
      .selectExpr("*", "shingle_hashes(toks, 3) AS sh",
        "shingle_hashes(slice(toks, 2, 1000), 3) AS sh2")
      .cache()
    base.count()
    val out = kernels.map { case (name, (call, input)) =>
      time(base, input)
      s"functions.$name.ns_row" -> (time(base, call) - time(base, input)) / Rows * 1e9
    }.toMap
    base.unpersist()
    out
  }
}
