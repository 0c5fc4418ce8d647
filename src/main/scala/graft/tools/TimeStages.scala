package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.shingleHashes
import graft.ops.Dedup

/** Stage-level timing for the MinHash pipeline (diagnostic). */
object TimeStages {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label%-22s ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val docs = graft.model.Tables.documents(spark, d)
    val withSh = docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("sh", shingleHashes(col("toks"), 3))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    time("materialize shingles")(withSh.count())
    val sigs = Dedup.minhashSignatures(withSh, "doc_id", 32)
    time("signatures")(sigs.count())
    val cands = Dedup.lshCandidates(sigs, "doc_id", 32, 2)
    time("lsh candidates")(println(s"  n_cands=${cands.count()}"))
    val out = Dedup.verifyJaccard(cands, withSh, "doc_id", 0.5)
    time("verify")(out.count())
    time("full pipeline")(
      Dedup.minhashLshPairs(docs, "doc_id", "text").count())
    time("full pipeline k=64")(
      Dedup.minhashLshPairs(docs, "doc_id", "text", numHashes = 64).count())
    time("simhash pipeline")(
      Dedup.simhashPairs(docs, "doc_id", "text").count())
    time("ngram pipeline")(
      Dedup.ngramJaccardPairs(docs, "doc_id", "text").count())
    // recall audit: the ngram pipeline is EXACT at the same threshold, so
    // its pair set is ground truth for the LSH parameterizations
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b", "jaccard_e6")
    val lsh32 = Dedup.minhashLshPairs(docs, "doc_id", "text", numHashes = 32)
      .select("doc_a", "doc_b", "jaccard_e6")
    println(s"  exact pairs=${exact.count()}  minJ_e6=${exact.agg(min(col("jaccard_e6"))).first().getLong(0)}")
    println(s"  lsh32 missing vs exact=${exact.exceptAll(lsh32).count()}")
    spark.stop()
  }
}
