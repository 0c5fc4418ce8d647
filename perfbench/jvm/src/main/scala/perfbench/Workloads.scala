package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.Sinks
import graft.pipelines.F1Pipelines

/** One op of a pass: its op type, and how it runs through the tracer. */
final case class Op(kind: String, run: Tracer => Unit)

/** A workload: the ops of each pass, run one after another by one
  * client (closed loop). The seed fixes each pass's op order. With
  * `dump`, a pass writes each checked key's full result under that dir
  * for the oracle check instead of landing it in the noop sink.
  */
trait Workload {
  def pass(p: Int, dump: Option[String]): Seq[Op]
  /** Untimed work before each pass. */
  def beforePass(): Unit = ()
  /** Registry keys whose full result is checked against their oracle. */
  def checked: Seq[String]
  /** Workload-specific figures measured after the timed passes. */
  def extra(): Map[String, Double] = Map.empty
}

object Workload {
  /** Materializes every row and column of a result: through the noop
    * sink, or into Parquet under `dump` for the oracle check. */
  def land(k: String, dump: Option[String])(df: DataFrame): Unit = dump match {
    case None => df.write.format("noop").mode("overwrite").save()
    case Some(d) => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$k")
  }

  /** A registry key as an op: the query function builds the DataFrame
    * (the `queries` layer), the sink materializes it. */
  def key(spark: SparkSession, k: String, dir: String, dump: Option[String]): Op = {
    val fn = graft.SparkEntry.queries(k)
    Op(k, _.op(k, "queries.construct_s", "queries.action_s",
      () => fn(spark, dir), land(k, dump)))
  }

  /** Bytes of the data files under `path` (checksum and marker files
    * left out). */
  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) f.listFiles().map(x => dirBytes(x.getPath)).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()
  }

  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmTree)
    f.delete(): Unit
  }
}

/** Registry keys over one data dir, in a seeded order per pass. */
final class Registry(spark: SparkSession, dir: String, keys: Seq[String],
    seed: Long) extends Workload {
  def pass(p: Int, dump: Option[String]): Seq[Op] =
    new Random(seed * 7919L + p).shuffle(keys).map(Workload.key(spark, _, dir, dump))
  def checked: Seq[String] = keys
}

/** The paper's traffic: a season of F1 rounds through the seven
  * `F1Pipelines` DAGs into their stores, plus one replay of the
  * streaming near-duplicate ingest gate. Stores are wiped before each
  * pass, so every pass lands the same season from scratch.
  */
final class Etl(spark: SparkSession, in: String, docs: String, stores: String,
    seed: Long) extends Workload {
  private val Year = 2025
  private val Gate = "q_stream_ingest_gate"
  private val rounds: Seq[(Int, String, String)] =
    scala.io.Source.fromFile(s"$in/rounds.tsv").getLines().toSeq.map { l =>
      val Array(r, event, fmt) = l.split("\t"); (r.toInt, event, fmt)
    }
  private def read(name: String) = spark.read.parquet(s"$in/$name.parquet")
  private def payload(name: String) =
    java.nio.file.Files.readString(java.nio.file.Paths.get(s"$in/$name.json"))

  /** A DAG landing in `store`; `newRows` of the `rowsAfter` rows the
    * store then holds are new — the base of `sinks.rewrite_ratio`. */
  private def dag(kind: String, store: String, newRows: Int, rowsAfter: Int,
      build: => DataFrame, keys: Seq[String]): Op = Op(kind, t => {
    val path = s"$stores/$store"
    val written0 = t.snapshot()._1.getOrElse("exec.output_mb", 0.0)
    if (keys.isEmpty)
      t.op(kind, "pipelines.transform_s", "sinks.overwrite_s", () => build,
        (df: DataFrame) => Sinks.overwriteRefresh(df, path))
    else
      t.op(kind, "pipelines.transform_s", "sinks.upsert_s", () => build,
        (df: DataFrame) => Sinks.upsertByKey(spark, path, df, keys))
    if (t.isActive) {
      val files = Option(new java.io.File(path).listFiles()).toSeq.flatten
        .count(_.getName.endsWith(".parquet"))
      t.add("sinks.files_written", files)
      t.add("sinks.written_mb",
        t.snapshot()._1.getOrElse("exec.output_mb", 0.0) - written0)
      t.add("sinks.new_mb",
        Workload.dirBytes(path) / (1024.0 * 1024.0) * newRows / rowsAfter)
    }
  })

  def pass(p: Int, dump: Option[String]): Seq[Op] = {
    val rng = new Random(seed * 7919L + p)
    val n = rounds.size
    val perRound = rounds.map { case (r, event, fmt) =>
      rng.shuffle(Seq(
        dag("practice", "practice", 1, r,
          F1Pipelines.practiceLaps(read(s"laps_${r}_Practice1"), read("drivers"),
            Year, r, "Practice 1", fmt), Seq("year", "round", "sessionName")),
        dag("race", "race", 1, r,
          F1Pipelines.raceResults(read(s"race_$r"), Year, r, event, fmt), Seq("key")),
        dag("quali", "quali", 1, r,
          F1Pipelines.qualifyingResults(read(s"quali_$r"), Year, r, event), Seq("key")),
        dag("topspeed", "topspeed", 1, r,
          F1Pipelines.topSpeeds(read(s"laps_${r}_Qualifying"), Year, r, "Qualifying", fmt),
          Seq("year", "round", "sessionName")),
        dag("driver_standings", "driver_standings", 1, 1,
          F1Pipelines.driverStandings(spark, payload(s"driver_standings_$r")), Nil),
        dag("constructor_standings", "constructor_standings", 1, 1,
          F1Pipelines.constructorStandings(spark, payload(s"constructor_standings_$r")),
          Nil)))
    }
    val schedule = dag("schedule", "schedule", n, n,
      F1Pipelines.schedule(read("schedule"), Year), Seq("key"))
    val gate = Op(Gate, _.op(Gate, "streaming.replay_s", "streaming.read_s",
      () => graft.SparkEntry.queries(Gate)(spark, docs), Workload.land(Gate, dump)))
    val at = rng.nextInt(n + 1)
    schedule +: (perRound.take(at).flatten ++ Seq(gate) ++ perRound.drop(at).flatten)
  }

  override def beforePass(): Unit = Workload.rmTree(new java.io.File(stores))

  def checked: Seq[String] = Seq(Gate)

  /** Bytes on disk in the stores (the DAG stores and the gate's decision,
    * band-index and shingle stores) over the bytes of input landed. */
  override def extra(): Map[String, Double] = {
    val gate = Seq("dec", "idx", "sh").map(s =>
      Workload.dirBytes(graft.model.Scratch.dir(s"ingest_gate_$s", docs))).sum
    val input = Workload.dirBytes(in) + Workload.dirBytes(s"$docs/documents.parquet")
    Map("store_amp" -> (Workload.dirBytes(stores) + gate).toDouble / input,
      "streaming.store_mb" -> gate / (1024.0 * 1024.0))
  }
}
