package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Expressions, Sinks}

/** Shared local session for all suites (one JVM per `sbt test` fork).
  * The codegen cache is one object per JVM, sized by the first session
  * that compiles, so this session sets the engine's size too.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", Graft.CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** Every [[graft.functions.Catalog]] entry resolves on `s` to the
    * catalog's own entry (not a same-named function from elsewhere);
    * after the registrar both demonstration UDFs resolve too, and
    * neither that call nor a further one replaces a builder already
    * present.
    */
  def assertCatalogResolves(s: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val reg = s.sessionState.functionRegistry
    def builders(names: Seq[String]) =
      names.map(n => reg.lookupFunctionBuilder(FunctionIdentifier(n)).get)
    def assertKept(names: Seq[String], before: Seq[AnyRef]): Unit =
      names.zip(before.zip(builders(names))).foreach { case (n, (b0, b1)) =>
        assert(b0 eq b1, s"the registrar replaced $n")
      }
    val entries = graft.functions.Catalog.entries
    entries.foreach(e => assert(
      reg.lookupFunction(FunctionIdentifier(e.name)).map(_.getUsage)
        .contains(e.usage), s"${e.name} does not resolve to its catalog entry"))
    val names = entries.map(_.name)
    val before = builders(names)
    graft.functions.Catalog.register(s)
    assertKept(names, before)
    val all = names ++ Seq("lap_time_udf", "top_k_events")
    all.foreach(n => assert(s.catalog.functionExists(n), s"$n does not resolve"))
    val again = builders(all)
    graft.functions.Catalog.register(s)
    assertKept(all, again)
  }

  /** `body`'s result and the "replaced a previously registered function"
    * warnings Spark's function registry logged while it ran.
    */
  def replacedFunctionWarnings[A](body: => A): (A, Seq[String]) = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val msgs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("replaced-functions", null, null, true,
        Array.empty[org.apache.logging.log4j.core.config.Property]) {
      override def append(e: LogEvent): Unit =
        msgs.add(e.getMessage.getFormattedMessage): Unit
    }
    app.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry")
      .asInstanceOf[Logger]
    logger.addAppender(app)
    try {
      val out = body
      import scala.jdk.CollectionConverters._
      (out, msgs.asScala.toSeq
        .filter(_.contains("replaced a previously registered function")))
    } finally {
      logger.removeAppender(app)
      app.stop()
    }
  }
}

/** Reference-semantics unit tests (SURVEY.md §5.2.2): each asserts a
  * behavior cited from /root/reference, on tiny in-memory fixtures.
  */
class RefSemanticsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("S6 formatLapTime renders MM:SS.mmm with zero padding (qualifyingdag.py:49-51)") {
    val got = Seq(83456L, 59L, 600000L, 9001L).toDF("ms")
      .select(Expressions.formatLapTime($"ms").as("s"))
      .as[String].collect().toSeq
    assert(got == Seq("01:23.456", "00:00.059", "10:00.000", "00:09.001"))
  }

  test("S6 formatLapTime is null-safe: NaT lap → null (practicedag.py:54-60)") {
    val got = Seq[Option[Long]](Some(1500L), None).toDF("ms")
      .select(Expressions.formatLapTime($"ms").as("s"))
      .collect().map(r => Option(r.getString(0))).toSeq
    assert(got == Seq(Some("00:01.500"), None))
  }

  test("S7 isoTimestamp: NaT → empty string, not null (scheduledag.py:35-40)") {
    val got = Seq((1L, Some(java.sql.Timestamp.valueOf("2025-03-16 05:00:00"))), (2L, None))
      .toDF("id", "ts")
      .select(Expressions.isoTimestamp($"ts").as("s"))
      .as[String].collect().toSeq
    assert(got == Seq("2025-03-16T05:00:00Z", ""))
  }

  test("S10 positionOrZero: Unknown sentinel → 0 (driverstandings.py:36)") {
    val got = Seq("3", "Unknown", "17").toDF("p")
      .select(Expressions.positionOrZero($"p").as("v"))
      .as[Int].collect().toSeq
    assert(got == Seq(3, 0, 17))
  }

  test("S12 synthKey concatenates mixed-type parts (racedag.py:49)") {
    val got = Seq((2025, 14)).toDF("y", "r")
      .select(Expressions.synthKey("_", $"y", $"r").as("k"))
      .as[String].collect().head
    assert(got == "2025_14")
  }

  test("K1 mergeByKey: updates win, non-matched base rows pass through") {
    val base = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    val updates = Seq((2, "B"), (4, "D")).toDF("k", "v")
    val got = Sinks.mergeByKey(base, updates, Seq("k"))
      .orderBy($"k").as[(Int, String)].collect().toSeq
    assert(got == Seq((1, "a"), (2, "B"), (3, "c"), (4, "D")))
  }

  test("K1 upsertByKey is idempotent on disk (racedag.py:68-73)") {
    val path = "target/tmp/upsert_test"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val v1 = Seq((1, "a"), (2, "b")).toDF("k", "v")
    Sinks.upsertByKey(spark, path, v1, Seq("k"))
    val upd = Seq((2, "B"), (3, "c")).toDF("k", "v")
    Sinks.upsertByKey(spark, path, upd, Seq("k"))
    Sinks.upsertByKey(spark, path, upd, Seq("k")) // apply twice ≡ once
    val got = spark.read.parquet(path).orderBy($"k").as[(Int, String)].collect().toSeq
    assert(got == Seq((1, "a"), (2, "B"), (3, "c")))
  }

  test("G1 group-max matches hand-rolled loop semantics (topspeed.py:55-75)") {
    val laps = Seq(("VER", 320.1, false), ("VER", 355.7, false),
      ("VER", 360.0, true), ("HAM", 341.2, false)).toDF("driver", "speed", "deleted")
    val got = laps.filter(!$"deleted").groupBy($"driver")
      .agg(max($"speed").as("top")).orderBy($"driver")
      .as[(String, Double)].collect().toSeq
    assert(got == Seq(("HAM", 341.2), ("VER", 355.7)))
  }

  test("driver contract: every oracle key has a query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    // the rows-only keys: sketch internals and a wall-clock timestamp
    // have no DuckDB equivalent; any other key without an oracle is a gap
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet == Set(
      "q_approx_distinct", "q_hll_merge", "q_approx_percentile", "q_current_ts"))
  }

  test("flagship entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
