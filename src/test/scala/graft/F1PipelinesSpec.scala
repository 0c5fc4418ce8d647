package graft

import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.pipelines.F1Pipelines

/** Pipeline-parity tests over F1-shaped fixtures (FIXTURES.md §2): each
  * suite replays a reference DAG's semantics end-to-end, including the
  * edge rows the reference handles specially (NaT laps, "R"/"D"
  * classified positions, "Unknown" sentinels, missing JSON keys).
  */
class F1PipelinesSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("raceResults builds keyed doc with nested typed results (racedag.py:48-61)") {
    val results = Seq(
      ("Max V", "Red Bull", "url1", 1.0, "1", 25.0, 2.0),
      ("Lando N", "McLaren", "url2", 2.0, "2", 18.0, 1.0),
      ("Logan S", "Williams", "url3", 20.0, "R", 0.0, 19.0) // retired: text pos
    ).toDF("FullName", "TeamName", "HeadshotUrl", "Position",
      "ClassifiedPosition", "Points", "GridPosition")
    val doc = F1Pipelines.raceResults(results, 2025, 14, "Azerbaijan GP", "conventional")
      .collect().head
    assert(doc.getString(0) == "2025_14")
    val rows = doc.getSeq[Row](3)
    assert(rows.size == 3)
    val retired = rows.find(_.getAs[String]("fullName") == "Logan S").get
    assert(retired.getAs[String]("classifiedPosition") == "R")
    assert(retired.getAs[Int]("position") == 20)
    assert(retired.getAs[Int]("points") == 0)
  }

  test("qualifyingResults formats Q1-Q3 null-safely (qualifyingdag.py:49-59)") {
    val results = Seq(
      ("Max V", "Red Bull", "u1", 1.0, Some(83456L), Some(82900L), Some(82100L)),
      ("Out InQ1", "Backmarker", "u2", 20.0, Some(95000L), None, None)
    ).toDF("FullName", "TeamName", "HeadshotUrl", "Position", "Q1", "Q2", "Q3")
    val doc = F1Pipelines.qualifyingResults(results, 2025, 14, "Azerbaijan GP")
      .collect().head
    val rows = doc.getSeq[Row](2)
    val max = rows.find(_.getAs[String]("fullName") == "Max V").get
    assert(max.getAs[String]("q1") == "01:23.456")
    val out = rows.find(_.getAs[String]("fullName") == "Out InQ1").get
    assert(out.getAs[String]("q2") == null && out.getAs[String]("q3") == null)
  }

  test("practiceLaps drops NaT laps and enriches via broadcast join (practicedag.py:62-77)") {
    val laps = Seq(
      ("VER", Some(90123L), "SOFT", true, 1.0),
      ("VER", None, "SOFT", false, 2.0),          // no lap time → dropped
      ("HAM", Some(91000L), "MEDIUM", false, 1.0)
    ).toDF("Driver", "LapTime", "Compound", "IsPersonalBest", "LapNumber")
    val drivers = Seq(
      ("VER", "Max Verstappen", "u1"), ("HAM", "Lewis Hamilton", "u2")
    ).toDF("Abbreviation", "FullName", "HeadshotUrl")
    val doc = F1Pipelines.practiceLaps(laps, drivers, 2025, 14, "Practice 1", "conventional")
      .collect().head
    val rows = doc.getSeq[Row](4)
    assert(rows.size == 2) // NaT lap dropped
    val ver = rows.find(_.getAs[String]("driver") == "VER").get
    assert(ver.getAs[String]("lapTime") == "01:30.123")
    assert(ver.getAs[String]("fullName") == "Max Verstappen")
  }

  test("topSpeeds is group-max over non-deleted laps (topspeed.py:55-75)") {
    val laps = Seq(
      ("VER", 320.5, false), ("VER", 355.1, false), ("VER", 360.0, true),
      ("HAM", 341.2, false)
    ).toDF("Driver", "SpeedST", "Deleted")
    val doc = F1Pipelines.topSpeeds(laps, 2025, 14, "Qualifying", "conventional")
      .collect().head
    val speeds = doc.getSeq[Row](4).map(r =>
      r.getAs[String]("driver") -> r.getAs[Double]("topSpeed")).toMap
    assert(speeds == Map("VER" -> 355.1, "HAM" -> 341.2))
  }

  test("driverStandings flattens Ergast JSON with sentinel defaults (driverstandings.py:17-44)") {
    val payload =
      """{"MRData":{"StandingsTable":{"StandingsLists":[{"DriverStandings":[
        |{"position":"1","positionText":"1","points":"255","wins":"6",
        | "Driver":{"driverId":"max","permanentNumber":"1","givenName":"Max","familyName":"V"},
        | "Constructors":[{"constructorId":"rb","name":"Red Bull"}]},
        |{"positionText":"-","points":"0","wins":"0",
        | "Driver":{"driverId":"rookie","givenName":"New","familyName":"Guy"},
        | "Constructors":[{"constructorId":"w","name":"Williams"}]}
        |]}]}}}""".stripMargin.replaceAll("\n", "")
    val got = F1Pipelines.driverStandings(spark, payload)
      .orderBy($"points".desc).collect()
    assert(got.length == 2)
    assert(got(0).getAs[Int]("driverNumber") == 1)
    assert(got(0).getAs[String]("constructorName") == "Red Bull")
    // missing position / permanentNumber → sentinel 0 (driverstandings.py:24-36)
    assert(got(1).getAs[Int]("position") == 0)
    assert(got(1).getAs[Int]("driverNumber") == 0)
    assert(got(1).getAs[String]("timestamp").nonEmpty)
  }

  test("constructorStandings flattens Ergast JSON with sentinel defaults (constructorstandings.py:17-38)") {
    val payload =
      """{"MRData":{"StandingsTable":{"StandingsLists":[{"ConstructorStandings":[
        |{"position":"1","positionText":"1","points":"589","wins":"9",
        | "Constructor":{"constructorId":"mclaren","name":"McLaren"}},
        |{"positionText":"-","points":"0",
        | "Constructor":{"constructorId":"sauber"}}
        |]}]}}}""".stripMargin.replaceAll("\n", "")
    val got = F1Pipelines.constructorStandings(spark, payload)
      .orderBy($"points".desc).collect()
    assert(got.length == 2)
    assert(got(0).getAs[String]("constructorId") == "mclaren")
    assert(got(0).getAs[String]("constructorName") == "McLaren")
    assert(got(0).getAs[Int]("points") == 589)
    assert(got(0).getAs[Int]("position") == 1)
    assert(got(0).getAs[Int]("wins") == 9)
    // missing position / wins / name → sentinel 0 or "Unknown"
    assert(got(1).getAs[Int]("position") == 0)
    assert(got(1).getAs[String]("positionText") == "-")
    assert(got(1).getAs[Int]("wins") == 0)
    assert(got(1).getAs[String]("constructorName") == "Unknown")
    assert(got(1).getAs[String]("timestamp").nonEmpty)
  }

  test("schedule renders session dates ISO with NaT → empty (scheduledag.py:35-59)") {
    val events = Seq(
      (1, "Australia", "Australian GP 2025", "Australian GP", "conventional",
        "Practice 1", Some(Timestamp.valueOf("2025-03-14 01:30:00")),
        "Practice 2", None.asInstanceOf[Option[Timestamp]],
        "Practice 3", None.asInstanceOf[Option[Timestamp]],
        "Qualifying", None.asInstanceOf[Option[Timestamp]],
        "Race", Some(Timestamp.valueOf("2025-03-16 05:00:00")))
    ).toDF("RoundNumber", "Country", "OfficialEventName", "EventName", "EventFormat",
      "Session1", "Session1DateUtc", "Session2", "Session2DateUtc",
      "Session3", "Session3DateUtc", "Session4", "Session4DateUtc",
      "Session5", "Session5DateUtc")
    val row = F1Pipelines.schedule(events, 2025).collect().head
    assert(row.getAs[String]("key") == "1-2025")
    assert(row.getAs[String]("session1DateUtc") == "2025-03-14T01:30:00Z")
    assert(row.getAs[String]("session2DateUtc") == "")
    assert(row.getAs[String]("session5DateUtc") == "2025-03-16T05:00:00Z")
  }
}
