package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Reusable scalar Column functions re-expressing the reference's row-wise
  * Python helpers as codegen'd Spark expressions (no UDFs on the hot path).
  *
  * Reference semantics reproduced (citations into /root/reference):
  *  - formatLapTime: dags/qualifyingdag.py:49-51 `format_laptime` and
  *    dags/practicedag.py:54-60 `format_timedelta` — timedelta →
  *    "MM:SS.mmm", null-safe (NaT → null).
  *  - isoTimestamp: dags/scheduledag.py:35-40 `format_date` — datetime →
  *    "%Y-%m-%dT%H:%M:%SZ", NaT → "" (empty string, not null).
  *  - synthKey: dags/racedag.py:49 `f"{year}_{round}"` and
  *    dags/scheduledag.py:43 `str(round)+"-"+str(YEAR)` — key synthesis by
  *    string concatenation.
  *  - defaultOnMissing: dags/driverstandings.py:24-34 `.get(k, default)`.
  *  - positionOrZero: dags/driverstandings.py:36 conditional int cast with
  *    "Unknown" → 0 sentinel.
  */
object Expressions {

  /** Milliseconds → "MM:SS.mmm"; null in → null out.
    * Pure integer arithmetic + lpad keeps it inside whole-stage codegen.
    */
  def formatLapTime(ms: Column): Column = {
    val msL = ms.cast("long")
    val mins = (msL / 60000L).cast("long")
    val secs = ((msL % 60000L) / 1000L).cast("long")
    val millis = (msL % 1000L).cast("long")
    when(ms.isNull, lit(null).cast("string")).otherwise(
      concat(
        lpad(mins.cast("string"), 2, "0"), lit(":"),
        lpad(secs.cast("string"), 2, "0"), lit("."),
        lpad(millis.cast("string"), 3, "0")))
  }

  /** Timestamp → ISO-8601 "yyyy-MM-ddTHH:mm:ssZ"; null (NaT) → "". */
  def isoTimestamp(ts: Column): Column =
    coalesce(date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'"), lit(""))

  /** Natural-key synthesis from components, e.g. "2025_14". */
  def synthKey(sep: String, parts: Column*): Column =
    concat_ws(sep, parts.map(_.cast("string")): _*)

  /** Missing (null) → default literal, the `.get(k, default)` idiom. */
  def defaultOnMissing(c: Column, default: Any): Column =
    coalesce(c, lit(default))

  /** "Unknown"-sentinel position → 0, else int cast. */
  def positionOrZero(c: Column): Column =
    when(c =!= "Unknown", c.cast("int")).otherwise(0)
}
