package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.ops.Expressions._

/** Queries re-expressing every dataflow operator the reference implements
  * (SURVEY.md §2.A — filters, projections, scalar maps, group-max,
  * nest-to-array, JSON flattening, broadcast lookup join, upsert merge).
  *
  * Each entry is paired with ANSI SQL in [[RefOps.oracle]] for the driver's
  * DuckDB differential check, which compares rows order-free on both
  * sides: `ORDER BY` only where order feeds a result (`LIMIT`, rank,
  * first/last, an ordered write). Money aggregates go through exact
  * integer cents; no `collect()` anywhere — every operator is a pure
  * distributed plan that scales by partitioning.
  */
object RefOps {
  private type Q = (SparkSession, String) => DataFrame

  /** F1 dags/racedag.py:43 — equality filter (boolean mask selection). */
  private val qFilterEq: Q = (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  /** F2 dags/racedag.py:43 `.iloc[0]` — first row after a deterministic sort. */
  private val qLimit: Q = (s, d) =>
    Tables.orders(s, d)
      .orderBy(col("o_orderkey"))
      .select(col("o_orderkey"), col("o_orderstatus"))
      .limit(1)

  /** F3+S13 dags/qualifyingdag.py:53-56 — column projection with renames. */
  private val qProject: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(
        col("l_orderkey").as("order_key"),
        col("l_linenumber").as("line_no"),
        col("l_quantity").as("qty"))

  /** F4 dags/practicedag.py:64 `dropna` — derive a nullable column then
    * drop null rows (testdata has no physical nulls, so nulls are derived).
    */
  private val qDropna: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("big_value", when(col("value") >= 5.0, col("value")))
      .na.drop(Seq("big_value"))
      .select(col("event_id"), col("big_value"))
      .orderBy(col("event_id"))

  /** F5 dags/topspeed.py:59 `pick_not_deleted` — boolean-predicate filter. */
  private val qFilterBool: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("deleted", col("value") < 1.0)
      .filter(!col("deleted") && col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_id"))

  /** S5 dags/qualifyingdag.py:58-59 — derived column via scalar expression
    * (native, codegen'd; the reference used `.apply(python_fn)`). Money is
    * derived as exact integer cents: fractional-scale round on doubles is
    * not portable across engines (Java shortest-repr HALF_UP vs C round).
    */
  private val qDerivedColumn: Q = (s, d) =>
    Tables.lineitem(s, d)
      .withColumn("net_price_cents",
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0)
          .cast("long"))
      .select(col("l_orderkey"), col("l_linenumber"), col("net_price_cents"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** S6 dags/qualifyingdag.py:49-51 — millis → "MM:SS.mmm" null-safe. */
  private val qTimeFormat: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("lap_ms", floor(col("value") * 1000.0).cast("long"))
      .withColumn("lap_time", formatLapTime(col("lap_ms")))
      .select(col("event_id"), col("lap_time"))
      .orderBy(col("event_id"))

  /** S7 dags/scheduledag.py:35-40 — ISO-8601 render, NaT-safe. */
  private val qDateFormat: Q = (s, d) =>
    Tables.orders(s, d)
      .withColumn("order_iso", isoTimestamp(col("o_orderdate")))
      .select(col("o_orderkey"), col("order_iso"))
      .orderBy(col("o_orderkey"))

  /** S9 dags/racedag.py:55 — int cast. */
  private val qCast: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("int").as("qty_int"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** S10 dags/driverstandings.py:36 — conditional expression with sentinel. */
  private val qWhenOtherwise: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("score",
        when(col("event_type") =!= "error", floor(col("value")).cast("long"))
          .otherwise(lit(0L)))
      .select(col("event_id"), col("score"))
      .orderBy(col("event_id"))

  /** S11 dags/driverstandings.py:24-34 — default-on-missing via coalesce. */
  private val qCoalesce: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("maybe", when(col("value") >= 5.0, col("value")))
      .withColumn("value_or_default", coalesce(col("maybe"), lit(-1.0)))
      .select(col("event_id"), col("value_or_default"))
      .orderBy(col("event_id"))

  /** S12 dags/racedag.py:49 — natural-key synthesis by concatenation. */
  private val qConcatKey: Q = (s, d) =>
    Tables.orders(s, d)
      .withColumn("key", synthKey("_", year(col("o_orderdate")), col("o_orderkey")))
      .select(col("o_orderkey"), col("key"))
      .orderBy(col("o_orderkey"))

  /** G1 dags/topspeed.py:55-75 — the hand-rolled per-group running max
    * becomes a two-phase (partial + final) hash aggregate.
    */
  private val qGroupbyMax: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(max(col("value")).as("max_value"))
      .orderBy(col("user_id"))

  /** G2 dags/racedag.py:52-60 — nest group rows to a sorted array-of-structs
    * (the reference's parent-doc + results[] shape).
    */
  private val qCollectStruct: Q = (s, d) =>
    Tables.events(s, d)
      .filter(col("user_id") < 5)
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("event_id"), col("event_type"))))
        .as("events_arr"))
      // Serialize the collected array for the differential check: the
      // driver loads results into pandas, which cannot sort/hash array
      // cells. The collect + struct-sort semantics stay exercised.
      .select(col("user_id"),
        array_join(
          transform(col("events_arr"),
            x => concat(x.getField("event_id").cast("string"), lit(":"),
              x.getField("event_type"))),
          ",").as("events_str"))

  /** J1 dags/driverstandings.py:20 — JSON path extraction with schema. */
  private val qJsonExplode: Q = (s, d) => {
    val schema = "k INT"
    Tables.events(s, d)
      .withColumn("j", from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL(schema)))
      .select(col("event_id"), col("j.k").as("k"))
      .orderBy(col("event_id"))
  }

  /** J2 dags/driverstandings.py:22 — array element by (1-based) index. */
  private val qElementAt: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("first_token", element_at(split(col("text"), " "), 1))
      .select(col("doc_id"), col("first_token"))
      .orderBy(col("doc_id"))

  /** N1 dags/practicedag.py:68 — small-dimension lookup join; the row-loop
    * `session.get_driver(...)` becomes an explicit broadcast hash join.
    */
  private val qBroadcastJoin: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val sup = Tables.supplier(s, d)
    li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"), "inner")
      .select(col("l_orderkey"), col("l_linenumber"), col("s_name"))
  }

  /** K1 dags/racedag.py:68-73 — keyed upsert as anti-join + union (the
    * plain-Parquet MERGE emulation; see graft.ops.Sinks for the write path).
    * Updates = open orders re-priced; base = all orders.
    */
  private val qUpsertMerge: Q = (s, d) => {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100.0).cast("long").as("price_cents"))
    val updates = base.filter(col("o_orderstatus") === "O")
      .withColumn("price_cents",
        round(col("price_cents") * 1.1).cast("long"))
    graft.ops.Sinks.mergeByKey(base, updates, Seq("o_orderkey"))
  }

  /** S1 dags/driverstandings.py:66-68 — JSON document source → flatten.
    * No egress in this environment, so the Ergast-shaped payload is a
    * deterministic literal; the flattening (path walk + array unnest +
    * string→int casts, dags/driverstandings.py:20-40) is the real operator.
    */
  private val qJsonSource: Q = (s, _) => {
    import s.implicits._
    val payload =
      """{"MRData":{"StandingsTable":{"StandingsLists":[{"DriverStandings":[
        |{"position":"1","points":"255","wins":"6","Driver":{"driverId":"max","givenName":"Max","familyName":"V"},"Constructors":[{"constructorId":"rb","name":"RB"}]},
        |{"position":"2","points":"220","wins":"4","Driver":{"driverId":"lando","givenName":"Lando","familyName":"N"},"Constructors":[{"constructorId":"mcl","name":"McLaren"}]},
        |{"position":"3","points":"180","wins":"1","Driver":{"driverId":"charles","givenName":"Charles","familyName":"L"},"Constructors":[{"constructorId":"fer","name":"Ferrari"}]}
        |]}]}}}""".stripMargin.replaceAll("\n", "")
    val raw = s.read.json(Seq(payload).toDS())
    raw.select(explode(col("MRData.StandingsTable.StandingsLists")).as("sl"))
      .select(explode(col("sl.DriverStandings")).as("ds"))
      .select(
        col("ds.Driver.driverId").as("driver_id"),
        col("ds.position").cast("int").as("position"),
        col("ds.points").cast("int").as("points"),
        col("ds.wins").cast("int").as("wins"),
        element_at(col("ds.Constructors"), 1).getField("name").as("constructor"))
      .orderBy(col("position"))
  }

  /** S8 dags/driverstandings.py:38 — ingest timestamp stamped per row.
    * Nondeterministic by nature → no oracle (driver rows-only check).
    */
  private val qCurrentTs: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"),
        date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("ingested_at"))
      .orderBy(col("event_id"))

  /** K2 dags/driverstandings.py:82-85 — full refresh write path: overwrite
    * a derived table atomically, then read it back. The write target lives
    * under the build dir; the read-back result is oracle-checkable.
    */
  private val qOverwriteRefresh: Q = (s, d) => {
    // dir-hash suffix (repo convention): concurrent verify runs at
    // different scale factors must not collide on the temp table
    val path = graft.model.Scratch.dir("q_overwrite_refresh", d)
    val snapshot = Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_custkey"))
    graft.ops.Sinks.overwriteRefresh(snapshot, path)
    graft.ops.Sinks.overwriteRefresh(snapshot, path) // idempotent re-run
    s.read.parquet(path).orderBy(col("o_orderkey"))
  }

  val registry: Map[String, Q] = Map(
    "q_current_ts" -> qCurrentTs,
    "q_overwrite_refresh" -> qOverwriteRefresh,
    "q_filter_eq" -> qFilterEq,
    "q_limit" -> qLimit,
    "q_project" -> qProject,
    "q_dropna" -> qDropna,
    "q_filter_bool" -> qFilterBool,
    "q_derived_column" -> qDerivedColumn,
    "q_time_format" -> qTimeFormat,
    "q_date_format" -> qDateFormat,
    "q_cast" -> qCast,
    "q_when_otherwise" -> qWhenOtherwise,
    "q_coalesce" -> qCoalesce,
    "q_concat_key" -> qConcatKey,
    "q_groupby_max" -> qGroupbyMax,
    "q_collect_struct" -> qCollectStruct,
    "q_json_explode" -> qJsonExplode,
    "q_element_at" -> qElementAt,
    "q_broadcast_join" -> qBroadcastJoin,
    "q_upsert_merge" -> qUpsertMerge,
    "q_json_source" -> qJsonSource,
  )

  val oracle: Map[String, String] = Map(
    "q_overwrite_refresh" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_orderstatus = 'F' ORDER BY o_orderkey""".stripMargin,
    "q_filter_eq" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F' ORDER BY o_orderkey""".stripMargin,
    "q_limit" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |ORDER BY o_orderkey LIMIT 1""".stripMargin,
    "q_project" ->
      """SELECT l_orderkey AS order_key, l_linenumber AS line_no,
        |l_quantity AS qty FROM lineitem ORDER BY order_key, line_no""".stripMargin,
    "q_dropna" ->
      """SELECT event_id, value AS big_value FROM events
        |WHERE value >= 5.0 ORDER BY event_id""".stripMargin,
    "q_filter_bool" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE NOT (value < 1.0) AND event_type = 'click' ORDER BY event_id""".stripMargin,
    "q_derived_column" ->
      """SELECT l_orderkey, l_linenumber,
        |CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT) AS net_price_cents
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_time_format" ->
      """SELECT event_id, concat(
        |lpad(CAST(CAST(floor(value*1000.0) AS BIGINT) // 60000 AS VARCHAR), 2, '0'),
        |':',
        |lpad(CAST((CAST(floor(value*1000.0) AS BIGINT) % 60000) // 1000 AS VARCHAR), 2, '0'),
        |'.',
        |lpad(CAST(CAST(floor(value*1000.0) AS BIGINT) % 1000 AS VARCHAR), 3, '0'))
        |AS lap_time FROM events ORDER BY event_id""".stripMargin,
    "q_date_format" ->
      """SELECT o_orderkey,
        |coalesce(strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ'), '') AS order_iso
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_cast" ->
      """SELECT l_orderkey, l_linenumber, CAST(floor(l_quantity) AS INT) AS qty_int
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_when_otherwise" ->
      """SELECT event_id,
        |CASE WHEN event_type <> 'error' THEN CAST(floor(value) AS BIGINT)
        |ELSE 0 END AS score FROM events ORDER BY event_id""".stripMargin,
    "q_coalesce" ->
      """SELECT event_id,
        |coalesce(CASE WHEN value >= 5.0 THEN value END, -1.0) AS value_or_default
        |FROM events ORDER BY event_id""".stripMargin,
    "q_concat_key" ->
      """SELECT o_orderkey,
        |concat_ws('_', CAST(year(o_orderdate) AS VARCHAR), CAST(o_orderkey AS VARCHAR)) AS key
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_groupby_max" ->
      """SELECT user_id, max(value) AS max_value FROM events
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_collect_struct" ->
      """SELECT user_id,
        |string_agg(event_id || ':' || event_type, ','
        |           ORDER BY event_id, event_type) AS events_str
        |FROM events WHERE user_id < 5 GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_json_explode" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS INT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "q_element_at" ->
      """SELECT doc_id, string_split(text, ' ')[1] AS first_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_broadcast_join" ->
      """SELECT l_orderkey, l_linenumber, s_name
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_upsert_merge" ->
      """SELECT o_orderkey, o_orderstatus,
        |CASE WHEN o_orderstatus = 'O'
        |THEN CAST(round(CAST(round(o_totalprice * 100.0) AS BIGINT) * 1.1) AS BIGINT)
        |ELSE CAST(round(o_totalprice * 100.0) AS BIGINT) END AS price_cents
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_json_source" ->
      """SELECT * FROM (VALUES
        |('max', 1, 255, 6, 'RB'),
        |('lando', 2, 220, 4, 'McLaren'),
        |('charles', 3, 180, 1, 'Ferrari'))
        |AS t(driver_id, position, points, wins, constructor)
        |ORDER BY position""".stripMargin,
  )
}
