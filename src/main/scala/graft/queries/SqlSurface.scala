package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** The engine's SQL entry point plus remaining relational coverage:
  * spark.sql over registered views (CTEs, scalar and correlated
  * subqueries — Catalyst decorrelates them), pivot, exact percentiles,
  * histogram bucketing, deterministic salted skew join, explode and
  * distinct.
  */
object SqlSurface {
  private type Q = (SparkSession, String) => DataFrame

  /** Last directory whose tables are registered, per session. */
  private val registered =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]

  /** Register every testdata table as a temp view for spark.sql use.
    * Memoized on the session's current dir: re-registering 10 views on
    * every SQL-surface call cost more than the queries themselves. A call
    * with a different dir re-registers (views always track the last dir).
    */
  def registerViews(s: SparkSession, d: String): Unit =
    if (registered.put(s, d) != d)
      Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
        .foreach(t => Tables.table(s, d, t).createOrReplaceTempView(t))

  /** TPC-H Q1 (pricing summary report): the canonical single-table scan
    * + 4-group hash aggregate — THE whole-stage-codegen / partial-
    * aggregation benchmark. All nine measures are exact-integer: money
    * is per-row-rounded cents, discount/tax percents are small ints, so
    * disc-price (e4) and charge (e6) are integer products and every sum
    * is order-independent; averages are integer DIV (mirrored by the
    * oracle's //). The scan reads 7 columns with the date filter pushed
    * to parquet; the aggregate is map-side partial into 4 final groups.
    */
  private val qSqlTpchQ1: Q = (s, d) => {
    registerViews(s, d)
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT)
        |    AS sum_base_cents,
        |  CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100.0) AS BIGINT))) AS BIGINT)
        |    AS sum_disc_e4,
        |  CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100.0) AS BIGINT))
        |    * (100 + CAST(round(l_tax * 100.0) AS BIGINT))) AS BIGINT)
        |    AS sum_charge_e6,
        |  CAST(CAST(sum(l_quantity) AS BIGINT) DIV count(*) AS BIGINT) AS avg_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) DIV count(*)
        |    AS BIGINT) AS avg_price_cents,
        |  CAST(sum(CAST(round(l_discount * 100.0) AS BIGINT)) DIV count(*)
        |    AS BIGINT) AS avg_disc_e2,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** TPC-H Q6 (forecast revenue change): pure filter + global sum, the
    * predicate-pushdown benchmark — all three filters reach the parquet
    * row-group reader, the aggregate is a 1-row partial/final pair.
    * Revenue = Σ cents·disc_pct, exact e4-unit integers. One
    * dialect-portable text, registered for both engines via sqlKey
    * below — no second copy to drift.
    */
  private val tpchQ6Sql: String =
    """SELECT CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)
      |    * CAST(round(l_discount * 100.0) AS BIGINT)) AS BIGINT) AS revenue_e4
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24.0""".stripMargin

  /** TPC-H Q4/Q7/Q10/Q12/Q14 shapes, written once in dialect-portable
    * ANSI SQL: the SAME text runs through spark.sql and the DuckDB
    * oracle, so the check is pure engine-vs-engine semantics with zero
    * translation risk. Schema adaptations (this corpus has no
    * commitdate/receiptdate/shipmode): Q4's late-lineitem EXISTS
    * compares shipdate against orderdate+60d; Q12 buckets by
    * returnflag instead of shipmode; Q14 reports promo and total
    * revenue as separate exact-integer sums instead of a float
    * percentage. Money is per-row-rounded e4 integers throughout
    * (aggregation-order independent).
    *
    * Plan notes (the 100 TB shapes): Q4 decorrelates to a left-semi
    * join with the equi key + date residual; Q7 is the
    * multi-dimension-broadcast backbone with the pair filter pushed
    * below the aggregate; Q10 is fact⋈fact with a broadcast nation dim
    * and TakeOrderedAndProject top-20; Q12 and Q14 are two-table joins
    * with pushed date filters and conditional partial aggregation.
    */
  private val tpchQ4Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  private val tpchQ7Sql: String =
    """SELECT supp_nation, cust_nation, yr,
      |  CAST(sum(vol_e4) AS BIGINT) AS revenue_e4
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(year(l_shipdate) AS BIGINT) AS yr,
      |    CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0) AS BIGINT)
      |      AS vol_e4
      |  FROM lineitem
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN orders   ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  WHERE n1.n_name IN ('NATION_3', 'NATION_8', 'NATION_12')
      |    AND n2.n_name IN ('NATION_1', 'NATION_2', 'NATION_5', 'NATION_7')
      |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |) shipping
      |GROUP BY supp_nation, cust_nation, yr
      |ORDER BY supp_nation, cust_nation, yr""".stripMargin

  private val tpchQ10Sql: String =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0)
      |    AS BIGINT)) AS BIGINT) AS revenue_e4
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue_e4 DESC, c_custkey LIMIT 20""".stripMargin

  private val tpchQ12Sql: String =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  private val tpchQ14Sql: String =
    """SELECT
      |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN vol_e4 ELSE 0 END) AS BIGINT)
      |    AS promo_revenue_e4,
      |  CAST(sum(vol_e4) AS BIGINT) AS total_revenue_e4
      |FROM (
      |  SELECT p_type,
      |    CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0) AS BIGINT)
      |      AS vol_e4
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      |) pr""".stripMargin

  /** Q8 (national market share, adapted to this corpus's domains:
    * `p_type = 'ECONOMY'` stands in for the spec's three-word type,
    * `NATION_1` for BRAZIL, and the spec's float share ratio is
    * reported as the two exact e4-integer sums it divides — the Q14
    * discipline, so both engines agree bit-for-bit with no float
    * division). The widest join tree in the suite: lineitem ⋈ part ⋈
    * supplier ⋈ orders ⋈ customer ⋈ nation(cust) ⋈ region ⋈
    * nation(supp) — 8 relations, 7 joins, nation twice under different
    * roles. The 100 TB shape: the fact backbone is lineitem ⋈ orders;
    * part/supplier/customer/nation/region are all dimension-sized and
    * broadcast, with the selective `p_type` and region filters pushed
    * below their joins so the backbone is pre-filtered before the
    * widest fan-in — exactly the join-ordering workout CBO statistics
    * exist for (PlanSpec pins the broadcast + no-cartesian shape).
    */
  private val tpchQ8Sql: String =
    """SELECT yr,
      |  CAST(sum(CASE WHEN nation = 'NATION_1' THEN vol_e4 ELSE 0 END)
      |    AS BIGINT) AS nation_volume_e4,
      |  CAST(sum(vol_e4) AS BIGINT) AS total_volume_e4
      |FROM (
      |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, n2.n_name AS nation,
      |    CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0) AS BIGINT)
      |      AS vol_e4
      |  FROM lineitem
      |  JOIN part      ON p_partkey = l_partkey
      |  JOIN supplier  ON s_suppkey = l_suppkey
      |  JOIN orders    ON o_orderkey = l_orderkey
      |  JOIN customer  ON c_custkey = o_custkey
      |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |  JOIN region    ON n1.n_regionkey = r_regionkey
      |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  WHERE r_name = 'AMERICA'
      |    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |    AND p_type = 'ECONOMY'
      |) all_nations
      |GROUP BY yr
      |ORDER BY yr""".stripMargin

  /** Q13 (customer order-count distribution): left join preserving
    * order-less customers, two-level aggregation. (The reference
    * corpus has no o_comment, so the comment exclusion is omitted.)
    */
  private val tpchQ13Sql: String =
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey) c
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Q15 (top supplier): revenue view + scalar-subquery max — ties all
    * surface together (CTE + agg + scalar subquery + join).
    */
  private val tpchQ15Sql: String =
    """WITH rev AS (SELECT l_suppkey AS supplier_no,
      |    CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0)
      |      AS BIGINT)) AS BIGINT) AS total_e4
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_e4
      |FROM supplier JOIN rev ON s_suppkey = supplier_no
      |WHERE total_e4 = (SELECT max(total_e4) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  /** Q17 (small-quantity-order revenue): the correlated-aggregate
    * brand probe. The original's `l_quantity < 0.2·avg(quantity)`
    * float threshold is algebraically integerized to
    * `5·qty·count < sum` — same predicate on integer-valued
    * quantities, zero float-division parity risk.
    */
  private val tpchQ17Sql: String =
    """SELECT CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  count(*) AS n_lines
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#1'
      |  AND 5 * CAST(l_quantity AS BIGINT)
      |        * (SELECT count(*) FROM lineitem l2
      |           WHERE l2.l_partkey = p_partkey)
      |      < (SELECT CAST(sum(CAST(l2.l_quantity AS BIGINT)) AS BIGINT)
      |         FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin

  /** Q19 (disjunctive predicate revenue): three OR-branches of
    * brand×size×quantity conditions — the filter the optimizer must
    * keep sargable instead of exploding; revenue as exact e4 integers.
    */
  private val tpchQ19Sql: String =
    """SELECT CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0)
      |    AS BIGINT)) AS BIGINT) AS revenue_e4
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity >= 1 AND l_quantity <= 11)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
      |       AND l_quantity >= 10 AND l_quantity <= 20)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
      |       AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin

  /** Q21 (suppliers who kept the order waiting, adapted — no
    * commit/receipt dates in this corpus): the supplier shipping LAST
    * in a finished multi-supplier order. Correlated scalar max + a
    * decorrelated EXISTS — the multi-subquery fact-probe shape.
    */
  private val tpchQ21Sql: String =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier
      |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |WHERE o_orderstatus = 'F'
      |  AND l1.l_shipdate = (SELECT max(l2.l_shipdate) FROM lineitem l2
      |                       WHERE l2.l_orderkey = l1.l_orderkey)
      |  AND EXISTS (SELECT 1 FROM lineitem l3
      |              WHERE l3.l_orderkey = l1.l_orderkey
      |                AND l3.l_suppkey <> l1.l_suppkey)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin

  /** Q22 (lost customers, adapted — no phone prefixes): positive-
    * balance customers above the positive-balance average with no
    * orders. The float average is multiplied out to the portable
    * integer inequality cents·n_pos > total_pos_cents, so both engines
    * evaluate the identical exact predicate.
    */
  private val tpchQ22Sql: String =
    """SELECT count(*) AS numcust,
      |  CAST(sum(CAST(round(c_acctbal * 100.0) AS BIGINT)) AS BIGINT)
      |    AS totacctbal_cents
      |FROM customer
      |WHERE c_acctbal > 0.0
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |  AND CAST(round(c_acctbal * 100.0) AS BIGINT)
      |      * (SELECT count(*) FROM customer c2 WHERE c2.c_acctbal > 0.0)
      |    > (SELECT CAST(sum(CAST(round(c2.c_acctbal * 100.0) AS BIGINT))
      |         AS BIGINT) FROM customer c2 WHERE c2.c_acctbal > 0.0)""".stripMargin

  private def sqlKey(text: String): Q = (s, d) => {
    registerViews(s, d)
    s.sql(text)
  }

  /** Deterministic derived `partsupp` — the corpus ships no partsupp
    * parquet, but the five remaining TPC-H shapes (Q2/Q9/Q11/Q16/Q20)
    * are partsupp-centric, so both engines derive the SAME table from
    * the same rule: one row per distinct (l_partkey, l_suppkey) pair in
    * lineitem (restoring the real TPC-H FK property that every lineitem
    * matches exactly one partsupp row — the property Q9's composite-key
    * fact⋈fact join and Q20's availability-vs-shipped comparison
    * exercise), with availqty and supplycost as pure integer functions
    * of the keys (exact on both engines, no float parity risk). This
    * ONE text is both the Spark derivation and the oracle's CTE
    * (`oracleWithPartsupp`), so the rule cannot drift.
    */
  private val partsuppGenSql: String =
    """SELECT ps_partkey, ps_suppkey,
      |  CAST((ps_partkey * 7 + ps_suppkey * 13) % 9999 + 1 AS BIGINT)
      |    AS ps_availqty,
      |  CAST((ps_partkey * 31 + ps_suppkey * 17 + 7) % 100000 + 100 AS BIGINT)
      |    AS ps_supplycost_cents
      |FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
      |      FROM lineitem) pairs""".stripMargin

  /** Durable snapshot of the derived partsupp (the [[graft.ops
    * .DurableTable]] discipline shared with the graph edge list): the
    * distinct-pair scan over lineitem runs ONCE per dir and lands as a
    * versioned Parquet table — at 100 TB this is a one-time derived
    * asset downstream queries scan like any dimension, not a per-query
    * recomputation. Bench times the build as `_derive_partsupp`.
    */
  private val partsuppTable = new graft.ops.DurableTable("tpch_partsupp")

  /** Derivation counter, pinned run-once by PlanSpec (reads through the
    * durable table must not re-run the distinct-pair scan).
    */
  private[graft] def partsuppDerivations = partsuppTable.derivations

  private[graft] def materializePartsupp(s: SparkSession, d: String): Long =
    partsupp(s, d).count()

  private def partsupp(s: SparkSession, d: String): DataFrame =
    partsuppTable(s, d) { registerViews(s, d); s.sql(partsuppGenSql) }

  /** sqlKey + the derived partsupp registered as a view. */
  private def psKey(text: String): Q = (s, d) => {
    registerViews(s, d)
    partsupp(s, d).createOrReplaceTempView("partsupp")
    s.sql(text)
  }

  /** The oracle counterpart of [[psKey]]: the SAME query text with the
    * partsupp generation rule prepended as a CTE, so DuckDB computes
    * the identical derived table inline.
    */
  private def oracleWithPartsupp(text: String): String = {
    // fail LOUD at registry-build time on any text this splice can't
    // compose (lowercase `with`, leading comment, WITH RECURSIVE — the
    // last would silently yield `WITH partsupp AS (...), RECURSIVE ...`)
    // instead of shipping a syntactically-broken oracle to the driver
    require(text.startsWith("SELECT") ||
      (text.startsWith("WITH ") && !text.startsWith("WITH RECURSIVE")),
      s"oracleWithPartsupp cannot splice a CTE into: ${text.take(40)}...")
    if (text.startsWith("WITH "))
      "WITH partsupp AS (\n" + partsuppGenSql + "),\n" +
        text.substring("WITH ".length)
    else "WITH partsupp AS (\n" + partsuppGenSql + ")\n" + text
  }

  /** TPC-H Q2 (minimum-cost supplier), adapted to this corpus's columns
    * (no mfgr/address/phone/comment; acctbal reported as exact cents;
    * the size/type probe is `p_type = 'ECONOMY' AND p_size <= 15`). The
    * shape: dimension-chain join (part⋈partsupp⋈supplier⋈nation⋈region)
    * with a correlated min-subquery over the SAME region-restricted
    * partsupp — Catalyst decorrelates it to an aggregate + equi-join on
    * p_partkey, so at 100 TB the probe is two passes over the
    * region-filtered partsupp slice, never a per-row re-scan. The ORDER
    * BY carries a full tiebreak so the LIMIT cutoff is deterministic.
    */
  private val tpchQ2Sql: String =
    """WITH rs AS (
      |  SELECT s_suppkey, s_name,
      |    CAST(round(s_acctbal * 100.0) AS BIGINT) AS s_acctbal_cents, n_name
      |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE')
      |SELECT s_acctbal_cents, s_name, n_name, p_partkey, p_brand,
      |  ps_supplycost_cents
      |FROM part
      |JOIN partsupp ON p_partkey = ps_partkey
      |JOIN rs ON ps_suppkey = s_suppkey
      |WHERE p_type = 'ECONOMY' AND p_size <= 15
      |  AND ps_supplycost_cents = (
      |    SELECT min(ps2.ps_supplycost_cents)
      |    FROM partsupp ps2 JOIN rs rs2 ON ps2.ps_suppkey = rs2.s_suppkey
      |    WHERE ps2.ps_partkey = p_partkey)
      |ORDER BY s_acctbal_cents DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin

  /** TPC-H Q9 (product-type profit by nation and year): the widest
    * partsupp shape — lineitem joined to partsupp on the COMPOSITE
    * (partkey, suppkey) key plus part/supplier/orders/nation. Profit is
    * exact e4 integers: per-row-rounded revenue minus
    * supplycost_cents·100·qty. At 100 TB the backbone is lineitem ⋈
    * orders ⋈ partsupp (partsupp is lineitem's distinct pairs — fact-
    * sized, so that join shuffles on the composite key) with part/
    * supplier/nation broadcast and the `p_name LIKE 'red%'` filter
    * pushed below everything via the part join.
    */
  private val tpchQ9Sql: String =
    """SELECT nation, yr, CAST(sum(amount_e4) AS BIGINT) AS profit_e4
      |FROM (
      |  SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS yr,
      |    CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0) AS BIGINT)
      |      - ps_supplycost_cents * 100 * CAST(l_quantity AS BIGINT) AS amount_e4
      |  FROM lineitem
      |  JOIN part     ON p_partkey = l_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
      |  JOIN orders   ON o_orderkey = l_orderkey
      |  JOIN nation   ON s_nationkey = n_nationkey
      |  WHERE p_name LIKE 'red%'
      |) profit
      |GROUP BY nation, yr
      |ORDER BY nation, yr DESC""".stripMargin

  /** TPC-H Q11 (important stock): value-share HAVING against a scalar
    * subquery over the same nation-filtered slice. The share threshold
    * is integerized (`sum·2000 > total` ≡ share > 1/2000 — chosen so
    * BIGINT·2000 stays far from overflow at bench scale) so both
    * engines evaluate the identical exact predicate. Two passes over
    * the filtered partsupp⋈supplier slice — the grouped sum and the
    * broadcast scalar total — never a per-group re-aggregation.
    */
  private val tpchQ11Sql: String =
    """SELECT ps_partkey,
      |  CAST(sum(ps_supplycost_cents * ps_availqty) AS BIGINT) AS value_cents
      |FROM partsupp
      |JOIN supplier ON ps_suppkey = s_suppkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |WHERE n_name IN ('NATION_3', 'NATION_8')
      |GROUP BY ps_partkey
      |HAVING sum(ps_supplycost_cents * ps_availqty) * 2000 > (
      |  SELECT sum(ps_supplycost_cents * ps_availqty)
      |  FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE n_name IN ('NATION_3', 'NATION_8'))
      |ORDER BY value_cents DESC, ps_partkey""".stripMargin

  /** TPC-H Q16 (parts/supplier relationship): count-distinct suppliers
    * per (brand, type, size) with a NOT IN exclusion subquery (the
    * spec's complaint-comment suppliers, proxied here by negative
    * account balance — this corpus has no comments). The NOT IN list is
    * supplier-dimension-sized → broadcast anti-join; the distinct count
    * is a two-phase aggregate on (brand, type, size, suppkey). Full
    * ORDER BY tiebreak makes the LIMIT cutoff deterministic.
    */
  private val tpchQ16Sql: String =
    """SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
      |FROM partsupp JOIN part ON p_partkey = ps_partkey
      |WHERE p_brand <> 'Brand#1'
      |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
      |                         WHERE s_acctbal < 0.0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
      |LIMIT 100""".stripMargin

  /** TPC-H Q20 (potential part promotion): the nested-subquery probe —
    * suppliers in a region holding stock of a 'red%' part exceeding
    * half of what they shipped of it in 1997 (`availqty·2 > sum(qty)`,
    * integerized; coalesce makes never-shipped stock qualify, as in the
    * spec). Catalyst decorrelates the per-(part, supplier) shipped-qty
    * scalar into ONE grouped aggregate over the date-filtered lineitem
    * left-joined to the partsupp candidates — at 100 TB that is a
    * single filtered fact pass, not a probe per candidate.
    */
  private val tpchQ20Sql: String =
    """SELECT s_suppkey, s_name
      |FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT ps_suppkey FROM partsupp
      |  WHERE ps_partkey IN (SELECT p_partkey FROM part
      |                       WHERE p_name LIKE 'red%')
      |    AND ps_availqty * 2 > (
      |      SELECT coalesce(sum(CAST(l_quantity AS BIGINT)), 0)
      |      FROM lineitem
      |      WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
      |        AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'))
      |  AND s_nationkey IN (
      |    SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
      |    WHERE r_name = 'EUROPE')
      |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q3 shape through the SQL surface (same engine, SQL text in). */
  private val qSqlTpchQ3: Q = (s, d) => {
    registerViews(s, d)
    s.sql(
      """SELECT o_orderkey, o_orderdate,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT))
        |    AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'O'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue_cents DESC, o_orderkey LIMIT 20""".stripMargin)
  }

  /** TPC-H Q5 shape: six-table join (lineitem-orders-customer-supplier-
    * nation-region) with the local-supplier condition and a region
    * filter — the join-order workout: Catalyst plans the dimension chain
    * as broadcasts off the lineitem⋈orders backbone. Revenue summed as
    * per-row-rounded integer hundredths of a cent (exact under any
    * aggregation order, mirrored by the oracle).
    */
  private val qSqlTpchQ5: Q = (s, d) => {
    registerViews(s, d)
    s.sql(
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0)
        |    AS BIGINT)) AS BIGINT) AS revenue_e4
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name IN ('ASIA', 'EUROPE') AND o_orderstatus <> 'F'
        |GROUP BY n_name
        |ORDER BY revenue_e4 DESC, n_name""".stripMargin)
  }

  /** TPC-H Q18 shape (large-volume orders): IN over an aggregated
    * subquery — Catalyst plans the HAVING filter as a pre-aggregation
    * and the IN as a left-semi join, so the fact table is scanned twice
    * but never joined to itself row-wise. Quantities are integer-valued,
    * so the sums are exact under any order.
    */
  private val qSqlTpchQ18: Q = (s, d) => {
    registerViews(s, d)
    s.sql(
      """SELECT c_custkey, o_orderkey,
        |  CAST(sum(l_quantity) AS BIGINT) AS total_qty
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 120)
        |GROUP BY c_custkey, o_orderkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 100""".stripMargin)
  }

  /** Spark 4 VARIANT path for semi-structured data: `parse_json` once
    * into the binary variant encoding, typed `variant_get` extraction,
    * then aggregation — replacing repeated string re-parsing
    * (get_json_object). Parse-once is STRUCTURAL, not left to common
    * subexpression elimination: the inner aggregate groups by the parsed
    * value itself, so the parse appears exactly once in the plan
    * (PlanSpec pins one parseJson), and the outer rollup derives the
    * band from the already-grouped value — also the cheaper shape at
    * 100 TB, since the partial aggregate collapses rows before the band
    * projection runs.
    */
  private val qVariant: Q = (s, d) => {
    registerViews(s, d)
    s.sql(
      """SELECT k DIV 10 AS k_band,
        |  CAST(sum(cnt) AS BIGINT) AS n,
        |  CAST(sum(sk) AS BIGINT) AS sum_k
        |FROM (SELECT k, count(*) AS cnt, sum(k) AS sk
        |      FROM (SELECT variant_get(parse_json(props), '$.k', 'int') AS k
        |            FROM events)
        |      GROUP BY k)
        |GROUP BY k_band ORDER BY k_band""".stripMargin)
  }

  /** Scalar subquery: orders above the average order value. */
  private val qSqlScalarSubquery: Q = (s, d) => {
    registerViews(s, d)
    s.sql(
      """SELECT o_orderkey, CAST(round(o_totalprice * 100.0) AS BIGINT) AS price_cents
        |FROM orders
        |WHERE CAST(round(o_totalprice * 100.0) AS BIGINT) >
        |  (SELECT avg(CAST(round(o_totalprice * 100.0) AS BIGINT)) FROM orders)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Correlated EXISTS with an inner aggregate threshold. */
  private val qSqlCorrelated: Q = (s, d) => {
    registerViews(s, d)
    s.sql(
      """SELECT c_custkey, c_name FROM customer
        |WHERE (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) >= 15
        |ORDER BY c_custkey""".stripMargin)
  }

  /** CTE chain through the SQL surface. */
  private val qSqlCte: Q = (s, d) => {
    registerViews(s, d)
    s.sql(
      """WITH big_orders AS (
        |  SELECT o_orderkey, o_custkey FROM orders WHERE o_totalprice > 200000.0),
        |per_customer AS (
        |  SELECT o_custkey, count(*) AS n_big FROM big_orders GROUP BY o_custkey)
        |SELECT c.c_custkey, p.n_big
        |FROM customer c JOIN per_customer p ON c.c_custkey = p.o_custkey
        |ORDER BY c.c_custkey""".stripMargin)
  }

  /** Recursive CTE (Spark 4 WITH RECURSIVE): a month spine from min to
    * max order month, left-joined to per-month order counts — the gap-
    * free time-series shape reporting queries need. The recursion depth
    * is the number of months (driver-side iterations over a tiny spine),
    * not data-sized — and the stop bound is computed ONCE and CARRIED
    * through the recursion as a column: a scalar subquery in the step's
    * WHERE re-scans the fact table once per iteration (measured 9.3 s
    * at sf0.1 — ~80 full-orders scans — vs one bounds scan).
    */
  private val qSqlRecursive: Q = (s, d) => {
    registerViews(s, d)
    s.sql(
      """WITH RECURSIVE bounds AS (
        |  SELECT date_trunc('month', min(o_orderdate)) AS lo,
        |         date_trunc('month', max(o_orderdate)) AS hi FROM orders),
        |spine(m, hi) AS (
        |  SELECT lo, hi FROM bounds
        |  UNION ALL
        |  SELECT m + INTERVAL 1 MONTH, hi FROM spine WHERE m < hi
        |)
        |SELECT m AS month_start, count(o_orderkey) AS n_orders
        |FROM spine LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
        |GROUP BY m ORDER BY m""".stripMargin)
  }

  /** Correlated LATERAL subquery: per-customer argmax-row (top order by
    * price) — Catalyst rewrites DomainJoin-decorrelatable laterals; the
    * per-group-LIMIT shape is the one windowed rank also covers, here in
    * its SQL-native form.
    */
  private val qSqlLateral: Q = (s, d) => {
    registerViews(s, d)
    s.sql(
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
        |ORDER BY c.c_custkey""".stripMargin)
  }

  /** Ordered string aggregation (Spark 4 listagg ≡ DuckDB string_agg):
    * the per-key event-type trail, deterministic via the WITHIN GROUP
    * ordering on a unique (ts, event_id) pair.
    */
  private val qStringAgg: Q = (s, d) => {
    registerViews(s, d)
    s.sql(
      """SELECT user_id,
        |  listagg(event_type, ',') WITHIN GROUP (ORDER BY ts, event_id) AS type_trail
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
  }

  /** Pivot: per-user event_type counts as fixed columns. */
  private val qPivot: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("user_id"))

  /** Exact interpolated percentiles per group (Spark `percentile` ≡
    * DuckDB `quantile_cont`).
    */
  private val qPercentile: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"))
      .orderBy(col("l_returnflag"))

  /** Fixed-width histogram over event values. */
  private val qHistogram: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("bucket", (floor(col("value") / 5.0) * 5.0))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))

  /** Salted skew join — result must equal the plain inner join. */
  private val qJoinSalted: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val sup = Tables.supplier(s, d)
    graft.ops.Skew.saltedJoin(
        li.select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey").as("s_suppkey")),
        sup, "s_suppkey",
        col("l_orderkey") * 8 + col("l_linenumber"), salts = 8)
      .select(col("l_orderkey"), col("l_linenumber"), col("s_name"))
  }

  /** Generator/UDTF shape: one row per token. */
  private val qExplode: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .orderBy(col("doc_id"), col("token"))

  private val qDistinct: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"))
      .distinct()
      .orderBy(col("user_id"), col("event_type"))

  /** SQL-text window surface (named WINDOW clause, running frame +
    * whole-partition frame + rank) in dialect-portable ANSI — the same
    * text runs through spark.sql and DuckDB, covering the windows-in-SQL
    * path the DataFrame window keys can't (parser + named-window
    * resolution + frame defaulting must agree engine-to-engine).
    */
  private val sqlWindowSql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(row_number() OVER o AS INT) AS rn,
      |  CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) OVER w
      |    AS BIGINT) AS run_cents,
      |  CAST(max(CAST(round(o_totalprice * 100.0) AS BIGINT))
      |    OVER (PARTITION BY o_custkey) AS BIGINT) AS max_cents
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING),
      |  o AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, rn""".stripMargin

  /** GROUP BY ALL — the dialect-convergent shorthand (group by every
    * non-aggregate select item) that Spark 4 and DuckDB both parse:
    * ONE SQL text runs verbatim on both engines, so the key pins the
    * parsers' agreement on which items are grouping keys.
    */
  private val sqlGroupByAllSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
      |    AS sum_cents
      |FROM orders GROUP BY ALL
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  /** ORDER BY ALL — the dialect-portable total-order shorthand (Spark 4
    * and DuckDB agree on left-to-right column order semantics); the
    * projection is chosen so ALL yields a unique total order.
    */
  private val sqlOrderByAllSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT)
      |    AS sum_cents
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY ALL""".stripMargin

  /** DuckDB/Postgres `DISTINCT ON` — first row per key under an explicit
    * order — which Spark SQL lacks as syntax: the translation is a
    * row_number window over (key, fully tie-broken order) with rn = 1,
    * which Spark plans as WindowGroupLimit (rank pushed below the
    * exchange, never a full per-group sort+discard). The oracle runs the
    * NATIVE `DISTINCT ON` syntax, pinning the dialect mapping exactly.
    */
  private val sqlDistinctOnSparkSql: String =
    """SELECT o_custkey, last_date, last_orderkey FROM (
      |  SELECT o_custkey, o_orderdate AS last_date,
      |    o_orderkey AS last_orderkey,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders) WHERE rn = 1
      |ORDER BY o_custkey""".stripMargin

  /** Inline VALUES table joined against a fact — the literal seed-table
    * idiom (tier mappings, feature flags, category rollups shipped in
    * the query text). Same text both engines: the parser must agree on
    * `VALUES ... AS v(cols)` derived-table aliasing.
    */
  private val sqlValuesSql: String =
    """SELECT v.tier, count(*) AS n_cust,
      |  CAST(sum(CAST(round(c_acctbal * 100.0) AS BIGINT)) AS BIGINT)
      |    AS bal_cents
      |FROM customer
      |JOIN (VALUES ('AUTOMOBILE', 'retail'), ('MACHINERY', 'industrial'),
      |             ('BUILDING', 'industrial'), ('FURNITURE', 'retail'),
      |             ('HOUSEHOLD', 'retail')) AS v(seg, tier)
      |  ON c_mktsegment = v.seg
      |GROUP BY v.tier ORDER BY v.tier""".stripMargin

  /** SQL PIVOT through Spark's parser (the relational-pivot syntax path
    * the DataFrame `q_pivot` key can't reach); DuckDB's PIVOT grammar
    * differs, so the oracle states the same contract as conditional
    * aggregation — empty cells are NULL on both engines.
    */
  private val qSqlPivot: Q = (s, d) => {
    registerViews(s, d)
    s.sql(
      """SELECT * FROM (
        |  SELECT o_orderpriority AS prio, o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents
        |  FROM orders)
        |PIVOT (sum(cents) FOR st IN ('O' AS o, 'F' AS f, 'P' AS p))
        |ORDER BY prio""".stripMargin)
  }

  /** DuckDB/Snowflake `QUALIFY` — post-window filtering — which Spark
    * SQL lacks as syntax: the translation is the windowed subquery with
    * the predicate on the outer block (Spark plans it as
    * WindowGroupLimit for rank-style predicates — the filter is pushed
    * below the exchange, never a full sort+discard). The oracle runs
    * DuckDB's NATIVE QUALIFY, pinning the dialect mapping exactly (the
    * q_sql_distinct_on discipline).
    */
  private val sqlQualifySparkSql: String =
    """SELECT o_custkey, o_orderkey, cents FROM (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents,
      |    rank() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      |  FROM orders) WHERE rnk <= 2
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Aggregate FILTER clause — the ANSI per-aggregate predicate both
    * engines parse identically (one grouped scan replaces N filtered
    * subqueries; the conditional-aggregation rewrite `q_cond_agg`
    * states as CASE is here first-class syntax). Same text both
    * engines; an empty filtered group yields NULL on both.
    */
  private val sqlFilterClauseSql: String =
    """SELECT o_orderpriority AS prio, count(*) AS n,
      |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
      |  CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT))
      |    FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS cents_f
      |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin

  /** SQL UNPIVOT through Spark's parser — the wide→long melt syntax
    * (the inverse of q_sql_pivot over the same status columns; the
    * DataFrame `q_unpivot` key reaches the same plan via the melt
    * API). DuckDB's UNPIVOT grammar differs, so the oracle states the
    * identical contract as a UNION ALL melt; both engines drop NULL
    * cells (Spark's default EXCLUDE NULLS ≡ the oracle's IS NOT NULL).
    */
  private val qSqlUnpivot: Q = (s, d) => {
    registerViews(s, d)
    s.sql(
      """SELECT prio, st, cents FROM (
        |  SELECT o_orderpriority AS prio,
        |    CAST(sum(CASE WHEN o_orderstatus = 'O'
        |      THEN CAST(round(o_totalprice * 100.0) AS BIGINT) END)
        |      AS BIGINT) AS o,
        |    CAST(sum(CASE WHEN o_orderstatus = 'F'
        |      THEN CAST(round(o_totalprice * 100.0) AS BIGINT) END)
        |      AS BIGINT) AS f,
        |    CAST(sum(CASE WHEN o_orderstatus = 'P'
        |      THEN CAST(round(o_totalprice * 100.0) AS BIGINT) END)
        |      AS BIGINT) AS p
        |  FROM orders GROUP BY 1)
        |UNPIVOT (cents FOR st IN (o, f, p))
        |ORDER BY prio, st""".stripMargin)
  }

  val registry: Map[String, Q] = Map(
    "q_sql_unpivot" -> qSqlUnpivot,
    "q_sql_filter_clause" -> sqlKey(sqlFilterClauseSql),
    "q_sql_qualify" -> sqlKey(sqlQualifySparkSql),
    "q_sql_groupby_all" -> sqlKey(sqlGroupByAllSql),
    "q_sql_order_by_all" -> sqlKey(sqlOrderByAllSql),
    "q_sql_distinct_on" -> sqlKey(sqlDistinctOnSparkSql),
    "q_sql_values" -> sqlKey(sqlValuesSql),
    "q_sql_pivot" -> qSqlPivot,
    "q_sql_window" -> sqlKey(sqlWindowSql),
    "q_sql_tpch_q1" -> qSqlTpchQ1,
    "q_sql_tpch_q2" -> psKey(tpchQ2Sql),
    "q_sql_tpch_q9" -> psKey(tpchQ9Sql),
    "q_sql_tpch_q11" -> psKey(tpchQ11Sql),
    "q_sql_tpch_q16" -> psKey(tpchQ16Sql),
    "q_sql_tpch_q20" -> psKey(tpchQ20Sql),
    "q_sql_tpch_q4" -> sqlKey(tpchQ4Sql),
    "q_sql_tpch_q6" -> sqlKey(tpchQ6Sql),
    "q_sql_tpch_q7" -> sqlKey(tpchQ7Sql),
    "q_sql_tpch_q8" -> sqlKey(tpchQ8Sql),
    "q_sql_tpch_q10" -> sqlKey(tpchQ10Sql),
    "q_sql_tpch_q12" -> sqlKey(tpchQ12Sql),
    "q_sql_tpch_q13" -> sqlKey(tpchQ13Sql),
    "q_sql_tpch_q14" -> sqlKey(tpchQ14Sql),
    "q_sql_tpch_q15" -> sqlKey(tpchQ15Sql),
    "q_sql_tpch_q17" -> sqlKey(tpchQ17Sql),
    "q_sql_tpch_q19" -> sqlKey(tpchQ19Sql),
    "q_sql_tpch_q21" -> sqlKey(tpchQ21Sql),
    "q_sql_tpch_q22" -> sqlKey(tpchQ22Sql),
    "q_sql_tpch_q3" -> qSqlTpchQ3,
    "q_sql_tpch_q5" -> qSqlTpchQ5,
    "q_sql_tpch_q18" -> qSqlTpchQ18,
    "q_variant" -> qVariant,
    "q_sql_scalar_subquery" -> qSqlScalarSubquery,
    "q_sql_correlated" -> qSqlCorrelated,
    "q_sql_cte" -> qSqlCte,
    "q_sql_recursive" -> qSqlRecursive,
    "q_string_agg" -> qStringAgg,
    "q_sql_lateral" -> qSqlLateral,
    "q_pivot" -> qPivot,
    "q_percentile" -> qPercentile,
    "q_histogram" -> qHistogram,
    "q_join_salted" -> qJoinSalted,
    "q_explode" -> qExplode,
    "q_distinct" -> qDistinct,
  )

  val oracle: Map[String, String] = Map(
    "q_sql_filter_clause" -> sqlFilterClauseSql,
    "q_sql_qualify" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents
        |FROM orders
        |QUALIFY rank() OVER (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey) <= 2
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_sql_unpivot" ->
      """WITH w AS (SELECT o_orderpriority AS prio,
        |    CAST(sum(CASE WHEN o_orderstatus = 'O'
        |      THEN CAST(round(o_totalprice * 100.0) AS BIGINT) END)
        |      AS BIGINT) AS o,
        |    CAST(sum(CASE WHEN o_orderstatus = 'F'
        |      THEN CAST(round(o_totalprice * 100.0) AS BIGINT) END)
        |      AS BIGINT) AS f,
        |    CAST(sum(CASE WHEN o_orderstatus = 'P'
        |      THEN CAST(round(o_totalprice * 100.0) AS BIGINT) END)
        |      AS BIGINT) AS p
        |  FROM orders GROUP BY 1),
        |m AS (SELECT prio, 'o' AS st, o AS cents FROM w
        |  UNION ALL SELECT prio, 'f', f FROM w
        |  UNION ALL SELECT prio, 'p', p FROM w)
        |SELECT prio, st, cents FROM m WHERE cents IS NOT NULL
        |ORDER BY prio, st""".stripMargin,
    "q_sql_groupby_all" -> sqlGroupByAllSql,
    "q_sql_order_by_all" -> sqlOrderByAllSql,
    "q_sql_distinct_on" ->
      """SELECT DISTINCT ON (o_custkey) o_custkey,
        |  o_orderdate AS last_date, o_orderkey AS last_orderkey
        |FROM orders
        |ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC""".stripMargin,
    "q_sql_values" -> sqlValuesSql,
    "q_sql_pivot" ->
      """SELECT o_orderpriority AS prio,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O'
        |    THEN CAST(round(o_totalprice * 100.0) AS BIGINT) END)
        |    AS BIGINT) AS o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F'
        |    THEN CAST(round(o_totalprice * 100.0) AS BIGINT) END)
        |    AS BIGINT) AS f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P'
        |    THEN CAST(round(o_totalprice * 100.0) AS BIGINT) END)
        |    AS BIGINT) AS p
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    "q_sql_window" -> sqlWindowSql,
    "q_sql_tpch_q2" -> oracleWithPartsupp(tpchQ2Sql),
    "q_sql_tpch_q9" -> oracleWithPartsupp(tpchQ9Sql),
    "q_sql_tpch_q11" -> oracleWithPartsupp(tpchQ11Sql),
    "q_sql_tpch_q16" -> oracleWithPartsupp(tpchQ16Sql),
    "q_sql_tpch_q20" -> oracleWithPartsupp(tpchQ20Sql),
    "q_sql_tpch_q4" -> tpchQ4Sql,
    "q_sql_tpch_q7" -> tpchQ7Sql,
    "q_sql_tpch_q8" -> tpchQ8Sql,
    "q_sql_tpch_q10" -> tpchQ10Sql,
    "q_sql_tpch_q12" -> tpchQ12Sql,
    "q_sql_tpch_q13" -> tpchQ13Sql,
    "q_sql_tpch_q14" -> tpchQ14Sql,
    "q_sql_tpch_q15" -> tpchQ15Sql,
    "q_sql_tpch_q17" -> tpchQ17Sql,
    "q_sql_tpch_q19" -> tpchQ19Sql,
    "q_sql_tpch_q21" -> tpchQ21Sql,
    "q_sql_tpch_q22" -> tpchQ22Sql,
    "q_sql_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT)
        |    AS sum_base_cents,
        |  CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100.0) AS BIGINT))) AS BIGINT)
        |    AS sum_disc_e4,
        |  CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100.0) AS BIGINT))
        |    * (100 + CAST(round(l_tax * 100.0) AS BIGINT))) AS BIGINT)
        |    AS sum_charge_e6,
        |  CAST(CAST(sum(l_quantity) AS BIGINT) // count(*) AS BIGINT) AS avg_qty,
        |  CAST(CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT)
        |    // count(*) AS BIGINT) AS avg_price_cents,
        |  CAST(CAST(sum(CAST(round(l_discount * 100.0) AS BIGINT)) AS BIGINT)
        |    // count(*) AS BIGINT) AS avg_disc_e2,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_sql_tpch_q6" -> tpchQ6Sql,
    "q_variant" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) // 10 AS k_band,
        |  count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k
        |FROM events
        |GROUP BY k_band ORDER BY k_band""".stripMargin,
    "q_sql_tpch_q18" ->
      """SELECT c_custkey, o_orderkey,
        |  CAST(sum(l_quantity) AS BIGINT) AS total_qty
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 120)
        |GROUP BY c_custkey, o_orderkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 100""".stripMargin,
    "q_sql_tpch_q5" ->
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0)
        |    AS BIGINT)) AS BIGINT) AS revenue_e4
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name IN ('ASIA', 'EUROPE') AND o_orderstatus <> 'F'
        |GROUP BY n_name
        |ORDER BY revenue_e4 DESC, n_name""".stripMargin,
    "q_sql_tpch_q3" ->
      """SELECT o_orderkey, o_orderdate,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT))
        |    AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'O'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue_cents DESC, o_orderkey LIMIT 20""".stripMargin,
    "q_sql_scalar_subquery" ->
      """SELECT o_orderkey, CAST(round(o_totalprice * 100.0) AS BIGINT) AS price_cents
        |FROM orders
        |WHERE CAST(round(o_totalprice * 100.0) AS BIGINT) >
        |  (SELECT avg(CAST(round(o_totalprice * 100.0) AS BIGINT)) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "q_sql_correlated" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) >= 15
        |ORDER BY c_custkey""".stripMargin,
    "q_sql_cte" ->
      """WITH big_orders AS (
        |  SELECT o_orderkey, o_custkey FROM orders WHERE o_totalprice > 200000.0),
        |per_customer AS (
        |  SELECT o_custkey, count(*) AS n_big FROM big_orders GROUP BY o_custkey)
        |SELECT c.c_custkey, p.n_big
        |FROM customer c JOIN per_customer p ON c.c_custkey = p.o_custkey
        |ORDER BY c.c_custkey""".stripMargin,
    "q_sql_recursive" ->
      """WITH RECURSIVE bounds AS (
        |  SELECT date_trunc('month', min(o_orderdate)) AS lo,
        |         date_trunc('month', max(o_orderdate)) AS hi FROM orders),
        |spine(m, hi) AS (
        |  SELECT lo, hi FROM bounds
        |  UNION ALL
        |  SELECT m + INTERVAL 1 MONTH, hi FROM spine WHERE m < hi
        |)
        |SELECT m AS month_start, count(o_orderkey) AS n_orders
        |FROM spine LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
        |GROUP BY m ORDER BY m""".stripMargin,
    "q_sql_lateral" ->
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
        |ORDER BY c.c_custkey""".stripMargin,
    "q_string_agg" ->
      """SELECT user_id,
        |  string_agg(event_type, ',' ORDER BY ts, event_id) AS type_trail
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_histogram" ->
      """SELECT floor(value / 5.0) * 5.0 AS bucket, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_join_salted" ->
      """SELECT l_orderkey, l_linenumber, s_name
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_explode" ->
      """SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |FROM documents ORDER BY doc_id, token""".stripMargin,
    "q_distinct" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
  )
}
