package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the disjoint union of per-family registries
  * (graft.queries.*), built once; each key pairs with DuckDB-runnable
  * ANSI SQL in `oracleSql` (keys without SQL get the driver's weaker
  * rows-only check).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q3-shaped: revenue per urgent open order — scan+filter+join+agg
    * +topk in one plan (broadcastable dims, partial aggregation, top-k via
    * TakeOrderedAndProject).
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val orders = graft.model.Tables.orders(spark, d)
    val lineitem = graft.model.Tables.lineitem(spark, d)
    lineitem
      .join(orders.filter(col("o_orderstatus") === "O"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(20)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = {
    import graft.queries._
    disjointUnion("query", Seq(RefOps.registry, Relational.registry,
      LlmDedupOps.registry, LlmSimOps.registry, LlmModelOps.registry,
      LlmTextOps.registry, LlmCurationOps.registry, StreamShapes.registry,
      ExtOps.registry, CurateOps.registry, InsightOps.registry,
      StatOps.registry, SeriesOps.registry, FeatureOps.registry,
      EngageOps.registry, GraphOps.registry, SqlSurface.registry))
  }

  /** The durable-table materializers by `_derive_*` name, in dependency
    * order. Each derives its table once per JVM
    * ([[graft.ops.DurableTable]]) and returns its row count, so a
    * first call is the honest derivation cost and later calls read
    * through.
    */
  val derives: ListMap[String, (SparkSession, String) => Long] = ListMap(
    "_derive_copurchase" -> graft.queries.GraphOps.materializeEdges _,
    "_derive_oriented_edges" -> graft.queries.GraphOps.materializeOriented _,
    "_derive_dedup_clusters" -> graft.queries.LlmDedupOps.materializeClusters _,
    "_derive_match_pairs" -> graft.queries.LlmSimOps.materializeMatchPairs _,
    "_derive_ann_index" -> graft.queries.LlmSimOps.materializeAnnIndex _,
    "_derive_partsupp" -> graft.queries.SqlSurface.materializePartsupp _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  val oracleSql: Map[String, String] = {
    import graft.queries._
    disjointUnion("oracle", Seq(RefOps.oracle, Relational.oracle,
      LlmDedupOps.oracle, LlmSimOps.oracle, LlmModelOps.oracle,
      LlmTextOps.oracle, LlmCurationOps.oracle, StreamShapes.oracle,
      ExtOps.oracle, CurateOps.oracle, InsightOps.oracle, StatOps.oracle,
      SeriesOps.oracle, FeatureOps.oracle, EngageOps.oracle,
      GraphOps.oracle, SqlSurface.oracle))
  }

  /** The union of per-family maps; a key defined by two families fails
    * here instead of one silently shadowing the other. */
  private[graft] def disjointUnion[V](what: String,
      families: Seq[Map[String, V]]): Map[String, V] = {
    val dup = families.flatMap(_.keys).groupBy(identity).collect {
      case (k, ks) if ks.size > 1 => k
    }
    require(dup.isEmpty,
      s"$what keys defined by two families: ${dup.toSeq.sorted.mkString(", ")}")
    families.reduce(_ ++ _)
  }
}
