package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.graph.{GraphSchema, PropertyGraph}
import graft.util.{Resident, Tables}

/** A property graph derived deterministically from the TPC-H-ish testdata,
  * used to exercise the graph operator surface (SURVEY.md §2.2–§2.3)
  * against DuckDB-checkable oracles.
  *
  * Node ID spaces are disjoint offsets so IDs are pure functions of the
  * source keys (reproducible in SQL):
  *   Customer = c_custkey, Order = 1e6 + o_orderkey,
  *   Part = 2e6 + p_partkey, Supplier = 3e6 + s_suppkey.
  * Edges:
  *   (Customer)-[:PLACED]->(Order)
  *   (Order)-[:CONTAINS {line}]->(Part)        from lineitem
  *   (Supplier)-[:SUPPLIES]->(Part)            distinct from lineitem
  *   (Order)-[:NEXT]->(Order)                  same customer, next by
  *                                             (o_orderdate, o_orderkey)
  *
  * This is the *bulk load* ingest path: plain projections + unions, no
  * per-entity round trips. Scale: each edge table is one narrow projection
  * of a fact table; NEXT is one window over orders partitioned by customer.
  */
object TpchGraph {
  val OrderBase = 1000000L
  val PartBase = 2000000L
  val SupplierBase = 3000000L

  // One resident graph per (session, dir): the reference's graph lives in
  // FalkorDB memory across queries, so a query paying a full rebuild of the
  // node/edge tables every call is the wrong cost model. First build per
  // dir caches both tables; later queries scan the cached columnar blocks.
  private val resident = Resident.memo[PropertyGraph] { g =>
    g.nodes.unpersist(blocking = false)
    g.edges.unpersist(blocking = false)
  }

  def build(spark: SparkSession, d: String): PropertyGraph =
    resident(spark, d)(buildUncached(spark, d).cache())

  def buildUncached(spark: SparkSession, d: String): PropertyGraph = {
    import spark.implicits._
    val cust = Tables.customer(spark, d).select(
      $"c_custkey".cast("long").as("id"),
      array(lit("Customer"), lit(GraphSchema.SEARCHABLE)).as("labels"),
      $"c_name".as("name"))
    val ord = Tables.orders(spark, d).select(
      ($"o_orderkey" + OrderBase).cast("long").as("id"),
      array(lit("Order"), lit(GraphSchema.SEARCHABLE)).as("labels"),
      concat(lit("Order#"), $"o_orderkey").as("name"))
    val part = Tables.part(spark, d).select(
      ($"p_partkey" + PartBase).cast("long").as("id"),
      array(lit("Part"), lit(GraphSchema.SEARCHABLE)).as("labels"),
      $"p_name".as("name"))
    val supp = Tables.supplier(spark, d).select(
      ($"s_suppkey" + SupplierBase).cast("long").as("id"),
      array(lit("Supplier"), lit(GraphSchema.SEARCHABLE)).as("labels"),
      $"s_name".as("name"))
    val nodes = Seq(cust, ord, part, supp)
      .map(GraphSchema.conform(_, GraphSchema.nodeSchema))
      .reduce(_ unionByName _)

    val o = Tables.orders(spark, d)
    val li = Tables.lineitem(spark, d)
    val placed = o.select($"o_custkey".cast("long").as("src"),
      ($"o_orderkey" + OrderBase).cast("long").as("dst"),
      lit("PLACED").as("type"))
    val contains = li.select(($"l_orderkey" + OrderBase).cast("long").as("src"),
      ($"l_partkey" + PartBase).cast("long").as("dst"),
      lit("CONTAINS").as("type"), $"l_linenumber".cast("long").as("line"))
    val supplies = li.select(($"l_suppkey" + SupplierBase).cast("long").as("src"),
      ($"l_partkey" + PartBase).cast("long").as("dst")).distinct()
      .withColumn("type", lit("SUPPLIES"))
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val next = o.select($"o_custkey", $"o_orderkey", $"o_orderdate")
      .withColumn("nxt", lead($"o_orderkey", 1).over(w))
      .filter($"nxt".isNotNull)
      .select(($"o_orderkey" + OrderBase).cast("long").as("src"),
        ($"nxt" + OrderBase).cast("long").as("dst"), lit("NEXT").as("type"))
    val edges = Seq(placed, contains, supplies, next)
      .map(GraphSchema.conform(_, GraphSchema.edgeSchema))
      .reduce(_ unionByName _)
    PropertyGraph(nodes, edges)
  }
}
