package graft.graph

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Property-graph schema (SURVEY.md §1.6 Spark mapping).
  *
  * The reference stores a schema-flexible property graph in FalkorDB
  * (`/root/reference/api/graph.py:243-267` creates nodes with a label set and
  * an open property map). We model it as two DataFrames:
  *
  *  - `nodes`: stable long `id` (public API surface — clients send IDs back,
  *    `api/index.py:277-288`), multi-label `labels` array
  *    (every entity also gets `Searchable`, `api/graph.py:250`), the fixed
  *    typed columns the reference actually uses (§1.2), and a string map
  *    `props` for the open tail (`SET c += $props`, `api/graph.py:253`).
  *  - `edges`: `(src, dst, type)` plus the edge properties the reference
  *    uses: `line`/`text` on CALLS (`api/graph.py:500-516`), `queries`/
  *    `params` arrays on commit PARENT/CHILD edges
  *    (`api/git_utils/git_graph.py:116-141`), and an open `props` map.
  *
  * `coverage_precentage` is misspelled on purpose — the misspelling is the
  * reference's public property name (`api/graph.py:471-476`).
  *
  * Scale: both tables are plain columnar DataFrames; at 100 TB nodes
  * partition by primary label and edges bucket by `src` (and a `dst`-keyed
  * copy or sorted projection for incoming probes — SURVEY §4).
  */
object GraphSchema {

  val SEARCHABLE = "Searchable"

  val nodeSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("labels", ArrayType(StringType), nullable = false),
    StructField("name", StringType),
    StructField("path", StringType),
    StructField("ext", StringType),
    StructField("src_start", LongType),
    StructField("src_end", LongType),
    StructField("doc", StringType),
    StructField("coverage_precentage", DoubleType), // sic — reference API surface
    StructField("props", MapType(StringType, StringType))))

  val edgeSchema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("line", LongType),
    StructField("text", StringType),
    StructField("queries", ArrayType(StringType)),
    StructField("params", ArrayType(StringType)),
    StructField("props", MapType(StringType, StringType))))

  def emptyNodes(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], nodeSchema)

  def emptyEdges(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], edgeSchema)

  def empty(spark: SparkSession): PropertyGraph =
    PropertyGraph(emptyNodes(spark), emptyEdges(spark), Some(0L),
      nodesKnownEmpty = true, edgesKnownEmpty = true)

  /** Align a DataFrame to `schema` by adding missing nullable columns and
    * casting, so unions stay positionally safe. */
  def conform(df: DataFrame, schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = schema.fields.map { f =>
      byName.get(f.name) match {
        case Some(dt) if dt == f.dataType => col(f.name) // skip no-op casts
        case Some(_) => col(f.name).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }
}

/** An immutable snapshot of one repo graph. Mutations (graft.graph.Mutations)
  * are pure functions PropertyGraph => PropertyGraph.
  *
  * `nextIdHint` is the highest node ID ever assigned in this snapshot's
  * mutation chain (None when unknown, e.g. freshly loaded from disk). It
  * lets ID assignment skip a full `max(id)` scan per mutation; IDs stay
  * monotone across deletes, which keeps op-log replay deterministic.
  *
  * `nodesKnownEmpty`/`edgesKnownEmpty` are driver-side bulk-load hints:
  * true only when the table is provably empty (fresh graph, nothing added
  * yet). Mutations use them to skip upsert joins against tables Catalyst
  * cannot know are empty (they are RDD-backed). Conservative: false merely
  * disables the fast path. */
final case class PropertyGraph(nodes: DataFrame, edges: DataFrame,
    nextIdHint: Option[Long] = None,
    nodesKnownEmpty: Boolean = false, edgesKnownEmpty: Boolean = false) {
  def cache(): PropertyGraph =
    copy(nodes = nodes.cache(), edges = edges.cache())
  /** Cut lineage after iterated rewrites (mutation chains grow plans). */
  def checkpointed(): PropertyGraph =
    copy(nodes = nodes.localCheckpoint(true), edges = edges.localCheckpoint(true))
}

/** A graph held on the driver as rows in the stored schemas, for
  * [[GraphStore.save]] to write without a Spark job: each non-empty batch
  * of `nodeBatches` becomes one node file, its rows in the order given, and
  * `nextId` is the ID high-water mark (see [[PropertyGraph]]). */
final case class LocalGraph(nodeBatches: Seq[Seq[Row]], edges: Seq[Row], nextId: Long)
