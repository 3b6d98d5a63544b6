package graft.graph

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The reads the serving endpoints make on one repo ([[GraphStore.view]]).
  * Two implementations answer them alike: the resident [[ServingIndex]] of a
  * repo within the store's guard, and [[SnapshotReader]], the DataFrame
  * queries over the stored snapshot, for a repo over it. Callers never learn
  * which one they hold.
  *
  * Node rows carry the `GraphSchema.nodeSchema` columns (completions at
  * least `id`, `name` and `path`); edges in sub-graphs and neighbour lists
  * are (type, src, dst).
  */
trait GraphReader {

  /** `graph_entities`: the first `limit` rows of [[GraphQueries.getSubGraph]]
    * as the nodes they touch and the edges they carry. */
  def subGraph(limit: Int): (IndexedSeq[Row], IndexedSeq[(String, Long, Long)])

  /** `get_neighbors`: the out-edges of `srcIds` whose target is a node, and
    * those targets. */
  def neighbors(srcIds: Seq[Long]): (IndexedSeq[Row], IndexedSeq[(String, Long, Long)])

  /** `auto_complete`: the first `limit` Searchable nodes whose name starts
    * with `prefix`. */
  def autoComplete(prefix: String, limit: Int = 10): IndexedSeq[Row]

  /** `find_paths` over CALLS edges: each path as its node rows with, between
    * two nodes, the CALLS edge row joining them (`Left` node, `Right` edge;
    * `api/graph.py:577-589`). */
  def findPaths(srcId: Long, dstId: Long): IndexedSeq[Seq[Either[Row, Row]]]

  /** `repo_info`'s counts: ("nodes", n) and ("edges", n). */
  def counts: Seq[(String, Long)]

  /** Names of the callers (`incoming`) or callees of the `Function` nodes
    * named `name`, null names dropped, in no set order. */
  def callNeighbourNames(name: String, incoming: Boolean): Seq[String]

  /** Names of the nodes labelled `label`, ascending with nulls first, the
    * first `limit` of them. */
  def namesWithLabel(label: String, limit: Int): Seq[String]
}

object GraphReader {

  /** Interleaves each path of node ids with its rows: every node that
    * `node` finds, and between two nodes the edge that `edge` finds. */
  def interleave(paths: Seq[Seq[Long]], node: Long => Option[Row],
      edge: (Long, Long) => Option[Row]): IndexedSeq[Seq[Either[Row, Row]]] =
    paths.toIndexedSeq.map { ids =>
      val hops = ids.sliding(2).toSeq.flatMap {
        case Seq(a, b) => node(a).map(Left(_)).toSeq ++ edge(a, b).map(Right(_))
        case _ => Nil
      }
      hops ++ ids.lastOption.flatMap(node).map(Left(_))
    }
}

/** [[GraphReader]] over a stored snapshot: every read is a DataFrame query
  * (`GraphQueries`, [[Paths.findPaths]]), planned and run per call. */
final class SnapshotReader(g: PropertyGraph) extends GraphReader {

  private def nodesWithIds(ids: Seq[Long]): IndexedSeq[Row] =
    if (ids.isEmpty) IndexedSeq.empty
    else g.nodes.filter(col("id").isin(ids: _*)).collect().toIndexedSeq

  def subGraph(limit: Int): (IndexedSeq[Row], IndexedSeq[(String, Long, Long)]) = {
    val sub = GraphQueries.getSubGraph(g, limit).collect().toIndexedSeq
    def has(column: String)(row: Row): Boolean = !row.isNullAt(row.fieldIndex(column))
    val ids = (sub.map(_.getAs[Long]("src_id")) ++
      sub.filter(has("dst_id")).map(_.getAs[Long]("dst_id"))).distinct
    (nodesWithIds(ids), sub.filter(has("type")).map(row => (row.getAs[String]("type"),
      row.getAs[Long]("src_id"), row.getAs[Long]("dst_id"))))
  }

  def neighbors(srcIds: Seq[Long]): (IndexedSeq[Row], IndexedSeq[(String, Long, Long)]) = {
    val out = GraphQueries.getNeighbors(g, srcIds).collect().toIndexedSeq
    (nodesWithIds(out.map(_.getAs[Long]("id")).distinct), out.map(row =>
      (row.getAs[String]("type"), row.getAs[Long]("src"), row.getAs[Long]("id"))))
  }

  def autoComplete(prefix: String, limit: Int = 10): IndexedSeq[Row] =
    GraphQueries.autoComplete(g, prefix, limit).collect().toIndexedSeq

  def findPaths(srcId: Long, dstId: Long): IndexedSeq[Seq[Either[Row, Row]]] = {
    val pathIds = Paths.findPaths(g, srcId, dstId).collect().toSeq
      .map(_.getAs[scala.collection.Seq[Long]]("path").toSeq)
    // one nodes fetch + one edges fetch for ALL paths, then assemble
    val allIds = pathIds.flatten.distinct
    val nodeMap = nodesWithIds(allIds).map(row => row.getAs[Long]("id") -> row).toMap
    val callEdges =
      if (allIds.isEmpty) Map.empty[(Long, Long), Row]
      else g.edges.filter(col("type") === "CALLS" && col("src").isin(allIds: _*))
        .collect().map(row =>
          (row.getAs[Long]("src"), row.getAs[Long]("dst")) -> row).toMap
    GraphReader.interleave(pathIds, nodeMap.get, (a, b) => callEdges.get((a, b)))
  }

  def counts: Seq[(String, Long)] =
    GraphQueries.stats(g).collect().toSeq
      .map(row => row.getAs[String]("entity") -> row.getAs[Long]("n"))

  def callNeighbourNames(name: String, incoming: Boolean): Seq[String] = {
    val (df, column) =
      if (incoming) (GraphQueries.functionCalledBy(g, name), "callers")
      else (GraphQueries.functionCalls(g, name), "callees")
    df.collect().toSeq
      .flatMap(r => Option(r.getAs[scala.collection.Seq[String]](column)))
      .flatten
  }

  def namesWithLabel(label: String, limit: Int): Seq[String] =
    g.nodes.filter(array_contains(col("labels"), label))
      .select(col("name")).orderBy(col("name")).limit(limit)
      .collect().map(_.getString(0)).toSeq
}
