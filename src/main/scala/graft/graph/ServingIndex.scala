package graft.graph

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Resident, driver-local copy of one small repo graph: the [[GraphReader]]
  * that [[GraphStore.view]] returns for a repo within its guard. Point reads
  * — the sub-graph, neighbours, prefix completion, `find_paths`, the chat
  * intents and the counts — answer from driver arrays in zero Spark jobs,
  * instead of re-listing the parquet and planning a fresh query per request
  * (Dremel's posture: interactive latency from resident data, PAPERS.md).
  *
  * Layout, all in the snapshot's SCAN order (row `i` is the `i`-th row a
  * plain scan of the stored table returns, which is the order the
  * DataFrame reads stream it):
  *  - node columns, repeated values shared between rows, and ids mapped to
  *    rows through a sorted id array;
  *  - edge columns (`src`, `dst`, `type`, `line`, `text` — what the
  *    endpoints encode), with out- and in-adjacency per edge type as CSR
  *    lists of edge rows, each entry carrying the row of the other end;
  *  - the rows of named nodes sorted by (name, row), so that a name or a
  *    name prefix is one binary-searched range, its rows of one name in
  *    scan order.
  *
  * Each read mirrors the same read of [[SnapshotReader]], row for row;
  * where that read's order is fixed by the plan (a scan, a limit over a
  * broadcast join) the index keeps it.
  *
  * Edges whose endpoints are not both nodes take no part in the adjacency.
  * Every mutation keeps edges between existing nodes (connect and call
  * batches semi-join both endpoints, `deleteFiles` drops touching edges),
  * so a graph this engine built has none; they still count in
  * [[edgeCount]].
  */
final class ServingIndex private (
    ids: Array[Long],
    nodeCols: Array[Array[AnyRef]], // per nodeSchema field; 0 (id) unused
    edgeSrc: Array[Long], edgeDst: Array[Long], edgeTypes: Array[String],
    edgeLine: Array[AnyRef], edgeText: Array[String]) extends GraphReader {
  import ServingIndex._

  private val nodeNames = nodeCols(GraphSchema.nodeSchema.fieldIndex("name"))
  private val nodeLabels = nodeCols(GraphSchema.nodeSchema.fieldIndex("labels"))

  // id -> row: ids in ascending order, with the row of each
  private val rowById: Array[Int] = ids.indices.toArray.sortBy(ids(_))
  private val sortedIds: Array[Long] = rowById.map(ids(_))

  private val outAdj: Map[String, Csr] = adjacency(byOrigin = true)
  private val inAdj: Map[String, Csr] = adjacency(byOrigin = false)

  // the sort is stable over ascending rows: equal names stay in scan order
  private val byName: Array[Int] =
    ids.indices.filter(nodeNames(_) != null).toArray.sortBy(nameOf)

  def nodeCount: Long = ids.length.toLong
  def edgeCount: Long = edgeSrc.length.toLong
  def counts: Seq[(String, Long)] = Seq("nodes" -> nodeCount, "edges" -> edgeCount)

  /** Row of node `id`, or -1. */
  private def rowOf(id: Long): Int = {
    val k = java.util.Arrays.binarySearch(sortedIds, id)
    if (k < 0) -1 else rowById(k)
  }

  private def nameOf(row: Int): String = nodeNames(row).asInstanceOf[String]

  /** The positions in [[byName]] of the names equal to `name` (`exact`) or
    * starting with it: `lo until hi`. */
  private def nameRange(name: String, exact: Boolean): (Int, Int) = {
    // the first position whose name fails `before`, which holds for a
    // leading run of the order
    def end(before: String => Boolean): Int = {
      var lo = 0
      var hi = byName.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (before(nameOf(byName(mid)))) lo = mid + 1 else hi = mid
      }
      lo
    }
    def in(n: String) = if (exact) n == name else n.startsWith(name)
    (end(_.compareTo(name) < 0), end(n => n.compareTo(name) < 0 || in(n)))
  }

  private def hasLabel(row: Int, label: String): Boolean =
    nodeLabels(row) match {
      case null => false
      case ls: scala.collection.Seq[_] => ls.contains(label)
    }

  private def adjacency(byOrigin: Boolean): Map[String, Csr] = {
    val n = ids.length
    val (key, peer) = {
      val s = edgeSrc.map(rowOf); val d = edgeDst.map(rowOf)
      if (byOrigin) (s, d) else (d, s)
    }
    edgeTypes.indices.filter(e => key(e) >= 0 && peer(e) >= 0)
      .groupBy(edgeTypes(_)).map { case (t, edges) =>
        val off = new Array[Int](n + 1)
        edges.foreach(e => off(key(e) + 1) += 1)
        var v = 0
        while (v < n) { off(v + 1) += off(v); v += 1 }
        val fill = off.clone()
        val edge = new Array[Int](edges.length)
        val other = new Array[Int](edges.length)
        edges.foreach { e => // ascending: each list stays in scan order
          val k = fill(key(e)); fill(key(e)) += 1
          edge(k) = e; other(k) = peer(e)
        }
        t -> new Csr(off, edge, other)
      }
  }

  /** The full node row (the nodeSchema columns), as a DataFrame read
    * returns it. */
  private def nodeRow(row: Int): Row = {
    val v = new Array[Any](nodeCols.length)
    v(0) = ids(row)
    var f = 1
    while (f < v.length) { v(f) = nodeCols(f)(row); f += 1 }
    new GenericRowWithSchema(v, GraphSchema.nodeSchema)
  }

  /** Node `id`'s row, if it is a node. */
  private def node(id: Long): Option[Row] = Some(rowOf(id)).filter(_ >= 0).map(nodeRow)

  private def edgeRow(e: Int): Row = new GenericRowWithSchema(
    Array[Any](edgeSrc(e), edgeDst(e), edgeTypes(e), edgeLine(e), edgeText(e)),
    EdgeRowSchema)

  private def edgeTriple(e: Int): (String, Long, Long) =
    (edgeTypes(e), edgeSrc(e), edgeDst(e))

  private def nodeRows(rows: Iterable[Int]): IndexedSeq[Row] =
    rows.toArray.distinct.sorted.toIndexedSeq.map(nodeRow)

  /** `graph_entities`: [[GraphQueries.getSubGraph]] cut at `limit` rows,
    * then the nodes those rows touch, in scan order, and the (type, src,
    * dst) of the rows that carry an edge. The sub-graph rows are every node
    * in scan order, each followed by its out-edges of every type, or once
    * with none — the rows the plan's left-outer broadcast hash join streams:
    * its hashed build side yields one key's edges newest-inserted first,
    * that is in reverse scan order. */
  def subGraph(limit: Int): (IndexedSeq[Row], IndexedSeq[(String, Long, Long)]) = {
    val touched = mutable.ArrayBuffer.empty[Int]
    val edges = mutable.ArrayBuffer.empty[(String, Long, Long)]
    var left = limit
    var v = 0
    while (left > 0 && v < ids.length) {
      val es = outAdj.values.flatMap(_.edges(v)).toArray.sorted.reverse
      touched += v
      if (es.isEmpty) left -= 1
      else es.iterator.take(left).foreach { e =>
        touched += rowOf(edgeDst(e)); edges += edgeTriple(e); left -= 1
      }
      v += 1
    }
    (nodeRows(touched), edges.toIndexedSeq)
  }

  /** `get_neighbors`: the out-edges of `ids` (every type) whose target is a
    * node, as (type, src, dst) in scan order, and those targets in scan
    * order ([[GraphQueries.getNeighbors]]). */
  def neighbors(srcIds: Seq[Long]): (IndexedSeq[Row], IndexedSeq[(String, Long, Long)]) = {
    val rows = srcIds.map(rowOf).filter(_ >= 0).distinct
    val edges = outAdj.values.flatMap(adj => rows.flatMap(adj.edges)).toArray.sorted
    (nodeRows(edges.map(e => rowOf(edgeDst(e)))), edges.toIndexedSeq.map(edgeTriple))
  }

  /** `auto_complete`: the first `limit` Searchable nodes in scan order whose
    * name starts with `prefix` ([[GraphQueries.autoComplete]]). */
  def autoComplete(prefix: String, limit: Int = 10): IndexedSeq[Row] = {
    val (lo, hi) = nameRange(prefix, exact = false)
    byName.slice(lo, hi).filter(hasLabel(_, GraphSchema.SEARCHABLE)).sorted
      .take(limit).map(nodeRow).toIndexedSeq
  }

  /** `find_paths`: the paths of [[pathIds]], each CALLS hop encoded as the
    * last such edge in scan order when the pair has several. */
  def findPaths(srcId: Long, dstId: Long): IndexedSeq[Seq[Either[Row, Row]]] =
    GraphReader.interleave(pathIds(srcId, dstId), node, lastEdge(_, _))

  /** [[Paths.findPaths]] as a driver-side depth-first walk with the same
    * semantics: every simple path from `srcId` to `dstId` over `edgeType`
    * edges of at most `maxHops` hops, none passing through `dstId`;
    * parallel edges count once. Paths come shortest first, like the
    * DataFrame walk's level order. */
  private def pathIds(srcId: Long, dstId: Long, edgeType: String = "CALLS",
      maxHops: Int = Paths.DefaultMaxHops): IndexedSeq[Seq[Long]] = {
    if (srcId == dstId) return IndexedSeq(Seq(srcId))
    val (s, t) = (rowOf(srcId), rowOf(dstId))
    val next = outAdj.get(edgeType) match {
      case Some(adj) if s >= 0 && t >= 0 => adj
      case _ => return IndexedSeq.empty
    }
    val onPath = new Array[Boolean](ids.length)
    val path = new Array[Int](maxHops + 1)
    val found = mutable.ArrayBuffer.empty[Seq[Long]]
    def walk(v: Int, hops: Int): Unit =
      if (v == t) found += path.take(hops + 1).toSeq.map(ids(_))
      else if (hops < maxHops) {
        onPath(v) = true
        next.peers(v).distinct.foreach { w =>
          if (!onPath(w)) { path(hops + 1) = w; walk(w, hops + 1) }
        }
        onPath(v) = false
      }
    path(0) = s
    walk(s, 0)
    found.sortBy(_.length).toIndexedSeq
  }

  /** The `edgeType` edge `src -> dst` that `find_paths` encodes: the last
    * one in scan order when the pair has several. */
  private def lastEdge(src: Long, dst: Long, edgeType: String = "CALLS"): Option[Row] = {
    val v = rowOf(src)
    if (v < 0) None
    else outAdj.get(edgeType).flatMap(_.edges(v).reverseIterator
      .find(edgeDst(_) == dst)).map(edgeRow)
  }

  /** Names of the nodes joined to the `Function` nodes named `name` over
    * CALLS edges: their callers (`incoming`) or callees, null names
    * dropped, each once ([[GraphQueries.functionCalledBy]] /
    * [[GraphQueries.functionCalls]] before their `sort_array`). */
  def callNeighbourNames(name: String, incoming: Boolean): Seq[String] =
    (if (incoming) inAdj else outAdj).get("CALLS").toSeq.flatMap { adj =>
      val (lo, hi) = nameRange(name, exact = true)
      byName.slice(lo, hi).filter(hasLabel(_, "Function")).flatMap(adj.peers)
    }.map(nameOf).filter(_ != null).distinct

  /** Names of the nodes labelled `label`, ascending with nulls first in
    * Spark's UTF-8 byte order, the first `limit` of them (`list_label`'s
    * `orderBy(name).limit`). */
  def namesWithLabel(label: String, limit: Int): Seq[String] =
    ids.indices.filter(hasLabel(_, label))
      .map(nameOf)
      .map(n => (n, if (n == null) null else UTF8String.fromString(n)))
      .sortWith { case ((_, a), (_, b)) =>
        if (a == null) b != null else b != null && a.compareTo(b) < 0
      }.take(limit).map(_._1)
}

object ServingIndex {

  private val EdgeCols = Seq("src", "dst", "type", "line", "text")
  private val EdgeRowSchema = StructType(EdgeCols.map(GraphSchema.edgeSchema(_)))

  /** One adjacency direction of one edge type: the edge rows keyed by node
    * row `v` are `edge(off(v) until off(v + 1))`, ascending (scan order);
    * `other` holds the row of each edge's far end. */
  private final class Csr(off: Array[Int], edge: Array[Int], other: Array[Int]) {
    def edges(v: Int): IndexedSeq[Int] = edge.slice(off(v), off(v + 1)).toIndexedSeq
    def peers(v: Int): IndexedSeq[Int] = other.slice(off(v), off(v + 1)).toIndexedSeq
  }

  /** Collects `g`, one collect per table, its rows in scan order. The
    * caller checks the size first ([[GraphStore.view]]'s guard). */
  def build(g: PropertyGraph): ServingIndex =
    fromRows(
      g.nodes.select(GraphSchema.nodeSchema.fieldNames.toIndexedSeq.map(col): _*).collect(),
      g.edges.select(EdgeCols.map(col): _*).collect())

  private def fromRows(nodes: Array[Row], edges: Array[Row]): ServingIndex = {
    // equal values (labels arrays, paths, edge types, call texts, empty
    // property maps) share one instance
    val pool = mutable.HashMap.empty[AnyRef, AnyRef]
    def share[T](v: Any): T =
      Option(v.asInstanceOf[AnyRef]).map(x => pool.getOrElseUpdate(x, x)).orNull.asInstanceOf[T]
    val width = GraphSchema.nodeSchema.length
    val nodeCols = Array.tabulate(width)(f =>
      if (f == 0) null else new Array[AnyRef](nodes.length))
    for ((r, i) <- nodes.iterator.zipWithIndex; f <- 1 until width)
      nodeCols(f)(i) = share[AnyRef](r.get(f))
    new ServingIndex(nodes.map(_.getLong(0)), nodeCols,
      edges.map(_.getLong(0)), edges.map(_.getLong(1)),
      edges.map(r => share[String](r.get(2))), edges.map(r => share[AnyRef](r.get(3))),
      edges.map(r => share[String](r.get(4))))
  }
}
