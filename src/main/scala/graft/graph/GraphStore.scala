package graft.graph

import scala.collection.mutable

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, FileUtil, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types.StructType

/** Parquet warehouse: one directory per repo graph (SURVEY.md §1.6).
  *
  * Mirrors the reference's catalog surface (`/root/reference/api/graph.py`):
  *  - C1 `graph_exists` (`api/graph.py:12-18`)      -> [[exists]]
  *  - C2 `get_repos` (`api/graph.py:20-32`)         -> [[listRepos]]
  *  - C6 `clone` (`api/graph.py:64-83`)             -> [[cloneGraph]]
  *  - C7 `delete` (`api/graph.py:86-90`)            -> [[delete]]
  * plus the `{name}_info` Redis hash (`api/info.py:9-45`) as a tiny JSON
  * file per repo ([[setInfo]]/[[getInfo]]).
  *
  * Writes are staged to a temp dir then atomically renamed into place
  * (read-modify-write discipline, SURVEY §4.2): readers of the old snapshot
  * keep a consistent view; the single-writer assumption matches the
  * reference (Flask dev server, no cross-query transactions).
  *
  * Scale: per-repo directories shard naturally; at 100 TB a repo's
  * `nodes`/`edges` are partitioned parquet dirs and the same swap protocol
  * applies per partition.
  *
  * Serving: [[view]] reads a repo whose tables fit [[servingLimit]] from a
  * resident [[ServingIndex]], built on the first read after a write and
  * dropped by every write through this store ([[save]], [[delete]],
  * [[cloneGraph]] onto it, [[setInfo]]); writes made through another
  * `GraphStore` on the same warehouse are not seen (the single-writer
  * contract). The resident indexes of all repos together keep within the
  * same bound: the least recently read ones are dropped first. A repo with
  * a resident index also answers [[exists]] from it and holds its info hash
  * until the same writes, so a read of a resident repo makes no filesystem
  * call; a repo over the guard reads both from disk, as before.
  */
final class GraphStore(spark: SparkSession, val warehouse: String) {

  private def fs: FileSystem =
    new Path(warehouse).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def repoDir(name: String) = new Path(warehouse, name)
  private def nodesDir(name: String) = new Path(repoDir(name), "nodes")
  private def edgesDir(name: String) = new Path(repoDir(name), "edges")
  private def infoFile(name: String) = new Path(repoDir(name), "info.json")

  /** C1: does the graph exist? (`api/graph.py:12-18`) */
  def exists(name: String): Boolean =
    synchronized(served.get(name).exists(_.isDefined)) || fs.exists(nodesDir(name))

  /** C2: list repos, filtering auxiliary `_git`/`_schema`/`_tmp` graphs
    * (`api/graph.py:20-32`). */
  def listRepos(): Seq[String] = {
    if (!fs.exists(new Path(warehouse))) return Seq.empty
    fs.listStatus(new Path(warehouse)).toIndexedSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(n => n.endsWith("_git") || n.endsWith("_schema") || n.endsWith("_tmp"))
      .sorted
  }

  /** Load a snapshot. `next_id` is restored from the info file when the
    * graph was saved by this engine: ID assignment must be a pure function
    * of the mutation history, NOT of the current `max(id)` — after a
    * delete removed the top IDs, a max-scan would re-issue them, and a
    * replayed op-log whose captured edges reference the originals would
    * silently mis-wire (op-log capture/replay divergence). */
  def load(name: String): PropertyGraph =
    if (!exists(name)) GraphSchema.empty(spark) else snapshot(name, getInfo(name))

  private def snapshot(name: String, info: Map[String, String]): PropertyGraph =
    PropertyGraph(
      spark.read.schema(GraphSchema.nodeSchema).parquet(nodesDir(name).toString),
      spark.read.schema(GraphSchema.edgeSchema).parquet(edgesDir(name).toString),
      nextIdHint = info.get(GraphStore.NextIdKey).map(_.toLong))

  // ---- resident serving index --------------------------------------------

  /** Row bound of the serving index, per table: [[Paths.EdgeBroadcastLimit]],
    * the same bound under which `find_paths` broadcasts the edge set (taken
    * over, not measured for the index's own memory). A repo over it keeps
    * the DataFrame reads. Package-private so a spec can send reads down the
    * DataFrame path (-1 admits no repo) or force evictions. */
  @volatile private[graft] var servingLimit: Long = Paths.EdgeBroadcastLimit

  // a repo's resident index with the info hash read alongside it
  private final case class Resident(index: ServingIndex, info: Map[String, String])

  // per repo, least recently read first: its current version, or None when
  // it is over the bound
  private val served = mutable.LinkedHashMap.empty[String, Option[Resident]]
  private var writes = 0L

  /** The resident index of `name`'s current version, built on the first call
    * after a write; None when the repo does not exist or is over
    * [[servingLimit]] (that result is kept until the next write too). The
    * size check reads the parquet footers, so an over-bound repo costs no
    * row fetch. */
  private[graft] def servingIndex(name: String): Option[ServingIndex] = {
    val (known, seen) = synchronized {
      (served.remove(name).map { k => served(name) = k; k }, writes)
    }
    known.getOrElse {
      if (!exists(name)) None
      else {
        val fits = Seq(nodesDir(name), edgesDir(name)).forall(tableRows(_) <= servingLimit)
        val built = if (fits) {
          val info = readInfo(name)
          Some(Resident(ServingIndex.build(snapshot(name, info)), info))
        } else None
        // a write that finished during the build may have made it stale
        synchronized { if (writes == seen) { served(name) = built; evict() } }
        built
      }
    }.map(_.index)
  }

  /** Drops the least recently read indexes, never the latest, until the
    * resident ones hold at most [[servingLimit]] rows per table together. */
  private def evict(): Unit = {
    var resident = served.toList.collect { case (n, Some(r)) => (n, r.index) }
    def over(rows: ServingIndex => Long) = resident.iterator.map(r => rows(r._2)).sum > servingLimit
    while (resident.size > 1 && (over(_.nodeCount) || over(_.edgeCount))) {
      served -= resident.head._1
      resident = resident.tail
    }
  }

  /** Repos with a resident index, least recently read first. */
  private[graft] def residentRepos: Seq[String] =
    synchronized(served.toList.collect { case (n, Some(_)) => n })

  /** Rows of the parquet table under `dir`, summed from its file footers: no
    * Spark job and no row read. Hidden files (`_SUCCESS`, `.crc`) are
    * skipped, as a scan skips them. */
  private def tableRows(dir: Path): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = fs.listFiles(dir, true)
    var rows = 0L
    while (files.hasNext) {
      val f = files.next()
      if (!f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")) {
        val footer = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try rows += footer.getRecordCount finally footer.close()
      }
    }
    rows
  }

  /** `name` as a read request sees it: its resident index when it is within
    * the guard, else DataFrame queries over the stored snapshot. */
  def view(name: String): GraphReader =
    servingIndex(name).getOrElse(new SnapshotReader(load(name)))

  private def written[T](name: String)(write: => T): T =
    try write finally synchronized { served -= name; writes += 1 }

  /** Persist a snapshot with stage-then-swap (atomic per table), written
    * by Spark jobs. A graph already held on the driver takes the other
    * writer, the [[LocalGraph]] overload, which leaves the same files in no
    * job; both write through one [[swap]].
    *
    * Physical layout (SURVEY §4): edges are hive-partitioned by `type` —
    * every traversal filters on edge type (J1–J8, the DEFINES* cascade), so
    * the scan prunes whole directories instead of reading and filtering —
    * and sorted by `src` within files for parquet min/max row-group
    * pruning on source-id probes. The `repartition(type)` keeps one file
    * per type here; at warehouse scale it becomes
    * `repartition(N, type, src)` for N files per type with disjoint src
    * ranges, same layout contract. Over-guard ingests, re-analysis,
    * `switch_commit` and streaming all write through here. */
  def save(name: String, g: PropertyGraph): Unit = swap(name, g.nextIdHint) { (nodes, edges) =>
    import org.apache.spark.sql.functions.col
    // Materialize BEFORE dropping the old dirs: the new snapshot's plan may
    // read the old files (read-modify-write).
    GraphSchema.conform(g.nodes, GraphSchema.nodeSchema)
      .write.mode(SaveMode.Overwrite).parquet(nodes.toString)
    GraphSchema.conform(g.edges, GraphSchema.edgeSchema)
      .repartition(col("type"))
      // the writer REQUIRES an ordering prefixed by the partition columns;
      // sorting by (type, src) satisfies it, so no extra writer-inserted
      // sort can destroy the src order that row-group pruning relies on;
      // (dst, line) make the order total, so the stored edge order, which
      // `graph_entities` and `get_neighbors` reply in, does not depend on
      // how the frame being saved was partitioned
      .sortWithinPartitions(col("type"), col("src"), col("dst"), col("line"))
      .write.partitionBy("type")
      .mode(SaveMode.Overwrite).parquet(edges.toString)
  }

  /** Persist a graph held on the driver in no Spark job: Spark's parquet
    * writer runs on the driver ([[LocalParquet]]) and leaves the files the
    * DataFrame writer leaves for the same rows, split the same way. Each
    * node batch is one file (an empty graph keeps one file for the schema,
    * as Spark's writer does); each edge type is one file under its
    * partition directory, in [[save]]'s (src, dst, line) order, nulls
    * first. */
  def save(name: String, g: LocalGraph): Unit = swap(name, Some(g.nextId)) { (nodes, edges) =>
    val nodeFiles = new LocalParquet(spark, nodes, GraphSchema.nodeSchema)
    val batches = g.nodeBatches.filter(_.nonEmpty)
    (if (batches.isEmpty) Seq(Nil) else batches).foreach(b => nodeFiles.file("", b.iterator))
    nodeFiles.commit()

    val es = GraphSchema.edgeSchema
    val Seq(src, dst, tpe, line) = Seq("src", "dst", "type", "line").map(es.fieldIndex)
    val kept = es.indices.filter(_ != tpe) // the data columns: all but the partition column
    val edgeFiles = new LocalParquet(spark, edges, StructType(kept.map(es.fields(_))))
    val order = Ordering.by((r: Row) =>
      (r.getLong(src), r.getLong(dst), if (r.isNullAt(line)) None else Some(r.getLong(line))))
    for ((t, rows) <- g.edges.groupBy(_.getString(tpe)))
      edgeFiles.file(ExternalCatalogUtils.getPartitionPathString("type", t),
        rows.sorted(order).iterator.map(r => Row.fromSeq(kept.map(r.get))))
    edgeFiles.commit()
  }

  /** Writes a snapshot of `name` into a stage directory with `write(nodes,
    * edges)`, then swaps the two tables in and records `next_id`. */
  private def swap(name: String, nextId: Option[Long])(
      write: (Path, Path) => Unit): Unit = written(name) {
    val stage = new Path(repoDir(name), s".stage-${java.util.UUID.randomUUID()}")
    val stagedNodes = new Path(stage, "nodes")
    val stagedEdges = new Path(stage, "edges")
    write(stagedNodes, stagedEdges)
    // checked aside-swap per table (the util.StageSwap posture): Hadoop
    // FileSystems report most rename failures by returning FALSE — the
    // old delete-then-unchecked-rename would silently lose the graph on
    // one. The asides live INSIDE the stage dir, so the final cleanup
    // sweeps them; a kill between the two table swaps still leaves a
    // mixed snapshot (the documented atomic-PER-TABLE contract), but
    // never a missing or truncated one.
    def swapIn(staged: Path, target: Path, aside: Path): Unit = {
      if (fs.exists(target))
        require(fs.rename(target, aside), s"could not set aside $target")
      require(fs.rename(staged, target),
        s"could not promote $staged into $target " +
          s"(previous table retained at $aside)")
    }
    swapIn(stagedNodes, nodesDir(name), new Path(stage, "old-nodes"))
    swapIn(stagedEdges, edgesDir(name), new Path(stage, "old-edges"))
    fs.delete(stage, true)
    // sweep stage dirs leaked by EARLIER crashed saves only now, after
    // the new snapshot is live: a crashed save's stage dir may hold the
    // graph's ONLY copy (its old-table asides, when the crash hit inside
    // the two-rename swap) — sweeping before promotion would destroy the
    // recovery copy and a subsequent failure would lose the graph. After
    // a successful swap the live tables supersede every aside, so the
    // sweep (scoped to this repo's dir, safe under the documented
    // single-writer-per-graph contract) reclaims them without a window.
    fs.listStatus(repoDir(name)).iterator
      .filter(_.getPath.getName.startsWith(".stage-"))
      .foreach(s => fs.delete(s.getPath, true))
    // persist the ID high-water mark (see load) — monotone across deletes
    nextId.foreach(h => setInfo(name, Map(GraphStore.NextIdKey -> h.toString)))
  }

  /** C6: copy a whole graph under a new name (`api/graph.py:64-83`). */
  def cloneGraph(from: String, to: String): Unit = written(to) {
    require(exists(from), s"no such graph: $from")
    fs.delete(repoDir(to), true)
    FileUtil.copy(fs, repoDir(from), fs, repoDir(to), false,
      spark.sparkContext.hadoopConfiguration)
  }

  /** C7: drop a graph (`api/graph.py:86-90`). */
  def delete(name: String): Unit = written(name) { fs.delete(repoDir(name), true); () }

  /** The filesystem `info.json` is read and written through: the raw one
    * under a checksummed filesystem, so the file has no `.crc` sidecar and
    * an edit made by anything else (an operator, a restore that skips
    * hidden files) reads as written. The cached filesystem itself keeps its
    * checksum settings, which Spark's parquet writes share. */
  private def infoFs: FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  /** `{name}_info` hash: `commit` / `repo_url` (`api/info.py:32-88`). */
  def setInfo(name: String, kv: Map[String, String]): Unit = written(name) {
    val merged = getInfo(name) ++ kv
    val json = OpLog.mapper.writeValueAsString(merged)
    fs.mkdirs(repoDir(name))
    val out = infoFs.create(infoFile(name), true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    // a sidecar left by a checksummed write (an older store, a clone) no
    // longer describes the file
    fs match {
      case c: ChecksumFileSystem => infoFs.delete(c.getChecksumFile(infoFile(name)), false)
      case _ =>
    }
  }

  /** The info hash: a repo with a resident index answers the hash read
    * with it. */
  def getInfo(name: String): Map[String, String] =
    synchronized(served.get(name).flatten).map(_.info).getOrElse(readInfo(name))

  private def readInfo(name: String): Map[String, String] = {
    if (!infoFs.exists(infoFile(name))) return Map.empty
    val in = infoFs.open(infoFile(name))
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bytes, 4096, false)
      OpLog.readStringMap(bytes.toString("UTF-8"))
    } finally in.close()
  }

  /** The info hash without the engine's own bookkeeping keys: what
    * `repo_info` reports (the reference's hash holds only `commit` and
    * `repo_url`). */
  def publicInfo(name: String): Map[String, String] =
    getInfo(name) - GraphStore.NextIdKey
}

object GraphStore {
  /** Info key of the node-ID high-water mark (see [[GraphStore.load]]). */
  private[graph] val NextIdKey = "next_id"
}
