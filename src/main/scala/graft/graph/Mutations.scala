package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, MapType, StringType, StructField, StructType}

/** FalkorDB result-set style change counters (SURVEY.md §2.1 C8).
  * The reference detects "did this query change anything" by checking 8
  * result-set counters (`/root/reference/api/graph.py:152-169`); any > 0
  * means the op gets logged to the backlog. */
final case class ChangeSummary(
    nodesCreated: Long = 0,
    nodesDeleted: Long = 0,
    relationshipsCreated: Long = 0,
    relationshipsDeleted: Long = 0,
    propertiesSet: Long = 0) {
  def changed: Boolean =
    nodesCreated + nodesDeleted + relationshipsCreated + relationshipsDeleted +
      propertiesSet > 0
  def +(o: ChangeSummary): ChangeSummary = ChangeSummary(
    nodesCreated + o.nodesCreated, nodesDeleted + o.nodesDeleted,
    relationshipsCreated + o.relationshipsCreated,
    relationshipsDeleted + o.relationshipsDeleted,
    propertiesSet + o.propertiesSet)
}

/** Result of a mutation: the new snapshot, the affected rows (with their
  * assigned IDs — the reference returns created nodes, `api/graph.py:267`),
  * and the change counters.
  *
  * `summary` is lazy: counting changed rows costs extra Spark jobs, and the
  * only consumer that needs it is backlog change detection
  * (`api/graph.py:152-169`) plus tests. Callers that never read it (bulk
  * ingest, bench) pay zero driver-side actions per mutation.
  *
  * `cached` lists the frames the mutation cached: `graph` and `result` read
  * them until the graph is pinned, and [[CodeGraph.checkpointNow]] releases
  * them after pinning it (left cached, Spark's cache manager would keep
  * their plans, and the checkpointed RDDs those plans read, for the life
  * of the session). */
final class MutationResult(val graph: PropertyGraph, val result: DataFrame,
    summaryThunk: () => ChangeSummary, val cached: Seq[DataFrame]) {
  lazy val summary: ChangeSummary = summaryThunk()
}

object MutationResult {
  def apply(graph: PropertyGraph, result: DataFrame,
      summary: => ChangeSummary, cached: Seq[DataFrame] = Nil): MutationResult =
    new MutationResult(graph, result, () => summary, cached)
}

/** All graph mutations as pure `PropertyGraph => PropertyGraph` rewrites
  * (SURVEY.md §2.4 M1–M11). Batch-first: the reference pays one network
  * round-trip per entity (`api/graph.py:150` called per AST node — the
  * anti-goal in BASELINE.md); here every op is a single join-based rewrite
  * job over arbitrarily large batches.
  *
  * Scale: each upsert is (anti-)join on the merge key + union — shuffle on
  * the key, broadcast when the batch is small (Catalyst/AQE decide). ID
  * assignment sorts only the *new* rows. No driver-side loops over rows.
  */
object Mutations {
  import GraphSchema.{conform, nodeSchema, edgeSchema, SEARCHABLE}

  private val emptyStrMap: Column =
    lit(null).cast(MapType(StringType, StringType))

  /** Right-biased property-map merge (`SET c += $props`,
    * `api/graph.py:253`) without relying on spark.sql.mapKeyDedupPolicy. */
  def mergeProps(oldP: Column, newP: Column): Column = {
    val o = coalesce(oldP, map().cast(MapType(StringType, StringType)))
    val n = coalesce(newP, map().cast(MapType(StringType, StringType)))
    map_concat(map_filter(o, (k, _) => !map_contains_key(n, k)), n)
  }

  /** Deterministic sequential ID assignment (SURVEY §4.3): sort the insert
    * batch on its merge key, then number rows `startId+1 ..` via
    * zipWithIndex (distributed sort — no single-partition window; the
    * global order, and therefore every assigned ID, is a pure function of
    * the batch contents). Never `monotonically_increasing_id`: IDs are
    * public API surface (`api/index.py:277-288`) and must be replayable. */
  def assignIds(df: DataFrame, keyCols: Seq[String], startId: Long): DataFrame =
    assignIdsCounted(df, keyCols, startId)._1

  /** Like [[assignIds]] but also returns the batch size. One eager job
    * (`localCheckpoint`) materializes the sorted batch; the zipWithIndex
    * offset pass, the count, and every later consumer read the checkpointed
    * partitions instead of recomputing the upstream join. Checkpointing
    * before zipWithIndex is also a correctness requirement: the sort's range
    * partitioner samples, so an unpinned recompute could shift rows across
    * partition boundaries after the offsets were taken. */
  private def assignIdsCounted(df: DataFrame, keyCols: Seq[String],
      startId: Long): (DataFrame, Long) = {
    val sorted = df.sort(keyCols.map(c => col(c).asc_nulls_first): _*)
      .localCheckpoint(true)
    attachIds(sorted, startId, identity)
  }

  /** Shared tail of ID assignment over a PINNED (localCheckpoint'ed)
    * sorted DataFrame: per-partition survivor counts from ONE tiny job
    * (zipWithIndex would run the same counting job internally, and the
    * batch size falls out of the same pass instead of a separate count()),
    * then sequential IDs attached at the InternalRow layer — boxing
    * 10⁵–10⁶ rows to external Rows and back was ~a third of bulk-build
    * time. UnsafeRow buffers are reused per-partition, so copy() before
    * pairing with the id cell. `rowFilter` runs identically in both
    * passes (counts, emit). */
  private def attachIds(sorted: DataFrame, startId: Long,
      rowFilter: Iterator[InternalRow] => Iterator[InternalRow])
      : (DataFrame, Long) = {
    val spark = sorted.sparkSession
    val outSchema = StructType(sorted.schema.fields :+
      StructField("id", LongType, nullable = false))
    val rdd0 = org.apache.spark.sql.GraftSqlBridge.toInternalRdd(sorted)
    val counts = rdd0.mapPartitions(
      it => Iterator.single(rowFilter(it).length.toLong),
      preservesPartitioning = true).collect()
    val offsets = counts.scanLeft(0L)(_ + _)
    val rdd = rdd0.mapPartitionsWithIndex { (pi, it) =>
      var i = startId + 1 + offsets(pi)
      rowFilter(it).map { r =>
        val out = new org.apache.spark.sql.catalyst.expressions.JoinedRow(
          r.copy(), InternalRow(i))
        i += 1
        out
      }
    }
    (org.apache.spark.sql.GraftSqlBridge.internalCreateDataFrame(spark,
      rdd.asInstanceOf[org.apache.spark.rdd.RDD[InternalRow]], outSchema),
      offsets.last)
  }

  /** Like [[assignIdsCounted]] but with MERGE-key dedup fused into the same
    * range shuffle: `repartitionByRange(key) + sortWithinPartitions(key)`
    * globally orders rows AND co-locates equal keys, so keeping the first
    * row per consecutive key equals `groupBy(key).agg(first(...))` — one
    * shuffle for dedupe + sort instead of two. Bulk-load fast paths only
    * (upsert paths need the dedupe before their join). IDs depend only on
    * the distinct-key sorted order, so assignment stays deterministic. */
  private def assignIdsDedupCounted(df: DataFrame, keyCols: Seq[String],
      startId: Long): (DataFrame, Long) = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
    val order = keyCols.map(c => col(c).asc_nulls_first)
    val sorted = df.repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .localCheckpoint(true)
    val schema = sorted.schema
    val keyRefs = keyCols.map { c =>
      val i = schema.fieldIndex(c)
      BoundReference(i, schema(i).dataType, nullable = true)
    }
    // first-per-consecutive-key iterator; rows with equal keys are adjacent
    // within a partition and never span partitions (range partitioning)
    def firstPerKey(it: Iterator[InternalRow]): Iterator[InternalRow] = {
      val proj = UnsafeProjection.create(keyRefs)
      var prev: UnsafeRow = null
      it.flatMap { r =>
        val k = proj(r)
        if (prev != null && k == prev) None
        else { prev = k.copy(); Some(r) }
      }
    }
    attachIds(sorted, startId, firstPerKey)
  }

  /** Highest assigned node ID: from the snapshot's hint when the mutation
    * chain carried one forward, else one `max(id)` scan. */
  private def maxId(g: PropertyGraph): Long =
    g.nextIdHint.getOrElse(
      g.nodes.agg(coalesce(max(col("id")), lit(0L))).head().getLong(0))

  private def nullSafeEq(a: Column, b: Column): Column = a <=> b

  // ---------------------------------------------------------------- M1

  /** M1 `add_entity` (`api/graph.py:243-267`): upsert on
    * (label, name, path, src_start, src_end); always (re)sets `doc` and
    * merges `props` — Cypher `MERGE (c:LBL:Searchable {…}) SET c.doc=$doc
    * SET c += $props RETURN c`.
    *
    * `batch` columns: label, name, path, src_start, src_end, doc, props. */
  def addEntities(g: PropertyGraph, batch: DataFrame): MutationResult = {
    val key = Seq("label", "name", "path", "src_start", "src_end")
    // bulk-load fast path: the graph is provably empty, so every row is an
    // insert — skip the upsert join and the update rewrite entirely, and
    // fuse the merge-key dedupe into the ID-assignment sort (one shuffle).
    if (g.nodesKnownEmpty) {
      val startId = maxId(g)
      val (inserted, nInserted) = assignIdsDedupCounted(
        batch.select(col("label"), col("name"), col("path"),
          col("src_start"), col("src_end"), col("doc"), col("props")),
        key, startId)
      val insertedNodes = conform(
        inserted.select(col("id"),
          array(col("label"), lit(SEARCHABLE)).as("labels"),
          col("name"), col("path"), col("src_start"), col("src_end"),
          col("doc"), col("props")),
        nodeSchema)
      return MutationResult(
        g.copy(nodes = insertedNodes, nextIdHint = Some(startId + nInserted),
          nodesKnownEmpty = false),
        inserted.select(col("id"), col("label"), col("name"), col("path"),
          col("src_start"), col("src_end")),
        ChangeSummary(nodesCreated = nInserted, propertiesSet = nInserted))
    }

    val b = batch
      .groupBy(key.map(col): _*)
      .agg(first(col("doc"), ignoreNulls = false).as("doc"),
        first(col("props"), ignoreNulls = false).as("props"))
      .cache()

    val joined = b.join(g.nodes.select(col("id").as("_exid"), col("labels"),
        col("name").as("_exn"), col("path").as("_exp"),
        col("src_start").as("_exss"), col("src_end").as("_exse")),
        array_contains(col("labels"), b("label")) &&
          nullSafeEq(col("_exn"), b("name")) && nullSafeEq(col("_exp"), b("path")) &&
          nullSafeEq(col("_exss"), b("src_start")) &&
          nullSafeEq(col("_exse"), b("src_end")),
        "left")
      .select(b("label"), b("name"), b("path"), b("src_start"), b("src_end"),
        b("doc"), b("props"), col("_exid"))
      .cache()

    val toInsert = joined.filter(col("_exid").isNull).drop("_exid")
    val startId = maxId(g)
    val (inserted, nInserted) = assignIdsCounted(toInsert, key, startId)
    val insertedNodes = conform(
      inserted.select(col("id"),
        array(col("label"), lit(SEARCHABLE)).as("labels"),
        col("name"), col("path"), col("src_start"), col("src_end"),
        col("doc"), col("props")),
      nodeSchema)

    val upd = joined.filter(col("_exid").isNotNull)
      .select(col("_exid").as("_uid"), col("doc").as("_udoc"),
        col("props").as("_uprops"))
    val updated = g.nodes.join(upd, col("id") === col("_uid"), "left")
      .select(col("id"), col("labels"), col("name"), col("path"), col("ext"),
        col("src_start"), col("src_end"),
        when(col("_uid").isNotNull, col("_udoc")).otherwise(col("doc")).as("doc"),
        col("coverage_precentage"),
        when(col("_uid").isNotNull, mergeProps(col("props"), col("_uprops")))
          .otherwise(col("props")).as("props"))

    val nodes2 = conform(updated, nodeSchema).unionByName(insertedNodes)
    val resultIds = inserted.select(col("id"), col("label"), col("name"),
        col("path"), col("src_start"), col("src_end"))
      .unionByName(joined.filter(col("_exid").isNotNull)
        .select(col("_exid").as("id"), col("label"), col("name"), col("path"),
          col("src_start"), col("src_end")))
    MutationResult(
      g.copy(nodes = nodes2, nextIdHint = Some(startId + nInserted),
        nodesKnownEmpty = false),
      resultIds,
      // doc assignment counts ≥1 property per upsert
      ChangeSummary(nodesCreated = nInserted,
        propertiesSet = nInserted + upd.count()),
      cached = Seq(b, joined))
  }

  def addEntity(g: PropertyGraph, label: String, name: String, path: String,
      srcStart: Long, srcEnd: Long, doc: String,
      props: Map[String, String]): MutationResult = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val b = Seq((label, name, path, srcStart, srcEnd, doc, props))
      .toDF("label", "name", "path", "src_start", "src_end", "doc", "props")
    addEntities(g, b)
  }

  // ---------------------------------------------------------------- M2

  /** M2 `add_file` (`api/graph.py:392-406`): upsert `File:Searchable` on
    * (path, name, ext). `batch` columns: path, name, ext. */
  def addFiles(g: PropertyGraph, batch: DataFrame): MutationResult = {
    val key = Seq("path", "name", "ext")
    if (g.nodesKnownEmpty) { // bulk-load fast path (see addEntities)
      val startId = maxId(g)
      val (inserted, nInserted) = assignIdsDedupCounted(
        batch.select(col("path"), col("name"), col("ext")), key, startId)
      val insertedNodes = conform(
        inserted.select(col("id"),
          array(lit("File"), lit(SEARCHABLE)).as("labels"),
          col("name"), col("path"), col("ext")),
        nodeSchema)
      return MutationResult(
        g.copy(nodes = insertedNodes, nextIdHint = Some(startId + nInserted),
          nodesKnownEmpty = false),
        inserted.select(col("id"), col("path"), col("name"), col("ext")),
        ChangeSummary(nodesCreated = nInserted))
    }
    val b = batch.dropDuplicates(key).cache()
    val ex = g.nodes.filter(array_contains(col("labels"), "File"))
      .select(col("id").as("_exid"), col("path").as("_exp"),
        col("name").as("_exn"), col("ext").as("_exe"))
    val joined = b.join(ex,
        nullSafeEq(col("_exp"), b("path")) && nullSafeEq(col("_exn"), b("name")) &&
          nullSafeEq(col("_exe"), b("ext")), "left").cache()

    val toInsert = joined.filter(col("_exid").isNull).drop("_exid")
    val startId = maxId(g)
    val (inserted, nInserted) = assignIdsCounted(toInsert, key, startId)
    val insertedNodes = conform(
      inserted.select(col("id"), array(lit("File"), lit(SEARCHABLE)).as("labels"),
        col("name"), col("path"), col("ext")),
      nodeSchema)
    val nodes2 = conform(g.nodes, nodeSchema).unionByName(insertedNodes)
    val resultIds = inserted.select(col("id"), col("path"), col("name"), col("ext"))
      .unionByName(joined.filter(col("_exid").isNotNull)
        .select(col("_exid").as("id"), col("path"), col("name"), col("ext")))
    MutationResult(
      g.copy(nodes = nodes2, nextIdHint = Some(startId + nInserted),
        nodesKnownEmpty = false),
      resultIds,
      ChangeSummary(nodesCreated = nInserted),
      cached = Seq(b, joined))
  }

  def addFile(g: PropertyGraph, path: String, name: String,
      ext: String): MutationResult = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    addFiles(g, Seq((path, name, ext)).toDF("path", "name", "ext"))
  }

  // ---------------------------------------------------------------- M3

  /** M3 `connect_entities` (`api/graph.py:482-498`): edge upsert on
    * (src, dst, type) with right-biased prop merge; endpoints must exist
    * (the Cypher MATCHes both by ID first).
    * `batch` columns: src, dst, type, props. */
  def connectEntities(g: PropertyGraph, batch: DataFrame): MutationResult = {
    val ids = g.nodes.select(col("id"))
    val b = batch
      .groupBy(col("src"), col("dst"), col("type"))
      .agg(first(col("props"), ignoreNulls = false).as("props"))
      .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      .cache()

    // bulk-load fast path: no existing edges, so every validated row inserts
    if (g.edgesKnownEmpty) {
      val edges3 = conform(
        b.select(col("src"), col("dst"), col("type"), col("props")),
        edgeSchema)
      return MutationResult(g.copy(edges = edges3, edgesKnownEmpty = false),
        b.select(col("src"), col("dst"), col("type")),
        ChangeSummary(relationshipsCreated = b.count()), cached = Seq(b))
    }

    val ex = g.edges.select(col("src"), col("dst"), col("type")).distinct()
    val toInsert = b.join(ex, Seq("src", "dst", "type"), "left_anti")
    val toUpdate = b.join(ex, Seq("src", "dst", "type"), "left_semi")
      .select(col("src").as("_us"), col("dst").as("_ud"),
        col("type").as("_ut"), col("props").as("_uprops"))

    val edges2 = g.edges
      .join(toUpdate, col("src") === col("_us") && col("dst") === col("_ud") &&
        col("type") === col("_ut"), "left")
      .select(col("src"), col("dst"), col("type"), col("line"), col("text"),
        col("queries"), col("params"),
        when(col("_us").isNotNull, mergeProps(col("props"), col("_uprops")))
          .otherwise(col("props")).as("props"))
    val insertedEdges = conform(
      toInsert.select(col("src"), col("dst"), col("type"), col("props")),
      edgeSchema)
    val edges3 = conform(edges2, edgeSchema).unionByName(insertedEdges)
    MutationResult(g.copy(edges = edges3, edgesKnownEmpty = false),
      b.select(col("src"), col("dst"), col("type")), {
        val nUpdatedProps = toUpdate
          .agg(coalesce(sum(size(coalesce(col("_uprops"),
            map().cast(MapType(StringType, StringType))))), lit(0L)))
          .head().getLong(0)
        ChangeSummary(relationshipsCreated = toInsert.count(),
          propertiesSet = nUpdatedProps)
      }, cached = Seq(b))
  }

  def connectEntities(g: PropertyGraph, relType: String, src: Long, dst: Long,
      props: Map[String, String]): MutationResult = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    connectEntities(g,
      Seq((src, dst, relType, props)).toDF("src", "dst", "type", "props"))
  }

  // ---------------------------------------------------------------- M4

  /** M4 `function_calls_function` (`api/graph.py:500-516`): CALLS edge
    * upsert with the call position in the merge key —
    * `MERGE (caller)-[e:CALLS {pos}]->(callee)`. Position is stored in the
    * `line` column. `batch` columns: src, dst, pos. */
  def addCalls(g: PropertyGraph, batch: DataFrame): MutationResult = {
    val ids = g.nodes.select(col("id"))
    val textCol = if (batch.columns.contains("text")) col("text")
      else lit(null).cast(StringType)
    val b = batch.select(col("src"), col("dst"),
        col("pos").cast(LongType).as("line"), textCol.as("text"))
      .groupBy(col("src"), col("dst"), col("line"))
      .agg(first(col("text"), ignoreNulls = true).as("text"))
      .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      .cache()
    val toInsert =
      if (g.edgesKnownEmpty) b // bulk-load fast path: nothing to anti-join
      else b.join(g.edges.filter(col("type") === "CALLS")
        .select(col("src"), col("dst"), col("line")),
        Seq("src", "dst", "line"), "left_anti")
    val insertedEdges = conform(
      toInsert.select(col("src"), col("dst"), lit("CALLS").as("type"),
        col("line"), col("text")),
      edgeSchema)
    val edges2 =
      if (g.edgesKnownEmpty) insertedEdges
      else conform(g.edges, edgeSchema).unionByName(insertedEdges)
    MutationResult(g.copy(edges = edges2, edgesKnownEmpty = false), b,
      ChangeSummary(relationshipsCreated = toInsert.count()), cached = Seq(b))
  }

  // ---------------------------------------------------------------- M5

  /** M5 `set_functions_metadata` (`api/graph.py:290-304`): batch zip-update
    * `UNWIND range(...) … MATCH (f) WHERE ID(f)=ids[i] SET f += values[i]`.
    * Well-known keys (`doc`, `coverage_precentage`) are promoted to their
    * typed columns; the rest merge into `props`. */
  def setNodesMetadata(g: PropertyGraph, ids: Seq[Long],
      values: Seq[Map[String, String]]): MutationResult = {
    require(ids.length == values.length, "ids/values must zip")
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val upd = ids.zip(values).toDF("_uid", "_uvals")
    val nPropsSet = values.map(_.size.toLong).sum
    val openTail = map_filter(col("_uvals"),
      (k, _) => k =!= "doc" && k =!= "coverage_precentage")
    val nodes2 = g.nodes.join(upd, col("id") === col("_uid"), "left")
      .select(col("id"), col("labels"), col("name"), col("path"), col("ext"),
        col("src_start"), col("src_end"),
        when(col("_uid").isNotNull && map_contains_key(col("_uvals"), "doc"),
          element_at(col("_uvals"), "doc")).otherwise(col("doc")).as("doc"),
        when(col("_uid").isNotNull &&
            map_contains_key(col("_uvals"), "coverage_precentage"),
          element_at(col("_uvals"), "coverage_precentage").cast("double"))
          .otherwise(col("coverage_precentage")).as("coverage_precentage"),
        when(col("_uid").isNotNull, mergeProps(col("props"), openTail))
          .otherwise(col("props")).as("props"))
    MutationResult(
      g.copy(nodes = conform(nodes2, nodeSchema)),
      upd.select(col("_uid").as("id")),
      ChangeSummary(propertiesSet = nPropsSet))
  }

  // ---------------------------------------------------------------- M6

  /** M6 `set_file_coverage` (`api/graph.py:468-480`): set the file's
    * `coverage_precentage`; when it is exactly 1.0, cascade 1.0 to every
    * Function the file DEFINES (conditional 1-hop cascade). */
  def setFileCoverage(g: PropertyGraph, path: String, name: String, ext: String,
      coverage: Double): MutationResult =
    setFilesCoverage(g,
      Seq(GraphOp.FileCoverageRow(path, name, ext, coverage)))

  /** Batched [[setFileCoverage]] — one nodes rewrite for a whole tracefile
    * (the lcov writeback applies hundreds of file percentages at once;
    * per-file mutations would be one sequential Spark job each). Duplicate
    * file keys keep the LAST row (the reference's sequential SETs —
    * last record wins). */
  def setFilesCoverage(g: PropertyGraph,
      rows: Seq[GraphOp.FileCoverageRow]): MutationResult = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val lastPerKey = rows.groupBy(r => (r.path, r.name, r.ext))
      .map(_._2.last).toSeq
    val batch = lastPerKey.map(r => (r.path, r.name, r.ext, r.coverage))
      .toDF("_cpath", "_cname", "_cext", "_ccov")
    // null-safe key match (root-level files carry null path components)
    val files = g.nodes.filter(array_contains(col("labels"), "File"))
      .join(broadcast(batch), col("path") <=> col("_cpath") &&
        col("name") <=> col("_cname") && col("ext") <=> col("_cext"))
      .select(col("id").as("_uid"), col("_ccov"))
    // fully-covered files cascade 1.0 to the Functions they DEFINE
    val fullIds = files.filter(col("_ccov") === 1.0)
      .select(col("_uid").as("src"))
    val funcTargets = g.edges.filter(col("type") === "DEFINES")
      .join(fullIds, Seq("src"), "left_semi")
      .select(col("dst").as("id")).distinct()
      .join(g.nodes.filter(array_contains(col("labels"), "Function"))
        .select(col("id")), Seq("id"), "left_semi")
      .select(col("id").as("_uid"), lit(1.0).as("_ccov"))
    val t = files.union(funcTargets).cache()
    val nodes2 = g.nodes.join(t, col("id") === col("_uid"), "left")
      .withColumn("coverage_precentage",
        when(col("_uid").isNotNull, col("_ccov"))
          .otherwise(col("coverage_precentage")))
      .drop("_uid", "_ccov")
    MutationResult(
      g.copy(nodes = conform(nodes2, nodeSchema)),
      t.select(col("_uid").as("id")),
      ChangeSummary(propertiesSet = t.count()), cached = Seq(t))
  }

  // ---------------------------------------------------------------- M7

  /** M7 `delete_files` (`api/graph.py:408-426`): cascading delete over the
    * transitive closure of DEFINES (`OPTIONAL MATCH (f)-[:DEFINES*]->(e)
    * DELETE f, e`), plus graph-DB delete semantics: every edge touching a
    * deleted node goes too. */
  def deleteFiles(g: PropertyGraph, files: Seq[GraphOp.FileKey]): MutationResult = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    deleteFiles(g, files.map(f => (f.path, f.name, f.ext)).toDF("path", "name", "ext"))
  }

  /** DataFrame-keyed variant of [[deleteFiles]] — the scale path: victim
    * keys stay distributed (no driver-side key list). */
  def deleteFiles(g: PropertyGraph, keys: DataFrame): MutationResult = {
    val allEdges = g.edges
    val roots = g.nodes.filter(array_contains(col("labels"), "File"))
      .join(keys, Seq("path", "name", "ext"), "left_semi")
      .select(col("id"))
    // reachableFrom checkpoints its result, so victims is already pinned
    val victims = Paths.reachableFrom(
      allEdges.filter(col("type") === "DEFINES"), roots)
    val nodes2 = g.nodes.join(victims, Seq("id"), "left_anti")
    val edges2 = allEdges
      .join(victims.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
      .join(victims.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
      .select(g.edges.columns.map(col).toIndexedSeq: _*)
    MutationResult(g.copy(nodes = nodes2, edges = edges2), victims, {
      // count edges touching any victim with hash-joinable equi semi/anti
      // joins (an OR-condition semi-join plans as a nested-loop join):
      // |src∈V| + |dst∈V ∧ src∉V|
      val bySrc = allEdges
        .join(victims.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      val byDstOnly = allEdges
        .join(victims.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
        .join(victims.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      ChangeSummary(nodesDeleted = victims.count(),
        relationshipsDeleted = bySrc.count() + byDstOnly.count())
    })
  }

  // ------------------------------------------------------- M8–M10 (commits)

  /** M8 `add_commit` (`api/git_utils/git_graph.py:45-57`): upsert on hash.
    * Commit mapping: name=hash, doc=message, src_start=date (unix secs),
    * props.author. `batch` columns: hash, author, message, date. */
  def addCommits(g: PropertyGraph, batch: DataFrame): MutationResult = {
    val b = batch.select(lit("Commit").as("label"), col("hash").as("name"),
      lit(null).cast(StringType).as("path"), col("date").cast(LongType).as("src_start"),
      lit(null).cast(LongType).as("src_end"), col("message").as("doc"),
      map(lit("author"), col("author")).as("props"))
    addEntities(g, b)
  }

  def addCommit(g: PropertyGraph, hash: String, author: String,
      message: String, date: Long): MutationResult = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    addCommits(g, Seq((hash, author, message, date))
      .toDF("hash", "author", "message", "date"))
  }

  /** M9 `connect_commits` (`api/git_utils/git_graph.py:99-113`): materialize
    * both directions — (child)-[:PARENT]->(parent), (parent)-[:CHILD]->(child). */
  def connectCommits(g: PropertyGraph, childHash: String,
      parentHash: String): MutationResult = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    connectCommitsBatch(g,
      Seq((childHash, parentHash)).toDF("child_hash", "parent_hash"))
  }

  /** Batched M9: `pairs` has (child_hash, parent_hash); hash→id resolution
    * is a join against the Commit nodes (no per-pair driver lookups — a
    * 10k-commit history connects in one mutation). */
  def connectCommitsBatch(g: PropertyGraph, pairs: DataFrame): MutationResult = {
    val commits = g.nodes.filter(array_contains(col("labels"), "Commit"))
      .select(col("name").as("_hash"), col("id").as("_cid"))
    val resolved = pairs
      .join(commits, col("child_hash") === col("_hash"))
      .withColumnRenamed("_cid", "child_id").drop("_hash")
      .join(commits, col("parent_hash") === col("_hash"))
      .withColumnRenamed("_cid", "parent_id").drop("_hash")
    val parentE = resolved.select(col("child_id").as("src"),
      col("parent_id").as("dst"), lit("PARENT").as("type"),
      map().cast(MapType(StringType, StringType)).as("props"))
    val childE = resolved.select(col("parent_id").as("src"),
      col("child_id").as("dst"), lit("CHILD").as("type"),
      map().cast(MapType(StringType, StringType)).as("props"))
    connectEntities(g, parentE.unionByName(childE))
  }

  /** M10 `set_parent_transition` / `set_child_transition`
    * (`api/git_utils/git_graph.py:116-141`): store the op-log arrays on the
    * PARENT/CHILD edge between two commits. */
  def setTransition(g: PropertyGraph, fromHash: String, toHash: String,
      relType: String, queries: Seq[String], params: Seq[String]): MutationResult = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    setTransitions(g, Seq((fromHash, toHash, relType, queries, params))
      .toDF("from_hash", "to_hash", "rel_type", "queries", "params"))
  }

  /** Batched M10: one edge-table rewrite stores EVERY transition of a
    * history walk (`batch`: from_hash, to_hash, rel_type, queries, params).
    * Hashes resolve via join; the update is a left join on (src, dst,
    * type) — no per-transition scans. */
  def setTransitions(g: PropertyGraph, batch: DataFrame): MutationResult = {
    val commits = g.nodes.filter(array_contains(col("labels"), "Commit"))
      .select(col("name").as("_hash"), col("id").as("_cid"))
    val resolved = batch
      .join(commits, col("from_hash") === col("_hash"))
      .withColumnRenamed("_cid", "_usrc").drop("_hash")
      .join(commits, col("to_hash") === col("_hash"))
      .withColumnRenamed("_cid", "_udst").drop("_hash")
      .select(col("_usrc"), col("_udst"), col("rel_type").as("_utype"),
        col("queries").as("_uq"), col("params").as("_up"))
    val edges2 = g.edges
      .join(resolved, col("src") === col("_usrc") &&
        col("dst") === col("_udst") && col("type") === col("_utype"), "left")
      .withColumn("queries",
        when(col("_usrc").isNotNull, col("_uq")).otherwise(col("queries")))
      .withColumn("params",
        when(col("_usrc").isNotNull, col("_up")).otherwise(col("params")))
      .drop("_usrc", "_udst", "_utype", "_uq", "_up")
    MutationResult(
      g.copy(edges = conform(edges2, edgeSchema)),
      resolved.select(col("_usrc").as("src"), col("_udst").as("dst"),
        col("_utype").as("type")),
      ChangeSummary(propertiesSet = 2 * resolved.count())) // lazy (by-name)
  }

  // ---------------------------------------------------------------- M11

  /** M11 `rerun_query` (`api/graph.py:540-545`): replay one logged op. */
  def applyOp(g: PropertyGraph, op: GraphOp): MutationResult = op match {
    case o: GraphOp.AddEntity =>
      addEntity(g, o.label, o.name, o.path, o.srcStart, o.srcEnd, o.doc, o.props)
    case o: GraphOp.AddFile => addFile(g, o.path, o.name, o.ext)
    case o: GraphOp.ConnectEntities =>
      connectEntities(g, o.relType, o.src, o.dst, o.props)
    case o: GraphOp.AddCall =>
      val spark = g.nodes.sparkSession
      import spark.implicits._
      addCalls(g, Seq((o.callerId, o.calleeId, o.pos)).toDF("src", "dst", "pos"))
    case o: GraphOp.SetNodesMetadata => setNodesMetadata(g, o.ids, o.values)
    case o: GraphOp.SetFileCoverage =>
      setFileCoverage(g, o.path, o.name, o.ext, o.coverage)
    case o: GraphOp.SetFilesCoverage => setFilesCoverage(g, o.rows)
    case o: GraphOp.DeleteFiles => deleteFiles(g, o.files)
    case o: GraphOp.AddCommit => addCommit(g, o.hash, o.author, o.message, o.date)
    case o: GraphOp.ConnectCommits => connectCommits(g, o.childHash, o.parentHash)
    case o: GraphOp.SetTransition =>
      setTransition(g, o.fromHash, o.toHash, o.relType, o.queries, o.params)
    case o: GraphOp.AddEntitiesBatch =>
      val spark = g.nodes.sparkSession
      import spark.implicits._
      addEntities(g, o.rows.map(r =>
          (r.label, r.name, r.path, r.srcStart, r.srcEnd, r.doc, r.props))
        .toDF("label", "name", "path", "src_start", "src_end", "doc", "props"))
    case o: GraphOp.AddFilesBatch =>
      val spark = g.nodes.sparkSession
      import spark.implicits._
      addFiles(g, o.rows.map(r => (r.path, r.name, r.ext))
        .toDF("path", "name", "ext"))
    case o: GraphOp.ConnectEntitiesBatch =>
      val spark = g.nodes.sparkSession
      import spark.implicits._
      connectEntities(g, o.rows.map(r => (r.src, r.dst, r.relType, r.props))
        .toDF("src", "dst", "type", "props"))
    case o: GraphOp.AddCallsBatch =>
      val spark = g.nodes.sparkSession
      import spark.implicits._
      addCalls(g, o.rows.map(r => (r.src, r.dst, r.pos, r.text))
        .toDF("src", "dst", "pos", "text"))
  }
}
