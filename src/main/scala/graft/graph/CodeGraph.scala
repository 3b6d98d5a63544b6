package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** Stateful facade over one repo graph — the Spark-native equivalent of the
  * reference's `Graph` class (`/root/reference/api/graph.py`).
  *
  * Holds the current snapshot, applies mutations through
  * [[Mutations.applyOp]], and implements the backlog protocol (C8,
  * `api/graph.py:92-171`): when enabled, any op whose [[ChangeSummary]]
  * reports a change is recorded (serialized via [[OpLog]]) — this feeds the
  * git time-travel machinery (SURVEY §2.6 F5/F6).
  *
  * Mutations checkpoint the snapshot every few ops to keep plan lineage
  * bounded (read-modify-write chains otherwise nest plans indefinitely).
  */
final class CodeGraph(val spark: SparkSession, val name: String,
    store: Option[GraphStore] = None) {

  private var current: PropertyGraph =
    store.filter(_.exists(name)).map(_.load(name)).getOrElse(GraphSchema.empty(spark))
  private var opsSinceCheckpoint = 0
  // frames cached since the last checkpointNow (mutations' and the
  // ingest's): the current snapshot's lineage reads them until it is pinned
  private val cachedSincePin = ArrayBuffer.empty[DataFrame]

  // ---- backlog (C8) --------------------------------------------------
  private var backlogEnabled = false
  private val backlog = ArrayBuffer.empty[String]

  def enableBacklog(): Unit = { backlogEnabled = true }
  def disableBacklog(): Unit = { backlogEnabled = false }
  def clearBacklog(): Unit = backlog.clear()
  def getBacklog: Seq[String] = backlog.toSeq

  def graph: PropertyGraph = current

  /** Apply one op, log it if it changed anything (change detection mirrors
    * `api/graph.py:152-169`), and return the affected rows. */
  def mutate(op: GraphOp): MutationResult = {
    val res = Mutations.applyOp(current, op)
    current = res.graph
    cachedSincePin ++= res.cached
    opsSinceCheckpoint += 1
    if (opsSinceCheckpoint >= 4) { // bound lineage growth
      current = current.checkpointed()
      opsSinceCheckpoint = 0
    }
    if (backlogEnabled && res.summary.changed) backlog += OpLog.encode(op)
    res
  }

  /** M11 `rerun_query` (`api/graph.py:540-545`): replay serialized ops. */
  def rerun(opJson: String): MutationResult = mutate(OpLog.decode(opJson))

  /** Batch mutation entry points (ingest path — one job per batch, not one
    * round-trip per entity; SURVEY §3.1 Spark trace). With the backlog ON
    * (history walks, C8) each batch is captured as ONE op-log entry holding
    * its rows — the reference backlogs one Cypher query per entity
    * (`api/graph.py:141-150`); batch granularity replays identically
    * (deterministic ID assignment) with far fewer entries. Batches during
    * a history walk are one commit's diff — small by construction. */
  def addEntities(batch: DataFrame): MutationResult =
    logged(batch, Mutations.addEntities(current, _)) { rows =>
      GraphOp.AddEntitiesBatch(rows.map(r => GraphOp.EntityRow(
        r.getAs[String]("label"), r.getAs[String]("name"),
        r.getAs[String]("path"), r.getAs[Long]("src_start"),
        r.getAs[Long]("src_end"), r.getAs[String]("doc"),
        Option(r.getAs[scala.collection.Map[String, String]]("props"))
          .map(_.toMap).getOrElse(Map.empty))))
    }
  def addFiles(batch: DataFrame): MutationResult =
    logged(batch, Mutations.addFiles(current, _)) { rows =>
      GraphOp.AddFilesBatch(rows.map(r => GraphOp.FileKey(
        r.getAs[String]("path"), r.getAs[String]("name"),
        r.getAs[String]("ext"))))
    }
  def connectEntities(batch: DataFrame): MutationResult =
    logged(batch, Mutations.connectEntities(current, _)) { rows =>
      GraphOp.ConnectEntitiesBatch(rows.map(r => GraphOp.EdgeRow(
        r.getAs[Long]("src"), r.getAs[Long]("dst"), r.getAs[String]("type"),
        Option(r.getAs[scala.collection.Map[String, String]]("props"))
          .map(_.toMap).getOrElse(Map.empty))))
    }
  def addCalls(batch: DataFrame): MutationResult =
    logged(batch, Mutations.addCalls(current, _)) { rows =>
      GraphOp.AddCallsBatch(rows.map(r => GraphOp.CallRow(
        r.getAs[Long]("src"), r.getAs[Long]("dst"), r.getAs[Long]("pos"),
        if (r.schema.fieldNames.contains("text")) r.getAs[String]("text")
        else null)))
    }

  /** Commit-graph batch mutations (M8–M10 bulk forms). Git graphs are
    * never backlogged (the reference's GitGraph has none,
    * `api/git_utils/git_graph.py`), so these skip op capture. */
  def addCommits(batch: DataFrame): MutationResult =
    track(Mutations.addCommits(current, batch))
  def connectCommitsBatch(pairs: DataFrame): MutationResult =
    track(Mutations.connectCommitsBatch(current, pairs))
  def setTransitions(batch: DataFrame): MutationResult =
    track(Mutations.setTransitions(current, batch))

  /** Apply a batch mutation; when the backlog is on, the batch is collected
    * ONCE and the mutation runs against the pinned local rows — one
    * evaluation of the (join-heavy) batch plan serves both the op-log
    * capture and the rewrite, and the rewrite's own plan shrinks to a
    * local-relation scan. History-walk batches are one commit's diff, small
    * by construction. Zero extra cost with the backlog off. */
  private def logged(batch: DataFrame,
      run: DataFrame => MutationResult)(
      toOp: Seq[org.apache.spark.sql.Row] => GraphOp): MutationResult = {
    if (!backlogEnabled) return track(run(batch))
    val rows = batch.collect().toSeq
    val pinned = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      batch.schema)
    val res = track(run(pinned))
    if (res.summary.changed) backlog += OpLog.encode(toOp(rows))
    res
  }

  /** Force-materialize the current snapshot (cuts lineage; call after a
    * bulk build phase so later actions don't replay ID assignment), then
    * release the frames cached since the last call: nothing of the pinned
    * snapshot reads them any more. */
  def checkpointNow(): Unit = {
    current = current.checkpointed()
    opsSinceCheckpoint = 0
    cachedSincePin.foreach(_.unpersist(blocking = false))
    cachedSincePin.clear()
  }

  /** Frames a build phase cached for its own batches, released with the
    * mutations' at the next [[checkpointNow]]. */
  def releaseAtCheckpoint(frames: DataFrame*): Unit = cachedSincePin ++= frames

  private def track(res: MutationResult): MutationResult = {
    current = res.graph
    cachedSincePin ++= res.cached
    opsSinceCheckpoint += 1
    // every-op checkpointing measured 6x SLOWER on bulk builds (the eager
    // materialization defeats plan reuse across the mutation's own joins);
    // interval-4 plus an explicit checkpointNow() after build phases wins.
    if (opsSinceCheckpoint >= 4) {
      current = current.checkpointed(); opsSinceCheckpoint = 0
    }
    res
  }

  def save(): Unit = store.foreach(_.save(name, current))
}
