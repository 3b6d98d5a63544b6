package perfbench

import java.nio.file.{Paths => JPaths}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.api.{Endpoints, RuleChatClient}
import graft.git.{GitCli, GitHistory}
import graft.graph.{CodeGraph, GraphQueries, GraphStore, Paths}
import graft.ingest.{DependencyExpansion, Ingestor, PythonFrontend}

/** The traced run's view of each layer, timed from outside: the harness
  * calls the layer's public functions directly, in the order the endpoint
  * (or the setup request) calls them, and records each call as a segment. */
final class Layers(spark: SparkSession, store: GraphStore, seg: Segments) {
  import Call._

  private val endpoints = new Endpoints(spark, store, RuleChatClient)

  /** The `Endpoints` calls the HTTP route makes, with the same arguments. */
  def endpoint(c: Call): Unit = {
    val codes = c match {
      case Open(r) => Seq(endpoints.graphEntities(Some(r)).code,
        endpoints.repoInfo(Some(r)).code)
      case Complete(r, p) => Seq(endpoints.autoComplete(Some(r), Some(p)).code)
      case Expand(r, id) => Seq(endpoints.getNeighbors(Some(r), Some(Seq(id))).code)
      case FindPaths(r, s, d) => Seq(endpoints.findPaths(Some(r), Some(s), Some(d)).code)
      case Chat(r, q) => Seq(endpoints.chatAsk(Some(r), Some(q)).code)
      case Switch(r, to) => Seq(endpoints.switchCommit(Some(r), Some(to)).code)
    }
    require(codes.forall(_ == 200), s"direct call $c returned $codes")
  }

  private def load(r: String) = seg("store") { require(store.exists(r)); store.load(r) }
  private def nodesById(g: graft.graph.PropertyGraph, ids: Seq[Long]): Array[Row] =
    if (ids.isEmpty) Array.empty
    else seg("query") { g.nodes.filter(col("id").isin(ids: _*)).collect() }

  /** The store and query calls of a read endpoint, in its order. Returns
    * the number of rows the queries returned. */
  def decompose(c: Call): Long = c match {
    case Open(r) =>
      val g = load(r)
      val sub = seg("query") { GraphQueries.getSubGraph(g, 500).collect() }
      val ids = (sub.map(_.getAs[Long]("src_id")) ++
        sub.filter(!_.isNullAt(4)).map(_.getAs[Long]("dst_id"))).distinct
      val nodes = nodesById(g, ids.toIndexedSeq)
      val g2 = load(r)
      val stats = seg("query") { GraphQueries.stats(g2).collect() }
      seg("store") { store.getInfo(r) }
      sub.length + nodes.length + stats.length
    case Complete(r, p) =>
      val g = load(r)
      seg("query") { GraphQueries.autoComplete(g, p).collect() }.length
    case Expand(r, id) =>
      val g = load(r)
      val out = seg("query") { GraphQueries.getNeighbors(g, Seq(id)).collect() }
      out.length + nodesById(g, out.map(_.getAs[Long]("id")).distinct.toIndexedSeq).length
    case FindPaths(r, s, d) =>
      val g = load(r)
      val paths = seg("query") { Paths.findPaths(g, s, d).collect() }
      val ids = paths.flatMap(_.getAs[scala.collection.Seq[Long]]("path")).distinct
      val edges = if (ids.isEmpty) Array.empty[Row] else seg("query") {
        g.edges.filter(col("type") === "CALLS" && col("src").isin(ids.toIndexedSeq: _*))
          .collect()
      }
      paths.length + nodesById(g, ids.toIndexedSeq).length + edges.length
    case Chat(r, q) =>
      val g = seg("store") { store.load(r) }
      val fn = q.stripPrefix("who calls ").stripSuffix("?")
      seg("query") { GraphQueries.functionCalledBy(g, fn).collect() }.length
    case Switch(r, to) => switch(r, to); 0L
  }

  /** `GitHistory.switchCommit`'s public steps, in its order. */
  def switch(r: String, to: String): Unit = {
    val current = seg("store") { store.getInfo(r)("commit") }
    if (current != to) {
      val gitG = seg("store") {
        new CodeGraph(spark, GitHistory.gitRepoName(r), Some(store))
      }
      val steps = seg("query") {
        val rows = GraphQueries.getCommits(gitG.graph, Seq(current, to)).collect()
          .map(r => r.getAs[String]("hash") -> r).toMap
        val (cur, next) = (rows(current), rows(to))
        val rel = if (cur.getAs[Long]("date") > next.getAs[Long]("date")) "PARENT"
          else "CHILD"
        Paths.chainTransitions(gitG.graph, cur.getAs[Long]("id"),
          next.getAs[Long]("id"), rel).collect().sortBy(_.getAs[Int]("step"))
      }
      val g = seg("store") { new CodeGraph(spark, r, Some(store)) }
      seg("replay") {
        steps.foreach(row => Option(row.getAs[scala.collection.Seq[String]]("queries"))
          .getOrElse(Nil).foreach(q => g.rerun(q)))
      }
      seg("checkpoint") { g.checkpointNow() }
      seg("save") { g.save() }
      seg("store") { store.setInfo(r, Map("commit" -> to)) }
    }
  }

  /** Driver-side `PythonFrontend.extract` over every source of `dir`, in ms
    * per file; the ingest runs the same extraction inside Spark tasks. */
  def extractMsPerFile(dir: String): Double = {
    val sources = GitHistory.readSources(dir)
    val t = System.nanoTime()
    sources.foreach(s => PythonFrontend.extract(s.path, s.source))
    (System.nanoTime() - t) / 1e6 / sources.length
  }

  /** `analyze_folder`'s steps; returns `Ingestor.ingest` seconds. */
  def analyzeFolder(dir: String): Double = {
    val g = new CodeGraph(spark, new java.io.File(dir).getName, Some(store))
    val sources = GitHistory.readSources(dir)
    val t = System.nanoTime()
    Ingestor.ingest(g, sources ++
      DependencyExpansion.expandAll(JPaths.get(dir), sources))
    val ingestS = (System.nanoTime() - t) / 1e9
    g.checkpointNow(); g.save()
    ingestS
  }

  /** `analyze_repo`'s steps on a local repo; returns `Ingestor.ingest`
    * seconds and `buildCommitGraph` seconds. */
  def analyzeRepo(dir: String): (Double, Double) = {
    val name = new java.io.File(dir).getName
    val g = new CodeGraph(spark, name, Some(store))
    val sources = GitHistory.readSources(dir)
    val t = System.nanoTime()
    Ingestor.ingest(g, sources ++
      DependencyExpansion.expandAll(JPaths.get(dir), sources))
    val ingestS = (System.nanoTime() - t) / 1e9
    g.checkpointNow(); g.save()
    store.setInfo(name, Map("commit" -> GitCli.headCommit(dir).hash))
    val t2 = System.nanoTime()
    GitHistory.buildCommitGraph(spark, store, dir, name)
    (ingestS, (System.nanoTime() - t2) / 1e9)
  }

  /** The `GitCli` calls `buildCommitGraph` makes on `dir` (log, a diff and
    * a checkout per step, backward then forward), in ms; leaves HEAD
    * checked out. */
  def gitCliMs(dir: String): Double = {
    val t = System.nanoTime()
    val chain = GitCli.firstParentLog(dir)
    val back = chain.zip(chain.tail)
    back.foreach { case (c, p) =>
      GitCli.diffNameStatus(dir, c.hash, p.hash); GitCli.checkout(dir, p.hash) }
    back.reverse.foreach { case (c, p) =>
      GitCli.diffNameStatus(dir, p.hash, c.hash); GitCli.checkout(dir, c.hash) }
    (System.nanoTime() - t) / 1e6
  }
}
