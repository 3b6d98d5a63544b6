package graft.api

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec
import graft.graph.{CodeGraph, GraphQueries, GraphStore}
import graft.ingest.Ingestor

/** The resident serving index ([[GraphStore.view]] of a repo within the
  * guard) against the DataFrame reads of [[graft.graph.SnapshotReader]]:
  * every read endpoint returns the same JSON on both paths, the index path
  * runs no Spark job, every write through the store makes the next read see
  * the new graph, and the resident indexes keep within the bound. */
class ServingIndexSpec extends SparkSpec {
  import ServingIndexSpec._

  /** A store whose reads take the index, and one over the same warehouse
    * whose guard admits no repo of `limit` rows or more. */
  private def stores(limit: Long = -1): (GraphStore, GraphStore) = {
    val wh = Files.createTempDirectory("graft-serve-wh").toString
    val df = new GraphStore(spark, wh)
    df.servingLimit = limit
    (new GraphStore(spark, wh), df)
  }

  private def build(store: GraphStore, repo: String,
      sources: Seq[Ingestor.SourceFile]): Unit = {
    val g = new CodeGraph(spark, repo, Some(store))
    Ingestor.ingest(g, sources)
    g.checkpointNow(); g.save()
  }

  private def ids(store: GraphStore, repo: String): Map[String, Long] =
    store.load(repo).nodes.select("name", "id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Spark jobs started while `f` ran: a marker job closes the window, and
    * the listener bus delivers events in order. */
  private def jobsDuring(f: => Unit): Int = {
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(MarkerKey) != null)) marker.countDown()
        else if (marker.getCount > 0) { seen.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      f
      sc.setLocalProperty(MarkerKey, "1")
      try spark.range(1).count() finally sc.setLocalProperty(MarkerKey, null)
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      seen.get()
    } finally sc.removeSparkListener(listener)
  }

  /** Every read endpoint on `repo`, as the JSON to compare: exact where the
    * DataFrame read's order is fixed by its plan (scans, limits), sorted
    * where it comes out of a join. */
  private def reads(api: Endpoints, repo: String, prefixes: Seq[String],
      neighbours: Seq[Seq[Long]], pairs: Seq[(Long, Long)],
      questions: Seq[String]): Seq[(String, Seq[String])] = {
    def ok(r: api.ApiResponse): JsonNode = {
      assert(r.code == 200, r.json); r.body
    }
    def each(n: JsonNode): Seq[String] = n.elements().asScala.map(_.toString).toSeq
    val ent = ok(api.graphEntities(Some(repo))).get("entities")
    Seq("graph_entities.nodes" -> each(ent.get("nodes")),
      "graph_entities.edges" -> each(ent.get("edges")).sorted,
      "repo_info" -> Seq(ok(api.repoInfo(Some(repo))).toString)) ++
      prefixes.map(p => s"auto_complete $p" ->
        Seq(ok(api.autoComplete(Some(repo), Some(p))).toString)) ++
      neighbours.flatMap { ns =>
        val nb = ok(api.getNeighbors(Some(repo), Some(ns))).get("neighbors")
        Seq(s"get_neighbors $ns nodes" -> each(nb.get("nodes")),
          s"get_neighbors $ns edges" -> each(nb.get("edges")).sorted)
      } ++
      pairs.map { case (s, d) => s"find_paths $s $d" ->
        each(ok(api.findPaths(Some(repo), Some(s), Some(d))).get("paths")).sorted } ++
      questions.map(q => s"chat $q" -> Seq(ok(api.chatAsk(Some(repo), Some(q))).toString))
  }

  /** Asserts both stores answer every read alike, the index store in zero
    * Spark jobs once its index is built. */
  private def assertParity(indexed: GraphStore, df: GraphStore, repo: String,
      prefixes: Seq[String], neighbours: Seq[Seq[Long]],
      pairs: Seq[(Long, Long)], questions: Seq[String]): Seq[(String, Seq[String])] = {
    assert(indexed.servingIndex(repo).isDefined)
    assert(df.servingIndex(repo).isEmpty)
    val viaDf = reads(new Endpoints(spark, df, RuleChatClient), repo,
      prefixes, neighbours, pairs, questions)
    var viaIndex = Seq.empty[(String, Seq[String])]
    val jobs = jobsDuring {
      viaIndex = reads(new Endpoints(spark, indexed, RuleChatClient), repo,
        prefixes, neighbours, pairs, questions)
    }
    viaIndex.zip(viaDf).foreach { case ((what, a), (_, b)) =>
      assert(a == b, s"$what differs")
    }
    assert(jobs == 0, s"index reads ran $jobs Spark jobs")
    viaIndex
  }

  test("index and DataFrame reads agree on the endpoint fixture") {
    val (indexed, df) = stores()
    build(indexed, "proj", EndpointsSpec.fixture)
    val id = ids(df, "proj")
    val out = assertParity(indexed, df, "proj",
      prefixes = Seq("set", "", "zzz", "Run"),
      neighbours = Seq(Seq(id("src.py")), Seq(id("setup"), id("run"), id("setup")),
        Seq(99999999L)),
      pairs = Seq(id("run") -> id("configure"), id("setup") -> id("setup"),
        id("configure") -> id("run"), id("run") -> 99999999L),
      questions = Seq("who calls configure?", "what does setup call?",
        "list functions", "list classes", "make me a sandwich"))
    assert(out.toMap.apply(s"find_paths ${id("run")} ${id("configure")}").size == 1)
    // at every cut, the index takes the sub-graph rows in the DataFrame
    // plan's own order: nodes in scan order, each node's edges newest first
    val g = df.load("proj")
    val ix = indexed.servingIndex("proj").get
    for (cut <- 1 to 20) {
      val rows = GraphQueries.getSubGraph(g, cut).collect().toSeq
        .filter(!_.isNullAt(3)).map(r => (r.getString(3), r.getLong(0), r.getLong(4)))
      assert(ix.subGraph(cut)._2 == rows, s"cut at $cut")
    }
  }

  test("index and DataFrame reads agree past 500 sub-graph rows, in scan order") {
    // 30 modules × 20 functions: 631 nodes, 600 DEFINES and ~1,800 CALLS
    // edges, so graph_entities cuts its sub-graph. In id order the first
    // 500 rows would be 25 File nodes with 20 DEFINES edges each: 525
    // nodes. The guard of the DataFrame store is 500 rows, below this repo.
    val (indexed, df) = stores(limit = 500)
    build(indexed, "big", tree(30))
    val id = ids(df, "big")
    val out = assertParity(indexed, df, "big",
      prefixes = Seq("m00_f1", "m2", "m29_f19", "pr"),
      neighbours = Seq(Seq(id("m03_f00")), Seq(id("m07_f18"), id("m07_f19")),
        Seq(id("print"))),
      pairs = Seq(id("m00_f00") -> id("m00_f05"), id("m04_f17") -> id("m05_f02"),
        id("m09_f05") -> id("m09_f00")),
      questions = Seq("who calls m05_f03?", "what does m05_f00 call?",
        "list files", "who calls print?"))
    val nodes = out.toMap.apply("graph_entities.nodes").size
    assert(nodes >= 1 && nodes <= 500, s"$nodes nodes")
    // the guard itself: one edge over it sends the repo down the DataFrame path
    val edges = indexed.servingIndex("big").get.edgeCount
    val again = new GraphStore(spark, df.warehouse)
    again.servingLimit = edges - 1
    assert(again.servingIndex("big").isEmpty)
    again.servingLimit = edges
    assert(again.servingIndex("big").isEmpty, "the over-bound result is kept")
    assert(new GraphStore(spark, df.warehouse).servingIndex("big").isDefined)
  }

  test("every write drops the index: re-analysis, delete, clone onto a name") {
    val (indexed, df) = stores()
    val api = new Endpoints(spark, indexed, RuleChatClient)
    val dfApi = new Endpoints(spark, df, RuleChatClient)
    def same(repo: String): Unit = Seq[Endpoints => Endpoints#ApiResponse](
        _.graphEntities(Some(repo)), _.repoInfo(Some(repo)),
        _.autoComplete(Some(repo), Some("m")),
        _.chatAsk(Some(repo), Some("list functions")))
      .foreach(read => assert(read(api).json == read(dfApi).json))
    def has(repo: String, prefix: String): Boolean =
      api.autoComplete(Some(repo), Some(prefix)).body.get("completions").size() > 0

    // analyze_folder twice on one folder name, the second time with a new module
    val dir = Files.createTempDirectory("graft-serve-src").resolve("work")
    write(dir, tree(2))
    assert(api.analyzeFolder(Some(dir.toString)).code == 200)
    same("work")
    assert(!has("work", "m02_"))
    write(dir, tree(3))
    assert(api.analyzeFolder(Some(dir.toString)).code == 200)
    same("work")
    assert(has("work", "m02_"))

    // delete, then the name again with another graph
    indexed.delete("work")
    assert(api.graphEntities(Some("work")).status == "Missing project work")
    assert(indexed.servingIndex("work").isEmpty)
    build(indexed, "work", EndpointsSpec.fixture)
    same("work")
    assert(!has("work", "m") && has("work", "set"))

    // clone onto an existing, already served name
    build(indexed, "other", tree(2))
    same("other")
    assert(has("other", "m01_"))
    indexed.cloneGraph("work", "other")
    same("other")
    assert(!has("other", "m") && has("other", "set"))
  }

  test("resident indexes keep within the bound together, least recently read dropped first") {
    val (indexed, df) = stores()
    build(indexed, "a", tree(2))
    build(indexed, "b", tree(3))
    val api = new Endpoints(spark, indexed, RuleChatClient)
    val dfApi = new Endpoints(spark, df, RuleChatClient)
    def read(repo: String): Unit =
      assert(api.graphEntities(Some(repo)).json == dfApi.graphEntities(Some(repo)).json)
    read("a"); read("b"); read("a")
    assert(indexed.residentRepos == Seq("b", "a"))

    // a bound the larger repo fits alone, but not with the other one
    val big = indexed.servingIndex("b").get
    val bounded = new GraphStore(spark, df.warehouse)
    bounded.servingLimit = math.max(big.nodeCount, big.edgeCount)
    val boundedApi = new Endpoints(spark, bounded, RuleChatClient)
    for (repo <- Seq("a", "b", "a", "b")) {
      assert(boundedApi.graphEntities(Some(repo)).json == dfApi.graphEntities(Some(repo)).json)
      assert(bounded.residentRepos == Seq(repo))
    }
  }
}

object ServingIndexSpec {
  private val MarkerKey = "graft.test.marker"

  private def fn(module: Int, j: Int): String = f"m$module%02d_f$j%02d"

  /** `modules` Python modules of 20 functions: each calls the next two of
    * its module and `print`, the first calls the second twice (parallel
    * CALLS edges), and the last calls the next module's first. */
  def tree(modules: Int): Seq[Ingestor.SourceFile] =
    (0 until modules).map { m =>
      val body = (0 until 20).map { j =>
        val callees =
          if (j == 19) Seq(fn((m + 1) % modules, 0))
          else (j + 1 to math.min(j + 2, 19)).map(fn(m, _)) ++
            (if (j == 0) Seq(fn(m, 1)) else Nil)
        (s"def ${fn(m, j)}(x):" +: callees.map(c => s"    $c(x)")) ++
          Seq("    print(x)", "")
      }
      Ingestor.SourceFile(f"pkg/m$m%02d.py", body.flatten.mkString("\n"))
    }

  def write(dir: Path, sources: Seq[Ingestor.SourceFile]): Unit =
    sources.foreach { s =>
      val p = dir.resolve(s.path)
      Files.createDirectories(p.getParent)
      Files.write(p, s.source.getBytes("UTF-8"))
    }
}
