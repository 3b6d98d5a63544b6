package graft.api

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

import graft.SparkSpec
import graft.graph.{CodeGraph, GraphQueries, GraphStore, PropertyGraph}
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
    val jobs = sparkJobs {
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
    // an info write alone: repo_info shows it, and graph_entities still
    // shows the graph on disk
    var commits = 0
    def commit(repo: String): Unit = {
      commits += 1
      indexed.setInfo(repo, Map("commit" -> s"c$commits"))
      same(repo)
      assert(api.repoInfo(Some(repo)).body.get("info").get("commit").asText() == s"c$commits")
    }

    // analyze_folder twice on one folder name, the second time with a new module
    val dir = Files.createTempDirectory("graft-serve-src").resolve("work")
    write(dir, tree(2))
    assert(api.analyzeFolder(Some(dir.toString)).code == 200)
    same("work")
    assert(!has("work", "m02_"))
    commit("work")
    write(dir, tree(3))
    assert(api.analyzeFolder(Some(dir.toString)).code == 200)
    same("work")
    assert(has("work", "m02_"))
    commit("work")

    // delete, then the name again with another graph
    indexed.delete("work")
    assert(api.graphEntities(Some("work")).status == "Missing project work")
    assert(indexed.servingIndex("work").isEmpty)
    build(indexed, "work", EndpointsSpec.fixture)
    same("work")
    assert(!has("work", "m") && has("work", "set"))
    commit("work")

    // clone onto an existing, already served name
    build(indexed, "other", tree(2))
    same("other")
    assert(has("other", "m01_"))
    indexed.cloneGraph("work", "other")
    same("other")
    assert(!has("other", "m") && has("other", "set"))
    assert(api.repoInfo(Some("other")).body.get("info").get("commit").asText() == s"c$commits")
    commit("other")
  }

  test("graph_entities is encoded once per resident index, and its reply goes with the index") {
    val (indexed, df) = stores()
    build(indexed, "r", tree(2))
    val api = new Endpoints(spark, indexed, RuleChatClient)
    val dfApi = new Endpoints(spark, df, RuleChatClient)
    val first = api.graphEntities(Some("r")).bytes
    val cached = api.graphEntities(Some("r")).bytes
    assert(cached eq first, "the second read encodes again")
    assert(first.sameElements(dfApi.graphEntities(Some("r")).bytes))
    assert(api.cachedReplies == 1)
    assert(dfApi.cachedReplies == 0, "a reply kept over the guard")

    // a write drops the index; once it is collected, so is its reply
    indexed.setInfo("r", Map("commit" -> "c1"))
    assert(!(api.graphEntities(Some("r")).bytes eq first))
    indexed.delete("r")
    assert(api.graphEntities(Some("r")).status == "Missing project r")
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (api.cachedReplies > 0 && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(50)
    }
    assert(api.cachedReplies == 0)
  }

  test("a resident repo answers reads, repo_info included, without touching its files") {
    val (indexed, _) = stores()
    build(indexed, "r", tree(2))
    indexed.setInfo("r", Map("commit" -> "c1"))
    val api = new Endpoints(spark, indexed, RuleChatClient)
    val before = Seq(api.graphEntities(Some("r")).json, api.repoInfo(Some("r")).json,
      api.autoComplete(Some("r"), Some("m01")).json)
    // removed behind the store's back (a write the store cannot see)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(indexed.warehouse, "r"))
    assert(Seq(api.graphEntities(Some("r")).json, api.repoInfo(Some("r")).json,
      api.autoComplete(Some("r"), Some("m01")).json) == before)
    assert(!new GraphStore(spark, indexed.warehouse).exists("r"))
  }

  test("name order: completions and call neighbours agree with the DataFrame reads") {
    // scan order lists the k-names backwards and puts a non-Searchable node
    // of the same name after each one, so that name order and scan order
    // disagree inside one prefix range of more than 10 matches
    val ks = ('a' to 'o').map(c => s"k$c").reverse
    val nodes = ks.flatMap(n => Seq((Seq("Function", "Searchable"), n), (Seq("Function"), n))) ++
      Seq((Seq("Function", "Searchable"), "kqz"), (Seq("Class", "Searchable"), null)) ++
      Seq("caf\u00e9", "cafe", "\ud835\udc53x", "\ud835\udc53", "\ud83d\ude00",
        "\uff21", "\u65e5\u672c").map(n => (Seq("Function", "Searchable"), n)) ++
      (0 until 100).map(i => (Seq("File", "Searchable"), f"x$i%03d")) ++
      // three functions and a class named dup, each called and calling
      Seq(Seq("Function"), Seq("Class"), Seq("Function"), Seq("Function"))
        .map(l => (l :+ "Searchable", "dup")) ++
      Seq("a0", "a1", "a2", "a3", "b0", "b1", "b2", "b3").map(n => (Seq("Function", "Searchable"), n))
    val rows = nodes.zipWithIndex.map { case ((labels, name), i) => ((i + 1).toLong * 7, labels, name) }
    val id = rows.collect { case (i, _, n) if n != null => n -> i }.groupBy(_._1)
      .map { case (n, is) => n -> is.map(_._2) }
    val dups = id("dup")
    val edges = dups.indices.flatMap { k =>
      Seq((id("a" + k).head, dups(k), "CALLS"), (dups(k), id("b" + k).head, "CALLS"))
    } ++ Seq((id("a0").head, dups(2), "CALLS"), (dups(3), id("b0").head, "CALLS"))
    val (indexed, df) = stores()
    indexed.save("names", ServingIndexSpec.graph(spark, rows, edges))
    val api = new Endpoints(spark, indexed, RuleChatClient)
    val dfApi = new Endpoints(spark, df, RuleChatClient)
    assert(indexed.servingIndex("names").isDefined && df.servingIndex("names").isEmpty)

    def names(r: Endpoints#ApiResponse): Seq[String] =
      r.body.get("completions").elements().asScala.map(_.get("properties").get("name").asText()).toSeq
    for (p <- Seq("", "k", "x", "ko", "kq", "kk0", "zz", "dup", "caf", "caf\u00e9",
        "\ud835\udc53", "\uff21", "\u65e5")) {
      val got = api.autoComplete(Some("names"), Some(p))
      assert(got.json == dfApi.autoComplete(Some("names"), Some(p)).json, s"prefix '$p'")
    }
    assert(names(api.autoComplete(Some("names"), Some("k"))) == ks.take(10))
    assert(names(api.autoComplete(Some("names"), Some("kq"))) == Seq("kqz"))
    assert(names(api.autoComplete(Some("names"), Some("\ud835\udc53"))) ==
      Seq("\ud835\udc53x", "\ud835\udc53"))

    val viaIndex = indexed.view("names")
    val viaDf = df.view("names")
    for (incoming <- Seq(true, false)) {
      val got = viaIndex.callNeighbourNames("dup", incoming)
      assert(got.sorted == viaDf.callNeighbourNames("dup", incoming).distinct.sorted)
      // the functions' neighbours only, not the class's, in the scan order
      // of the functions named dup, each name once
      assert(got == (if (incoming) Seq("a0", "a2", "a3") else Seq("b0", "b2", "b3")))
    }
    for (q <- Seq("who calls dup?", "what does dup call?", "who calls ka?"))
      assert(api.chatAsk(Some("names"), Some(q)).json == dfApi.chatAsk(Some("names"), Some(q)).json)
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

  /** A graph of the given (id, labels, name) nodes, each in `p.py`, and
    * (src, dst, type) edges, stored as one file per table in the given
    * order, which is then the scan order. */
  def graph(spark: SparkSession, nodes: Seq[(Long, Seq[String], String)],
      edges: Seq[(Long, Long, String)]): PropertyGraph = {
    import spark.implicits._
    PropertyGraph(nodes.toDF("id", "labels", "name").withColumn("path", lit("p.py")).coalesce(1),
      edges.toDF("src", "dst", "type").coalesce(1))
  }

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
