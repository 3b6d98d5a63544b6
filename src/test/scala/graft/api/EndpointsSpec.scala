package graft.api

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.graph.{CodeGraph, GraphStore}
import graft.ingest.Ingestor

/** F10/F11 — endpoint contract invariants mirrored from the reference's
  * endpoint test suite (`/root/reference/tests/endpoints/`) and
  * `api/index.py:53-488`. */
class EndpointsSpec extends SparkSpec {

  private lazy val store = {
    val wh = Files.createTempDirectory("graft-api-wh").toString
    val s = new GraphStore(spark, wh)
    val g = new CodeGraph(spark, "proj", Some(s))
    Ingestor.ingest(g, EndpointsSpec.fixture)
    g.checkpointNow(); g.save()
    s
  }
  private lazy val api = new Endpoints(spark, store)

  test("validation messages match the reference endpoints") {
    // index.py:71, :118-123, :162-167, :274-288, :436-441, :355
    assert(api.graphEntities(None).status == "Missing 'repo' parameter")
    assert(api.graphEntities(Some("nope")).status == "Missing project nope")
    assert(api.getNeighbors(None, None).status == "Repository name is required.")
    assert(api.getNeighbors(Some("proj"), None).status == "Node IDs is required.")
    assert(api.getNeighbors(Some("proj"), Some(Seq("bad")))
      .status == "Invalid node ID. It must be an integer.")
    assert(api.autoComplete(None, Some("x"))
      .status == "Missing mandatory parameter \"repo\"")
    assert(api.autoComplete(Some("proj"), None)
      .status == "Missing mandatory parameter \"prefix\"")
    assert(api.autoComplete(Some("gone"), Some("x")).status == "Missing project gone")
    assert(api.findPaths(None, Some(1), Some(2))
      .status == "Missing mandatory parameter \"repo\"")
    assert(api.findPaths(Some("proj"), Some("x"), Some(2))
      .status == "src node id must be int")
    assert(api.findPaths(Some("proj"), Some(1), Some("x"))
      .status == "dest node id must be int")
    assert(api.switchCommit(None, Some("abc"))
      .status == "Missing mandatory parameter \"repo\"")
    assert(api.switchCommit(Some("proj"), None)
      .status == "Missing mandatory parameter \"commit\"")
    assert(api.analyzeFolder(None).status == "'path' is required.")
    assert(api.analyzeFolder(Some("/no/such/dir"))
      .status == "Invalid path: must be an existing directory")
    assert(api.chatAsk(None, Some("hi"))
      .status == "Missing mandatory parameter \"repo\"")
    assert(api.chatAsk(Some("proj"), None)
      .status == "Missing mandatory parameter \"msg\"")
    assert(api.repoInfo(None).status == "Missing mandatory parameter \"repo\"")
    assert(api.repoInfo(Some("gone")).status == "Missing repository \"gone\"")
  }

  test("auto_complete: every completion name starts with the prefix") {
    // tests/endpoints/test_auto_complete.py:44-50
    val res = api.autoComplete(Some("proj"), Some("set"))
    assert(res.status == "success")
    val completions = res.body.get("completions").elements().asScala.toSeq
    assert(completions.nonEmpty)
    completions.foreach { c =>
      assert(c.get("properties").get("name").asText().startsWith("set"))
    }
  }

  test("graph_entities: sub-graph nodes strip Searchable; bounded at 500") {
    val res = api.graphEntities(Some("proj"))
    assert(res.status == "success")
    val nodes = res.body.get("entities").get("nodes").elements().asScala.toSeq
    assert(nodes.nonEmpty && nodes.size <= 500)
    nodes.foreach { n =>
      val labels = n.get("labels").elements().asScala.map(_.asText()).toSeq
      assert(!labels.contains("Searchable"))
      assert(labels.nonEmpty)
    }
  }

  test("get_neighbors: {nodes, edges} shape, empty for unknown id") {
    // tests/endpoints/test_get_neighbors.py:47-52
    val empty = api.getNeighbors(Some("proj"), Some(Seq(99999999)))
    assert(empty.status == "success")
    assert(empty.body.get("neighbors").get("nodes").size() == 0)
    assert(empty.body.get("neighbors").get("edges").size() == 0)
    // file node (id resolution: find the file's id via its defined entities)
    val g = store.load("proj")
    val fileId = g.nodes.filter(org.apache.spark.sql.functions
      .array_contains(org.apache.spark.sql.functions.col("labels"), "File"))
      .head().getAs[Long]("id")
    val res = api.getNeighbors(Some("proj"), Some(Seq(fileId)))
    assert(res.status == "success")
    val nb = res.body.get("neighbors")
    assert(nb.get("nodes").size() > 0)
    assert(nb.get("edges").size() == nb.get("nodes").size())
  }

  test("find_paths: interleaved node-edge-node path shape") {
    // setup -> configure is one CALLS hop; run -> set_output -> setup -> configure
    val g = store.load("proj")
    import org.apache.spark.sql.functions._
    val ids = g.nodes.select(col("id"), col("name")).collect()
      .map(r => r.getAs[String]("name") -> r.getAs[Long]("id")).toMap
    val res = api.findPaths(Some("proj"), Some(ids("run")), Some(ids("configure")))
    assert(res.status == "success")
    val paths = res.body.get("paths").elements().asScala.toSeq
    assert(paths.nonEmpty)
    paths.foreach { p =>
      val elems = p.elements().asScala.toSeq
      assert(elems.size % 2 == 1, "odd length: n,e,n,...,n")
      elems.zipWithIndex.foreach { case (e, i) =>
        if (i % 2 == 0) assert(e.has("labels"), "even positions are nodes")
        else assert(e.get("relation").asText() == "CALLS")
      }
      // endpoints are the requested src/dest
      assert(elems.head.get("id").asLong() == ids("run"))
      assert(elems.last.get("id").asLong() == ids("configure"))
    }
  }

  test("list_repos + repo_info + chat stub round trip") {
    val repos = api.listRepos()
    assert(repos.status == "success")
    assert(repos.body.get("repositories").elements().asScala
      .map(_.asText()).toSeq.contains("proj"))

    val info = api.repoInfo(Some("proj"))
    assert(info.status == "success")
    assert(info.body.get("info").get("nodes_count").asLong() > 0)
    assert(info.body.get("info").get("edges_count").asLong() > 0)
    // the stored ID high-water mark is engine bookkeeping, not repo info
    assert(store.getInfo("proj").contains("next_id"))
    assert(!info.body.get("info").has("next_id"))

    // canned client: exact response pass-through (llm.py ask contract)
    val canned = new CannedChatClient(Map("hello" -> "world"))
    val api2 = new Endpoints(spark, store, canned)
    val chat = api2.chatAsk(Some("proj"), Some("hello"))
    assert(chat.status == "success")
    assert(chat.body.get("response").asText() == "world")
    assert(canned.asked.toSeq == Seq(("proj", "hello")))

    // rule client answers caller questions from the real graph
    val who = api.chatAsk(Some("proj"), Some("who calls configure?"))
    assert(who.body.get("response").asText().contains("setup"))
    val fallback = api.chatAsk(Some("proj"), Some("make me a sandwich"))
    assert(fallback.body.get("response").asText().contains("Entities:"))
  }

  test("HttpChatClient: two-stage intent->query->phrase over a live endpoint") {
    // loopback OpenAI-compatible server: call 1 (intent generation) gets
    // a JSON intent, call 2 (answer phrasing) echoes grounded content —
    // proves the adapter's request shape, auth header, two-stage flow,
    // and that the REAL graph query ran between the calls
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val requests = scala.collection.mutable.ArrayBuffer.empty[String]
    val auths = scala.collection.mutable.ArrayBuffer.empty[String]
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/chat/completions", new HttpHandler {
      def handle(x: HttpExchange): Unit = {
        val body = new String(x.getRequestBody.readAllBytes(), "UTF-8")
        requests.synchronized {
          requests += body
          auths += Option(x.getRequestHeaders.getFirst("Authorization"))
            .getOrElse("")
        }
        val mapper = graft.graph.OpLog.mapper
        val content =
          if (requests.size == 1) """{"op": "who_calls", "arg": "configure"}"""
          else {
            // phrase using the query results passed in the system role
            val sys = mapper.readTree(body)
              .path("messages").path(0).path("content").asText("")
            val grounded = sys.linesIterator
              .find(_.contains("is called by")).getOrElse("nothing")
            s"Answer: $grounded"
          }
        val root = mapper.createObjectNode()
        val msg = root.putArray("choices").addObject().putObject("message")
        msg.put("role", "assistant"); msg.put("content", content)
        val bytes = mapper.writeValueAsString(root).getBytes("UTF-8")
        x.getResponseHeaders.add("Content-Type", "application/json")
        x.sendResponseHeaders(200, bytes.length)
        x.getResponseBody.write(bytes); x.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/v1"
      val client = new HttpChatClient(base, "test-model", Some("sekrit"))
      val api3 = new Endpoints(spark, store, client)
      val out = api3.chatAsk(Some("proj"), Some("who calls configure?"))
      assert(out.status == "success")
      val answer = out.body.get("response").asText()
      // grounded on the REAL graph query result: setup calls configure
      assert(answer.contains("configure is called by") &&
        answer.contains("setup"), answer)
      assert(requests.size == 2)
      assert(auths.forall(_ == "Bearer sekrit"))
      // stage-1 system prompt carries the published ontology
      val sys1 = graft.graph.OpLog.mapper.readTree(requests.head)
        .path("messages").path(0).path("content").asText("")
      assert(sys1.contains("Entities:") && sys1.contains("who_calls"))
      val model = graft.graph.OpLog.mapper.readTree(requests.head)
        .path("model").asText("")
      assert(model == "test-model")
    } finally server.stop(0)
  }

  test("analyze_repo clones a git URL end to end (file:// remote)") {
    import scala.sys.process._
    // a local "remote": one-commit repo served over the file:// transport
    val remote = Files.createTempDirectory("graft-remote").resolve("cloneme")
    Files.createDirectories(remote)
    def sh(cmd: String*): Unit = assert(
      Process(cmd, remote.toFile).!(ProcessLogger(_ => ())) == 0,
      cmd.mkString(" "))
    sh("git", "init", "-q", "-b", "main")
    sh("git", "config", "user.email", "t@example.com")
    sh("git", "config", "user.name", "T")
    Files.write(remote.resolve("m.py"),
      "def remote_fn():\n    return 7\n".getBytes("UTF-8"))
    sh("git", "add", "-A")
    sh("git", "commit", "-q", "-m", "init")
    val url = "file://" + remote.toString

    // gate closed (the no-egress default): loud error, nothing cloned
    val gated = new Endpoints(spark, store, allowRemoteClone = false)
    assert(gated.analyzeRepo(Some(url)).code == 400)
    assert(gated.analyzeRepo(Some(url)).status.contains("disabled"))

    // gate open: clone + analyze + commit graph + repo_url info hash
    val open = new Endpoints(spark, store, allowRemoteClone = true)
    // traversal names must be rejected BEFORE the delete-if-exists — a
    // name of '..' would otherwise resolve to tmpdir and wipe it
    Seq("https://host/x/..", "https://host/x/.")
      .foreach { bad => assert(open.analyzeRepo(Some(bad)).code == 400, bad) }
    assert(open.analyzeRepo(Some(url)).status == "success")
    assert(store.exists("cloneme"))
    assert(store.exists("cloneme_git"))
    assert(store.getInfo("cloneme").get("repo_url").contains(url))
    val cloned = store.load("cloneme")
    assert(cloned.nodes.filter(org.apache.spark.sql.functions.col("name")
      === "remote_fn").count() == 1)
  }
}

object EndpointsSpec {
  /** The endpoint fixture: one module with a call chain, a builtin call
    * and a method. */
  val fixture: Seq[Ingestor.SourceFile] = Seq(Ingestor.SourceFile("src.py", Seq(
    "def setup(env):",
    "    configure(env)",
    "",
    "def set_output(path):",
    "    setup(path)",
    "",
    "def configure(env):",
    "    print(env)",
    "",
    "class Runner:",
    "    def run(self):",
    "        set_output('x')").mkString("\n")))
}
