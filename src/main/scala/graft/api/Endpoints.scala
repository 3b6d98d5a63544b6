package graft.api

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.{Row, SparkSession}

import graft.git.{GitCli, GitHistory}
import graft.graph._

/** F10 — the endpoint facade: the 11 HTTP endpoints of
  * `/root/reference/api/index.py:53-488` as library calls with the SAME
  * validation messages, status codes, and response shapes (JSON via the
  * shared mapper). Transport (Flask/HTTP/auth) is deliberately out of
  * scope — this is the contract layer a server would mount.
  *
  * Node encoding strips the `Searchable` marker label
  * (`api/entities/entity_encoder.py:3-5`); edges carry relation,
  * endpoints, and non-null properties.
  */
final class Endpoints(spark: SparkSession, store: GraphStore,
    chat: ChatClient = Endpoints.defaultChatClient,
    allowRemoteClone: Boolean = sys.env.get("GRAFT_ALLOW_CLONE").contains("1")) {

  private val mapper = OpLog.mapper

  /** A reply: its status code and its JSON, encoded once as UTF-8. */
  final class ApiResponse private[Endpoints] (val code: Int, val bytes: Array[Byte]) {
    /** The JSON as a tree, parsed from [[bytes]]. */
    lazy val body: ObjectNode = mapper.readTree(bytes).asInstanceOf[ObjectNode]
    def status: String =
      Option(body.get("status")).map(_.asText()).getOrElse("")
    def json: String = new String(bytes, UTF_8)
  }

  // the graph_entities reply of each resident index, encoded on its first
  // read: weak keys tie an entry's life to its index's, so the write that
  // drops an index drops its reply too
  private val entityReplies = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[ServingIndex, Array[Byte]]())

  /** Replies cached for resident indexes that are still reachable. */
  private[graft] def cachedReplies: Int = entityReplies.size()

  private def resp(code: Int, fields: (String, Any)*): ApiResponse = {
    val node = mapper.createObjectNode()
    fields.foreach {
      case (k, v: JsonNode) => node.set[JsonNode](k, v)
      case (k, v: String) => node.put(k, v)
      case (k, v: Int) => node.put(k, v)
      case (k, v: Long) => node.put(k, v)
      case (k, v) => node.set[JsonNode](k, mapper.valueToTree[JsonNode](v))
    }
    new ApiResponse(code, Endpoints.Writer.writeValueAsBytes(node))
  }
  private def err(msg: String): ApiResponse = resp(400, "status" -> msg)
  private def missingProject(repo: String): ApiResponse =
    err(s"Missing project $repo")

  // ---- encoders (`entity_encoder.py:1-25`) ---------------------------

  /** Encode a node row: id, labels minus `Searchable`, non-null typed
    * properties merged with the open `props` map. */
  def encodeNode(r: Row): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("id", r.getAs[Long]("id"))
    val labels = n.putArray("labels")
    Option(r.getAs[scala.collection.Seq[String]]("labels")).getOrElse(Nil)
      .filterNot(_ == GraphSchema.SEARCHABLE).foreach(labels.add)
    val props = n.putObject("properties")
    def putIf(k: String): Unit = {
      val i = r.fieldIndex(k)
      if (!r.isNullAt(i)) r.get(i) match {
        case s: String => props.put(k, s)
        case l: Long => props.put(k, l)
        case d: Double => props.put(k, d)
        case other => props.put(k, other.toString)
      }
    }
    Seq("name", "path", "ext", "src_start", "src_end", "doc",
      "coverage_precentage").foreach(putIf)
    Option(r.getAs[scala.collection.Map[String, String]]("props"))
      .getOrElse(Map.empty).foreach { case (k, v) => props.put(k, v) }
    n
  }

  def encodeEdge(r: Row): ObjectNode = {
    val e = encodeEdgeLite(r.getAs[String]("type"), r.getAs[Long]("src"),
      r.getAs[Long]("dst"))
    val props = e.get("properties").asInstanceOf[ObjectNode]
    val li = r.fieldIndex("line")
    if (!r.isNullAt(li)) props.put("line", r.getLong(li))
    val ti = r.fieldIndex("text")
    if (!r.isNullAt(ti)) props.put("text", r.getString(ti))
    e
  }

  private def encodeEdgeLite(relation: String, src: Long, dst: Long): ObjectNode = {
    val e = mapper.createObjectNode()
    e.put("relation", relation)
    e.put("src_node", src)
    e.put("dest_node", dst)
    e.putObject("properties")
    e
  }

  /** {nodes, edges} under `key`: the shared tail of `graph_entities` and
    * `get_neighbors`. */
  private def subGraphResponse(key: String, nodeRows: Seq[Row],
      edgeTriples: Seq[(String, Long, Long)]): ApiResponse = {
    val nodes = mapper.createArrayNode()
    nodeRows.foreach(row => nodes.add(encodeNode(row)))
    val edges = mapper.createArrayNode()
    edgeTriples.foreach { case (t, s, d) => edges.add(encodeEdgeLite(t, s, d)) }
    val sub = mapper.createObjectNode()
    sub.set[JsonNode]("nodes", nodes)
    sub.set[JsonNode]("edges", edges)
    resp(200, "status" -> "success", key -> sub)
  }

  // ---- endpoints -----------------------------------------------------

  /** GET /graph_entities (`index.py:53-94`): sub-graph of up to 500
    * entities as {nodes, edges}. */
  def graphEntities(repo: Option[String]): ApiResponse = {
    repo match {
      case None | Some("") => err("Missing 'repo' parameter")
      case Some(r) if !store.exists(r) => missingProject(r)
      case Some(r) => store.view(r) match {
        case ix: ServingIndex =>
          new ApiResponse(200,
            entityReplies.computeIfAbsent(ix, (i: ServingIndex) => entities(i).bytes))
        case g => entities(g)
      }
    }
  }

  private def entities(g: GraphReader): ApiResponse = {
    val (nodeRows, edges) = g.subGraph(500)
    subGraphResponse("entities", nodeRows, edges)
  }

  /** POST /get_neighbors (`index.py:97-144`). */
  def getNeighbors(repo: Option[String], nodeIds: Option[Seq[Any]]): ApiResponse = {
    repo match {
      case None | Some("") => err("Repository name is required.")
      case Some(r) =>
        nodeIds match {
          case None | Some(Nil) => err("Node IDs is required.")
          case _ if !store.exists(r) => missingProject(r)
          case Some(ids) if ids.exists(x =>
              !x.isInstanceOf[Int] && !x.isInstanceOf[Long]) =>
            err("Invalid node ID. It must be an integer.")
          case Some(ids) =>
            val longIds = ids.map {
              case i: Int => i.toLong
              case l: Long => l
            }
            val (nodeRows, edges) = store.view(r).neighbors(longIds)
            subGraphResponse("neighbors", nodeRows, edges)
        }
    }
  }

  /** POST /auto_complete (`index.py:146-182`). */
  def autoComplete(repo: Option[String], prefix: Option[String]): ApiResponse =
    (repo, prefix) match {
      case (None, _) => err("Missing mandatory parameter \"repo\"")
      case (_, None) => err("Missing mandatory parameter \"prefix\"")
      case (Some(r), _) if !store.exists(r) => missingProject(r)
      case (Some(r), Some(p)) =>
        val completions = mapper.createArrayNode()
        store.view(r).autoComplete(p).foreach { row =>
          val n = mapper.createObjectNode()
          n.put("id", row.getAs[Long]("id"))
          val props = n.putObject("properties")
          props.put("name", row.getAs[String]("name"))
          Option(row.getAs[String]("path")).foreach(props.put("path", _))
          completions.add(n)
        }
        resp(200, "status" -> "success", "completions" -> completions)
    }

  /** GET /list_repos (`index.py:184-203`). */
  def listRepos(): ApiResponse = {
    val repos = mapper.createArrayNode()
    store.listRepos().foreach(repos.add)
    resp(200, "status" -> "success", "repositories" -> repos)
  }

  /** POST /repo_info (`index.py:205-248`): stats |= info hash (without
    * the engine's internal keys). */
  def repoInfo(repo: Option[String]): ApiResponse = repo match {
    case None => err("Missing mandatory parameter \"repo\"")
    case Some(r) if !store.exists(r) => err(s"Missing repository \"$r\"")
    case Some(r) =>
      val info = mapper.createObjectNode()
      store.view(r).counts.foreach { case (entity, n) => info.put(entity + "_count", n) }
      store.publicInfo(r).foreach { case (k, v) => info.put(k, v) }
      resp(200, "status" -> "success", "info" -> info)
  }

  /** POST /find_paths (`index.py:250-303`): paths as interleaved
    * [node, edge, node, …, node] (`api/graph.py:577-589`). */
  def findPaths(repo: Option[String], src: Option[Any],
      dest: Option[Any]): ApiResponse = {
    repo match {
      case None => return err("Missing mandatory parameter \"repo\"")
      case _ => ()
    }
    val srcId = src match {
      case None => return err("Missing mandatory parameter \"src\"")
      case Some(i: Int) => i.toLong
      case Some(l: Long) => l
      case Some(_) => return err("src node id must be int")
    }
    val destId = dest match {
      case None => return err("Missing mandatory parameter \"dest\"")
      case Some(i: Int) => i.toLong
      case Some(l: Long) => l
      case Some(_) => return err("dest node id must be int")
    }
    val r = repo.get
    if (!store.exists(r)) return missingProject(r)
    val paths = mapper.createArrayNode()
    store.view(r).findPaths(srcId, destId).foreach { steps =>
      val p = paths.addArray()
      steps.foreach(step => p.add(step.fold(encodeNode, encodeEdge)))
    }
    resp(200, "status" -> "success", "paths" -> paths)
  }

  /** POST /chat (`index.py:305-328`). */
  def chatAsk(repo: Option[String], msg: Option[String]): ApiResponse =
    (repo, msg) match {
      case (None, _) => err("Missing mandatory parameter \"repo\"")
      case (_, None) => err("Missing mandatory parameter \"msg\"")
      case (Some(r), Some(m)) =>
        resp(200, "status" -> "success",
          "response" -> chat.ask(r, m, store.view(r)))
    }

  /** POST /analyze_folder (`index.py:330-381`): graph name = folder name. */
  def analyzeFolder(path: Option[String],
      ignore: Option[Seq[String]] = None): ApiResponse = {
    path match {
      case None | Some("") => err("'path' is required.")
      case Some(p) if !new java.io.File(p).isDirectory =>
        err("Invalid path: must be an existing directory")
      case Some(p) =>
        val projName = new java.io.File(p).getName
        val sources = GitHistory.readSources(p)
          .filterNot(s => ignore.getOrElse(Nil).exists(s.path.startsWith))
        // analyzer dependency pass (F9): dotnet-restore side effect + pip/
        // Maven dependency sources, idempotent against the walk above
        graft.ingest.Ingestor.analyze(spark, store, projName, sources ++
          graft.ingest.DependencyExpansion.expandAll(
            java.nio.file.Paths.get(p), sources))
        resp(200, "status" -> "success", "project" -> projName)
    }
  }

  /** POST /analyze_repo (`index.py:383-417`): a git URL — cloned like the
    * reference (`api/project.py:19-38` `_clone_source`: fresh clone into a
    * per-name directory, `repo_url` recorded in the repo info,
    * `project.py:47-48`) — or a local on-disk repo path. Cloning is gated
    * on `allowRemoteClone` (env GRAFT_ALLOW_CLONE=1): this library's
    * default deployment has no egress, so the gate fails loudly instead of
    * hanging on a firewalled fetch. */
  def analyzeRepo(repoPath: Option[String],
      ignore: Option[Seq[String]] = None): ApiResponse = repoPath match {
    case None => err("Missing mandatory parameter \"url\"")
    case Some(u) if isGitUrl(u) =>
      if (!allowRemoteClone)
        err("Remote clone is disabled; set GRAFT_ALLOW_CLONE=1 or pass a local path")
      else {
        // name = last URL path segment (`project.py:55-57`) — but unlike
        // the reference, reject traversal segments: '..'/'.'/'' would make
        // the delete-if-exists below escape the repositories dir and wipe
        // the parent (tmpdir!), and a separator smuggles subpaths in
        val name = u.stripSuffix("/").split('/').last
        if (name.isEmpty || name == "." || name == ".." ||
            name.contains('\\') || name.contains('\u0000'))
          return err(s"invalid url: $u")
        val reposRoot = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"), "graft-repositories")
        val dest = reposRoot.resolve(name).normalize()
        if (!dest.startsWith(reposRoot) || dest == reposRoot)
          return err(s"invalid url: $u")
        if (java.nio.file.Files.exists(dest,
            java.nio.file.LinkOption.NOFOLLOW_LINKS))
          deleteRecursively(dest.toFile) // `project.py:24-26`
        java.nio.file.Files.createDirectories(reposRoot)
        GitCli.clone(u, dest.toString)
        analyzeLocalRepo(dest.toString, name, ignore)
        store.setInfo(name, Map("repo_url" -> u))
        resp(200, "status" -> "success")
      }
    case Some(p) =>
      analyzeLocalRepo(p, new java.io.File(p).getName, ignore)
      resp(200, "status" -> "success")
  }

  private def analyzeLocalRepo(path: String, name: String,
      ignore: Option[Seq[String]]): Unit = {
    GitHistory.analyzeRepo(spark, store, path, name)
    GitHistory.buildCommitGraph(spark, store, path, name,
      ignore.getOrElse(Nil))
  }

  private def isGitUrl(s: String): Boolean =
    Seq("http://", "https://", "git://", "ssh://", "file://")
      .exists(s.startsWith) || s.matches("^[\\w.-]+@[\\w.-]+:.+")

  /** Never follows symlinks (shutil.rmtree semantics): a cloned repo can
    * legitimately contain a symlink to an absolute directory, and
    * recursing through it would delete files OUTSIDE the clone. */
  private def deleteRecursively(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** POST /switch_commit (`index.py:419-451`). */
  def switchCommit(repo: Option[String], commit: Option[String]): ApiResponse =
    (repo, commit) match {
      case (None, _) => err("Missing mandatory parameter \"repo\"")
      case (_, None) => err("Missing mandatory parameter \"commit\"")
      case (Some(r), Some(c)) =>
        GitHistory.switchCommit(spark, store, r, c)
        resp(200, "status" -> "success")
    }

  /** POST /list_commits (`index.py:453-489`). */
  def listCommits(repo: Option[String]): ApiResponse = repo match {
    case None => err("Missing mandatory parameter \"repo\"")
    case Some(r) =>
      val gitG = store.load(GitHistory.gitRepoName(r))
      val commits = mapper.createArrayNode()
      GraphQueries.listCommits(gitG).collect().foreach { row =>
        val c = mapper.createObjectNode()
        c.put("hash", row.getAs[String]("hash"))
        c.put("date", row.getAs[Long]("date"))
        c.put("author", Option(row.getAs[String]("author")).getOrElse(""))
        c.put("message", Option(row.getAs[String]("message")).getOrElse(""))
        commits.add(c)
      }
      resp(200, "status" -> "success", "commits" -> commits)
  }
}

object Endpoints {
  /** Encodes replies as UTF-8 bytes, a supplementary character as its four
    * bytes (Jackson's default writes an escaped surrogate pair instead), so
    * the bytes equal those of the JSON text encoded as UTF-8. */
  private val Writer = OpLog.mapper.writer()
    .`with`(JsonWriteFeature.COMBINE_UNICODE_SURROGATES_IN_UTF8)

  /** The model wiring mirrors `api/llm.py:238` (MODEL_NAME env): when
    * GRAFT_LLM_BASE_URL is set the chat endpoint speaks to that
    * OpenAI-compatible server (GRAFT_LLM_MODEL, optional
    * GRAFT_LLM_API_KEY); otherwise the deterministic rule client answers
    * — no network, still real graph queries. */
  def defaultChatClient: ChatClient =
    sys.env.get("GRAFT_LLM_BASE_URL") match {
      case Some(url) => new HttpChatClient(url,
        sys.env.getOrElse("GRAFT_LLM_MODEL", "gpt-4o-mini"),
        sys.env.get("GRAFT_LLM_API_KEY"))
      case None => RuleChatClient
    }
}
