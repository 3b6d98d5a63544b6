package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.SparkSession

import graft.graph.{GraphStore, OpLog}

/** HTTP transport over [[Endpoints]] — the server side of the reference's
  * Flask app (`/root/reference/api/index.py:41`), on the JDK's built-in
  * `com.sun.net.httpserver` (no extra dependencies).
  *
  * Route table, methods, and auth guards mirror `api/index.py`:
  *  - every route requires the `Authorization` header to equal the
  *    configured secret token; both-absent passes (`index.py:26-28`),
  *    mismatch → 401 {"message": "Unauthorized"} (`index.py:31-38`);
  *  - /analyze_repo, /switch_commit, /list_commits additionally require
  *    public access to be enabled (`index.py:44-50`, CODE_GRAPH_PUBLIC).
  *
  * Spark-side note: each request runs on the server's dispatch threads and
  * issues driver actions; the heavy lifting stays in the executors. A
  * production deployment would put this on a long-lived SparkSession the
  * same way the reference holds a FalkorDB connection pool.
  *
  * Replies leave with the JDK server's default socket options: most are
  * written in more than one segment, and without `TCP_NODELAY` the last
  * segment waits for the client's delayed ACK, about 40 ms per request on
  * Linux. A deployment that wants replies at transport speed starts the
  * JVM with `-Dsun.net.httpserver.nodelay=true` (README "Reads at
  * transport speed"); the JDK reads it once per JVM, when the first
  * `com.sun.net.httpserver` server is created.
  */
final class HttpApi(spark: SparkSession, store: GraphStore,
    chat: ChatClient = RuleChatClient,
    secretToken: Option[String] = sys.env.get("SECRET_TOKEN"),
    publicAccess: Boolean = sys.env.get("CODE_GRAPH_PUBLIC").contains("1")) {

  import HttpApi._

  private val endpoints = new Endpoints(spark, store, chat)
  private val mapper = OpLog.mapper
  private var server: Option[HttpServer] = None

  /** Bound port after [[start]] (useful with port = 0). */
  def port: Int = server.map(_.getAddress.getPort).getOrElse(-1)

  /** Binds loopback by default — a fresh deployment without a token should
    * not be reachable off-host (the reference binds all interfaces,
    * `index.py`; pass bindHost = "0.0.0.0" to match it). */
  def start(bindPort: Int = 5000, bindHost: String = "127.0.0.1"): Int =
      synchronized {
    require(server.isEmpty, "already started")
    if (secretToken.isEmpty)
      org.slf4j.LoggerFactory.getLogger(classOf[HttpApi]).warn(
        "SECRET_TOKEN is not configured — the API accepts " +
          "Authorization-less requests (reference index.py:26-28 parity)")
    val s = HttpServer.create(new InetSocketAddress(bindHost, bindPort), 0)
    s.createContext("/", handle _)
    s.setExecutor(null) // serial dispatch — single-writer mutation discipline
    s.start()
    server = Some(s)
    port
  }

  def stop(): Unit = synchronized {
    server.foreach(_.stop(0))
    server = None
  }

  // ---- request plumbing ----------------------------------------------

  private def write(ex: HttpExchange, code: Int, bytes: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def write(ex: HttpExchange, code: Int, body: String): Unit =
    write(ex, code, body.getBytes(StandardCharsets.UTF_8))

  private def unauthorized(ex: HttpExchange): Unit =
    write(ex, 401, """{"message":"Unauthorized"}""")

  private def tokenOk(ex: HttpExchange): Boolean = {
    val header = Option(ex.getRequestHeaders.getFirst("Authorization"))
    (header, secretToken) match {
      // constant-time comparison — a String == short-circuits on the first
      // differing byte, leaking the match-prefix length through timing
      case (Some(h), Some(t)) => java.security.MessageDigest.isEqual(
        h.getBytes(StandardCharsets.UTF_8), t.getBytes(StandardCharsets.UTF_8))
      case (None, None) => true
      case _ => false
    }
  }

  /** Thrown for unparseable request JSON → 400 (Flask's request.get_json()
    * aborts with Bad Request, not a 500). */
  private final class BadRequest extends RuntimeException

  private def jsonBody(ex: HttpExchange): JsonNode = {
    val raw = new String(ex.getRequestBody.readAllBytes(),
      StandardCharsets.UTF_8)
    if (raw.isEmpty) mapper.createObjectNode()
    else try mapper.readTree(raw)
    catch { case _: com.fasterxml.jackson.core.JacksonException =>
      throw new BadRequest
    }
  }

  private def optText(n: JsonNode, k: String): Option[String] =
    Option(n.get(k)).filterNot(_.isNull).map(_.asText())

  private def optAny(n: JsonNode, k: String): Option[Any] =
    Option(n.get(k)).filterNot(_.isNull).map {
      case v if v.isInt => v.asInt()
      case v if v.isLong => v.asLong()
      case v => v.asText()
    }

  private def optSeq(n: JsonNode, k: String): Option[Seq[Any]] =
    Option(n.get(k)).filterNot(_.isNull).filter(_.isArray).map { arr =>
      (0 until arr.size()).map { i =>
        val v = arr.get(i)
        if (v.isInt) v.asInt()
        else if (v.isLong) v.asLong()
        else v.asText(): Any
      }
    }

  private def optStrSeq(n: JsonNode, k: String): Option[Seq[String]] =
    optSeq(n, k).map(_.map(_.toString))

  /** Parse the RAW query string and percent-decode each component exactly
    * once — `URI.getQuery` pre-decodes, so decoding its output again would
    * mangle legitimate '+'/'%' characters in values (and an encoded '&'
    * would split the value). */
  private def queryParam(ex: HttpExchange, k: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).toSeq
      .flatMap(_.split("&").toSeq)
      .flatMap { kv =>
        kv.split("=", 2) match {
          case Array(key, v)
              if java.net.URLDecoder.decode(key, StandardCharsets.UTF_8) == k =>
            Some(java.net.URLDecoder.decode(v, StandardCharsets.UTF_8))
          case _ => None
        }
      }.headOption

  private def handle(ex: HttpExchange): Unit = {
    try {
      val path = ex.getRequestURI.getPath
      val method = ex.getRequestMethod
      if (!tokenOk(ex)) { unauthorized(ex); return }
      if (PublicOnly(path) && !publicAccess) { unauthorized(ex); return }
      val resp: Option[Endpoints#ApiResponse] = (method, path) match {
        case ("GET", "/graph_entities") =>
          Some(endpoints.graphEntities(queryParam(ex, "repo")))
        case ("GET", "/list_repos") =>
          Some(endpoints.listRepos())
        case ("POST", "/get_neighbors") =>
          val b = jsonBody(ex)
          Some(endpoints.getNeighbors(optText(b, "repo"), optSeq(b, "node_ids")))
        case ("POST", "/auto_complete") =>
          val b = jsonBody(ex)
          Some(endpoints.autoComplete(optText(b, "repo"), optText(b, "prefix")))
        case ("POST", "/repo_info") =>
          Some(endpoints.repoInfo(optText(jsonBody(ex), "repo")))
        case ("POST", "/find_paths") =>
          val b = jsonBody(ex)
          Some(endpoints.findPaths(optText(b, "repo"), optAny(b, "src"),
            optAny(b, "dest")))
        case ("POST", "/chat") =>
          val b = jsonBody(ex)
          Some(endpoints.chatAsk(optText(b, "repo"), optText(b, "msg")))
        case ("POST", "/analyze_folder") =>
          val b = jsonBody(ex)
          Some(endpoints.analyzeFolder(optText(b, "path"),
            optStrSeq(b, "ignore")))
        case ("POST", "/analyze_repo") =>
          val b = jsonBody(ex)
          Some(endpoints.analyzeRepo(optText(b, "url"),
            optStrSeq(b, "ignore")))
        case ("POST", "/switch_commit") =>
          val b = jsonBody(ex)
          Some(endpoints.switchCommit(optText(b, "repo"),
            optText(b, "commit")))
        case ("POST", "/list_commits") =>
          Some(endpoints.listCommits(optText(jsonBody(ex), "repo")))
        case _ => None
      }
      resp match {
        case Some(r) => write(ex, r.code, r.bytes)
        case None => write(ex, 404, """{"status":"Not found"}""")
      }
    } catch {
      case _: BadRequest =>
        try write(ex, 400, """{"status":"Bad request"}""")
        catch { case NonFatal(_) => () }
      case NonFatal(e) =>
        // mirror the reference's per-endpoint catch (`index.py:90-94`)
        try write(ex, 500, """{"status":"Internal server error"}""")
        catch { case NonFatal(_) => () }
        org.slf4j.LoggerFactory.getLogger(classOf[HttpApi]).warn(
          s"request failed: ${ex.getRequestMethod} ${ex.getRequestURI.getPath}", e)
    } finally ex.close()
  }
}

object HttpApi {
  /** Routes that also need public access (`index.py:44-50`). */
  private val PublicOnly = Set("/analyze_repo", "/switch_commit", "/list_commits")
}
