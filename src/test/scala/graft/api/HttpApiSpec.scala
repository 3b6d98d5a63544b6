package graft.api

import java.io.{BufferedInputStream, ByteArrayOutputStream}
import java.net.{Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.graph.{CodeGraph, GraphStore, OpLog}
import graft.ingest.Ingestor

/** HTTP transport invariants over [[HttpApi]]: route table, auth guards,
  * and response shapes as served over a real socket (the reference serves
  * these via Flask — `api/index.py:41-51`). */
class HttpApiSpec extends SparkSpec {

  private def build(s: GraphStore, repo: String): Unit = {
    val g = new CodeGraph(spark, repo, Some(s))
    Ingestor.ingest(g, Seq(Ingestor.SourceFile("src.py", Seq(
      "def alpha():",
      "    beta()",
      "",
      "def beta():",
      "    pass").mkString("\n"))))
    g.checkpointNow(); g.save()
  }

  private lazy val store = {
    val s = new GraphStore(spark, Files.createTempDirectory("graft-http-wh").toString)
    build(s, "proj")
    s
  }

  private val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String,
      token: Option[String] = None): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
    token.foreach(b.header("Authorization", _))
    client.send(b.GET().build(), HttpResponse.BodyHandlers.ofString())
  }

  private def post(port: Int, path: String, body: String,
      token: Option[String] = None): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
    token.foreach(b.header("Authorization", _))
    client.send(b.POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
  }

  test("routes serve the endpoint contract over a real socket") {
    val api = new HttpApi(spark, store, secretToken = None,
      publicAccess = false)
    val port = api.start(0)
    try {
      val repos = get(port, "/list_repos")
      assert(repos.statusCode() == 200)
      val reposJson = OpLog.mapper.readTree(repos.body())
      assert(reposJson.get("status").asText() == "success")
      assert((0 until reposJson.get("repositories").size())
        .map(reposJson.get("repositories").get(_).asText()).contains("proj"))

      val ents = get(port, "/graph_entities?repo=proj")
      assert(ents.statusCode() == 200)
      val entsJson = OpLog.mapper.readTree(ents.body())
      assert(entsJson.get("entities").get("nodes").size() > 0)

      val missing = get(port, "/graph_entities")
      assert(missing.statusCode() == 400)
      assert(OpLog.mapper.readTree(missing.body()).get("status").asText()
        == "Missing 'repo' parameter")

      val ac = post(port, "/auto_complete",
        """{"repo":"proj","prefix":"al"}""")
      assert(ac.statusCode() == 200)
      val acJson = OpLog.mapper.readTree(ac.body())
      assert(acJson.get("completions").size() >= 1)

      val badNb = post(port, "/get_neighbors",
        """{"repo":"proj","node_ids":["x"]}""")
      assert(badNb.statusCode() == 400)
      assert(OpLog.mapper.readTree(badNb.body()).get("status").asText()
        == "Invalid node ID. It must be an integer.")

      assert(get(port, "/nope").statusCode() == 404)
      // malformed JSON is a client error, not a 500 (Flask get_json aborts 400)
      val badJson = post(port, "/repo_info", "{not json")
      assert(badJson.statusCode() == 400)
      // '+' in a query value must survive single-decoding (repo "a+b")
      val plus = get(port, "/graph_entities?repo=a%2Bb")
      assert(OpLog.mapper.readTree(plus.body()).get("status").asText()
        == "Missing project a+b")
      // public_access guard (index.py:44-50): disabled -> 401
      val sw = post(port, "/switch_commit", """{"repo":"proj","commit":"x"}""")
      assert(sw.statusCode() == 401)
      assert(OpLog.mapper.readTree(sw.body()).get("message").asText()
        == "Unauthorized")
    } finally api.stop()
  }

  /** One keep-alive connection with `TCP_NODELAY`, as an interactive client
    * holds it: each request waits for the whole previous reply. */
  private final class KeepAlive(port: Int) extends AutoCloseable {
    private val sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    private val in = new BufferedInputStream(sock.getInputStream)
    private val out = sock.getOutputStream

    /** The status and the body bytes of one request. */
    def send(method: String, path: String, body: String = ""): (Int, Array[Byte]) = {
      val b = body.getBytes(UTF_8)
      out.write((s"$method $path HTTP/1.1\r\nHost: localhost\r\n" +
        s"Content-Length: ${b.length}\r\n\r\n").getBytes(US_ASCII) ++ b)
      out.flush()
      val status = line().split(' ')(1).toInt
      val headers = Iterator.continually(line()).takeWhile(_.nonEmpty).toList
      val length = headers.collectFirst { case h if h.toLowerCase.startsWith("content-length:") =>
        h.drop("content-length:".length).trim.toInt }.get
      (status, in.readNBytes(length))
    }

    private def line(): String = {
      val buf = new ByteArrayOutputStream()
      var c = in.read()
      while (c != '\n') {
        assert(c >= 0, "connection closed by the server")
        if (c != '\r') buf.write(c)
        c = in.read()
      }
      buf.toString(US_ASCII)
    }

    def close(): Unit = sock.close()
  }

  test("with sun.net.httpserver.nodelay set, small replies leave without a delayed-ACK stall") {
    // set for the whole suite JVM by SparkSpec, as a deployment passes
    // -Dsun.net.httpserver.nodelay=true; HttpApi leaves it as it finds it
    assert(System.getProperty("sun.net.httpserver.nodelay") == "true")
    val api = new HttpApi(spark, store, secretToken = None, publicAccess = false)
    val conn = new KeepAlive(api.start(0))
    assert(System.getProperty("sun.net.httpserver.nodelay") == "true")
    try {
      def complete(): Double = {
        val t0 = System.nanoTime()
        val (code, _) = conn.send("POST", "/auto_complete", """{"repo":"proj","prefix":"al"}""")
        assert(code == 200)
        (System.nanoTime() - t0) / 1e6
      }
      (1 to 5).foreach(_ => complete())
      // a reply written in two segments waits ~40 ms for the client's
      // delayed ACK when Nagle's algorithm holds the second one back
      val ms = (1 to 20).map(_ => complete()).sorted
      val median = (ms(9) + ms(10)) / 2
      assert(median < 20.0, f"median $median%.1f ms over ${ms.mkString(", ")}")
    } finally { conn.close(); api.stop() }
  }

  test("replies are the JSON text as UTF-8, supplementary characters included") {
    val wh = Files.createTempDirectory("graft-http-utf8").toString
    val s = new GraphStore(spark, wh)
    val names = Seq("caf\u00e9", "\ud835\udc53x", "\ud83d\ude00", "\u65e5\u672c")
    s.save("utf", ServingIndexSpec.graph(spark,
      names.zipWithIndex.map { case (n, i) => (i.toLong, Seq("Function", "Searchable"), n) },
      Seq((0L, 1L, "CALLS"), (1L, 2L, "CALLS"))))
    val api = new HttpApi(spark, s, secretToken = None, publicAccess = false)
    val conn = new KeepAlive(api.start(0))
    try {
      for ((method, path, body) <- Seq(("GET", "/graph_entities?repo=utf", ""),
          ("GET", "/graph_entities?repo=utf", ""),
          ("POST", "/auto_complete", """{"repo":"utf","prefix":"\ud835\udc53"}"""),
          ("POST", "/auto_complete", """{"repo":"utf","prefix":""}"""))) {
        val (code, bytes) = conn.send(method, path, body)
        assert(code == 200)
        val text = OpLog.mapper.writeValueAsString(OpLog.mapper.readTree(bytes))
        assert(bytes.sameElements(text.getBytes(UTF_8)), new String(bytes, UTF_8))
        assert(!new String(bytes, UTF_8).contains("\\u"), "escaped surrogates")
      }
      val (_, all) = conn.send("POST", "/auto_complete", """{"repo":"utf","prefix":""}""")
      val got = OpLog.mapper.readTree(all).get("completions")
      assert((0 until got.size()).map(got.get(_).get("properties").get("name").asText()) == names)
    } finally { conn.close(); api.stop() }
  }

  test("a request whose endpoint throws gets a 500, and the server serves the next one") {
    val wh = Files.createTempDirectory("graft-http-broken").toString
    build(new GraphStore(spark, wh), "broken")
    Files.write(Paths.get(wh, "broken", "info.json"), "{not json".getBytes(UTF_8))
    intercept[com.fasterxml.jackson.core.JsonParseException](
      new GraphStore(spark, wh).getInfo("broken"))
    val api = new HttpApi(spark, new GraphStore(spark, wh), secretToken = None,
      publicAccess = false)
    val port = api.start(0)
    try {
      val info = post(port, "/repo_info", """{"repo":"broken"}""")
      assert(info.statusCode() == 500)
      assert(OpLog.mapper.readTree(info.body()).get("status").asText()
        == "Internal server error")
      val repos = get(port, "/list_repos")
      assert(repos.statusCode() == 200 && repos.body().contains("broken"))
    } finally api.stop()
  }

  test("an info.json rewritten past the store reads as written, its stale checksum left or not") {
    val wh = Files.createTempDirectory("graft-http-info").toString
    build(new GraphStore(spark, wh), "edited")
    // a checksummed write, as earlier stores made, leaves a .crc sidecar
    val info = new org.apache.hadoop.fs.Path(wh, "edited/info.json")
    val fs = info.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(info, true)
    try out.write("""{"commit":"old"}""".getBytes(UTF_8)) finally out.close()
    val crc = Paths.get(wh, "edited", ".info.json.crc")
    assert(Files.exists(crc))
    Files.write(Paths.get(wh, "edited", "info.json"),
      """{"commit":"edited by hand"}""".getBytes(UTF_8))
    val store = new GraphStore(spark, wh)
    val api = new HttpApi(spark, store, secretToken = None, publicAccess = false)
    val port = api.start(0)
    try {
      val res = post(port, "/repo_info", """{"repo":"edited"}""")
      assert(res.statusCode() == 200, res.body())
      assert(OpLog.mapper.readTree(res.body()).get("info").get("commit").asText()
        == "edited by hand")
      // the graph's reads, which load next_id from the file, answer too
      assert(get(port, "/graph_entities?repo=edited").statusCode() == 200)
    } finally api.stop()
    // the next store write drops the stale sidecar
    store.setInfo("edited", Map("commit" -> "new"))
    assert(!Files.exists(crc))
    assert(new GraphStore(spark, wh).getInfo("edited")("commit") == "new")
  }

  test("token guard: mismatch and missing token are rejected (index.py:26-38)") {
    val api = new HttpApi(spark, store, secretToken = Some("s3cret"),
      publicAccess = false)
    val port = api.start(0)
    try {
      assert(get(port, "/list_repos").statusCode() == 401)
      assert(get(port, "/list_repos", Some("wrong")).statusCode() == 401)
      assert(get(port, "/list_repos", Some("s3cret")).statusCode() == 200)
    } finally api.stop()
  }
}
