package graft.api

import graft.graph.GraphReader

/** F11 — the NL→graph-query chat surface (`/root/reference/api/llm.py`).
  *
  * The reference wires an LLM (graphrag_sdk + LiteModel) to a hand-written
  * ontology and two prompt templates; the model itself is an external
  * service. Here the ontology is data ([[Ontology]]) and the model is a
  * pluggable [[ChatClient]]: production code can drop in a real LLM client,
  * tests use [[CannedChatClient]], and the default [[RuleChatClient]]
  * answers the common question shapes with REAL graph queries — no network,
  * deterministic, still useful.
  */
object Ontology {

  /** (label, attributes) — `api/llm.py:57-206`. */
  val entities: Seq[(String, Seq[String])] = Seq(
    "File" -> Seq("name", "path", "ext"),
    "Class" -> Seq("name", "path", "src_start", "src_end", "doc"),
    "Function" -> Seq("name", "path", "src_start", "src_end", "args", "src"),
    "Interface" -> Seq("name", "path", "src_start", "src_end", "doc"))

  /** (relation, from, to) — `api/llm.py:222-230`. */
  val relations: Seq[(String, String, String)] = Seq(
    ("CALLS", "Class", "Function"),
    ("CALLS", "Function", "Function"),
    ("DEFINES", "File", "Class"),
    ("DEFINES", "File", "Function"),
    ("DEFINES", "Class", "Class"),
    ("EXTENDS", "Class", "Class"),
    ("IMPLEMENTS", "Class", "Interface"),
    ("DEFINES", "Class", "Function"),
    ("DEFINES", "Function", "Function"))

  /** Textual ontology for prompt assembly (the CYPHER_GEN_SYSTEM context,
    * `api/prompts.py`). */
  def describe: String = {
    val es = entities.map { case (l, attrs) =>
      s"($l {${attrs.mkString(", ")}})" }.mkString("\n")
    val rs = relations.map { case (r, f, t) => s"($f)-[:$r]->($t)" }.mkString("\n")
    s"Entities:\n$es\nRelations:\n$rs"
  }
}

/** Pluggable model hook — `ask` mirrors `api/llm.py:260-267`. `g` reads
  * the repo ([[graft.graph.GraphStore.view]]). */
trait ChatClient {
  def ask(repo: String, question: String, g: GraphReader): String
}

/** Test double: fixed responses keyed by question (records calls). */
final class CannedChatClient(answers: Map[String, String],
    default: String = "I don't know.") extends ChatClient {
  val asked = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  def ask(repo: String, question: String, g: GraphReader): String = {
    asked += ((repo, question))
    answers.getOrElse(question, default)
  }
}

/** The graph-query INTENTS a model (or rule) can select — the Spark twin
  * of the reference's Cypher generation target: constrained to queries the
  * engine executes natively, so a model answer can never inject free-form
  * query text. Shared by [[RuleChatClient]] (regex → intent) and
  * [[HttpChatClient]] (model → intent JSON). */
object ChatIntents {
  def execute(op: String, arg: String, g: GraphReader): String = op match {
    case "who_calls" =>
      val callers = callNeighbours(g, arg, incoming = true)
      if (callers.isEmpty) s"No callers of $arg found."
      else s"$arg is called by: ${callers.mkString(", ")}"
    case "calls_of" =>
      val callees = callNeighbours(g, arg, incoming = false)
      if (callees.isEmpty) s"$arg calls nothing."
      else s"$arg calls: ${callees.mkString(", ")}"
    case "list_label" =>
      val label = arg.capitalize match {
        case "Classe" => "Class"
        case l => l
      }
      val names = g.namesWithLabel(label, 25)
      if (names.isEmpty) s"No $label entities found."
      else s"$label entities: ${names.mkString(", ")}"
    case _ =>
      "I can answer questions about this code graph.\n" + Ontology.describe
  }

  /** Distinct, sorted names of the callers (`incoming`) or callees of the
    * functions named `name`. */
  private def callNeighbours(g: GraphReader, name: String,
      incoming: Boolean): Seq[String] =
    g.callNeighbourNames(name, incoming).distinct.sorted
}

/** Default stub: rule-based NL→query translation over the ontology's verbs
  * — each recognized shape runs the corresponding graph query. */
object RuleChatClient extends ChatClient {
  private val WhoCalls = """(?i).*who calls (\w+).*""".r
  private val WhatCalls = """(?i).*what does (\w+) call.*""".r
  private val ListLabel = """(?i).*(?:list|how many) (\w+?)(?:es|s)?\b.*""".r

  def ask(repo: String, question: String, g: GraphReader): String =
    question match {
      case WhoCalls(name) => ChatIntents.execute("who_calls", name, g)
      case WhatCalls(name) => ChatIntents.execute("calls_of", name, g)
      case ListLabel(raw) => ChatIntents.execute("list_label", raw.capitalize, g)
      case _ => ChatIntents.execute("unknown", "", g)
    }
}

/** LIVE two-stage LLM adapter over an OpenAI-compatible chat/completions
  * endpoint (public API shape) — the Spark twin of the reference's
  * graphrag pipeline (`api/llm.py:237-267`): stage 1 constrains the model
  * to ONE graph-query intent over the published ontology (the
  * CYPHER_GEN_SYSTEM role, but intent-typed instead of free Cypher so the
  * model cannot inject query text), the intent executes as a REAL
  * distributed graph query, and stage 2 phrases the rows for the user
  * (the GRAPH_QA_SYSTEM role, grounded on query results only).
  *
  * Configure with env: GRAFT_LLM_BASE_URL (e.g. http://host:port/v1),
  * GRAFT_LLM_MODEL, optional GRAFT_LLM_API_KEY — mirroring the
  * reference's MODEL_NAME env wiring (`api/llm.py:238`). No SDK: the
  * chat/completions request/response JSON is the whole contract, spoken
  * through java.net.http against any compatible server (local or hosted).
  */
final class HttpChatClient(baseUrl: String, model: String,
    apiKey: Option[String] = None,
    timeout: java.time.Duration = java.time.Duration.ofSeconds(60))
    extends ChatClient {
  private val http = java.net.http.HttpClient.newHttpClient()
  private def mapper = graft.graph.OpLog.mapper

  /** One chat/completions round trip; returns choices[0].message.content. */
  private[api] def complete(system: String, user: String): String = {
    val root = mapper.createObjectNode()
    root.put("model", model)
    val msgs = root.putArray("messages")
    val s = msgs.addObject(); s.put("role", "system"); s.put("content", system)
    val u = msgs.addObject(); u.put("role", "user"); u.put("content", user)
    val b = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(baseUrl.stripSuffix("/") + "/chat/completions"))
      .timeout(timeout)
      .header("Content-Type", "application/json")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
        mapper.writeValueAsString(root)))
    apiKey.foreach(k => b.header("Authorization", s"Bearer $k"))
    val resp = http.send(b.build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2)
      throw new java.io.IOException(
        s"chat/completions HTTP ${resp.statusCode()}: ${resp.body().take(500)}")
    mapper.readTree(resp.body())
      .path("choices").path(0).path("message").path("content").asText("")
  }

  def ask(repo: String, question: String, g: GraphReader): String = {
    val intentSystem =
      "You translate questions about the code graph of repository '" +
        repo + "' into exactly one intent.\n" + Ontology.describe +
        "\nRespond with ONLY a JSON object {\"op\": <one of who_calls, " +
        "calls_of, list_label, unknown>, \"arg\": <symbol or label>}."
    val raw = complete(intentSystem, question).trim
      .stripPrefix("```json").stripPrefix("```").stripSuffix("```").trim
    val (op, arg) =
      try {
        val n = mapper.readTree(raw)
        (n.path("op").asText("unknown"), n.path("arg").asText(""))
      } catch { case _: Exception => ("unknown", "") }
    val results = ChatIntents.execute(op, arg, g)
    complete(
      "Answer the user's question about the code graph using ONLY these " +
        "query results — do not invent symbols:\n" + results,
      question)
  }
}
