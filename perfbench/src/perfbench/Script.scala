package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** One user action of a script, by request class. */
sealed trait Call { def repo: String }
object Call {
  /** Opening a repo fetches its entities and its info. */
  final case class Open(repo: String) extends Call
  final case class Complete(repo: String, prefix: String) extends Call
  final case class Expand(repo: String, id: Long) extends Call
  final case class FindPaths(repo: String, src: Long, dst: Long) extends Call
  final case class Chat(repo: String, question: String) extends Call
  final case class Switch(repo: String, commit: String) extends Call
}

/** A scripted action and the check its replies must pass (None = correct). */
final case class Req(op: String, call: Call, check: Seq[JsonNode] => Option[String]) {
  import Call._

  /** The HTTP requests (method, path, JSON body) the action sends; its
    * latency is their sum. */
  def parts: Seq[(String, String, String)] = call match {
    case Open(r) => Seq(("GET", s"/graph_entities?repo=$r", ""),
      ("POST", "/repo_info", Script.json("repo" -> r)))
    case Complete(r, p) => Seq(("POST", "/auto_complete",
      Script.json("repo" -> r, "prefix" -> p)))
    case Expand(r, id) => Seq(("POST", "/get_neighbors",
      Script.json("repo" -> r, "node_ids" -> Seq(id))))
    case FindPaths(r, s, d) => Seq(("POST", "/find_paths",
      Script.json("repo" -> r, "src" -> s, "dest" -> d)))
    case Chat(r, q) => Seq(("POST", "/chat", Script.json("repo" -> r, "msg" -> q)))
    case Switch(r, c) => Seq(("POST", "/switch_commit",
      Script.json("repo" -> r, "commit" -> c)))
  }
}

object Script {
  val mapper = new ObjectMapper()
  val ReadOps: Seq[String] = Seq("open", "complete", "expand", "paths", "chat")

  def json(fields: (String, Any)*): String = {
    val n = mapper.createObjectNode()
    fields.foreach {
      case (k, v: String) => n.put(k, v)
      case (k, v: Long) => n.put(k, v)
      case (k, v: Seq[_]) =>
        val a = n.putArray(k); v.foreach(x => a.add(x.asInstanceOf[Long]))
      case (k, v) => throw new IllegalArgumentException(s"$k=$v")
    }
    mapper.writeValueAsString(n)
  }

  private def ok(n: JsonNode): Option[String] =
    if (n.path("status").asText() == "success") None
    else Some(s"status ${n.path("status").asText()}")

  private def names(nodes: JsonNode): Seq[String] =
    nodes.elements().asScala.map(_.path("properties").path("name").asText()).toSeq

  /** Entities non-empty and capped at 500; info counts (and commit, on a
    * history repo) equal the generator's. */
  def open(repo: String, nodes: Long, edges: Long,
      commit: Option[String] = None): Req =
    Req("open", Call.Open(repo), { case Seq(ent, info) =>
      ok(ent).orElse(ok(info)).orElse {
        val n = ent.path("entities").path("nodes").size()
        val i = info.path("info")
        val got = (i.path("nodes_count").asLong(-1), i.path("edges_count").asLong(-1))
        if (n == 0 || n > 500) Some(s"graph_entities returned $n nodes")
        else if (got != ((nodes, edges))) Some(s"repo_info counts $got != ${(nodes, edges)}")
        else if (commit.exists(_ != i.path("commit").asText()))
          Some(s"repo_info commit ${i.path("commit").asText()} != ${commit.get}")
        else None
      }
    })

  /** At most 10 hits, all with the prefix; a full page when the graph holds
    * at least `atLeast` >= 10 matching names. */
  def complete(repo: String, prefix: String, atLeast: Int): Req =
    Req("complete", Call.Complete(repo, prefix), { case Seq(r) =>
      ok(r).orElse {
        val got = names(r.path("completions"))
        if (got.size > 10 || got.size < math.min(atLeast, 10))
          Some(s"auto_complete $prefix returned ${got.size} hits")
        else got.find(!_.startsWith(prefix)).map(n => s"completion $n lacks prefix $prefix")
      }
    })

  /** A function's neighbours are exactly its callees. */
  def expand(repo: String, id: Long, callees: Seq[String]): Req =
    Req("expand", Call.Expand(repo, id), { case Seq(r) =>
      ok(r).orElse {
        val got = names(r.path("neighbors").path("nodes")).sorted
        if (got != callees.sorted) Some(s"neighbors of $id: $got != ${callees.sorted}")
        else None
      }
    })

  /** Exactly the generator's paths, as node names in order. */
  def paths(repo: String, src: Long, dst: Long, expected: Seq[Seq[String]]): Req =
    Req("paths", Call.FindPaths(repo, src, dst), { case Seq(r) =>
      ok(r).orElse {
        val got = r.path("paths").elements().asScala.map { p =>
          p.elements().asScala.filter(_.has("labels"))
            .map(_.path("properties").path("name").asText()).toSeq
        }.toSeq.sortBy(_.mkString(","))
        val want = expected.sortBy(_.mkString(","))
        if (got != want) Some(s"paths $src->$dst: $got != $want") else None
      }
    })

  /** "who calls f" names exactly the generator's callers of f. */
  def chat(repo: String, fn: String, callers: Seq[String]): Req =
    Req("chat", Call.Chat(repo, s"who calls $fn?"), { case Seq(r) =>
      ok(r).orElse {
        val want = s"$fn is called by: ${callers.sorted.mkString(", ")}"
        val got = r.path("response").asText()
        if (got != want) Some(s"chat: '$got' != '$want'") else None
      }
    })

  /** The switch itself is checked by the `open` that follows it. */
  def switch(repo: String, commit: String): Req =
    Req("switch", Call.Switch(repo, commit), { case Seq(r) => ok(r) })
}
