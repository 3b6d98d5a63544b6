package perfbench

import scala.util.Random

/** The seeded request scripts of each workload. */
final class Scripts(workload: String, repo: String, files: Int,
    commits: Seq[Gen.Commit], ids: Map[String, Long]) {
  import Gen._

  private val (nodes, edges) = browseCounts(files)

  // the history graph's commit; analyze_repo leaves it at HEAD
  private var cur = commits.length - 1

  /** Browse: every round issues each read op once, in the fixed order of
    * `Script.ReadOps` (so each class always follows the same one), at a
    * seeded module and group. History: every round switches to a seeded
    * commit other than the current one, then re-opens the repo. */
  def make(rng: Random, rounds: Int): Seq[Req] =
    if (workload == "history") {
      (0 until rounds).flatMap { _ =>
        val next = (cur + 1 + rng.nextInt(commits.length - 1)) % commits.length
        cur = next
        val c = commits(next)
        Seq(Script.switch(repo, c.hash),
          Script.open(repo, c.nodes, c.edges, Some(c.hash)))
      }
    } else (0 until rounds).flatMap { _ =>
      Script.ReadOps.map { op =>
        val k = rng.nextInt(files)
        val g = rng.nextInt(FunctionsPerFile / GroupSize) * GroupSize
        op match {
          case "open" => Script.open(repo, nodes, edges)
          case "complete" =>
            val prefix = if (rng.nextBoolean()) fn(k, 0).dropRight(1)
              else fn(k, 0).dropRight(2)
            Script.complete(repo, prefix, 10)
          case "expand" =>
            val j = rng.nextInt(FunctionsPerFile)
            Script.expand(repo, ids(fn(k, j)), calleesOf(files, k, j))
          case "paths" =>
            val Seq(a, b, c, d, e) = (0 until GroupSize).map(i => fn(k, g + i))
            Script.paths(repo, ids(a), ids(e), Seq(Seq(a, b, d, e), Seq(a, c, d, e)))
          case "chat" =>
            Script.chat(repo, fn(k, g + 3), Seq(fn(k, g + 1), fn(k, g + 2)))
        }
      }
    }
}

final case class Sample(op: String, ms: Double, httpRequests: Int,
    error: Option[String])

/** Executes a script over the client, timing each scripted action from the
  * first byte of its first request to the last byte of its last reply;
  * replies are parsed and checked after the clock stops. A failed action is
  * kept with its error: it counts against `attempted` and stays in the
  * latency samples at its measured time. */
final class ClosedLoop(client: Client) {
  def run(script: Seq[Req]): (Seq[Sample], Double) = {
    val t0 = System.nanoTime()
    val samples = script.map(one)
    (samples, (System.nanoTime() - t0) / 1e9)
  }

  def one(r: Req): Sample = {
    val t = System.nanoTime()
    val replies = scala.util.Try(r.parts.map { case (method, path, body) =>
      (path, if (method == "GET") client.get(path) else client.post(path, body))
    })
    val ms = (System.nanoTime() - t) / 1e6
    val err = try {
      r.check(replies.get.map { case (path, (code, text)) =>
        if (code != 200) throw new IllegalStateException(s"$path -> $code $text")
        Script.mapper.readTree(text)
      })
    } catch {
      case e: Exception => Some(s"${r.op}: ${e.getMessage}")
    }
    Sample(r.op, ms, r.parts.length, err)
  }
}
