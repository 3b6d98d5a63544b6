package graft.git

import java.nio.file.{Files, Paths => JPaths}

import scala.sys.process._

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.api.{Endpoints, RuleChatClient}
import graft.graph.{CodeGraph, GraphQueries, GraphStore}

/** F4–F6 end to end, mirroring the reference's 4-commit fixture narrative
  * (`/root/reference/tests/test_git_history.py:75-150`):
  *
  *   c1 create a.py → c2 modify a.py → c3 add b.py + c.py → c4 remove b.py
  *
  * After `buildCommitGraph`, `switchCommit` must walk the graph backward to
  * the root and forward to HEAD again, with file existence matching each
  * commit's tree — including a multi-commit jump (HEAD → root → HEAD,
  * `test_git_history.py:182-226`). */
class GitHistorySpec extends SparkSpec {

  private def sh(dir: String, env: Seq[(String, String)], cmd: String*): Unit = {
    val code = Process(cmd, new java.io.File(dir), env: _*).!(ProcessLogger(_ => ()))
    assert(code == 0, s"command failed: ${cmd.mkString(" ")}")
  }

  /** Build the fixture repo; returns (repoDir, commit hashes oldest-first). */
  private def makeRepo(): (String, Seq[String]) = {
    val dir = Files.createTempDirectory("graft-git").toString
    sh(dir, Nil, "git", "init", "-q", "-b", "main")
    sh(dir, Nil, "git", "config", "user.email", "test@example.com")
    sh(dir, Nil, "git", "config", "user.name", "Test Author")

    def commit(msg: String, date: Long): Unit = {
      val d = s"$date +0000"
      sh(dir, Seq("GIT_AUTHOR_DATE" -> d, "GIT_COMMITTER_DATE" -> d),
        "git", "add", "-A")
      sh(dir, Seq("GIT_AUTHOR_DATE" -> d, "GIT_COMMITTER_DATE" -> d),
        "git", "commit", "-q", "-m", msg)
    }
    def write(name: String, text: String): Unit =
      Files.write(JPaths.get(dir, name), text.getBytes("UTF-8"))

    write("a.py", "def alpha():\n    return 1\n")
    commit("created a.py", 1700000100L)
    write("a.py", "def alpha():\n    return 2\n\ndef alpha2():\n    return 3\n")
    commit("modified a.py", 1700000200L)
    write("b.py", "def beta():\n    return alpha()\n")
    write("c.py", "def gamma():\n    return 42\n")
    commit("added both b.py and c.py", 1700000300L)
    sh(dir, Nil, "git", "rm", "-q", "b.py")
    commit("removed b.py", 1700000400L)

    val hashes = GitCli.firstParentLog(dir).reverse.map(_.hash)
    (dir, hashes)
  }

  private def fileExists(g: CodeGraph, name: String): Boolean =
    GraphQueries.getFile(g.graph, "", name, ".py").count() > 0

  test("build_commit_graph + switch_commit replay the 4-commit narrative") {
    val (repoDir, hashes) = makeRepo()
    val Seq(c1, c2, c3, c4) = hashes
    val warehouse = Files.createTempDirectory("graft-wh").toString
    val store = new GraphStore(spark, warehouse)
    val repoName = "git_repo"

    GitHistory.analyzeRepo(spark, store, repoDir, repoName)
    val gitG = GitHistory.buildCommitGraph(spark, store, repoDir, repoName)

    // git graph structure (`test_git_history.py:52-71`)
    val commits = GraphQueries.listCommits(gitG.graph).collect()
    assert(commits.length == 4)
    assert(commits.map(_.getAs[String]("hash")).toSeq == Seq(c1, c2, c3, c4))
    assert(commits.head.getAs[String]("message") == "created a.py")
    assert(commits.head.getAs[String]("author") == "Test Author")
    assert(commits.head.getAs[Long]("date") == 1700000100L)
    // temp graph cleaned up; git graph listed under neither repos filter
    assert(!store.exists(repoName + "_tmp"))
    assert(store.listRepos() == Seq(repoName))

    def graph() = new CodeGraph(spark, repoName, Some(store))

    // ---- going backwards (`test_git_history.py:88-137`) ---------------
    GitHistory.switchCommit(spark, store, repoName, c4)
    var g = graph()
    assert(fileExists(g, "a.py") && fileExists(g, "c.py") && !fileExists(g, "b.py"))

    GitHistory.switchCommit(spark, store, repoName, c3)
    g = graph()
    assert(fileExists(g, "a.py") && fileExists(g, "b.py") && fileExists(g, "c.py"))

    GitHistory.switchCommit(spark, store, repoName, c2)
    g = graph()
    assert(fileExists(g, "a.py") && !fileExists(g, "b.py") && !fileExists(g, "c.py"))

    GitHistory.switchCommit(spark, store, repoName, c1)
    g = graph()
    assert(fileExists(g, "a.py") && !fileExists(g, "b.py") && !fileExists(g, "c.py"))
    // c1's a.py has one function; c2 added alpha2
    assert(GraphQueries.getByName(g.graph, "Function", "alpha2").count() == 0)

    // ---- going forward (`test_git_history.py:139-179`) ----------------
    GitHistory.switchCommit(spark, store, repoName, c2)
    g = graph()
    assert(fileExists(g, "a.py") && !fileExists(g, "b.py") && !fileExists(g, "c.py"))
    assert(GraphQueries.getByName(g.graph, "Function", "alpha2").count() == 1)

    GitHistory.switchCommit(spark, store, repoName, c3)
    g = graph()
    assert(fileExists(g, "a.py") && fileExists(g, "b.py") && fileExists(g, "c.py"))

    GitHistory.switchCommit(spark, store, repoName, c4)
    g = graph()
    assert(fileExists(g, "a.py") && fileExists(g, "c.py") && !fileExists(g, "b.py"))

    // ---- multi-commit jump (`test_git_history.py:182-226`) ------------
    GitHistory.switchCommit(spark, store, repoName, c1)
    g = graph()
    assert(fileExists(g, "a.py") && !fileExists(g, "b.py") && !fileExists(g, "c.py"))

    GitHistory.switchCommit(spark, store, repoName, c4)
    g = graph()
    assert(fileExists(g, "a.py") && fileExists(g, "c.py") && !fileExists(g, "b.py"))
    assert(store.getInfo(repoName)("commit") == c4)
  }

  test("switch_commit drops the serving index: reads follow HEAD -> root -> HEAD") {
    val (repoDir, hashes) = makeRepo()
    val Seq(c1, _, _, c4) = hashes
    val warehouse = Files.createTempDirectory("graft-wh").toString
    val store = new GraphStore(spark, warehouse)
    val repoName = "served_repo"
    GitHistory.analyzeRepo(spark, store, repoDir, repoName)
    GitHistory.buildCommitGraph(spark, store, repoDir, repoName)
    val api = new Endpoints(spark, store, RuleChatClient)
    val dfStore = new GraphStore(spark, warehouse)
    dfStore.servingLimit = -1
    val dfApi = new Endpoints(spark, dfStore, RuleChatClient)
    // reads through the index (built by the first of them) against reads
    // of the stored graph; returns the searchable names
    def read(): Set[String] = {
      assert(api.graphEntities(Some(repoName)).json ==
        dfApi.graphEntities(Some(repoName)).json)
      assert(api.repoInfo(Some(repoName)).json == dfApi.repoInfo(Some(repoName)).json)
      assert(store.servingIndex(repoName).isDefined)
      api.autoComplete(Some(repoName), Some("")).body.get("completions")
        .elements().asScala.map(_.get("properties").get("name").asText()).toSet
    }
    val atHead = Set("a.py", "c.py", "alpha", "alpha2", "gamma")
    assert(read() == atHead)
    assert(api.switchCommit(Some(repoName), Some(c1)).code == 200)
    assert(read() == Set("a.py", "alpha"))
    assert(api.switchCommit(Some(repoName), Some(c4)).code == 200)
    assert(read() == atHead)
  }

  test("classify_changes filters by extension and ignore list") {
    val deltas = Seq(("A", "x.py"), ("A", "x.txt"), ("D", "old.py"),
      ("M", "mod.py"), ("M", "ignored/mod.py"))
    val (a, d, m) = GitHistory.classifyChanges(deltas, Set(".py"), Seq("ignored/"))
    assert(a == Seq("x.py"))
    assert(d == Seq("old.py"))
    assert(m == Seq("mod.py"))
  }
}
