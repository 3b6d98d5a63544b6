package graft.git

import java.nio.file.{Files, Path => JPath, Paths => JPaths}

import org.apache.spark.sql.SparkSession

import graft.graph.{CodeGraph, GraphOp, GraphQueries, GraphStore, Paths}
import graft.ingest.{DependencyExpansion, Ingestor}

import scala.jdk.CollectionConverters._

/** Git history time travel (SURVEY §2.6 F4–F6) — the reference's marquee
  * side feature re-expressed over the op-log engine:
  *
  *  - [[classifyChanges]] — F4 diff classification
  *    (`/root/reference/api/git_utils/git_utils.py:35-70`);
  *  - [[buildCommitGraph]] — F5 (`git_utils.py:73-258`): walk first-parent
  *    history backward then forward on a temp clone with the backlog ON,
  *    storing each commit-to-commit op-log on the PARENT/CHILD edges of a
  *    `{repo}_git` graph;
  *  - [[switchCommit]] — F6 (`git_utils.py:260-333`): date-directed replay
  *    of the stored transitions, then update the repo's `commit` info hash.
  *
  * The history walk is sequential by nature (each diff is relative to the
  * previous checkout); each step's re-analysis and graph rewrite is a Spark
  * job over that commit's diff — driver orchestration, distributed work.
  */
object GitHistory {

  /** `{name}_git` in the reference (`git_utils.py:17-19`); we use a plain
    * `_git` suffix because curly braces are glob alternation syntax to the
    * Hadoop path resolver (a `{x}_git/nodes` parquet path would be read as
    * `x_git/nodes`). `GraphStore.listRepos` filters the suffix either way. */
  def gitRepoName(repoName: String): String = repoName + "_git"

  def isIgnored(path: String, ignoreList: Seq[String]): Boolean =
    ignoreList.exists(path.startsWith)

  /** F4: split a name-status diff into (added, deleted, modified) paths,
    * keeping only supported extensions and un-ignored paths
    * (`git_utils.py:35-70`). Typechange (`T`, e.g. symlink↔file) counts as
    * modified — dropping it would leave the file permanently stale in the
    * walked graph. Renames/copies never appear (diff runs --no-renames). */
  def classifyChanges(deltas: Seq[(String, String)], supportedTypes: Set[String],
      ignoreList: Seq[String]): (Seq[String], Seq[String], Seq[String]) = {
    def keep(p: String): Boolean =
      !isIgnored(p, ignoreList) && supportedTypes.contains(Ingestor.splitPath(p)._3)
    (deltas.collect { case ("A", p) if keep(p) => p },
      deltas.collect { case ("D", p) if keep(p) => p },
      deltas.collect { case (s, p) if (s == "M" || s == "T") && keep(p) => p })
  }

  private def supportedTypes: Set[String] =
    Ingestor.frontends.flatMap(_.extensions).toSet

  /** Walk a checked-out working tree and load supported sources
    * (repo-relative paths; `.git` skipped) — feeds [[Ingestor.ingest]]. */
  def readSources(repoDir: String,
      relPaths: Option[Seq[String]] = None): Seq[Ingestor.SourceFile] = {
    val root = JPaths.get(repoDir)
    val paths: Seq[JPath] = relPaths match {
      case Some(rel) => rel.map(root.resolve)
      case None =>
        val s = Files.walk(root)
        // segment-exact .git exclusion: .github/… is a normal source dir
        try s.iterator().asScala.toSeq.filter { p =>
          val rel = root.relativize(p).toString
          Files.isRegularFile(p) && rel != ".git" && !rel.startsWith(".git/")
        }
        finally s.close()
    }
    paths.filter(p => supportedTypes.contains(
        Ingestor.splitPath(p.getFileName.toString)._3))
      .filter(Files.exists(_))
      .map(p => Ingestor.SourceFile(root.relativize(p).toString,
        new String(Files.readAllBytes(p), "UTF-8")))
  }

  /** `Project.analyze_sources` equivalent: ingest the working tree at HEAD
    * into graph `repoName`, record the HEAD hash in the repo info
    * (`api/info.py` `set_repo_commit`). */
  def analyzeRepo(spark: SparkSession, store: GraphStore, repoDir: String,
      repoName: String): Unit = {
    val sources = readSources(repoDir)
    Ingestor.analyze(spark, store, repoName, sources ++
      DependencyExpansion.expandAll(JPaths.get(repoDir), sources))
    store.setInfo(repoName, Map("commit" -> GitCli.headCommit(repoDir).hash))
  }

  /** Apply one commit-step's changes to the (backlogged) temp graph:
    * deletions first (modified files count as delete+re-add,
    * `git_utils.py:149-157`), then re-analysis of added+modified from the
    * already-checked-out tree. */
  private def applyStep(g: CodeGraph, repoDir: String, added: Seq[String],
      deleted: Seq[String], modified: Seq[String]): Unit = {
    val toDelete = deleted ++ modified
    if (toDelete.nonEmpty) {
      val keys = toDelete.map { p =>
        val (dir, base, ext) = Ingestor.splitPath(p)
        GraphOp.FileKey(dir, base, ext)
      }
      g.mutate(GraphOp.DeleteFiles(keys))
    }
    val toAdd = added ++ modified
    if (toAdd.nonEmpty) {
      val sources = readSources(repoDir, Some(toAdd))
      if (sources.nonEmpty) Ingestor.ingest(g, sources)
    }
  }

  /** F5 `build_commit_graph` (`git_utils.py:73-258`). Requires graph
    * `repoName` to exist (built by [[analyzeRepo]]) and `repoDir` checked
    * out at the same HEAD. Returns the `{repoName}_git` graph; leaves the
    * working tree back at HEAD. */
  def buildCommitGraph(spark: SparkSession, store: GraphStore, repoDir: String,
      repoName: String, ignoreList: Seq[String] = Nil): CodeGraph = {
    import spark.implicits._
    val tmpName = repoName + "_tmp"
    store.cloneGraph(repoName, tmpName)
    val g = new CodeGraph(spark, tmpName, Some(store))
    g.enableBacklog()

    val gitG = new CodeGraph(spark, gitRepoName(repoName), Some(store))
    val chain = GitCli.firstParentLog(repoDir) // newest first
    val head = chain.head
    val byHash = chain.map(c => c.hash -> c).toMap

    // ---- bulk-load the commit skeleton: every node and PARENT/CHILD edge
    // in TWO batch mutations (the reference pays one round-trip per commit,
    // `git_utils.py:104-121`; a 10k-commit history here is 2 jobs) --------
    gitG.addCommits(chain.map(c => (c.hash, c.author, c.message, c.date))
      .toDF("hash", "author", "message", "date"))
    gitG.connectCommitsBatch(chain.zip(chain.tail)
      .map { case (c, p) => (c.hash, p.hash) }
      .toDF("child_hash", "parent_hash"))

    val transitions =
      scala.collection.mutable.ArrayBuffer.empty[(String, String, String, Seq[String], Seq[String])]

    // ---- backward pass: HEAD -> root (`git_utils.py:107-180`) ----------
    var child = head
    chain.tail.foreach { parent =>
      val (added, deleted, modified) = classifyChanges(
        GitCli.diffNameStatus(repoDir, child.hash, parent.hash),
        supportedTypes, ignoreList)
      GitCli.checkout(repoDir, parent.hash)
      applyStep(g, repoDir, added, deleted, modified)
      val queries = g.getBacklog
      g.clearBacklog()
      if (queries.nonEmpty)
        transitions += ((child.hash, parent.hash, "PARENT", queries,
          queries.map(_ => "{}")))
      child = parent
    }

    // ---- forward pass: root -> HEAD (`git_utils.py:186-244`) -----------
    // The child lookup goes through the git graph's CHILD edge (J5), as in
    // the reference (`git_utils.py:189`).
    var parent = child
    while (parent.hash != head.hash) {
      val childHash = GraphQueries.getChildCommit(gitG.graph, parent.hash)
        .collect()(0).getAs[String]("hash")
      val childC = byHash(childHash)
      val (added, deleted, modified) = classifyChanges(
        GitCli.diffNameStatus(repoDir, parent.hash, childC.hash),
        supportedTypes, ignoreList)
      GitCli.checkout(repoDir, childC.hash)
      applyStep(g, repoDir, added, deleted, modified)
      val queries = g.getBacklog
      g.clearBacklog()
      if (queries.nonEmpty)
        transitions += ((parent.hash, childC.hash, "CHILD", queries,
          queries.map(_ => "{}")))
      parent = childC
    }

    // ---- one batched transition writeback (M10) ------------------------
    if (transitions.nonEmpty)
      gitG.setTransitions(transitions.toSeq
        .toDF("from_hash", "to_hash", "rel_type", "queries", "params"))

    // ---- clean up (`git_utils.py:248-258`) -----------------------------
    g.disableBacklog()
    store.delete(tmpName)
    gitG.checkpointNow()
    gitG.save()
    gitG
  }

  /** F6 `switch_commit` (`git_utils.py:260-333`): move graph `repoName`
    * from its current commit to `to` by replaying the stored transitions in
    * the date-implied direction, then update the info hash. */
  def switchCommit(spark: SparkSession, store: GraphStore, repoName: String,
      to: String): Unit = {
    require(repoName != null && repoName.nonEmpty, "Invalid repository name")
    require(to != null && to.nonEmpty, "Invalid desired commit value")
    val current = store.getInfo(repoName).getOrElse("commit",
      throw new IllegalStateException(s"repo $repoName has no commit info"))
    if (current == to) return

    val gitG = new CodeGraph(spark, gitRepoName(repoName), Some(store))
    val commits = GraphQueries.getCommits(gitG.graph, Seq(current, to)).collect()
    require(commits.length == 2, "Commits not found")
    val rowByHash = commits.map(r => r.getAs[String]("hash") -> r).toMap
    val (curRow, newRow) = (rowByHash(current), rowByHash(to))

    // direction by commit date (`git_utils.py:309-320`)
    val (relType, fromId, toId) =
      if (curRow.getAs[Long]("date") > newRow.getAs[Long]("date"))
        ("PARENT", curRow.getAs[Long]("id"), newRow.getAs[Long]("id"))
      else
        ("CHILD", curRow.getAs[Long]("id"), newRow.getAs[Long]("id"))

    val steps = Paths.chainTransitions(gitG.graph, fromId, toId, relType)
      .collect().sortBy(_.getAs[Int]("step"))

    val g = new CodeGraph(spark, repoName, Some(store))
    steps.foreach { row =>
      Option(row.getAs[scala.collection.Seq[String]]("queries"))
        .getOrElse(Nil).foreach(q => g.rerun(q))
    }
    g.checkpointNow()
    g.save()
    store.setInfo(repoName, Map("commit" -> to))
  }
}
