package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.sys.process._

/** Seeded input generators. Every input the server sees is written here, and
  * every expected answer the harness checks is derived from the same model,
  * never read back from the program.
  *
  * Browse tree: `files` Python modules of 20 top-level functions each, in
  * groups of five `a b c d e` with calls `a→b a→c b→d c→d d→e`, and `e` calls
  * the `a` of the same group in the next module. Every simple path from an
  * `a` reaches its own `e` after three hops and stops there, so `find_paths`
  * from `a` to `e` returns exactly the two paths `a b d e` and `a c d e`
  * whatever the tree size: the enumeration stays bounded while the edge
  * table it joins against grows with the tree.
  */
object Gen {
  val FunctionsPerFile = 20
  val GroupSize = 5
  val CallsPerGroup = 6

  def fn(file: Int, j: Int): String = f"m$file%05d_f$j%02d"
  def filePath(file: Int): String = f"pkg${file / 100}%03d/m$file%05d.py"

  /** Expected graph size of a browse tree: File + Function nodes, DEFINES +
    * CALLS edges. */
  def browseCounts(files: Int): (Long, Long) = {
    val fns = files.toLong * FunctionsPerFile
    (files + fns, fns + files.toLong * (FunctionsPerFile / GroupSize) * CallsPerGroup)
  }

  def calleesOf(files: Int, file: Int, j: Int): Seq[String] = {
    val g = j / GroupSize * GroupSize
    j % GroupSize match {
      case 0 => Seq(fn(file, g + 1), fn(file, g + 2))
      case 1 | 2 => Seq(fn(file, g + 3))
      case 3 => Seq(fn(file, g + 4))
      case _ => Seq(fn((file + 1) % files, g))
    }
  }

  def browseSource(files: Int, file: Int): String = {
    val sb = new StringBuilder
    for (j <- 0 until FunctionsPerFile) {
      val calls = calleesOf(files, file, j).map(c => s"$c(x)").mkString(" + ")
      sb.append(s"def ${fn(file, j)}(x):\n")
        .append(s"    y = $calls\n")
        .append("    return y\n\n")
    }
    sb.toString
  }

  def writeBrowseTree(root: Path, files: Int): Unit =
    for (k <- 0 until files) {
      val p = root.resolve(filePath(k))
      Files.createDirectories(p.getParent)
      Files.write(p, browseSource(files, k).getBytes(UTF_8))
    }

  /** History repo model: each file holds a chain of functions `f0→f1→…`, so a
    * file contributes n nodes for its functions, one File node, n DEFINES and
    * n-1 CALLS edges, and no call crosses a file (deleting a file leaves no
    * dangling reference). */
  final case class Commit(hash: String, nodes: Long, edges: Long)

  private def chainSource(file: Int, fns: Seq[String]): String =
    fns.zipWithIndex.map { case (f, i) =>
      val body = if (i + 1 < fns.length) s"    return ${fns(i + 1)}(x)\n"
        else "    return x\n"
      s"def $f(x):\n$body\n"
    }.mkString

  /** Writes a git repo with `commits` commits under `root`: the first adds
    * `files` files; each later one adds two files, appends a function to
    * three files and deletes one, chosen by `rng`. Returns the commits
    * oldest first with their expected entity counts. */
  def writeHistoryRepo(root: Path, files: Int, fnsPerFile: Int, commits: Int,
      rng: scala.util.Random): Seq[Commit] = {
    Files.createDirectories(root)
    val live = scala.collection.mutable.LinkedHashMap.empty[Int, Vector[String]]
    var next = 0
    def newFile(): Unit = {
      live(next) = Vector.tabulate(fnsPerFile)(j => f"h$next%04d_f$j%02d")
      next += 1
    }
    def path(k: Int): Path = root.resolve(f"src/h$k%04d.py")
    def git(args: String*)(env: (String, String)*): String = {
      val out = new StringBuilder
      val err = new StringBuilder
      val code = Process(Seq("git", "-C", root.toString) ++ args, None,
        env: _*).!(ProcessLogger(l => out.append(l), l => err.append(l)))
      require(code == 0, s"git ${args.mkString(" ")} failed: $err")
      out.toString.trim
    }
    git("init", "-q")()
    (0 until files).foreach(_ => newFile())
    var touched = live.keys.toSet
    var deleted = Set.empty[Int]
    (0 until commits).map { c =>
      if (c > 0) {
        val keys = rng.shuffle(live.keys.toVector)
        val modified = keys.take(math.min(3, keys.length - 1))
        modified.foreach(k => live(k) = live(k) :+ f"h$k%04d_c$c%02d")
        val gone = keys(modified.length)
        live.remove(gone)
        deleted = Set(gone)
        touched = modified.toSet
        newFile(); newFile()
        touched ++= Set(next - 1, next - 2)
      }
      deleted.foreach(k => Files.delete(path(k)))
      touched.foreach { k =>
        Files.createDirectories(path(k).getParent)
        Files.write(path(k), chainSource(k, live(k)).getBytes(UTF_8))
      }
      // fixed, strictly increasing dates: switch_commit orders by date
      val date = s"${1700000000L + c * 3600L} +0000"
      git("add", "-A")()
      git("-c", "user.name=bench", "-c", "user.email=bench@localhost",
        "commit", "-q", "-m", s"commit $c")(
        "GIT_AUTHOR_DATE" -> date, "GIT_COMMITTER_DATE" -> date)
      val fns = live.values.map(_.length.toLong).sum
      Commit(git("log", "-1", "--format=%h")(),
        live.size + fns, fns + (fns - live.size))
    }
  }
}
