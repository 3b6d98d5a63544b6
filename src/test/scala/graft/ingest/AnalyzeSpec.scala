package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkSpec
import graft.api.{Endpoints, EndpointsSpec, ServingIndexSpec}
import graft.graph.GraphStore

/** [[Ingestor.analyze]]: a fresh repo within the serving guard is built on
  * the driver and gives the same stored rows, IDs and `next_id` as the
  * Spark ingest; every other input takes the Spark path. */
class AnalyzeSpec extends SparkSpec {
  import AnalyzeSpec._

  private def store(limit: Long = guard): GraphStore = newStore(spark, limit)

  test("parity: the endpoint fixture") {
    assertParity(spark, EndpointsSpec.fixture)
  }

  test("parity: the 631-node tree") {
    val (nodes, _) = assertParity(spark, ServingIndexSpec.tree(30))
    assert(nodes.size == 631)
  }

  test("parity: aliases, qualified calls, overloads, members, stubs, typed edges") {
    val (nodes, edges) = assertParity(spark, resolutionTree)
    val byId = nodes.map(n => n.getAs[Long]("id") -> n).toMap
    def node(name: String, path: String): Long = nodes.collectFirst {
      case n if n.getAs[String]("name") == name && n.getAs[String]("path") == path =>
        n.getAs[Long]("id")
    }.getOrElse(fail(s"no node $name in $path"))
    def out(src: Long, tpe: String): Seq[Long] = edges
      .filter(e => e.getAs[Long]("src") == src && e.getAs[String]("type") == tpe)
      .map(_.getAs[Long]("dst"))
    def targets(src: Long, tpe: String): Set[(String, String)] = out(src, tpe)
      .map { d => (byId(d).getAs[String]("name"), byId(d).getAs[String]("path")) }.toSet
    // the last import of `f` wins, and an import match outranks arity
    // (b/m2.f would fit the two arguments); a module alias routes `mod.g`;
    // unknown names become stubs
    assert(targets(node("main", "c/main.py"), "CALLS") ==
      Set("f" -> "a/m1.py", "g" -> "b/m2.py", "print" -> "", "len" -> ""))
    // self.step() takes the caller's own class
    val ownStep = out(node("K", "c/main.py"), "DEFINES")
      .filter(byId(_).getAs[String]("name") == "step")
    assert(ownStep.size == 1 && out(node("run", "c/main.py"), "CALLS") == ownStep)
    // arity outranks directory proximity
    assert(targets(node("near", "pkg/a/main.py"), "CALLS") == Set("helper" -> "z/other.py"))
    // Java overloads resolve by arity; a C# base that resolves to an
    // interface is IMPLEMENTS
    assert(targets(node("run", "app/Main.java"), "CALLS") == Set("plot" -> "app/Two.java"))
    assert(targets(node("Logger", "Program.cs"), "IMPLEMENTS") == Set("ILog" -> "Program.cs"))
    // the pre-extracted file keeps its logical path
    val holder = node("Holder", "lib/pre.py")
    assert(targets(holder, "EXTENDS") == Set("ILog" -> "Program.cs", "len" -> ""))
    assert(nodes.count(_.getAs[String]("name") == "twice") == 1)
    assert(targets(node("hold", "lib/pre.py"), "CALLS") == Set("twice" -> "lib/pre.py"))
  }

  test("routing: a guard-sized fresh analyze_folder runs no Spark job") {
    val dir = Files.createTempDirectory("graft-analyze-src").resolve("fresh")
    ServingIndexSpec.write(dir, ServingIndexSpec.tree(5))
    val api = new Endpoints(spark, store())
    assert(sparkJobs(assert(api.analyzeFolder(Some(dir.toString)).code == 200)) == 0)
    // the Spark path, for scale: every mutation batch runs jobs of its own
    val viaSpark = sparkJobs(Ingestor.analyze(spark, store(-1), "fresh",
      ServingIndexSpec.tree(5)))
    assert(viaSpark > 10, viaSpark)
  }

  test("routing: one row over the guard, or a repo already stored, takes the Spark path") {
    val sources = resolutionTree
    val fx = sources.flatMap(s => Ingestor.extract(s.path, s.source)).map(_._2)
    val rows = math.max(fx.size + fx.map(_.entities.size).sum,
      fx.map(f => f.entities.size + f.refs.size).sum)
    assert(LocalIngest.build(sources, rows).isDefined)
    assert(LocalIngest.build(sources, rows - 1).isEmpty)
    /** Whether the `analyses`-th analysis of `sources` ran no Spark job. */
    def ranNoJob(limit: Long, analyses: Int): Boolean = {
      val s = store(limit)
      (1 until analyses).foreach(_ => Ingestor.analyze(spark, s, "r", sources))
      sparkJobs(Ingestor.analyze(spark, s, "r", sources)) == 0
    }
    assert(ranNoJob(rows, 1))
    assert(!ranNoJob(rows - 1, 1))
    assert(!ranNoJob(rows, 2), "re-analysis goes through the mutations")
  }

  test("routing: a source beside its pre-extracted twin takes the Spark path") {
    // `lib/u.py` and `lib/u.py.jsonl` both describe the logical file lib/u.py
    val sources = Seq(
      src("lib/u.py", "def solo():", "    return twin()"),
      src("lib/u.py.jsonl",
        """{"kind":"entity","label":"Function","name":"twin","start":1,"end":2,"doc":"","parent":-1}"""),
      src("main.py", "def main():", "    solo()"))
    assert(LocalIngest.build(sources, guard).isEmpty)
    val viaGuard = analyzed(spark, sources, guard)
    assert(viaGuard.nodes.count(_.getAs[String]("name") == "twin") == 1)
    assertSame(viaGuard, analyzed(spark, sources, -1))
  }

  test("routing: a folder without supported files answers as before") {
    val dir = Files.createTempDirectory("graft-analyze-src").resolve("empty")
    Files.createDirectories(dir)
    Files.write(dir.resolve("notes.txt"), "no code here".getBytes("UTF-8"))
    for (limit <- Seq(guard, -1L)) {
      val s = store(limit)
      val api = new Endpoints(spark, s)
      val res = api.analyzeFolder(Some(dir.toString))
      assert(res.code == 200 && res.status == "success")
      val g = s.load("empty")
      assert(g.nodes.count() == 0 && g.edges.count() == 0)
      assert(g.nextIdHint.contains(0L))
      assert(api.graphEntities(Some("empty")).code == 200)
    }
  }
}

object AnalyzeSpec {
  import org.scalatest.Assertions._

  val guard: Long = graft.graph.Paths.EdgeBroadcastLimit

  def newStore(spark: SparkSession, limit: Long): GraphStore = {
    val s = new GraphStore(spark, Files.createTempDirectory("graft-analyze-wh").toString)
    s.servingLimit = limit
    s
  }

  /** What a fresh analysis of `sources` stores: node and edge rows,
    * `next_id`, and the `graph_entities` reply a server started on that
    * warehouse gives (the one reply that follows the stored row order). */
  private final case class Stored(nodes: Seq[Row], edges: Seq[Row], nextId: Option[Long],
      entities: String)

  private def analyzed(spark: SparkSession, sources: Seq[Ingestor.SourceFile],
      limit: Long): Stored = {
    val s = newStore(spark, limit)
    Ingestor.analyze(spark, s, "r", sources)
    val g = s.load("r")
    val reply = new Endpoints(spark, new GraphStore(spark, s.warehouse))
      .graphEntities(Some("r"))
    assert(reply.code == 200)
    Stored(g.nodes.collect().toSeq, g.edges.collect().toSeq, g.nextIdHint, reply.json)
  }

  /** Both stores hold the same node and edge rows, IDs included, the same
    * `next_id`, and answer `graph_entities` byte for byte alike. */
  private def assertSame(a: Stored, b: Stored): Unit = {
    assert(a.nodes.size == b.nodes.size && a.nodes.toSet == b.nodes.toSet,
      s"nodes differ: ${a.nodes.toSet.diff(b.nodes.toSet)} vs ${b.nodes.toSet.diff(a.nodes.toSet)}")
    assert(a.edges.size == b.edges.size && a.edges.toSet == b.edges.toSet,
      s"edges differ: ${a.edges.toSet.diff(b.edges.toSet)} vs ${b.edges.toSet.diff(a.edges.toSet)}")
    assert(a.nextId.isDefined && a.nextId == b.nextId)
    assert(a.entities == b.entities, "graph_entities replies differ")
  }

  /** The driver path and the Spark path store the same graph
    * ([[assertSame]]); returns the driver path's rows. */
  def assertParity(spark: SparkSession,
      sources: Seq[Ingestor.SourceFile]): (Seq[Row], Seq[Row]) = {
    assert(LocalIngest.build(sources, guard).isDefined,
      "the driver path must take this input")
    val local = analyzed(spark, sources, guard)
    assertSame(local, analyzed(spark, sources, -1))
    (local.nodes, local.edges)
  }

  private def src(path: String, lines: String*): Ingestor.SourceFile =
    Ingestor.SourceFile(path, lines.mkString("\n"))

  /** Sources whose resolution needs every rank key the fresh-graph path can
    * exercise, in Python, Java and C#. */
  val resolutionTree: Seq[Ingestor.SourceFile] = Seq(
    src("a/m1.py", "def f(x):", "    return x"),
    src("b/m2.py", "def f(x, y):", "    return x", "", "def g():", "    pass"),
    src("c/main.py",
      "from b.m2 import f",
      "from a.m1 import f",
      "import b.m2 as mod",
      "",
      "def main():",
      "    f(1, 2)",
      "    mod.g()",
      "    print(len(main))",
      "",
      "class J:",
      "    def step(self):",
      "        pass",
      "",
      "class K:",
      "    def run(self):",
      "        self.step()",
      "",
      "    def step(self):",
      "        pass"),
    src("pkg/a/util.py", "def helper(a):", "    return a"),
    src("z/other.py", "def helper(a, b):", "    return a"),
    src("pkg/a/main.py", "def near():", "    helper(1, 2)"),
    src("app/One.java", "class One {", "  int plot(int a) { return a; }", "}"),
    src("app/Two.java", "class Two {", "  int plot(int a, int b) { return a + b; }", "}"),
    src("app/Main.java", "class Main {", "  void run() {", "    plot(1, 2);", "  }", "}"),
    src("Program.cs",
      "interface ILog { void Write(string m); }",
      "class Base { }",
      "class Logger : ILog {",
      "  public void Write(string m) { Flush(); }",
      "  void Flush() { }",
      "}",
      "class Child : Base { }"),
    // pre-extracted: a repeated declaration (one node), a nested method, a
    // module-level ref (dropped), an interface extended across files, and a
    // base named like an unresolved call (it takes that call's stub)
    src("lib/pre.py.jsonl",
      """{"kind":"entity","label":"Function","name":"twice","start":1,"end":2,"doc":"d","parent":-1}""",
      """{"kind":"entity","label":"Function","name":"twice","start":1,"end":2,"doc":"d","parent":-1}""",
      """{"kind":"entity","label":"Class","name":"Holder","start":3,"end":6,"doc":"","parent":-1}""",
      """{"kind":"entity","label":"Function","name":"hold","start":4,"end":5,"doc":"","parent":2}""",
      """{"kind":"ref","refKind":"call","from":0,"name":"print","line":2,"text":"print(1)","nargs":1}""",
      """{"kind":"ref","refKind":"call","from":-1,"name":"twice","line":7,"text":"twice()"}""",
      """{"kind":"ref","refKind":"extend_interface","from":2,"name":"ILog","line":3,"text":"Holder"}""",
      """{"kind":"ref","refKind":"base_class","from":2,"name":"len","line":3,"text":"Holder"}""",
      """{"kind":"ref","refKind":"call","from":3,"name":"twice","line":5,"text":"twice()","nargs":0}"""))
}
