package graft.ingest

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.graph.{CodeGraph, GraphQueries}
import org.apache.spark.sql.functions._

/** End-to-end ingest of the reference's OWN test fixture files (read from
  * /root/reference/tests/source_files/ as inputs), asserting the golden
  * surface its analyzer tests assert — the strongest parity check the
  * reference offers:
  *  - Python: tests/test_py_analyzer.py:28-59 (entities, calls, callers)
  *  - C#:     tests/test_csharp_analyzer.py:30-69 (labels, DEFINES,
  *            IMPLEMENTS)
  */
class ReferenceFixtureSpec extends SparkSpec {

  private def readFixture(rel: String): Option[String] = {
    val p = Paths.get("/root/reference/tests/source_files", rel)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), "UTF-8"))
    else None
  }

  test("reference src.py: entities, calls, callers match the golden test") {
    val src = readFixture("py/src.py").getOrElse(cancel("fixture missing"))
    val g = new CodeGraph(spark, "ref_py")
    Ingestor.ingest(g, Seq(Ingestor.SourceFile("src.py", src)))
    import spark.implicits._

    // File('', 'src.py', '.py') exists (test_py_analyzer.py:27-28)
    assert(GraphQueries.getFile(g.graph, "", "src.py", ".py").count() == 1)

    // log / abort / __init__ functions and the Task class exist (:30-49)
    val nodes = g.graph.nodes
      .select($"id", $"name", element_at($"labels", 1).as("label"))
    val names = nodes.collect()
      .map(r => (r.getAs[String]("name"), r.getAs[String]("label"))).toSet
    Seq("log", "abort", "__init__").foreach { fn =>
      assert(names.contains((fn, "Function")), s"missing Function $fn")
    }
    assert(names.contains(("Task", "Class")))

    // function_calls(abort) == {log} (:51-53); J2 returns collect(callee)
    val abortCalls = GraphQueries.functionCalls(g.graph, "abort")
      .select(explode($"callees").as("c")).as[String].collect().toSet
    assert(abortCalls == Set("log"))

    // function_called_by(print) includes __init__ and log (:55-60)
    val printCallers = GraphQueries.functionCalledBy(g.graph, "print")
      .select(explode($"callers").as("c")).as[String].collect().toSet
    assert(Set("__init__", "log").subsetOf(printCallers))
  }

  test("reference Program.cs: labels, DEFINES, IMPLEMENTS match the golden test") {
    val src = readFixture("csharp/Program.cs").getOrElse(cancel("fixture missing"))
    val g = new CodeGraph(spark, "ref_cs")
    Ingestor.ingest(g, Seq(Ingestor.SourceFile("Program.cs", src)))
    import spark.implicits._

    val nodes = g.graph.nodes
      .select($"id", $"name", element_at($"labels", 1).as("label"))
    val byKey = nodes.collect()
      .map(r => (r.getAs[String]("name"), r.getAs[String]("label")) ->
        r.getAs[Long]("id")).toMap

    // ILogger interface, ConsoleLogger + Task classes (:30-43)
    assert(byKey.contains(("ILogger", "Interface")))
    assert(byKey.contains(("ConsoleLogger", "Class")))
    assert(byKey.contains(("Task", "Class")))
    // methods Log / Execute / Abort by name (:45-49)
    Seq("Log", "Execute", "Abort").foreach { m =>
      assert(byKey.keys.exists(_._1 == m), s"missing method $m")
    }
    // Constructor named Task (:51-54)
    assert(byKey.contains(("Task", "Constructor")))

    val edges = g.graph.edges
    // File DEFINES > 0 (:56-59)
    val fileId = byKey(("Program.cs", "File"))
    assert(edges.filter($"type" === "DEFINES" && $"src" === fileId).count() > 0)
    // Task class DEFINES its members (:61-64)
    assert(edges.filter($"type" === "DEFINES" &&
      $"src" === byKey(("Task", "Class"))).count() > 0)
    // ConsoleLogger -[:IMPLEMENTS]-> ILogger (:66-69)
    assert(edges.filter($"type" === "IMPLEMENTS" &&
      $"src" === byKey(("ConsoleLogger", "Class")) &&
      $"dst" === byKey(("ILogger", "Interface"))).count() == 1)
  }

  test("C frontend: preprocessor lines don't shift declaration bounds") {
    val src = Seq(
      /* 0 */ "#include <stdio.h>",
      /* 1 */ "#define MAX 10",
      /* 2 */ "",
      /* 3 */ "int twice(int x) {",
      /* 4 */ "    return x + x;",
      /* 5 */ "}"
    ).mkString("\n")
    val fx = CFrontend.extract("p.c", src)
    val f = fx.entities.find(_.name == "twice").get
    assert(f.srcStart === 3 && f.srcEnd === 5)
    assert(f.arity === 1)
    assert(fx.entities.map(_.name) === Seq("twice"))
  }

  test("C frontend: calls in single-line bodies are collected") {
    // the declaration accumulator consumes the whole K&R one-liner; the
    // body after '{' must still be scanned (tree-sitter collects body
    // calls regardless of line layout)
    val src = Seq(
      /* 0 */ "int g(int x) { return x; }",
      /* 1 */ "int f(int x) { return g(x); }",
      /* 2 */ "int h(int a,",
      /* 3 */ "      int b) { return f(a) + g(b); }"
    ).mkString("\n")
    val fx = CFrontend.extract("k.c", src)
    assert(fx.entities.map(_.name) === Seq("g", "f", "h"))
    val fIdx = fx.entities.indexWhere(_.name == "f")
    val hIdx = fx.entities.indexWhere(_.name == "h")
    assert(fx.refs.map(r => (r.name, r.fromIdx, r.nargs)).toSet ===
      Set(("g", fIdx, 1), ("f", hIdx, 1), ("g", hIdx, 1)))
  }

  test("reference src.c: functions, struct, calls match the golden test") {
    // tests/test_c_analyzer.py:26-61 over tests/source_files/c/src.c —
    // the analyzer the reference ships but keeps out of its registry
    val src = readFixture("c/src.c").getOrElse(cancel("fixture missing"))
    val fx = CFrontend.extract("src.c", src)
    val byName = fx.entities.map(e => e.name -> e).toMap
    // Function('src.c', 'add', ..., 0, 7): multi-line signature spans 0-7
    assert(byName("add").label === "Function")
    assert(byName("add").srcStart === 0 && byName("add").srcEnd === 7)
    assert(byName("add").arity === 2)
    // Struct('src.c', 'exp', '', 9, 13)
    assert(byName("exp").label === "Struct")
    assert(byName("exp").srcStart === 9 && byName("exp").srcEnd === 13)
    // Function('src.c', 'main', ..., 15, 18)
    assert(byName("main").label === "Function")
    assert(byName("main").srcStart === 15 && byName("main").srcEnd === 18)
    assert(byName("main").arity === 2)

    // graph leg: main calls add; add called by {add, main} (the self-call)
    val g = new CodeGraph(spark, "ref_c")
    Ingestor.ingest(g, Seq(Ingestor.SourceFile("src.c", src)))
    val callees = GraphQueries.functionCalls(g.graph, "main")
      .head().getAs[scala.collection.Seq[String]]("callees")
    assert(callees.toSet === Set("add"))
    val callers = GraphQueries.functionCalledBy(g.graph, "add")
      .head().getAs[scala.collection.Seq[String]]("callers")
    assert(callers.toSet === Set("add", "main"))
  }

  test("reference fixtures: the driver and the Spark analyze store the same graph") {
    val fixtures = Seq("py/src.py", "csharp/Program.cs", "java/Task.java", "c/src.c")
      .flatMap(rel => readFixture(rel).map(Ingestor.SourceFile(rel.split('/').last, _)))
    if (fixtures.isEmpty) cancel("fixtures missing")
    fixtures.foreach(f => AnalyzeSpec.assertParity(spark, Seq(f)))
    AnalyzeSpec.assertParity(spark, fixtures)
  }
}
