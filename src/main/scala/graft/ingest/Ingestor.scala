package graft.ingest

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.graph.{CodeGraph, GraphQueries, GraphStore}

/** Two-pass repo ingestion (SURVEY §3.1 Spark trace):
  *
  *   1. first pass — distributed extraction: frontends parse each file on
  *      executors (`mapPartitions`), yielding entity + symbol-ref tables;
  *      files/entities/DEFINES land as three batch upserts (the reference
  *      pays one FalkorDB round-trip per AST node,
  *      `/root/reference/api/graph.py:150` — the BASELINE.md anti-goal);
  *   2. second pass — name-based resolution JOIN replaces the per-symbol
  *      LSP `request_definition` IPC (`api/analyzers/source_analyzer.py:
  *      118-169`): refs ⨝ declared entities on name, preferring same-file
  *      targets, unresolved call targets materialized as stub Function
  *      nodes (builtins like `print` appear exactly as in the reference's
  *      fixture graph — FIXTURES.md §1.1).
  *
  * Scale: extraction is embarrassingly parallel over files; every join is
  * keyed on (name) or (path, idx). The batches are not cheap in jobs: ID
  * assignment and the lineage cuts run eagerly, so a fresh 100-file ingest
  * runs 56 Spark jobs (then 17 in `checkpointNow` and 3 in `save`), almost
  * all of it per-job cold overhead. [[analyze]] therefore builds a fresh
  * graph within the serving guard on the driver ([[LocalIngest]], the
  * same rows and IDs) and writes it with Spark's parquet writer on the
  * driver: 0 Spark jobs in all. This path serves re-analysis, history
  * walks, streaming and input over the guard.
  */
object Ingestor {

  final case class SourceFile(path: String, source: String)

  /** Frontend registry — mirrors `api/analyzers/source_analyzer.py:24-29`
    * (python, java, csharp; plus the JSONL escape hatch), and ALSO wires
    * the C analyzer the reference ships but keeps commented out of its
    * registry (`source_analyzer.py:25-26` — golden-tested here over the
    * reference's own `tests/source_files/c/src.c`). */
  val frontends: Seq[LanguageFrontend] =
    Seq(PythonFrontend, JavaFrontend, CSharpFrontend, CFrontend, JsonlFrontend)

  /** `source` through the frontend of `path`'s extension, keyed by the
    * logical path the graph stores; None for an unsupported file. */
  def extract(path: String, source: String): Option[(String, FileExtraction)] = {
    val ext = splitPath(path)._3
    frontends.find(_.extensions.contains(ext)).map { fe =>
      val logical = if (fe == JsonlFrontend) JsonlFrontend.logicalPath(path) else path
      (logical, fe.extract(path, source))
    }
  }

  /** Edge type of each typed reference kind
    * (`api/analyzers/source_analyzer.py:158-169`). */
  val relOfKind: Map[String, String] = Map(
    "base_class" -> "EXTENDS", "extend_interface" -> "EXTENDS",
    "implement_interface" -> "IMPLEMENTS",
    "return_type" -> "RETURNS", "parameters" -> "PARAMETERS")

  /** The dotted module an import binds its alias to: the module itself for
    * a whole-module import (`import numpy as np`), module.symbol for a
    * member (`import a.b.C`). */
  def qualModule(module: String, symbol: String): String =
    if (symbol == "") module else if (module == "") symbol else s"$module.$symbol"

  private val rankUdf = udf(Resolution.rank _)

  def splitPath(p: String): (String, String, String) = {
    val slash = p.lastIndexOf('/')
    val (dir, base) = if (slash < 0) ("", p) else (p.substring(0, slash), p.substring(slash + 1))
    val dot = base.lastIndexOf('.')
    val ext = if (dot < 0) "" else base.substring(dot)
    (dir, base, ext)
  }

  /** Counters are lazy: computing them costs three count jobs over the
    * final graph, and callers on the hot path (history walks ingest once
    * per commit) never read them. */
  final class IngestReport(files: => Long, entities: => Long, edges: => Long) {
    lazy val nFiles: Long = files
    lazy val nEntities: Long = entities
    lazy val nEdges: Long = edges
  }

  /** `analyze_folder`'s and `analyze_repo`'s write of graph `name`. A graph
    * the store does not hold yet, whose extraction stays within the store's
    * serving guard ([[GraphStore.servingLimit]]), is built on the driver
    * ([[LocalIngest]]) and written by [[GraphStore.save]]'s driver writer,
    * in no Spark job; any other input goes through [[ingest]] and the
    * mutation batches. */
  def analyze(spark: SparkSession, store: GraphStore, name: String,
      sources: Seq[SourceFile]): Unit =
    (if (store.exists(name)) None
     else LocalIngest.build(sources, store.servingLimit)) match {
      case Some(local) => store.save(name, local)
      case None =>
        val g = new CodeGraph(spark, name, Some(store))
        ingest(g, sources)
        g.checkpointNow(); g.save()
    }

  def ingest(g: CodeGraph, files: Seq[SourceFile]): IngestReport = {
    val spark = g.spark
    import spark.implicits._
    ingest(g, files.toDF("path", "source"))
  }

  /** Distributed ingest: `filesDf` has (path, source). */
  def ingest(g: CodeGraph, filesDf: DataFrame): IngestReport = {
    val spark = g.spark
    import spark.implicits._
    val preNodes = g.graph.nodes // resolution targets already in the graph

    // ---- first pass: parallel extraction ---------------------------------
    val extracted = filesDf.as[(String, String)].mapPartitions { it =>
      it.flatMap { case (path, source) => extract(path, source) }
    }.cache()

    val entitiesRaw = extracted.flatMap { case (path, fx) =>
      fx.entities.zipWithIndex.map { case (e, idx) =>
        (path, idx, e.label, e.name, e.srcStart, e.srcEnd, e.doc, e.parentIdx,
          e.arity, e.minArity)
      }
    }.toDF("fpath", "idx", "label", "name", "src_start", "src_end", "doc",
        "parentIdx", "arity", "min_arity")
      .cache()
    val refsRaw = extracted.flatMap { case (path, fx) =>
      fx.refs.map(r => (path, r.fromIdx, r.kind, r.name, r.line, r.text,
        r.nargs, r.qualifier))
    }.toDF("fpath", "fromIdx", "kind", "name", "line", "text", "nargs",
        "qualifier")
      .cache()
    // per-file scope table: what each file's imports bind each name to —
    // the reference gets this from LSP (`source_analyzer.py:118-169`).
    // When a file rebinds one alias twice (`from a import f` then
    // `from b import f`), the LAST import wins — Python's runtime
    // shadowing — picked deterministically by the frontend's emission
    // order (dropDuplicates would keep a partitioning-dependent row).
    val importsLast = extracted.flatMap { case (path, fx) =>
      fx.imports.zipWithIndex.map { case (im, ord) =>
        (path, im.alias, im.module, im.symbol, ord.toLong)
      }
    }.toDF("fpath", "alias", "import_module", "import_symbol", "ord")
      .groupBy($"fpath", $"alias")
      .agg(max_by(struct($"import_module", $"import_symbol"), $"ord").as("b"))
      .select($"fpath", $"alias", $"b.import_module".as("import_module"),
        $"b.import_symbol".as("import_symbol"))
    // only member bindings (symbol != "") can redirect a bare call name
    val importsRaw = importsLast.filter($"import_symbol" =!= "")
    // second scope table, for QUALIFIED calls: every import binds its alias
    // to a dotted module — whole-module binds (`import numpy as np`,
    // symbol "") to the module itself, member binds (`import a.b.C`) to
    // module.symbol — so `np.array(..)` / `C.m(..)` can resolve inside the
    // module the receiver actually names
    val qualImportsRaw = importsLast.select($"fpath".as("qfpath"),
      $"alias".as("qalias"),
      udf(qualModule _).apply($"import_module", $"import_symbol").as("qual_module"))

    // files
    val fileBatch = extracted.map(_._1).distinct().map { p =>
      val (dir, base, ext) = splitPath(p)
      (dir, base, ext, p)
    }.toDF("path", "name", "ext", "fpath").cache()
    val fileRes = g.addFiles(fileBatch.select($"path", $"name", $"ext"))
    val fileIds = fileRes.result
      .join(fileBatch, Seq("path", "name", "ext"))
      .select($"fpath", $"id".as("file_id"))

    // entities (path property = containing file path, like the reference)
    val entRes = g.addEntities(entitiesRaw.select($"label", $"name",
      $"fpath".as("path"), $"src_start", $"src_end", $"doc",
      map().cast("map<string,string>").as("props")))
    // localCheckpoint, not cache: the ID-assignment plan upstream (upsert
    // joins + zipWithIndex) would otherwise ride along in every downstream
    // batch plan — plans grow multiplicatively over a mutation chain
    // (observed 12 MiB task binaries on history walks).
    val entIds = entitiesRaw
      .join(entRes.result.withColumnRenamed("path", "fpath"),
        Seq("label", "name", "fpath", "src_start", "src_end"))
      .select($"fpath", $"idx", $"id".as("ent_id"), $"label".as("ent_label"))
      .localCheckpoint(true)

    // DEFINES hierarchy
    val rootDefines = entitiesRaw.filter($"parentIdx" === -1)
      .join(entIds, Seq("fpath", "idx"))
      .join(fileIds, Seq("fpath"))
      .select($"file_id".as("src"), $"ent_id".as("dst"))
    val nestedDefines = entitiesRaw.filter($"parentIdx" =!= -1)
      .join(entIds, Seq("fpath", "idx"))
      .join(entIds.select($"fpath", $"idx".as("parentIdx"),
        $"ent_id".as("parent_id")), Seq("fpath", "parentIdx"))
      .select($"parent_id".as("src"), $"ent_id".as("dst"))
    g.connectEntities(rootDefines.union(nestedDefines)
      .withColumn("type", lit("DEFINES"))
      .withColumn("props", map().cast("map<string,string>")))

    // ---- second pass: name-based resolution join ------------------------
    // Targets = this batch's entities PLUS everything already declared in
    // the graph: an incremental ingest (history-walk step, single changed
    // file) must resolve cross-file references against the full project,
    // exactly like the reference's LSP `request_definition` does — batch-
    // only resolution would stub out calls whose real definition already
    // exists (`api/analyzers/source_analyzer.py:118-169`).
    val entityLabels = Seq("Class", "Function", "Interface", "Enum",
      "Struct", "Method", "Constructor")
    val preExisting = preNodes
      .filter(element_at($"labels", 1).isin(entityLabels: _*))
      .select($"id".as("target_id"), $"path".as("target_path"),
        $"name".as("target_name"), element_at($"labels", 1).as("target_label"),
        lit(-1).as("target_arity"), // arity is batch-local, not persisted
        lit(-1).as("target_min_arity"))
    val declared = entIds.select($"ent_id".as("target_id"),
      $"fpath".as("target_path"), $"idx".as("target_idx"))
      .join(entitiesRaw.select($"fpath".as("target_path"),
        $"idx".as("target_idx"), $"name".as("target_name"),
        $"label".as("target_label"), $"arity".as("target_arity"),
        $"min_arity".as("target_min_arity"),
        $"parentIdx".as("target_parent_idx")),
        Seq("target_path", "target_idx"))
      .select($"target_id", $"target_path", $"target_name", $"target_label",
        $"target_arity", $"target_min_arity", $"target_parent_idx")
      .unionByName(preExisting
        .withColumn("target_parent_idx", lit(-1))) // parent is batch-local

    // import/alias pre-resolution: a call name matching one of the
    // calling FILE's member imports resolves against the imported symbol
    // (`from m import f as g; g()` must find m's `f` — a bare name join
    // never would), and carries the module for the in-scope ranking below
    val srcSide = refsRaw
      .join(entIds.select($"fpath", $"idx".as("fromIdx"),
        $"ent_id".as("src_id")), Seq("fpath", "fromIdx"), "left")
      .filter($"src_id".isNotNull) // module-level refs have no source entity
      // the caller's ENCLOSING entity (its class, for a method) — feeds
      // the member-resolution rank below
      .join(entitiesRaw.select($"fpath", $"idx".as("fromIdx"),
        $"parentIdx".as("src_parent_idx")), Seq("fpath", "fromIdx"), "left")
      // bare-name redirect only: `obj.f()` is attribute lookup on obj, NOT
      // the file-scope binding of a `from m import f` — qualified calls
      // resolve through the receiver's alias below instead
      .join(importsRaw, refsRaw("name") === importsRaw("alias") &&
        refsRaw("fpath") === importsRaw("fpath") &&
        refsRaw("qualifier") === "", "left")
      .drop(importsRaw("fpath")).drop("alias")
      .withColumn("eff_name", coalesce($"import_symbol", $"name"))
      // receiver resolution: map the qualifier's HEAD segment through the
      // calling file's import aliases; trailing segments ride along
      // (`import a as x; x.b.f()` -> module a.b)
      .withColumn("qual_head", element_at(split($"qualifier", "\\."), 1))
      .join(qualImportsRaw, $"fpath" === $"qfpath" &&
        $"qual_head" === $"qalias" && $"qualifier" =!= "", "left")
      .withColumn("eff_qual_module", when($"qual_module".isNotNull,
        concat($"qual_module",
          when(length($"qualifier") > length($"qual_head"),
            concat(lit("."), expr("substring(qualifier, length(qual_head) + 2)")))
            .otherwise(lit("")))))
      .drop("qfpath", "qalias", "qual_module", "qual_head")

    // every candidate of a reference ranked by the shared rule
    // ([[Resolution.rank]]); the first in each reference's window wins
    val candidate = struct($"fpath", $"qualifier", $"nargs",
      coalesce($"src_parent_idx", lit(-1)).as("srcParentIdx"),
      $"import_module".as("importModule"), $"import_symbol".as("importSymbol"),
      $"eff_qual_module".as("effQualModule"),
      when($"target_id".isNotNull, struct($"target_id".as("id"),
        $"target_path".as("path"), $"target_arity".as("arity"),
        $"target_min_arity".as("minArity"),
        $"target_parent_idx".as("parentIdx"))).as("target"))
    val w = Window.partitionBy($"fpath", $"fromIdx", $"kind", $"name",
        $"line", $"qualifier")
      .orderBy(Encoders.product[Resolution.Rank].schema.fieldNames
        .map(f => $"rank".getField(f).asc_nulls_last).toIndexedSeq: _*)
    val resolved = srcSide.join(declared, $"eff_name" === $"target_name", "left")
      .withColumn("rank", rankUdf(candidate))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .drop("rk", "rank", "eff_name", "import_module", "import_symbol",
        "eff_qual_module", "src_parent_idx", "target_parent_idx")
      .localCheckpoint(true)

    // unresolved call targets become stub Function nodes (builtins)
    val stubs = resolved.filter($"target_id".isNull && $"kind" === "call")
      .select($"name").distinct()
      .select(lit("Function").as("label"), $"name", lit("").as("path"),
        lit(0L).as("src_start"), lit(0L).as("src_end"), lit("").as("doc"),
        map().cast("map<string,string>").as("props"))
    val stubRes = g.addEntities(stubs)
    val stubIds = stubRes.result.select($"name", $"id".as("stub_id"))

    val withTargets = resolved
      .join(stubIds, Seq("name"), "left")
      .withColumn("dst_id", coalesce($"target_id", $"stub_id"))
      .filter($"dst_id".isNotNull)
      .localCheckpoint(true)

    // CALLS (with position + call-site text, api/graph.py:500-516 shape)
    val calls = withTargets.filter($"kind" === "call")
      .select($"src_id".as("src"), $"dst_id".as("dst"), $"line".as("pos"), $"text")
    g.addCalls(calls)

    // typed relation edges (api/analyzers/source_analyzer.py:158-169) —
    // ONE batch for all kinds (a per-kind loop costs an isEmpty job plus a
    // mutation round per relation type)
    val kindToRel = typedLit(relOfKind)
    // C# base-list correction (`api/analyzers/csharp/analyzer.py:80-88`
    // NOTE + `tests/test_csharp_analyzer.py:66-69`): syntactically the first
    // base is tagged base_class, but when it RESOLVES to an Interface the
    // edge must be IMPLEMENTS — we have the target label right here.
    val typedEdges = withTargets
      .withColumn("type",
        when($"kind" === "base_class" && $"target_label" === "Interface",
          lit("IMPLEMENTS"))
        .otherwise(element_at(kindToRel, $"kind")))
      .filter($"type".isNotNull)
      .select($"src_id".as("src"), $"dst_id".as("dst"), $"type",
        map().cast("map<string,string>").as("props"))
    g.connectEntities(typedEdges)

    extracted.unpersist()
    // the unpinned snapshot still reads these batches: releasing them before
    // the caller's checkpointNow would recompute extraction and ID assignment
    g.releaseAtCheckpoint(entitiesRaw, refsRaw, fileBatch)
    // snapshot the post-ingest graph NOW: `g` is mutable, so a lazily
    // forced counter must not observe later mutations
    val endGraph = g.graph
    lazy val stats = GraphQueries.stats(endGraph).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    new IngestReport(fileBatch.count(), stats("nodes"), stats("edges"))
  }
}
