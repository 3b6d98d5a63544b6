package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.api.{HttpApi, RuleChatClient}
import graft.graph.GraphStore

/** Serving benchmark: starts the real HTTP server over a fresh warehouse in
  * this process, ingests a seeded synthetic input, then drives a fixed,
  * seeded request script from one closed-loop client over one keep-alive
  * connection. See perfbench/NOTES.md.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *   [--smoke] --work DIR --record FILE
  */
object Harness {

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, smoke: Boolean, work: Path, record: Path)

  /** Input size and script length of one workload. Script lengths are
    * request counts, never time budgets: the timed window is
    * `rounds(seconds)` rounds on every commit for the same `--seconds`. */
  final case class Shape(files: Int, commits: Int, warmRounds: Int,
      roundsPerSecond: Double) {
    def rounds(seconds: Int): Int = math.max(1, math.round(roundsPerSecond * seconds).toInt)
  }

  def shape(workload: String, smoke: Boolean): Shape = (workload, smoke) match {
    case ("browse-small", false) => Shape(100, 0, 4, 0.25)
    case ("browse-large", false) => Shape(5000, 0, 3, 0.25)
    case ("history", false) => Shape(10, 3, 1, 0.2)
    case ("browse-small", true) => Shape(3, 0, 1, 0.1)
    case ("browse-large", true) => Shape(6, 0, 1, 0.1)
    case ("history", true) => Shape(3, 3, 1, 0.1)
    case _ => throw new IllegalArgumentException(s"unknown workload $workload")
  }

  def parse(args: Array[String]): Opts = {
    def arg(k: String): Option[String] = args.indexOf(k) match {
      case -1 => None
      case i => Some(args(i + 1))
    }
    def need(k: String): String = arg(k).getOrElse(
      throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", args.contains("--smoke"),
      Paths.get(need("--work")).toAbsolutePath, Paths.get(need("--record")))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val run = new Run(o, shape(o.workload, o.smoke))
    val result = try run.execute() finally run.close()
    println(result)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** One benchmark run: input, setup, warm-up, timed script, metrics. */
final class Run(o: Harness.Opts, sh: Harness.Shape) extends AutoCloseable {
  import Harness.log

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val rng = new Random(o.seed)
  private val history = o.workload == "history"
  private val repo = if (history) "hist" else "tree"
  private val inputDir = o.work.resolve("input").resolve(repo)
  private var spark: SparkSession = _
  private var api: HttpApi = _
  private var client: Client = _
  private val record = new Record

  def close(): Unit = {
    if (client != null) client.close()
    if (api != null) api.stop()
    if (spark != null) spark.stop()
  }

  def execute(): String = {
    val g0 = System.nanoTime()
    val commits =
      if (history)
        Gen.writeHistoryRepo(inputDir, sh.files, Gen.FunctionsPerFile / 2,
          sh.commits, new Random(rng.nextLong()))
      else { Gen.writeBrowseTree(inputDir, sh.files); Nil }
    val genS = (System.nanoTime() - g0) / 1e9

    spark = graft.util.Sessions.local(Runtime.getRuntime.availableProcessors())
    val store = new GraphStore(spark, o.work.resolve("warehouse").toString)
    api = new HttpApi(spark, store, RuleChatClient, secretToken = None,
      publicAccess = true)
    val port = api.start(0)
    val seg = new Segments
    val layers = new Layers(spark, store, seg)
    val setupLayers: Seq[(String, Double, String)] =
      if (!o.trace) {
        val (path, body) =
          if (history) ("/analyze_repo", Script.json("url" -> inputDir.toString))
          else ("/analyze_folder", Script.json("path" -> inputDir.toString))
        client = new Client(port)
        val (code, reply) = client.post(path, body)
        require(code == 200, s"$path failed: $code $reply")
        Nil
      } else {
        val extract = layers.extractMsPerFile(inputDir.toString)
        val ingest = Seq(("ingest.extract_ms_per_file", extract, "ms"))
        if (history) {
          val (ingestS, graphS) = layers.analyzeRepo(inputDir.toString)
          ingest ++ Seq(("ingest.ingest_s", ingestS, "s"),
            ("git.commit_graph_s", graphS, "s"),
            ("git.cli_ms", layers.gitCliMs(inputDir.toString), "ms"))
        } else ingest :+ (("ingest.ingest_s", layers.analyzeFolder(inputDir.toString), "s"))
      }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - genS
    // the traced setup calls the layers directly; connect only now, since
    // the server closes a connection left idle for 30 s
    if (client == null) client = new Client(port)
    log(f"setup $setupS%.1f s")
    record.put("setup_s", setupS)
    record.put("input_gen_s", genS)
    for (t <- Seq("nodes", "edges")) {
      val files = Files.walk(o.work.resolve("warehouse").resolve(repo).resolve(t))
      try record.put(s"warehouse_${t}_bytes", files.iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size).sum)
      finally files.close()
    }

    val scripts = new Scripts(o.workload, repo, sh.files, commits,
      if (history) Map.empty
      else store.load(repo).nodes.select(col("name"), col("id")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    val warm = scripts.make(new Random(rng.nextLong()), sh.warmRounds)
    val timed = scripts.make(new Random(rng.nextLong()), sh.rounds(o.seconds))

    val loop = new ClosedLoop(client)
    val (w, _) = loop.run(warm)
    log(s"warm-up done (${w.length} actions)")
    Metrics.drift(record, "warm", w)
    val jvm = new Metrics.JvmWindow
    val steal = new Metrics.StealWindow
    val ledger = new Ledger
    if (o.trace) spark.sparkContext.addSparkListener(ledger)
    val traced = new Traced(loop, layers, seg)
    val (t, wall) = if (o.trace) traced.run(timed) else loop.run(timed)
    val (gcMs, jitMs) = jvm.delta()
    record.put("host_steal_share", steal.delta())
    val heap = Metrics.liveHeapMb()
    val (blocks, storageMb) = Metrics.storage(spark)
    Metrics.drift(record, "timed", t)
    log(s"timed window: ${t.length} actions in ${wall}s; storage blocks $blocks; " +
      record.fields.filter(_._1.startsWith("timed.half")).map { case (k, v) =>
        f"${k.stripPrefix("timed.")}=${v.asInstanceOf[Double]}%.0f" }.mkString(" "))
    val errs = (w ++ t).zipWithIndex.flatMap { case (s, i) =>
      s.error.map(e => s"action $i of ${w.length + t.length}: $e")
    }
    errs.foreach(e => log(s"FAILED $e"))
    val common = Seq(("spark.storage_blocks_end", blocks.toDouble, "count"),
      ("spark.storage_mb_end", storageMb, "MB"),
      ("jvm.gc_ms", gcMs.toDouble, "ms"), ("jvm.jit_ms", jitMs.toDouble, "ms"))
    val m =
      if (o.trace) {
        org.apache.spark.ListenerDrain(spark.sparkContext)
        setupLayers ++ traced.metrics(ledger, t) ++ common :+
          (("cal_s", Metrics.cal(), "s"))
      } else Metrics.endToEnd(history, setupS, t, wall, heap)
    (m ++ common).foreach { case (k, v, _) => record.put(k, v) }
    record.put("timed_actions", t.length)
    record.put("failures", errs.toArray)
    Files.createDirectories(o.record.toAbsolutePath.getParent)
    Files.write(o.record, record.json.getBytes("UTF-8"))
    Metrics.line(1 + w.length + t.length, errs.length, m)
  }
}
