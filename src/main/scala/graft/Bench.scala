package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default to the machine's cores (the driver contract is local[32] on a
    // 32-cpu VM); the env var stays as an override for local iteration
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    // tmpfs local dir, nanos-as-long, shuffle partitions = cores: the
    // shared builder carries the session-level fixes (see util.Sessions)
    val spark = graft.util.Sessions.local(cpus)
    // optional comma-separated query filter for local iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(q => names(q._1))
      case None => SparkEntry.queries
    }
    // Warmup (reported, not hidden): the reference is a resident server
    // whose graph lives in FalkorDB memory, so cold-start JVM / codegen /
    // cache costs belong to session open, not to any one query. Per-stage
    // Janino compile + C2 JIT of generated code is 1-3 s PER STAGE SHAPE on
    // this VM (measured via tools.Scratch: d03 cold 10.9 s vs warm 0.9 s),
    // so touching base tables is not enough — run every selected query once
    // at the smallest SF (~pure JIT cost, ~no data), then time at the
    // target SF. Plans differ by input path, so no cached result leaks from
    // warmup into the timed pass; only JIT'd classes and file-format code
    // paths carry over — exactly what a resident server amortizes.
    val names = selected.keySet
    // JIT-warmup dir: the LARGEST sibling SF strictly below the target
    // (one decade down in practice). Tiny-SF warmup misses the physical
    // shapes AQE picks at the target size (broadcast vs sort-merge,
    // coalesced vs spread), leaving 4-7 s of first-run codegen in the
    // timed pass of each heavy query; the nearest smaller SF compiles the
    // target's shapes at a tenth of the data. Trailing slashes are
    // stripped (a slash-suffixed SPARK_GRAFT_SF_DIR used to defeat the
    // match and silently pre-run the timed workload); when no smaller SF
    // exists, SKIP the per-query warmup instead of pre-running it.
    val warmDir: Option[String] = sys.env.get("SPARK_GRAFT_WARM_DIR")
      .map(_.replaceAll("/+$", "")).filter(_.nonEmpty).orElse {
      val base = sfDir.replaceAll("/+$", "")
      val m = "sf([0-9.]+)$".r.findFirstMatchIn(base)
      val target = m.map(_.group(1).toDouble)
      val picked = for {
        t <- target
        parent <- Option(new java.io.File(base).getParentFile)
        sibs <- Option(parent.listFiles())
        best <- sibs.toSeq
          .flatMap { f =>
            "^sf([0-9.]+)$".r.findFirstMatchIn(f.getName)
              .flatMap(s => scala.util.Try(s.group(1).toDouble).toOption)
              .filter(v => v < t && f.isDirectory)
              .map(v => (v, f.getAbsolutePath))
          }
          .sortBy(-_._1).headOption
      } yield best._2
      if (picked.isEmpty)
        System.err.println(s"[bench] no smaller SF next to $sfDir; skipping per-query JIT warmup")
      picked
    }
    val w0 = System.nanoTime()
    def warmBaseTables(): Unit = try {
      if (names.exists(_.startsWith("g"))) {
        val g = graft.queries.TpchGraph.build(spark, sfDir)
        g.nodes.count(); g.edges.count()
      }
      if (names.exists(n => n.startsWith("d") || n.startsWith("t")))
        graft.util.Tables.documents(spark, sfDir).count()
      if (names.exists(n => n.startsWith("s") || n.startsWith("d06")))
        graft.util.Tables.embeddings(spark, sfDir).count()
    } catch { case _: Throwable => }
    warmBaseTables()
    // The per-query warmup pass runs CONCURRENTLY (16 queries in flight):
    // its cost is Janino/C2 compile latency plus small-SF jobs, both of
    // which parallelize across driver threads, and at 86 queries a serial
    // pass (216 s in round 5, growing linearly with the registry) had
    // outgrown the timed pass itself. Spark job submission is thread-safe;
    // every gate query builds per-call state (CodeGraph instances), each
    // resident memo builds a key once under concurrent callers, and the
    // post-warmup sweep resets the memos anyway.
    // Concurrency ladder, measured at sf0.1 with the 93-query registry:
    // serial 216 s (r5) → 8 threads 74 s (r6/r7) → 16 threads: see
    // bench_full.json warmup_sec — compile latency is the pole, and 32
    // cores keep 16 small-SF query streams busy without queue collapse.
    warmDir.foreach { wd =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      try {
        selected.toSeq.sortBy(_._1).map { case (name, fn) =>
          pool.submit(new Runnable {
            def run(): Unit =
              try { fn(spark, wd).count(); () }
              catch { case t: Throwable =>
                // a silently-failed warmup leaves that query COLD in the
                // timed pass — surface it (stderr, not the parsed stdout)
                System.err.println(s"[bench] warmup failed: $name: $t")
              }
          })
        }.foreach(t => try t.get() catch { case _: Throwable => () })
      } finally pool.shutdown()
    }
    // drop warmup-pass state (cached frames, localCheckpoint blocks) so the
    // timed pass starts with a clean storage pool — leftover blocks from 60+
    // warmup queries otherwise evict the caches the timed queries build
    // (measured: d04 4.3 s clean vs 18 s under warmup-residue pressure).
    // The sweep must ALSO reset the resident memos (round-4 bug: the graph
    // memo kept handing out unpersisted frames, so every timed g-query
    // rebuilt the graph from parquet — g09 8.5→19.1 s, g10 11.4→25.0 s)
    // and then re-warm the target-SF graph, restoring the resident-server
    // cost model. The warm-up's keys are the warm dir, never sfDir, so the
    // reset drops nothing a timed gate would have reused.
    try {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    } catch { case _: Throwable => }
    graft.util.Resident.reset()
    warmBaseTables()
    // settle AFTER the sweep, inside the warmup span: the 16-way warmup
    // leaves ~90 queries of dead frames whose async ContextCleaner RPCs
    // otherwise drain concurrently with the first heavy timed queries
    // (measured: g08 9.7 s settled vs 21.7 s with the storm in flight);
    // three GC+drain rounds empty the cleaner queue before timing starts
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(700) }
    val warmup = (System.nanoTime() - w0) / 1e9
    // Host-condition SENTINEL: a fixed pure-JVM integer workload (2e8
    // FNV-style folds, zero allocation, zero Spark state) timed after
    // the settle and before the sweep. Both round-14 measurement
    // incidents were host noise with a diffuse every-gate signature; a
    // reader comparing two runs discounts the noisy one mechanically
    // when its cal differs (>1.5x the settled ~0.2-0.4 s baseline =
    // contended host) instead of arguing from per-gate narratives.
    val cal = {
      var acc = 1469598103934665603L
      var i = 0
      val t0 = System.nanoTime()
      while (i < 200000000) { acc = (acc ^ i) * 1099511628211L; i += 1 }
      val dt = (System.nanoTime() - t0) / 1e9
      // sink the accumulator so the loop cannot be dead-code-eliminated
      if (acc == 42L) System.err.println("cal sentinel collision")
      dt
    }
    // Second host-condition sentinel (round 17): cal is a pure-JVM loop,
    // blind by construction to cache/IO drag — both round-14 incidents and
    // the round-16 32-core driver draw showed a diffuse 20-25 % every-gate
    // slowdown at NORMAL cal. A fixed filesystem probe reads that axis:
    // 16 MB written + re-read 4x on the Spark tmpfs local dir, plus 32
    // re-reads of a fixed 256 KB tail slice (the parquet footer end) of
    // one input file on the real data mount. Reported in bench_full.json
    // ("io_sec") and on stderr — deliberately NOT on the parsed stdout
    // line, whose 2000-char parse-window budget is a separate invariant
    // (OPTIMIZATION_r17.md). Settled baseline on this VM: see README.
    val io = {
      val t0 = System.nanoTime()
      // a failed probe leaves no open descriptor and no 16 MB sentinel
      // file behind; only non-fatal errors are swallowed
      try {
        val dir = graft.util.LocalTmp.sparkLocalDir("graft-spark")
        val f = new java.io.File(dir, "bench-io-sentinel.bin")
        val buf = new Array[Byte](1 << 20)
        java.util.Arrays.fill(buf, 0x5a.toByte)
        var sink = 0L
        try {
          val out = new java.io.FileOutputStream(f)
          try {
            var i = 0
            while (i < 16) { out.write(buf); i += 1 }
          } finally out.close()
          var r = 0
          while (r < 4) {
            val in = new java.io.FileInputStream(f)
            try {
              var n = in.read(buf)
              while (n > 0) { sink += buf(0) + n; n = in.read(buf) }
            } finally in.close()
            r += 1
          }
        } finally { f.delete(); () }
        val src = new java.io.File(sfDir, "lineitem.parquet")
        if (src.isFile) {
          val raf = new java.io.RandomAccessFile(src, "r")
          try {
            val len = raf.length()
            val slice = new Array[Byte](math.min(len, 256L * 1024L).toInt)
            var k = 0
            while (k < 32) {
              raf.seek(math.max(0L, len - slice.length))
              raf.readFully(slice); sink += slice(0); k += 1
            }
          } finally raf.close()
        }
        if (sink == 42L) System.err.println("io sentinel collision")
      } catch { case scala.util.control.NonFatal(_) => }
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(
      f"[bench] sentinels cal=$cal%.2f io=$io%.2f warmup=$warmup%.1f")
    val (results, failed) = timeGates(spark, selected.toSeq, sfDir)
    // The driver captures only the LAST 2000 chars of stdout and parses the
    // metric line out of that window; sbt's "[success]" trailer after us is
    // suppressed since round 17 (build.sbt showSuccess := false, ~74 chars
    // of window back). Full-precision doubles pushed round 3's 63-query
    // line past the window (BENCH_r03.json "parsed": null) — so the stdout
    // line uses 2-decimal seconds (~1.8 kB incl. trailer headroom) and the
    // full-precision numbers go to bench_full.json for local profiling.
    def f2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    // With 70+ registered queries, full names push the line past the
    // 2000-char window (round-5 projection: 2029 chars — parse failure
    // again). The stdout map is keyed by the query-ID PREFIX (q18, g11,
    // st07, … — unique by construction) with ONE-decimal values (at 142
    // gates two decimals sat at 1,777/2,000 chars — one decimal buys ~35
    // more gates of headroom); full names + full precision stay in
    // bench_full.json, which is committed and is the profiling surface.
    def f1(v: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    // Round-17 distortion-free trims (the stdout line sat 49 chars from the
    // 2000-char parse cliff at 178 gates): values >= 9.95 s print at 0
    // decimals (<=0.5 % rounding error, 2 chars per 10s+ gate) and an
    // integral 1-decimal rendering drops its ".0" ("4.0" -> "4", same JSON
    // number). NEVER print a bare "0": the driver divides prev/now and
    // 32c/8c per gate, and a zero would poison its speedup/geomean math —
    // that is why the coarser "0-decimal for all sub-second values" lever
    // was rejected (64 gates would print 0). Full precision stays in
    // bench_full.json.
    def fq(v: Double): String =
      if (v >= 9.95) "%.0f".formatLocal(java.util.Locale.ROOT, v)
      else if (v < 0.05) {
        // never print a value that parses as 0 — the driver divides by
        // per-gate seconds; "0.0" was reachable under the old 1dp format
        // for a sub-50ms gate (observed: t36 at 0.04 s)
        if (v < 0.005) "0.01" else f2(v)
      } else {
        val s = f1(v)
        if (s.endsWith(".0")) s.dropRight(2) else s
      }
    val prefixOf = results.map(_._1).groupBy(_.takeWhile(_ != '_'))
    val qs = results.map { case (k, v) =>
      val p = k.takeWhile(_ != '_')
      // duplicate-key JSON guard: fall back to the full name on collision
      val key = if (prefixOf(p).sizeIs == 1) p else k
      "\"" + key + "\":" + fq(v) }
      .mkString("{", ",", "}")
    val qsFull = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // stdout carries ONLY what the driver parses (metric/value/queries/sf):
    // warmup_sec and the prefix-key note moved to bench_full.json in round
    // 14 — at 155 gates the line sat at 1,745/2,000 chars and this buys
    // ~90 chars (~9 more gates of headroom) without losing any data.
    // stdout carries the SF basename only (sf0.1, not the full path):
    // at 168 gates the full-path line sat at 1,803 chars + sbt's ~100-
    // char trailer against the driver's 2,000-char window — the
    // basename buys ~16 chars; the full path stays in bench_full.json.
    // Round 16 dropped the "unit" field (units are seconds by contract,
    // stated in bench_full.json) — the documented next trim lever,
    // applied preemptively: at 175 gates the line would otherwise sit
    // ~1,860/2,000 against the parse window
    val sfBase = new java.io.File(sfDir.replaceAll("/+$", "")).getName
    val line = s"""{"metric":"total","value":${f1(total)},"cal":${f2(cal)},"queries":$qs,"sf":"$sfBase"}"""
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
      s"""{"metric":"total","value":$total,"unit":"sec","warmup_sec":$warmup,"cal_sec":$cal,"io_sec":$io,"queries_note":"stdout uses prefix keys at 1dp; this file is full-name full-precision","queries":$qsFull,"failed":$failedJson,"sf":"$sfDir"}\n""".getBytes("UTF-8"))
    catch { case _: Throwable => }
    println(line)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Seconds of each gate's `.count()` at `sfDir`, in name order, and the
    * gates that threw: their time is no measurement, so they are named on
    * stderr and in the failed list (Bench then exits nonzero). */
  def timeGates(spark: SparkSession,
      gates: Seq[(String, (SparkSession, String) => DataFrame)],
      sfDir: String): (Seq[(String, Double)], Seq[String]) = {
    val failed = Seq.newBuilder[String]
    // deterministic name order: Map iteration order shifts whenever a query
    // is added, silently moving queries into/out of the cold early slots
    // (per-query JIT of generated code is 2-6 s on this VM) — sorted order
    // keeps per-query numbers comparable across rounds
    val results = gates.sortBy(_._1).map { case (name, fn) =>
      // Reclaim the PREVIOUS query's dead state before timing this one:
      // localCheckpoint blocks, shuffle files and broadcasts are only
      // dropped when the ContextCleaner sees their owners get GC'd, so
      // without an explicit GC each query pays its predecessors' garbage
      // (measured in-suite vs isolation at sf0.1: g09 15.4 s vs 7.8 s,
      // g08 18.0 s vs 10.3 s, same code). A resident server GCs while
      // idle between requests — this sits outside the timed span for the
      // same reason. Each query's OWN allocation cost stays inside.
      // two GC passes with a pause: the first queues the dead references
      // with the async ContextCleaner, the pause lets its unpersist/
      // shuffle-delete RPCs drain, the second reclaims what they freed —
      // otherwise the cleanup storm from a heavy predecessor (g08's
      // mutation build is ~1.65M nodes of checkpoint blocks) runs
      // CONCURRENTLY with this query's jobs and serializes on the
      // BlockManager
      System.gc()
      Thread.sleep(400)
      System.gc()
      Thread.sleep(100)
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] gate failed: $name: $e")
          failed += name
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    (results, failed.result())
  }
}
