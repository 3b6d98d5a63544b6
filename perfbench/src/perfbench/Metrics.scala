package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A run's full record: every number the run measured, written to the
  * `--record` file; the printed result line carries only the contract's
  * metrics. */
final class Record {
  val fields = mutable.LinkedHashMap.empty[String, Any]
  def put(k: String, v: Any): Unit = fields(k) = v
  def json: String = Script.mapper.writerWithDefaultPrettyPrinter()
    .writeValueAsString(fields.asJava)
}

object Metrics {

  /** Percentile by linear interpolation between order statistics (the p50
    * of an even count is the mean of the middle two); `p` in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val x = p * (s.length - 1)
    val i = x.toInt
    if (i + 1 >= s.length) s.last else s(i) + (x - i) * (s(i + 1) - s(i))
  }

  /** Heap in use after full collections. Spark's ContextCleaner releases
    * broadcast and shuffle state asynchronously once a collection has found
    * its owners unreachable, so the harness collects, lets the cleaner run,
    * and collects again. */
  def liveHeapMb(): Double = {
    for (_ <- 1 to 2) { System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def storage(spark: SparkSession): (Long, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.numCachedPartitions.toLong).sum,
      infos.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }

  /** The result line: `metrics` maps name -> (value, unit). */
  def line(attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    val m = Script.mapper.createObjectNode()
    metrics.foreach { case (k, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k = $v")
      val n = m.putObject(k)
      n.put("value", v); n.put("unit", u)
    }
    val root = Script.mapper.createObjectNode()
    root.put("correct", failed == 0)
    root.put("attempted", attempted)
    root.put("failed", failed)
    root.set[com.fasterxml.jackson.databind.JsonNode]("metrics", m)
    Script.mapper.writeValueAsString(root)
  }

  /** Share of CPU time the hypervisor took from this VM (the `steal` column
    * of /proc/stat) between construction and `delta()`; NaN where the file
    * does not exist. A host diagnostic for reading noisy runs. */
  final class StealWindow {
    private def ticks: Option[(Long, Long)] = scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val cpu = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally f.close()
      (cpu(7), cpu.sum)
    }.toOption
    private val t0 = ticks
    def delta(): Double = (t0, ticks) match {
      case (Some((s0, a0)), Some((s1, a1))) if a1 > a0 => (s1 - s0).toDouble / (a1 - a0)
      case _ => Double.NaN
    }
  }

  /** GC and JIT compilation time spent from construction to `delta()`. */
  final class JvmWindow {
    private def gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    private def jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    private val (gc0, jit0) = (gc, jit)
    def delta(): (Long, Long) = (gc - gc0, jit - jit0)
  }

  /** Host sentinel: a fixed pure-JVM integer loop (the same probe as
    * `graft.Bench`'s `cal`). A diagnostic of host speed, not a metric to
    * compare across commits. */
  def cal(): Double = {
    var acc = 1469598103934665603L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 200000000) { acc = (acc ^ i) * 1099511628211L; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    if (acc == 42L) System.err.println("cal sentinel collision")
    dt
  }

  /** The contract's end-to-end metrics of a plain run. */
  def endToEnd(history: Boolean, setupS: Double, t: Seq[Sample], wall: Double,
      heapMb: Double): Seq[(String, Double, String)] = {
    // failed actions stay in the samples at their measured latency; they
    // are counted in `failed` and make the run incorrect
    def p(op: String, q: Double): Double = pct(t.filter(_.op == op).map(_.ms), q)
    val reads = t.filter(s => Script.ReadOps.contains(s.op)).map(_.ms)
    Seq(("setup_s", setupS, "s")) ++
      (if (history) Seq(
        ("switch_p50_ms", p("switch", 0.5), "ms"),
        ("switch_p90_ms", p("switch", 0.9), "ms"),
        ("reread_p50_ms", p("open", 0.5), "ms"))
      else Script.ReadOps.map(op => (s"${op}_p50_ms", p(op, 0.5), "ms")) :+
        (("read_rps", t.map(_.httpRequests).sum / wall, "1/s"))) ++ Seq(
      ("read_p70_ms", pct(reads, 0.70), "ms"),
      ("heap_mb", heapMb, "MB"))
  }

  /** Per-op p50 and samples of a phase, and the p50 of its first and second
    * half. */
  def drift(record: Record, phase: String, samples: Seq[Sample]): Unit = {
    val byOp = samples.groupBy(_.op)
    byOp.toSeq.sortBy(_._1).foreach { case (op, ss) =>
      val ms = ss.map(_.ms)
      record.put(s"$phase.p50_ms.$op", pct(ms, 0.5))
      record.put(s"$phase.samples_ms.$op", ms.asJava)
      val (a, b) = ms.splitAt(ms.length / 2)
      if (a.nonEmpty && b.nonEmpty) {
        record.put(s"$phase.half1_p50_ms.$op", pct(a, 0.5))
        record.put(s"$phase.half2_p50_ms.$op", pct(b, 0.5))
      }
    }
  }
}
