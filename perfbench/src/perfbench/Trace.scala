package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark job ledger for the traced run: every job, completed stage and
  * finished task, attributed afterwards to the timed segment that issued it.
  * The client is closed-loop, the server dispatches serially and the harness
  * issues its direct calls on its own thread one at a time, so a job belongs
  * to the last segment that started at or before the job did. */
final class Ledger extends SparkListener {
  private final case class Job(id: Int, start: Long, var end: Long)
  private final case class Task(stage: Int, runMs: Long, inBytes: Long,
      inRecords: Long, shuffleBytes: Long)
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val doneStages = mutable.ArrayBuffer.empty[Int]
  private val tasks = mutable.ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    doneStages += e.stageInfo.stageId
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, m.executorRunTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten)
  }

  /** What Spark did inside one segment. */
  final case class Usage(jobs: Int, stages: Int, tasks: Int, taskMs: Long,
      inputBytes: Long, inputRecords: Long, shuffleBytes: Long, jobUnionMs: Long)

  /** Attributes every recorded job to one of `segs` (start, end) in ms,
    * given in time order; call after [[org.apache.spark.ListenerDrain]]. */
  def usage(segs: IndexedSeq[(Long, Long)]): IndexedSeq[Usage] = synchronized {
    val starts = segs.map(_._1).toArray
    def owner(t: Long): Int = {
      val i = java.util.Arrays.binarySearch(starts, t)
      if (i >= 0) starts.lastIndexOf(t) else -i - 2
    }
    val jobsOf = jobs.values.toSeq.groupBy(j => owner(j.start))
    val jobSeg = jobs.values.map(j => j.id -> owner(j.start)).toMap
    val stageSeg = doneStages.flatMap(s => stageJob.get(s).map(j => s -> jobSeg(j)))
    val stagesOf = stageSeg.groupBy(_._2).map { case (k, v) => k -> v.length }
    val segOfStage = stageSeg.toMap
    val tasksOf = tasks.groupBy(t => segOfStage.getOrElse(t.stage, -1))
    segs.indices.map { i =>
      val (s, e) = segs(i)
      val js = jobsOf.getOrElse(i, Nil)
      val ts = tasksOf.getOrElse(i, Nil)
      // union of the jobs' [start, end] intervals, clipped to the segment
      var covered = 0L
      var reach = s
      js.map(j => (math.max(j.start, s), math.min(j.end, e))).sortBy(_._1)
        .foreach { case (a, b) =>
          val from = math.max(a, reach)
          if (b > from) { covered += b - from; reach = b }
        }
      Usage(js.length, stagesOf.getOrElse(i, 0), ts.length, ts.map(_.runMs).sum,
        ts.map(_.inBytes).sum, ts.map(_.inRecords).sum,
        ts.map(_.shuffleBytes).sum, covered)
    }
  }
}

/** Times the segments of one traced run, in order. */
final class Segments {
  final case class Seg(action: Int, label: String, start: Long, end: Long,
      nanos: Long)
  val all = mutable.ArrayBuffer.empty[Seg]
  var action = -1

  def apply[T](label: String)(f: => T): T = {
    val s = System.currentTimeMillis()
    val t = System.nanoTime()
    val r = f
    all += Seg(action, label, s, System.currentTimeMillis(), System.nanoTime() - t)
    r
  }
}

/** The traced timed window: each read action is sent over HTTP, then made
  * as the direct `Endpoints` call, then decomposed into its store and query
  * calls; a switch is made through `switchCommit`'s composed steps. */
final class Traced(loop: ClosedLoop, layers: Layers, seg: Segments) {
  /** Rows the decomposed queries of each action returned. */
  private val rows = mutable.HashMap.empty[Int, Long]

  def run(script: Seq[Req]): (Seq[Sample], Double) = {
    val t0 = System.nanoTime()
    val samples = script.zipWithIndex.map { case (r, i) =>
      seg.action = i
      if (r.op == "switch") {
        val t = System.nanoTime()
        val err = try { layers.decompose(r.call); None }
          catch { case e: Exception => Some(s"switch: ${e.getMessage}") }
        Sample(r.op, (System.nanoTime() - t) / 1e6, 0, err)
      } else {
        val sample = seg("http") { loop.one(r) }
        seg("endpoint") { layers.endpoint(r.call) }
        rows(i) = layers.decompose(r.call)
        sample
      }
    }
    (samples, (System.nanoTime() - t0) / 1e9)
  }

  /** Per-layer metrics of the window `run` timed; call after the listener
    * bus has drained. */
  def metrics(ledger: Ledger, samples: Seq[Sample]): Seq[(String, Double, String)] = {
    val segs = seg.all.toIndexedSeq
    val use = ledger.usage(segs.map(s => (s.start, s.end)))
    val byAction = segs.indices.groupBy(i => segs(i).action)
    def ms(ix: Seq[Int], label: String): Double =
      ix.filter(segs(_).label == label).map(segs(_).nanos).sum / 1e6
    val perAction = samples.indices.map { a =>
      val ix = byAction.getOrElse(a, Nil)
      val http = ix.filter(segs(_).label == "http")
      val sparkIx = if (http.nonEmpty) http else ix
      val u = sparkIx.map(use)
      val queryIx = ix.filter(segs(_).label == "query")
      val layerMs = ms(ix, "store") + ms(ix, "query")
      samples(a).op -> Map(
        "api.http_ms" -> (ms(ix, "http") - ms(ix, "endpoint")),
        "api.self_ms" -> (ms(ix, "endpoint") - layerMs),
        "graph.store_ms" -> ms(ix, "store"),
        "graph.query_ms" -> ms(ix, "query"),
        "graph.rows_per_result" ->
          queryIx.map(use(_).inputRecords).sum.toDouble / math.max(1L, rows.getOrElse(a, 0L)),
        "graph.replay_ms" -> ms(ix, "replay"),
        "graph.checkpoint_ms" -> ms(ix, "checkpoint"),
        "graph.save_ms" -> ms(ix, "save"),
        "spark.jobs" -> u.map(_.jobs).sum.toDouble,
        "spark.stages" -> u.map(_.stages).sum.toDouble,
        "spark.tasks" -> u.map(_.tasks).sum.toDouble,
        "spark.driver_ms" -> (sparkIx.map(segs(_).nanos).sum / 1e6 -
          u.map(_.jobUnionMs).sum),
        "spark.task_ms" -> u.map(_.taskMs).sum.toDouble,
        "spark.input_bytes" -> u.map(_.inputBytes).sum.toDouble,
        "spark.shuffle_bytes" -> u.map(_.shuffleBytes).sum.toDouble)
    }
    val ops = perAction.map(_._1).distinct
    val readKeys = Seq(("api.http_ms", "ms"), ("api.self_ms", "ms"),
      ("graph.store_ms", "ms"), ("graph.query_ms", "ms"),
      ("graph.rows_per_result", "ratio"))
    val sparkKeys = Seq(("spark.jobs", "count"), ("spark.stages", "count"),
      ("spark.tasks", "count"), ("spark.driver_ms", "ms"), ("spark.task_ms", "ms"),
      ("spark.input_bytes", "bytes"), ("spark.shuffle_bytes", "bytes"))
    def perOp(op: String, k: String): Double =
      Metrics.pct(perAction.filter(_._1 == op).map(_._2(k)), 0.5)
    val switchKeys =
      if (!ops.contains("switch")) Nil
      else Seq("graph.replay_ms", "graph.checkpoint_ms", "graph.save_ms")
        .map(k => (k, perOp("switch", k), "ms"))
    Script.ReadOps.filter(ops.contains).flatMap(op =>
      readKeys.map { case (k, u) => (s"$k.$op", perOp(op, k), u) }) ++
      switchKeys ++
      ops.sorted.flatMap(op => sparkKeys.map { case (k, u) => (s"$k.$op", perOp(op, k), u) })
  }
}
