package graft.tools

/** Dev timer: run one SparkEntry query N times in one session and print
  * each wall time — separates per-plan-shape JIT/codegen cost (first run)
  * from steady-state cost (later runs). Usage:
  *   SPARK_GRAFT_ONLY=d04_minhash_lsh SPARK_GRAFT_REPS=3 \
  *     sbt "runMain graft.tools.TimeQuery"
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val names = sys.env.getOrElse("SPARK_GRAFT_ONLY", "d04_minhash_lsh")
      .split(",").toSeq
    val spark = graft.util.Sessions.local(cpus.toInt)
    // optional warmup emulation of the Bench protocol: run each query
    // WARM_REPS times at WARM_DIR before timing at the target SF —
    // separates shape-JIT (one warm rep) from C2 tiering (several)
    val warmDir = sys.env.get("SPARK_GRAFT_WARM_DIR")
    val warmReps = sys.env.getOrElse("SPARK_GRAFT_WARM_REPS", "1").toInt
    warmDir.foreach { wd =>
      names.foreach { name =>
        (1 to warmReps).foreach { _ =>
          graft.SparkEntry.queries(name)(spark, wd).count()
        }
      }
      try {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      } catch { case _: Throwable => }
      graft.util.Resident.reset()
    }
    names.foreach { name =>
      val times = (1 to reps).map { i =>
        val t0 = System.nanoTime()
        val n = graft.SparkEntry.queries(name)(spark, sfDir).count()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"$name run$i rows=$n $s%.2fs")
        s
      }
      println(f"== $name first=${times.head}%.2fs steady=${times.last}%.2fs")
    }
    spark.stop()
  }
}
