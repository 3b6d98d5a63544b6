package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The driver bench's timing loop: a gate that throws is a failure, not
  * a time. */
class BenchSpec extends SparkSpec {

  test("a gate that throws is reported as failed, whether it throws " +
    "building its plan or running it") {
    val gates = Seq[(String, (SparkSession, String) => DataFrame)](
      "ok" -> ((s, _) => s.range(3).toDF()),
      "eager" -> ((_, _) => throw new IllegalStateException("gate broke")),
      "late" -> ((s, _) =>
        s.range(1).toDF().where("raise_error('late') IS NULL")))
    val (times, failed) = Bench.timeGates(spark, gates, sfTiny)
    assert(failed == Seq("eager", "late"))
    assert(times.map(_._1) == Seq("eager", "late", "ok"))
  }
}
