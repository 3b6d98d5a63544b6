package graft.util

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap

import graft.SparkSpec

/** The resident-memo lifecycle: one build per key, nested builds, failed
  * builds, and the reset that a storage sweep pairs with. */
class ResidentSpec extends SparkSpec {

  private final class Value(val key: String)

  /** A memo whose releases are counted per value. */
  private def countingMemo() = {
    val released = TrieMap.empty[Value, Int]
    val memo = Resident.memo[Value](v =>
      released.updateWith(v)(n => Some(n.getOrElse(0) + 1)): Unit)
    (memo, released)
  }

  test("16 concurrent callers of one key run one build") {
    val (memo, _) = countingMemo()
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(16)
    try {
      val calls = (1 to 16).map { _ =>
        pool.submit(new Callable[Value] {
          def call(): Value = {
            start.await()
            memo(spark, "resident/concurrent") {
              builds.incrementAndGet()
              Thread.sleep(200)
              new Value("concurrent")
            }
          }
        })
      }
      start.countDown()
      val got = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(got.forall(_ eq got.head))
    } finally pool.shutdown()
  }

  test("a build may read another memo inside its own build") {
    val (inner, _) = countingMemo()
    val (outer, _) = countingMemo()
    val innerBuilds = new AtomicInteger()
    def innerValue() = inner(spark, "resident/nested") {
      innerBuilds.incrementAndGet()
      new Value("inner")
    }
    val o = outer(spark, "resident/nested") {
      new Value("outer of " + innerValue().key)
    }
    assert(o.key == "outer of inner")
    assert(outer(spark, "resident/nested")(fail("rebuilt")) eq o)
    innerValue()
    assert(innerBuilds.get == 1)
  }

  test("a build that throws leaves no entry, and the next call rebuilds") {
    val (memo, released) = countingMemo()
    val e = intercept[IllegalStateException] {
      memo(spark, "resident/throws")(throw new IllegalStateException("x"))
    }
    assert(e.getMessage == "x")
    val v = memo(spark, "resident/throws")(new Value("second"))
    assert(v.key == "second")
    assert(memo(spark, "resident/throws")(fail("rebuilt")) eq v)
    Resident.reset()
    assert(released.toMap == Map(v -> 1))
  }

  test("reset releases each built value once, and the next call rebuilds") {
    val (a, releasedA) = countingMemo()
    val (b, releasedB) = countingMemo()
    val a1 = a(spark, "resident/reset/1")(new Value("a1"))
    val a2 = a(spark, "resident/reset/2")(new Value("a2"))
    val b1 = b(spark, "resident/reset/1")(new Value("b1"))
    Resident.reset()
    Resident.reset()
    assert(releasedA.toMap == Map(a1 -> 1, a2 -> 1))
    assert(releasedB.toMap == Map(b1 -> 1))
    val again = a(spark, "resident/reset/1")(new Value("a1 again"))
    assert(again.key == "a1 again")
    Resident.reset()
    assert(releasedA.toMap == Map(a1 -> 1, a2 -> 1, again -> 1))
  }

  test("q38 runs again after the storage sweep and a reset") {
    // q38's tokenizer vocab is localCheckpoint-backed: a sweep that frees
    // its blocks and leaves the model memoized fails the next q38 with
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
    val q38 = graft.SparkEntry.queries("q38_warc_pipeline")
    val before = q38(spark, sfTiny).collect().toSeq
    assert(before.nonEmpty)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    Resident.reset()
    assert(q38(spark, sfTiny).collect().toSeq == before)
  }
}
