package graft.pipeline

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Persisted MinHash band index (d17): the stored-bands probe must equal
  * the recompute path exactly, and appended bands must make admitted
  * batches visible to later increments. */
class BandIndexSpec extends SparkSpec {
  import spark.implicits._

  test("stored-index probe equals minhashIncrementalWords exactly") {
    val docs = graft.util.Tables.documents(spark, sfTiny)
    val inc = docs.filter($"doc_id" % 17 === 0)
    val corpus = docs.filter($"doc_id" % 17 =!= 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bands").toString
    Dedup.writeBandIndex(corpus, dir)
    val viaIndex = Dedup.probeBandIndex(inc, corpus, dir)
      .as[(Long, Long, Double)].collect().toSet
    val recompute = Dedup.minhashIncrementalWords(inc, corpus)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaIndex == recompute,
      s"index path diverges: only-index=${viaIndex -- recompute}, " +
        s"only-recompute=${recompute -- viaIndex}")
    assert(viaIndex.nonEmpty, "fixture produced no cross pairs")
  }

  test("appended bands make an admitted batch visible to later increments") {
    def doc(tag: String): String = (0 until 40).map(j => s"$tag$j")
      .mkString(" ")
    val corpus = Seq((1L, doc("base")), (2L, doc("other")))
      .toDF("doc_id", "text")
    val batch = Seq((10L, doc("fresh"))).toDF("doc_id", "text")
    // the later increment near-dups the ADMITTED batch, not the corpus
    val inc = Seq((20L, doc("fresh") + " tail")).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bands_app").toString
    Dedup.writeBandIndex(corpus, dir)
    // admit the batch: appendBandIndex reuses the index's STORED banding
    // parameters, so a caller cannot corrupt the table with a mismatch
    Dedup.appendBandIndex(batch, dir, 1)
    val pairs = Dedup.probeBandIndex(inc, corpus.union(batch), dir)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((20L, 10L)),
      s"increment did not find the appended batch: $pairs")
    // append-without-union drift (bands admitted, corpus frame not) must
    // fail LOUDLY — the near-dups against the orphaned ids would
    // otherwise drop silently at the gram re-join
    val ex = intercept[IllegalArgumentException] {
      Dedup.probeBandIndex(inc, corpus, dir).collect()
    }
    assert(ex.getMessage.contains("absent from the corpus frame"))
    // the documented escape hatch still probes (and silently misses 10)
    val unchecked = Dedup
      .probeBandIndex(inc, corpus, dir, checkCoverage = false)
      .as[(Long, Long, Double)].collect().toSeq
    assert(unchecked.isEmpty)
  }

  test("a vouched coverage check re-arms when the index is appended — " +
    "even through a different spelling of the same dir") {
    def doc(tag: String): String = (0 until 40).map(j => s"$tag$j")
      .mkString(" ")
    val corpus = Seq((1L, doc("base")), (2L, doc("other")))
      .toDF("doc_id", "text")
    val batch = Seq((10L, doc("fresh"))).toDF("doc_id", "text")
    val inc = Seq((20L, doc("fresh") + " tail")).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bands_memo").toString
    Dedup.writeBandIndex(corpus, dir)
    // first probe passes its coverage check and vouches (session memo)
    Dedup.probeBandIndex(inc, corpus, dir).collect()
    // admit a batch through a DIFFERENT spelling of the same physical
    // dir (trailing slash): the vouch is keyed by the index's published
    // state, which the append changes whatever the spelling
    Dedup.appendBandIndex(batch, dir + "/", 1)
    // the same (corpus, dir) probe that was vouched a moment ago must
    // now RE-CHECK and fail loud — a stale vouch would silently miss
    // the appended batch's near-dups
    val ex = intercept[IllegalArgumentException] {
      Dedup.probeBandIndex(inc, corpus, dir).collect()
    }
    assert(ex.getMessage.contains("absent from the corpus frame"))
  }
}
