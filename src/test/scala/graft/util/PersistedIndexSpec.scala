package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.{Dedup, Similarity, TextAnalysis}

/** Faults injected into the persisted-index lifecycle: a writer killed
  * after staging, a retried append, a build killed before its promote,
  * a swap killed between its renames. After each, probes must equal a
  * from-scratch recompute over exactly the published data. */
class PersistedIndexSpec extends SparkSpec {
  import spark.implicits._

  private def exists(p: Path): Boolean =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)

  // line-index fixture at threshold 2: "gamma" is stored once by batch 1
  // and probed once, so it survives only when batch 1 counts once
  private val corpus = Seq((1L, "nav\nalpha\nfooter"),
    (2L, "nav\nbeta\nfooter")).toDF("doc_id", "text")
  private val batch1 = Seq((10L, "gamma\nnav")).toDF("doc_id", "text")
  private val batch2 = Seq((20L, "delta\nbeta")).toDF("doc_id", "text")
  private val probe = Seq((30L, "gamma\nalpha\ndelta\nepsilon"))
    .toDF("doc_id", "text")

  private def lines(df: DataFrame) =
    df.select($"doc_id", $"n_kept", $"n_dropped", $"clean")
      .as[(Long, Long, Long, String)].collect().toSet

  /** Probe and stored counts of the line index at `dir` against a
    * recompute over `stored`. */
  private def assertLineIndexIs(dir: String, stored: DataFrame): Unit = {
    assert(lines(TextAnalysis.lineDedupAgainstIndex(probe, dir)) ==
      lines(TextAnalysis.lineDedup(stored.unionAll(probe), 2)
        .filter($"doc_id" === 30L)), "probe diverges from the recompute")
    assert(TextAnalysis.lineCounts(PersistedIndex(spark, dir).rows)
      .as[(String, Long)].collect().toSet ==
      TextAnalysis.lineIndexRows(stored).as[(String, Long)].collect().toSet,
      "stored line counts diverge from the recompute")
  }

  test("(a) a batch staged but never published is invisible to probes, " +
    "and the next write sweeps it") {
    val dir = Scratch.dir("pidx_stage")
    TextAnalysis.writeLineIndex(corpus, dir, maxOccurrences = 2)
    val idx = PersistedIndex(spark, dir)
    // the writer dies between staging batch 1 and publishing it
    val stage = idx.stageBatch(TextAnalysis.lineIndexRows(batch1))
    assert(exists(stage))
    assertLineIndexIs(dir, corpus)
    idx.append(2, TextAnalysis.lineIndexRows(batch2))
    assert(!exists(stage), "the next write left the orphan stage")
    assertLineIndexIs(dir, corpus.unionAll(batch2))
  }

  test("(b) appending the same batch id twice counts it once: line " +
    "counts, PQ/IVF and band probes equal a recompute") {
    val dir = Scratch.dir("pidx_retry_line")
    TextAnalysis.writeLineIndex(corpus, dir, maxOccurrences = 2)
    val idx = PersistedIndex(spark, dir)
    idx.append(1, TextAnalysis.lineIndexRows(batch1))
    idx.append(1, TextAnalysis.lineIndexRows(batch1))
    assertLineIndexIs(dir, corpus.unionAll(batch1))
    // a batch folded by a compaction stays published
    idx.rewrite(TextAnalysis.lineCounts)
    idx.append(1, TextAnalysis.lineIndexRows(batch1))
    assertLineIndexIs(dir, corpus.unionAll(batch1))

    val emb = Tables.embeddings(spark, sfTiny)
    val seed = emb.filter(pmod($"vec_id", lit(5)) =!= 4)
    val batch = emb.filter(pmod($"vec_id", lit(5)) === 4)
    val q = emb.filter($"vec_id" < 8)
    def ids(df: DataFrame): Seq[Long] =
      df.select($"id").as[Long].collect().toSeq.sorted
    def ranked(df: DataFrame) = df.as[(Long, Long, Long, Double)]
      .collect().toSeq.sortBy(r => (r._1, r._2))

    val pqDir = Scratch.dir("pidx_retry_pq")
    val cb = Similarity.pqTrain(seed, m = 8, ksub = 16, iters = 3)
    Similarity.writePqIndex(spark, cb, Similarity.pqEncode(seed, cb), pqDir)
    Similarity.appendPqIndex(spark, pqDir, 1, batch)
    Similarity.appendPqIndex(spark, pqDir, 1, batch)
    val (_, codes) = Similarity.readPqIndex(spark, pqDir)
    val scratch = Similarity.pqEncode(emb, cb)
    assert(ids(codes) == ids(scratch), "PQ codes lost or repeated a vector")
    assert(ranked(Similarity.pqTopK(q, codes, emb, cb, 5, 4)) ==
      ranked(Similarity.pqTopK(q, scratch, emb, cb, 5, 4)))

    val ivfDir = Scratch.dir("pidx_retry_ivf")
    val (cent, assign) = Similarity.buildIvfIndex(seed, nCells = 8, iters = 3)
    Similarity.writeIvfIndex(cent, assign, ivfDir)
    Similarity.appendIvfIndex(spark, ivfDir, 1, batch)
    Similarity.appendIvfIndex(spark, ivfDir, 1, batch)
    val (cent2, assign2) = Similarity.readIvfIndex(spark, ivfDir)
    val onePass = assign.unionAll(Similarity.assignToCells(batch, cent2))
    assert(ids(assign2) == ids(onePass), "IVF postings lost or repeated")
    assert(ranked(Similarity.ivfProbeIndex(q, emb, cent2, assign2, 5, 3)) ==
      ranked(Similarity.ivfProbeIndex(q, emb, cent2, onePass, 5, 3)))

    def doc(tag: String): String =
      (0 until 40).map(j => s"$tag$j").mkString(" ")
    val bandCorpus = Seq((1L, doc("base")), (2L, doc("other")))
      .toDF("doc_id", "text")
    val bandBatch = Seq((10L, doc("fresh"))).toDF("doc_id", "text")
    val inc = Seq((20L, doc("fresh") + " tail")).toDF("doc_id", "text")
    val bandDir = Scratch.dir("pidx_retry_band")
    Dedup.writeBandIndex(bandCorpus, bandDir)
    Dedup.appendBandIndex(bandBatch, bandDir, 1)
    Dedup.appendBandIndex(bandBatch, bandDir, 1)
    val all = bandCorpus.unionAll(bandBatch)
    def bands(df: DataFrame) = df.select($"band", $"bucket", $"id")
      .as[(Int, Long, Long)].collect().toSeq.sorted
    assert(bands(PersistedIndex(spark, bandDir).rows) ==
      bands(Dedup.wordBandRows(all, 5, 128, 2)), "band rows repeated")
    def pairs(df: DataFrame) = df.as[(Long, Long, Double)].collect().toSet
    assert(pairs(Dedup.probeBandIndex(inc, all, bandDir)) ==
      pairs(Dedup.minhashIncrementalWords(inc, all)))
  }

  test("(c) a build killed before its promote leaves the previous index " +
    "readable, and the next write sweeps its stage") {
    val dir = Scratch.dir("pidx_build")
    TextAnalysis.writeLineIndex(corpus, dir, maxOccurrences = 2)
    // a rebuild at another threshold dies before it is promoted
    val stage = PersistedIndex(spark, dir).stageBuild(
      TextAnalysis.lineIndexRows(batch2), Seq("max_occurrences" -> 9L),
      Map.empty, Map.empty)
    assert(exists(stage))
    assertLineIndexIs(dir, corpus)
    TextAnalysis.writeLineIndex(corpus.unionAll(batch1), dir,
      maxOccurrences = 2)
    assert(!exists(stage), "the next build left the orphan stage")
    assertLineIndexIs(dir, corpus.unionAll(batch1))
  }

  test("a swap killed between its two renames is restored by the next " +
    "write") {
    val dir = Scratch.dir("pidx_aside")
    TextAnalysis.writeLineIndex(corpus, dir, maxOccurrences = 2)
    val table = new Path(dir, "rows")
    val aside = new Path(dir, ".swap-rows-old-killed")
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the rewrite set the live table aside and died before its rename
    assert(fs.rename(table, aside))
    PersistedIndex(spark, dir).append(2, TextAnalysis.lineIndexRows(batch2))
    assert(!fs.exists(aside))
    assertLineIndexIs(dir, corpus.unionAll(batch2))
  }
}
