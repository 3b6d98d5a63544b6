package graft.pipeline

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Incremental ANN index maintenance (s10): append-without-retrain must
  * be indistinguishable from a from-scratch build on the union against
  * the same quantizer/codebook — codes, assignments and probe results. */
class IncrementalAnnSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  test("PQ append equals a from-scratch union encode, probes identically") {
    val emb = graft.util.Tables.embeddings(spark, sfTiny)
    val seed = emb.filter(pmod($"vec_id", lit(5)) =!= 4)
    val batch = emb.filter(pmod($"vec_id", lit(5)) === 4)
    val dir = tmp("graft_inc_pq")
    val cb = Similarity.pqTrain(seed, m = 8, ksub = 16, iters = 3)
    Similarity.writePqIndex(spark, cb, Similarity.pqEncode(seed, cb), dir)
    Similarity.appendPqIndex(spark, dir, 1, batch)
    val (cb2, codes2) = Similarity.readPqIndex(spark, dir)
    // the codebook round-trips parquet bit-exactly
    assert(cb2.length == cb.length)
    cb.indices.foreach { j =>
      cb(j).indices.foreach { c =>
        assert(java.util.Arrays.equals(cb2(j)(c), cb(j)(c)),
          s"codebook[$j][$c] changed across the persisted round trip")
      }
    }
    // appended code table == one-pass encode of the union with the same
    // codebook (encode is a pure per-row function)
    val appended = codes2.select($"id", $"codes")
      .as[(Long, Seq[Int])].collect().toMap
    val scratch = Similarity.pqEncode(emb, cb)
      .as[(Long, Seq[Int])].collect().toMap
    assert(appended.keySet == scratch.keySet,
      "appended index lost or duplicated ids vs the union build")
    appended.foreach { case (id, codes) =>
      assert(codes == scratch(id), s"codes diverge for vec $id")
    }
    // probe equality: the appended index answers every query exactly as
    // the from-scratch union index does
    val q = emb.filter($"vec_id" < 8)
    val a = Similarity.pqTopK(q, codes2, emb, cb2, k = 5, rerankFactor = 4)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val b = Similarity.pqTopK(q, Similarity.pqEncode(emb, cb), emb, cb,
        k = 5, rerankFactor = 4)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(a.toSeq == b.toSeq, "appended-index probe diverges from scratch")
  }

  test("PQ/IVF delete removes exactly the victims and probes like a " +
    "from-scratch build on the remaining corpus") {
    val emb = graft.util.Tables.embeddings(spark, sfTiny)
    val victims = emb.filter(pmod($"vec_id", lit(7)) === 3)
    val remaining = emb.filter(pmod($"vec_id", lit(7)) =!= 3)
    val dir = tmp("graft_del_pq")
    val cb = Similarity.pqTrain(emb, m = 8, ksub = 16, iters = 3)
    Similarity.writePqIndex(spark, cb, Similarity.pqEncode(emb, cb), dir)
    graft.util.PersistedIndex(spark, dir)
      .rewrite(Similarity.withoutIds(victims))
    val (cb2, codes2) = Similarity.readPqIndex(spark, dir)
    // exactly the victims are gone; survivors' codes untouched
    val left = codes2.select($"id").as[Long].collect().toSet
    val want = remaining.select($"vec_id").as[Long].collect().toSet
    assert(left == want, "post-delete id set is not corpus minus victims")
    val scratch = Similarity.pqEncode(remaining, cb)
      .as[(Long, Seq[Int])].collect().toMap
    codes2.as[(Long, Seq[Int])].collect().foreach { case (id, codes) =>
      assert(codes == scratch(id), s"delete rewrote codes for vec $id")
    }
    // probe equality vs the from-scratch remaining-corpus build, and no
    // deleted id can surface (its code row no longer exists)
    val q = remaining.filter($"vec_id" < 8)
    val a = Similarity.pqTopK(q, codes2, remaining, cb2, 5, 4)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val b = Similarity.pqTopK(q, Similarity.pqEncode(remaining, cb),
        remaining, cb, 5, 4)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(a.toSeq == b.toSeq, "post-delete probe diverges from scratch")
    val victimIds = victims.select($"vec_id").as[Long].collect().toSet
    assert(a.forall(r => !victimIds.contains(r._3)),
      "a deleted vector surfaced in probe results")
    // IVF twin: posting rewrite, quantizer untouched
    val dir2 = tmp("graft_del_ivf")
    val (cent, assign) = Similarity.buildIvfIndex(emb, nCells = 8, iters = 3)
    Similarity.writeIvfIndex(cent, assign, dir2)
    graft.util.PersistedIndex(spark, dir2)
      .rewrite(Similarity.withoutIds(victims))
    val (cent2, assign2) = Similarity.readIvfIndex(spark, dir2)
    assert(cent2.count() == cent.count())
    assert(assign2.select($"id").as[Long].collect().toSet == want)
  }

  test("IVF append assigns to existing cells and probes like a one-pass " +
    "union assignment") {
    val emb = graft.util.Tables.embeddings(spark, sfTiny)
    val seed = emb.filter(pmod($"vec_id", lit(5)) =!= 4)
    val batch = emb.filter(pmod($"vec_id", lit(5)) === 4)
    val dir = tmp("graft_inc_ivf")
    val (cent, assign) = Similarity.buildIvfIndex(seed, nCells = 8, iters = 3)
    Similarity.writeIvfIndex(cent, assign, dir)
    Similarity.appendIvfIndex(spark, dir, 1, batch)
    val (cent2, assign2) = Similarity.readIvfIndex(spark, dir)
    // quantizer untouched; postings = old postings + one row per batch vec
    assert(cent2.count() == cent.count())
    assert(assign2.count() == emb.count())
    val old = assign.as[(Long, Int)].collect().toMap
    val now = assign2.as[(Long, Int)].collect().toMap
    old.foreach { case (id, cell) =>
      assert(now(id) == cell, s"append moved existing vec $id")
    }
    // independent driver-side argmin oracle for the appended batch rows
    val cents = cent2.select($"cell".cast("int"), $"cvec")
      .as[(Int, Seq[Double])].collect().sortBy(_._1)
    val batchVecs = batch
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    batchVecs.foreach { case (id, v) =>
      val best = cents.minBy { case (_, c) =>
        (v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum, 0)
      }._1
      assert(now(id) == best, s"batch vec $id not in its nearest cell")
    }
    // probe equality: the appended index must answer exactly like an
    // index whose batch postings were computed in a separate one-pass
    // assignment against the SAME persisted quantizer and unioned with
    // the untouched seed postings (build-time seed assignments come from
    // the Lloyd centroids, not the persisted cell means, so the seed
    // postings are shared between both sides by construction)
    val q = emb.filter($"vec_id" < 8)
    val a = Similarity.ivfProbeIndex(q, emb, cent2, assign2, 5, 3)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val b = Similarity.ivfProbeIndex(q, emb, cent2,
        assign2.filter(pmod($"id", lit(5)) =!= 4)
          .union(Similarity.assignToCells(batch, cent2)), 5, 3)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(a.toSeq == b.toSeq,
      "appended IVF probe diverges from one-pass batch assignment")
  }
}
