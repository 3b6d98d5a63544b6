package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-16 packing-family additions: EOD separators, the Megatron
  * sample_idx strided map (pinned against a verbatim sequential
  * implementation of the public `_build_sample_idx` loop), the `.npy`
  * emitters (headers hand-parsed byte by byte), and the index-only
  * compaction lifecycle. */
class Packing16Spec extends SparkSpec {

  test("packTokenIds with eodId inserts one separator per doc, offsets " +
    "absorb it, and spans tile including the separator") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq(10L, 11L, 12L)),
      (2L, (20L until 26L).toSeq),
      (3L, Seq.empty[Long]), // empty doc still contributes its separator
      (4L, Seq(40L, 41L))).toDF("doc_id", "ids")
    val EOD = 999L
    Seq(1, 7).foreach { parts =>
      val got = Packing
        .packTokenIdsWithBoundaries(docs.repartition(parts), 5,
          eodId = Some(EOD))
        .select($"seq_id", $"ids",
          expr("transform(segs, s -> struct(s.doc_id, s.start, s.len))"))
        .as[(Long, Seq[Long], Seq[(Long, Int, Int)])]
        .collect().sortBy(_._1)
      // reference: concat of (ids :+ EOD) per doc in id order, chop 5
      val stream = Seq(Seq(10L, 11L, 12L, EOD),
        (20L until 26L) :+ EOD, Seq(EOD), Seq(40L, 41L, EOD)).flatten
      val expIds = stream.grouped(5).toSeq
      assert(got.map(_._2).toSeq == expIds,
        s"eod chop drift at parts=$parts")
      // spans: each doc covers its n+1 tokens INCLUDING its separator
      got.foreach { case (sid, ids, segs) =>
        var pos = 0
        segs.foreach { case (_, st, ln) =>
          assert(st == pos && ln > 0, s"span tiling broke in seq $sid")
          pos = st + ln
        }
        assert(pos == ids.size)
      }
      // doc 3 (empty) owns exactly one token somewhere: its separator
      val doc3 = got.flatMap(_._3).filter(_._1 == 3L)
      assert(doc3.map(_._3).sum == 1)
      // every doc's span total = n+1
      assert(got.flatMap(_._3).filter(_._1 == 2L).map(_._3).sum == 7)
    }
    // the plain packer agrees with the boundary packer under eod
    val plain = Packing.packTokenIds(docs, 5, eodId = Some(EOD))
      .as[(Long, Seq[Long])].collect().toMap
    Packing.packTokenIdsWithBoundaries(docs, 5, eodId = Some(EOD))
      .select($"seq_id", $"ids").as[(Long, Seq[Long])].collect()
      .foreach { case (sid, ids) => assert(plain(sid) == ids) }
  }

  /** Verbatim sequential `_build_sample_idx` (public Megatron-LM
    * `gpt_dataset.py`): the while-loop over (doc_idx_index, doc_offset)
    * consuming seqLen+1 tokens per sample with the one-token back-up. */
  private def megatronSampleIdxRef(sizes: Seq[Long], seqLen: Int)
      : Seq[(Long, Long)] = {
    val total = sizes.sum
    val numSamples = ((total - 1) / seqLen).toInt
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var docIdxIndex = 0
    var docOffset = 0L
    out += ((docIdxIndex.toLong, docOffset))
    var sampleIndex = 1
    while (sampleIndex <= numSamples) {
      var remaining = seqLen.toLong + 1L
      while (remaining != 0L) {
        val docLength = sizes(docIdxIndex) - docOffset
        remaining -= docLength
        if (remaining <= 0L) {
          docOffset += remaining + docLength - 1L
          remaining = 0L
        } else {
          docIdxIndex += 1
          docOffset = 0L
        }
      }
      out += ((docIdxIndex.toLong, docOffset))
      sampleIndex += 1
    }
    out.toSeq
  }

  test("sampleIdx equals the verbatim Megatron _build_sample_idx loop " +
    "over the same shuffled doc order, on any partitioning") {
    import spark.implicits._
    val seqLen = 7
    val epochs = 2
    val seed = 5L
    val docs = Seq(1L -> 3L, 2L -> 11L, 3L -> 1L, 4L -> 6L, 5L -> 9L,
      6L -> 2L, 7L -> 15L).toDF("doc_id", "n_tokens")
    // the engine's doc order: epochs concatenated, each permuted by
    // md5(seed:epoch:id) — rebuild it driver-side with java MD5
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val lens = Map(1L -> 3L, 2L -> 11L, 3L -> 1L, 4L -> 6L, 5L -> 9L,
      6L -> 2L, 7L -> 15L)
    val order = (0 until epochs).flatMap { e =>
      lens.keys.toSeq
        .sortBy(id => (md5hex(s"$seed:$e:$id"), id))
        .map(id => (id, lens(id)))
    }
    val ref = megatronSampleIdxRef(order.map(_._2), seqLen)
    // the doc_idx artifact IS the rebuilt order, with an exact prefix sum
    val gotOrder = Packing.epochDocOrder(docs, epochs, seed)
      .orderBy($"doc_index")
      .as[(Long, Long, Long, Long)].collect()
    assert(gotOrder.map(r => (r._2, r._3)).toSeq == order,
      "epochDocOrder drift vs the driver-side md5 rebuild")
    assert(gotOrder.map(_._4).toSeq ==
      order.map(_._2).scanLeft(0L)(_ + _).init, "tok_start prefix drift")
    Seq(1, 5).foreach { parts =>
      val got = Packing
        .sampleIdx(docs.repartition(parts), seqLen, epochs, seed)
        .orderBy($"sample")
        .as[(Long, Long, Long, Long)].collect()
      assert(got.length == ref.length,
        s"row count ${got.length} vs Megatron ${ref.length}")
      got.zip(ref).zipWithIndex.foreach {
        case (((k, di, id, off), (rdi, roff)), i) =>
          assert(k == i.toLong)
          assert(di == rdi && off == roff,
            s"sample $i: engine ($di, $off) vs Megatron ($rdi, $roff)")
          assert(id == order(di.toInt)._1, s"doc id mapping drift at $i")
      }
    }
  }

  test("npy writer emits a spec-exact v1.0 header and LE payload for " +
    "1-D int64 and (N,2) int32 shapes") {
    import spark.implicits._
    val dir = graft.util.Scratch.dir("graft_npy_spec")
    val perm = Seq((0L, 7L), (1L, 3L), (2L, 5L), (3L, 0L))
      .toDF("pos", "id")
    Npy.write(perm, s"$dir/shuffle_idx.npy", "pos", Seq("id"), "<i8")
    val pairs = Seq((0L, 2L, 0L), (1L, 2L, 6L), (2L, 3L, 4L))
      .toDF("sample", "doc_index", "doc_offset")
    Npy.write(pairs, s"$dir/sample_idx.npy", "sample",
      Seq("doc_index", "doc_offset"), "<i4")
    def readAll(p: String): Array[Byte] = {
      val f = new java.io.File(p)
      val raw = new Array[Byte](f.length.toInt)
      val in = new java.io.DataInputStream(new java.io.FileInputStream(f))
      try in.readFully(raw) finally in.close()
      raw
    }
    def parse(raw: Array[Byte]): (String, Array[Byte]) = {
      assert(raw.take(6).sameElements(Npy.Magic), "bad npy magic")
      assert(raw(6) == 1.toByte && raw(7) == 0.toByte, "bad version")
      val hlen = ((raw(8) & 0xff) | ((raw(9) & 0xff) << 8))
      assert((10 + hlen) % 64 == 0, "data not 64-byte aligned")
      val header = new String(raw.slice(10, 10 + hlen), "US-ASCII")
      assert(header.endsWith("\n") ||
        header.dropWhile(_ != '\n').forall(_ == ' '))
      (header, raw.drop(10 + hlen))
    }
    val (h1, d1) = parse(readAll(s"$dir/shuffle_idx.npy"))
    assert(h1.contains("'descr': '<i8'"))
    assert(h1.contains("'fortran_order': False"))
    assert(h1.contains("'shape': (4,)"))
    val bb1 = java.nio.ByteBuffer.wrap(d1)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(Seq.fill(4)(bb1.getLong) == Seq(7L, 3L, 5L, 0L))
    assert(!bb1.hasRemaining)
    val (h2, d2) = parse(readAll(s"$dir/sample_idx.npy"))
    assert(h2.contains("'descr': '<i4'"))
    assert(h2.contains("'shape': (3, 2)"))
    val bb2 = java.nio.ByteBuffer.wrap(d2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(Seq.fill(6)(bb2.getInt) == Seq(2, 0, 2, 6, 3, 4))
    assert(!bb2.hasRemaining)
    // the consumer mirror reads both files back value-identical —
    // covers the <i8 1-D and <i4 (N,2) decode branches
    assert(Npy.read(spark, s"$dir/shuffle_idx.npy").orderBy($"row")
        .as[(Long, Long)].collect().toSeq ==
      Seq((0L, 7L), (1L, 3L), (2L, 5L), (3L, 0L)))
    assert(Npy.read(spark, s"$dir/sample_idx.npy").orderBy($"row")
        .as[(Long, Long, Long)].collect().toSeq ==
      Seq((0L, 2L, 0L), (1L, 2L, 6L), (2L, 3L, 4L)))
    // <u4 round-trips a value above Int.MaxValue through the mask
    Npy.write(Seq((0L, 3000000000L), (1L, 7L)).toDF("pos", "v"),
      s"$dir/u4.npy", "pos", Seq("v"), "<u4")
    assert(Npy.read(spark, s"$dir/u4.npy").orderBy($"row")
        .as[(Long, Long)].collect().toSeq ==
      Seq((0L, 3000000000L), (1L, 7L)))
    // a header-truncated file dies with the NAMED diagnostic, not a
    // raw slice/buffer exception
    val trunc = new java.io.FileOutputStream(s"$dir/bad_trunc.npy")
    trunc.write(Npy.Magic)
    trunc.write(Array[Byte](1, 0, 0x20, 0x01)) // HEADER_LEN 288 > file
    trunc.close()
    val te = intercept[IllegalArgumentException] {
      Npy.read(spark, s"$dir/bad_trunc.npy")
    }
    assert(te.getMessage.contains("truncated npy header"))
    // null cells fail with the named diagnostic, not a bare NPE
    val ne = intercept[org.apache.spark.SparkException] {
      Npy.write(
        Seq((0L, Some(1L)), (1L, None)).toDF("pos", "v"),
        s"$dir/null.npy", "pos", Seq("v"), "<i8")
    }
    assert(ne.getMessage.contains("NULL") ||
      Option(ne.getCause).exists(_.getMessage.contains("NULL")))
    // dtype range guard: an int32 overflow must fail loudly
    intercept[org.apache.spark.SparkException] {
      Npy.write(Seq((0L, Int.MaxValue.toLong + 1)).toDF("pos", "v"),
        s"$dir/bad.npy", "pos", Seq("v"), "<i4")
    }
    // duplicate order values must fail, not silently shuffle bytes
    intercept[Exception] {
      Npy.write(Seq((1L, 1L), (1L, 2L)).toDF("pos", "v"),
        s"$dir/dup.npy", "pos", Seq("v"), "<i8")
    }
  }

  test("index-only compaction: url/line probes unchanged, one row per " +
    "key after, and the contam union-merge equals per-input probes") {
    import spark.implicits._
    val blk = Seq.empty[String].toDF("domain")
    def urlDocs(ids: Seq[Long]) = ids
      .map(i => (i, s"https://site${i % 3}.com/p/${i % 5}"))
      .toDF("doc_id", "url")
    val dir = graft.util.Scratch.dir("graft_compact_url")
    val urlIdx = graft.util.PersistedIndex(spark, dir)
    urlIdx.build(Dedup.urlIndexRows(urlDocs(1L to 20L), blk))
    urlIdx.append(1, Dedup.urlIndexRows(urlDocs(21L to 40L), blk))
    urlIdx.append(2, Dedup.urlIndexRows(urlDocs(41L to 60L), blk))
    val probe = urlDocs(61L to 70L)
    val before = Dedup.urlDedupAgainstIndex(probe, blk, dir)
      .as[(Long, String, String)].collect().toSet
    val rowsBefore = urlIdx.rows.count()
    urlIdx.rewrite(Dedup.urlKeepers)
    val after = Dedup.urlDedupAgainstIndex(probe, blk, dir)
      .as[(Long, String, String)].collect().toSet
    assert(after == before, "url probe changed across compaction")
    val idx = urlIdx.rows
    assert(idx.count() < rowsBefore, "compaction did not shrink the index")
    assert(idx.groupBy($"canonical_url").count()
      .filter($"count" > 1).isEmpty, "compaction left partial minima")

    def lineDocs(ids: Seq[Long]) = ids
      .map(i => (i, s"unique $i\nboilerplate footer"))
      .toDF("doc_id", "text")
    val ldir = graft.util.Scratch.dir("graft_compact_line")
    TextAnalysis.writeLineIndex(lineDocs(1L to 10L), ldir)
    val lineIdx = graft.util.PersistedIndex(spark, ldir)
    lineIdx.append(1, TextAnalysis.lineIndexRows(lineDocs(11L to 20L)))
    val lprobe = lineDocs(21L to 25L)
    val lbefore = TextAnalysis.lineDedupAgainstIndex(lprobe, ldir)
      .as[(Long, Long, Long, String)].collect().toSet
    lineIdx.rewrite(TextAnalysis.lineCounts)
    val lafter = TextAnalysis.lineDedupAgainstIndex(lprobe, ldir)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(lafter == lbefore, "line probe changed across compaction")
    assert(lineIdx.rows
      .groupBy($"line").count().filter($"count" > 1).isEmpty)

    // contam: merged index == probing both inputs and unioning hits ==
    // recompute against the unioned benchmark corpus
    val benchA = Seq((1L, "alpha beta gamma delta epsilon zeta eta"))
      .toDF("doc_id", "text")
    val benchB = Seq((2L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val train = Seq(
      (10L, "x alpha beta gamma delta epsilon zeta eta y"),
      (11L, "z one two three four five six seven w"),
      (12L, "clean text with no benchmark overlap at all ok"))
      .toDF("doc_id", "text")
    val da = graft.util.Scratch.dir("graft_contam_a")
    val db = graft.util.Scratch.dir("graft_contam_b")
    val dm = graft.util.Scratch.dir("graft_contam_m")
    TextAnalysis.writeContamIndex(benchA, da, n = 7)
    TextAnalysis.writeContamIndex(benchB, db, n = 7)
    TextAnalysis.mergeContamIndexes(spark, Seq(da, db), dm)
    val merged = TextAnalysis.contaminatedDocsAgainstIndex(train, dm)
      .as[Long].collect().toSet
    val separate =
      TextAnalysis.contaminatedDocsAgainstIndex(train, da)
        .as[Long].collect().toSet ++
      TextAnalysis.contaminatedDocsAgainstIndex(train, db)
        .as[Long].collect().toSet
    assert(merged == separate && merged == Set(10L, 11L))
    val recompute = TextAnalysis
      .contaminatedDocsBloom(train, benchA.unionAll(benchB), n = 7)
      .as[Long].collect().toSet
    assert(merged == recompute)
    // shingling-policy mismatch must fail loudly
    val dc = graft.util.Scratch.dir("graft_contam_c")
    TextAnalysis.writeContamIndex(benchB, dc, n = 3)
    intercept[IllegalArgumentException] {
      TextAnalysis.mergeContamIndexes(spark, Seq(da, dc),
        graft.util.Scratch.dir("graft_contam_x"))
    }
  }
}
