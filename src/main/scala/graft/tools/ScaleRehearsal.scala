package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.{CodeGraph, Mutations}
import graft.pipeline.{Dedup, Similarity, TextAnalysis}
import graft.util.Tables

/** Scale rehearsal: replicate the sf0.1 tables k× in memory (ids offset per
  * replica, so dedup semantics stay honest) and measure the pipeline AND
  * mutation/graph operators on the enlarged corpus. The point is the growth
  * CURVE, not the absolute numbers: map-side ops should scale ~linearly,
  * banded LSH ops with output size, bulk graph builds with input size, and
  * nothing should fall off a quadratic cliff.
  * Usage: sbt "runMain graft.tools.ScaleRehearsal [k]
  *   [pipeline|graph|bpewide|warc|horizon|wordpiece|tiers|all]"
  */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(10)
    val family = args.lift(1).getOrElse("all")
    require(
      Set("pipeline", "graph", "bpewide", "warc", "horizon", "wordpiece",
        "tiers", "cms", "bytebpe", "tokenshards", "lineidx", "wpdepth",
        "packing15", "packing16", "urlidx", "contamidx", "all")(family),
      s"unknown family '$family' (expected pipeline|graph|bpewide|warc|" +
        "horizon|wordpiece|tiers|cms|bytebpe|tokenshards|lineidx|" +
        "wpdepth|packing15|packing16|urlidx|contamidx|all; packing16 " +
        "the sampleidx/npy/eodpack curves, packing15 the " +
        "boundary/megatron/" +
        "split-read/binpack/shuffle curves, urlidx the persisted " +
        "URL-index probe curve, contamidx the persisted " +
        "decontamination-index probe curve, bpewide is the production-" +
        "merge-count BPE rehearsal, warc the big-segment memory-posture " +
        "probe, horizon the st14 two-query state-ceiling probe, " +
        "wordpiece the sequential-train + encode curve, tiers the t38 " +
        "window-vs-map-side probe, cms the sketch grid/footprint curve, " +
        "bytebpe the byte-level trainer/encode curve, tokenshards the " +
        "binary-sink throughput curve, lineidx the persisted line-index " +
        "probe curve, wpdepth the WordPiece per-merge-cost-vs-depth " +
        "ladder — these run only when asked)")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.Sessions.local(32)

    /** k replicas with offset ids; text perturbed per replica (replica tag
      * appended) so exact-dup counts do not degenerate to k copies. */
    def replicateDocs(mult: Int): DataFrame = {
      val docs = Tables.documents(spark, sfDir)
      val n = 1000000L
      docs.crossJoin(spark.range(mult).toDF("rep"))
        .select((col("doc_id") + col("rep") * n).as("doc_id"),
          col("source"), col("lang"),
          concat(col("text"), lit(" rep"), col("rep")).as("text"))
        .repartition(32)
        .localCheckpoint(true)
    }
    def replicateEmb(mult: Int): DataFrame = {
      val emb = Tables.embeddings(spark, sfDir)
      val n = 1000000L
      emb.crossJoin(spark.range(mult).toDF("rep"))
        .select((col("vec_id") + col("rep") * n).as("vec_id"),
          col("embedding"))
        .repartition(32)
        .localCheckpoint(true)
    }

    val base = Tables.documents(spark, sfDir).count()
    println(s"[rehearsal] base docs=$base k=$k -> ${base * k} docs")

    if (family == "graph" || family == "all") graphFamily(spark, sfDir, k)
    if (family == "pipeline" || family == "all")
      pipelineFamily(spark, sfDir, k, replicateDocs, replicateEmb)
    if (family == "bpewide") bpeWideFamily(spark)
    if (family == "warc") warcFamily(spark, k)
    if (family == "horizon") horizonFamily(spark, sfDir, k)
    if (family == "wordpiece") wordpieceFamily(spark)
    if (family == "tiers") tiersFamily(spark, k, replicateDocs)
    if (family == "cms") cmsFamily(spark, k, replicateDocs)
    if (family == "bytebpe") byteBpeFamily(spark)
    if (family == "tokenshards") tokenShardsFamily(spark, k)
    if (family == "lineidx") lineIndexFamily(spark, sfDir, k, replicateDocs)
    if (family == "wpdepth") wordpieceDepthFamily(spark)
    if (family == "packing15") packing15Family(spark, k)
    if (family == "packing16") packing16Family(spark, k)
    if (family == "urlidx") urlIndexFamily(spark, k)
    if (family == "contamidx") contamIndexFamily(spark, sfDir, k,
      replicateDocs)
    spark.stop()
  }

  /** Byte-level BPE at production-ish merge count: the batched trainer
    * over the BYTE symbolization of the 50k-word wide corpus (1,024
    * merges, the bpewide precedent — see the inline depth note), and
    * the total encode surface at 1×/4× (corpus-LINEAR: once per
    * distinct word under the guarded dictionary, byte greedy kernel on
    * the tail). */
  private def byteBpeFamily(spark: org.apache.spark.sql.SparkSession)
      : Unit = {
    val base = wideCorpus(spark, 50000)
    val corpusBy = Map(1 -> base, 4 -> replicateWide(spark, base, 4))
    // 1,024 merges — the bpewide precedent. Byte symbols start from a
    // ~26-member hex-pair alphabet, so early rounds are heavily
    // symbol-colliding (small batches); the interesting number is the
    // batching RECOVERY as the symbol universe widens, not a deeper
    // ladder of singleton rounds (a 2,048-merge probe measured ~27 min
    // of driver rounds on this VM for no additional signal).
    val merges = 1024
    var model: graft.pipeline.Bpe.Model = null
    Seq(1, 4).foreach { mult =>
      val docs = corpusBy(mult)
      val t0 = System.nanoTime()
      val m = graft.pipeline.ByteBpe.train(docs, merges)
      if (mult == 1) model = m
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[rehearsal] bytebpe train x$mult corpus (50k-word " +
        f"vocab): $secs%.1fs merges=${m.merges.size} " +
        f"driverRounds=${m.driverRounds} " +
        f"avgBatch=${m.merges.size.toDouble / m.driverRounds}%.1f " +
        f"perMerge=${secs / m.merges.size}%.4fs")
    }
    Seq(1, 4).foreach { mult =>
      val docs = corpusBy(mult)
      val t0 = System.nanoTime()
      val toks = graft.pipeline.ByteBpe.encodeTokenCounts(docs, model)
        .agg(sum(col("n_bytebpe_tokens"))).head().getLong(0)
      println(f"[rehearsal] bytebpe encode x$mult ($merges-merge model): " +
        f"${(System.nanoTime() - t0) / 1e9}%.1fs byteTokens=$toks")
    }
  }

  /** Token-shard binary sink throughput: (doc_id, 512 synthetic ids)
    * frames at 1×/4×/k× document count, written as 16 bin/idx pairs and
    * read back with a full-ids aggregation — write and read must stay
    * corpus-LINEAR (one shuffle + streaming writes; one task per shard
    * pair on read), and the idx stays ~1–2%% of the bin bytes (the
    * documented in-memory-index posture). */
  private def tokenShardsFamily(spark: org.apache.spark.sql.SparkSession,
      k: Int): Unit = {
    val baseDocs = 20000L
    Seq(1, 4, k).distinct.foreach { mult =>
      val df = spark.range(baseDocs * mult).toDF("doc_id")
        .select(col("doc_id"),
          transform(sequence(lit(0), lit(511)),
            i => pmod(col("doc_id") * 31 + i.cast("long") * 17,
              lit(60000L))).as("ids"))
        .repartition(32).localCheckpoint(true)
      val dir = graft.util.Scratch.dir("rehearsal_ts")
      val t0 = System.nanoTime()
      graft.pipeline.TokenShards.write(df, dir, nShards = 16,
        vocabSize = 60000L)
      val tw = (System.nanoTime() - t0) / 1e9
      val files = new java.io.File(dir).listFiles()
      val binB = files.filter(_.getName.endsWith(".bin")).map(_.length).sum
      val idxB = files.filter(_.getName.endsWith(".idx")).map(_.length).sum
      val t1 = System.nanoTime()
      val n = graft.pipeline.TokenShards.read(spark, dir)
        .agg(sum(size(col("ids")))).head().getLong(0)
      val tr = (System.nanoTime() - t1) / 1e9
      println(f"[rehearsal] tokenshards x$mult (${baseDocs * mult} docs, " +
        f"${binB / 1e6}%.1f MB bin, idx/bin=${idxB.toDouble / binB}%.3f): " +
        f"write $tw%.1fs read $tr%.1fs tokens=$n")
      // the q42 concat-and-chop over the same id frames: the two-pass
      // prefix sum + one seq_id shuffle must stay corpus-LINEAR, and the
      // sequence count must equal ceil(tokens/512) exactly
      val t2 = System.nanoTime()
      val seqs = graft.pipeline.Packing.packTokenIds(df, 512)
      val nSeq = seqs.count()
      val tp = (System.nanoTime() - t2) / 1e9
      println(f"[rehearsal] packids x$mult (${baseDocs * mult} docs -> " +
        f"$nSeq seqs, expect ${(n + 511) / 512}): pack $tp%.1fs")
    }
  }

  /** Round-15 packing-surface curves, one synthetic id frame feeding
    * four rows per scale point:
    *  - boundpack: packTokenIdsWithBoundaries + the GRAFTDOC sidecar
    *    write + boundary read-back — must stay corpus-linear and the
    *    spans must tile (checked, not just timed);
    *  - megatron: the strict-MMIDIDX write + read — same linearity as
    *    the GRAFTIDX rows in [[tokenShardsFamily]];
    *  - splitread: read wall-time at splitsPerShard 1 vs 8 on a FIXED
    *    4-shard directory — the round-14 watch item: parallelism must
    *    come from the seek table, not the shard count;
    *  - binpack + shuffleidx: histogram-NFD and the seeded permutation,
    *    both corpus-linear with driver state bounded (histogram ≤
    *    capacity rows; no driver sort anywhere). */
  private def packing15Family(spark: org.apache.spark.sql.SparkSession,
      k: Int): Unit = {
    val baseDocs = 20000L
    Seq(1, 4, k).distinct.foreach { mult =>
      val nDocs = baseDocs * mult
      // variable doc lengths (32..543 tokens) so sequences span docs
      val df = spark.range(nDocs).toDF("doc_id")
        .select(col("doc_id"),
          transform(sequence(lit(0),
              pmod(col("doc_id") * 7, lit(512L)).cast("int") + 31),
            i => pmod(col("doc_id") * 31 + i.cast("long") * 17,
              lit(60000L))).as("ids"))
        .repartition(32).localCheckpoint(true)
      val t0 = System.nanoTime()
      val seqs = graft.pipeline.Packing
        .packTokenIdsWithBoundaries(df, 512).localCheckpoint(true)
      val nSeq = seqs.count()
      val tp = (System.nanoTime() - t0) / 1e9
      val dir = graft.util.Scratch.dir("rehearsal_bp")
      val t1 = System.nanoTime()
      graft.pipeline.TokenShards.write(seqs, dir, nShards = 16,
        vocabSize = 60000L, idCol = "seq_id", tokensCol = "ids",
        segsCol = Some("segs"))
      val tw = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val back = graft.pipeline.TokenShards.read(spark, dir,
        boundaries = true)
      // spans must TILE every sequence read back — a correctness probe
      // inside the curve, not just a timing
      val badTile = back.select(
          expr("aggregate(segs, 0, (a, s) -> " +
            "IF(s.start = a AND s.len > 0, a + s.len, -1000000))")
            .as("tiled"), size(col("ids")).as("n"))
        .filter(col("tiled") =!= col("n")).count()
      val tr = (System.nanoTime() - t2) / 1e9
      require(badTile == 0L, s"boundary spans failed to tile: $badTile")
      println(f"[rehearsal] boundpack x$mult ($nDocs docs -> $nSeq seqs):" +
        f" pack $tp%.1fs write $tw%.1fs readcheck $tr%.1fs")
      val mdir = graft.util.Scratch.dir("rehearsal_mm")
      val t3 = System.nanoTime()
      graft.pipeline.TokenShards.write(df, mdir, nShards = 16,
        vocabSize = 60000L, format = graft.pipeline.TokenShards.Megatron)
      val t4 = System.nanoTime()
      val nTok = graft.pipeline.TokenShards.read(spark, mdir)
        .agg(sum(size(col("ids")))).head().getLong(0)
      val t5 = System.nanoTime()
      println(f"[rehearsal] megatron x$mult ($nDocs docs, $nTok tokens): " +
        f"write ${(t4 - t3) / 1e9}%.1fs read ${(t5 - t4) / 1e9}%.1fs")
      // split-read scaling: FIXED shard count (4 — fewer than cores),
      // growing data; splits must recover the lost parallelism
      val sdir = graft.util.Scratch.dir("rehearsal_split")
      graft.pipeline.TokenShards.write(df, sdir, nShards = 4,
        vocabSize = 60000L)
      val t6 = System.nanoTime()
      val c1 = graft.pipeline.TokenShards.read(spark, sdir,
        splitsPerShard = 1).agg(sum(size(col("ids")))).head().getLong(0)
      val t7 = System.nanoTime()
      val c8 = graft.pipeline.TokenShards.read(spark, sdir,
        splitsPerShard = 8).agg(sum(size(col("ids")))).head().getLong(0)
      val t8 = System.nanoTime()
      require(c1 == c8, "split read changed the token count")
      println(f"[rehearsal] splitread x$mult (4 shards, $nTok tokens): " +
        f"1-split ${(t7 - t6) / 1e9}%.1fs 8-split ${(t8 - t7) / 1e9}%.1fs")
      // NFD bin packing over the same length distribution
      val lens = df.select(col("doc_id"),
        size(col("ids")).cast("long").as("n_tokens"))
      val t9 = System.nanoTime()
      val nBins = graft.pipeline.Packing.binPackDocs(lens, 256)
        .agg(max(col("bin"))).head().getLong(0) + 1
      val t10 = System.nanoTime()
      println(f"[rehearsal] binpack x$mult ($nDocs docs -> $nBins bins): " +
        f"${(t10 - t9) / 1e9}%.1fs")
      // seeded epoch shuffle over the sequence-id range
      val t11 = System.nanoTime()
      val nPerm = graft.pipeline.Packing
        .epochShuffle(spark.range(nSeq).toDF("id"), 42L).count()
      val t12 = System.nanoTime()
      require(nPerm == nSeq, "shuffle dropped positions")
      println(f"[rehearsal] shuffleidx x$mult ($nSeq seqs): " +
        f"${(t12 - t11) / 1e9}%.1fs")
    }
  }

  /** Round-16 packing rows: the Megatron sample_idx strided map (one
    * fused two-pass scan + a bounded explode — must stay corpus-linear
    * in epochs·docs), the single-file `.npy` emitters (stream-stitch:
    * linear in rows, O(1) driver memory), and EOD-separated boundary
    * packing (the q48 path — the separator must cost arithmetic, not a
    * new shuffle: compare against packing15's eod-free boundpack row). */
  private def packing16Family(spark: org.apache.spark.sql.SparkSession,
      k: Int): Unit = {
    val baseDocs = 20000L
    Seq(1, 4, k).distinct.foreach { mult =>
      val nDocs = baseDocs * mult
      val lens = spark.range(nDocs).toDF("doc_id")
        .select(col("doc_id"),
          (pmod(col("doc_id") * 7, lit(512L)) + 32L).as("n_tokens"))
        .repartition(32).localCheckpoint(true)
      val t0 = System.nanoTime()
      val sx = graft.pipeline.Packing
        .sampleIdx(lens, 512, epochs = 3, seed = 42L).localCheckpoint(true)
      // rows = samples + 1: the last row is Megatron's end sentinel —
      // the sample_idx ARTIFACT keeps it, the shuffle permutation is
      // over the real samples only (Megatron sizes shuffle_idx at
      // num_samples)
      val nSamp = sx.count() - 1L
      val ts = (System.nanoTime() - t0) / 1e9
      val dir = graft.util.Scratch.dir("rehearsal_npy")
      val t1 = System.nanoTime()
      graft.pipeline.Npy.write(sx, s"$dir/sample_idx.npy", "sample",
        Seq("doc_index", "doc_offset"), "<i4")
      val t2 = System.nanoTime()
      graft.pipeline.Npy.write(
        graft.pipeline.Packing.epochShuffle(
          spark.range(nSamp).toDF("id"), 42L),
        s"$dir/shuffle_idx.npy", "pos", Seq("id"), "<i8")
      val t3 = System.nanoTime()
      graft.pipeline.Npy.write(
        graft.pipeline.Packing.epochDocOrder(lens, 3, 42L),
        s"$dir/doc_idx.npy", "doc_index", Seq("doc_id"), "<i8")
      val t3b = System.nanoTime()
      println(f"[rehearsal] sampleidx x$mult ($nDocs docs, 3 epochs -> " +
        f"$nSamp samples): map $ts%.1fs npy(i4 pairs) " +
        f"${(t2 - t1) / 1e9}%.1fs npy(i8 perm) ${(t3 - t2) / 1e9}%.1fs " +
        f"npy(doc_idx) ${(t3b - t3) / 1e9}%.1fs")
      // EOD-separated boundary pack over variable-length id streams —
      // vocab 60000, separator 60000 (the appended special id)
      val df = spark.range(nDocs).toDF("doc_id")
        .select(col("doc_id"),
          transform(sequence(lit(0),
              pmod(col("doc_id") * 7, lit(512L)).cast("int") + 31),
            i => pmod(col("doc_id") * 31 + i.cast("long") * 17,
              lit(60000L))).as("ids"))
        .repartition(32).localCheckpoint(true)
      val t4 = System.nanoTime()
      val seqs = graft.pipeline.Packing
        .packTokenIdsWithBoundaries(df, 512, eodId = Some(60000L))
        .localCheckpoint(true)
      val nSeq = seqs.count()
      val t5 = System.nanoTime()
      // separator accounting probe inside the curve: total tokens must
      // be exactly raw + one separator per doc
      val packed = seqs.agg(sum(size(col("ids")))).head().getLong(0)
      val raw = df.agg(sum(size(col("ids")))).head().getLong(0)
      require(packed == raw + nDocs,
        s"eod accounting drift: $packed != $raw + $nDocs")
      println(f"[rehearsal] eodpack x$mult ($nDocs docs -> $nSeq seqs): " +
        f"${(t5 - t4) / 1e9}%.1fs")
    }
  }

  /** Persisted URL-index curve (the d22 lifecycle, the lineidx shape):
    * the stored side grows k-fold, the increment stays fixed — probe
    * cost must track the index aggregation (sublinear in stored rows:
    * the stored corpus never re-canonicalizes), build corpus-linear. */
  private def urlIndexFamily(spark: org.apache.spark.sql.SparkSession,
      k: Int): Unit = {
    val block = {
      import spark.implicits._
      // a domain the generated corpus ACTUALLY contains (site0..96):
      // the blocked branch must carry real hits or this curve would
      // measure a vacuous filter
      Seq("site7.com").toDF("domain")
    }
    def urls(n: Long, offset: Long, pageOff: Long = 0L): DataFrame =
      spark.range(n).toDF("i")
        .select((col("i") + offset).as("doc_id"),
          concat(lit("https://site"), pmod(col("i"), lit(97L)),
            lit(".com/p/"), pmod(col("i"), lit(5003L)) +
              // half the increment is NOVEL pages (stored pages are
              // < 5003): kept must be nonzero or the probe would pass
              // with an everything-is-dup bug
              when(pmod(col("i"), lit(2L)) === 0, lit(0L))
                .otherwise(lit(pageOff)),
            lit("?utm_source=x")).as("url"))
    val incr = urls(20000L, 100000000L, pageOff = 10000L)
      .localCheckpoint(true)
    Seq(1, 4, k).distinct.foreach { mult =>
      val corpus = urls(200000L * mult, 0L)
      val dir = graft.util.Scratch.dir("rehearsal_urlidx")
      val idx = graft.util.PersistedIndex(spark, dir)
      val t0 = System.nanoTime()
      idx.build(graft.pipeline.Dedup.urlIndexRows(corpus, block))
      val tw = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val kept = graft.pipeline.Dedup
        .urlDedupAgainstIndex(incr, block, dir)
        .filter(col("decision") === "kept").count()
      val tp = (System.nanoTime() - t1) / 1e9
      println(f"[rehearsal] urlidx x$mult (${200000L * mult} stored): " +
        f"build $tw%.1fs probe(20k incr) $tp%.1fs kept=$kept")
      // INDEX-ONLY compaction: three appended increments accumulate
      // partial minima, compact re-minimizes over index rows alone —
      // its cost must track the INDEX (distinct URLs, bounded at 97·5003
      // here), not the corpus build, and the probe must not move
      (1 to 3).foreach { a =>
        idx.append(a, graft.pipeline.Dedup.urlIndexRows(
          urls(20000L, 200000000L + a * 1000000L, pageOff = 10000L),
          block))
      }
      val t2 = System.nanoTime()
      idx.rewrite(graft.pipeline.Dedup.urlKeepers)
      val tc = (System.nanoTime() - t2) / 1e9
      val kept2 = graft.pipeline.Dedup
        .urlDedupAgainstIndex(incr, block, dir)
        .filter(col("decision") === "kept").count()
      require(kept2 == kept, "probe moved across compaction")
      println(f"[rehearsal] urlcompact x$mult (corpus ${200000L * mult}, " +
        f"build was $tw%.1fs): compact $tc%.1fs")
    }
  }

  /** Persisted contamination-index curve (the d23 lifecycle): the
    * stored benchmark side grows k-fold, the training increment stays
    * fixed — build pays the benchmark tokenize ONCE (corpus-linear);
    * probe re-reads sketch + gram set, so its cost tracks the
    * increment's gram explode plus one semi-join against stored grams,
    * never a benchmark re-tokenize. */
  private def contamIndexFamily(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, k: Int, replicateDocs: Int => DataFrame): Unit = {
    // half the increment is corpus docs (genuinely contaminated), half
    // is a disjoint synthetic token space the sketch has never seen —
    // the Bloom DISCARD path must carry real traffic or the curve would
    // stay flat even with an always-true prefilter (the urlidx lesson)
    val novel = spark.range(250L).toDF("i")
      .select((col("i") + 1000000000L).as("doc_id"),
        concat(lit("zqx"), col("i"), lit(" wvu"), col("i"),
          lit(" rst"), col("i"), lit(" nop"), col("i"),
          lit(" jkl"), col("i")).as("text"))
    val incr = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull).filter(col("doc_id") < 250)
      .select(col("doc_id"), col("text"))
      .unionAll(novel)
      .localCheckpoint(true)
    Seq(1, 4, k).distinct.foreach { mult =>
      val bench = replicateDocs(mult)
      val dir = graft.util.Scratch.dir("rehearsal_contamidx")
      val t0 = System.nanoTime()
      graft.pipeline.TextAnalysis.writeContamIndex(bench, dir, n = 4)
      val tw = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val hits = graft.pipeline.TextAnalysis
        .contaminatedDocsAgainstIndex(incr, dir).count()
      val tp = (System.nanoTime() - t1) / 1e9
      println(f"[rehearsal] contamidx x$mult: build $tw%.1fs " +
        f"probe(500-doc incr) $tp%.1fs contaminated=$hits")
      // INDEX-ONLY union merge: admit a second (fixed, small) suite by
      // unioning stored gram sets — cost must track the INDEX gram
      // tables (never a benchmark re-tokenize; compare against the
      // corpus-linear build column), and the merged probe must equal
      // the per-input union
      val dirB = graft.util.Scratch.dir("rehearsal_contamidx_b")
      graft.pipeline.TextAnalysis.writeContamIndex(
        Tables.documents(spark, sfDir).filter(col("text").isNotNull)
          .filter(col("doc_id") >= 250 && col("doc_id") < 500),
        dirB, n = 4)
      val dirM = graft.util.Scratch.dir("rehearsal_contamidx_m")
      val t2 = System.nanoTime()
      graft.pipeline.TextAnalysis.mergeContamIndexes(spark,
        Seq(dir, dirB), dirM)
      val tm = (System.nanoTime() - t2) / 1e9
      val mergedHits = graft.pipeline.TextAnalysis
        .contaminatedDocsAgainstIndex(incr, dirM).count()
      require(mergedHits >= hits, "merge lost stored grams")
      println(f"[rehearsal] contammerge x$mult (build was $tw%.1fs): " +
        f"merge $tm%.1fs mergedhits=$mergedHits")
    }
  }

  /** Persisted line-index curve: the index side grows k-fold (replicated
    * corpus with the t35-style boilerplate plant), the INCREMENT stays
    * fixed — probe cost must track the index's distinct-line aggregation
    * (sublinear in corpus rows; the corpus never re-explodes at probe
    * time), write cost corpus-linear. */
  private def lineIndexFamily(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, k: Int,
      replicateDocs: Int => DataFrame): Unit = {
    def plant(docs: DataFrame): DataFrame =
      docs.filter(col("text").isNotNull)
        .select(col("doc_id"), concat(
          lit("SUBSCRIBE to our newsletter\n"), col("text"),
          lit("\n(c) corpus footer")).as("text"))
    // doc_id range, not limit(): an unordered limit picks whichever
    // rows the scan yields first, making dropped-count drift across
    // runs/boots — the cross-round curve comparison needs a pinned
    // increment
    val incr = plant(Tables.documents(spark, sfDir))
      .filter(col("doc_id") < 200).localCheckpoint(true)
    Seq(1, 4, k).distinct.foreach { mult =>
      val corpus = plant(replicateDocs(mult))
      val dir = graft.util.Scratch.dir("rehearsal_lineidx")
      val t0 = System.nanoTime()
      graft.pipeline.TextAnalysis.writeLineIndex(corpus, dir)
      val tw = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val dropped = graft.pipeline.TextAnalysis
        .lineDedupAgainstIndex(incr, dir)
        .agg(sum(col("n_dropped"))).head().getLong(0)
      val tp = (System.nanoTime() - t1) / 1e9
      println(f"[rehearsal] lineidx x$mult: build $tw%.1fs " +
        f"probe(200-doc incr) $tp%.1fs dropped=$dropped")
    }
  }

  /** WordPiece per-merge cost vs DEPTH (the one tokenizer-trio number
    * round 13 left extrapolated): the proven-sequential trainer at 256 /
    * 1,024 / 2,048 merges on the 50k-word wide corpus. Per-merge cost
    * must stay at the measured floor as depth grows (every round is
    * vocabulary-sized; nothing accumulates), which makes the 30k-merge
    * BERT-vocab wall-time a measured-slope product — printed explicitly
    * as the projection it is (a literal 30k run is ~7 h of driver rounds
    * on this VM; the ladder IS the honest measurement of the quantity
    * that determines it). */
  private def wordpieceDepthFamily(
      spark: org.apache.spark.sql.SparkSession): Unit = {
    val base = wideCorpus(spark, 50000)
    var last = 0.0
    Seq(256, 1024, 2048).foreach { merges =>
      val t0 = System.nanoTime()
      val m = graft.pipeline.Wordpiece.train(base, merges)
      val secs = (System.nanoTime() - t0) / 1e9
      last = secs / m.merges.size
      println(f"[rehearsal] wpdepth merges=$merges: $secs%.1fs " +
        f"perMerge=$last%.4fs vocab=${m.vocab.size}")
    }
    println(f"[rehearsal] wpdepth projection: 30k merges x " +
      f"$last%.4fs/merge = ${30000 * last / 3600}%.1f h " +
      "(sequential-by-necessity; see Wordpiece scaladoc)")
  }

  /** st14 state-ceiling probe: the two-query horizon topology
    * ([[graft.streaming.EventStreams.nearDupCandidatesStream]] → parquet
    * sink → [[graft.streaming.EventStreams.nearDupVerifyStream]]) driven
    * over k× DENSIFIED duplicates — every original doc gains k − 1
    * near-dup replicas landing within seconds of it in event time, so
    * within-horizon duplicate density grows k-fold while the corpus
    * spans ~83 h of event time. The stream arrives in six time-ordered
    * chunk drains, so the watermark advances BETWEEN drains and every
    * store must expire; reported per store: the PEAK `numRowsTotal`
    * across drains (the ceiling a 100 TB deploy provisions for — must
    * track the k-fold WITHIN-HORIZON density, not the corpus size) and
    * the final-drain value (the expiry trough — must stay at the
    * last-horizon residue, proving nothing leaks). */
  private def horizonFamily(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, k: Int): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val src = java.nio.file.Files.createTempDirectory("hz_src").toString
    val candDir = java.nio.file.Files.createTempDirectory("hz_cand").toString
    val sink = java.nio.file.Files.createTempDirectory("hz_sink").toString
    val ck1 = java.nio.file.Files.createTempDirectory("hz_ck1").toString
    val ck2 = java.nio.file.Files.createTempDirectory("hz_ck2").toString
    val epoch = java.time.Instant.parse("2026-01-01T00:00:00Z")
      .getEpochSecond
    // replicas of doc o land at o minutes + 5·rep seconds — k-fold
    // near-dup density inside every horizon window
    val base = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
    val docs = base.crossJoin(spark.range(k).toDF("rep"))
      .select((col("doc_id") + col("rep") * 1000000L).as("doc_id"),
        timestamp_seconds(lit(epoch) + pmod(col("doc_id"), lit(1000000L)) *
          60L + col("rep") * 5L).as("ts"),
        concat(col("text"), lit(" rep"), col("rep")).as("text"))
      .localCheckpoint(true)
    val maxId = base.agg(max(col("doc_id"))).head().getLong(0)
    val chunks = 6
    val schema = new StructType().add("doc_id", LongType)
      .add("ts", TimestampType).add("text", StringType)
    val peaks = scala.collection.mutable.Map.empty[String, Long]
    var trough: Seq[(String, Long)] = Seq.empty
    def record(ops: Seq[(String, Long)]): Unit = {
      ops.foreach { case (nm, v) =>
        peaks(nm) = math.max(peaks.getOrElse(nm, 0L), v)
      }
      trough = ops
    }
    (0 until chunks).foreach { c =>
      val lo = maxId * c / chunks
      val hi = if (c == chunks - 1) maxId + 1 else maxId * (c + 1) / chunks
      // spark-side json writing handles text escaping; one part file
      // per chunk keeps arrival time-ordered across drains
      val tmp = java.nio.file.Files.createTempDirectory("hz_chunk").toString
      docs.filter(pmod(col("doc_id"), lit(1000000L)).between(lo, hi - 1))
        .select(to_json(struct(col("doc_id"), col("ts"), col("text"))))
        .coalesce(1).write.mode("overwrite").text(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.startsWith("part-")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(src, f"chunk-$c%03d.json"))
      val q1 = graft.streaming.EventStreams
        .nearDupCandidatesStream(
          spark.readStream.schema(schema).json(src), horizon = "1 hour")
        .writeStream.outputMode("append").format("parquet")
        .option("path", candDir).option("checkpointLocation", ck1)
        .trigger(Trigger.AvailableNow()).start()
      q1.awaitTermination()
      val candSchema = new StructType().add("id_a", LongType)
        .add("id_b", LongType).add("evt", TimestampType)
      val q2 = graft.streaming.EventStreams
        .nearDupVerifyStream(
          spark.readStream.schema(candSchema).parquet(candDir),
          spark.readStream.schema(schema).json(src), horizon = "1 hour")
        .writeStream.outputMode("append").format("parquet")
        .option("path", sink).option("checkpointLocation", ck2)
        .trigger(Trigger.AvailableNow()).start()
      q2.awaitTermination()
      val ops =
        q1.lastProgress.stateOperators.toSeq
          .map(o => (s"q1:${o.operatorName}", o.numRowsTotal)) ++
        q2.lastProgress.stateOperators.toSeq.zipWithIndex
          .map { case (o, i) => (s"q2:${o.operatorName}#$i", o.numRowsTotal) }
      record(ops)
    }
    val nPairs = spark.read.parquet(sink).count()
    println(s"[rehearsal] st14 horizon topology x$k: $nPairs pairs over " +
      s"$chunks time-ordered drains")
    peaks.toSeq.sorted.foreach { case (nm, v) =>
      val fin = trough.find(_._1 == nm).map(_._2).getOrElse(-1L)
      println(s"[rehearsal]   store $nm: peak=$v finalDrain=$fin")
    }
  }

  /** Big-segment memory posture for the WARC reader: build ONE synthetic
    * segment of k × 128 MiB (2048·k records, 64 KiB payloads — the
    * Common Crawl record-size class) and measure the three read shapes.
    * The claim under test is not the wall time but the COPY VOLUME
    * ([[graft.sources.warc.Warc.payloadBytesCopied]], exact in local
    * mode): a metadata-only or filtered-out read must copy ZERO payload
    * bytes regardless of segment size, and a full read copies exactly
    * the payload sum — one record resident at a time, never 2× the
    * file. */
  private def warcFamily(spark: org.apache.spark.sql.SparkSession,
      k: Int): Unit = {
    import graft.sources.warc.Warc
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_big")
    val recs = 2048 * k
    val payload = Array.tabulate[Byte](64 * 1024)(i => (i % 251).toByte)
    val out = new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("big-0.warc")),
      1 << 20)
    (0 until recs).foreach { i =>
      val rt = if (i % 8 == 0) "metadata" else "response"
      out.write(Warc.renderRecord(rt, s"<urn:uuid:big-$i>",
        s"http://corpus/doc/$i", "2026-01-01T00:00:00Z", payload))
    }
    out.close()
    val sizeMb = java.nio.file.Files.size(dir.resolve("big-0.warc")) >> 20
    println(s"[rehearsal] warc segment: $recs records, $sizeMb MiB")
    def read() = spark.read.format("warc").load(dir.toString)
    val before = Warc.payloadBytesCopied.get()
    time(s"warc $sizeMb MiB metadata-only scan") {
      read().select("record_id", "content_length").count()
    }
    println(s"[rehearsal]   payload bytes copied: " +
      s"${Warc.payloadBytesCopied.get() - before} (must be 0)")
    val beforeFull = Warc.payloadBytesCopied.get()
    time(s"warc $sizeMb MiB full payload scan (md5)") {
      // agg over md5(payload), NOT count(): a bare count prunes the
      // payload column away and the row would measure nothing
      read().filter(col("record_type") === "response")
        .agg(count_distinct(md5(col("payload")))).head()
      read().filter(col("record_type") === "response").count()
    }
    val copied = Warc.payloadBytesCopied.get() - beforeFull
    val expected = (recs - recs / 8).toLong * 64 * 1024
    println(s"[rehearsal]   payload bytes copied: $copied " +
      s"(response payload sum: $expected; metadata records skipped)")
  }

  /** Production-merge-count BPE rehearsal: the testdata vocabulary (31
    * words) exhausts its pairs at 89 merges, so the t20 gate can only
    * drive the batched loop to 85 — this family synthesizes a WIDE
    * vocabulary (50k distinct pseudo-words, zipf-ish counts, deterministic
    * LCG letters — no corpus read) and runs a 1,024-merge train at two
    * corpus scales. The numbers that certify a 32k-vocab production
    * train: driverRounds ≪ merges (the batched argmax-prefix actually
    * batches at depth) and s/merge flat in corpus size (every round is
    * vocabulary-sized after the one word-count shuffle). */
  /** The synthesized WIDE pseudo-vocabulary corpus shared by the bpewide
    * and wordpiece families: `w` distinct deterministic 8-letter words
    * (one LCG step per letter, seeded by a Knuth-hashed id — flat-ish
    * pair statistics, fully reproducible), zipf-ish counts, one doc per
    * DISTINCT word with the word repeated cnt(i) times — wordCounts
    * explodes it back to the same table. */
  private def wideCorpus(spark: org.apache.spark.sql.SparkSession,
      w: Int): DataFrame = {
    import spark.implicits._
    def word(i: Long): String = {
      var h = i * 2654435761L + 1234567L
      val sb = new StringBuilder
      var j = 0
      while (j < 8) {
        h = h * 6364136223846793005L + 1442695040888963407L
        sb.append(('a' + ((h >>> 33) % 26)).toChar)
        j += 1
      }
      sb.toString
    }
    spark.range(w).as[Long].map { i =>
      val cnt = math.min(1000L, w / (i + 1L) + 1L).toInt
      (i, Array.fill(cnt)(word(i)).mkString(" "))
    }.toDF("doc_id", "text").repartition(32).localCheckpoint(true)
  }

  /** k offset-id replicas of a (doc_id, text) frame — the ONE
    * replication scheme both wide-corpus families measure (a per-family
    * copy would let the two rehearsals silently drift apart). */
  private def replicateWide(spark: org.apache.spark.sql.SparkSession,
      base: DataFrame, mult: Int): DataFrame =
    if (mult == 1) base
    else base.crossJoin(spark.range(mult).toDF("rep"))
      .select((col("doc_id") + col("rep") * 1000000L).as("doc_id"),
        col("text"))
      .repartition(32).localCheckpoint(true)

  /** WordPiece's scale curve: the trainer is SEQUENTIAL BY NECESSITY
    * (the likelihood score makes the BPE batch rule unsound — see
    * [[graft.pipeline.Wordpiece]]), so the number that matters is the
    * per-merge cost staying corpus-FLAT (every round is
    * vocabulary-sized after the one word-count shuffle) and the encode
    * surface staying corpus-LINEAR (greedy walk once per distinct word,
    * one guarded join back). 256 merges over the 50k-word wide corpus
    * at 1×/4× replication. */
  private def wordpieceFamily(spark: org.apache.spark.sql.SparkSession)
      : Unit = {
    val W = 50000
    val base = wideCorpus(spark, W)
    val corpusBy = Map(1 -> base, 4 -> replicateWide(spark, base, 4))
    val merges = 256
    var model: graft.pipeline.Wordpiece.Model = null
    Seq(1, 4).foreach { mult =>
      val docs = corpusBy(mult)
      val t0 = System.nanoTime()
      val m = graft.pipeline.Wordpiece.train(docs, merges)
      if (mult == 1) model = m
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[rehearsal] wordpiece train x$mult corpus ($W-word " +
        f"vocab): $secs%.1fs merges=${m.merges.size} " +
        f"perMerge=${secs / m.merges.size}%.4fs vocab=${m.vocab.size}")
    }
    Seq(1, 4).foreach { mult =>
      val docs = corpusBy(mult)
      val t0 = System.nanoTime()
      val agg = graft.pipeline.Wordpiece.encodeTokenCounts(docs, model)
        .agg(sum(col("n_wp_tokens")), sum(col("n_unk_words")))
        .head()
      println(f"[rehearsal] wordpiece encode x$mult: " +
        f"${(System.nanoTime() - t0) / 1e9}%.1fs " +
        f"wpTokens=${agg.getLong(0)} unkWords=${agg.getLong(1)}")
    }
    // the STREAM surface (t42's shape): the per-doc ordered flatten is
    // the heaviest per-doc step in the family — must stay corpus-linear
    Seq(1, 4).foreach { mult =>
      val docs = corpusBy(mult)
      val t0 = System.nanoTime()
      val n = graft.pipeline.Wordpiece.tokenStreams(docs, model)
        .agg(sum(size(col("stream")))).head().getLong(0)
      println(f"[rehearsal] wordpiece tokenStreams x$mult: " +
        f"${(System.nanoTime() - t0) / 1e9}%.1fs streamTokens=$n")
    }
  }

  /** t38's window-vs-map-side probe: the exact per-language NTILE (one
    * total sort per language — the documented skew ceiling) against
    * [[graft.pipeline.TextAnalysis.assignPerplexityBuckets]] under the
    * exact boundary tuples, at 1×/k×/3k× corpus replication. Scoring
    * (the shared KN chain) is pinned OUTSIDE both clocks; the map-side
    * leg includes its boundary computation (window on the LANG-COUNT-
    * sized boundary source is not what production does — production
    * boundaries come from a sample or a frozen LM — so the assign row
    * reports assignment cost only, the honest comparison). */
  private def tiersFamily(spark: org.apache.spark.sql.SparkSession,
      k: Int, replicateDocs: Int => DataFrame): Unit = {
    import org.apache.spark.sql.expressions.Window
    Seq(1, k, 3 * k).foreach { mult =>
      val docs = replicateDocs(mult)
      val scored = graft.pipeline.TextAnalysis.knBigramScore(docs)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .localCheckpoint(true) // scoring cost excluded from both clocks
      val n = scored.count()
      val t0 = System.nanoTime()
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("avg_kn_logprob").desc, col("doc_id"))
      val exact = scored.withColumn("bucket",
        ntile(3).over(w).cast("long"))
      exact.agg(sum(col("bucket"))).head()
      val tNtile = (System.nanoTime() - t0) / 1e9
      // exact boundaries, driver-collected (languages × 2 tuples): the
      // LAST row of each bucket in (score DESC, id ASC) order is the
      // order-MAXIMAL (−score, id) tuple
      val cutoffs = exact.filter(col("bucket") < 3)
        .groupBy(col("lang"), col("bucket"))
        .agg(max(struct((col("avg_kn_logprob") * -1).as("ns"),
          col("doc_id").as("i"))).as("b"))
        .select(col("lang"), col("bucket"),
          (col("b").getField("ns") * -1).as("s"),
          col("b").getField("i").as("i"))
        .collect()
        .groupBy(_.getString(0)).view
        .mapValues(_.sortBy(_.getLong(1))
          .map(r => (r.getDouble(2), r.getLong(3))).toSeq).toMap
      val t1 = System.nanoTime()
      graft.pipeline.TextAnalysis.assignPerplexityBuckets(scored, cutoffs)
        .agg(sum(col("bucket"))).head()
      val tAssign = (System.nanoTime() - t1) / 1e9
      println(f"[rehearsal] tiers x$mult ($n scored docs): " +
        f"ntile $tNtile%.2fs mapSideAssign $tAssign%.2fs")
    }
  }

  /** The CMS claim under replication: build cost tracks corpus
    * occurrences (one scan + a grid-bounded shuffle) while the GRID —
    * the state, the shuffle volume, the broadcast estimate side — stays
    * ≤ d×w rows at every scale. Estimates over the exact top-20 ride
    * the bounded broadcast at any corpus size. */
  private def cmsFamily(spark: org.apache.spark.sql.SparkSession,
      k: Int, replicateDocs: Int => DataFrame): Unit = {
    Seq(1, k, 3 * k).foreach { mult =>
      val docs = replicateDocs(mult)
      val t0 = System.nanoTime()
      val cms = graft.pipeline.Sketches.cmsBuild(docs)
        .localCheckpoint(true)
      val gridRows = cms.count()
      val tBuild = (System.nanoTime() - t0) / 1e9
      val top = graft.pipeline.Sketches.wordOccurrences(docs)
        .groupBy(col("word")).agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("word")).limit(20)
      val t1 = System.nanoTime()
      val over = graft.pipeline.Sketches.cmsEstimate(cms, top)
        .agg(sum(col("est_cnt") - col("exact_cnt"))).head().getLong(0)
      val tEst = (System.nanoTime() - t1) / 1e9
      println(f"[rehearsal] cms x$mult: build $tBuild%.2fs " +
        f"grid=$gridRows rows estimate $tEst%.2fs top20Overcount=$over")
    }
  }

  private def bpeWideFamily(spark: org.apache.spark.sql.SparkSession)
      : Unit = {
    import spark.implicits._
    val base = wideCorpus(spark, 50000)
    val W = 50000
    val merges = 1024
    // built ONCE and shared by all three x1/x4 row families below — a
    // per-loop rebuild would checkpoint three abandoned copies of the
    // 4x corpus and pin their blocks for the rest of the run
    val corpusBy = Map(1 -> base, 4 -> replicateWide(spark, base, 4))
    var wideModel: graft.pipeline.Bpe.Model = null
    Seq(1, 4).foreach { mult =>
      val docs = corpusBy(mult)
      val t0 = System.nanoTime()
      val m = graft.pipeline.Bpe.train(docs, merges)
      if (mult == 1) wideModel = m
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[rehearsal] bpewide train x$mult corpus ($W-word vocab): " +
        f"$secs%.1fs merges=${m.merges.size} " +
        f"driverRounds=${m.driverRounds} " +
        f"avgBatch=${m.merges.size.toDouble / m.driverRounds}%.1f " +
        f"perMerge=${secs / m.merges.size}%.4fs")
    }
    // the ENCODE surface at production merge count: tokenizeStream's
    // greedy kernel has a constant-size plan and per-word cost
    // independent of merges, so the 1,024-merge model must stream-encode
    // in the same cost family as a 20-merge one (the per-merge fold
    // chain it replaced could not even pass Catalyst analysis at this
    // depth). x1 vs x4 pins corpus-linearity.
    Seq(1, 4).foreach { mult =>
      val docs = corpusBy(mult)
      val t0 = System.nanoTime()
      val toks = graft.streaming.EventStreams
        .tokenizeStream(docs, wideModel.merges)
        .agg(org.apache.spark.sql.functions.sum(col("n_bpe_tokens")))
        .head().getLong(0)
      println(f"[rehearsal] bpewide tokenizeStream x$mult " +
        f"(1024-merge model): ${(System.nanoTime() - t0) / 1e9}%.1fs " +
        f"bpeTokens=$toks")
    }
    // unigram-LM at WIDE vocabulary (the t21 rehearsal varies corpus
    // size only; here the VOCAB-sized steps grow): seedSize 8192 over
    // the 50k-word corpus — per-EM-round cost and the driver-side
    // leave-one-out prune must stay interactive, and x4 corpus must not
    // move the per-round cost (every E-step is word-table-sized)
    Seq(1, 4).foreach { mult =>
      val docs = corpusBy(mult)
      val iters = 3
      val t0 = System.nanoTime()
      val um = graft.pipeline.Unigram.train(docs, iters,
        seedSize = 8192, maxPieceLen = 6)
      val tTrain = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val pruned = graft.pipeline.Unigram.prune(docs, um, 4096)
      val tPrune = (System.nanoTime() - t1) / 1e9
      println(f"[rehearsal] bpewide unigram x$mult (seed 8192): " +
        f"train $tTrain%.1fs (${tTrain / iters}%.1fs/round, " +
        f"${um.pieces.size} pieces) " +
        f"prune->4096 $tPrune%.1fs (${pruned.pieces.size} pieces)")
    }
  }

  /** SPARK_GRAFT_REHEARSAL_ONLY=<substring> runs only the rows whose
    * label contains it — re-measuring one operator's curve at several
    * scales without paying for the whole family. */
  private val onlyRow = sys.env.get("SPARK_GRAFT_REHEARSAL_ONLY")

  private def time(label: String)(f: => Long): Unit =
    if (onlyRow.forall(label.contains)) {
      val t0 = System.nanoTime()
      val rows = f
      println(
        f"[rehearsal] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$rows")
    }

  /** g07/g08-shaped mutation curves: bulk entity upsert (build + idempotent
    * re-add) and bulk file/entity/edge build + cascading delete, on k×
    * replicas of orders/lineitem (keys offset per replica). Exercises the
    * InternalRow ID-assignment path at growing batch sizes. */
  private def graphFamily(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, k: Int): Unit = {
    import spark.implicits._
    val n = 10000000L
    val orders = Tables.orders(spark, sfDir)
      .crossJoin(spark.range(k).toDF("rep"))
      .select(($"o_orderkey" + $"rep" * n).as("o_orderkey"), $"o_orderstatus")
      .repartition(32).localCheckpoint(true)
    val li = Tables.lineitem(spark, sfDir)
      .crossJoin(spark.range(k).toDF("rep"))
      .select(($"l_orderkey" + $"rep" * n).as("l_orderkey"), $"l_linenumber")
      .repartition(32).localCheckpoint(true)

    time(s"g07-shaped bulk upsert (build + idempotent re-add) x$k") {
      val ents = orders.select(lit("Document").as("label"),
        concat(lit("o"), $"o_orderkey").as("name"),
        $"o_orderstatus".as("path"),
        $"o_orderkey".cast("long").as("src_start"),
        lit(0L).as("src_end"), lit("").as("doc"),
        map().cast("map<string,string>").as("props"))
      val g = new CodeGraph(spark, s"rehearsal_g07_$k")
      g.addEntities(ents)
      g.addEntities(ents) // second pass must create nothing
      g.graph.nodes.count()
    }
    time(s"g08-shaped bulk build + cascade delete x$k") {
      val g = new CodeGraph(spark, s"rehearsal_g08_$k")
      val files = orders.select(lit("orders").as("path"),
        $"o_orderkey".cast("string").as("name"), lit(".ord").as("ext"))
      val fileIds = g.addFiles(files).result
        .select($"id".as("file_id"), $"name".as("okey"))
      val ents = li.select(lit("Function").as("label"),
        concat($"l_orderkey", lit("#"), $"l_linenumber").as("name"),
        $"l_orderkey".cast("string").as("path"),
        $"l_linenumber".cast("long").as("src_start"),
        $"l_linenumber".cast("long").as("src_end"),
        lit("").as("doc"), map().cast("map<string,string>").as("props"))
      val entIds = g.addEntities(ents).result
        .select($"id".as("ent_id"), $"path".as("okey"))
      g.connectEntities(fileIds.join(entIds, "okey")
        .select($"file_id".as("src"), $"ent_id".as("dst"),
          lit("DEFINES").as("type"),
          map().cast("map<string,string>").as("props")))
      g.checkpointNow()
      val victims = orders.filter($"o_orderstatus" === "F")
        .select(lit("orders").as("path"),
          $"o_orderkey".cast("string").as("name"), lit(".ord").as("ext"))
      Mutations.deleteFiles(g.graph, victims).graph.nodes.count()
    }
    // BFS: frontier-proportional shuffles — seeds scale k-fold over the
    // UNREPLICATED graph, so round count stays fixed (graph diameter) and
    // cost must track reachable-set size, not seed count x graph size
    time(s"g11-shaped BFS from ${100 * k} seeds") {
      val g = graft.queries.TpchGraph.buildUncached(spark, sfDir)
      val seeds = spark.range(100L * k).toDF("id")
      graft.graph.GraphAlgorithms.bfsDistances(g.edges, seeds).count()
    }
    // k-core: per-round cost is degree-agg + survivor semi-joins over the
    // ALIVE edge set — replicated edges (k disjoint copies of the graph)
    // must peel in the same round count at k-fold the per-round volume
    time(s"g12-shaped k-core peel over $k disjoint graph copies") {
      val e0 = graft.queries.TpchGraph.buildUncached(spark, sfDir).edges
        .select($"src", $"dst")
      val e = e0.crossJoin(spark.range(k).toDF("rep"))
        .select(($"src" + $"rep" * n).as("src"),
          ($"dst" + $"rep" * n).as("dst"))
      graft.graph.GraphAlgorithms.kCorePeel(e, 4, 4).count()
    }
    // triangles: k disjoint copies triple-check both the curve AND the
    // answer — the count must be EXACTLY k x the base count (built-in
    // linearity oracle). Adjacency-intersection closing: per-edge work is
    // degree-capped, so wall time must track edge count, not a hot apex.
    val repEdges = {
      val e0 = graft.queries.TpchGraph.buildUncached(spark, sfDir).edges
        .select($"src", $"dst")
      e0.crossJoin(spark.range(k).toDF("rep"))
        .select(($"src" + $"rep" * n).as("src"),
          ($"dst" + $"rep" * n).as("dst"))
        .repartition(32).localCheckpoint(true)
    }
    time(s"g09-shaped triangle count over $k disjoint graph copies") {
      val t = graft.graph.GraphAlgorithms
        .triangleCount(repEdges, "src", "dst").head().getLong(0)
      println(s"[rehearsal]   triangles=$t (must be k x base)")
      t
    }
    // PageRank: 10 iterations of join + grouped sum over the replicated
    // edge set — per-iteration cost must scale with edges, round count
    // fixed by construction
    time(s"g10-shaped PageRank (10 iters) over $k disjoint graph copies") {
      graft.graph.GraphAlgorithms.pageRankFixed(repEdges).count()
    }
    // LPA: k disjoint copies carry a built-in linearity oracle like the
    // triangle one — each replica's community structure is the base
    // graph's shifted by the id offset, so the community COUNT must be
    // exactly k x base (and per-round cost must track edges)
    time(s"g13-shaped label propagation (3 rounds) over $k disjoint copies") {
      val nComm = graft.graph.GraphAlgorithms.labelPropagation(repEdges, 3)
        .select(col("lbl")).distinct().count()
      println(s"[rehearsal]   communities=$nComm (must be k x base)")
      nComm
    }
    // WCC: k disjoint copies carry the same built-in linearity oracle as
    // triangles/LPA — the component count must be EXACTLY k x base (one
    // giant component per replica of the full graph), and the star
    // contraction's per-round cost must track the alive edge set. The
    // replicated edge count also clears connectedComponents' bounded
    // local fast path, so this measures the DISTRIBUTED contraction.
    time(s"g14-shaped connected components over $k disjoint copies") {
      val nComp = Dedup.connectedComponents(
          repEdges.select($"src".as("id_a"), $"dst".as("id_b")))
        .select(col("cluster_id")).distinct().count()
      println(s"[rehearsal]   components=$nComp (must be k x base)")
      nComp
    }
  }

  private def pipelineFamily(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, k: Int, replicateDocs: Int => DataFrame,
      replicateEmb: Int => DataFrame): Unit = {
    val docs = replicateDocs(k)
    val emb = replicateEmb(math.min(k, 4))

    time(s"t01 token stats x$k") {
      docs.select(TextAnalysis.tokenCount(col("text")).as("n")).agg(sum("n"))
        .head(); docs.count()
    }
    time(s"t03 lang id x$k") {
      docs.withColumn("toks", TextAnalysis.tokens(col("text")))
        .withColumn("pred", TextAnalysis.langIdOf(col("toks")))
        .groupBy("pred").count().count()
    }
    time(s"t05 vocab x$k") {
      docs.select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("tok").count().count()
    }
    time(s"d01 exact dedup x$k") { Dedup.exactDedup(docs).count() }
    time(s"t04 fingerprints x$k") {
      docs.select(TextAnalysis.fingerprint(col("text")).as("fp"))
        .agg(countDistinct("fp")).head(); docs.count()
    }
    time(s"d05 simhash pairs (hamming<=1) x$k") {
      Dedup.simhashPairs(docs, 1).count()
    }
    time(s"d07 components over simhash pairs x$k") {
      Dedup.connectedComponents(Dedup.simhashPairs(docs, 1)).count()
    }
    val m = math.min(k, 4)
    time(s"d06 bucketed embedding near-dup x$m") {
      Dedup.embeddingNearDupPairsBucketed(emb, 0.4).count()
    }
    time(s"s01 brute top-k over x$m corpus") {
      Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 8), emb, 5).count()
    }
    // word-gram kernel family: explode-heavy ops whose cost is corpus
    // tokens (d08's benchmark side stays the UNREPLICATED 10% — the
    // realistic shape: eval suites do not grow with the training corpus)
    val bench = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 === 0)
    time(s"d08 decontamination x$k train vs 1x benchmark") {
      TextAnalysis.contaminatedDocs(docs, bench, 5).count()
    }
    time(s"d09 span coverage x$k") {
      Dedup.duplicatedSpanCoverage(docs, 8).count()
    }
    time(s"t09 repetition stats x$k") {
      TextAnalysis.repetitionStats(docs, 2).count()
    }
    time(s"t13 bigram-LM score x$k") {
      TextAnalysis.bigramLmScore(docs).count()
    }
    // corpus-level line dedup (t35): one explode + a line-count groupBy
    // + the droplist join back — must track corpus LINES; the replica
    // suffix makes every original text line unique per replica while
    // the planted banner repeats k·corpus-wide (the realistic mix)
    time(s"t35 line dedup x$k") {
      TextAnalysis.lineDedup(docs.select(col("doc_id"),
        concat(lit("SUBSCRIBE banner\n"), col("text")).as("text"))).count()
    }
    // order-5 Kneser-Ney (t33): the checkpoint-heaviest operator — the
    // occurrence table (id, pos, w1..w5) plus the statistic cascade all
    // pin to executor disk, so this row is the corpus-LINEARITY proof
    // for the eager-materialization posture (the replica suffix token
    // widens the type tables too, the realistic direction)
    time(s"t33 order-5 KN score x$k") {
      TextAnalysis.knNGramScore(docs, 5, nCol = "n_5grams",
        avgCol = "avg_kn5_logprob").count()
    }
    // adversarial near-dup density: every original doc gains k-1 suffix-
    // perturbed variants, so near-dup clusters of size ~k stress the band
    // join's candidate generation and the component contraction at once
    time(s"d10 end-to-end keep-list x$k") {
      Dedup.dedupKeepList(docs).filter(col("is_kept")).count()
    }
    // the exact companion: same adversarial density through the
    // prefix-filtered inverted index instead of banded LSH
    time(s"d11 exact word-jaccard pairs x$k") {
      Dedup.jaccardPairsWords(docs, 5, 0.8).count()
    }
    // the lean two-stage near-dup's batch leg (st13): band candidates
    // from id-only groups, pair dedup, two gram joins — must sit in the
    // d10 cost family (output-linear in the near-dup density, never
    // corpus-quadratic), since the same plan is the streaming topology
    time(s"st13 lean two-stage near-dup (batch leg) x$k") {
      graft.streaming.EventStreams.nearDupPairsStreamLean(docs).count()
    }
    // CDC: map-side kernel + one hash groupBy — must track corpus bytes.
    // The suffix perturbation leaves every replica's chunk prefix shared,
    // so the duplicate-chunk table is ~base-corpus-sized at any k.
    time(s"d13 CDC dup chunks x$k") {
      Dedup.cdcDupChunks(docs, 8, 64).count()
    }
    // SemDeDup: within-cell pairwise — cost tracks sum(cell^2); replicas
    // multiply every cell k-fold, so this is the quadratic-pressure probe
    // (cells here = a synthetic 32-way id hash over the replicated emb)
    time(s"d14 semantic dedup x$m (32 hash cells)") {
      Similarity.semanticDedupSummary(
        emb.withColumn("label", pmod(xxhash64(col("vec_id")), lit(32))),
        0.4).count()
    }
    // same quadratic-pressure probe through the kNN-join shape: within-
    // cell top-k instead of threshold pairs (the s04 gate's scale path)
    time(s"s04 knn join within 32 hash cells x$m") {
      Similarity.knnJoinWithinCells(
        emb.withColumn("label", pmod(xxhash64(col("vec_id")), lit(32))),
        3).count()
    }
    // BM25: postings volume tracks corpus tokens, but only the 3 query
    // terms' postings cross the tf shuffle — must scale like the flat
    // map-side family, not like span coverage
    time(s"t15 bm25 top-20 x$k") {
      TextAnalysis.bm25TopK(docs, Seq("spark", "join", "window"), 20).count()
    }
    // PQ: training cost is FLAT (bounded driver sample), encode is one
    // map-side pass over the corpus (must scale linearly), the ADC probe
    // scans only the m-int code table — the memory-bounded ANN curve
    val mEmb = math.min(k, 4)
    val cb = Similarity.pqTrain(emb, 16, 64, iters = 4)
    time(s"s08 pq encode x$mEmb") {
      Similarity.pqEncode(emb, cb).count()
    }
    time(s"s08 pq ADC top-5 (8 queries, rerank 8) x$mEmb") {
      Similarity.pqTopK(emb.filter(col("vec_id") < 8),
        Similarity.pqEncode(emb, cb), emb, cb, 5, 8).count()
    }
    // exact-substring dedup: the corpus-position explode is the dominant
    // cost (one row per character), so wall time must track corpus CHARS;
    // the suffix-perturbed replicas duplicate every original's text body,
    // so flagged spans grow ~k-fold with the corpus — output-linear
    time(s"d16 exact-substring spans x$k") {
      Dedup.exactSubstrSpans(docs, 40).count()
    }
    // span REMOVAL (the d18 back half): the splice is one codegen'd fold
    // linear in doc chars, the span side broadcasts under the LimitProbe
    // guard — wall time must track corpus chars like d16's explode, never
    // shuffle the corpus. The spans are pinned and MATERIALIZED outside
    // the clock (an eager checkpoint charged to neither row) so both rows
    // measure only the splice; forcing the count of changed docs
    // evaluates every clean string.
    val d18Labels = Seq(s"d18 span removal (broadcast splice) x$k",
      s"d18 span removal (shuffled fallback) x$k")
    if (d18Labels.exists(l => onlyRow.forall(l.contains))) {
      val spans = Dedup.exactSubstrSpans(docs, 40).localCheckpoint(true)
      time(d18Labels.head) {
        Dedup.removeSpans(docs, spans)
          .filter(length(col("clean")) < length(col("t"))).count()
      }
      // the same splice through the probe's SHUFFLED fallback (the path a
      // span side too large to broadcast takes) — must stay in the same
      // cost family: one equi-join on doc_id instead of the broadcast
      time(d18Labels(1)) {
        Dedup.removeSpans(docs, spans, broadcastDocLimit = 1L)
          .filter(length(col("clean")) < length(col("t"))).count()
      }
    }
    // BPE training must be CORPUS-SIZE-FLAT after the one word-count
    // shuffle: the per-round pair work is vocabulary-sized, and the
    // replica-suffix tokens only add k distinct words to the vocab —
    // the curve that makes distributed BPE viable at 100 TB
    time(s"t16 BPE train (20 merges) x$k corpus") {
      graft.pipeline.Bpe.train(docs, 20).vocab.count()
    }
    // encode dictionary-join family: the guarded broadcast path and the
    // FORCED shuffled fallback (the path a 10⁸–10⁹-row web-scale
    // distinct-word table takes — the probe limit 0 trips the guard
    // without a probe job) must sit in the same corpus-token-linear cost
    // family: one explode + one equi-join either way, the corpus never
    // collects anywhere
    val t17Labels = Seq(s"t17 encode (broadcast dict) x$k",
      s"t17 encode (forced shuffled-fallback dict) x$k")
    if (t17Labels.exists(l => onlyRow.forall(l.contains))) {
      val encModel = graft.pipeline.Bpe.train(docs, 20)
      time(t17Labels.head) {
        graft.pipeline.Bpe.encodeTokenCounts(docs, encModel).count()
      }
      time(t17Labels(1)) {
        graft.pipeline.Bpe.encodeTokenCounts(docs, encModel,
          dictBroadcastLimit = 0L).count()
      }
    }
    // DEEP batched train (the t20 shape): total time / merges must stay
    // flat in corpus size, and the batched driver loop must need FEWER
    // rounds than merges — the two numbers that make a 32k-vocab
    // production train viable (≈ numMerges/avgBatch vocabulary-sized
    // rounds, zero corpus passes after the word count)
    if (onlyRow.forall(s"t20 BPE deep train x$k".contains)) {
      val t0 = System.nanoTime()
      val m = graft.pipeline.Bpe.train(docs, 85)
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[rehearsal] t20 BPE deep train x$k: $secs%.2fs " +
        f"merges=${m.merges.size} driverRounds=${m.driverRounds} " +
        f"perMerge=${secs / m.merges.size}%.3fs")
    }
    // unigram-LM hard-EM (the t21 shape): after the one word-count
    // shuffle every E-step is a map-side Viterbi over the WORD table +
    // one vocabulary-sized groupBy — must be corpus-size-flat like the
    // BPE rows (the replica suffixes add k distinct words to the vocab)
    time(s"t21 unigram train (3 EM rounds) x$k") {
      graft.pipeline.Unigram.train(docs, 3, 512, 6).pieces.size.toLong
    }
    // per-language rank (the q32 shape): groupRankAsc's two-pass scan
    // must scale with ROWS ACROSS ALL CORES — the window form it
    // replaced serial-sorts each whole language on one task, so its
    // per-row cost would grow with the biggest language's share
    time(s"q32 per-language two-pass rank x$k") {
      graft.pipeline.Packing
        .groupRankAsc(docs.select(col("lang"), col("doc_id")),
          "lang", "doc_id").count()
    }
    // NB classifier: counting-trained — one explode + two partial-agg
    // shuffles, so train+score must scale with corpus tokens (the same
    // family as t01/t05), never with label or feature cardinality
    time(s"q30 NB classifier train+score x$k") {
      graft.pipeline.QualityClassifier.nbTrainScore(docs,
        label = when(col("lang") === "en", 1).otherwise(0),
        isTrain = pmod(col("doc_id"), lit(2)) === 0).count()
    }
  }
}
