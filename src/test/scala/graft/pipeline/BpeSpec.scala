package graft.pipeline

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** BPE tokenizer: merge-fold semantics, distributed training vs a plain
  * driver-side reference trainer, and encode path equivalences. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Plain single-threaded BPE trainer (the Sennrich et al. 2016 reference
    * algorithm, verbatim over a word-count map) — the independent oracle
    * the distributed trainer must match merge-for-merge. */
  private def referenceTrain(wordCounts: Map[String, Long], numMerges: Int)
      : (Seq[(String, String, Long)], Map[String, Vector[String]]) = {
    var vocab: Map[String, (Long, Vector[String])] =
      wordCounts.map { case (w, c) => w -> (c, w.map(_.toString).toVector) }
    val merges = Seq.newBuilder[(String, String, Long)]
    var k = 0
    var done = false
    while (k < numMerges && !done) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.values.foreach { case (c, syms) =>
        syms.sliding(2).foreach {
          case Vector(a, b) => pairs((a, b)) = pairs.getOrElse((a, b), 0L) + c
          case _ =>
        }
      }
      if (pairs.isEmpty) done = true
      else {
        val ((l, r), c) = pairs.minBy { case ((a, b), n) => (-n, a, b) }
        merges += ((l, r, c))
        vocab = vocab.map { case (w, (cnt, syms)) =>
          val out = Vector.newBuilder[String]
          var last: Option[String] = None
          syms.foreach { x =>
            if (last.contains(l) && x == r) { out += (l + r); last = None }
            else { last.foreach(out += _); last = Some(x) }
          }
          last.foreach(out += _)
          // clearing `last` after a merge = greedy non-overlapping pass:
          // the merged token can never left-merge with the same pair
          // anyway (l+r is strictly longer than l), so one symbol of
          // lookbehind is exactly the engine's fold semantics
          w -> (cnt, out.result())
        }
        k += 1
      }
    }
    (merges.result(), vocab.map { case (w, (_, s)) => w -> s })
  }

  test("merge fold is greedy left-to-right, non-overlapping") {
    val df = Seq(
      ("aaaa", Seq("a", "a", "a", "a")),
      ("aaa", Seq("a", "a", "a")),
      ("a", Seq("a")),
      ("ab", Seq("a", "b"))).toDF("w", "syms")
    val out = df.select($"w",
      Bpe.applyMergeFold($"syms", lit("a"), lit("a")).as("m"))
      .as[(String, Seq[String])].collect().toMap
    assert(out("aaaa") == Seq("aa", "aa"))
    assert(out("aaa") == Seq("aa", "a"))
    assert(out("a") == Seq("a"))
    assert(out("ab") == Seq("a", "b"))
  }

  test("native merge-pass kernel == applyMergeMapFold, element for " +
    "element, batches/astral/empties included (round-16 optimization pin)") {
    // a symbol-disjoint batch (the trainer's shape) plus hostile inputs:
    // astral symbols, repeated-symbol runs, singletons, empty arrays
    val batch = map_from_arrays(
      array(lit("1:ab"), lit("1:😀𠀀"), lit("2:xyz")),
      array(lit("ab"), lit("😀𠀀"), lit("xyz")))
    val df = Seq(
      Seq("a", "b", "c", "a", "b"),
      Seq("😀", "𠀀", "😀", "𠀀", "a", "b"),
      Seq("xy", "z", "xy", "z", "xy"),
      Seq("a"), Seq.empty[String],
      Seq("a", "a", "a", "b")).toDF("syms")
    val both = df.select(
      graft.functions.BpeMergePass.of($"syms", batch).as("fused"),
      Bpe.applyMergeMapFold($"syms", batch).as("composable"))
    assert(both.filter(!($"fused" <=> $"composable")).isEmpty,
      "native merge pass diverged from the HOF fold")
  }

  test("native merge-pass kernel skips leading-zero keys like the fold " +
    "and re-reads a reused non-unsafe map") {
    // "02:abc" is no key the probe side can build: it must neither merge
    // nor shadow the canonical "2:abc" that follows it
    val zeroed = map_from_arrays(array(lit("02:abc"), lit("2:abc")),
      array(lit("WRONG"), lit("abc")))
    val lone = map_from_arrays(array(lit("02:abc")), array(lit("WRONG")))
    val df = Seq(Seq("ab", "c"), Seq("x", "ab", "c")).toDF("syms")
    Seq(zeroed, lone).foreach { m =>
      val both = df.select(
        graft.functions.BpeMergePass.of($"syms", m).as("fused"),
        Bpe.applyMergeMapFold($"syms", m).as("composable"))
      assert(both.filter(!($"fused" <=> $"composable")).isEmpty,
        "native merge pass diverged from the HOF fold on a leading zero")
    }
    // a caller that reuses one non-unsafe MapData instance across rows
    // must get the merges of its CURRENT contents
    import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData,
      GenericArrayData}
    import org.apache.spark.unsafe.types.UTF8String.fromString
    val vals = new GenericArrayData(Array[Any](fromString("ab")))
    val m = new ArrayBasedMapData(
      new GenericArrayData(Array[Any](fromString("1:ab"))), vals)
    val syms = new GenericArrayData(Array[Any](fromString("a"),
      fromString("b")))
    def merged(): String = graft.functions.BpeMergePass.compute(syms, m)
      .getUTF8String(0).toString
    assert(merged() == "ab")
    vals.update(0, fromString("AB"))
    assert(merged() == "AB", "served a stale index for a reused map")
  }

  test("merged token chains: (a,b)->ab then (ab,c)->abc") {
    val df = Seq(Seq("a", "b", "c", "a", "b")).toDF("syms")
    val once = df.select(
      Bpe.applyMergeFold($"syms", lit("a"), lit("b")).as("syms"))
    val twice = once.select(
      Bpe.applyMergeFold($"syms", lit("ab"), lit("c")).as("syms"))
    assert(twice.as[Seq[String]].head() == Seq("abc", "ab"))
  }

  test("distributed train matches the reference trainer merge-for-merge") {
    val corpus = Seq(
      "low low low low low",
      "lower lower newer newer newer newer",
      "newest newest newest widest widest",
      "low lower newest")
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val model = Bpe.train(docs, numMerges = 12)
    val wc = corpus.flatMap(_.split("\\s+")).groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    val (refMerges, refVocab) = referenceTrain(wc, 12)
    assert(model.merges.map(m => (m.lhs, m.rhs, m.freq)) == refMerges)
    val vocab = model.vocab.select($"word", $"syms")
      .as[(String, Seq[String])].collect().toMap
    refVocab.foreach { case (w, syms) =>
      assert(vocab(w) == syms, s"vocab mismatch for '$w'")
    }
  }

  test("batched merge rounds equal sequential training to exhaustion on " +
    "a tie/collision-heavy corpus") {
    // words engineered so merged symbols COLLIDE with existing words
    // ('a'+'b' -> "ab" which is itself a word / prefix everywhere), plus
    // heavy frequency ties — the two traps the batch rule must stop on
    val vocab = Seq("ab", "aab", "abab", "banana", "bandana", "cabbage",
      "abcabc", "xxyy", "xyxy", "zzz", "aa", "bb")
    val text = vocab.zipWithIndex
      .flatMap { case (w, i) => Seq.fill(10 + i % 3)(w) }.mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    // far past exhaustion: both paths must stop at the same merge list
    val seq_ = Bpe.train(docs, numMerges = 500, maxBatch = 1)
    val bat = Bpe.train(docs, numMerges = 500, maxBatch = 64)
    assert(bat.merges == seq_.merges,
      s"batched merges diverge from sequential:\n${bat.merges}\nvs\n" +
        s"${seq_.merges}")
    assert(seq_.merges.nonEmpty && seq_.merges.size < 500,
      "fixture must exhaust before the merge budget")
    // end state identical too
    val va = seq_.vocab.select($"word", $"syms")
      .as[(String, Seq[String])].collect().toMap
    val vb = bat.vocab.select($"word", $"syms")
      .as[(String, Seq[String])].collect().toMap
    assert(va == vb)
    // and the reference trainer agrees end-to-end
    val wc = text.split("\\s+").groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    val (refMerges, _) = referenceTrain(wc, 500)
    assert(seq_.merges.map(m => (m.lhs, m.rhs, m.freq)) == refMerges)
  }

  test("the deep gate model (t20) matches sequential training on the " +
    "gate corpus") {
    val docs = graft.util.Tables.documents(spark, sfTiny)
    val deep = graft.queries.PipelineQueries.bpeDeepShared(spark, sfTiny)
    val seq_ = Bpe.train(docs, numMerges = deep.merges.size, maxBatch = 1)
    assert(deep.merges == seq_.merges,
      "batched deep train diverges from the sequential merge sequence")
  }

  test("a self-pair closes the batch: runs of repeated symbols cannot " +
    "out-argmax a later member (the (a,a)->(aa,a) trap)") {
    // merging (a,a) over 'aaa' creates (aa,a) with freq 10 — bounded by
    // the SELF-pair's own frequency, so it must beat (x,y,3) at rank 2;
    // an unclosed batch would have emitted (x,y) second (measured
    // divergence before the close rule)
    val docs = Seq((1L, Seq.fill(10)("aaa").mkString(" ") + " " +
      Seq.fill(3)("xy").mkString(" "))).toDF("doc_id", "text")
    val bat = Bpe.train(docs, numMerges = 3, maxBatch = 64)
    val seq_ = Bpe.train(docs, numMerges = 3, maxBatch = 1)
    assert(bat.merges == seq_.merges,
      s"self-pair batch divergence:\n${bat.merges}\nvs\n${seq_.merges}")
    assert(bat.merges.map(m => (m.lhs, m.rhs, m.freq)).take(2) ==
      Seq(("a", "a", 20L), ("aa", "a", 10L)))
  }

  test("single-partition argmax fast path equals the groupBy path, " +
    "unicode byte order included") {
    // symbols beyond the BMP (surrogate pairs) pin the UTF-8 byte order:
    // Scala's default String ordering would sort these differently
    val words = Seq(("za", 5L), ("zb", 5L), ("zé", 5L),
      ("z😀x", 5L), ("abab", 3L), ("baba", 3L), ("aaaa", 7L))
      .toDF("word", "cnt")
      .withColumn("syms", filter(split($"word", ""), c => c =!= ""))
    val fast = Bpe.topPairsSinglePartition(words.repartition(1), 50).toSeq
    val viaGroupBy = words.repartition(5)
      .select($"cnt", $"syms",
        explode(when(size($"syms") >= 2, sequence(lit(1), size($"syms") - 1))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(element_at($"syms", $"i").as("lhs"),
        element_at($"syms", $"i" + 1).as("rhs"), $"cnt")
      .groupBy($"lhs", $"rhs").agg(sum($"cnt").as("freq"))
      .orderBy($"freq".desc, $"lhs", $"rhs")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq
    assert(fast == viaGroupBy,
      s"argmax paths diverge:\nfast    =$fast\ngroupBy =$viaGroupBy")
  }

  test("trained vocab round-trips: symbols concatenate back to the word") {
    val model = graft.queries.PipelineQueries.bpeShared(spark, sfTiny)
    val bad = model.vocab
      .filter(concat_ws("", $"syms") =!= $"word")
    assert(bad.count() == 0, "a vocab row's symbols do not rebuild its word")
    assert(model.merges.size == 20)
    // ranks are 1..20 and frequencies are the argmax of their round —
    // monotonicity is NOT required (later merges can beat earlier counts
    // only if ties were broken), but every freq must be >= 1
    assert(model.merges.map(_.rank) == (1 to 20))
    assert(model.merges.forall(_.freq >= 1L))
  }

  test("model persists and reloads: merges verbatim, vocab set-equal, " +
    "encode counts identical") {
    val model = graft.queries.PipelineQueries.bpeShared(spark, sfTiny)
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe").toString
    Bpe.writeModel(spark, model, dir)
    val back = Bpe.readModel(spark, dir)
    assert(back.merges == model.merges, "merge list changed on reload")
    val a = back.vocab.select($"word", $"syms")
      .as[(String, Seq[String])].collect().toMap
    val b = model.vocab.select($"word", $"syms")
      .as[(String, Seq[String])].collect().toMap
    assert(a == b, "vocab changed on reload")
    val docs = graft.util.Tables.documents(spark, sfTiny)
    val c1 = Bpe.encodeTokenCounts(docs, back)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val c2 = Bpe.encodeTokenCounts(docs, model)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(c1 == c2, "reloaded model encodes differently")
  }

  test("encodeWord fold path equals the trained vocab join path") {
    val model = graft.queries.PipelineQueries.bpeShared(spark, sfTiny)
    val mismatched = model.vocab
      .withColumn("folded", Bpe.encodeWord($"word", model.merges))
      .filter($"folded" =!= $"syms")
    assert(mismatched.count() == 0,
      "per-word fold encoding diverges from the trained vocabulary")
  }

  test("token streams are the in-order concatenation of each word's " +
    "fold encoding, and their lengths equal the count path") {
    val docs = Seq(
      (1L, "ab ab cd"), (2L, "  cd  ab "), // whitespace artifacts
      (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val model = Bpe.train(docs, 2)
    val got = Bpe.tokenStreams(docs, model)
      .as[(Long, Seq[String])].collect().toMap
    // independent per-doc reference: fold-encode each word in order
    def enc(ws: Seq[String]): Seq[String] = {
      val byWord = docs.sparkSession.range(1)
        .select(ws.map(w => Bpe.encodeWord(lit(w), model.merges)): _*)
        .head()
      ws.indices.flatMap(i => byWord.getSeq[String](i))
    }
    assert(got == Map(
      1L -> enc(Seq("ab", "ab", "cd")),
      2L -> enc(Seq("cd", "ab"))))
    // the stream length IS the count path's token count per doc
    val counts = Bpe.encodeTokenCounts(docs, model)
      .as[(Long, Long, Long)].collect()
      .map { case (id, _, n) => (id, n) }.toMap
    assert(got.map { case (id, s) => (id, s.size.toLong) } == counts)
  }

  test("greedy merge-priority encoder equals the rank-order fold on the " +
    "gate model, in and out of vocabulary") {
    val model = graft.queries.PipelineQueries.bpeShared(spark, sfTiny)
    val ranks = Bpe.rankMap(model.merges)
    val vocabWords = model.vocab.select($"word").as[String].collect().toSeq
    // planted novel words: reversals, cross-word concatenations, unseen
    // characters — the OOV shapes the greedy kernel must agree on
    val novel = vocabWords.take(8).map(_.reverse) ++
      vocabWords.take(8).zip(vocabWords.drop(1).take(8))
        .map { case (a, b) => a + b } ++
      Seq("zzzq", "qqq", "a")
    val words = (vocabWords ++ novel).distinct.filter(_.nonEmpty)
    val folded = spark.range(1)
      .select(words.map(w => Bpe.encodeWord(lit(w), model.merges)): _*)
      .head()
    words.indices.foreach { i =>
      assert(Bpe.encodeWordGreedy(words(i), ranks).toSeq ==
        folded.getSeq[String](i),
        s"greedy != rank-order fold on '${words(i)}'")
    }
  }

  test("greedy encoder equals the rank-order fold on randomized trained " +
    "models over arbitrary probe words (collision-free vocabularies)") {
    val rnd = new scala.util.Random(12345)
    // driver-side rank-order fold: one greedy left-to-right
    // non-overlapping pass per merge, in rank order — encodeWord's
    // semantics without a Spark plan
    def foldEncode(w: String, merges: Seq[(String, String)])
        : Vector[String] = {
      var syms = w.map(_.toString).toVector
      merges.foreach { case (l, r) =>
        val out = Vector.newBuilder[String]
        var last: Option[String] = None
        syms.foreach { x =>
          if (last.contains(l) && x == r) { out += (l + r); last = None }
          else { last.foreach(out += _); last = Some(x) }
        }
        last.foreach(out += _)
        syms = out.result()
      }
      syms
    }
    val alpha = "abc"
    var cases = 0
    while (cases < 40) {
      val wc = (0 until 5 + rnd.nextInt(8)).map { _ =>
        (Seq.fill(1 + rnd.nextInt(7))(alpha(rnd.nextInt(3))).mkString,
          1L + rnd.nextInt(9))
      }.groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2).sum }
      val (merges, _) = referenceTrain(wc, 6)
      // skip vocabularies where a merge's concatenation string-collides
      // with an existing symbol — the one case where priority order and
      // rank order may legitimately diverge (documented on
      // encodeWordGreedy); real trained vocabularies are collision-free
      val symbols =
        scala.collection.mutable.HashSet[String]() ++ alpha.map(_.toString)
      val collision = merges.exists { case (l, r, _) =>
        val dup = symbols(l + r); symbols += (l + r); dup
      }
      if (!collision && merges.nonEmpty) {
        cases += 1
        val ranks = merges.zipWithIndex
          .map { case ((l, r, _), i) => ((l, r), i + 1) }.toMap
        (0 until 12).foreach { _ =>
          val w = Seq.fill(1 + rnd.nextInt(8))(alpha(rnd.nextInt(3)))
            .mkString // arbitrary, usually out-of-vocabulary
          assert(Bpe.encodeWordGreedy(w, ranks).toVector ==
            foldEncode(w, merges.map(m => (m._1, m._2))),
            s"greedy != fold on '$w' under merges $merges")
        }
      }
    }
  }

  test("batch OOV leg: encodeTokenCounts is total and equals the " +
    "streaming greedy path on planted novel words") {
    val train = Seq((1L, "ab ab ab cd cd ee ab cd")).toDF("doc_id", "text")
    val model = Bpe.train(train, 2)
    val enc = Seq(
      (1L, "ab cd"), // all known
      (2L, "ba dcba ab"), // two novel words + one known
      (3L, "xy"), // entirely unseen characters
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val batch = Bpe.encodeTokenCounts(enc, model)
      .orderBy($"doc_id").as[(Long, Long, Long)].collect().toSeq
    val stream = graft.streaming.EventStreams.tokenizeStream(enc,
        model.merges)
      .orderBy($"doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(batch == stream, "batch encode diverges from the stream path")
    // n_words counts EVERY whitespace word — the total contract
    assert(batch.find(_._1 == 2L).get._2 == 3L)
    // token streams carry the greedy OOV symbols in order too
    val ranks = Bpe.rankMap(model.merges)
    val streams = Bpe.tokenStreams(enc, model)
      .as[(Long, Seq[String])].collect().toMap
    assert(streams(2L) ==
      (Bpe.encodeWordGreedy("ba", ranks) ++
        Bpe.encodeWordGreedy("dcba", ranks) ++
        Bpe.encodeWordGreedy("ab", ranks)).toSeq)
  }

  test("encode dictionary broadcasts only under the LimitProbe guard; " +
    "the forced shuffled fallback returns identical results") {
    val docs = Seq((1L, "ab ab cd cd ee ab"), (2L, "cd ee ab ab"))
      .toDF("doc_id", "text")
    val model = Bpe.train(docs, 2)
    val open = Bpe.encodeTokenCounts(docs, model)
    val tripped = Bpe.encodeTokenCounts(docs, model, dictBroadcastLimit = 0)
    assert(open.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "small dictionary lost its broadcast hint")
    assert(!tripped.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "oversized dictionary is still force-broadcast")
    assert(open.orderBy($"doc_id").collect().toSeq ==
      tripped.orderBy($"doc_id").collect().toSeq,
      "shuffled fallback diverges from the broadcast path")
    val openS = Bpe.tokenStreams(docs, model)
    val trippedS = Bpe.tokenStreams(docs, model, dictBroadcastLimit = 0)
    assert(!trippedS.queryExecution.analyzed.toString.contains("ResolvedHint"))
    assert(openS.orderBy($"doc_id").collect().toSeq ==
      trippedS.orderBy($"doc_id").collect().toSeq,
      "tokenStreams shuffled fallback diverges from the broadcast path")
  }
}
