package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.pipeline.{Dedup, Similarity, TextAnalysis}
import graft.util.{Resident, Tables}

/** Training-data pipeline operator surface (builder north star): dedup,
  * similarity search, text analysis — each as a driver-gate query with a
  * DuckDB oracle. Results that are not SQL-derivable (the IVF top-k's
  * cell assignment rests on engine-private hashes / centroid float sums)
  * are emitted as exact integer-invariant contracts instead (s02/s03 —
  * see annRecallSummary), so every query in the module hash-verifies.
  */
object PipelineQueries {

  // One resident d03 pair frame per (session, dir): d03 (the pair listing)
  // and d07 (components over the same pairs) are two gates over ONE
  // computation. Round 5 relied on CacheManager plan-matching for the
  // reuse and the bench's per-query storage sweep broke it silently
  // (d07 1.13 s → 5.88 s); this memo pins the reuse explicitly — same
  // DataFrame instance, so the cache hit is by construction, and
  // [[graft.util.Resident.reset]] is the sweep-side hook. Measured at
  // sf0.1: pairs compute ~3.3 s paid once by whichever gate runs first;
  // the other reads cached blocks.
  private val residentPairs = Resident.memo[DataFrame](unpersist)

  private[graft] def jaccardPairsShared(spark: SparkSession,
      d: String): DataFrame =
    residentPairs(spark, d) {
      val docs = Tables.documents(spark, d).filter(col("doc_id") < 300)
      Dedup.jaccardPairs(docs, 3, 0.8).cache()
    }

  private def unpersist(df: DataFrame): Unit =
    df.unpersist(blocking = false): Unit

  /** The BPE vocab is localCheckpoint-backed: a storage sweep kills its
    * blocks with NO lineage to recompute from, so a reset must drop the
    * model too (the next gate retrains). Free the checkpoint's RDD blocks
    * NOW rather than waiting for the ContextCleaner to GC the dropped
    * Model: localCheckpoint persistence is RDD-level, so
    * Dataset.unpersist (CacheManager-level) would not touch it —
    * unpersist the LogicalRDD's backing RDD directly. */
  private def dropVocab(m: graft.pipeline.Bpe.Model): Unit =
    m.vocab.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false): Unit
      case _ => ()
    }

  /** d16 (span statistics) and d18 (span application) are two gates over
    * ONE exact-substring span computation — the jaccardPairsShared
    * contract, applied to the corpus-dominant position shuffle. */
  private val residentSpans = Resident.memo[DataFrame](unpersist)

  private[graft] def exactSpansShared(spark: SparkSession,
      d: String): DataFrame =
    residentSpans(spark, d) {
      Dedup.exactSubstrSpans(Tables.documents(spark, d), minLen = 40).cache()
    }

  /** t16/t17 share one trained tokenizer per (session, dir): training is
    * driver-paced (one argmax collect per merge round), so the second gate
    * must reuse the first's model, not retrain. */
  private val residentBpe =
    Resident.memo[graft.pipeline.Bpe.Model](dropVocab)

  /** Merge-round count for the BPE gates — small enough that the corpus
    * never runs out of adjacent pairs (the unrolled oracle assumes every
    * round's argmax is non-empty), large enough that multi-step merge
    * interactions (merged symbols re-merging) are exercised. */
  private val BpeRounds = 20

  /** Merge depth for the DEEP train gate (t20): as close to pair
    * EXHAUSTION as the synthetic corpus permits. The testdata vocabulary
    * is 31 distinct words with 107 intra-word pair positions in total, so
    * word-level BPE exhausts after exactly 89 merges at every SF (same
    * generator, same end state — measured by exact simulation); a
    * literal 32k-merge production train is physically impossible here.
    * 85 leaves the oracle's non-empty-argmax assumption a margin while
    * still driving the batched merge loop ~4× past t16's depth. */
  private val BpeDeepRounds = 85

  private val residentBpeDeep =
    Resident.memo[graft.pipeline.Bpe.Model](dropVocab)

  private[graft] def bpeDeepShared(spark: SparkSession, d: String)
      : graft.pipeline.Bpe.Model =
    residentBpeDeep(spark, d) {
      val m = graft.pipeline.Bpe
        .train(Tables.documents(spark, d), BpeDeepRounds)
      require(m.merges.size == BpeDeepRounds,
        s"corpus exhausted adjacent pairs after ${m.merges.size} < " +
          s"$BpeDeepRounds merges — lower BpeDeepRounds")
      m
    }

  /** EM rounds / seed size / max piece length for the unigram-LM gates
    * (t21/t22): three full E/M rounds exercise seed → recount → prune →
    * re-score interactions (pieces the Viterbi abandons in round 1 must
    * stay gone; re-scored survivors shift later segmentations); 512
    * multi-char seed pieces genuinely binds on this corpus (~700
    * distinct substrings ≤ 6 chars), so the (count DESC, piece) seed cut
    * is exercised too. */
  private val UmIters = 3
  private val UmSeedSize = 512
  private val UmMaxPiece = 6

  /** Multi-piece budget for the t27 SentencePiece shrink step — about
    * half the t21 end-state's multi pieces, so the leave-one-out loss
    * ranking genuinely selects. */
  private val UmPruneTarget = 12

  /** t21/t22 share one trained unigram model per (session, dir) — the
    * model is pure driver data (piece/count/score triples), so unlike
    * the BPE memo there is no Spark-side state for a reset to free
    * (train drops its own word-table checkpoint blocks). */
  private val residentUnigram =
    Resident.memo[graft.pipeline.Unigram.Model](_ => ())

  private[graft] def unigramShared(spark: SparkSession, d: String)
      : graft.pipeline.Unigram.Model =
    residentUnigram(spark, d) {
      graft.pipeline.Unigram.train(Tables.documents(spark, d),
        UmIters, UmSeedSize, UmMaxPiece)
    }

  /** t30's alphabet-gap model: trained ONLY on documents without the
    * letter 'q', so encoding the full corpus exercises the char
    * fallback. Same driver-data memo posture as [[unigramShared]]. */
  private val residentUnigramNoQ =
    Resident.memo[graft.pipeline.Unigram.Model](_ => ())

  private[graft] def unigramNoQShared(spark: SparkSession, d: String)
      : graft.pipeline.Unigram.Model =
    residentUnigramNoQ(spark, d) {
      graft.pipeline.Unigram.train(
        Tables.documents(spark, d)
          .filter(!lower(col("text")).contains("q")),
        UmIters, UmSeedSize, UmMaxPiece)
    }

  /** Merge-round count for the WordPiece gates (t36/t37) — deep enough
    * that merged tokens re-merge (multi-round interactions) and that the
    * likelihood argmax genuinely diverges from BPE's frequency argmax on
    * this corpus, small enough that the per-round unrolled oracle (symbol
    * counts + pair scores + recursive replacement, one block per round)
    * stays tractable and the no-q corpus never runs out of pairs. */
  private val WpRounds = 12

  /** t36/t37 share one trained WordPiece model per (session, dir), trained
    * on the no-'q' document subset (the t30 alphabet-gap idiom): encoding
    * the FULL corpus then exercises the `[UNK]` whole-word rule on every
    * q-carrying word, so the encode gate pins both the greedy walk and the
    * UNK leg. Pure driver data — nothing for a reset to free. */
  private val residentWordpiece =
    Resident.memo[graft.pipeline.Wordpiece.Model](_ => ())

  private[graft] def wordpieceShared(spark: SparkSession, d: String)
      : graft.pipeline.Wordpiece.Model =
    residentWordpiece(spark, d) {
      val m = graft.pipeline.Wordpiece.train(
        Tables.documents(spark, d)
          .filter(!lower(col("text")).contains("q")), WpRounds)
      // fail FAST on early pair exhaustion — the unrolled oracle assumes
      // a non-empty argmax every round (the bpeShared contract)
      require(m.merges.size == WpRounds,
        s"WordPiece corpus at $d exhausted pairs after ${m.merges.size} " +
          s"of $WpRounds merges — lower WpRounds")
      m
    }

  private[graft] def bpeShared(spark: SparkSession, d: String)
      : graft.pipeline.Bpe.Model =
    residentBpe(spark, d) {
      val m = graft.pipeline.Bpe.train(Tables.documents(spark, d), BpeRounds)
      // fail FAST if a corpus ever runs out of adjacent pairs early: the
      // unrolled oracle assumes a non-empty argmax every round (an empty
      // b_k cascades w_k to empty and the t17 oracle to zero rows — a
      // confusing all-vs-nothing diff instead of this message)
      require(m.merges.size == BpeRounds,
        s"BPE corpus at $d exhausted pairs after ${m.merges.size} of " +
          s"$BpeRounds merges — lower BpeRounds or widen the corpus")
      m
    }

  /** Merge depth for the byte-level BPE gates (t43/t44) — byte pairs are
    * denser than char pairs (every multi-byte codepoint contributes
    * intra-codepoint pairs), so t16's depth is safe here too. */
  private val ByteBpeRounds = 20

  /** Planted multi-script TRAIN rows for the byte-BPE corpus: the
    * synthetic testdata is pure ASCII, where byte-level and char-level
    * BPE coincide symbol-for-symbol — these rows (2-byte Latin-1/
    * Cyrillic, 3-byte CJK, 4-byte astral emoji) force genuinely
    * multi-byte merges so the gates exercise what makes the family
    * distinct. All-lowercase by construction: the corpus tokenization
    * lowercases, and keeping the planted text fixed under `lower` keeps
    * the one cross-engine case-folding seam out of the gate. One shared
    * constant drives BOTH the Spark frame and the oracle's UNION ALL
    * literals, so the two sides cannot drift. */
  private[graft] val byteTrainPlanted: Seq[(Long, String)] = Seq(
    1000001L -> "привет мир привет мир привет",
    1000002L -> "日本語 処理 日本語 処理 日本語",
    1000003L -> "café naïve café naïve café",
    1000004L -> "😀😀 😀ok 😀😀 données")

  /** Planted OOV rows for t44 — scripts (Greek, Hangul, astral CJK-B and
    * music notation) absent from the WHOLE training corpus, so every one
    * of these words rides the greedy byte kernel's fall-through, and the
    * gate proves the family's UNK-free totality: novel scripts encode as
    * byte-granular tokens, never a failure. */
  private[graft] val byteOovPlanted: Seq[(Long, String)] = Seq(
    2000001L -> "αβγδ εζη αβγδ",
    2000002L -> "한국어 형태소 한국어",
    2000003L -> "𠀀𠀁 𝄞𝄢 mixedé😀")

  private def plantedDf(spark: SparkSession,
      rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def plantedSql(rows: Seq[(Long, String)]): String =
    rows.map { case (id, t) =>
      // the result is embedded in stripMargin templates and a
      // single-quoted DuckDB literal: a '|' would be eaten by
      // stripMargin, an unescaped quote would break every oracle built
      // from this — escape the quote, reject the pipe
      require(!t.contains("|"),
        s"planted text '$t' would break stripMargin oracle templates")
      s"SELECT ${id}::BIGINT AS doc_id, '${t.replace("'", "''")}' AS text"
    }.mkString("\n  UNION ALL ")

  /** The byte-BPE TRAIN corpus: documents plus the multi-script rows. */
  private def byteCorpus(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d).select(col("doc_id"), col("text"))
      .unionAll(plantedDf(spark, byteTrainPlanted))

  private val byteCorpusSql: String =
    s"""(SELECT doc_id, text FROM documents
       |  UNION ALL ${plantedSql(byteTrainPlanted)})""".stripMargin

  /** Astral-plane planted rows for the POLYNOMIAL-HASH gate family
    * (q40/t04/d13/t07 — the shared codepoint fold): the synthetic
    * testdata is BMP-only, so a Spark-vs-DuckDB code-unit/codepoint
    * divergence on astral chars would otherwise be invisible (t21
    * proved that risk class real for the Viterbi path). Fifty identical
    * docs so the planted content SURFACES in every top-k output: the
    * astral word `😀𠀀` lands in q40's top-20 (1,000 occurrences), the
    * shared windows put planted fingerprints above t07's top-100 cut
    * (48 docs at the verify SF), and the identical chunks clear d13's
    * n_copies ordering (max 37 before planting). All-lowercase; emoji
    * U+1F600 (4-byte, surrogate pair), CJK-B U+20000/U+20001, musical
    * U+1D11E. */
  private[graft] val astralPlanted: Seq[(Long, String)] = {
    val line = Seq.fill(20)("😀𠀀").mkString(" ") +
      " 𝄞ok fast data value 𠀁"
    (0 until 50).map(i => (3000001L + i) -> line)
  }

  /** The hash-family corpus: documents plus the astral rows — Spark
    * frame and oracle subquery from ONE constant, the byteCorpus
    * discipline. */
  private def astralDocs(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d).select(col("doc_id"), col("text"))
      .unionAll(plantedDf(spark, astralPlanted))

  private val astralDocsSql: String = {
    // every planted row carries the same text by construction — the SQL
    // side rides generate_series instead of 50 UNION ALL literals
    require(astralPlanted.map(_._2).distinct.sizeIs == 1)
    s"""(SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT (3000000 + i)::BIGINT AS doc_id,
       |    '${astralPlanted.head._2}' AS text
       |  FROM generate_series(1, ${astralPlanted.size}) s(i))""".stripMargin
  }

  private val residentByteBpe =
    Resident.memo[graft.pipeline.Bpe.Model](dropVocab)

  private[graft] def byteBpeShared(spark: SparkSession, d: String)
      : graft.pipeline.Bpe.Model =
    residentByteBpe(spark, d) {
      val m = graft.pipeline.ByteBpe
        .train(byteCorpus(spark, d), ByteBpeRounds)
      require(m.merges.size == ByteBpeRounds,
        s"byte-BPE corpus at $d exhausted pairs after ${m.merges.size} " +
          s"of $ByteBpeRounds merges — lower ByteBpeRounds")
      m
    }

  /** d01 — exact dedup summary: distinct normalized texts vs raw rows. */
  def d01ExactDedup(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Dedup.exactDedup(Tables.documents(spark, d))
      .agg(count(lit(1)).as("n_unique"), sum($"n_dups").as("n_docs"))
  }

  /** d02 — keep-first dedup on events by (user_id, event_type). */
  def d02EventDedup(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"ts", $"event_id")
    Tables.events(spark, d)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id", $"event_type", $"event_id")
      .orderBy($"user_id", $"event_type")
  }

  /** d03 — brute-force 3-gram Jaccard near-dup pairs (threshold 0.8,
    * bounded candidate set doc_id < 300 — the quadratic baseline). */
  def d03JaccardPairs(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    jaccardPairsShared(spark, d)
      .orderBy($"id_a", $"id_b")
  }

  /** d04 — MinHash+LSH near-dup pairs, exact-verified: must find the same
    * pairs as the brute-force baseline (128 hashes, 64 bands × 2 rows →
    * miss probability < 1e-70 at jaccard ≥ 0.96). The banded bucket join is
    * the 100 TB path: shuffle on (band, bucket), never all-pairs. */
  def d04MinhashLsh(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d).filter($"doc_id" < 300)
    Dedup.minhashDedup(docs, 3, 128, 2, 0.8)
      .orderBy($"id_a", $"id_b")
  }

  /** d05 — SimHash near-dup pairs (hamming ≤ 3 over 64-bit token-vote
    * hashes). The token hash is an explicit double polynomial hash
    * (SimHash64 scaladoc), so DuckDB recomputes the identical fingerprints
    * and the gate is a full value oracle. */
  def d05SimhashPairs(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Dedup.simhashPairs(Tables.documents(spark, d), 3)
      .orderBy($"id_a", $"id_b")
  }

  /** d06 — embedding-cosine near-dup pairs (cosine ≥ 0.4 on the rounded
    * score; sequential-fold math mirrors the SQL oracle). */
  def d06EmbeddingNearDup(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Dedup.embeddingNearDupPairs(Tables.embeddings(spark, d), 0.4)
      .orderBy($"id_a", $"id_b")
  }

  /** d07 — canonical dedup clusters: connected components (large-star /
    * small-star) over the d03 Jaccard pair list; every doc labeled with its
    * component's min doc_id. Oracle: DuckDB recursive transitive closure
    * over the same pair set. */
  def d07DedupClusters(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Dedup.connectedComponents(jaccardPairsShared(spark, d))
      .select($"id".as("doc_id"), $"cluster_id")
      .orderBy($"doc_id")
  }

  /** t01 — token/unit/punctuation/stopword counts per document. */
  def t01TokenStats(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d).select(
      $"doc_id",
      TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"),
      TextAnalysis.unitCount($"text").cast("long").as("n_units"),
      TextAnalysis.punctCount($"text").cast("long").as("n_punct"),
      TextAnalysis.stopwordCount($"text").cast("long").as("n_stopwords"))
      .orderBy($"doc_id")
      .limit(200)
  }

  /** t02 — quality scoring: per source, docs passing quality ≥ 0.5 (the
    * score formula is identical IEEE arithmetic in both engines). */
  def t02QualityBySource(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d)
      .withColumn("toks", TextAnalysis.tokens($"text"))
      .withColumn("q", TextAnalysis.qualityScoreOf($"toks", $"text"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        count(when($"q" >= 0.5, 1)).as("n_pass"))
      .orderBy($"source")
  }

  /** t03 — language-ID by stopword voting (oracle: the same votes +
    * tiebreak in DuckDB list functions). */
  def t03LangId(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d)
      .withColumn("toks", TextAnalysis.tokens($"text"))
      .withColumn("pred", TextAnalysis.langIdOf($"toks"))
      .groupBy($"pred").agg(count(lit(1)).as("n"))
      .orderBy($"pred")
  }

  /** t04 — fingerprint integrity as an INTEGER invariant: the number of
    * distinct fingerprints must equal the number of distinct normalized
    * texts (no collisions, no over-merging). The raw hash values are
    * engine-specific, but this equality is oracle-checkable: DuckDB can
    * compute n_norm_texts exactly and the integrity flag is 1 by contract. */
  def t04Fingerprints(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // non-null texts only: countDistinct skips a NULL norm but counts the
    // (non-null) xxhash64 of NULL, which would break the invariant — both
    // sides of the oracle carry the same filter. Corpus = documents +
    // the astral rows (the hash-family beyond-BMP posture).
    astralDocs(spark, d).filter($"text".isNotNull)
      .select(TextAnalysis.fingerprint($"text").as("fp"),
        Dedup.normText($"text").as("norm"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"norm").as("n_norm_texts"),
        (countDistinct($"fp") === countDistinct($"norm"))
          .cast("long").as("fp_integrity"))
  }

  /** t05 — corpus vocabulary: top-50 whitespace tokens by frequency
    * (deterministic count-desc, token-asc tiebreak). One explode + one
    * shuffle with map-side partial aggregation + TakeOrdered — the
    * canonical vocabulary-build shape at 100 TB. */
  def t05VocabTopk(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d)
      .select(explode(TextAnalysis.tokens($"text")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"tok")
      .limit(50)
  }

  /** t06 — cross-document duplicate word-5-gram stats per source (the
    * Gopher/RefinedWeb quality signal): integer-exact gram counts and a
    * 30%-duplicate flag count. */
  def t06DupNgrams(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    TextAnalysis.dupNGramStats(docs, 5)
      .join(docs.select($"doc_id", $"source"), "doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_grams").as("n_grams"),
        sum($"n_dup_grams").as("n_dup_grams"),
        count(when($"n_dup_grams" * 10 > $"n_grams" * 3, 1)).as("n_flagged"))
      .orderBy($"source")
  }

  /** t07 — winnowing fingerprints shared across documents: the top
    * fingerprints by document frequency (≥ 2 docs). Exact-integer rolling
    * hashes make this hash-verifiable in DuckDB — a fingerprint-index
    * build (explode + one grouped count), the winnowing-based near-dup
    * index shape. */
  def t07Winnowing(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    astralDocs(spark, d) // + astral rows: the hash-family posture
      .select($"doc_id",
        explode(TextAnalysis.winnowingFingerprints($"text")).as("fp"))
      .groupBy($"fp").agg(count(lit(1)).as("n_docs"))
      .filter($"n_docs" >= 2)
      .orderBy($"n_docs".desc, $"fp")
      .limit(100)
  }

  /** t08 — sequence packing: documents concatenated in doc_id order and
    * chopped into 512-token training sequences; per sequence, how many
    * docs it contains. The global token prefix-sum runs as a two-pass
    * distributed scan, never a single-task window. */
  def t08SequencePacking(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
      .select($"doc_id", TextAnalysis.tokenCount($"text").cast("long")
        .as("n_tokens"))
    graft.pipeline.Packing.packStats(docs, 512)
      .orderBy($"seq_id")
  }

  /** t09 — repetition filter (Gopher §A1.1): per source, how many docs are
    * flagged because their most frequent 2-gram covers over 20% of all
    * 2-gram occurrences (`top·10 > total·2`, integer-exact). */
  def t09Repetition(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    TextAnalysis.repetitionStats(docs, 2)
      .join(docs.select($"doc_id", $"source"), "doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"top_gram").as("top_gram_occ"),
        count(when($"top_gram" * 10 > $"n_grams" * 2, 1)).as("n_flagged"))
      .orderBy($"source")
  }

  /** d08 — benchmark decontamination: ids of training docs (doc_id % 10
    * != 0) sharing at least one distinct word-5-gram with the benchmark
    * subset (doc_id % 10 == 0 stands in for an eval suite). */
  def d08Decontamination(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    TextAnalysis.contaminatedDocs(
        docs.filter($"doc_id" % 10 =!= 0),
        docs.filter($"doc_id" % 10 === 0), 5)
      .orderBy($"doc_id")
  }

  /** d09 — duplicated-span token coverage (Lee et al. ACL'22 exact-
    * substring dedup signal): per doc, token positions covered by a word
    * 8-gram occurring in ≥ 2 docs, via positional gram match + interval-
    * union sweep. Integer-exact. */
  def d09SpanCoverage(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Dedup.duplicatedSpanCoverage(Tables.documents(spark, d), 8)
      .orderBy($"doc_id")
  }

  /** d10 — end-to-end dedup keep-list over the FULL documents table:
    * exact layer → word-5-shingle MinHash+LSH among representatives →
    * components → every doc labeled (keep_id, is_kept). Oracle: recursive
    * min-label closure over (exact-norm-equality ∪ brute word-5-gram
    * jaccard ≥ 0.8) edges — brute all-pairs is affordable in DuckDB at the
    * oracle SF; the Spark side must reproduce it via the banded path. */
  def d10KeepList(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Dedup.dedupKeepList(Tables.documents(spark, d))
      .orderBy($"doc_id")
  }

  /** d11 — EXACT word-5-shingle Jaccard pairs over the FULL documents
    * table via the Bayardo prefix-filtered inverted index: the
    * corpus-scale exact companion to d10's banded LSH path (no recall
    * caveat — the prefix filter is lossless for the threshold, and word
    * shingles keep it selective; see the shingle-choice scaladoc). */
  def d11JaccardWords(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Dedup.jaccardPairsWords(Tables.documents(spark, d), 5, 0.8)
      .orderBy($"id_a", $"id_b")
  }

  /** t10 — PII scan + redaction audit per source: email/phone/IPv4 match
    * counts and how many docs a redaction pass would rewrite. (This corpus
    * contains no PII — the oracle checks the zeros exactly; the pattern
    * semantics are golden-tested on crafted strings in PipelineSpec.) */
  def t10PiiStats(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d)
      .withColumn("n_emails", TextAnalysis.emailCount($"text").cast("long"))
      .withColumn("n_phones", TextAnalysis.phoneCount($"text").cast("long"))
      .withColumn("n_ips", TextAnalysis.ipv4Count($"text").cast("long"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_emails").as("n_emails"),
        sum($"n_phones").as("n_phones"),
        sum($"n_ips").as("n_ips"),
        count(when($"n_emails" + $"n_phones" + $"n_ips" > 0, 1))
          .as("n_docs_with_pii"),
        count(when(TextAnalysis.redactPii($"text") =!= $"text", 1))
          .as("n_docs_redacted"))
      .orderBy($"source")
  }

  /** t11 — per-doc top-3 tokens by tf·idf (doc_id < 200; score rounded to
    * 4 dp, (score, token) ranking — see TextAnalysis.tfIdfTopK). */
  def t11TfidfTopk(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.tfIdfTopK(
        Tables.documents(spark, d).filter($"doc_id" < 200), 3)
      .orderBy($"doc_id", $"rnk")
  }

  /** t12 — overlapping chunk spans (size 16, stride 12): every token
    * covered, integer-exact starts/lengths. */
  def t12Chunking(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.chunkSpans(Tables.documents(spark, d), 16, 12)
      .orderBy($"doc_id", $"chunk_id")
  }

  /** t13 — bigram-LM quality score (CCNet-family perplexity filter):
    * per-doc mean log P(w2|w1) under the corpus's own MLE bigram model,
    * position-ordered fold + 4 dp rounding for cross-engine parity. */
  def t13LmScore(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.bigramLmScore(Tables.documents(spark, d))
      .orderBy($"doc_id")
  }

  /** t14 — character-entropy quality signal ([[TextAnalysis.charEntropy]]):
    * bits/char per document, the gibberish/boilerplate detector. */
  def t14CharEntropy(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.charEntropy(Tables.documents(spark, d))
      .orderBy($"doc_id")
  }

  /** t15 — BM25 top-20 docs for a fixed 3-term query (see
    * [[TextAnalysis.bm25TopK]] for the determinism + scale argument). The
    * oracle replays the identical integer→double dataflow in SQL. */
  def t15Bm25(spark: SparkSession, d: String): DataFrame =
    TextAnalysis.bm25TopK(Tables.documents(spark, d),
      Seq("spark", "join", "window"), 20)

  /** q23 — sharded corpus export round trip: write the documents table
    * through the [[graft.pipeline.ShardWriter]] JSONL sink (8 hive
    * `shard=N/` dirs, deterministic hash assignment), read it BACK with an
    * explicit schema, and emit the per-shard manifest. The oracle replays
    * the shard hash in SQL over the source table, so the gate proves the
    * full write→layout→read path is lossless — shard counts, id sums and
    * char sums must survive the round trip exactly. */
  def q23ShardManifest(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_shards_" + Integer.toHexString(d.hashCode)).getAbsolutePath
    graft.pipeline.ShardWriter.writeJsonl(
      Tables.documents(spark, d), out, nShards = 8)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING, lang STRING, source STRING, " +
        "n_chars LONG, shard INT")
    graft.pipeline.ShardWriter.readJsonl(spark, out, schema)
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"),
        sum($"doc_id").as("id_sum"),
        sum($"n_chars").as("n_chars_sum"))
      .orderBy($"shard")
  }

  /** d15 — incremental near-dup THROUGH THE PERSISTED INDEX LIFECYCLE:
    * the doc_id%17 slice plays the daily increment, the rest plays the
    * already-ingested corpus — and the corpus side runs the full
    * production shape: the band index is BUILT from the initial corpus
    * snapshot ([[Dedup.writeBandIndex]]), a later admitted batch is
    * APPENDED ([[Dedup.appendBandIndex]], reusing the index's stored
    * banding params), and the increment PROBES the stored table
    * ([[Dedup.probeBandIndex]], coverage-checked) — the corpus at large
    * never re-hashes, never re-bands. The recompute twin
    * ([[Dedup.minhashIncrementalWords]]) is spec-pinned identical
    * (BandIndexSpec); the oracle is the same brute cross-jaccard between
    * the two slices. */
  def d15IncrementalDedup(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    val corpus = docs.filter($"doc_id" % 17 =!= 0)
    val dir = graft.util.Scratch.dir("graft_band_d15")
    Dedup.writeBandIndex(corpus.filter($"doc_id" % 3 =!= 1), dir)
    Dedup.appendBandIndex(corpus.filter($"doc_id" % 3 === 1), dir)
    Dedup.probeBandIndex(docs.filter($"doc_id" % 17 === 0), corpus, dir)
      .orderBy($"new_id", $"corpus_id")
  }

  /** q24 — token-budget corpus fill: take the best-scored docs (t02
    * quality, doc_id tiebreak) until HALF the corpus tokens are spent —
    * the "fill a fixed training budget with the best data" truncation.
    * The running total is [[graft.pipeline.Packing.budgetFill]]'s two-pass
    * distributed scan (no single-task global window); the budget itself is
    * one tiny single-row aggregate. The oracle replays the same cumulative
    * sum with a SQL window; per-source kept id/token sums verify the
    * SELECTION. */
  def q24BudgetFill(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val prepared = Tables.documents(spark, d).select(
      $"doc_id", $"source",
      TextAnalysis.tokenCount($"text").cast("long").as("n_tok"),
      TextAnalysis.qualityScoreOf(TextAnalysis.tokens($"text"), $"text")
        .as("q"))
    val budget = prepared.agg(sum($"n_tok")).head().getLong(0) / 2
    graft.pipeline.Packing.budgetFill(prepared, "doc_id", "n_tok", "q", budget)
      .join(prepared.select($"doc_id".as("id"), $"source"), Seq("id"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        count(when($"kept", 1)).as("n_kept"),
        coalesce(sum(when($"kept", $"id")), lit(0L)).as("kept_id_sum"),
        coalesce(sum(when($"kept", $"n")), lit(0L)).as("kept_tok_sum"))
      .orderBy($"source")
  }

  /** q19 — deterministic quality-WEIGHTED sampling (the DSIR/importance-
    * resampling shape: acceptance probability proportional to a per-doc
    * weight, here the t02 quality score): accept doc iff its q14/q15
    * multiplicative-hash bucket < ⌊q·101⌋. The hash draw is a pure function
    * of doc_id — reproducible on any engine/partitioning, no RNG state —
    * and the weight enters only through an exact integer threshold
    * (⌊q·101⌋ on the SAME double both engines compute, t02-established).
    * `accepted_id_sum` makes the oracle verify the selection, not just
    * rates. Scale: fully map-side scoring + one partial-agg shuffle. */
  def q19WeightedSample(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val bucket = pmod(pmod($"doc_id", lit(1000003L)) * lit(2654435761L),
      lit(101L))
    Tables.documents(spark, d)
      .withColumn("toks", TextAnalysis.tokens($"text"))
      .withColumn("q", TextAnalysis.qualityScoreOf($"toks", $"text"))
      .withColumn("acc", bucket < floor($"q" * 101.0).cast("long"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        count(when($"acc", 1)).as("n_accepted"),
        sum(when($"acc", $"doc_id")).as("accepted_id_sum"))
      .orderBy($"source")
  }

  /** q16 — the training-data funnel: per source, how many TRAIN-split docs
    * survive each successive filter of a real pretraining pipeline —
    * English → quality ≥ 0.5 → not repetitive (top 2-gram ≤ 20%) → exact-
    * dup keeper (min doc_id per normalized content) → not benchmark-
    * contaminated. Pure composition of the t02/t03/t09/d01/d08 operators;
    * all counts integer-exact. */
  def q16PipelineFunnel(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val all = Tables.documents(spark, d)
    val docs = all.filter($"doc_id" % 10 =!= 0)
    val bench = all.filter($"doc_id" % 10 === 0)
    val contam = TextAnalysis.contaminatedDocs(docs, bench, 5)
      .withColumn("contaminated", lit(true))
    val rep = TextAnalysis.repetitionStats(docs, 2)
    val base = docs
      .withColumn("toks", TextAnalysis.tokens($"text"))
      .withColumn("lang", TextAnalysis.langIdOf($"toks"))
      .withColumn("q", TextAnalysis.qualityScoreOf($"toks", $"text"))
      .withColumn("keeper", $"doc_id" === min($"doc_id").over(
        Window.partitionBy(Dedup.normText($"text"))))
      .join(rep, Seq("doc_id"))
      .join(contam, Seq("doc_id"), "left_outer")
    val en = $"lang" === "en"
    val qual = en && $"q" >= 0.5
    val clean = qual && !($"top_gram" * 10 > $"n_grams" * 2)
    val keep = clean && $"keeper"
    val fin = keep && $"contaminated".isNull
    base.groupBy($"source").agg(
        count(lit(1)).as("n_docs"),
        count(when(en, 1)).as("n_en"),
        count(when(qual, 1)).as("n_quality"),
        count(when(clean, 1)).as("n_clean"),
        count(when(keep, 1)).as("n_keep"),
        count(when(fin, 1)).as("n_final"))
      .orderBy($"source")
  }

  /** d12 — Bloom-prefiltered benchmark decontamination (word 4-grams,
    * benchmark = doc_id % 7 == 0): d08's exact semantics with the
    * benchmark gram set shipped as a constant-size Bloom sketch and the
    * training-gram shuffle cut map-side before the verify semi-join — the
    * 100 TB shape when the eval-suite gram set outgrows an exact
    * broadcast. Bloom has no false negatives and candidates are
    * exact-verified, so the oracle is the plain exact-overlap SQL. */
  def d12BloomDecontam(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    TextAnalysis.contaminatedDocsBloom(
        docs.filter($"doc_id" % 7 =!= 0),
        docs.filter($"doc_id" % 7 === 0), 4)
      .orderBy($"doc_id")
  }

  /** d23 — decontamination against a PERSISTED Bloom index
    * ([[graft.pipeline.TextAnalysis.writeContamIndex]] /
    * [[contaminatedDocsAgainstIndex]] — the d17/d21/d22
    * build-once/probe-many lifecycle in the decontamination domain):
    * the benchmark slice (doc_id % 11 = 0) tokenizes ONCE into a stored
    * gram set + Bloom sketch bytes + (n, fpp) meta; the training slice
    * probes the re-read index — Bloom prefilter (codegen'd, no false
    * negatives) then exact verify against the stored grams, so the
    * contaminated-doc set equals the full recompute and the oracle is
    * the plain exact-overlap SQL over the %11 split. */
  def d23ContamIndex(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    val dir = graft.util.Scratch.dir("graft_contam_idx")
    graft.pipeline.TextAnalysis.writeContamIndex(
      docs.filter($"doc_id" % 11 === 0), dir, n = 4)
    graft.pipeline.TextAnalysis.contaminatedDocsAgainstIndex(
        docs.filter($"doc_id" % 11 =!= 0), dir)
      .orderBy($"doc_id")
  }

  /** d25 — INDEX-ONLY suite merge
    * ([[graft.pipeline.TextAnalysis.mergeContamIndexes]]): the d23
    * benchmark split into TWO suites (%22 == 0 and %22 == 11 — their
    * union IS d23's %11 == 0 set), each built as its own index, merged
    * by unioning the STORED gram sets (no benchmark re-tokenizes; the
    * Bloom rebuilds from the union), then probed. Decisions must equal
    * d23's single-suite build exactly — the oracle is the same
    * exact-overlap SQL — so a merge that lost grams, mixed shingle
    * orders, or tore the grams/sketch pair breaks the row set. */
  def d25ContamMerge(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    val da = graft.util.Scratch.dir("graft_contam_ma")
    val db = graft.util.Scratch.dir("graft_contam_mb")
    val dm = graft.util.Scratch.dir("graft_contam_mm")
    graft.pipeline.TextAnalysis.writeContamIndex(
      docs.filter($"doc_id" % 22 === 0), da, n = 4)
    graft.pipeline.TextAnalysis.writeContamIndex(
      docs.filter($"doc_id" % 22 === 11), db, n = 4)
    graft.pipeline.TextAnalysis.mergeContamIndexes(spark, Seq(da, db), dm)
    graft.pipeline.TextAnalysis.contaminatedDocsAgainstIndex(
        docs.filter($"doc_id" % 11 =!= 0), dm)
      .orderBy($"doc_id")
  }

  /** d13 — content-defined-chunking dedup stats (Rabin CDC, the
    * LBFS/FastCDC storage-dedup lineage): chunk every document at
    * content-derived boundaries (k=8 rolling window, divisor 64 ⇒ ~64-cp
    * expected chunks), then report every chunk content appearing more
    * than once — copies and distinct docs. Boundaries move WITH the
    * content, so near-identical document versions re-align after an edit
    * and their shared tails dedup; the whole operator is one map-side
    * kernel + one groupBy. The boundary and identity hashes are explicit
    * polynomial arithmetic, so DuckDB replays chunking end-to-end — full
    * value oracle. */
  def d13CdcDedup(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // + astral rows: the hash-family beyond-BMP posture
    Dedup.cdcDupChunks(astralDocs(spark, d), 8, 64)
      .orderBy($"n_copies".desc, $"chunk_hash").limit(100)
  }

  /** d14 — SemDeDup-style semantic dedup summary: within-cell embedding
    * near-dup groups contracted to one representative, reported per cell
    * (label = the SQL-replayable coarse quantizer; kmeansCells is the
    * learned-quantizer swap-in). Threshold 0.4 = the d06 "near-dup"
    * convention for this synthetic embedding space (pair cosines top out
    * ~0.5). Full value oracle: DuckDB recomputes the within-cell rounded
    * cosines and the recursive min-id closure. */
  def d14SemanticDedup(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Similarity.semanticDedupSummary(Tables.embeddings(spark, d), 0.4)
      .select($"cell".as("label"), $"n_vecs", $"n_kept")
      .orderBy($"label")
  }

  /** q17 — per-source adaptive quality cutoff (CCNet/RefinedWeb-style):
    * a single global quality threshold over-prunes clean-but-plain
    * domains and under-prunes noisy ones, so keep each source's top 20%
    * by ITS OWN score distribution: percent_rank within source, keep
    * pr ≥ 0.8. Scale: the one shuffle is the window's partitionBy(source)
    * — the same shuffle a groupBy(source) pays; scoring is map-side
    * codegen. Oracle-exactness: the rank key `q` is a DOUBLE score, so
    * cross-engine equality rests on Spark and DuckDB evaluating the
    * IDENTICAL IEEE expression in the same order (established by t02 for
    * this score; hash-verified by the driver) — any reordering of the
    * score arithmetic is an oracle-affecting change, not a no-op. The
    * (rank−1)/(n−1) percent_rank arithmetic on top is exact in both. */
  def q17QualityCutoff(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"source").orderBy($"q")
    Tables.documents(spark, d)
      .withColumn("toks", TextAnalysis.tokens($"text"))
      .withColumn("q", TextAnalysis.qualityScoreOf($"toks", $"text"))
      .withColumn("pr", percent_rank().over(w))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        count(when($"pr" >= 0.8, 1)).as("n_kept"))
      .orderBy($"source")
  }

  /** s01 — brute-force cosine top-5 for query vectors vec_id < 8. */
  def s01TopkCosine(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)
    Similarity.bruteForceTopK(emb.filter($"vec_id" < 8), emb, 5)
      .orderBy($"qid", $"rank")
  }

  /** s12 — SQ8 scalar-quantized top-k ([[Similarity.sq8Train]]/
    * [[Similarity.sq8Encode]]/[[Similarity.sq8TopK]], the FAISS
    * ScalarQuantizer family next to the PQ gates): per-dim min/max train,
    * byte codes, asymmetric squared-L2 over DECODED codes. Unlike the
    * k-means-backed s02/s03/s07–s09 (contract oracles), SQ8 is
    * deterministic end to end — min/max carry no float-sum drift and the
    * decode+distance fold is index-ordered — so this is a FULL-VALUE
    * oracle: the same quantize/decode arithmetic replayed in SQL, rank on
    * (rounded dist ASC, nid). */
  def s12Sq8Topk(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)
    val (mn, mx) = Similarity.sq8Train(emb)
    val codes = Similarity.sq8Encode(emb, mn, mx)
    Similarity.sq8TopK(emb.filter($"vec_id" < 8), codes, mn, mx, 5)
      .orderBy($"qid", $"rank")
  }

  /** Integer-invariant contract over an ANN result (t04 style): the ANN
    * top-k itself is not SQL-derivable (cell assignment rests on
    * engine-private hashes / order-dependent centroid float sums), but its
    * CONTRACT is exact and hash-checkable — every query vector answered
    * (`n_queries`), a full top-k per query (`n_results`), and aggregate
    * recall@k against the brute-force answer at or above a floor
    * (`recall_ok`). The oracle asserts the expected constants from the
    * embeddings table alone; any ANN breakage (lost query, short result
    * list, recall collapse) flips a column and fails the hash compare. */
  private def annRecallSummary(ann: DataFrame, brute: DataFrame,
      minRecall: Double): DataFrame = {
    val hits = brute.select(col("qid"), col("nid"))
      .join(ann.select(col("qid"), col("nid")), Seq("qid", "nid"), "left_semi")
    ann.agg(countDistinct(col("qid")).as("n_queries"),
        count(lit(1)).as("n_results"))
      .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
      .crossJoin(brute.agg(count(lit(1)).as("n_brute")))
      .select(col("n_queries"), col("n_results"),
        (col("n_hits") >= col("n_brute") * minRecall).as("recall_ok"))
  }

  /** s02 — IVF-style ANN with geometric cells (3 hyperplane sign bits →
    * 8 cells), probing the 3 nearest cells; emitted as the
    * [[annRecallSummary]] contract vs the s01 brute answer (recall floor
    * 0.4, the long-standing spec threshold; measured 0.65 at the oracle
    * SF). */
  def s02IvfTopk(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)
    val cells = Similarity.hyperplaneBuckets(emb, 3)
      .withColumnRenamed("id", "vec_id").withColumnRenamed("bucket", "cell")
    val withCells = emb.join(cells, "vec_id")
    val ann = Similarity.ivfTopK(withCells.filter($"vec_id" < 8), withCells,
      5, 3, cellCol = "cell")
    annRecallSummary(ann, Similarity.bruteForceTopK(emb.filter($"vec_id" < 8),
      emb, 5), minRecall = 0.4)
  }

  /** s03 — IVF with a learned k-means coarse quantizer (8 cells, 4 Lloyd
    * iterations), probing 3 cells; emitted as the [[annRecallSummary]]
    * contract vs s01 brute (recall floor 0.5, the spec threshold;
    * measured 0.675 at the oracle SF). */
  def s03IvfKmeans(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)
    val ann = Similarity.ivfTopKKmeans(emb.filter($"vec_id" < 8), emb, 5, 3,
      nCells = 8, iters = 4)
    annRecallSummary(ann, Similarity.bruteForceTopK(emb.filter($"vec_id" < 8),
      emb, 5), minRecall = 0.5)
  }

  /** s04 — partitioned k-NN JOIN: every vector's exact top-3 neighbors
    * within its `label` cell ([[Similarity.knnJoinWithinCells]] — both
    * sides are the corpus, so this is the equi-join-on-cell shape, not
    * s01's broadcast-the-queries shape). Label as the SQL-replayable
    * quantizer gives the gate a full value oracle; kmeansCells is the
    * learned swap-in at scale. */
  def s04KnnJoin(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Similarity.knnJoinWithinCells(Tables.embeddings(spark, d), 3)
      .orderBy($"qid", $"rank")
  }

  /** s05 — multi-table LSH approximate kNN JOIN
    * ([[Similarity.knnJoinLshMulti]], 12 tables × 4 sign bits): the
    * corpus×corpus ANN join when no quantizer exists. Emitted as the
    * s02/s03-style integer-invariant contract: every vector covered
    * (floor 0.95; measured 1.0) and pair recall@3 vs the brute answer
    * ≥ 0.7 (measured 0.82 at the oracle SF, 0.82–0.9 across SFs —
    * tools.ProbeS05, last in commit afb1236). The buckets aren't
    * SQL-replayable (xxhash64 planes), the CONTRACT is. */
  def s05KnnJoinLshMulti(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)
    val ann = Similarity.knnJoinLshMulti(emb, 3, bitsPerTable = 4,
      nTables = 12)
    // The recall contract is checked on a FIXED 64-query sample, not the
    // whole corpus: a full-corpus brute verifier is an O(n²) broadcast
    // cross join that would dominate this query's cost (10.7 s of 10.7 s
    // at sf0.1) and blow the broadcast cap at 100× — the operator under
    // test is scale-safe, so the registered query must be too. 64 queries
    // × corpus is one broadcast of 64 rows: linear. Coverage stays a
    // FULL-corpus check (it reads only the ann side). Measured recall@3
    // on the sample: 0.84 at sf0.01, 0.82–0.9 across SFs (tools.ProbeS05,
    // last in commit afb1236) — floor 0.7 unchanged.
    val sample = emb.filter($"vec_id" < 64)
    val brute = Similarity.bruteForceTopK(sample, emb, 3)
    val hits = brute.select($"qid", $"nid")
      .join(ann.filter($"qid" < 64).select($"qid", $"nid"),
        Seq("qid", "nid"), "left_semi")
    emb.agg(count(lit(1)).as("n_vectors"))
      .crossJoin(ann.agg(countDistinct($"qid").as("ncov")))
      .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
      .crossJoin(brute.agg(count(lit(1)).as("n_brute")))
      .select($"n_vectors",
        ($"ncov" >= $"n_vectors" * 0.95).as("coverage_ok"),
        ($"n_hits" >= $"n_brute" * 0.7).as("recall_ok"))
  }

  /** s06 — cosine RANGE search: all corpus neighbors with rounded cosine
    * ≥ 0.3 of each query vector (vec_id < 8) — the radius-query twin of
    * s01's top-k, full value oracle (same d06 sequential-fold cosine
    * math). Map-side filter: output cost is the answer's size. */
  def s06RangeSearch(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)
    Similarity.rangeSearch(emb.filter($"vec_id" < 8), emb, 0.3)
      .orderBy($"qid", $"nid")
  }

  /** q25 — LENGTH-BUCKETED batching stats: documents grouped into
    * power-of-two token-length buckets (the sequence-bucketing a training
    * loader pads to), with exact token and padding-token totals per
    * bucket. Spark's log2 is ln(x)/ln(2) and overshoots at some exact
    * powers of two (log2(2^29) = 29.000000000000004) while DuckDB's is
    * exact, so the bucket is clamped arithmetically after the log: if the
    * half-bucket still covers n_tokens, take it. The clamp is a no-op
    * wherever log2 was exact — identical bucketing in both engines; all
    * outputs integers, hash-exact. */
  def q25LengthBuckets(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d)
      .filter($"text".isNotNull) // defensive: engines order null groups differently
      .select(TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"))
      .withColumn("b0",
        pow(lit(2.0), ceil(log2($"n_tokens"))).cast("long"))
      .withColumn("bucket",
        when(($"b0".cast("double") / 2) >= $"n_tokens",
          ($"b0".cast("double") / 2).cast("long")).otherwise($"b0"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("total_tokens"),
        sum($"bucket" - $"n_tokens").as("pad_tokens"))
      .orderBy($"bucket")
  }

  /** s07 — PERSISTED IVF index lifecycle: build the k-means index, WRITE
    * it as two parquet tables (quantizer + posting lists), READ it back,
    * and probe the loaded index — the build-once / probe-many split a
    * 100 TB deployment runs (the gate's recall contract covers the full
    * round trip, so a lossy save/load or a broken assignment join flips
    * the boolean). Same contract form and floor as s03. */
  def s07IvfIndex(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivf_" + Integer.toHexString(d.hashCode))
    val (cent, assign) = Similarity.buildIvfIndex(emb, nCells = 8, iters = 4)
    Similarity.writeIvfIndex(cent, assign, dir.getAbsolutePath)
    val (cent2, assign2) = Similarity.readIvfIndex(spark, dir.getAbsolutePath)
    val ann = Similarity.ivfProbeIndex(emb.filter($"vec_id" < 8), emb,
      cent2, assign2, 5, 3)
    annRecallSummary(ann, Similarity.bruteForceTopK(emb.filter($"vec_id" < 8),
      emb, 5), minRecall = 0.5)
  }

  /** s08 — PRODUCT QUANTIZATION (Jégou et al. 2011): train m=16×ksub=64
    * codebooks, encode the corpus to 16-byte codes (32× smaller than the
    * raw 64-dim doubles), ADC-probe the code table with per-query lookup
    * tables, exact-re-rank the top 8k candidates — the memory-bounded ANN
    * shape a 100 TB corpus needs (the probe scan reads codes, never
    * vectors). Contract form as s03/s07; floor 0.5. The synthetic
    * near-uniform embeddings are PQ's adversarial case (distance
    * concentration), so the config is picked from the measured
    * recall grid (tools.ProbePq, last in commit afb1236, sf0.01):
    * m=8/ksub=16/rf=4 0.375 → m=16/ksub=16/rf=4 0.725 →
    * m=16/ksub=64/rf=8 0.975 — deterministic end-to-end (fixed sample,
    * fixed Lloyd, fixed tie-breaks). */
  def s08PqTopk(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)
    val cb = Similarity.pqTrain(emb, m = 16, ksub = 64, iters = 4)
    val codes = Similarity.pqEncode(emb, cb)
    val ann = Similarity.pqTopK(emb.filter($"vec_id" < 8), codes, emb,
      cb, k = 5, rerankFactor = 8)
    annRecallSummary(ann, Similarity.bruteForceTopK(emb.filter($"vec_id" < 8),
      emb, 5), minRecall = 0.5)
  }

  /** s09 — IVFADC (the FAISS IVF+PQ composition, Jégou et al. 2011 §IV):
    * the coarse quantizer prunes to nprobe=4 of 8 cells per query, ADC
    * scores only those cells' PQ codes, exact re-rank restores order —
    * cells prune IO, codes compress it. Contract form as s03/s07/s08;
    * floor 0.5 (measured 0.750 at the oracle SF via tools.ProbePq, last
    * in commit afb1236 — recall is cell-bounded: nprobe=3 caps at s03's
    * 0.675, 6/8 at 0.875, the documented IVF recall/scan-fraction
    * tradeoff). */
  def s09PqIvf(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)
    val cb = Similarity.pqTrain(emb, m = 16, ksub = 64, iters = 4)
    val ann = Similarity.pqIvfTopK(emb.filter($"vec_id" < 8), emb, cb,
      k = 5, nprobe = 4, nCells = 8, iters = 4, rerankFactor = 8)
    annRecallSummary(ann, Similarity.bruteForceTopK(emb.filter($"vec_id" < 8),
      emb, 5), minRecall = 0.5)
  }

  /** s10 — INCREMENTAL ANN index maintenance: build the persisted PQ
    * index on the vec_id%5≠4 seed slice, APPEND the remaining batch with
    * [[Similarity.appendPqIndex]] (encode against the stored codebook —
    * no retraining), read the index back and probe it against the FULL
    * corpus. Contract form as s08 plus `n_codes` — the appended code
    * table must hold exactly one row per corpus vector, so a lost or
    * double-appended batch fails the hash compare even before recall
    * moves; a stale codebook, lossy parquet round trip or broken append
    * drops recall below the floor (same 0.5 as s08; codebook trained on
    * 80 % of the corpus — measured 0.975 at the oracle SF). */
  def s10IncrementalAnn(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)
    val seed = emb.filter(pmod($"vec_id", lit(5)) =!= 4)
    val batch = emb.filter(pmod($"vec_id", lit(5)) === 4)
    // fresh per-invocation dir: a fixed hashCode-keyed path races
    // overwrite/append/read across concurrent invocations (the 16-way
    // bench warmup runs this very gate in parallel) and can collide
    // distinct sf dirs onto one index
    val dir = graft.util.Scratch.dir("graft_pq_inc")
    val cb = Similarity.pqTrain(seed, m = 16, ksub = 64, iters = 4)
    Similarity.writePqIndex(spark, cb, Similarity.pqEncode(seed, cb), dir)
    Similarity.appendPqIndex(spark, dir, batch)
    val (cb2, codes2) = Similarity.readPqIndex(spark, dir)
    val ann = Similarity.pqTopK(emb.filter($"vec_id" < 8), codes2, emb,
      cb2, k = 5, rerankFactor = 8)
    annRecallSummary(ann, Similarity.bruteForceTopK(emb.filter($"vec_id" < 8),
        emb, 5), minRecall = 0.5)
      .crossJoin(codes2.agg(count(lit(1)).as("n_codes")))
      .select($"n_queries", $"n_results", $"n_codes", $"recall_ok")
  }

  /** s11 — ANN index DELETE maintenance ([[Similarity.removeFromPqIndex]],
    * the s10 lifecycle's other half): build the persisted PQ index on the
    * FULL corpus, delete the vec_id%7==3 slice by posting rewrite (no
    * retraining — codebook untouched), probe the re-read index against
    * the REMAINING corpus. Contract form as s10: recall floor 0.5
    * (measured 0.971 at the oracle SF via the harness of tools.ProbeS10,
    * last in commit afb1236 — the codebook still reflects full-corpus
    * training, which is exactly the deletion semantics), `n_codes` pins
    * that exactly the removed slice is gone, and deleted vectors can
    * never surface (their codes no longer exist). */
  def s11AnnDelete(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)
    val victims = emb.filter(pmod($"vec_id", lit(7)) === 3)
    val remaining = emb.filter(pmod($"vec_id", lit(7)) =!= 3)
    val dir = graft.util.Scratch.dir("graft_pq_del")
    val cb = Similarity.pqTrain(emb, m = 16, ksub = 64, iters = 4)
    Similarity.writePqIndex(spark, cb, Similarity.pqEncode(emb, cb), dir)
    Similarity.removeFromPqIndex(spark, dir, victims)
    val (cb2, codes2) = Similarity.readPqIndex(spark, dir)
    val q = remaining.filter($"vec_id" < 8)
    val ann = Similarity.pqTopK(q, codes2, remaining, cb2,
      k = 5, rerankFactor = 8)
    annRecallSummary(ann, Similarity.bruteForceTopK(q, remaining, 5),
        minRecall = 0.5)
      .crossJoin(codes2.agg(count(lit(1)).as("n_codes")))
      .select($"n_queries", $"n_results", $"n_codes", $"recall_ok")
  }

  /** q29 — DATA-QUALITY AUDIT ([[graft.pipeline.DataQuality]], the
    * Deequ-style "unit tests for data" pass a table runs before feeding
    * training): six declarative checks over lineitem — not-null,
    * numeric range (chosen so roughly half the rows violate), a row
    * predicate, key uniqueness, and two referential-integrity checks
    * (one clean, one against a truncated dimension so violations are
    * nonzero). All row-local checks fuse into ONE aggregation pass;
    * uniqueness is one groupBy; each FK is one anti-join. The oracle
    * replays every count in SQL — six rows, engine-exact. */
  def q29DataQuality(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import graft.pipeline.DataQuality
    DataQuality.audit(Tables.lineitem(spark, d), Seq(
      DataQuality.NotNull("l_returnflag"),
      DataQuality.InRange("l_quantity", 1.0, 25.0),
      DataQuality.Satisfies("discount_not_above_tax",
        "l_discount <= l_tax"),
      DataQuality.Unique(Seq("l_orderkey", "l_linenumber")),
      DataQuality.RefIntegrity("l_suppkey",
        Tables.supplier(spark, d), "s_suppkey", "supplier"),
      DataQuality.RefIntegrity("l_partkey",
        Tables.part(spark, d).filter($"p_partkey" < 1000), "p_partkey",
        "small_parts")))
  }

  /** q26 — LEAKAGE-SAFE train/val split: near-dup CLUSTERS (the d03/d07
    * component labels, shared pair frame) are assigned to splits
    * atomically — hash the cluster id, not the doc id — so no near-dup
    * pair ever straddles train and validation (the contamination path a
    * doc-hash split leaves open). Singletons are their own cluster. The
    * gate emits per-split totals PLUS the straddle count computed from
    * the data (must be 0), so the invariant itself is hash-checked. */
  def q26LeakageSplit(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d).filter($"doc_id" < 300)
      .select($"doc_id")
    val clustered = docs.join(
        Dedup.connectedComponents(jaccardPairsShared(spark, d))
          .select($"id".as("doc_id"), $"cluster_id"),
        Seq("doc_id"), "left_outer")
      .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("cluster"))
    // q14/q19's integer hash family, applied to the CLUSTER id
    val tagged = clustered.withColumn("split",
      when(pmod(pmod($"cluster", lit(1000003L)) * lit(2654435761L),
        lit(10L)) < 8, lit("train")).otherwise(lit("val")))
    val straddle = tagged.groupBy($"cluster")
      .agg(countDistinct($"split").as("ns"))
      .filter($"ns" > 1).agg(count(lit(1)).as("n_straddling"))
    tagged.groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"cluster").as("n_clusters"),
        sum($"doc_id").as("doc_id_sum"))
      .crossJoin(straddle)
      .orderBy($"split")
  }

  /** q27 — BALANCED shard assignment: docs ranked by token count
    * descending (doc_id tie-break) and dealt to shards in SERPENTINE
    * order (rank r → shard r%n on even passes, n-1-r%n on odd) — the
    * distributed longest-processing-time approximation that keeps shard
    * token sums near-equal where q23's hash sharding leaves size to
    * chance (shard skew = straggler training batches). Deterministic and
    * SQL-replayable: the gate hash-checks per-shard totals. The global
    * rank is [[graft.pipeline.Packing.globalRankDesc]]'s two-pass
    * distributed scan — a bare `ROW_NUMBER() OVER (ORDER BY …)` would be
    * a single-task global sort, the t08/q24 anti-pattern. */
  def q27BalancedShards(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val n = 8
    val ranked = graft.pipeline.Packing.globalRankDesc(
        Tables.documents(spark, d)
          .filter($"text".isNotNull) // null ranks diverge between engines
          .select($"doc_id", TextAnalysis.tokenCount($"text").as("n_tokens")),
        "doc_id", "n_tokens")
      .select($"id".as("doc_id"), $"n".as("n_tokens"), $"rank".as("r"))
    val shard = when((($"r" / n).cast("long") % 2) === 0, pmod($"r", lit(n)))
      .otherwise(lit(n - 1) - pmod($"r", lit(n)))
    ranked.withColumn("shard", shard.cast("int"))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("token_sum"))
      .orderBy($"shard")
  }

  /** t16 — BPE tokenizer training ([[graft.pipeline.Bpe.train]], 20
    * distributed pair-count rounds over the full documents corpus): the
    * learned merge table (rank, lhs, rhs, pair frequency at merge time).
    * Deterministic by the total argmax order (freq DESC, lhs, rhs), so the
    * DuckDB oracle re-derives the IDENTICAL merges by unrolling all 20
    * rounds — per round: position-counted pair frequencies, the same
    * argmax, and merge application as repeated first-occurrence
    * replacement in a recursive CTE (equivalent to the engine's greedy
    * left-to-right pass; see the Bpe scaladoc for the proof sketch). */
  def t16BpeTrain(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.Bpe.mergeTable(spark, bpeShared(spark, d))
      .orderBy($"rank")
  }

  /** t17 — BPE corpus encoding by vocabulary join: per document, the
    * whitespace word count and the BPE token count under the t16 vocab.
    * The encode path is the 100 TB shape — one explode + one broadcast
    * equi-join on the word key against the trained word table; no per-row
    * fold math anywhere near the corpus. */
  def t17BpeEncode(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.Bpe.encodeTokenCounts(
        Tables.documents(spark, d), bpeShared(spark, d))
      .orderBy($"doc_id")
  }

  /** t43 — BYTE-level BPE training ([[graft.pipeline.ByteBpe.train]],
    * the GPT-2/tiktoken family: Sennrich BPE over UTF-8 bytes as
    * uppercase hex-pair symbols) on documents plus the planted
    * multi-script rows, so genuinely multi-byte merges participate. The
    * oracle unrolls all [[ByteBpeRounds]] rounds over
    * `regexp_extract_all(hex(encode(word)), '..')` — the byte chain is
    * the t16 CTE machinery with the byte symbolization swapped in (one
    * parameter, not a second copy). */
  def t43ByteBpeTrain(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.Bpe.mergeTable(spark, byteBpeShared(spark, d))
      .orderBy($"rank")
  }

  /** t44 — byte-BPE encoding with planted NOVEL-SCRIPT documents: the
    * t43 model encodes the training corpus plus [[byteOovPlanted]]
    * (Greek/Hangul/astral words training never saw), so both legs run —
    * the guarded dictionary join for known words, the greedy byte kernel
    * fall-through for the novel tail — and the gate proves the family's
    * structural totality: NO UNK anywhere, a novel script costs
    * byte-granular tokens. The oracle replays the byte train chain →
    * dictionary for known words and the recursive greedy loop (lowest
    * rank first, leftmost on ties) over byte symbols for the rest. */
  /** The t44/st18 encode corpus: the byte TRAIN corpus plus the
    * novel-script OOV rows. */
  private[graft] def byteEncodeCorpus(spark: SparkSession,
      d: String): DataFrame =
    byteCorpus(spark, d).unionAll(plantedDf(spark, byteOovPlanted))

  def t44ByteBpeEncode(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.ByteBpe.encodeTokenCounts(
        byteEncodeCorpus(spark, d), byteBpeShared(spark, d))
      .orderBy($"doc_id")
  }

  /** t45 — BYTE-BPE DETOKENIZE round trip
    * ([[graft.pipeline.ByteBpe.decodeStream]]): every document of the
    * t44 corpus — the novel-script planted rows included — encodes to a
    * token stream and decodes back; per doc the reconstruction's UTF-8
    * byte length and md5. The oracle is the pretokenized normal form
    * computed DIRECTLY from the raw text (in-order concatenation of the
    * nonempty lowercased words — whitespace pretokenization drops
    * separators by construction), never touching the tokenizer: any
    * silent symbolization drift between the train and encode kernels,
    * a lossy merge, or a hex/unhex defect breaks the hash. Closes the
    * loop t44 opened — encode totality (t44) plus exact invertibility
    * (here) is the full byte-level-BPE contract. */
  def t45ByteBpeDetokenize(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val streams = graft.pipeline.ByteBpe.tokenStreams(
      byteEncodeCorpus(spark, d), byteBpeShared(spark, d))
    streams.select($"doc_id",
        graft.pipeline.ByteBpe.decodeStream($"stream").as("decoded"))
      .select($"doc_id",
        length(encode($"decoded", "UTF-8")).cast("long").as("n_bytes"),
        md5($"decoded").as("decoded_md5"))
      .orderBy($"doc_id")
  }

  private val residentIdStreams =
    Resident.memo[(DataFrame, Long)] { case (df, _) => unpersist(df) }

  /** The t26 BPE streams mapped to integer ids under the deterministic
    * vocabulary numbering (driver-sized symbol set, UTF-8-sorted via
    * Bpe.cmpUtf8 — never Scala's UTF-16 String order — as one broadcast
    * single-row map, the Bpe.train constant-plan idiom). Returns the
    * (doc_id, ids) frame and the vocabulary size. q41/q42/q43/q44/q46/
    * st19 are SIX gates over this one encode, the corpus-dominant
    * tokenize pass of the packing/shard family, so it stays resident:
    * the second-through-sixth gates reuse the first's cached frame
    * instead of re-tokenizing the corpus. */
  private[queries] def bpeIdStreams(spark: SparkSession, d: String)
      : (DataFrame, Long) =
    residentIdStreams(spark, d) {
      import spark.implicits._
      val model = bpeShared(spark, d)
      val streams = graft.pipeline.Bpe
        .tokenStreams(Tables.documents(spark, d), model)
      val syms = model.vocab.select(explode($"syms").as("s")).distinct()
        .as[String].collect()
        .sortWith((a, b) => graft.pipeline.Bpe.cmpUtf8(a, b) < 0)
      val mdf = spark.createDataFrame(Seq(
          (syms.toSeq, syms.indices.map(_.toLong).toSeq)))
        .toDF("_ks", "_vs")
        .select(map_from_arrays($"_ks", $"_vs").as("_m"))
      (streams.crossJoin(broadcast(mdf))
        .select($"doc_id",
          transform($"stream", s => element_at($"_m", s)).as("ids"))
        .cache(),
        syms.length.toLong)
    }

  /** q41 — TOKEN-SHARD BINARY SINK round trip
    * ([[graft.pipeline.TokenShards]], the Megatron `.bin`/`.idx` shape a
    * training loader memory-maps): the t26 BPE token streams map to
    * integer ids under the deterministic vocabulary numbering (symbols
    * in UTF-8 byte order, 0-based — driver-sized by construction:
    * alphabet + one symbol per merge, packed into ONE broadcast map
    * row), are written as 8 hash-placed fixed-width binary shard pairs
    * and read back through the seek-table reader. Per document: token
    * count, id sum, md5 of the id sequence, and the shard the pair
    * landed in — so a width, endianness, pointer, placement, ordering
    * or truncation defect anywhere in the binary path breaks the hash.
    * The oracle replays the merge chain → streams → the same sorted-rank
    * numbering → the ShardWriter hash, never touching the files: the
    * binary layout itself is pinned byte-level in TokenShardsSpec. */
  def q41TokenShards(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val (withIds, vocabSize) = bpeIdStreams(spark, d)
    val dir = graft.util.Scratch.dir("graft_token_shards")
    graft.pipeline.TokenShards.write(withIds, dir, nShards = 8,
      vocabSize = vocabSize)
    graft.pipeline.TokenShards.read(spark, dir)
      .select($"doc_id",
        regexp_extract($"shard_file", "shard-(\\d+)", 1).cast("long")
          .as("shard"),
        size($"ids").cast("long").as("n_tokens"),
        aggregate($"ids", lit(0L), (a, x) => a + x).as("id_sum"),
        md5(array_join(transform($"ids", x => x.cast("string")), " "))
          .as("ids_md5"))
      .orderBy($"doc_id")
  }

  /** q42 — PACKED-SEQUENCE binary shards, the step between q41 and a
    * training loader: the same id streams concat-and-chop into 512-token
    * sequences ([[graft.pipeline.Packing.packTokenIds]] — the two-pass
    * distributed prefix sum orders the corpus, never a single-task
    * window), the SEQUENCES write as 4 bin/idx shard pairs keyed by
    * seq_id and read back. Per sequence: token count (512 except the
    * final partial), id sum, id-sequence md5 — the oracle replays
    * stream → numbering → cumulative offsets → chop entirely in SQL, so
    * a drift anywhere in offset arithmetic, boundary-spanning docs, or
    * the binary round trip breaks the hash. */
  def q42PackedShards(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val (withIds, vocabSize) = bpeIdStreams(spark, d)
    val seqs = graft.pipeline.Packing.packTokenIds(withIds, 512)
    val dir = graft.util.Scratch.dir("graft_packed_shards")
    graft.pipeline.TokenShards.write(seqs, dir, nShards = 4,
      vocabSize = vocabSize, idCol = "seq_id", tokensCol = "ids")
    graft.pipeline.TokenShards.read(spark, dir)
      .select($"doc_id".as("seq_id"),
        size($"ids").cast("long").as("n_tokens"),
        aggregate($"ids", lit(0L), (a, x) => a + x).as("id_sum"),
        md5(array_join(transform($"ids", x => x.cast("string")), " "))
          .as("ids_md5"))
      .orderBy($"seq_id")
  }

  /** q43 — packed sequences WITH DOCUMENT-BOUNDARY METADATA
    * ([[graft.pipeline.Packing.packTokenIdsWithBoundaries]] + the
    * GRAFTDOC sidecar): the q42 chop also emits per-sequence source-
    * document spans (doc_id, start, len — what a loader needs to reset
    * attention/positions across boundaries instead of attending through
    * them), threads them through the `.doc` sidecar channel of the
    * binary sink, and reads them back. Per sequence: token count, id
    * md5, span count and an md5 over the `doc:start:len` span encoding —
    * so a drift in clip arithmetic, span ordering, sidecar bytes or the
    * pointer-region seek breaks the hash. The oracle replays chop AND
    * span clipping in SQL; the sidecar byte layout is pinned in
    * TokenShardsSpec. */
  def q43PackedBoundaries(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val (withIds, vocabSize) = bpeIdStreams(spark, d)
    val seqs = graft.pipeline.Packing
      .packTokenIdsWithBoundaries(withIds, 512)
    val dir = graft.util.Scratch.dir("graft_packed_bounds")
    graft.pipeline.TokenShards.write(seqs, dir, nShards = 4,
      vocabSize = vocabSize, idCol = "seq_id", tokensCol = "ids",
      segsCol = Some("segs"))
    graft.pipeline.TokenShards.read(spark, dir, boundaries = true)
      .select($"doc_id".as("seq_id"),
        size($"ids").cast("long").as("n_tokens"),
        md5(array_join(transform($"ids", x => x.cast("string")), " "))
          .as("ids_md5"),
        size($"segs").cast("long").as("n_docs"),
        md5(array_join(transform($"segs", s => concat_ws(":",
          s.getField("doc_id").cast("string"),
          s.getField("start").cast("string"),
          s.getField("len").cast("string"))), " ")).as("segs_md5"))
      .orderBy($"seq_id")
  }

  /** q44 — MEGATRON-EXACT binary shards
    * ([[graft.pipeline.TokenShards.Megatron]], the public Megatron-LM
    * `indexed_dataset.py` MMIDIDX layout a real Megatron/GPT-NeoX
    * loader mmaps unmodified): the q41 id streams write in strict mode
    * (no doc_id column — identity is POSITIONAL) and read back through
    * the split reader (2 splits per shard, exercising seek-table range
    * reads through the oracle-checked path). Per sample: shard, its
    * position within the shard, token count, id sum, id md5 — the
    * oracle replays placement (ShardWriter hash) and position
    * (ascending doc-id rank within shard); the exact header/sizes/
    * pointers/doc_idx bytes are pinned in TokenShardsSpec. */
  def q44MegatronShards(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val (withIds, vocabSize) = bpeIdStreams(spark, d)
    val dir = graft.util.Scratch.dir("graft_megatron_shards")
    graft.pipeline.TokenShards.write(withIds, dir, nShards = 4,
      vocabSize = vocabSize,
      format = graft.pipeline.TokenShards.Megatron)
    graft.pipeline.TokenShards.read(spark, dir, splitsPerShard = 2)
      .select(
        regexp_extract($"shard_file", "shard-(\\d+)", 1).cast("long")
          .as("shard"),
        $"doc_id".as("pos"),
        size($"ids").cast("long").as("n_tokens"),
        aggregate($"ids", lit(0L), (a, x) => a + x).as("id_sum"),
        md5(array_join(transform($"ids", x => x.cast("string")), " "))
          .as("ids_md5"))
      .orderBy($"shard", $"pos")
  }

  /** q45 — TRUNCATION-MINIMIZING DOCUMENT PACKING
    * ([[graft.pipeline.Packing.binPackDocs]], the "fewer truncations"
    * alternative to q42's concat-and-chop): whole documents first-fit
    * into 256-token bins in next-fit-decreasing order — docs are never
    * split (only docs over capacity pre-chop into capacity-sized
    * pieces), trading bounded per-bin waste for zero mid-document
    * truncation. Per bin: piece count, fill, waste, id sum (pins exact
    * membership) and the count of chopped pieces. The oracle replays
    * the length histogram, the single-open-bin NFD recursion (one
    * recursive-CTE step per DISTINCT length), the within-run rank and
    * the closed-form bin choice entirely in SQL — a drift anywhere in
    * the plan arithmetic or the rank order breaks the id sums. */
  def q45BinPacking(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val T = graft.pipeline.TextAnalysis
    val docs = Tables.documents(spark, d).filter($"text".isNotNull)
      .select($"doc_id",
        size(filter(T.tokens($"text"), w => w =!= ""))
          .cast("long").as("n_tokens"))
    graft.pipeline.Packing.binPackDocs(docs, 256)
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_pieces"),
        sum($"len").as("fill"),
        (lit(256L) - sum($"len")).as("waste"),
        sum($"id").as("id_sum"),
        sum(when($"chunk" > 0, 1L).otherwise(0L)).as("n_chopped"))
      .orderBy($"bin")
  }

  /** q46 — EPOCH SHUFFLE INDEX ([[graft.pipeline.Packing.epochShuffle]],
    * the Megatron `shuffle_idx` artifact): the q42 sequence ids (count
    * = ceil(total BPE tokens / 512)) permute under the seeded md5 rank,
    * persist as a hash-sharded parquet table (the loader hand-off) and
    * read back; per 64-position block: sequence count, id sum and the
    * md5 of the ids in position order — the full permutation pinned
    * block by block. The oracle replays token totals, the md5 rank and
    * the block rollup in SQL; reproducibility (same seed → same bytes,
    * any partitioning) is spec-pinned. */
  def q46EpochShuffle(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val (withIds, _) = bpeIdStreams(spark, d)
    val total = withIds.agg(sum(size($"ids")).cast("long")).head.getLong(0)
    val seqs = spark.range((total + 511L) / 512L).toDF("seq_id")
    val perm = graft.pipeline.Packing.epochShuffle(seqs, seed = 42L,
      idCol = "seq_id")
    val dir = graft.util.Scratch.dir("graft_epoch_shuffle")
    graft.pipeline.ShardWriter.writeParquet(perm, dir, nShards = 4,
      idCol = "pos")
    spark.read.parquet(dir)
      .select(expr("pos div 64").as("block"), $"pos", $"id")
      .groupBy($"block")
      .agg(count(lit(1)).as("n"),
        sum($"id").as("id_sum"),
        sort_array(collect_list(struct($"pos", $"id"))).as("arr"))
      .select($"block", $"n", $"id_sum",
        md5(array_join(transform($"arr",
          x => x.getField("id").cast("string")), " ")).as("ids_md5"))
      .orderBy($"block")
  }

  /** q47 — MEGATRON `sample_idx` ([[graft.pipeline.Packing.sampleIdx]],
    * the third and heaviest loader artifact — q44 ships the mmap'able
    * .bin/.idx, q46 the shuffle permutation; this is the strided map
    * from training-sample k to (document, offset) across 3 epochs of
    * the q42 corpus at seqLen 512, seed 42): per 64-sample block,
    * sample count, doc-index and offset sums, and the md5 of the
    * `doc_index:doc_id:doc_offset` triples in sample order — the full
    * strided mapping pinned block by block (the q46 convention). The
    * oracle replays the per-epoch md5 document shuffle, the multi-epoch
    * prefix sum and the closed-form `k·seqLen` stride entirely in SQL
    * (single-task windows allowed oracle-side; the engine uses the
    * fused two-pass scan). */
  def q47SampleIdx(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val (withIds, _) = bpeIdStreams(spark, d)
    val docs = withIds.select($"doc_id",
      size($"ids").cast("long").as("n_tokens"))
    graft.pipeline.Packing.sampleIdx(docs, 512, epochs = 3, seed = 42L)
      .select(expr("sample div 64").as("block"), $"sample",
        $"doc_index", $"doc_offset",
        concat_ws(":", $"doc_index".cast("string"),
          $"doc_id".cast("string"),
          $"doc_offset".cast("string")).as("t"))
      .groupBy($"block")
      .agg(count(lit(1)).as("n"),
        sum($"doc_index").as("di_sum"),
        sum($"doc_offset").as("off_sum"),
        sort_array(collect_list(struct($"sample", $"t"))).as("arr"))
      .select($"block", $"n", $"di_sum", $"off_sum",
        md5(array_join(transform($"arr", x => x.getField("t")), " "))
          .as("sx_md5"))
      .orderBy($"block")
  }

  /** q48 — EOD-SEPARATED packed sequences with boundaries (the q43
    * artifact under [[graft.pipeline.Packing.packTokenIdsWithBoundaries]]'
    * `eodId` contract — production GPT packing interleaves
    * `<|endoftext|>` between documents; the separator id is vocabSize,
    * the appended special token, and each doc's boundary span covers
    * its n+1 tokens including its separator, so spans still tile every
    * sequence exactly). Same write/read round trip and rollups as q43,
    * shard width sized for vocabSize+1. The oracle appends the
    * separator in SQL (list_append with the replayed vocab size) and
    * reruns the SHARED chop + span-clip replay — a drift anywhere in
    * the separator arithmetic breaks both md5s. */
  def q48EodPacking(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val (withIds, vocabSize) = bpeIdStreams(spark, d)
    val seqs = graft.pipeline.Packing
      .packTokenIdsWithBoundaries(withIds, 512, eodId = Some(vocabSize))
    val dir = graft.util.Scratch.dir("graft_eod_packing")
    graft.pipeline.TokenShards.write(seqs, dir, nShards = 4,
      vocabSize = vocabSize + 1L, idCol = "seq_id", tokensCol = "ids",
      segsCol = Some("segs"))
    graft.pipeline.TokenShards.read(spark, dir, boundaries = true)
      .select($"doc_id".as("seq_id"),
        size($"ids").cast("long").as("n_tokens"),
        md5(array_join(transform($"ids", x => x.cast("string")), " "))
          .as("ids_md5"),
        size($"segs").cast("long").as("n_docs"),
        md5(array_join(transform($"segs", s => concat_ws(":",
          s.getField("doc_id").cast("string"),
          s.getField("start").cast("string"),
          s.getField("len").cast("string"))), " ")).as("segs_md5"))
      .orderBy($"seq_id")
  }

  /** q49 — the MIXTURE→PACK→SHARD capstone (the q38 pattern for the
    * packing family): the q32 temperature draw (α = 0.5, 300-doc
    * budget — the SHARED [[mixTargets]] arithmetic and the same
    * two-pass per-language rank) selects the training mixture, the
    * kept documents' id streams pack with EOD separators and boundary
    * spans, ride the binary sink and come back — one gate proving
    * draw → pack → shard end to end. Oracle: the q32 draw CTEs →
    * the shared id-stream replay restricted to kept docs → the shared
    * separator-append + chop + span replay. */
  def q49MixturePack(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, d).filter($"text".isNotNull)
    val kept = graft.pipeline.Packing
      .groupRankAsc(base.select($"lang", $"doc_id"), "lang", "doc_id")
      .join(broadcast(mixTargets(base)), "g")
      .filter($"rk" <= $"target")
      .select($"id".as("doc_id"))
    val (withIds, vocabSize) = bpeIdStreams(spark, d)
    val seqs = graft.pipeline.Packing.packTokenIdsWithBoundaries(
      withIds.join(kept, "doc_id"), 512, eodId = Some(vocabSize))
    val dir = graft.util.Scratch.dir("graft_mixture_pack")
    graft.pipeline.TokenShards.write(seqs, dir, nShards = 4,
      vocabSize = vocabSize + 1L, idCol = "seq_id", tokensCol = "ids",
      segsCol = Some("segs"))
    graft.pipeline.TokenShards.read(spark, dir, boundaries = true)
      .select($"doc_id".as("seq_id"),
        size($"ids").cast("long").as("n_tokens"),
        md5(array_join(transform($"ids", x => x.cast("string")), " "))
          .as("ids_md5"),
        size($"segs").cast("long").as("n_docs"),
        md5(array_join(transform($"segs", s => concat_ws(":",
          s.getField("doc_id").cast("string"),
          s.getField("start").cast("string"),
          s.getField("len").cast("string"))), " ")).as("segs_md5"))
      .orderBy($"seq_id")
  }

  /** t46 — GPT-2-EXACT pretokenization and the DETOKENIZE IDENTITY
    * ([[graft.pipeline.Gpt2.pretokenize]] +
    * [[graft.pipeline.ByteBpe.pretokStreams]]): t45 proved the
    * whitespace-pretokenized round trip lossless up to a NORMAL FORM;
    * here the GPT-2 split (contractions, space-prefixed runs, the
    * donated-space whitespace rule) preserves separators and case, so
    * `decodeStream(pretokStreams(x)) == x` EXACTLY — decoded_md5 is
    * md5 of the RAW text (the oracle never runs the tokenizer), astral
    * and planted fix-up rows included. n_pieces/pieces_md5 pin the
    * SEGMENTATION itself cross-engine: the oracle replays the
    * lookahead-free split regex and the fix-up lambda in RE2/DuckDB. */
  def t46Gpt2Pretokenize(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val corpus = gpt2Corpus(spark, d).filter($"text".isNotNull)
    // ONE pinned split frame (two-projection form — see
    // Gpt2.pretokenized) feeds the piece stats AND the encode legs
    val pieces = graft.pipeline.Gpt2
      .pretokenized(corpus, "doc_id", "text", "ps")
      .localCheckpoint(false)
    val streams = graft.pipeline.ByteBpe.encodePieces(
      pieces, byteBpeShared(spark, d), piecesCol = "ps")
    pieces.join(streams, "doc_id")
      .select($"doc_id",
        size($"ps").cast("long").as("n_pieces"),
        md5(array_join(transform($"ps", p => md5(p)), " "))
          .as("pieces_md5"),
        graft.pipeline.ByteBpe.decodeStream($"stream").as("decoded"))
      .select($"doc_id", $"n_pieces", $"pieces_md5",
        length(encode($"decoded", "UTF-8")).cast("long").as("n_bytes"),
        md5($"decoded").as("decoded_md5"))
      .orderBy($"doc_id")
  }

  /** q50 — the `doc_idx` ARTIFACT round-tripped through `.npy`
    * ([[graft.pipeline.Packing.epochDocOrder]] +
    * [[graft.pipeline.Npy.write]]/[[graft.pipeline.Npy.read]]): the
    * multi-epoch shuffled document order (3 epochs, seed 42 — the
    * table q47's sample coordinates index into) writes as an (N,3)
    * int64 numpy file and is read BACK FROM THE BYTES — so a
    * placement, stitch-order, width, endianness or header drift
    * anywhere in the npy path breaks the md5s, not just the spec's
    * hand parse. Per 64-row block: row count, doc-id and token sums,
    * and the md5 of `doc_id:n:tok_start` triples in doc_index order.
    * The oracle replays the per-epoch md5 shuffle and the prefix sum
    * (the SHARED q47 fragments) — it never sees the file. */
  def q50DocOrderNpy(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val (withIds, _) = bpeIdStreams(spark, d)
    val lens = withIds.select($"doc_id",
      size($"ids").cast("long").as("n_tokens"))
    val order = graft.pipeline.Packing.epochDocOrder(lens, 3, 42L)
    val dir = graft.util.Scratch.dir("graft_doc_idx_npy")
    graft.pipeline.Npy.write(order, s"$dir/doc_idx.npy", "doc_index",
      Seq("doc_id", "n", "tok_start"), "<i8")
    graft.pipeline.Npy.read(spark, s"$dir/doc_idx.npy")
      .select(expr("row div 64").as("block"), $"row", $"c0", $"c1",
        concat_ws(":", $"c0".cast("string"), $"c1".cast("string"),
          $"c2".cast("string")).as("t"))
      .groupBy($"block")
      .agg(count(lit(1)).as("n"),
        sum($"c0").as("id_sum"),
        sum($"c1").as("tok_sum"),
        sort_array(collect_list(struct($"row", $"t"))).as("arr"))
      .select($"block", $"n", $"id_sum", $"tok_sum",
        md5(array_join(transform($"arr", x => x.getField("t")), " "))
          .as("ord_md5"))
      .orderBy($"block")
  }

  /** The t46 corpus: the byte-BPE encode corpus (multi-script planted
    * rows included) plus rows pinning every pretokenizer fix-up branch
    * — donated spaces before letters/digits/punct/contractions, the
    * contraction-splits-into-following-letters case, tab/newline
    * donations, Unicode whitespace, case preservation, trailing
    * whitespace. */
  private[graft] val gpt2Planted: Seq[(Long, String)] = Seq(
    4000001L -> "It's we're I'd they'll 'tis o'clock",
    4000002L -> "a  b c   d e\tf g \th",
    4000003L -> "x  's y  'sa z  'd9 w  've",
    4000004L -> "Num 42, price 3.50!  Weird   spacing ",
    4000005L -> "nb\u00A0sp wide\u3000space em\u2003space ogham\u1680mark",
    4000006L -> "line\nbreaks\n\n  double  and CRLF\r\n end",
    4000007L -> "UPPER Case MiXeD 😀emoji 𠀀astral  '... ''quoted''")

  private def gpt2Corpus(spark: SparkSession, d: String): DataFrame =
    byteEncodeCorpus(spark, d).unionAll(plantedDf(spark, gpt2Planted))

  private[queries] lazy val gpt2CorpusSql: String =
    s"""($byteEncodeCorpusSql
       |  UNION ALL ${plantedSql(gpt2Planted)})""".stripMargin

  /** d16 — exact-substring dedup ([[Dedup.exactSubstrSpans]], the Lee et
    * al. ACL'22 ExactSubstr removal operator, min duplicated length 40
    * chars): per document with any duplicated span, the maximal-span
    * count, removed-character total and longest span — all integers, so
    * the DuckDB oracle (same positions → dup windows → interval merge in
    * plain SQL) hash-matches exactly. */
  def d16ExactSubstr(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    exactSpansShared(spark, d)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum($"span_end" - $"span_start" + 1).as("removed_chars"),
        max($"span_end" - $"span_start" + 1).as("max_span_len"))
      .orderBy($"doc_id")
  }

  /** d18 — exact-substring span REMOVAL ([[Dedup.removeSpans]], the back
    * half of the Lee et al. ExactSubstr pipeline): cut the d16 spans out
    * of the normalized text and emit the cleaned corpus — per document
    * the original and cleaned lengths plus an md5 of the cleaned text, so
    * the oracle pins the SPLICED STRING itself, not just its size. Spans
    * come from the d16-shared resident frame (one position shuffle feeds
    * both gates); the per-doc span lists broadcast under the LimitProbe
    * guard, so the corpus never shuffles to be spliced. */
  def d18SpanRemoval(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Dedup.removeSpans(Tables.documents(spark, d), exactSpansShared(spark, d))
      .select($"doc_id", length($"t").cast("long").as("orig_len"),
        length($"clean").cast("long").as("clean_len"),
        md5($"clean").as("clean_md5"))
      .orderBy($"doc_id")
  }

  /** q30 — hashed-bigram linear quality/tier classifier
    * ([[graft.pipeline.QualityClassifier.nbTrainScore]], the
    * CCNet/fastText filter class): trained on the even-doc_id half to
    * predict the corpus's synthetic tier column (lang = 'en'), scored on
    * the held-out half; per-label document counts, positive predictions
    * and integer micro-log-odds sums. Everything after the two ln-of-
    * integer weight tables is integer arithmetic, so the DuckDB oracle
    * (same hash, same counts, same fixed-point rounding) hash-matches. */
  def q30QualityClassifier(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.QualityClassifier.nbTrainScore(
        Tables.documents(spark, d),
        label = when($"lang" === "en", 1).otherwise(0),
        isTrain = pmod($"doc_id", lit(2)) === 0)
      .filter(!$"is_train")
      .groupBy($"label")
      .agg(count(lit(1)).as("n_docs"),
        count(when($"pred" === 1, 1)).as("n_pred_pos"),
        sum($"score").as("score_sum"))
      .orderBy($"label")
  }

  /** t18 — BPE-TOKENIZED sequence packing: the tokenize→pack composition
    * that IS the pretraining data job — per-doc BPE token counts under
    * the t16 vocab ([[graft.pipeline.Bpe.encodeTokenCounts]], broadcast
    * vocab join) feed the two-pass distributed prefix sum
    * ([[graft.pipeline.Packing.packStats]], never a single-task global
    * window) chopping the corpus into 256-token training sequences.
    * Oracle: the t16 unrolled-merge chain + the t08 cumulative-window
    * replay, all integers. */
  def t18BpePacking(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val counts = graft.pipeline.Bpe.encodeTokenCounts(
      Tables.documents(spark, d), bpeShared(spark, d))
    graft.pipeline.Packing.packStats(counts, 256, "doc_id", "n_bpe_tokens")
      .orderBy($"seq_id")
  }

  /** t20 — DEEP BPE train through the BATCHED merge loop
    * ([[graft.pipeline.Bpe.train]] with its symbol-disjoint argmax-prefix
    * batching): [[BpeDeepRounds]] merges — as close to this corpus's
    * 89-merge pair exhaustion as the oracle's non-empty-argmax assumption
    * allows (see BpeDeepRounds) — replayed merge-for-merge by the same
    * unrolled DuckDB chain as t16. The batched path is spec-pinned equal
    * to maxBatch=1 sequential training, so this gate certifies the
    * production shape: a real 32k-vocab train runs ~numMerges/avgBatch
    * driver rounds, each vocabulary-sized. */
  def t20BpeDeepTrain(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val m = bpeDeepShared(spark, d)
    // the batching win (driver rounds ≪ merges) rides along as a pinned
    // column: the oracle expects [[BpeDeepDriverRounds]], so a regression
    // that silently degrades the batch rule to sequential (85 rounds)
    // fails the gate, not just a rehearsal printout
    graft.pipeline.Bpe.mergeTable(spark, m)
      .withColumn("driver_rounds", lit(m.driverRounds.toLong))
      .orderBy($"rank")
  }

  /** q33 — token-budget fill measured in REAL BPE TOKENS (the t18
    * composition applied to q24's budget shape): spend half the corpus's
    * BPE-token budget on the docs that tokenize most efficiently —
    * fewest subword tokens per whitespace word, the compression-ratio
    * quality signal (noisy/garbled text fragments into many subwords).
    * Token counts come from the t16 vocab via the broadcast dictionary
    * join; the running total is [[graft.pipeline.Packing.budgetFill]]'s
    * two-pass distributed scan (never a single-task global window). The
    * ratio is ONE double division of exact integers — bit-identical on
    * both engines — and the oracle replays the whole chain: unrolled
    * merges → per-doc counts → cumulative window → per-source rollup. */
  def q33BpeBudgetFill(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    // pinned: read twice (the budget aggregate AND budgetFill's sorted
    // scan) — unpinned, each action would re-run the corpus-dominant
    // explode + vocab join
    val counts = graft.pipeline.Bpe
      .encodeTokenCounts(docs, bpeShared(spark, d))
      .select($"doc_id",
        ($"n_words".cast("double") / $"n_bpe_tokens").as("q"),
        $"n_bpe_tokens")
      .localCheckpoint(true)
    val budget = counts.agg(sum($"n_bpe_tokens")).head().getLong(0) / 2
    graft.pipeline.Packing
      .budgetFill(counts, "doc_id", "n_bpe_tokens", "q", budget)
      .join(docs.select($"doc_id".as("id"), $"source"), Seq("id"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        count(when($"kept", 1)).as("n_kept"),
        coalesce(sum(when($"kept", $"id")), lit(0L)).as("kept_id_sum"),
        coalesce(sum(when($"kept", $"n")), lit(0L)).as("kept_bpe_sum"))
      .orderBy($"source")
  }

  /** t21 — UNIGRAM-LM tokenizer training ([[graft.pipeline.Unigram
    * .train]], the SentencePiece model family, Kudo ACL 2018): three
    * hard-EM rounds over the corpus — substring seed, per-distinct-word
    * Viterbi recount, zero-usage prune — emitting the final vocabulary
    * (piece, Viterbi count, integer micro-log-prob). Everything after
    * the two ulp-identical `ln`s is integer arithmetic, so the DuckDB
    * oracle replays the WHOLE EM chain (seed CTE → per-round score map →
    * recursive-CTE Viterbi DP with the same (total, piece-length)
    * tie-break → backtrack → prune) and hash-matches exactly. */
  def t21UnigramTrain(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.Unigram.vocabTable(spark, unigramShared(spark, d))
      .orderBy($"piece")
  }

  /** t22 — unigram-LM corpus encoding by dictionary join: per document,
    * the whitespace word count and the Viterbi piece count under the t21
    * vocabulary. Same 100 TB shape as t17 — Viterbi runs once per
    * DISTINCT word (map-side, vocabulary-sized); the corpus pays one
    * explode + one broadcast equi-join. Oracle: the t21 chain plus one
    * more Viterbi pass under the final scores, joined to the exploded
    * corpus. */
  def t22UnigramEncode(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.Unigram.encodeTokenCounts(
        Tables.documents(spark, d), unigramShared(spark, d))
      .orderBy($"doc_id")
  }

  /** t23 — interpolated KNESER-NEY bigram LM score
    * ([[graft.pipeline.TextAnalysis.knBigramScore]], D = 0.75): the
    * CCNet/KenLM-class perplexity filter t13's add-nothing MLE stands in
    * for, with absolute discounting and continuation-unigram backoff.
    * Full value oracle — the SQL replays discount + backoff arithmetic
    * in the identical parenthesization and folds the per-doc sum in
    * position order (the t13 conventions). */
  def t23KnLmScore(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.TextAnalysis.knBigramScore(Tables.documents(spark, d))
      .orderBy($"doc_id")
  }

  /** t24 — interpolated Kneser-Ney TRIGRAM LM score
    * ([[graft.pipeline.TextAnalysis.knTrigramScore]]): the full
    * recursive backoff chain — discounted trigram over continuation-
    * count bigram over continuation unigram, every statistic derived
    * from one trigram-type table (Chen & Goodman's formulation; KenLM
    * runs this recursion to order 5). Full value oracle with the
    * identically-nested arithmetic and position-ordered fold. */
  def t24Kn3LmScore(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.TextAnalysis.knTrigramScore(Tables.documents(spark, d))
      .orderBy($"doc_id")
  }

  /** t28 — interpolated Kneser-Ney ORDER-4 LM score
    * ([[graft.pipeline.TextAnalysis.knNGramScore]] at order 4): the
    * generalized backoff-chain builder t23/t24 are orders 2/3 of, one
    * layer from KenLM's production order 5 — discounted raw 4-grams over
    * two continuation-count layers over the continuation unigram, every
    * statistic cascading from ONE 4-gram-type table. Full value oracle
    * with the identically-nested arithmetic, position-ordered fold,
    * round 4 dp (MATERIALIZED CTEs — the t24 runaway-plan lesson). */
  def t28Kn4LmScore(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.TextAnalysis.knNGramScore(Tables.documents(spark, d),
        4, nCol = "n_4grams", avgCol = "avg_kn4_logprob")
      .orderBy($"doc_id")
  }

  /** t33 — interpolated Kneser-Ney ORDER-5 LM score: KenLM's production
    * order, straight from the same generalized chain builder as
    * t23/t24/t28 — three continuation-count layers under the raw
    * 5-grams. Same exactness conventions; oracle = the t28 chain plus
    * one more MATERIALIZED continuation layer. */
  def t33Kn5LmScore(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.TextAnalysis.knNGramScore(Tables.documents(spark, d),
        5, nCol = "n_5grams", avgCol = "avg_kn5_logprob")
      .orderBy($"doc_id")
  }

  /** t38 — CCNet perplexity bucketing ([[graft.pipeline.TextAnalysis
    * .perplexityBuckets]], Wenzek et al. 2020: the head/middle/tail LM
    * filter every crawl corpus runs): per (language, tier), document
    * count, doc_id sum (pins exact tier MEMBERSHIP — the d20
    * selection-verifying idiom) and bigram sum. Tier = NTILE(3) within
    * language over (avg KN-bigram log-prob DESC, doc_id) — a cross-engine
    * total order (rounded score per the t23 conventions). The map-side
    * production twin ([[graft.pipeline.TextAnalysis
    * .assignPerplexityBuckets]]) is spec-pinned to reproduce this exact
    * form under the exact boundary tuples. */
  def t38PerplexityBuckets(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.TextAnalysis.perplexityBuckets(
        Tables.documents(spark, d), 3)
      .groupBy($"lang", $"bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"doc_id").as("id_sum"),
        sum($"n_bigrams").as("bigram_sum"))
      .orderBy($"lang", $"bucket")
  }

  /** q40 — count-min-sketch heavy-hitter estimates
    * ([[graft.pipeline.Sketches]], Cormode & Muthukrishnan 2005): the
    * d=4×w=1024 counter grid built over every word occurrence (a FIXED
    * footprint no matter the corpus — the mergeable-sketch answer to
    * frequency estimation at 100 TB), probed for the exact top-20 words;
    * per word the exact count and the CMS estimate (structurally ≥ exact;
    * equality on this corpus pins the hash arithmetic bucket-for-bucket).
    * FULL-value oracle — the row hashes are the replayable d13 polynomial
    * family, so DuckDB rebuilds the identical grid and estimates. */
  def q40CmsHeavyHitters(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // + astral rows: 1,000 planted `😀𠀀` occurrences put an astral
    // word IN the probed top-20, so both the grid and the estimate leg
    // hash beyond-BMP input on both engines
    val docs = astralDocs(spark, d)
    val cms = graft.pipeline.Sketches.cmsBuild(docs)
    val toks = graft.pipeline.Sketches.wordOccurrences(docs)
    val top = toks.groupBy($"word").agg(count(lit(1)).as("exact_cnt"))
      .orderBy($"exact_cnt".desc, $"word").limit(20)
    graft.pipeline.Sketches.cmsEstimate(cms, top)
      .orderBy($"exact_cnt".desc, $"word")
  }

  /** t41 — the CCNet bucketing PRODUCTION PATH gated end-to-end: the
    * map-side [[graft.pipeline.TextAnalysis.assignPerplexityBuckets]]
    * twin (broadcast per-language boundary tuples, no window over the
    * corpus) must reproduce t38's per-(lang, tier) rollup EXACTLY —
    * oracle shared verbatim. Boundaries are derived in-gate from the
    * exact NTILE form (the spec's max-(−score, id) tuple per bucket),
    * which at production scale is the sampled/frozen-LM step; the
    * ASSIGNMENT — the part that touches the whole corpus — is the thing
    * under test, and it runs windowless. */
  def t41PerplexityAssign(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    // pinned ONCE: the cutoffs collect below and the assignment pass
    // would otherwise each re-run the whole KN scoring chain + window
    val exact = graft.pipeline.TextAnalysis.perplexityBuckets(docs, 3)
      .localCheckpoint(true)
    val cutoffs = exact.filter($"bucket" < 3)
      .groupBy($"lang", $"bucket")
      .agg(max(struct(($"avg_kn_logprob" * -1).as("ns"),
        $"doc_id".as("i"))).as("b"))
      .select($"lang", $"bucket", ($"b.ns" * -1).as("s"), $"b.i".as("i"))
      .collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.sortBy(_.getLong(1))
        .map(r => (r.getDouble(2), r.getLong(3))).toSeq).toMap
    graft.pipeline.TextAnalysis.assignPerplexityBuckets(
        exact.drop("bucket"), cutoffs)
      .groupBy($"lang", $"bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"doc_id").as("id_sum"),
        sum($"n_bigrams").as("bigram_sum"))
      .orderBy($"lang", $"bucket")
  }

  /** t42 — WordPiece TOKENIZATION to actual token STREAMS (the t26
    * analogue for the third family; [[graft.pipeline.Wordpiece
    * .tokenStreams]]): per document, the in-order piece-sequence length
    * and an md5 of the space-joined stream under the no-q t36 model —
    * `[UNK]` sentinels land IN the stream, so the hash pins the
    * unmatchable-word rule, the `##` positional forms and the ordering
    * all at once. Oracle: the walk CTE accumulates pieces; streams
    * assemble as flatten(list(pieces ORDER BY pos)), the t26 idiom. */
  def t42WordpieceTokenize(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.Wordpiece
      .tokenStreams(Tables.documents(spark, d), wordpieceShared(spark, d))
      .select($"doc_id", size($"stream").cast("long").as("n_tokens"),
        md5(array_join($"stream", " ")).as("tokens_md5"))
      .orderBy($"doc_id")
  }

  /** t36 — WORDPIECE tokenizer training ([[graft.pipeline.Wordpiece
    * .train]], the BERT trainer: [[WpRounds]] likelihood-scored merge
    * rounds over the no-'q' distinct-word table — see [[wordpieceShared]]
    * for the subset rationale): the learned merge table (rank, lhs, rhs,
    * pair frequency at merge time). Deterministic by the total argmax
    * order (score DESC, lhs, rhs) — the score is ONE IEEE division of
    * exact integer-valued doubles, identical in both engines — so the
    * DuckDB oracle re-derives the IDENTICAL merges by unrolling all
    * rounds: per round, symbol counts, position-counted pair frequencies,
    * the scored argmax, and `##`-stripping merge application as repeated
    * first-occurrence replacement (the t16 equivalence argument carries
    * verbatim — only the merged VALUE differs). */
  def t36WordpieceTrain(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.Wordpiece.mergeTable(spark, wordpieceShared(spark, d))
      .orderBy($"rank")
  }

  /** t37 — WordPiece corpus encoding with the `[UNK]` whole-word rule
    * ([[graft.pipeline.Wordpiece.encodeTokenCounts]]): the full corpus
    * encoded under the no-q t36 model, so every q-carrying word exercises
    * greedy-walk failure → single `[UNK]` token. Per doc: whitespace word
    * count, WordPiece token count (UNK words contribute one), UNK-word
    * count. The 100 TB shape: the greedy walk runs once per DISTINCT word
    * under the broadcast driver-sized vocab; the corpus sees one guarded
    * equi-join. Oracle: the t36 chain → vocabulary (alphabet + merges) as
    * one MAP row → a recursive longest-match walk per distinct word
    * (candidate lengths filtered through the map probe, list_sort's last
    * element = the longest hit, no hit = UNK) → the corpus rollup. */
  def t37WordpieceEncode(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.Wordpiece.encodeTokenCounts(
        Tables.documents(spark, d), wordpieceShared(spark, d))
      .orderBy($"doc_id")
  }

  /** t39 — WordPiece PERSISTED-MODEL round trip (the t31/t32 lifecycle
    * posture): write the t36 model with [[graft.pipeline.Wordpiece
    * .writeModel]], read it back cold, encode the full corpus with the
    * RE-READ model against t37's oracle verbatim — a lossy round trip of
    * the merge list, the vocabulary set, or the `##` positional forms
    * flips segmentations (or UNK decisions) and fails the hash compare. */
  def t39WordpieceModelIo(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("wp_model_io").toString
    graft.pipeline.Wordpiece.writeModel(spark, wordpieceShared(spark, d), dir)
    val model = graft.pipeline.Wordpiece.readModel(spark, dir)
    graft.pipeline.Wordpiece.encodeTokenCounts(
        Tables.documents(spark, d), model)
      .orderBy($"doc_id")
  }

  /** t27 — SentencePiece PRUNING ([[graft.pipeline.Unigram.prune]], the
    * shrink half of Kudo 2018's loop t21's EM alone doesn't run): every
    * multi piece is loss-ranked by count × (own score − best
    * leave-one-out re-encoding of its own string), the top
    * [[UmPruneTarget]] survive with all singles, and one E-step
    * re-estimates counts. Integer micro-log-prob arithmetic throughout,
    * so the oracle replays the leave-one-out DP (the excluded piece can
    * only match its own full span — a CASE inside the candidate lambda),
    * the loss ranking, and the restricted E-step exactly. */
  def t27UnigramPrune(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.Unigram.vocabTable(spark,
        graft.pipeline.Unigram.prune(Tables.documents(spark, d),
          unigramShared(spark, d), UmPruneTarget))
      .orderBy($"piece")
  }

  /** The planted-OOV encode corpus for t29: every documents row, plus —
    * for the doc_id % 50 == 0 slice — a twin at doc_id + 1000000 with
    * every word REVERSED. Reversed words are novel under the t16 vocab
    * (except palindromes like 'a', deliberately kept: the known/OOV
    * split must interleave within one document), so the twin rows
    * exercise the OOV greedy fall-through while the originals ride the
    * dictionary join. */
  private def oovCorpus(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text")).unionAll(
      docs.filter(pmod(col("doc_id"), lit(50)) === 0)
        .filter(col("text").isNotNull)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          array_join(
            transform(graft.pipeline.TextAnalysis.tokens(col("text")),
              w => reverse(w)), " ").as("text")))

  /** t29 — BPE encoding with PLANTED OOV documents: the t16 model
    * encodes a corpus holding word-reversed twins of a document slice,
    * so the batch path's two legs both run — the dictionary hit for
    * known words, the left-outer fall-through into the merge-priority
    * greedy kernel ([[graft.pipeline.Bpe.encodeWordGreedy]]) for the
    * novel tail — and
    * `n_words` proves the total contract (every whitespace word counts,
    * known or not). The oracle replays BOTH legs: the t16 merge chain →
    * dictionary for known words, and a recursive-CTE greedy loop
    * (lowest-rank adjacent pair first, leftmost on ties) for the OOV
    * words. Batch == stream on this corpus is spec-pinned in BpeSpec. */
  def t29BpeOovEncode(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.Bpe.encodeTokenCounts(
        oovCorpus(Tables.documents(spark, d)), bpeShared(spark, d))
      .orderBy($"doc_id")
  }

  /** t30 — unigram-LM encoding across an ALPHABET GAP: the model trains
    * only on documents without the letter 'q' (115 of 500 at the verify
    * SF — a 24-char alphabet), then encodes the FULL corpus, so every
    * 'q' in the other 385 documents segments through the
    * [[graft.pipeline.Unigram.UnkUlogp]] char-fallback (SentencePiece's
    * byte_fallback in the char domain) instead of failing the job. The
    * oracle replays the whole no-q EM chain plus one fallback-enabled
    * Viterbi pass over the full-corpus word table. */
  def t30UnigramOovEncode(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.Unigram.encodeTokenCounts(
        Tables.documents(spark, d), unigramNoQShared(spark, d))
      .orderBy($"doc_id")
  }

  /** The planted-PII corpus for d19: the synthetic documents hold no
    * addresses, so the scrub would be vacuous on them — deterministic
    * email+IP tails ride the doc_id % 7 == 0 slice and a phone tail the
    * % 11 == 0 slice (doc_id 0 carries all three — the multi-kind
    * interaction row), replayed verbatim by the oracle's CASE concat. */
  private def piiCorpus(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull).select(col("doc_id"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com from 10.0."),
            pmod(col("doc_id"), lit(256)).cast("string"), lit(".1")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0,
          lit(" call 555-867-5309 now")).otherwise(lit("")))
        .as("text"))

  /** The HTML-wrapped corpus for t34/q38: every document's text —
    * entity-escaped, so round-tripping exercises the decode rules —
    * planted inside deterministic page chrome that exercises every
    * extraction rule: a comment holding tag text that must not leak, a
    * style block whose `#fff` would corrupt Gopher symbol counts if it
    * leaked, a script whose body holds a literal `</div>` and an
    * unbracketed `<` (the delimiter traps), block tags (title/h1/p/div)
    * that must become newlines, and chrome entities (`&amp;` decodes,
    * `&copy;` is outside the documented named set and stays literal).
    * Single-line chrome: the only newlines in the extract come from the
    * block-tag rule, so the expected shape is fully pinned. */
  private def htmlCorpus(docs: DataFrame): DataFrame = {
    val esc = regexp_replace(regexp_replace(regexp_replace(
      col("text"), "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    docs.filter(col("text").isNotNull).select(col("doc_id"),
      concat(
        lit("<html><!-- nav <p>skip</p> --><head><title>Doc "),
        col("doc_id").cast("string"),
        lit("</title><style type=\"text/css\">body { color: #fff }" +
          "</style><script>var s = \"</div>\"; if (1 < 2) { go(); }" +
          "</script></head><body><h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1><p>"), esc,
        lit("</p><div class=\"footer\">&copy; corpus &amp; co</div>" +
          "</body></html>")).as("html"))
  }

  /** d19 — PII SCRUB ([[graft.pipeline.TextAnalysis.piiScrub]], the
    * C4/RefinedWeb regex-redaction stage): per document the email /
    * phone / IPv4 match counts and the md5 of the redacted text, over
    * the planted-PII corpus — the same canonical patterns and redaction
    * tokens as t10's per-source audit (one pattern set engine-wide).
    * Pure map-side codegen'd regexp work; the oracle replays the plant
    * and the staged scrub in the shared Java-and-RE2-agreeing dialect. */
  def d19PiiScrub(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.TextAnalysis
      .piiScrub(piiCorpus(Tables.documents(spark, d)))
      .orderBy($"doc_id")
  }

  /** t34 — HTML→TEXT EXTRACTION ([[graft.pipeline.TextAnalysis
    * .htmlToText]], the trafilatura/jusText-class stage between a WARC
    * response payload and `documents.text`): the documents table wrapped
    * in [[htmlCorpus]]'s rule-exercising page chrome, extracted back,
    * reported as per-doc char count + md5 — the oracle replays the WRAP
    * and the full extraction chain (comment/script/style strip, block
    * tags → newlines, tag removal, staged entity decode, whitespace
    * normalization) in the shared Java-and-RE2-agreeing dialect, so a
    * single leaked style byte or a mis-ordered entity decode hash-fails
    * every row. Pure map-side codegen'd regexp work. */
  def t34HtmlExtract(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.TextAnalysis
      .htmlExtract(htmlCorpus(Tables.documents(spark, d)))
      .select($"doc_id", length($"text").cast("long").as("n_chars"),
        md5($"text").as("text_md5"))
      .orderBy($"doc_id")
  }

  /** t31 — unigram encode through the PERSISTED-MODEL lifecycle (the
    * s07/s10 build-once / encode-many pattern on the tokenizer side):
    * write the t21 model with [[graft.pipeline.Unigram.writeModel]],
    * read it back, and encode the corpus from the RE-READ model — a
    * lossy parquet round trip (scores, counts, or the maxPieceLen meta)
    * would flip segmentations and fail the t22 oracle this gate shares
    * verbatim. */
  def t31UnigramModelIo(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = graft.util.Scratch.dir("graft_um_model")
    graft.pipeline.Unigram.writeModel(spark, unigramShared(spark, d), dir)
    val m2 = graft.pipeline.Unigram.readModel(spark, dir)
    graft.pipeline.Unigram.encodeTokenCounts(Tables.documents(spark, d), m2)
      .orderBy($"doc_id")
  }

  /** t32 — BPE encode through the PERSISTED-MODEL lifecycle (t31's twin
    * on the BPE side): write the t16 model with
    * [[graft.pipeline.Bpe.writeModel]], read it back, and encode from
    * the RE-READ model against t17's oracle verbatim — the merge list
    * (feeding the OOV greedy leg's rank map) and the encoded vocabulary
    * (the dictionary join side) must both survive the parquet round
    * trip exactly. */
  def t32BpeModelIo(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = graft.util.Scratch.dir("graft_bpe_model")
    graft.pipeline.Bpe.writeModel(spark, bpeShared(spark, d), dir)
    val m2 = graft.pipeline.Bpe.readModel(spark, dir)
    graft.pipeline.Bpe.encodeTokenCounts(Tables.documents(spark, d), m2)
      .orderBy($"doc_id")
  }

  /** q36 — WARC corpus ingest through the native DataSource V2 connector
    * ([[graft.sources.warc.WarcDataSource]], `format("warc")` — the
    * web-crawl interchange format a pretraining pipeline's ingest starts
    * from): the gate renders the documents table into two .warc segment
    * files (split by doc parity — two input partitions — plus a
    * `warcinfo` header record the pushed `record_type = 'response'`
    * filter must drop inside the reader), reads them back through the
    * connector, and emits per-document byte length and payload md5 —
    * the oracle recomputes both straight from the documents table, so a
    * parse that mis-splits a record (payload extent is Content-Length-
    * driven, never delimiter-scanned) hash-fails. The FIXTURE writer is
    * driver-side by design (test-input construction, the GitHistory
    * precedent); the CONNECTOR is the operator under test and reads on
    * executors. */
  def q36WarcIngest(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d).filter($"text".isNotNull)
      .select($"doc_id", $"text").orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val dir = graft.util.Scratch.dir("graft_warc")
    def fileBytes(part: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      if (part == 0)
        bos.write(graft.sources.warc.Warc.renderRecord("warcinfo",
          "<urn:uuid:graft-warcinfo>", "", "2026-01-01T00:00:00Z",
          "software: graft".getBytes("UTF-8")))
      docs.filter(_._1 % 2 == part).foreach { case (id, text) =>
        bos.write(graft.sources.warc.Warc.renderRecord("response",
          s"<urn:uuid:graft-$id>", s"http://corpus/doc/$id",
          "2026-01-01T00:00:00Z", text.getBytes("UTF-8")))
      }
      bos.toByteArray
    }
    Seq(0, 1).foreach { part =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, s"segment-$part.warc"),
        fileBytes(part))
    }
    spark.read.format("warc").load(dir)
      .filter($"record_type" === "response")
      .select(
        regexp_extract($"target_uri", "doc/(\\d+)$", 1).cast("long")
          .as("doc_id"),
        $"content_length".as("n_bytes"),
        md5($"payload").as("payload_md5"))
      .orderBy($"doc_id")
  }

  /** q37 — WARC ingest from `.warc.gz` RECORD-LEVEL GZIP MEMBERS, the
    * packaging Common Crawl actually ships (q36's twin over the
    * compressed form): every record — including a warcinfo header the
    * pushed `record_type = 'response'` filter must drop INSIDE the
    * reader — is rendered as its own RFC 1952 gzip member and the
    * members are concatenated per segment file, so the gate exercises
    * the JDK multi-member decode path plus filter-time payload
    * skipping under compression. Same oracle as q36: the decompressed,
    * re-framed payloads must reproduce the documents table's bytes and
    * md5 exactly. */
  def q37WarcGzip(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = warcGzFixture(spark, d)
    spark.read.format("warc").load(dir)
      .filter($"record_type" === "response")
      .select(
        regexp_extract($"target_uri", "doc/(\\d+)$", 1).cast("long")
          .as("doc_id"),
        $"content_length".as("n_bytes"),
        md5($"payload").as("payload_md5"))
      .orderBy($"doc_id")
  }

  /** The synthetic URL corpus for d20: no URL column exists in the
    * documents table, so deterministic variants ride doc_id — five alias
    * forms (plain, cased+www, `:443`+trailing slash, pure-utm query,
    * mixed query+fragment) over a (host = id%7, page = id%50) grid, so
    * ids 350 apart canonicalize to the SAME URL (the keep-first
    * pressure) and every canonicalization rule is load-bearing. Replayed
    * verbatim by the oracle's CASE concat. */
  private def urlCorpus(docs: DataFrame): DataFrame = {
    val h = pmod(col("doc_id"), lit(7)).cast("string")
    val p = pmod(col("doc_id"), lit(50)).cast("string")
    docs.filter(col("text").isNotNull).select(col("doc_id"),
      when(pmod(col("doc_id"), lit(5)) === 0,
        concat(lit("https://site"), h, lit(".com/page/"), p))
      .when(pmod(col("doc_id"), lit(5)) === 1,
        concat(lit("HTTPS://WWW.SITE"), h, lit(".COM/page/"), p))
      .when(pmod(col("doc_id"), lit(5)) === 2,
        concat(lit("https://site"), h, lit(".com:443/page/"), p, lit("/")))
      .when(pmod(col("doc_id"), lit(5)) === 3,
        concat(lit("https://site"), h, lit(".com/page/"), p,
          lit("?utm_source=x&utm_campaign=y")))
      .otherwise(
        concat(lit("https://site"), h, lit(".com/page/"), p,
          lit("?id=7&utm_medium=z#frag")))
      .as("url"))
  }

  /** d20 — URL-LEVEL DEDUP + DOMAIN BLOCKLIST
    * ([[graft.pipeline.Dedup.urlDedupDecisions]], the C4 preprocessing
    * pass upstream of all content dedup): canonicalize the synthetic
    * alias corpus, drop two blocklisted domains, keep-first per
    * canonical URL, and report the SELECTION — per decision, the doc
    * count and the doc-id sum (an id-sum pins exactly WHICH docs landed
    * in each class, not just how many). The oracle replays corpus
    * construction, the full canonicalization chain, the blocklist and
    * the keeper window in SQL. */
  def d20UrlDedup(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val blocklist = Seq("site3.com", "site5.com").toDF("domain")
    graft.pipeline.Dedup
      .urlDedupDecisions(urlCorpus(Tables.documents(spark, d)), blocklist)
      .groupBy($"decision")
      .agg(count(lit(1)).as("n_docs"),
        sum($"doc_id").as("sum_doc_id"))
      .orderBy($"decision")
  }

  /** d22 — URL dedup against a PERSISTED canonical-URL keeper index
    * ([[graft.pipeline.Dedup.writeUrlIndex]] /
    * [[urlDedupAgainstIndex]] — d21's build-once/probe-many lifecycle
    * in d20's URL domain, the daily-crawl shape): the d20 alias corpus
    * splits into a stored side (doc_id % 17 ≠ 0, keeper minima written
    * once) and an increment (doc_id % 17 = 0) that probes the re-read
    * index; an increment doc is kept only when it holds the GLOBAL
    * minimal id for its canonical URL — exactly the d20 recompute over
    * the whole corpus, restricted to increment docs, so the oracle is
    * the d20 replay with a doc filter on the decision tail only (the
    * keeper window stays global). */
  def d22UrlIndexDedup(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val blocklist = Seq("site3.com", "site5.com").toDF("domain")
    val corpus = urlCorpus(Tables.documents(spark, d))
    val dir = graft.util.Scratch.dir("graft_url_idx")
    graft.pipeline.Dedup.writeUrlIndex(
      corpus.filter($"doc_id" % 17 =!= 0), blocklist, dir)
    graft.pipeline.Dedup.urlDedupAgainstIndex(
        corpus.filter($"doc_id" % 17 === 0), blocklist, dir)
      .groupBy($"decision")
      .agg(count(lit(1)).as("n_docs"),
        sum($"doc_id").as("sum_doc_id"))
      .orderBy($"decision")
  }

  /** d24 — INDEX-ONLY compaction in the sweep
    * ([[graft.pipeline.Dedup.compactUrlIndex]]): the d22 stored corpus
    * arrives as a build plus two APPENDS (the daily-crawl
    * accumulation — partial minima pile up per URL), compaction folds
    * them back to one row per URL over index rows alone, and the probe
    * runs against the compacted directory. Decisions must equal d22's
    * one-shot build exactly — the oracle is the SAME global-recompute
    * SQL — so a compaction that dropped a URL, kept a non-minimal id,
    * or tore the staged swap breaks the rollup. */
  def d24UrlIndexCompact(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val blocklist = Seq("site3.com", "site5.com").toDF("domain")
    val corpus = urlCorpus(Tables.documents(spark, d))
    val stored = corpus.filter($"doc_id" % 17 =!= 0)
    val dir = graft.util.Scratch.dir("graft_url_idx_c")
    graft.pipeline.Dedup.writeUrlIndex(
      stored.filter($"doc_id" % 3 === 0), blocklist, dir)
    graft.pipeline.Dedup.appendUrlIndex(
      stored.filter($"doc_id" % 3 === 1), blocklist, dir)
    graft.pipeline.Dedup.appendUrlIndex(
      stored.filter($"doc_id" % 3 === 2), blocklist, dir)
    graft.pipeline.Dedup.compactUrlIndex(spark, dir)
    graft.pipeline.Dedup.urlDedupAgainstIndex(
        corpus.filter($"doc_id" % 17 === 0), blocklist, dir)
      .groupBy($"decision")
      .agg(count(lit(1)).as("n_docs"),
        sum($"doc_id").as("sum_doc_id"))
      .orderBy($"decision")
  }

  /** Render (doc_id, content) pages as two `.warc.gz` segment files
    * (record-level gzip members, split by doc parity) plus a warcinfo
    * header member that pushdown must drop inside the reader — the ONE
    * fixture writer q37/st15 (raw text) and q38 (html pages) share, so
    * a framing change cannot desynchronize the gates. */
  private def writeWarcGzSegments(pages: Array[(Long, String)]): String =
    writeWarcGzRecords(pages.map { case (id, content) =>
      (id, "response", s"http://corpus/doc/$id",
        content.getBytes("UTF-8"))
    })

  /** The raw form: arbitrary (id, WARC-Type, uri, payload bytes)
    * records — mm07's page+image crawl archive rides this; the
    * text-page gates go through [[writeWarcGzSegments]]. */
  private def writeWarcGzRecords(
      records: Array[(Long, String, String, Array[Byte])]): String = {
    val dir = graft.util.Scratch.dir("graft_warcgz")
    Seq(0, 1).foreach { part =>
      val bos = new java.io.ByteArrayOutputStream()
      if (part == 0)
        bos.write(graft.sources.warc.Warc.gzipMember(
          graft.sources.warc.Warc.renderRecord("warcinfo",
            "<urn:uuid:graft-warcinfo>", "", "2026-01-01T00:00:00Z",
            "software: graft".getBytes("UTF-8"))))
      records.filter(_._1 % 2 == part).foreach {
        case (id, rtype, uri, payload) =>
          // record id carries the TYPE: mm07 writes a response AND a
          // resource per doc, and ISO 28500 requires WARC-Record-ID to
          // be globally unique — a bare graft-$id would collide
          bos.write(graft.sources.warc.Warc.gzipMember(
            graft.sources.warc.Warc.renderRecord(rtype,
              s"<urn:uuid:graft-$rtype-$id>", uri,
              "2026-01-01T00:00:00Z", payload)))
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, s"segment-$part.warc.gz"),
        bos.toByteArray)
    }
    dir
  }

  /** The mm07 crawl fixture: per doc_id < 64, an HTTP-wrapped html page
    * (`response`, the q38/q39 shape) PLUS the page's image as a raw-png
    * `resource` record at `http://corpus/img/<id>` — the page+image
    * archive a LAION-style caption/image crawl works from (resource =
    * raw content per ISO 28500; the HTTP-split seam is exercised on the
    * page leg, where the body is text). Image pixels are the mm04
    * formula — deterministic, PNG is lossless, so the oracle replays
    * decoded stats arithmetically. */
  private[queries] def mm07Fixture(spark: SparkSession, d: String): String = {
    import spark.implicits._
    val pages = htmlCorpus(
        Tables.documents(spark, d).filter($"doc_id" < 64))
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), "response",
        s"http://corpus/doc/${r.getLong(0)}",
        httpWrapPage(r.getLong(0), r.getString(1)).getBytes("UTF-8")))
    val imgs = pages.map(_._1).map { id =>
      val px = Array.tabulate(256)(i =>
        (((id * 31 + i.toLong * 7) % 256) + 256).toInt % 256)
      (id, "resource", s"http://corpus/img/$id",
        graft.pipeline.Multimodal.ImageIoCodec.encodeGrayPng(px, 16, 16))
    }
    writeWarcGzRecords(pages ++ imgs)
  }

  /** mm07's oracle: the page leg replayed through hc (doc_id < 64) +
    * HTTP wrap + CRLFCRLF split + the t34 extraction chain; the image
    * leg from the pixel FORMULA (PNG is lossless); placement from the
    * ShardWriter hash. */
  private[queries] lazy val mm07OracleSql: String =
    s"""WITH ${htmlCorpusCteWhere("AND doc_id < 64")},
       |$httpWrapCtes,
       |cap AS (SELECT doc_id, ${htmlExtractSql("body")} AS caption
       |        FROM bd)
       |SELECT doc_id,
       |  ((doc_id * ${graft.pipeline.ShardWriter.HashMult})
       |     % ${graft.pipeline.ShardWriter.HashPrime}) % 4 AS shard,
       |  2::BIGINT AS n_parts,
       |  md5(caption) AS caption_md5,
       |  16::BIGINT AS width, 16::BIGINT AS height,
       |  list_reduce(list_prepend(0::BIGINT,
       |    [(doc_id * 31 + i * 7) % 256
       |     for i in generate_series(0, 255)]),
       |    (a, b) -> a + b) AS px_sum
       |FROM cap ORDER BY doc_id""".stripMargin

  /** The `.warc.gz` fixture q37 and st15 share: the documents table
    * through [[writeWarcGzSegments]]. */
  private[queries] def warcGzFixture(spark: SparkSession, d: String)
      : String = {
    import spark.implicits._
    writeWarcGzSegments(
      Tables.documents(spark, d).filter($"text".isNotNull)
        .select($"doc_id", $"text").orderBy($"doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))))
  }

  /** q39 — HTTP RESPONSE EXTRACTION ([[graft.pipeline.TextAnalysis
    * .httpBody]]/`httpHeader`/`httpStatus`, the seam BEFORE t34's
    * html→text: a real WARC `response` payload is a full HTTP message,
    * and skipping this step feeds status lines and headers into the
    * training corpus): each html page is wrapped in an HTTP/1.1
    * response (status line, Content-Type, a per-doc X-Graft-Rank
    * header), shipped through `.warc.gz` + the connector, split back
    * into status/header/body, and the body extracted to text — per doc
    * the status, the parsed rank header, and the extracted text's
    * length + md5. The oracle replays the HTTP wrap, the CRLFCRLF
    * split, the header-block-scoped regex lookups, and the full t34
    * extraction chain on the body. */
  /** t35 — CORPUS-LEVEL LINE DEDUP ([[graft.pipeline.TextAnalysis
    * .lineDedup]], the RefinedWeb/C4 boilerplate-removal stage): every
    * document gains a corpus-wide header line, an even-doc-only banner
    * (duplicated on 250 docs — still boilerplate), a per-doc UNIQUE
    * marker line, and a corpus-wide footer around its original text;
    * the operator must drop exactly the repeated lines (including any
    * ORIGINAL text duplicated verbatim across docs) and keep the rest
    * in order. Reported per doc: kept/dropped counts and the md5 of
    * the reassembled text; the oracle replays plant, corpus-wide line
    * counting, threshold, and ordered reassembly. */
  /** The boilerplate-planted corpus t35 and d21 share. */
  private def lineDedupCorpus(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d).filter($"text".isNotNull)
      .select($"doc_id", concat(
        lit("SUBSCRIBE to our newsletter\n"),
        when(pmod($"doc_id", lit(2)) === 0,
          lit("Cookie banner: accept all\n")).otherwise(lit("")),
        $"text",
        concat(lit("\nunique doc marker "), $"doc_id".cast("string")),
        lit("\n(c) corpus footer")).as("text"))
  }

  def t35LineDedup(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.TextAnalysis.lineDedup(lineDedupCorpus(spark, d))
      .select($"doc_id", $"n_kept", $"n_dropped",
        md5($"clean").as("clean_md5"))
      .orderBy($"doc_id")
  }

  /** d21 — line dedup against a PERSISTED line-occurrence index
    * ([[graft.pipeline.TextAnalysis.writeLineIndex]] /
    * [[lineDedupAgainstIndex]] — the daily-crawl boilerplate-removal
    * shape d17 established for bands): the t35 corpus splits into a
    * stored side (doc_id % 17 ≠ 0, line counts written once) and an
    * increment (doc_id % 17 = 0) that probes the re-read index; a line
    * drops when stored + increment occurrences exceed the index's
    * threshold — exactly the t35 recompute over the WHOLE corpus,
    * restricted to increment docs, so the oracle is the t35 replay with
    * a doc filter on the output tail only (line counts stay global). */
  def d21LineIndexDedup(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = lineDedupCorpus(spark, d)
    val dir = graft.util.Scratch.dir("graft_line_idx")
    graft.pipeline.TextAnalysis.writeLineIndex(
      docs.filter($"doc_id" % 17 =!= 0), dir)
    graft.pipeline.TextAnalysis.lineDedupAgainstIndex(
        docs.filter($"doc_id" % 17 === 0), dir)
      .select($"doc_id", $"n_kept", $"n_dropped",
        md5($"clean").as("clean_md5"))
      .orderBy($"doc_id")
  }

  /** The HTTP/1.1 wrap q39 and q38 share (mirrored by [[httpWrapCtes]]):
    * status line, Content-Type, a per-doc header, blank line, body. */
  private def httpWrapPage(id: Long, html: String): String =
    "HTTP/1.1 200 OK\r\n" +
      "Content-Type: text/html; charset=utf-8\r\n" +
      s"X-Graft-Rank: ${id % 7}\r\n\r\n" + html

  /** The SQL replay of [[httpWrapPage]] + the CRLFCRLF split, from hc:
    * hm(msg) → sp(ix) → bd(msg, body, hdrs). */
  private lazy val httpWrapCtes: String =
    """hm AS (SELECT doc_id,
      |  'HTTP/1.1 200 OK' || chr(13) || chr(10) ||
      |  'Content-Type: text/html; charset=utf-8' || chr(13) || chr(10) ||
      |  'X-Graft-Rank: ' || (doc_id % 7)::VARCHAR ||
      |  chr(13) || chr(10) || chr(13) || chr(10) || html AS msg
      |  FROM hc),
      |sp AS (SELECT doc_id, msg,
      |  strpos(msg, chr(13)||chr(10)||chr(13)||chr(10)) AS ix FROM hm),
      |bd AS (SELECT doc_id, msg,
      |  CASE WHEN ix > 0 THEN substr(msg, ix + 4) ELSE msg END AS body,
      |  CASE WHEN ix > 0 THEN substr(msg, 1, ix - 1) ELSE '' END AS hdrs
      |  FROM sp)""".stripMargin

  def q39HttpExtract(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = writeWarcGzSegments(
      htmlCorpus(Tables.documents(spark, d)).orderBy($"doc_id")
        .collect().map(r => (r.getLong(0),
          httpWrapPage(r.getLong(0), r.getString(1)))))
    val T = graft.pipeline.TextAnalysis
    graft.streaming.EventStreams
      .warcCorpusDocs(spark.read.format("warc").load(dir))
      .select($"doc_id",
        T.httpStatus($"text").as("status"),
        T.httpHeader($"text", "Content-Type").as("content_type"),
        T.httpHeader($"text", "X-Graft-Rank").cast("long").as("rank"),
        T.htmlToText(T.httpBody($"text")).as("text"))
      .select($"doc_id", $"status", $"content_type", $"rank",
        length($"text").cast("long").as("n_chars"),
        md5($"text").as("text_md5"))
      .orderBy($"doc_id")
  }

  /** q38's tokenizer: trained on the EXTRACTED corpus (the model must
    * see what extraction produced — chrome headings and footer tokens
    * included — exactly as a real crawl-fed train does), memoized per
    * (session, dir) like [[bpeShared]]. Content-identical to training
    * through the connector read: q36/q37 pin the payload round trip
    * byte-for-byte, so the direct path avoids re-rendering fixtures. */
  private val residentBpeHtml =
    Resident.memo[graft.pipeline.Bpe.Model](dropVocab)

  private[graft] def bpeHtmlShared(spark: SparkSession, d: String)
      : graft.pipeline.Bpe.Model =
    residentBpeHtml(spark, d) {
      val ext = graft.pipeline.TextAnalysis
        .htmlExtract(htmlCorpus(Tables.documents(spark, d)))
      val m = graft.pipeline.Bpe.train(ext, BpeRounds)
      require(m.merges.size == BpeRounds,
        s"extracted corpus at $d exhausted pairs after ${m.merges.size} " +
          s"of $BpeRounds merges — lower BpeRounds or widen the corpus")
      m
    }

  /** q38 — the CRAWL-FED pretraining job end to end, in ONE declarative
    * plan (q35's capstone with the INGEST seam made real): `.warc.gz`
    * segments through the native connector (pushdown drops warcinfo
    * before its payload is read) → [[graft.pipeline.TextAnalysis
    * .httpBody]] on the response payloads (a real crawl payload is a
    * full HTTP message — the q39 seam) → [[graft.pipeline.TextAnalysis
    * .htmlToText]] on the bodies → Gopher quality filter →
    * BPE tokenization under a vocab TRAINED ON THE EXTRACTED corpus →
    * 256-token sequence packing. The oracle replays the ENTIRE chain —
    * wrap, extraction, merge training on the extracted text, per-doc
    * counts, rule arithmetic, cumulative window — so a one-byte
    * extraction drift reshapes the merge table and fails every packed
    * row. This is the nightly 100 TB shape: connector scan feeding the
    * pipeline, not a round-trip demo. */
  def q38WarcPipeline(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = writeWarcGzSegments(
      htmlCorpus(Tables.documents(spark, d)).orderBy($"doc_id")
        .collect().map(r => (r.getLong(0),
          httpWrapPage(r.getLong(0), r.getString(1)))))
    // the shared response→doc projection (one home for the corpus URI
    // convention — the st15 path), then the q39 HTTP-body split, then
    // extraction on the page string — the REAL crawl payload shape
    val T = graft.pipeline.TextAnalysis
    val docs = graft.streaming.EventStreams
      .warcCorpusDocs(spark.read.format("warc").load(dir))
      .select($"doc_id", T.htmlToText(T.httpBody($"text")).as("text"))
    val kept = graft.pipeline.TextAnalysis.gopherRules(docs)
      .filter($"r_pass_all").select($"doc_id", $"text")
    val counts = graft.pipeline.Bpe
      .encodeTokenCounts(kept, bpeHtmlShared(spark, d))
    graft.pipeline.Packing
      .packStats(counts, 256, "doc_id", "n_bpe_tokens")
      .orderBy($"seq_id")
  }

  /** q35 — the PRETRAINING DATA JOB end to end, in ONE declarative
    * plan: Gopher quality filter (t19's rules) → BPE tokenization under
    * the t16 vocab (broadcast dictionary join) → 256-token sequence
    * packing (two-pass distributed prefix sum). Nothing here is new
    * machinery — the point IS the composition: each stage is the
    * already-oracled operator, Catalyst fuses the filter into the scan
    * feeding the tokenizer join, and the oracle replays the full chain
    * (rule arithmetic → unrolled merges → counts → cumulative window)
    * in one statement. The capstone shape a 100 TB corpus actually
    * runs nightly. */
  def q35PipelinePack(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    val kept = graft.pipeline.TextAnalysis.gopherRules(docs)
      .filter($"r_pass_all")
      .select($"doc_id", $"text")
    val counts = graft.pipeline.Bpe
      .encodeTokenCounts(kept, bpeShared(spark, d))
    graft.pipeline.Packing
      .packStats(counts, 256, "doc_id", "n_bpe_tokens")
      .orderBy($"seq_id")
  }

  /** t25 — TOKENIZER FERTILITY evaluation (the per-language eval a
    * pipeline runs when choosing a tokenizer — XLM-R reports exactly
    * this table): both trained tokenizers encode the corpus, and per
    * language the gate emits document, word, char and subword-token
    * totals under the BPE (t16) and unigram (t21) vocabularies — the
    * inputs to fertility (subwords/word) and compression (chars/token)
    * ratios, kept as EXACT INTEGER sums so the gate hash-matches and any
    * downstream ratio is one division away. Both encode paths are the
    * broadcast dictionary join; docs align across the two count tables
    * by construction (both drop only the no-nonempty-token docs).
    * Oracle: the t16 merge chain AND the t21 EM chain replayed in one
    * statement, joined per doc, rolled up per language. */
  def t25TokenizerEval(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    val bpe = graft.pipeline.Bpe
      .encodeTokenCounts(docs, bpeShared(spark, d))
    val um = graft.pipeline.Unigram
      .encodeTokenCounts(docs, unigramShared(spark, d))
      .select($"doc_id", $"n_um_tokens")
    docs.filter($"text".isNotNull)
      .select($"doc_id", $"lang",
        length($"text").cast("long").as("n_chars"))
      .join(bpe, "doc_id").join(um, "doc_id")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_words").as("words_sum"),
        sum($"n_bpe_tokens").as("bpe_sum"),
        sum($"n_um_tokens").as("um_sum"),
        sum($"n_chars").as("chars_sum"))
      .orderBy($"lang")
  }

  /** t40 — tokenizer TRIO comparison (t25 extended with WordPiece —
    * the XLM-R-style fertility table across ALL THREE families, the
    * tokenizer-selection analysis a data team actually runs): per
    * language, document/word totals and subword-token totals under the
    * BPE (t16), unigram (t21) and WordPiece (t36, no-q) vocabularies
    * plus the WordPiece UNK-word total (the no-q model makes the UNK
    * column genuinely informative per language — 'q'-free languages
    * score 0). All exact integer sums; every encode path is its gate's
    * own distinct-word posture, and the three count tables align on the
    * same no-nonempty-token doc filter. Oracle: the t16 merge chain, the
    * t21 EM chain and the t36 scored-merge chain replayed in ONE
    * statement, joined per doc, rolled up per language. */
  def t40TokenizerTrio(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    val bpe = graft.pipeline.Bpe
      .encodeTokenCounts(docs, bpeShared(spark, d))
    val um = graft.pipeline.Unigram
      .encodeTokenCounts(docs, unigramShared(spark, d))
      .select($"doc_id", $"n_um_tokens")
    val wp = graft.pipeline.Wordpiece
      .encodeTokenCounts(docs, wordpieceShared(spark, d))
      .select($"doc_id", $"n_wp_tokens", $"n_unk_words")
    docs.filter($"text".isNotNull)
      .select($"doc_id", $"lang")
      .join(bpe, "doc_id").join(um, "doc_id").join(wp, "doc_id")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_words").as("words_sum"),
        sum($"n_bpe_tokens").as("bpe_sum"),
        sum($"n_um_tokens").as("um_sum"),
        sum($"n_wp_tokens").as("wp_sum"),
        sum($"n_unk_words").as("unk_sum"))
      .orderBy($"lang")
  }

  /** t26 — BPE TOKENIZATION to actual token STREAMS (the last mile the
    * count gates stop short of: training shards hold token sequences,
    * not counts): per document, the full in-order subword sequence under
    * the t16 vocab, pinned by md5 of the space-joined stream plus its
    * length. The corpus-scale shape is one positioned explode + the
    * broadcast dictionary join (word → its symbol array) + one per-doc
    * ordered flatten — positions come from the RAW token array on both
    * engines, so empty-split artifacts cannot shift alignment. Oracle:
    * the unrolled merge chain's word table IS the symbol dictionary;
    * the per-doc stream replays as flatten(list(seq ORDER BY pos)). */
  def t26BpeTokenize(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.Bpe
      .tokenStreams(Tables.documents(spark, d), bpeShared(spark, d))
      .select($"doc_id", size($"stream").cast("long").as("n_tokens"),
        md5(array_join($"stream", " ")).as("tokens_md5"))
      .orderBy($"doc_id")
  }

  /** q34 — BALANCED shards over REAL BPE TOKENS (q27's serpentine deal
    * recomposed on the t17 encode path, the q33/t18 pattern): per-doc BPE
    * token counts under the t16 vocab (broadcast dictionary join) feed
    * [[graft.pipeline.Packing.globalRankDesc]]'s two-pass distributed
    * rank, and rank r deals to shard r%n on even passes, n-1-r%n on odd —
    * so shard balance is measured in the unit the trainer actually pays
    * (subword tokens), not whitespace words (the gate corpus is fully
    * in-vocabulary, so the total-encode OOV leg contributes nothing and
    * both engines count identically). Oracle: the unrolled merge chain
    * → per-doc counts →
    * the q27 serpentine replay, all integers. */
  def q34BpeShards(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val n = 8
    val counts = graft.pipeline.Bpe
      .encodeTokenCounts(Tables.documents(spark, d), bpeShared(spark, d))
      .select($"doc_id", $"n_bpe_tokens")
    val ranked = graft.pipeline.Packing
      .globalRankDesc(counts, "doc_id", "n_bpe_tokens")
      .select($"n", $"rank".as("r"))
    val shard = when((($"r" / n).cast("long") % 2) === 0, pmod($"r", lit(n)))
      .otherwise(lit(n - 1) - pmod($"r", lit(n)))
    ranked.withColumn("shard", shard.cast("int"))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"n").as("bpe_token_sum"))
      .orderBy($"shard")
  }

  /** q31 — PER-SOURCE DOCUMENT CAP (the C4/RefinedWeb per-domain cap: no
    * single site may dominate the corpus): keep at most 15 docs per
    * source ranked by (token count DESC, doc_id), rolled up per source
    * with kept-token and kept-id checksums so the oracle pins the
    * SELECTION. Plan shape: the rank<=k filter compiles to Spark's
    * WindowGroupLimit — non-top-k rows drop per input partition BEFORE
    * the window shuffle (the q09/t11 invariant, pinned for this gate
    * too), so at 100 TB each source moves ~k rows, not its corpus. */
  def q31SourceCap(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cap = 15
    val t = Tables.documents(spark, d).filter($"text".isNotNull)
      .select($"source", $"doc_id",
        TextAnalysis.tokenCount($"text").cast("long").as("n_tokens"))
    val w = Window.partitionBy($"source")
      .orderBy($"n_tokens".desc, $"doc_id")
    val kept = t.withColumn("rk", row_number().over(w))
      .filter($"rk" <= cap)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_kept"),
        sum($"n_tokens").as("kept_tokens"),
        sum($"doc_id").as("kept_id_sum"))
    t.groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .join(kept, "source")
      .select($"source", $"n_docs", $"n_kept", $"kept_tokens",
        $"kept_id_sum")
      .orderBy($"source")
  }

  /** t19 — the GOPHER QUALITY-RULE bundle ([[TextAnalysis.gopherRules]],
    * Rae et al. 2021 §A1.1 — the document filters modern pretraining
    * pipelines reuse): per source, doc counts, per-rule violation counts
    * and the pass-all count. One fused map-side pass; every ratio test
    * is an integer cross-product comparison, so the verdicts hash-match
    * the DuckDB replay exactly. */
  def t19GopherRules(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    TextAnalysis.gopherRules(Tables.documents(spark, d))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(!$"r_wc", 1)).as("v_wc"),
        count(when(!$"r_mwl", 1)).as("v_mwl"),
        count(when(!$"r_sym", 1)).as("v_sym"),
        count(when(!$"r_alpha", 1)).as("v_alpha"),
        count(when(!$"r_stop", 1)).as("v_stop"),
        count(when($"r_pass_all", 1)).as("n_pass"))
      .orderBy($"source")
  }

  /** q32 — TEMPERATURE-SCALED mixture sampling (the XLM-R/multilingual
    * α-sampling rule, Conneau et al. 2020: p_l ∝ n_l^α with α = 0.5 —
    * upsample small languages, damp the head): per-language targets
    * floor(B·p_l) over a 300-doc budget, selection = the doc_id-ranked
    * prefix per language (deterministic, SQL-replayable), rolled up with
    * kept-id checksums. Cross-engine exactness: sqrt of integer counts
    * is correctly rounded IEEE on both engines, the normalizer folds in
    * LANGUAGE order (the t13/t14 sorted-fold convention — a shuffled SUM
    * would order-depend), and the multiply/divide dataflow is pinned to
    * the oracle's.
    *
    * Plan shape: the per-language rank is [[graft.pipeline.Packing
    * .groupRankAsc]]'s two-pass distributed scan, NOT a
    * `row_number().over(partitionBy(lang))` window — the window form
    * serial-sorts each whole language on ONE task (and `en` is ~44% of
    * this corpus; at 100 TB that's half the corpus through one core),
    * and because the `rk <= target` bound arrives via a join,
    * InferWindowGroupLimit can never rescue it the way it does q31. */
  /** The q32/q49 shared α=0.5 target frame (g, n, target) over a
    * 300-doc budget — ONE copy of the sqrt/normalizer/floor dataflow so
    * the capstone's draw cannot drift from the mixture gate's. */
  private def mixTargets(base: DataFrame): DataFrame = {
    import base.sparkSession.implicits._
    val n = base.groupBy($"lang").agg(count(lit(1)).as("n"))
    val tot = n
      .agg(sort_array(collect_list(struct($"lang",
        sqrt($"n".cast("double")).as("sq")))).as("arr"))
      .select(aggregate($"arr", lit(0.0),
        (acc, s) => acc + s.getField("sq")).as("s"))
    n.crossJoin(broadcast(tot))
      .select($"lang".as("g"), $"n",
        floor(lit(300.0) * sqrt($"n".cast("double")) / $"s")
          .cast("long").as("target"))
  }

  def q32TemperatureMix(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, d).filter($"text".isNotNull)
    val tgt = mixTargets(base)
    graft.pipeline.Packing
      .groupRankAsc(base.select($"lang", $"doc_id"), "lang", "doc_id")
      .join(broadcast(tgt), "g")
      .groupBy($"g")
      .agg(first($"n").as("n_docs"), first($"target").as("target"),
        count(when($"rk" <= $"target", 1)).as("n_kept"),
        coalesce(sum(when($"rk" <= $"target", $"id")), lit(0L))
          .as("kept_id_sum"))
      .select($"g".as("lang"), $"n_docs", $"target", $"n_kept",
        $"kept_id_sum")
      .orderBy($"lang")
  }

  /** d17 — incremental near-dup against a PERSISTED band index
    * ([[Dedup.writeBandIndex]]/[[Dedup.minhashAgainstIndex]] — the
    * stored-corpus-bands production shape d15's scaladoc promises): the
    * corpus bands are written once, the increment probes the re-read
    * table, grams re-derive for candidate corpus docs only. Identical
    * result to d15's recompute path — same split, same brute oracle. */
  def d17BandIndexDedup(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    val corpus = docs.filter($"doc_id" % 17 =!= 0)
    val dir = graft.util.Scratch.dir("graft_band_idx")
    Dedup.writeBandIndex(corpus, dir)
    Dedup.probeBandIndex(docs.filter($"doc_id" % 17 === 0), corpus, dir)
      .orderBy($"new_id", $"corpus_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d17_band_index_dedup" -> (d17BandIndexDedup _),
    "q32_temperature_mix" -> (q32TemperatureMix _),
    "t19_gopher_rules" -> (t19GopherRules _),
    "q31_source_cap" -> (q31SourceCap _),
    "s11_ann_delete" -> (s11AnnDelete _),
    "t18_bpe_packing" -> (t18BpePacking _),
    "q30_quality_classifier" -> (q30QualityClassifier _),
    "s10_incremental_ann" -> (s10IncrementalAnn _),
    "d16_exact_substr" -> (d16ExactSubstr _),
    "d18_span_removal" -> (d18SpanRemoval _),
    "t20_bpe_deep_train" -> (t20BpeDeepTrain _),
    "q33_bpe_budget_fill" -> (q33BpeBudgetFill _),
    "q34_bpe_shards" -> (q34BpeShards _),
    "t21_unigram_train" -> (t21UnigramTrain _),
    "t22_unigram_encode" -> (t22UnigramEncode _),
    "t23_kn_lm_score" -> (t23KnLmScore _),
    "t24_kn3_lm_score" -> (t24Kn3LmScore _),
    "t25_tokenizer_eval" -> (t25TokenizerEval _),
    "t26_bpe_tokenize" -> (t26BpeTokenize _),
    "t27_unigram_prune" -> (t27UnigramPrune _),
    "t28_kn4_lm_score" -> (t28Kn4LmScore _),
    "t33_kn5_lm_score" -> (t33Kn5LmScore _),
    "d19_pii_scrub" -> (d19PiiScrub _),
    "t29_bpe_oov_encode" -> (t29BpeOovEncode _),
    "t30_unigram_oov_encode" -> (t30UnigramOovEncode _),
    "t31_unigram_model_io" -> (t31UnigramModelIo _),
    "t32_bpe_model_io" -> (t32BpeModelIo _),
    "q36_warc_ingest" -> (q36WarcIngest _),
    "q37_warc_gzip" -> (q37WarcGzip _),
    "t34_html_extract" -> (t34HtmlExtract _),
    "q38_warc_pipeline" -> (q38WarcPipeline _),
    "d20_url_dedup" -> (d20UrlDedup _),
    "d22_url_index_dedup" -> (d22UrlIndexDedup _),
    "d23_contam_index" -> (d23ContamIndex _),
    "q39_http_extract" -> (q39HttpExtract _),
    "t35_line_dedup" -> (t35LineDedup _),
    "d21_line_index_dedup" -> (d21LineIndexDedup _),
    "t36_wordpiece_train" -> (t36WordpieceTrain _),
    "t37_wordpiece_encode" -> (t37WordpieceEncode _),
    "t38_perplexity_buckets" -> (t38PerplexityBuckets _),
    "t41_perplexity_assign" -> (t41PerplexityAssign _),
    "t39_wordpiece_model_io" -> (t39WordpieceModelIo _),
    "t42_wordpiece_tokenize" -> (t42WordpieceTokenize _),
    "q40_cms_heavy_hitters" -> (q40CmsHeavyHitters _),
    "t40_tokenizer_trio" -> (t40TokenizerTrio _),
    "q35_pipeline_pack" -> (q35PipelinePack _),
    "t16_bpe_train" -> (t16BpeTrain _),
    "t17_bpe_encode" -> (t17BpeEncode _),
    "t43_bytebpe_train" -> (t43ByteBpeTrain _),
    "t44_bytebpe_encode" -> (t44ByteBpeEncode _),
    "t45_bytebpe_detokenize" -> (t45ByteBpeDetokenize _),
    "q41_token_shards" -> (q41TokenShards _),
    "q42_packed_shards" -> (q42PackedShards _),
    "q43_packed_boundaries" -> (q43PackedBoundaries _),
    "q44_megatron_shards" -> (q44MegatronShards _),
    "q45_bin_packing" -> (q45BinPacking _),
    "q46_epoch_shuffle" -> (q46EpochShuffle _),
    "q47_sample_idx" -> (q47SampleIdx _),
    "q48_eod_packing" -> (q48EodPacking _),
    "q49_mixture_pack" -> (q49MixturePack _),
    "q50_doc_order_npy" -> (q50DocOrderNpy _),
    "t46_gpt2_pretokenize" -> (t46Gpt2Pretokenize _),
    "d24_url_index_compact" -> (d24UrlIndexCompact _),
    "d25_contam_merge" -> (d25ContamMerge _),
    "q27_balanced_shards" -> (q27BalancedShards _),
    "q26_leakage_split" -> (q26LeakageSplit _),
    "s07_ivf_index" -> (s07IvfIndex _),
    "s08_pq_topk" -> (s08PqTopk _),
    "s09_pq_ivf" -> (s09PqIvf _),
    "q29_data_quality" -> (q29DataQuality _),
    "s06_range_search" -> (s06RangeSearch _),
    "q25_length_buckets" -> (q25LengthBuckets _),
    "s04_knn_join" -> (s04KnnJoin _),
    "s05_knn_join_lsh" -> (s05KnnJoinLshMulti _),
    "d01_exact_dedup" -> (d01ExactDedup _),
    "d02_event_dedup" -> (d02EventDedup _),
    "d03_jaccard_pairs" -> (d03JaccardPairs _),
    "d04_minhash_lsh" -> (d04MinhashLsh _),
    "d05_simhash_pairs" -> (d05SimhashPairs _),
    "d06_embedding_neardup" -> (d06EmbeddingNearDup _),
    "d07_dedup_clusters" -> (d07DedupClusters _),
    "d08_decontamination" -> (d08Decontamination _),
    "d09_span_coverage" -> (d09SpanCoverage _),
    "d10_keep_list" -> (d10KeepList _),
    "d11_jaccard_words" -> (d11JaccardWords _),
    "d12_bloom_decontam" -> (d12BloomDecontam _),
    "d13_cdc_dedup" -> (d13CdcDedup _),
    "d14_semantic_dedup" -> (d14SemanticDedup _),
    "d15_incremental_dedup" -> (d15IncrementalDedup _),
    "q16_pipeline_funnel" -> (q16PipelineFunnel _),
    "q17_quality_cutoff" -> (q17QualityCutoff _),
    "t09_repetition" -> (t09Repetition _),
    "t10_pii_stats" -> (t10PiiStats _),
    "t11_tfidf_topk" -> (t11TfidfTopk _),
    "t12_chunking" -> (t12Chunking _),
    "t13_lm_score" -> (t13LmScore _),
    "t14_char_entropy" -> (t14CharEntropy _),
    "t15_bm25_topk" -> (t15Bm25 _),
    "q23_shard_manifest" -> (q23ShardManifest _),
    "q24_budget_fill" -> (q24BudgetFill _),
    "q19_weighted_sample" -> (q19WeightedSample _),
    "t05_vocab_topk" -> (t05VocabTopk _),
    "t06_dup_ngrams" -> (t06DupNgrams _),
    "t07_winnowing" -> (t07Winnowing _),
    "t08_sequence_packing" -> (t08SequencePacking _),
    "t01_token_stats" -> (t01TokenStats _),
    "t02_quality_by_source" -> (t02QualityBySource _),
    "t03_lang_id" -> (t03LangId _),
    "t04_fingerprints" -> (t04Fingerprints _),
    "s01_topk_cosine" -> (s01TopkCosine _),
    "s02_ivf_topk" -> (s02IvfTopk _),
    "s03_ivf_kmeans" -> (s03IvfKmeans _),
    "s12_sq8_topk" -> (s12Sq8Topk _))

  /** The t16/t17 oracle's shared CTE chain: BPE training unrolled to
    * [[BpeRounds]] rounds (the g10/g13 unrolling idiom). Per round k:
    * `p_k` position-counts adjacent pairs of the round-(k−1) vocab,
    * `b_k` is the deterministic argmax (freq DESC, lhs, rhs — DuckDB and
    * Spark agree on binary string order for this ASCII corpus), the
    * recursive `m_k` applies the merge as repeated FIRST-occurrence
    * replacement until none remains (provably equal to the engine's one
    * greedy left-to-right pass — a merge can never create a new occurrence
    * of its own pair), and `w_k` keeps each word's fixpoint row. The
    * chosen pair is CROSS JOINed in (single row) because DuckDB lambdas
    * cannot hold subqueries. */
  private def bpeOracleBody(rounds: Int,
      src: String = "documents",
      seqExpr: String = CharSeqSql): String = {
    val w0 =
      s"""w0 AS MATERIALIZED (
         |  SELECT word, COUNT(*)::BIGINT AS cnt,
         |    $seqExpr AS seq
         |  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)),
         |                                            '\\s+')) AS word
         |        FROM $src WHERE text IS NOT NULL) t
         |  WHERE word <> '' GROUP BY word)""".stripMargin
    val stages = (1 to rounds).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT seq[i] AS l, seq[i+1] AS r, SUM(cnt)::BIGINT AS c
         |  FROM (SELECT cnt, seq,
         |          unnest(generate_series(1, len(seq)-1)) AS i
         |        FROM w${k - 1})
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (SELECT l, r, c FROM p$k ORDER BY c DESC, l, r LIMIT 1),
         |m$k(word, cnt, seq) AS (
         |  SELECT word, cnt, seq FROM w${k - 1}
         |  UNION ALL
         |  SELECT word, cnt, seq[1:idx-1] || [l || r] || seq[idx+2:]
         |  FROM (SELECT m$k.word, m$k.cnt, m$k.seq, b$k.l, b$k.r,
         |          COALESCE(list_filter(generate_series(1, len(seq)-1),
         |            i -> seq[i] = l AND seq[i+1] = r)[1], 0) AS idx
         |        FROM m$k CROSS JOIN b$k) WHERE idx > 0),
         |w$k AS MATERIALIZED (
         |  SELECT word, cnt, seq FROM m$k CROSS JOIN b$k
         |  WHERE len(list_filter(generate_series(1, len(seq)-1),
         |    i -> seq[i] = l AND seq[i+1] = r)) = 0)""".stripMargin
    }
    (w0 +: stages).mkString(",\n")
  }

  private def bpeOracleChain(rounds: Int): String =
    "WITH RECURSIVE " + bpeOracleBody(rounds)

  /** The char-level initial symbolization (codepoint list) — the default
    * `seq` both [[bpeOracleBody]] and [[bpeGreedyCtes]] share. */
  private val CharSeqSql =
    "list_transform(generate_series(1, length(word)), i -> word[i])"

  /** The BYTE-level initial symbolization — one uppercase hex pair per
    * UTF-8 byte, DuckDB's exact replay of
    * [[graft.pipeline.ByteBpe.byteSyms]] (`hex(encode(word))` matches
    * Spark's `hex(encode(word,'UTF-8'))` byte for byte, verified on
    * multi-script probes). */
  private val ByteSeqSql =
    "regexp_extract_all(hex(encode(word)), '..')"

  /** The t21/t22 oracle's shared CTE chain: unigram-LM hard-EM unrolled
    * to [[UmIters]] rounds. `uw` is the distinct-word table; `usub`/`uv0`
    * the substring seed (all single chars + top-[[UmSeedSize]] multis by
    * (count DESC, piece)). Per round k: `us_k` re-scores the surviving
    * pieces (floor(1e6·(ln max(c,1) − ln Σ)), the engine's exact
    * fixed-point), `um_k` packs them into ONE map row (lambdas cannot
    * hold subqueries — the map rides in via CROSS JOIN, the established
    * idiom), the recursive `uvit_k` runs the Viterbi DP left to right
    * (candidates as (total, length) structs; list_sort's last element IS
    * the engine's (total DESC, longer-piece) argmax), the recursive
    * `ubt_k` backtracks the chosen pieces, `ucnt_k` recounts, and `uv_k`
    * prunes multi-char pieces the segmentation abandoned while single
    * chars persist (the coverage rule). `us_{iters+1}`/`um_{iters+1}`
    * are the FINAL scores both gates read. */
  private def unigramOracleBody(iters: Int,
      trainWhere: String = "text IS NOT NULL"): String = {
    val base =
      s"""uw AS MATERIALIZED (
         |  SELECT word, COUNT(*)::BIGINT AS cnt
         |  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)),
         |                                            '\\s+')) AS word
         |        FROM documents WHERE $trainWhere) t
         |  WHERE word <> '' GROUP BY word),
         |usub AS MATERIALIZED (
         |  SELECT piece, SUM(cnt)::BIGINT AS c FROM (
         |    SELECT substring(word, i, l) AS piece, cnt
         |    FROM (SELECT word, cnt,
         |            unnest(generate_series(1, length(word))) AS i
         |          FROM uw) a
         |    CROSS JOIN (SELECT unnest(generate_series(1, $UmMaxPiece))
         |                  AS l) b
         |    WHERE i + l - 1 <= length(word))
         |  GROUP BY piece),
         |uv0 AS MATERIALIZED (
         |  SELECT piece, c FROM usub WHERE length(piece) = 1
         |  UNION ALL
         |  SELECT piece, c FROM (
         |    SELECT piece, c FROM usub WHERE length(piece) > 1
         |    ORDER BY c DESC, piece LIMIT $UmSeedSize))""".stripMargin
    val rounds = (1 to iters).map { k =>
      s"""${umScoreCtes(k.toString, s"uv${k - 1}")},
         |${umViterbiCtes(k.toString, s"um$k")},
         |${umRecountCtes(k.toString, s"uv${k - 1}")}""".stripMargin
    }
    ((base +: rounds) :+ umScoreCtes((iters + 1).toString, s"uv$iters"))
      .mkString(",\n")
  }

  /** Score + one-row score-map CTEs (`us<tag>`/`um<tag>`) from a piece
    * count table. */
  private def umScoreCtes(tag: String, from: String): String =
    s"""us$tag AS MATERIALIZED (
       |  SELECT piece,
       |    FLOOR(1e6 * (ln(GREATEST(c, 1)::DOUBLE) - ln(tt::DOUBLE)))
       |      ::BIGINT AS lp
       |  FROM $from CROSS JOIN
       |    (SELECT SUM(GREATEST(c, 1))::BIGINT AS tt FROM $from) t),
       |um$tag AS MATERIALIZED (
       |  SELECT MAP(list(piece ORDER BY piece),
       |             list(lp ORDER BY piece)) AS m FROM us$tag)""".stripMargin

  /** Viterbi DP + backtrack CTEs (`uvit<tag>`/`ubt<tag>`) over the word
    * table `wordCte` under a score map. With `fallback` the candidate
    * score coalesces an absent SINGLE-char probe to the engine's
    * [[graft.pipeline.Unigram.UnkUlogp]] — the char-fallback leg t30
    * replays; longer absent pieces still drop out via the NULL filter. */
  private def umViterbiCtes(tag: String, mapCte: String,
      wordCte: String = "uw", fallback: Boolean = false): String = {
    val probe = s"m[substring(word, i + 2 - L, L)][1]"
    val score =
      if (fallback)
        s"""COALESCE($probe,
           |                   CASE WHEN L = 1 THEN (${graft.pipeline
                .Unigram.UnkUlogp})::BIGINT END)""".stripMargin
      else probe
    s"""uvit$tag(word, cnt, i, dp) AS (
       |  SELECT word, cnt, 0, [{'t': CAST(0 AS BIGINT), 'l': 0}]
       |  FROM $wordCte
       |  UNION ALL
       |  SELECT word, cnt, i + 1,
       |    dp || [list_sort(list_filter(
       |      list_transform(generate_series(1, LEAST(i + 1, $UmMaxPiece)),
       |        L -> {'t': dp[i + 2 - L].t + $score,
       |              'l': L}),
       |      x -> x.t IS NOT NULL))[-1]]
       |  FROM uvit$tag CROSS JOIN $mapCte WHERE i < length(word)),
       |ubt$tag(word, cnt, dp, i, pieces) AS (
       |  SELECT word, cnt, dp, i, CAST([] AS VARCHAR[])
       |  FROM uvit$tag WHERE i = length(word)
       |  UNION ALL
       |  SELECT word, cnt, dp, i - dp[i + 1].l,
       |    pieces || [substring(word, i - dp[i + 1].l + 1, dp[i + 1].l)]
       |  FROM ubt$tag WHERE i > 0)""".stripMargin
  }

  /** Recount + prune CTEs (`ucnt<tag>`/`uv<tag>`): piece usage from the
    * backtracked segmentations, zero-usage multis dropped, singles kept
    * with their raw count. */
  private def umRecountCtes(tag: String, prevVocab: String): String =
    s"""ucnt$tag AS MATERIALIZED (
       |  SELECT piece, SUM(cnt)::BIGINT AS c
       |  FROM (SELECT unnest(pieces) AS piece, cnt
       |        FROM ubt$tag WHERE i = 0)
       |  GROUP BY piece),
       |uv$tag AS MATERIALIZED (
       |  SELECT p.piece, COALESCE(c.c, 0)::BIGINT AS c
       |  FROM (SELECT piece FROM $prevVocab WHERE length(piece) = 1) p
       |  LEFT JOIN ucnt$tag c USING (piece)
       |  UNION ALL
       |  SELECT p.piece, c.c
       |  FROM (SELECT piece FROM $prevVocab WHERE length(piece) > 1) p
       |  JOIN ucnt$tag c USING (piece) WHERE c.c > 0)""".stripMargin

  private def unigramOracleChain(iters: Int,
      trainWhere: String = "text IS NOT NULL"): String =
    "WITH RECURSIVE " + unigramOracleBody(iters, trainWhere)

  /** The final-scores Viterbi encode legs shared by the t22 oracle and
    * the t25 rollup: one more DP pass under `um_{iters+1}`, per-word
    * piece counts, the corpus explode, and the per-doc rollup `umnb`. */
  private lazy val unigramEncodeCtes: String =
    s"""${umViterbiCtes("E", s"um${UmIters + 1}")},
       |uwp AS MATERIALIZED (
       |  SELECT word, len(pieces)::BIGINT AS np FROM ubtE WHERE i = 0),
       |utok AS (
       |  SELECT doc_id,
       |    unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
       |  FROM documents WHERE text IS NOT NULL),
       |umnb AS MATERIALIZED (
       |  SELECT t.doc_id, COUNT(*)::BIGINT AS n_words,
       |    SUM(w.np)::BIGINT AS n_um
       |  FROM (SELECT * FROM utok WHERE word <> '') t
       |  JOIN uwp w USING (word)
       |  GROUP BY t.doc_id)""".stripMargin

  private lazy val unigramTrainOracle: String =
    s"""${unigramOracleChain(UmIters)}
       |SELECT v.piece, v.c AS cnt, s.lp AS ulogp
       |FROM uv$UmIters v JOIN us${UmIters + 1} s USING (piece)
       |ORDER BY piece""".stripMargin

  private lazy val unigramEncodeOracle: String =
    s"""${unigramOracleChain(UmIters)},
       |$unigramEncodeCtes
       |SELECT doc_id, n_words, n_um AS n_um_tokens
       |FROM umnb ORDER BY doc_id""".stripMargin

  /** t38's oracle — the t23 chain rolled to per-doc scores, then NTILE
    * within each language over (score DESC, doc_id), the same total
    * order as the engine's window; id sums pin exact tier MEMBERSHIP
    * per decision (the d20 selection-verifying idiom). Shared verbatim
    * by t41, whose windowless map-side assignment must reproduce the
    * identical membership. */
  private lazy val perplexityBucketsOracle: String =
    s"""WITH $knBigramChainSql,
      |sc AS MATERIALIZED (
      |  SELECT doc_id, count(*)::BIGINT AS n_bigrams,
      |    round(list_reduce(list(lp ORDER BY pos), (acc, x) -> acc + x)
      |          / count(*), 4) AS avg
      |  FROM s GROUP BY doc_id),
      |bk AS (
      |  SELECT d.lang, sc.doc_id, sc.n_bigrams,
      |    NTILE(3) OVER (PARTITION BY d.lang
      |                   ORDER BY sc.avg DESC, sc.doc_id)::BIGINT AS bucket
      |  FROM sc JOIN documents d USING (doc_id))
      |SELECT lang, bucket, COUNT(*)::BIGINT AS n_docs,
      |  SUM(doc_id)::BIGINT AS id_sum,
      |  SUM(n_bigrams)::BIGINT AS bigram_sum
      |FROM bk GROUP BY lang, bucket
      |ORDER BY lang NULLS FIRST, bucket""".stripMargin

  /** The CMS hash chain (`tok` word occurrences, the four `bases`, the
    * per-distinct-word row buckets `wh`) — shared by the q40
    * heavy-hitter oracle and st17's whole-grid oracle, so a hash-family
    * tweak cannot update one gate's replay and silently miss the
    * other's (the d20 factoring discipline). Constants mirror
    * [[graft.pipeline.Sketches]]: bases 257/131/193/31, modulus 2³¹−1,
    * width 1024. */
  private[queries] def cmsChainSqlFrom(src: String): String =
    s"""tok AS MATERIALIZED (
      |  SELECT word FROM (
      |    SELECT unnest(regexp_split_to_array(lower(trim(text)),
      |                                        '\\s+')) AS word
      |    FROM $src WHERE text IS NOT NULL) WHERE word <> ''),
      |bases(j, b) AS (VALUES (0, 257), (1, 131), (2, 193), (3, 31)),
      |wh AS MATERIALIZED (
      |  SELECT w.word, b.j,
      |    list_reduce(list_prepend(0::BIGINT,
      |      [ord(word[i])::BIGINT
      |       for i in generate_series(1, length(word))]),
      |      (acc, c) -> (acc * b.b + c) % 2147483647) % 1024 AS bucket
      |  FROM (SELECT DISTINCT word FROM tok) w CROSS JOIN bases b)""".stripMargin

  private[queries] lazy val cmsChainSql: String =
    cmsChainSqlFrom("documents")

  /** The t23 KN-bigram chain through the per-position log-probs `s` —
    * shared by the t23 score oracle and t38's perplexity-bucket oracle
    * (each adds its own rollup tail). */
  private lazy val knBigramChainSql: String =
    """t AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |bgx AS (
      |  SELECT doc_id, p.pos AS pos, p.w1 AS w1, p.w2 AS w2
      |  FROM (SELECT doc_id,
      |          [struct_pack(pos := i, w1 := toks[i], w2 := toks[i+1])
      |           for i in generate_series(1, len(toks)-1)] AS pairs
      |        FROM t) b, unnest(b.pairs) AS u(p)),
      |bcnt AS MATERIALIZED (SELECT w1, w2, count(*)::BIGINT AS cb
      |         FROM bgx GROUP BY w1, w2),
      |lft AS MATERIALIZED (SELECT w1, SUM(cb)::BIGINT AS cw1,
      |          COUNT(*)::BIGINT AS n1w1
      |        FROM bcnt GROUP BY w1),
      |rgt AS MATERIALIZED (SELECT w2, COUNT(*)::BIGINT AS ncont
      |        FROM bcnt GROUP BY w2),
      |nt AS MATERIALIZED (SELECT COUNT(*)::BIGINT AS ntot FROM bcnt),
      |s AS (
      |  SELECT x.doc_id, x.pos,
      |    ln(GREATEST(b.cb::DOUBLE - 0.75, 0.0) / l.cw1::DOUBLE +
      |       ((0.75 * l.n1w1::DOUBLE) / l.cw1::DOUBLE) *
      |       (r.ncont::DOUBLE / nt.ntot::DOUBLE)) AS lp
      |  FROM bgx x JOIN bcnt b ON x.w1 = b.w1 AND x.w2 = b.w2
      |  JOIN lft l ON x.w1 = l.w1
      |  JOIN rgt r ON x.w2 = r.w2
      |  CROSS JOIN nt)""".stripMargin

  /** The t36/t37 oracle's WordPiece chain: [[WpRounds]] likelihood-scored
    * merge rounds unrolled — the bpeOracleBody idiom plus one symbol-count
    * CTE per round. `ww0` holds the `##`-prefixed initial symbol sequences
    * of the no-q distinct words; per round k: `wsc_k` counts symbols,
    * `wp_k` position-counts adjacent pairs, `wb_k` is the scored argmax
    * (c/(cl·cr) as ONE IEEE double division — identical in Spark — with
    * the (score DESC, l, r) tie order) carrying the merged spelling
    * (`##` stripped off the rhs), the recursive `wm_k` applies it as
    * repeated first-occurrence replacement (the t16 equivalence argument)
    * and `ww_k` keeps the fixpoint rows. */
  private def wordpieceOracleBody(rounds: Int): String = {
    val ww0 =
      s"""ww0 AS MATERIALIZED (
         |  SELECT word, COUNT(*)::BIGINT AS cnt,
         |    list_transform(generate_series(1, length(word)),
         |      i -> CASE WHEN i = 1 THEN word[i]
         |           ELSE '##' || word[i] END) AS seq
         |  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)),
         |                                            '\\s+')) AS word
         |        FROM documents
         |        WHERE text IS NOT NULL
         |          AND NOT contains(lower(text), 'q')) t
         |  WHERE word <> '' GROUP BY word)""".stripMargin
    val stages = (1 to rounds).map { k =>
      s"""wsc$k AS MATERIALIZED (
         |  SELECT s, SUM(cnt)::BIGINT AS c
         |  FROM (SELECT unnest(seq) AS s, cnt FROM ww${k - 1})
         |  GROUP BY s),
         |wp$k AS MATERIALIZED (
         |  SELECT seq[i] AS l, seq[i+1] AS r, SUM(cnt)::BIGINT AS c
         |  FROM (SELECT cnt, seq,
         |          unnest(generate_series(1, len(seq)-1)) AS i
         |        FROM ww${k - 1})
         |  GROUP BY 1, 2),
         |wb$k AS MATERIALIZED (
         |  SELECT l, r, c,
         |    l || CASE WHEN starts_with(r, '##') THEN substring(r, 3)
         |         ELSE r END AS mg
         |  FROM (SELECT p.l, p.r, p.c,
         |          p.c::DOUBLE / (a.c::DOUBLE * b.c::DOUBLE) AS sc
         |        FROM wp$k p JOIN wsc$k a ON p.l = a.s
         |        JOIN wsc$k b ON p.r = b.s
         |        ORDER BY sc DESC, l, r LIMIT 1)),
         |wm$k(word, cnt, seq) AS (
         |  SELECT word, cnt, seq FROM ww${k - 1}
         |  UNION ALL
         |  SELECT word, cnt, seq[1:idx-1] || [mg] || seq[idx+2:]
         |  FROM (SELECT wm$k.word, wm$k.cnt, wm$k.seq, wb$k.l, wb$k.r,
         |          wb$k.mg,
         |          COALESCE(list_filter(generate_series(1, len(seq)-1),
         |            i -> seq[i] = l AND seq[i+1] = r)[1], 0) AS idx
         |        FROM wm$k CROSS JOIN wb$k) WHERE idx > 0),
         |ww$k AS MATERIALIZED (
         |  SELECT word, cnt, seq FROM wm$k CROSS JOIN wb$k
         |  WHERE len(list_filter(generate_series(1, len(seq)-1),
         |    i -> seq[i] = l AND seq[i+1] = r)) = 0)""".stripMargin
    }
    (ww0 +: stages).mkString(",\n")
  }

  private lazy val wordpieceTrainOracle: String = {
    val rows = (1 to WpRounds).map { k =>
      if (k == 1)
        s"SELECT 1::BIGINT AS rank, l AS lhs, r AS rhs, c AS freq FROM wb1"
      else s"SELECT $k::BIGINT, l, r, c FROM wb$k"
    }.mkString("\nUNION ALL ")
    s"""WITH RECURSIVE ${wordpieceOracleBody(WpRounds)}
       |SELECT * FROM (
       |$rows
       |) ORDER BY rank""".stripMargin
  }

  /** t37's encode oracle: the t36 chain → vocabulary (every ww0 symbol +
    * every merged token) packed into ONE map row (the um idiom) → a
    * recursive greedy longest-match walk per distinct FULL-corpus word —
    * candidate lengths through the map probe (`##`-prefixed off-initial),
    * list_sort's last element = the longest hit, no hit (or a word past
    * the engine's 100-codepoint bound) = one `[UNK]` token for the whole
    * word — → the per-doc rollup. */
  /** The wordpiece ENCODE CTE block (vocab map → greedy walk → per-doc
    * rollup `wpnb`) — shared by the t37/t39/st16 oracle, t40's trio
    * rollup and t42's stream assembly. The walk accumulates the PIECE
    * list even though the count-only consumers discard it — a
    * deliberate call: the per-step list append is bounded by word
    * length (≤ ~8 on every oracle corpus, and structurally by the
    * longest corpus word), and ONE walk definition for all five gates
    * outweighs that micro-cost — a walk tweak cannot land in the count
    * replay and miss the stream replay. */
  private lazy val wordpieceEncodeCtes: String = {
    val vocabRows = (1 to WpRounds).map(k => s"SELECT mg FROM wb$k")
      .mkString(" UNION ALL ")
    s"""wpv AS MATERIALIZED (
       |  SELECT DISTINCT s AS piece
       |  FROM (SELECT unnest(seq) AS s FROM ww0)
       |  UNION
       |  SELECT mg FROM ($vocabRows)),
       |wpm AS MATERIALIZED (
       |  SELECT MAP(list(piece ORDER BY piece),
       |             list(1 ORDER BY piece)) AS m FROM wpv),
       |wax AS MATERIALIZED (
       |  SELECT doc_id, word FROM (
       |    SELECT doc_id,
       |      unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
       |    FROM documents WHERE text IS NOT NULL) WHERE word <> ''),
       |wwalk(word, pos, n, unk, pieces) AS (
       |  SELECT word,
       |    CASE WHEN length(word) > 100 THEN length(word) ELSE 0 END,
       |    CASE WHEN length(word) > 100 THEN 1 ELSE 0 END::BIGINT,
       |    length(word) > 100,
       |    CASE WHEN length(word) > 100 THEN ['[UNK]']
       |    ELSE []::VARCHAR[] END
       |  FROM (SELECT DISTINCT word FROM wax)
       |  UNION ALL
       |  SELECT word,
       |    CASE WHEN mx IS NULL THEN length(word) ELSE pos + mx END,
       |    CASE WHEN mx IS NULL THEN 1::BIGINT ELSE n + 1 END,
       |    mx IS NULL,
       |    CASE WHEN mx IS NULL THEN ['[UNK]']
       |    ELSE pieces || [CASE WHEN pos = 0
       |      THEN substring(word, 1, mx)
       |      ELSE '##' || substring(word, pos + 1, mx) END] END
       |  FROM (SELECT word, pos, n, pieces,
       |          list_sort(list_filter(list_transform(
       |            generate_series(1, length(word) - pos),
       |            L -> CASE WHEN m[CASE WHEN pos = 0
       |                    THEN substring(word, pos + 1, L)
       |                    ELSE '##' || substring(word, pos + 1, L) END][1]
       |                  IS NOT NULL THEN L END),
       |            x -> x IS NOT NULL))[-1] AS mx
       |        FROM wwalk CROSS JOIN wpm
       |        WHERE pos < length(word))),
       |wtok AS MATERIALIZED (
       |  SELECT word, n, unk, pieces FROM wwalk
       |  WHERE pos = length(word)),
       |wpnb AS MATERIALIZED (
       |  SELECT a.doc_id, COUNT(*)::BIGINT AS n_words,
       |    SUM(t.n)::BIGINT AS n_wp_tokens,
       |    SUM(CASE WHEN t.unk THEN 1 ELSE 0 END)::BIGINT AS n_unk_words
       |  FROM wax a JOIN wtok t USING (word)
       |  GROUP BY a.doc_id)""".stripMargin
  }

  private[queries] lazy val wordpieceEncodeOracle: String =
    s"""WITH RECURSIVE ${wordpieceOracleBody(WpRounds)},
       |$wordpieceEncodeCtes
       |SELECT doc_id, n_words, n_wp_tokens, n_unk_words
       |FROM wpnb ORDER BY doc_id""".stripMargin

  private def bpeTrainOracleOf(rounds: Int): String = {
    val rows = (1 to rounds).map { k =>
      if (k == 1) s"SELECT 1::BIGINT AS rank, l AS lhs, r AS rhs, c AS freq FROM b1"
      else s"SELECT $k::BIGINT, l, r, c FROM b$k"
    }.mkString("\nUNION ALL ")
    s"""${bpeOracleChain(rounds)}
       |SELECT * FROM (
       |$rows
       |) ORDER BY rank""".stripMargin
  }

  private lazy val bpeTrainOracle: String = bpeTrainOracleOf(BpeRounds)

  /** Driver rounds the batched loop takes for the 85-merge deep train on
    * the VERIFY corpus (sf0.01, where the driver's DuckDB gate runs) — a
    * measured deterministic constant (the 31-word vocabulary leaves
    * mostly singleton batches; sf0.1's absolute frequencies draw the
    * strictly-above-stop boundaries differently, 78 rounds there —
    * bench never value-checks). Wide-vocab batching is rehearsed in
    * tools.ScaleRehearsal. Pinned in the t20 gate so a silent regression
    * to sequential training (85 rounds) fails the oracle.
    *
    * DELIBERATELY corpus-scoped: t20 is the registry's ONE oracle with a
    * measured constant rather than a pure SQL replay (the batch rule —
    * symbol-disjointness, collision closure, self-pair close — is driver
    * logic SQL cannot replay), so running Verify against a different
    * data dir fails THIS gate's driver_rounds column by design. On a
    * corpus move, re-pin WITHOUT an oracle edit via the
    * `SPARK_GRAFT_T20_DRIVER_ROUNDS` env override (sf0.01 → 74,
    * sf0.1 → 78 — both measured; the default stays the verify SF). */
  private val BpeDeepDriverRounds: Long =
    sys.env.get("SPARK_GRAFT_T20_DRIVER_ROUNDS") match {
      case Some(v) =>
        // a clear, knob-naming failure: a bare toLong here would surface
        // a typo'd value as ExceptionInInitializerError on EVERY gate in
        // the registry with no hint of the cause
        val t = v.trim
        // digits alone don't save us: a 20-digit value (or '0') would
        // still detonate the static initializer — bound, parse via Try,
        // and require strictly positive, all under the knob-naming message
        val parsed = if (t.nonEmpty && t.length <= 18 && t.forall(_.isDigit))
          scala.util.Try(t.toLong).toOption else None
        parsed.filter(_ > 0L).getOrElse(throw new IllegalArgumentException(
          s"SPARK_GRAFT_T20_DRIVER_ROUNDS must be a positive integer " +
            s"(t20's measured driver-round pin), got '$v'"))
      case None => 74L
    }

  private lazy val bpeDeepTrainOracle: String =
    s"""${bpeOracleChain(BpeDeepRounds)}
       |SELECT rank, lhs, rhs, freq,
       |  $BpeDeepDriverRounds::BIGINT AS driver_rounds
       |FROM (
       |${(1 to BpeDeepRounds).map { k =>
            if (k == 1)
              "SELECT 1::BIGINT AS rank, l AS lhs, r AS rhs, c AS freq FROM b1"
            else s"SELECT $k::BIGINT, l, r, c FROM b$k"
          }.mkString("\nUNION ALL ")}
       |) ORDER BY rank""".stripMargin

  /** The positioned per-doc token CTE shared by t26 and q41 (streams
    * need POSITIONS from the raw split array — i over toks, empties
    * filtered after — so alignment survives empty-split artifacts). */
  private val bpeDtokCte: String =
    s"""dtok AS (
       |  SELECT doc_id, i AS pos, toks[i] AS word
       |  FROM (SELECT doc_id,
       |          regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
       |          unnest(generate_series(1,
       |            len(regexp_split_to_array(lower(trim(text)),
       |                                      '\\s+')))) AS i
       |        FROM documents WHERE text IS NOT NULL) t
       |  WHERE toks[i] <> '')""".stripMargin

  /** The q41/q42 shared id-stream replay: the t16 chain, positioned
    * tokens, the sorted-rank vocabulary numbering as ONE map row, and
    * `tids(doc_id, ids)` — per-doc integer id streams. */
  private[queries] lazy val bpeIdStreamCtes: String =
    s"""${bpeOracleChain(BpeRounds)},
       |$bpeDtokCte,
       |vmap AS MATERIALIZED (
       |  SELECT MAP(list(s ORDER BY s), list(id ORDER BY s)) AS m
       |  FROM (SELECT s, (ROW_NUMBER() OVER (ORDER BY s) - 1)::BIGINT
       |            AS id
       |        FROM (SELECT DISTINCT unnest(seq) AS s
       |              FROM w$BpeRounds))),
       |str AS (
       |  SELECT doc_id, flatten(list(seq ORDER BY pos)) AS stream
       |  FROM dtok JOIN w$BpeRounds w USING (word)
       |  GROUP BY doc_id),
       |tids AS MATERIALIZED (
       |  SELECT doc_id, list_transform(stream, s -> m[s][1]) AS ids
       |  FROM str CROSS JOIN vmap)""".stripMargin

  /** The t17/t18 shared tail: per-doc word + BPE-token counts under the
    * round-[[BpeRounds]] vocab. */
  private lazy val bpeDocCountsCte: String = bpeDocCountsCteFrom("documents")

  private def bpeDocCountsCteFrom(src: String): String =
    s"""tok AS (
       |  SELECT doc_id,
       |    unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
       |  FROM $src WHERE text IS NOT NULL),
       |nb AS (
       |  SELECT t.doc_id, COUNT(*)::BIGINT AS n_words,
       |    SUM(len(w.seq))::BIGINT AS n
       |  FROM (SELECT * FROM tok WHERE word <> '') t
       |  JOIN w$BpeRounds w USING (word)
       |  GROUP BY t.doc_id)""".stripMargin

  // shared with StreamQueries: st12's fold path equals the dictionary
  // join exactly on a self-trained corpus, so the streaming twin reuses
  // this oracle verbatim
  private[queries] lazy val bpeEncodeOracle: String =
    s"""${bpeOracleChain(BpeRounds)},
       |$bpeDocCountsCte
       |SELECT doc_id, n_words, n AS n_bpe_tokens
       |FROM nb ORDER BY doc_id""".stripMargin

  /** The t29 oracle's OOV machinery: the learned merges packed into ONE
    * rank-map row (length-prefixed pair key — the engine's pairKey
    * convention; MIN(rank) mirrors rankMap's lowest-rank-wins), and a
    * recursive greedy loop that merges the lowest-rank adjacent pair
    * (leftmost on position ties — the struct sort's second field) until
    * none applies: exactly [[graft.pipeline.Bpe.encodeWordGreedy]].
    * Expects an `ow(word)` CTE of the distinct OOV words. */
  private def bpeGreedyCtes(rounds: Int,
      seqExpr: String = CharSeqSql): String = {
    val rankRows = (1 to rounds).map { k =>
      if (k == 1) "SELECT 1 AS rank, l, r FROM b1"
      else s"SELECT $k, l, r FROM b$k"
    }.mkString("\n    UNION ALL ")
    s"""mm AS MATERIALIZED (
       |  SELECT MAP(list(k ORDER BY k), list(rk ORDER BY k)) AS m FROM (
       |    SELECT length(l)::VARCHAR || ':' || l || r AS k,
       |      MIN(rank) AS rk
       |    FROM ($rankRows)
       |    GROUP BY 1)),
       |gre(word, seq, done) AS (
       |  SELECT word, $seqExpr, FALSE
       |  FROM ow
       |  UNION ALL
       |  SELECT word,
       |    CASE WHEN best IS NULL THEN seq
       |         ELSE seq[1:best.i-1] ||
       |              [seq[best.i] || seq[best.i+1]] || seq[best.i+2:] END,
       |    best IS NULL
       |  FROM (SELECT word, seq,
       |          list_sort(list_filter(
       |            list_transform(generate_series(1, len(seq)-1),
       |              i -> {'r': m[length(seq[i])::VARCHAR || ':' ||
       |                           seq[i] || seq[i+1]][1],
       |                    'i': i}),
       |            x -> x.r IS NOT NULL))[1] AS best
       |        FROM gre CROSS JOIN mm WHERE NOT done))""".stripMargin
  }

  private lazy val bpeOovEncodeOracle: String =
    s"""${bpeOracleChain(BpeRounds)},
       |tok0 AS MATERIALIZED (
       |  SELECT doc_id,
       |    unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
       |  FROM documents WHERE text IS NOT NULL),
       |tw AS MATERIALIZED (
       |  SELECT doc_id, word FROM tok0 WHERE word <> ''
       |  UNION ALL
       |  SELECT doc_id + 1000000, reverse(word) FROM tok0
       |  WHERE doc_id % 50 = 0 AND word <> ''),
       |ow AS MATERIALIZED (
       |  SELECT DISTINCT word FROM tw
       |  WHERE word NOT IN (SELECT word FROM w$BpeRounds)),
       |${bpeGreedyCtes(BpeRounds)},
       |leg AS (
       |  SELECT t.doc_id, len(w.seq)::BIGINT AS n_sub
       |  FROM tw t JOIN w$BpeRounds w USING (word)
       |  UNION ALL
       |  SELECT t.doc_id, len(g.seq)::BIGINT
       |  FROM tw t JOIN (SELECT word, seq FROM gre WHERE done) g
       |    USING (word))
       |SELECT doc_id, COUNT(*)::BIGINT AS n_words,
       |  SUM(n_sub)::BIGINT AS n_bpe_tokens
       |FROM leg GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The t44 encode corpus: the byte TRAIN corpus plus the novel-script
    * rows. */
  private val byteEncodeCorpusSql: String =
    s"""(SELECT doc_id, text FROM $byteCorpusSql
       |  UNION ALL ${plantedSql(byteOovPlanted)})""".stripMargin

  /** t46's oracle: the GPT-2 pretokenizer replayed in RE2/DuckDB — the
    * ENGINE'S OWN lookahead-free split pattern and whitespace class
    * (the t34 posture: one constant, two dialects) plus the fix-up as
    * a list lambda over raw-token indexes, mirroring
    * [[graft.pipeline.Gpt2.pretokenize]] branch for branch. The
    * decode side never runs the tokenizer: decoded_md5 is md5 of the
    * RAW text, so agreement proves `decode ∘ encode` is the IDENTITY
    * (pieces preserve separators; byte symbols are lossless). */
  private lazy val gpt2PretokOracle: String = {
    import graft.pipeline.Gpt2
    val split = Gpt2.SplitRe.replace("'", "''")
    val wsRun = Gpt2.WsRunRe.replace("'", "''")
    val cons = Gpt2.Contractions
      .map(c => "'" + c.replace("'", "''") + "'").mkString(", ")
    s"""WITH pt AS (
       |  SELECT doc_id, text,
       |    regexp_extract_all(text, '$split') AS a
       |  FROM $gpt2CorpusSql WHERE text IS NOT NULL),
       |fx AS (
       |  SELECT doc_id, text,
       |    list_filter(flatten(list_transform(
       |      generate_series(1, len(a)), i ->
       |      CASE
       |        WHEN regexp_matches(a[i], '$wsRun') AND i < len(a) THEN
       |          CASE WHEN right(a[i], 1) = ' '
       |            THEN [left(a[i], length(a[i]) - 1)]
       |            ELSE [left(a[i], length(a[i]) - 1), right(a[i], 1)]
       |          END
       |        WHEN i > 1 AND regexp_matches(a[i-1], '$wsRun')
       |            AND right(a[i-1], 1) = ' '
       |            AND a[i] IN ($cons) THEN
       |          CASE WHEN i < len(a)
       |                 AND regexp_matches(a[i+1], '^\\p{L}')
       |            THEN [' ''']
       |            ELSE [' ''', a[i][2:]] END
       |        WHEN i > 2 AND regexp_matches(a[i-2], '$wsRun')
       |            AND right(a[i-2], 1) = ' '
       |            AND a[i-1] IN ($cons)
       |            AND regexp_matches(a[i], '^\\p{L}') THEN
       |          [a[i-1][2:] || a[i]]
       |        WHEN i > 1 AND regexp_matches(a[i-1], '$wsRun')
       |            AND right(a[i-1], 1) = ' ' THEN
       |          [' ' || a[i]]
       |        ELSE [a[i]]
       |      END)), p -> p <> '') AS pieces
       |  FROM pt)
       |SELECT doc_id, len(pieces)::BIGINT AS n_pieces,
       |  md5(array_to_string(list_transform(pieces, p -> md5(p)), ' '))
       |    AS pieces_md5,
       |  octet_length(encode(text))::BIGINT AS n_bytes,
       |  md5(text) AS decoded_md5
       |FROM fx WHERE len(pieces) > 0 ORDER BY doc_id""".stripMargin
  }

  /** t43's oracle: the t16 unrolled-train machinery over the BYTE
    * symbolization and the planted-multi-script corpus — same CTE
    * generator, two parameters swapped. Hex symbols are ASCII, so the
    * argmax tie-break's binary string order is plain lexicographic hex
    * order on both engines. */
  private lazy val byteBpeTrainOracle: String = {
    val rows = (1 to ByteBpeRounds).map { k =>
      if (k == 1)
        "SELECT 1::BIGINT AS rank, l AS lhs, r AS rhs, c AS freq FROM b1"
      else s"SELECT $k::BIGINT, l, r, c FROM b$k"
    }.mkString("\nUNION ALL ")
    s"""WITH RECURSIVE ${
        bpeOracleBody(ByteBpeRounds, byteCorpusSql, ByteSeqSql)}
       |SELECT * FROM (
       |$rows
       |) ORDER BY rank""".stripMargin
  }

  /** t44's oracle — the t29 two-leg replay in the byte domain: the byte
    * train chain feeds the dictionary leg, the greedy recursive loop
    * (over byte symbols) the novel-script leg. */
  private[queries] lazy val byteBpeOovEncodeOracle: String =
    s"""WITH RECURSIVE ${
        bpeOracleBody(ByteBpeRounds, byteCorpusSql, ByteSeqSql)},
       |tw AS MATERIALIZED (
       |  SELECT doc_id, word FROM (
       |    SELECT doc_id,
       |      unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
       |        AS word
       |    FROM $byteEncodeCorpusSql WHERE text IS NOT NULL)
       |  WHERE word <> ''),
       |ow AS MATERIALIZED (
       |  SELECT DISTINCT word FROM tw
       |  WHERE word NOT IN (SELECT word FROM w$ByteBpeRounds)),
       |${bpeGreedyCtes(ByteBpeRounds, ByteSeqSql)},
       |leg AS (
       |  SELECT t.doc_id, len(w.seq)::BIGINT AS n_sub
       |  FROM tw t JOIN w$ByteBpeRounds w USING (word)
       |  UNION ALL
       |  SELECT t.doc_id, len(g.seq)::BIGINT
       |  FROM tw t JOIN (SELECT word, seq FROM gre WHERE done) g
       |    USING (word))
       |SELECT doc_id, COUNT(*)::BIGINT AS n_words,
       |  SUM(n_sub)::BIGINT AS n_bytebpe_tokens
       |FROM leg GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The q42/q43 shared concat-and-chop replay over `tids`: cumulative
    * token offsets (an ORACLE may use the single-task window the
    * engine's two-pass scan replaces) and global token positions. ONE
    * copy so an offset-arithmetic tweak cannot update one gate's replay
    * and miss the other's; `poff` is MATERIALIZED — q43 references it
    * from both `ptok` and its span-clip CTE. */
  private def packChopCtesFrom(src: String): String =
    s"""poff AS MATERIALIZED (
       |  SELECT doc_id, ids,
       |    COALESCE(SUM(len(ids)) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0)::BIGINT AS s
       |  FROM $src),
       |ptok AS (
       |  SELECT (s + i - 1) AS gpos, ids[i] AS tok
       |  FROM (SELECT doc_id, ids, s,
       |          unnest(generate_series(1, len(ids))) AS i
       |        FROM poff))""".stripMargin

  private lazy val packChopCtes: String = packChopCtesFrom("tids")

  /** The SHARED q43/q48/q49 boundary-replay tail (reads the
    * [[packChopCtesFrom]] poff/ptok frames): per-sequence token rollup
    * + the span clip — each doc's global token interval [s, s+n)
    * intersected with every 512-token sequence it touches, start/len
    * in sequence coordinates, ordered by start. One copy, so a clip
    * tweak cannot update one packing gate's replay and miss another. */
  private lazy val packBoundariesTail: String =
    s"""seqt AS (
       |  SELECT gpos // 512 AS seq_id, COUNT(*)::BIGINT AS n_tokens,
       |    md5(array_to_string(list(tok ORDER BY gpos), ' '))
       |      AS ids_md5
       |  FROM ptok GROUP BY 1),
       |segs AS (
       |  SELECT (s // 512 + j - 1) AS seq_id, doc_id,
       |    GREATEST(s - (s // 512 + j - 1) * 512, 0) AS st,
       |    LEAST(s + n, (s // 512 + j) * 512)
       |      - GREATEST(s, (s // 512 + j - 1) * 512) AS ln
       |  FROM (SELECT doc_id, s, len(ids) AS n,
       |          unnest(generate_series(1,
       |            ((s + len(ids) - 1) // 512) - (s // 512) + 1)) AS j
       |        FROM poff WHERE len(ids) > 0)),
       |segt AS (
       |  SELECT seq_id, COUNT(*)::BIGINT AS n_docs,
       |    md5(array_to_string(list(
       |      doc_id::VARCHAR || ':' || st::VARCHAR || ':' ||
       |        ln::VARCHAR ORDER BY st), ' ')) AS segs_md5
       |  FROM segs GROUP BY seq_id)
       |SELECT seq_id, n_tokens, ids_md5, n_docs, segs_md5
       |FROM seqt JOIN segt USING (seq_id) ORDER BY seq_id""".stripMargin

  /** The d23/d25 shared probe oracle: index probe == full recompute
    * (Bloom has no false negatives; survivors exact-verified against
    * the stored grams) — the d12 exact-overlap SQL over the %11
    * split. */
  private lazy val contamProbeOracle: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(toks[i:i+3], ' ')
      |     for i in generate_series(1, len(toks) - 3)])) AS gram
      |  FROM t),
      |b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 11 = 0)
      |SELECT DISTINCT g.doc_id FROM g JOIN b USING (gram)
      |WHERE g.doc_id % 11 <> 0 ORDER BY doc_id""".stripMargin

  /** The q47/q50 shared multi-epoch document-order replay: per-epoch
    * md5(42:epoch:doc_id) shuffle keys over the nb token counts (3
    * epochs), then the global doc_index rank and the token prefix sum
    * `s` in (epoch, h, doc_id) order — the engine computes both in one
    * fused two-pass scan; the oracle may use the single-task windows. */
  private lazy val epochOrderCtes: String =
    """ed AS (
      |  SELECT e.epoch, nb.doc_id, nb.n,
      |    md5('42:' || e.epoch::VARCHAR || ':' || nb.doc_id::VARCHAR)
      |      AS h
      |  FROM nb
      |  CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS epoch) e
      |  WHERE nb.n > 0),
      |eo AS (
      |  SELECT doc_id, n,
      |    (ROW_NUMBER() OVER (ORDER BY epoch, h, doc_id) - 1)::BIGINT
      |      AS doc_index,
      |    COALESCE(SUM(n) OVER (ORDER BY epoch, h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      0)::BIGINT AS s
      |  FROM ed)""".stripMargin

  /** The q32/q49 shared α-sampling draw replay: per-language counts,
    * the language-ordered normalizer fold, floor(300·√n/s) targets and
    * the per-language doc_id rank (single-task window allowed
    * oracle-side; the engine uses groupRankAsc's two-pass scan). */
  private lazy val q32DrawCtes: String =
    """n AS (
      |  SELECT lang, COUNT(*)::BIGINT AS n FROM documents
      |  WHERE text IS NOT NULL GROUP BY lang),
      |tot AS (
      |  SELECT list_reduce(list_prepend(0.0::DOUBLE,
      |    list(sqrt(n::DOUBLE) ORDER BY lang)), (a, b) -> a + b) AS s
      |  FROM n),
      |tgt AS (
      |  SELECT lang, n,
      |    CAST(floor(300.0 * sqrt(n::DOUBLE) / tot.s) AS BIGINT)
      |      AS target
      |  FROM n CROSS JOIN tot),
      |r AS (
      |  SELECT lang, doc_id, ROW_NUMBER() OVER (
      |    PARTITION BY lang ORDER BY doc_id) AS rk
      |  FROM documents WHERE text IS NOT NULL)""".stripMargin

  /** The q48/q49 separator-append CTEs: the replayed vocab size (the
    * engine's deterministic numbering makes the separator id = the
    * distinct-symbol count) appended to each stream — `$src` must have
    * (doc_id, ids). */
  private def eodAppendCtes(src: String): String =
    s"""vsz AS (
       |  SELECT COUNT(*)::BIGINT AS v
       |  FROM (SELECT DISTINCT unnest(seq) AS s FROM w$BpeRounds)),
       |teod AS (
       |  SELECT doc_id, list_append(ids, v) AS ids
       |  FROM $src CROSS JOIN vsz)""".stripMargin

  /** The d20/d22 shared URL-dedup replay: corpus CASE mirrors
    * [[urlCorpus]]; the canonicalization chain uses the ENGINE'S OWN
    * pattern constants (the t34 posture) — only the backref syntax is
    * dialect-local (\1 here, $1 in Spark). `docWhere` filters the
    * DECISION tail only — d22's index semantics are a global keeper
    * window (stored partial minima ∪ increment), increment-restricted
    * decisions. */
  private def urlDedupOracle(docWhere: String): String = {
    import graft.pipeline.Dedup._
    s"""WITH uc AS (
       |  SELECT doc_id, CASE doc_id % 5
       |    WHEN 0 THEN 'https://site' || (doc_id % 7)::VARCHAR ||
       |      '.com/page/' || (doc_id % 50)::VARCHAR
       |    WHEN 1 THEN 'HTTPS://WWW.SITE' || (doc_id % 7)::VARCHAR ||
       |      '.COM/page/' || (doc_id % 50)::VARCHAR
       |    WHEN 2 THEN 'https://site' || (doc_id % 7)::VARCHAR ||
       |      '.com:443/page/' || (doc_id % 50)::VARCHAR || '/'
       |    WHEN 3 THEN 'https://site' || (doc_id % 7)::VARCHAR ||
       |      '.com/page/' || (doc_id % 50)::VARCHAR ||
       |      '?utm_source=x&utm_campaign=y'
       |    ELSE 'https://site' || (doc_id % 7)::VARCHAR ||
       |      '.com/page/' || (doc_id % 50)::VARCHAR ||
       |      '?id=7&utm_medium=z#frag'
       |    END AS url
       |  FROM documents WHERE text IS NOT NULL),
       |c0 AS (SELECT doc_id,
       |  regexp_replace(url, '$UrlFragmentRe', '', 'g') AS u FROM uc),
       |c1 AS (SELECT doc_id,
       |  lower(regexp_extract(u, '$UrlHeadRe')) ||
       |    substr(u, length(regexp_extract(u, '$UrlHeadRe')) + 1) AS u
       |  FROM c0),
       |c2 AS (SELECT doc_id,
       |  regexp_replace(u, '$UrlWwwRe', '\\1', 'g') AS u FROM c1),
       |c3 AS (SELECT doc_id,
       |  regexp_replace(u, '$UrlPort443Re', '\\1\\2', 'g') AS u FROM c2),
       |c4 AS (SELECT doc_id,
       |  regexp_replace(u, '$UrlUtmMidRe', '', 'g') AS u FROM c3),
       |c5 AS (SELECT doc_id,
       |  regexp_replace(u, '$UrlUtmLeadRe', '?', 'g') AS u FROM c4),
       |c6 AS (SELECT doc_id,
       |  regexp_replace(regexp_replace(u, '$UrlTrailQRe', '', 'g'),
       |    '$UrlTrailSlashRe', '', 'g') AS canon FROM c5),
       |dm AS (SELECT doc_id, canon,
       |  regexp_extract(regexp_extract(canon, '$UrlHostRe', 1),
       |    '$UrlDomainRe') AS domain FROM c6),
       |mk AS (SELECT doc_id, canon,
       |  domain IN ('site3.com', 'site5.com') AS blocked FROM dm),
       |kp AS (SELECT canon, MIN(doc_id) AS keep_id FROM mk
       |  WHERE NOT blocked GROUP BY canon),
       |dec AS (SELECT mk.doc_id,
       |  CASE WHEN blocked THEN 'blocked'
       |       WHEN mk.doc_id = kp.keep_id THEN 'kept'
       |       ELSE 'dup' END AS decision
       |  FROM mk LEFT JOIN kp USING (canon) $docWhere)
       |SELECT decision, COUNT(*)::BIGINT AS n_docs,
       |  SUM(doc_id)::BIGINT AS sum_doc_id
       |FROM dec GROUP BY decision ORDER BY decision""".stripMargin
  }

  /** The t35/d21 shared line-dedup replay: plant (CASE concat mirrors
    * [[lineDedupCorpus]], chr(10) = newline), CORPUS-WIDE line counts,
    * threshold > 1, ordered reassembly (COALESCE: a doc whose every line
    * is boilerplate reassembles to '' like the engine's empty
    * array-join, never NULL). `docWhere` filters the OUTPUT tail only —
    * d21's index semantics are global counts, increment-restricted
    * rollup. */
  private def lineDedupOracle(docWhere: String): String =
    s"""WITH bp AS (
       |  SELECT doc_id, 'SUBSCRIBE to our newsletter' || chr(10) ||
       |    CASE WHEN doc_id % 2 = 0
       |         THEN 'Cookie banner: accept all' || chr(10)
       |         ELSE '' END ||
       |    text ||
       |    chr(10) || 'unique doc marker ' || doc_id::VARCHAR ||
       |    chr(10) || '(c) corpus footer' AS text
       |  FROM documents WHERE text IS NOT NULL),
       |sl AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM bp),
       |ln AS (SELECT doc_id,
       |  unnest(generate_series(1, len(l))) AS pos, l FROM sl),
       |l2 AS MATERIALIZED (SELECT doc_id, pos, l[pos] AS line FROM ln),
       |ct AS (SELECT line, COUNT(*) AS n FROM l2 GROUP BY line),
       |fl AS (SELECT doc_id, pos, l2.line, n > 1 AS dup
       |  FROM l2 JOIN ct USING (line))
       |SELECT doc_id,
       |  (COUNT(*) FILTER (WHERE NOT dup))::BIGINT AS n_kept,
       |  (COUNT(*) FILTER (WHERE dup))::BIGINT AS n_dropped,
       |  md5(array_to_string(
       |    COALESCE(list(line ORDER BY pos) FILTER (WHERE NOT dup), []),
       |    chr(10))) AS clean_md5
       |FROM fl $docWhere GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** t30's train predicate — the alphabet-gap corpus (no letter 'q'),
    * mirrored exactly by the engine's `!lower(text).contains("q")`. */
  private val NoQTrainWhere =
    "text IS NOT NULL AND NOT contains(lower(text), 'q')"

  private lazy val unigramOovEncodeOracle: String =
    s"""${unigramOracleChain(UmIters, NoQTrainWhere)},
       |uwAll AS MATERIALIZED (
       |  SELECT word, COUNT(*)::BIGINT AS cnt
       |  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)),
       |                                            '\\s+')) AS word
       |        FROM documents WHERE text IS NOT NULL) t
       |  WHERE word <> '' GROUP BY word),
       |${umViterbiCtes("F", s"um${UmIters + 1}", wordCte = "uwAll",
            fallback = true)},
       |uwpF AS MATERIALIZED (
       |  SELECT word, len(pieces)::BIGINT AS np FROM ubtF WHERE i = 0),
       |utokF AS (
       |  SELECT doc_id,
       |    unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT t.doc_id, COUNT(*)::BIGINT AS n_words,
       |  SUM(w.np)::BIGINT AS n_um_tokens
       |FROM (SELECT * FROM utokF WHERE word <> '') t
       |JOIN uwpF w USING (word)
       |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin

  /** The 256-token packing replay shared by t18 and q35: cumulative
    * window over `from`(doc_id, n), then the seq_id explode rollup. */
  private def packingTailSql(from: String): String =
    s"""cw AS (
       |  SELECT doc_id, n,
       |    COALESCE(SUM(n) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
       |      AS s
       |  FROM $from)
       |SELECT seq_id, COUNT(*) AS n_docs FROM (
       |  SELECT doc_id,
       |    unnest(generate_series(s // 256, (s + n - 1) // 256)) AS seq_id
       |  FROM cw WHERE n > 0) x
       |GROUP BY seq_id ORDER BY seq_id""".stripMargin

  /** The Gopher metric arithmetic shared by t19 and q35 — one CTE
    * computing the five integer rule inputs per `keyCol` (word count,
    * summed word length, symbol count, alphabetic-word count, stop-word
    * count). Factored so a rule tweak cannot update one gate's oracle
    * and silently miss the other's. */
  private def gopherMetricsCte(name: String, keyCol: String,
      src: String = "documents"): String =
    s"""$name AS (
       |  SELECT $keyCol, len(toks)::BIGINT AS n,
       |    list_reduce(list_prepend(0::BIGINT,
       |      [length(t) for t in toks]::BIGINT[]),
       |      (a, b) -> a + b) AS suml,
       |    (len(regexp_extract_all(text, '#'))
       |     + len(regexp_extract_all(text, '(\\.\\.\\.|…)')))::BIGINT
       |      AS sym,
       |    len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))::BIGINT
       |      AS alpha,
       |    len(list_filter(toks, t -> t IN ('the','be','to','of','and',
       |      'that','have','with')))::BIGINT AS stop
       |  FROM (SELECT $keyCol,
       |          regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
       |          text
       |        FROM $src WHERE text IS NOT NULL) t)""".stripMargin

  /** [[graft.pipeline.TextAnalysis.htmlToText]]'s rule chain replayed in
    * DuckDB around `expr` — the PATTERNS ARE THE ENGINE'S OWN CONSTANTS
    * (interpolated from TextAnalysis, the d19 one-pattern-set-engine-wide
    * posture), so the two sides cannot drift; `chr(10)` spells the
    * newline a standard SQL string literal cannot. */
  private def htmlExtractSql(expr: String): String = {
    import graft.pipeline.TextAnalysis._
    val noScript = s"regexp_replace($expr, '$HtmlScriptRe', '', 'g')"
    val noStyle = s"regexp_replace($noScript, '$HtmlStyleRe', '', 'g')"
    val noComment = s"regexp_replace($noStyle, '$HtmlCommentRe', '', 'g')"
    val blocks =
      s"regexp_replace($noComment, '$HtmlBlockTagRe', chr(10), 'g')"
    val noTags = s"regexp_replace($blocks, '$HtmlAnyTagRe', '', 'g')"
    val decoded = HtmlEntities.foldLeft(noTags) { case (c, (s, r)) =>
      s"replace($c, '$s', '${r.replace("'", "''")}')"
    }
    val hspace = s"regexp_replace($decoded, '$HtmlHspaceRe', ' ', 'g')"
    val nlruns = s"regexp_replace($hspace, '$HtmlNewlineRunRe', chr(10), 'g')"
    s"regexp_replace($nlruns, '$HtmlTrimRe', '', 'g')"
  }

  /** [[htmlCorpus]]'s wrap as the hc CTE — shared by t34/q38 (via
    * [[htmlExtCtes]]) and q39 (which wraps hc in an HTTP message). */
  private def htmlCorpusCteWhere(extra: String): String =
    s"""hc AS (
       |  SELECT doc_id, '<html><!-- nav <p>skip</p> --><head><title>Doc ' ||
       |    doc_id::VARCHAR ||
       |    '</title><style type="text/css">body { color: #fff }</style><script>var s = "</div>"; if (1 < 2) { go(); }</script></head><body><h1>Doc ' ||
       |    doc_id::VARCHAR || '</h1><p>' ||
       |    replace(replace(replace(text, '&', '&amp;'),
       |            '<', '&lt;'), '>', '&gt;') ||
       |    '</p><div class="footer">&copy; corpus &amp; co</div></body></html>'
       |    AS html
       |  FROM documents WHERE text IS NOT NULL $extra)""".stripMargin

  private lazy val htmlCorpusCte: String = htmlCorpusCteWhere("")

  /** hc + the extraction chain as CTE ext — t34 verifies ext directly;
    * q38 feeds the downstream pipeline from it. */
  private lazy val htmlExtCtes: String =
    s"""$htmlCorpusCte,
       |ext AS (SELECT doc_id, ${htmlExtractSql("html")} AS text FROM hc)"""
      .stripMargin

  /** All five Gopher rules AND'd — q35's keep predicate; t19's r CTE
    * spells the same five conjuncts individually (it reports per-rule
    * violation counts). */
  private val gopherPassSql: String =
    "n BETWEEN 50 AND 100000 AND 3 * n <= suml AND suml <= 10 * n " +
      "AND 10 * sym <= n AND 5 * alpha >= 4 * n AND stop >= 2"

  private lazy val bpePackingOracle: String =
    s"""${bpeOracleChain(BpeRounds)},
       |$bpeDocCountsCte,
       |${packingTailSql("nb")}""".stripMargin

  /** The d16/d18 shared CTE chain: normalized text → per-position
    * 40-char windows → duplicated keys → flagged positions → maximal
    * fused spans (doc_id, sp_s, sp_e). */
  private val exactSubstrSpanCtes: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
      |  FROM documents WHERE text IS NOT NULL),
      |pos AS (
      |  SELECT doc_id, i, substring(t, i, 40) AS key
      |  FROM (SELECT doc_id, t, unnest(generate_series(1, length(t) - 39))
      |          AS i
      |        FROM d WHERE length(t) >= 40)),
      |dup AS (SELECT key FROM pos GROUP BY key HAVING COUNT(*) >= 2),
      |f AS (
      |  SELECT doc_id, i::BIGINT AS s, (i + 39)::BIGINT AS e
      |  FROM pos WHERE key IN (SELECT key FROM dup)),
      |runs AS (
      |  SELECT doc_id, s, e,
      |    CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id
      |      ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      -1) + 1
      |    THEN 1 ELSE 0 END AS brk
      |  FROM f),
      |spans AS (
      |  SELECT doc_id, MIN(s) AS sp_s, MAX(e) AS sp_e
      |  FROM (SELECT doc_id, s, e, SUM(brk) OVER (
      |          PARTITION BY doc_id ORDER BY s
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      |        FROM runs)
      |  GROUP BY doc_id, run)""".stripMargin

  private val jaccardOracle =
    // gram count is bounded by the LOWERED length (lowercasing can change
    // codepoint count, e.g. U+0130) — same convention as the Spark kernel
    // and the t07 oracle
    """WITH g AS (
      |  SELECT doc_id,
      |    list_distinct([substring(t, i, 3)
      |                   for i in generate_series(1, length(t) - 2)]) AS grams
      |  FROM (SELECT doc_id, lower(text) AS t
      |        FROM documents WHERE doc_id < 300))
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  len(list_intersect(a.grams, b.grams))::DOUBLE
      |    / len(list_distinct(list_concat(a.grams, b.grams))) AS jac
      |FROM g a JOIN g b ON a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
      |    / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.8
      |ORDER BY id_a, id_b""".stripMargin

  val oracle: Map[String, String] = Map(
    "d17_band_index_dedup" ->
      // the d15 brute oracle verbatim: the persisted-index path must find
      // the identical cross pairs
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(toks[i:i+4], ' ')
        |                   for i in generate_series(1, len(toks) - 4)]) AS grams
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |        FROM documents WHERE text IS NOT NULL)),
        |b AS (SELECT * FROM g WHERE doc_id % 17 = 0),
        |c AS (SELECT * FROM g WHERE doc_id % 17 <> 0)
        |SELECT b.doc_id AS new_id, c.doc_id AS corpus_id,
        |  len(list_intersect(b.grams, c.grams))::DOUBLE
        |    / len(list_distinct(list_concat(b.grams, c.grams))) AS jac
        |FROM b JOIN c ON true
        |WHERE len(list_intersect(b.grams, c.grams))::DOUBLE
        |    / len(list_distinct(list_concat(b.grams, c.grams))) >= 0.8
        |ORDER BY new_id, corpus_id""".stripMargin,
    "q32_temperature_mix" ->
      // sqrt of integer counts + a language-ordered normalizer fold +
      // the pinned (300*sqrt)/s dataflow — bit-exact on both engines;
      // the draw CTEs are the SHARED q32DrawCtes (q49 replays the same
      // draw in front of its pack)
      s"""WITH $q32DrawCtes
        |SELECT t.lang, t.n AS n_docs, t.target,
        |  COUNT(*) FILTER (WHERE r.rk <= t.target)::BIGINT AS n_kept,
        |  COALESCE(SUM(doc_id) FILTER (WHERE r.rk <= t.target), 0)::BIGINT
        |    AS kept_id_sum
        |FROM r JOIN tgt t USING (lang)
        |GROUP BY t.lang, t.n, t.target ORDER BY t.lang""".stripMargin,
    "t19_gopher_rules" ->
      // integer cross-product forms of every ratio rule (3n<=suml<=10n,
      // 10*sym<=n, 5*alpha>=4n) — bit-exact on both engines; the metric
      // arithmetic is the SHARED gopherMetricsCte (q35 filters on the
      // same five rules)
      s"""WITH ${gopherMetricsCte("m", "source")},
        |r AS (
        |  SELECT source,
        |    n BETWEEN 50 AND 100000 AS r_wc,
        |    3 * n <= suml AND suml <= 10 * n AS r_mwl,
        |    10 * sym <= n AS r_sym,
        |    5 * alpha >= 4 * n AS r_alpha,
        |    stop >= 2 AS r_stop
        |  FROM m)
        |SELECT source, COUNT(*)::BIGINT AS n_docs,
        |  COUNT(*) FILTER (WHERE NOT r_wc)::BIGINT AS v_wc,
        |  COUNT(*) FILTER (WHERE NOT r_mwl)::BIGINT AS v_mwl,
        |  COUNT(*) FILTER (WHERE NOT r_sym)::BIGINT AS v_sym,
        |  COUNT(*) FILTER (WHERE NOT r_alpha)::BIGINT AS v_alpha,
        |  COUNT(*) FILTER (WHERE NOT r_stop)::BIGINT AS v_stop,
        |  COUNT(*) FILTER (WHERE r_wc AND r_mwl AND r_sym AND r_alpha
        |    AND r_stop)::BIGINT AS n_pass
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "q31_source_cap" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    len(regexp_split_to_array(lower(trim(text)), '\s+'))::BIGINT AS n
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (
        |  SELECT source, doc_id, n, ROW_NUMBER() OVER (
        |    PARTITION BY source ORDER BY n DESC, doc_id) AS rk
        |  FROM t),
        |k AS (
        |  SELECT source, COUNT(*)::BIGINT AS n_kept,
        |    SUM(n)::BIGINT AS kept_tokens,
        |    SUM(doc_id)::BIGINT AS kept_id_sum
        |  FROM r WHERE rk <= 15 GROUP BY source)
        |SELECT t.source, COUNT(*)::BIGINT AS n_docs,
        |  ANY_VALUE(k.n_kept) AS n_kept,
        |  ANY_VALUE(k.kept_tokens) AS kept_tokens,
        |  ANY_VALUE(k.kept_id_sum) AS kept_id_sum
        |FROM t JOIN k USING (source)
        |GROUP BY t.source ORDER BY t.source""".stripMargin,
    "s11_ann_delete" ->
      // s10's contract over the post-delete corpus: counts exclude the
      // removed vec_id%7==3 slice exactly
      """SELECT
        |  CAST(COUNT(*) FILTER (WHERE vec_id < 8 AND vec_id % 7 <> 3)
        |    AS BIGINT) AS n_queries,
        |  CAST(5 * COUNT(*) FILTER (WHERE vec_id < 8 AND vec_id % 7 <> 3)
        |    AS BIGINT) AS n_results,
        |  CAST(COUNT(*) FILTER (WHERE vec_id % 7 <> 3) AS BIGINT)
        |    AS n_codes,
        |  TRUE AS recall_ok
        |FROM embeddings""".stripMargin,
    "t18_bpe_packing" -> bpePackingOracle,
    "q30_quality_classifier" ->
      // the kernel's exact pipeline: explicit base-257 mod-1000003 gram
      // hash mod 4096, NB class counts over the even-doc_id train slice,
      // fixed-point micro-log-odds weights (fixed ln combination order),
      // integer score sums + prior bias on the held-out slice
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
        |    doc_id % 2 = 0 AS is_train,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT doc_id, label, is_train,
        |    unnest([array_to_string(toks[i:i+1], ' ')
        |            for i in generate_series(1, len(toks)-1)]) AS gram
        |  FROM t),
        |fx AS (
        |  SELECT doc_id, label, is_train,
        |    list_reduce(list_prepend(0::BIGINT,
        |      [ord(substring(gram, i, 1))
        |       for i in generate_series(1, length(gram))]::BIGINT[]),
        |      (acc, c) -> (acc * 257 + c) % 1000003) % 4096 AS f
        |  FROM g),
        |cnt AS (
        |  SELECT f, SUM(label)::BIGINT AS cpos,
        |    SUM(1 - label)::BIGINT AS cneg
        |  FROM fx WHERE is_train GROUP BY f),
        |tot AS (SELECT SUM(cpos)::BIGINT AS npos,
        |               SUM(cneg)::BIGINT AS nneg FROM cnt),
        |w AS (
        |  SELECT f, CAST(round(1000000.0 * (ln(cpos + 1) - ln(cneg + 1)
        |    + ln(nneg + 4096) - ln(npos + 4096))) AS BIGINT) AS w
        |  FROM cnt CROSS JOIN tot),
        |prior AS (
        |  SELECT CAST(round(1000000.0 *
        |    (ln(COUNT(*) FILTER (WHERE label = 1) + 1)
        |     - ln(COUNT(*) FILTER (WHERE label = 0) + 1))) AS BIGINT) AS bias
        |  FROM t WHERE is_train),
        |sc AS (
        |  SELECT fx.doc_id, SUM(COALESCE(w.w, 0))::BIGINT AS s
        |  FROM fx LEFT JOIN w USING (f) WHERE NOT fx.is_train
        |  GROUP BY fx.doc_id),
        |scored AS (
        |  SELECT t.doc_id, t.label,
        |    (SELECT bias FROM prior) + COALESCE(sc.s, 0) AS score
        |  FROM t LEFT JOIN sc USING (doc_id) WHERE NOT t.is_train)
        |SELECT label, COUNT(*)::BIGINT AS n_docs,
        |  COUNT(*) FILTER (WHERE score >= 0)::BIGINT AS n_pred_pos,
        |  SUM(score)::BIGINT AS score_sum
        |FROM scored GROUP BY label ORDER BY label""".stripMargin,
    "d16_exact_substr" ->
      s"""$exactSubstrSpanCtes
        |SELECT doc_id, COUNT(*)::BIGINT AS n_spans,
        |  SUM(sp_e - sp_s + 1)::BIGINT AS removed_chars,
        |  MAX(sp_e - sp_s + 1)::BIGINT AS max_span_len
        |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d18_span_removal" ->
      // the d16 span chain + the splice: kept segments are the gaps
      // between spans plus the tail, concatenated in position order;
      // docs whose whole text is one span clean to ''; untouched docs
      // pass through. md5 pins the spliced STRING on both engines.
      s"""$exactSubstrSpanCtes,
        |segs AS (
        |  SELECT doc_id,
        |    COALESCE(LAG(sp_e) OVER (PARTITION BY doc_id ORDER BY sp_s),
        |      0) + 1 AS ss,
        |    sp_s - 1 AS se
        |  FROM spans
        |  UNION ALL
        |  SELECT s.doc_id, MAX(s.sp_e) + 1 AS ss, length(d.t) AS se
        |  FROM spans s JOIN d USING (doc_id) GROUP BY s.doc_id, length(d.t)),
        |pieces AS (
        |  SELECT doc_id, ss, substring(t, ss::INT, (se - ss + 1)::INT)
        |    AS piece
        |  FROM segs JOIN d USING (doc_id) WHERE se >= ss),
        |cleaned AS (
        |  SELECT doc_id, string_agg(piece, '' ORDER BY ss) AS clean
        |  FROM pieces GROUP BY doc_id)
        |SELECT doc_id, length(t)::BIGINT AS orig_len,
        |  length(cl)::BIGINT AS clean_len, md5(cl) AS clean_md5
        |FROM (
        |  SELECT d.doc_id, d.t,
        |    CASE WHEN sp.doc_id IS NULL THEN d.t
        |         ELSE COALESCE(c.clean, '') END AS cl
        |  FROM d
        |  LEFT JOIN (SELECT DISTINCT doc_id FROM spans) sp USING (doc_id)
        |  LEFT JOIN cleaned c ON d.doc_id = c.doc_id)
        |ORDER BY doc_id""".stripMargin,
    "t16_bpe_train" -> bpeTrainOracle,
    "t43_bytebpe_train" -> byteBpeTrainOracle,
    "t44_bytebpe_encode" -> byteBpeOovEncodeOracle,
    "t46_gpt2_pretokenize" -> gpt2PretokOracle,
    "t45_bytebpe_detokenize" ->
      // the round trip's expected value is the pretokenized normal form
      // of the INPUT — the oracle never runs the tokenizer, so it can
      // only agree with the engine if encode∘decode is exactly lossless
      s"""WITH ww AS (
         |  SELECT doc_id,
         |    list_filter(regexp_split_to_array(lower(trim(text)),
         |      '\\s+'), w -> w <> '') AS ws
         |  FROM $byteEncodeCorpusSql WHERE text IS NOT NULL)
         |SELECT doc_id,
         |  octet_length(encode(array_to_string(ws, '')))::BIGINT
         |    AS n_bytes,
         |  md5(array_to_string(ws, '')) AS decoded_md5
         |FROM ww WHERE len(ws) > 0 ORDER BY doc_id""".stripMargin,
    "t20_bpe_deep_train" -> bpeDeepTrainOracle,
    "q35_pipeline_pack" ->
      // the whole nightly job replayed: the SHARED Gopher metric
      // arithmetic per doc → the t16 merge chain's per-doc counts → the
      // SHARED packing tail over the survivors only
      s"""WITH RECURSIVE ${bpeOracleBody(BpeRounds)},
         |$bpeDocCountsCte,
         |${gopherMetricsCte("gm", "doc_id")},
         |gp AS (SELECT doc_id FROM gm WHERE $gopherPassSql),
         |fc AS (SELECT nb.doc_id, nb.n FROM nb JOIN gp USING (doc_id)),
         |${packingTailSql("fc")}""".stripMargin,
    "t21_unigram_train" -> unigramTrainOracle,
    "t22_unigram_encode" -> unigramEncodeOracle,
    "t29_bpe_oov_encode" -> bpeOovEncodeOracle,
    "t30_unigram_oov_encode" -> unigramOovEncodeOracle,
    "t36_wordpiece_train" -> wordpieceTrainOracle,
    "t37_wordpiece_encode" -> wordpieceEncodeOracle,
    // the persisted-model round trip must reproduce t37's encode exactly
    // (the t31/t32 posture)
    "t39_wordpiece_model_io" -> wordpieceEncodeOracle,
    "t42_wordpiece_tokenize" ->
      // positions from the RAW split array (the t26 convention); each
      // word joined to its walked piece sequence, per-doc streams as
      // flatten(list(pieces ORDER BY pos)) with [UNK] sentinels inline
      s"""WITH RECURSIVE ${wordpieceOracleBody(WpRounds)},
         |$wordpieceEncodeCtes,
         |wdtok AS (
         |  SELECT doc_id, i AS pos, toks[i] AS word
         |  FROM (SELECT doc_id,
         |          regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
         |          unnest(generate_series(1,
         |            len(regexp_split_to_array(lower(trim(text)),
         |                                      '\\s+')))) AS i
         |        FROM documents WHERE text IS NOT NULL) t
         |  WHERE toks[i] <> '')
         |SELECT doc_id, SUM(len(t.pieces))::BIGINT AS n_tokens,
         |  md5(array_to_string(flatten(list(t.pieces ORDER BY pos)), ' '))
         |    AS tokens_md5
         |FROM wdtok JOIN wtok t USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q40_cms_heavy_hitters" ->
      // the full CMS replayed: per-row polynomial bucket (the d13 fold —
      // ord codepoints through acc·base + c mod 2³¹−1, then mod width),
      // the occurrence-weighted grid, the min-over-rows estimate
      s"""WITH ${cmsChainSqlFrom(astralDocsSql)},
        |cms AS MATERIALIZED (
        |  SELECT h.j, h.bucket, SUM(e.c)::BIGINT AS cnt
        |  FROM (SELECT word, COUNT(*)::BIGINT AS c FROM tok
        |        GROUP BY word) e
        |  JOIN wh h USING (word)
        |  GROUP BY h.j, h.bucket),
        |top AS MATERIALIZED (
        |  SELECT word, COUNT(*)::BIGINT AS exact_cnt FROM tok
        |  GROUP BY word ORDER BY exact_cnt DESC, word LIMIT 20)
        |SELECT t.word, t.exact_cnt, MIN(c.cnt)::BIGINT AS est_cnt
        |FROM top t JOIN wh h USING (word)
        |JOIN cms c ON c.j = h.j AND c.bucket = h.bucket
        |GROUP BY t.word, t.exact_cnt
        |ORDER BY exact_cnt DESC, word""".stripMargin,
    // the persisted-model round trips must reproduce t22's/t17's encode
    // exactly, so t31/t32 share those oracles verbatim (the st12 precedent)
    "t31_unigram_model_io" -> unigramEncodeOracle,
    "t32_bpe_model_io" -> bpeEncodeOracle,
    "q36_warc_ingest" ->
      // the connector must reproduce, per document, exactly the bytes
      // the renderer framed: UTF-8 byte length and payload md5
      """SELECT doc_id, strlen(text)::BIGINT AS n_bytes,
        |  md5(text) AS payload_md5
        |FROM documents WHERE text IS NOT NULL
        |ORDER BY doc_id""".stripMargin,
    "q37_warc_gzip" ->
      // the gzip-member decode must reproduce exactly what the
      // uncompressed framing does — q36's oracle verbatim
      """SELECT doc_id, strlen(text)::BIGINT AS n_bytes,
        |  md5(text) AS payload_md5
        |FROM documents WHERE text IS NOT NULL
        |ORDER BY doc_id""".stripMargin,
    "t34_html_extract" ->
      // wrap + full extraction chain replayed (patterns interpolated
      // from the engine's own constants)
      s"""WITH $htmlExtCtes
         |SELECT doc_id, length(text)::BIGINT AS n_chars,
         |  md5(text) AS text_md5
         |FROM ext ORDER BY doc_id""".stripMargin,
    "d20_url_dedup" -> urlDedupOracle(""),
    // the index path IS the d20 recompute restricted to the increment:
    // the keeper window stays GLOBAL (stored partial minima ∪ increment
    // — the index stores the corpus side), only the decision tail
    // filters to increment docs
    "d22_url_index_dedup" ->
      urlDedupOracle("WHERE mk.doc_id % 17 = 0"),
    "t35_line_dedup" -> lineDedupOracle(""),
    // the index path IS the t35 recompute restricted to the increment:
    // line counts stay GLOBAL (stored + increment — the index stores the
    // corpus side), only the output tail filters to increment docs
    "d21_line_index_dedup" -> lineDedupOracle("WHERE doc_id % 17 = 0"),
    "q39_http_extract" -> {
      import graft.pipeline.TextAnalysis.HttpStatusRe
      // HTTP wrap (chr(13)||chr(10) spells CRLF), CRLFCRLF split,
      // header-block-scoped lookups, then the t34 chain on the body
      s"""WITH $htmlCorpusCte,
         |$httpWrapCtes,
         |ex AS (SELECT doc_id,
         |  regexp_extract(hdrs, '$HttpStatusRe', 1)::BIGINT AS status,
         |  regexp_extract(hdrs,
         |    '(?im)^Content-Type:[ \\t]*([^\\r\\n]*)', 1) AS content_type,
         |  regexp_extract(hdrs,
         |    '(?im)^X-Graft-Rank:[ \\t]*([^\\r\\n]*)', 1)::BIGINT AS rank,
         |  ${htmlExtractSql("body")} AS text
         |  FROM bd)
         |SELECT doc_id, status, content_type, rank,
         |  length(text)::BIGINT AS n_chars, md5(text) AS text_md5
         |FROM ex ORDER BY doc_id""".stripMargin
    },
    "q38_warc_pipeline" ->
      // the crawl-fed nightly job replayed end to end: html wrap + HTTP
      // wrap + CRLFCRLF split + extract (ext over the BODY), the t16
      // merge chain TRAINED ON ext, per-doc counts on ext, the SHARED
      // Gopher arithmetic on ext, the SHARED packing tail over the
      // survivors
      s"""WITH RECURSIVE $htmlCorpusCte,
         |$httpWrapCtes,
         |ext AS (SELECT doc_id, ${htmlExtractSql("body")} AS text
         |  FROM bd),
         |${bpeOracleBody(BpeRounds, "ext")},
         |${bpeDocCountsCteFrom("ext")},
         |${gopherMetricsCte("gm", "doc_id", "ext")},
         |gp AS (SELECT doc_id FROM gm WHERE $gopherPassSql),
         |fc AS (SELECT nb.doc_id, nb.n FROM nb JOIN gp USING (doc_id)),
         |${packingTailSql("fc")}""".stripMargin,
    "t27_unigram_prune" ->
      // the t21 chain, then: leave-one-out DP per multi piece (the
      // excluded piece can only match its own full span — the CASE in
      // the candidate lambda), loss ranking, restricted E-step, final
      // scores
      s"""${unigramOracleChain(UmIters)},
         |pm AS MATERIALIZED (
         |  SELECT v.piece AS word, v.c AS cnt, s.lp AS lp
         |  FROM uv$UmIters v JOIN us${UmIters + 1} s USING (piece)
         |  WHERE length(v.piece) > 1),
         |pvit(word, cnt, lp, i, dp) AS (
         |  SELECT word, cnt, lp, 0, [{'t': CAST(0 AS BIGINT), 'l': 0}]
         |  FROM pm
         |  UNION ALL
         |  SELECT word, cnt, lp, i + 1,
         |    dp || [list_sort(list_filter(
         |      list_transform(generate_series(1, LEAST(i + 1, $UmMaxPiece)),
         |        L -> {'t': dp[i + 2 - L].t +
         |                   (CASE WHEN substring(word, i + 2 - L, L) = word
         |                         THEN NULL
         |                         ELSE m[substring(word, i + 2 - L, L)][1]
         |                    END),
         |              'l': L}),
         |      x -> x.t IS NOT NULL))[-1]]
         |  FROM pvit CROSS JOIN um${UmIters + 1} WHERE i < length(word)),
         |keep AS MATERIALIZED (
         |  SELECT word AS piece, cnt FROM (
         |    SELECT word, cnt, cnt * (lp - dp[length(word) + 1].t) AS loss
         |    FROM pvit WHERE i = length(word))
         |  ORDER BY loss DESC, piece LIMIT $UmPruneTarget),
         |rv AS MATERIALIZED (
         |  SELECT piece, c FROM uv$UmIters WHERE length(piece) = 1
         |  UNION ALL SELECT piece, cnt AS c FROM keep),
         |${umScoreCtes("R", "rv")},
         |${umViterbiCtes("R", "umR")},
         |${umRecountCtes("R", "rv")},
         |${umScoreCtes("F", "uvR")}
         |SELECT v.piece, v.c AS cnt, s.lp AS ulogp
         |FROM uvR v JOIN usF s USING (piece)
         |ORDER BY piece""".stripMargin,
    "t26_bpe_tokenize" ->
      // positions from the RAW split array (i over toks, empties
      // filtered AFTER), each word joined to its round-20 symbol
      // sequence, per-doc streams as flatten(list(seq ORDER BY pos))
      s"""${bpeOracleChain(BpeRounds)},
         |$bpeDtokCte
         |SELECT doc_id, SUM(len(seq))::BIGINT AS n_tokens,
         |  md5(array_to_string(flatten(list(seq ORDER BY pos)), ' '))
         |    AS tokens_md5
         |FROM dtok JOIN w$BpeRounds w USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q41_token_shards" ->
      // the t26 stream replay → sorted-rank vocabulary numbering (the
      // one-row MAP idiom) → per-doc id rollups + the ShardWriter hash;
      // the binary files themselves are byte-pinned in TokenShardsSpec,
      // the oracle pins that the round trip preserved every id
      s"""$bpeIdStreamCtes
         |SELECT doc_id,
         |  ((doc_id * ${graft.pipeline.ShardWriter.HashMult})
         |     % ${graft.pipeline.ShardWriter.HashPrime}) % 8 AS shard,
         |  len(ids)::BIGINT AS n_tokens,
         |  list_reduce(list_prepend(0::BIGINT, ids), (a, b) -> a + b)
         |    AS id_sum,
         |  md5(array_to_string(ids, ' ')) AS ids_md5
         |FROM tids ORDER BY doc_id""".stripMargin,
    "q42_packed_shards" ->
      // the SAME id streams → the shared packChopCtes replay (the
      // cumulative offset window — an ORACLE may use the single-task
      // window the engine's two-pass scan replaces — and global token
      // positions) → 512-chop → per-sequence rollups; a drift in
      // offset arithmetic, boundary-spanning docs, or the seq-keyed
      // binary round trip breaks the hash
      s"""$bpeIdStreamCtes,
         |$packChopCtes
         |SELECT gpos // 512 AS seq_id, COUNT(*)::BIGINT AS n_tokens,
         |  SUM(tok)::BIGINT AS id_sum,
         |  md5(array_to_string(list(tok ORDER BY gpos), ' ')) AS ids_md5
         |FROM ptok GROUP BY 1 ORDER BY seq_id""".stripMargin,
    "q43_packed_boundaries" ->
      // the shared q42 chop replay PLUS the SHARED span-clip tail
      // (packBoundariesTail): a drift in clip arithmetic, ordering, or
      // the sidecar round trip breaks segs_md5
      s"""$bpeIdStreamCtes,
         |$packChopCtes,
         |$packBoundariesTail""".stripMargin,
    "q47_sample_idx" ->
      // the Megatron strided-map replay: the SHARED per-epoch md5 doc
      // shuffle + multi-epoch prefix sum (epochOrderCtes; single-task
      // windows allowed oracle-side — the engine's fused two-pass scan
      // replaces them) -> each doc emits the samples starting inside
      // it at the k*512 stride -> 64-sample block rollups (the q46
      // convention)
      s"""${bpeOracleChain(BpeRounds)},
         |$bpeDocCountsCte,
         |$epochOrderCtes,
         |sx AS (
         |  SELECT unnest(generate_series((s + 511) // 512,
         |      (s + n - 1) // 512)) AS sample,
         |    doc_index, doc_id, s
         |  FROM eo WHERE (s + 511) // 512 <= (s + n - 1) // 512)
         |SELECT sample // 64 AS block, COUNT(*)::BIGINT AS n,
         |  SUM(doc_index)::BIGINT AS di_sum,
         |  SUM(sample * 512 - s)::BIGINT AS off_sum,
         |  md5(array_to_string(list(
         |    doc_index::VARCHAR || ':' || doc_id::VARCHAR || ':'
         |      || (sample * 512 - s)::VARCHAR ORDER BY sample), ' '))
         |    AS sx_md5
         |FROM sx GROUP BY 1 ORDER BY block""".stripMargin,
    "q50_doc_order_npy" ->
      // the SHARED epoch-order replay rolled up per 64-row doc_index
      // block — the oracle never sees the npy file; the engine side
      // reads the artifact back FROM ITS BYTES, so any drift in the
      // npy write/read path breaks ord_md5
      s"""${bpeOracleChain(BpeRounds)},
         |$bpeDocCountsCte,
         |$epochOrderCtes
         |SELECT doc_index // 64 AS block, COUNT(*)::BIGINT AS n,
         |  SUM(doc_id)::BIGINT AS id_sum,
         |  SUM(n)::BIGINT AS tok_sum,
         |  md5(array_to_string(list(
         |    doc_id::VARCHAR || ':' || n::VARCHAR || ':' || s::VARCHAR
         |    ORDER BY doc_index), ' ')) AS ord_md5
         |FROM eo GROUP BY 1 ORDER BY block""".stripMargin,
    "q48_eod_packing" ->
      // the q43 replay with the separator appended in SQL (the
      // replayed vocab size IS the separator id) — the SHARED chop and
      // span-clip fragments rerun over the n+1-token streams
      s"""$bpeIdStreamCtes,
         |${eodAppendCtes("tids")},
         |${packChopCtesFrom("teod")},
         |$packBoundariesTail""".stripMargin,
    "q49_mixture_pack" ->
      // draw -> pack -> shard, all replayed: the q32 draw CTEs pick
      // the kept docs, the shared id streams restrict to them, the
      // separator appends, the shared chop + span tail reruns
      s"""$bpeIdStreamCtes,
         |$q32DrawCtes,
         |kept AS (
         |  SELECT doc_id FROM r JOIN tgt t USING (lang)
         |  WHERE r.rk <= t.target),
         |tsel AS (
         |  SELECT t.doc_id, t.ids FROM tids t JOIN kept USING (doc_id)),
         |${eodAppendCtes("tsel")},
         |${packChopCtesFrom("teod")},
         |$packBoundariesTail""".stripMargin,
    "q44_megatron_shards" ->
      // the q41 stream replay -> the ShardWriter hash for placement ->
      // POSITIONAL identity (ascending doc-id rank within shard, the
      // strict layout stores no ids); the exact MMIDIDX bytes are
      // pinned in TokenShardsSpec
      s"""$bpeIdStreamCtes
         |SELECT
         |  ((doc_id * ${graft.pipeline.ShardWriter.HashMult})
         |     % ${graft.pipeline.ShardWriter.HashPrime}) % 4 AS shard,
         |  (ROW_NUMBER() OVER (PARTITION BY
         |      ((doc_id * ${graft.pipeline.ShardWriter.HashMult})
         |         % ${graft.pipeline.ShardWriter.HashPrime}) % 4
         |      ORDER BY doc_id) - 1)::BIGINT AS pos,
         |  len(ids)::BIGINT AS n_tokens,
         |  list_reduce(list_prepend(0::BIGINT, ids), (a, b) -> a + b)
         |    AS id_sum,
         |  md5(array_to_string(ids, ' ')) AS ids_md5
         |FROM tids ORDER BY shard, pos""".stripMargin,
    "q45_bin_packing" ->
      // the NFD replay: histogram -> the single-open-bin recursion (one
      // step per DISTINCT length, state = (open bin, remainder); an
      // ORACLE may run it as a driver-shaped recursive CTE — the engine
      // computes the same plan from the driver-sized histogram) -> the
      // within-run ROW_NUMBER (oracle-side single-task window; the
      // engine uses the grouped two-pass scan) -> the closed-form bin
      s"""WITH RECURSIVE tok AS (
         |  SELECT doc_id, len(list_filter(
         |      regexp_split_to_array(lower(trim(text)), '\\s+'),
         |      w -> w <> ''))::BIGINT AS n
         |  FROM documents WHERE text IS NOT NULL),
         |pieces AS MATERIALIZED (
         |  SELECT doc_id AS id, j - 1 AS chunk,
         |    LEAST(n - (j - 1) * 256, 256) AS len
         |  FROM (SELECT doc_id, n,
         |          unnest(generate_series(1, ((n - 1) // 256) + 1)) AS j
         |        FROM tok WHERE n > 0)),
         |hist AS (SELECT len, COUNT(*)::BIGINT AS k
         |         FROM pieces GROUP BY len),
         |runs AS MATERIALIZED (
         |  SELECT len, k, ROW_NUMBER() OVER (ORDER BY len DESC) AS i
         |  FROM hist),
         |st(i, len, f, firstbin, nextbin, perbin, curbin, rem) AS (
         |  SELECT 0::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT,
         |    0::BIGINT, 1::BIGINT, 0::BIGINT, 256::BIGINT
         |  UNION ALL
         |  SELECT i, len, f, firstbin, nextbin, perbin,
         |    CASE WHEN rest = 0 THEN firstbin
         |         ELSE firstbin + nbins END,
         |    CASE WHEN rest = 0 THEN rem0 - f * len
         |         ELSE 256 - (rest - (nbins - 1) * perbin) * len END
         |  FROM (
         |    SELECT *, CASE WHEN rest = 0 THEN 0::BIGINT
         |      ELSE (rest + perbin - 1) // perbin END AS nbins
         |    FROM (
         |      SELECT r.i AS i, r.len AS len,
         |        LEAST(r.k, st.rem // r.len) AS f,
         |        r.k - LEAST(r.k, st.rem // r.len) AS rest,
         |        st.curbin AS firstbin, st.curbin + 1 AS nextbin,
         |        256 // r.len AS perbin, st.rem AS rem0
         |      FROM st JOIN runs r ON r.i = st.i + 1))),
         |ranked AS (
         |  SELECT id, chunk, len,
         |    ROW_NUMBER() OVER (PARTITION BY len ORDER BY id, chunk)
         |      AS rk
         |  FROM pieces),
         |asg AS (
         |  SELECT a.id, a.chunk, a.len,
         |    CASE WHEN a.rk <= s.f THEN s.firstbin
         |         ELSE s.nextbin + (a.rk - s.f - 1) // s.perbin END
         |      AS bin
         |  FROM ranked a JOIN st s ON s.len = a.len AND s.i > 0)
         |SELECT bin, COUNT(*)::BIGINT AS n_pieces,
         |  SUM(len)::BIGINT AS fill,
         |  (256 - SUM(len))::BIGINT AS waste,
         |  SUM(id)::BIGINT AS id_sum,
         |  SUM(CASE WHEN chunk > 0 THEN 1 ELSE 0 END)::BIGINT
         |    AS n_chopped
         |FROM asg GROUP BY bin ORDER BY bin""".stripMargin,
    "q46_epoch_shuffle" ->
      // total BPE tokens from the t17 per-doc counts -> the sequence-id
      // range -> the seeded md5 rank (ASCII hex: every engine's string
      // order agrees; an ORACLE may rank via the single-task window the
      // engine's two-pass scan replaces) -> 64-position block rollups
      s"""${bpeOracleChain(BpeRounds)},
         |$bpeDocCountsCte,
         |tot AS (SELECT SUM(n)::BIGINT AS t FROM nb),
         |seqs AS (
         |  SELECT unnest(generate_series(0, ((t + 511) // 512) - 1))
         |    AS seq_id
         |  FROM tot),
         |perm AS (
         |  SELECT seq_id,
         |    (ROW_NUMBER() OVER (ORDER BY
         |      md5('42:' || seq_id::VARCHAR), seq_id) - 1)::BIGINT
         |      AS pos
         |  FROM seqs)
         |SELECT pos // 64 AS block, COUNT(*)::BIGINT AS n,
         |  SUM(seq_id)::BIGINT AS id_sum,
         |  md5(array_to_string(list(seq_id ORDER BY pos), ' '))
         |    AS ids_md5
         |FROM perm GROUP BY 1 ORDER BY block""".stripMargin,
    "t25_tokenizer_eval" ->
      // BOTH tokenizer chains in one statement: the t16 unrolled merges
      // (tok/nb per-doc BPE counts) + the t21 unrolled EM (umnb per-doc
      // unigram counts), joined per doc, rolled up per language — all
      // integer sums
      s"""WITH RECURSIVE ${bpeOracleBody(BpeRounds)},
         |$bpeDocCountsCte,
         |${unigramOracleBody(UmIters)},
         |$unigramEncodeCtes
         |SELECT d.lang, COUNT(*)::BIGINT AS n_docs,
         |  SUM(nb.n_words)::BIGINT AS words_sum,
         |  SUM(nb.n)::BIGINT AS bpe_sum,
         |  SUM(u.n_um)::BIGINT AS um_sum,
         |  SUM(length(d.text))::BIGINT AS chars_sum
         |FROM documents d
         |JOIN nb ON d.doc_id = nb.doc_id
         |JOIN umnb u ON d.doc_id = u.doc_id
         |GROUP BY d.lang ORDER BY d.lang NULLS FIRST""".stripMargin,
    "t40_tokenizer_trio" ->
      // ALL THREE tokenizer chains in one statement: the t16 unrolled
      // merges (nb), the t21 unrolled EM (umnb) and the t36 unrolled
      // scored merges + greedy walk (wpnb), joined per doc, rolled up
      // per language — all integer sums
      s"""WITH RECURSIVE ${bpeOracleBody(BpeRounds)},
         |$bpeDocCountsCte,
         |${unigramOracleBody(UmIters)},
         |$unigramEncodeCtes,
         |${wordpieceOracleBody(WpRounds)},
         |$wordpieceEncodeCtes
         |SELECT d.lang, COUNT(*)::BIGINT AS n_docs,
         |  SUM(nb.n_words)::BIGINT AS words_sum,
         |  SUM(nb.n)::BIGINT AS bpe_sum,
         |  SUM(u.n_um)::BIGINT AS um_sum,
         |  SUM(w.n_wp_tokens)::BIGINT AS wp_sum,
         |  SUM(w.n_unk_words)::BIGINT AS unk_sum
         |FROM documents d
         |JOIN nb ON d.doc_id = nb.doc_id
         |JOIN umnb u ON d.doc_id = u.doc_id
         |JOIN wpnb w ON d.doc_id = w.doc_id
         |GROUP BY d.lang ORDER BY d.lang NULLS FIRST""".stripMargin,
    "t23_kn_lm_score" ->
      // the t13 chain with KN arithmetic: discount every seen bigram,
      // back the reclaimed mass off to the continuation unigram; the
      // ln's operand is built in the IDENTICAL parenthesization as the
      // engine, and the per-doc fold runs in position order
      s"""WITH $knBigramChainSql
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  round(list_reduce(list(lp ORDER BY pos), (acc, x) -> acc + x)
        |        / count(*), 4) AS avg_kn_logprob
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t38_perplexity_buckets" -> perplexityBucketsOracle,
    // the map-side assignment under exact boundary tuples must land
    // every doc in the same tier the window did — t38's oracle verbatim
    "t41_perplexity_assign" -> perplexityBucketsOracle,
    "t24_kn3_lm_score" ->
      // the t23 chain one order up: trigram positions → type table →
      // context / continuation / mid-level / unigram statistics, the
      // ln operand nested IDENTICALLY to the engine (inner P2 first).
      // Every multiply-referenced CTE is MATERIALIZED: default inlining
      // re-expands the chain (t3 ×3, contT ×4 — each expansion a fresh
      // corpus explode) into a runaway plan, the established lesson
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |tgx AS MATERIALIZED (
        |  SELECT doc_id, p.pos AS pos, p.w1 AS w1, p.w2 AS w2, p.w3 AS w3
        |  FROM (SELECT doc_id,
        |          [struct_pack(pos := i, w1 := toks[i], w2 := toks[i+1],
        |                       w3 := toks[i+2])
        |           for i in generate_series(1, len(toks)-2)] AS pairs
        |        FROM t) b, unnest(b.pairs) AS u(p)),
        |t3 AS MATERIALIZED (SELECT w1, w2, w3, count(*)::BIGINT AS cb
        |       FROM tgx GROUP BY w1, w2, w3),
        |ctxT AS MATERIALIZED (SELECT w1, w2, SUM(cb)::BIGINT AS ctx,
        |           COUNT(*)::BIGINT AS n1ctx
        |         FROM t3 GROUP BY w1, w2),
        |contT AS MATERIALIZED (SELECT w2, w3, COUNT(*)::BIGINT AS contbg
        |          FROM t3 GROUP BY w2, w3),
        |midT AS MATERIALIZED (SELECT w2, SUM(contbg)::BIGINT AS midtot,
        |           COUNT(*)::BIGINT AS midn1
        |         FROM contT GROUP BY w2),
        |contU AS MATERIALIZED (SELECT w3, COUNT(*)::BIGINT AS cont
        |          FROM contT GROUP BY w3),
        |nt AS MATERIALIZED (SELECT COUNT(*)::BIGINT AS ntot FROM contT),
        |s AS (
        |  SELECT x.doc_id, x.pos,
        |    ln(GREATEST(b.cb::DOUBLE - 0.75, 0.0) / c.ctx::DOUBLE +
        |       ((0.75 * c.n1ctx::DOUBLE) / c.ctx::DOUBLE) *
        |       (GREATEST(g.contbg::DOUBLE - 0.75, 0.0) / m.midtot::DOUBLE +
        |        ((0.75 * m.midn1::DOUBLE) / m.midtot::DOUBLE) *
        |        (u.cont::DOUBLE / nt.ntot::DOUBLE))) AS lp
        |  FROM tgx x
        |  JOIN t3 b ON x.w1 = b.w1 AND x.w2 = b.w2 AND x.w3 = b.w3
        |  JOIN ctxT c ON x.w1 = c.w1 AND x.w2 = c.w2
        |  JOIN contT g ON x.w2 = g.w2 AND x.w3 = g.w3
        |  JOIN midT m ON x.w2 = m.w2
        |  JOIN contU u ON x.w3 = u.w3
        |  CROSS JOIN nt)
        |SELECT doc_id, count(*)::BIGINT AS n_trigrams,
        |  round(list_reduce(list(lp ORDER BY pos), (acc, x) -> acc + x)
        |        / count(*), 4) AS avg_kn3_logprob
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t28_kn4_lm_score" ->
      // the t24 chain one more order up: 4-gram positions → type table →
      // context stats → two continuation layers (c3/m3, c2/m2) → the
      // continuation unigram, the ln operand nested IDENTICALLY to the
      // engine's fold-from-P1-upward. Every multiply-referenced CTE
      // MATERIALIZED (the t24 runaway-plan lesson).
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |qgx AS MATERIALIZED (
        |  SELECT doc_id, p.pos AS pos, p.w1 AS w1, p.w2 AS w2,
        |    p.w3 AS w3, p.w4 AS w4
        |  FROM (SELECT doc_id,
        |          [struct_pack(pos := i, w1 := toks[i], w2 := toks[i+1],
        |                       w3 := toks[i+2], w4 := toks[i+3])
        |           for i in generate_series(1, len(toks)-3)] AS pairs
        |        FROM t) b, unnest(b.pairs) AS u(p)),
        |t4 AS MATERIALIZED (SELECT w1, w2, w3, w4, count(*)::BIGINT AS cb
        |       FROM qgx GROUP BY w1, w2, w3, w4),
        |ctxT AS MATERIALIZED (SELECT w1, w2, w3, SUM(cb)::BIGINT AS ctx,
        |           COUNT(*)::BIGINT AS n1ctx
        |         FROM t4 GROUP BY w1, w2, w3),
        |c3 AS MATERIALIZED (SELECT w2, w3, w4, COUNT(*)::BIGINT AS c3
        |       FROM t4 GROUP BY w2, w3, w4),
        |m3 AS MATERIALIZED (SELECT w2, w3, SUM(c3)::BIGINT AS tot3,
        |         COUNT(*)::BIGINT AS n1_3
        |       FROM c3 GROUP BY w2, w3),
        |c2 AS MATERIALIZED (SELECT w3, w4, COUNT(*)::BIGINT AS c2
        |       FROM c3 GROUP BY w3, w4),
        |m2 AS MATERIALIZED (SELECT w3, SUM(c2)::BIGINT AS tot2,
        |         COUNT(*)::BIGINT AS n1_2
        |       FROM c2 GROUP BY w3),
        |c1 AS MATERIALIZED (SELECT w4, COUNT(*)::BIGINT AS c1
        |       FROM c2 GROUP BY w4),
        |nt AS MATERIALIZED (SELECT COUNT(*)::BIGINT AS ntot FROM c2),
        |s AS (
        |  SELECT x.doc_id, x.pos,
        |    ln(GREATEST(b.cb::DOUBLE - 0.75, 0.0) / c.ctx::DOUBLE +
        |       ((0.75 * c.n1ctx::DOUBLE) / c.ctx::DOUBLE) *
        |       (GREATEST(g3.c3::DOUBLE - 0.75, 0.0) / k3.tot3::DOUBLE +
        |        ((0.75 * k3.n1_3::DOUBLE) / k3.tot3::DOUBLE) *
        |        (GREATEST(g2.c2::DOUBLE - 0.75, 0.0) / k2.tot2::DOUBLE +
        |         ((0.75 * k2.n1_2::DOUBLE) / k2.tot2::DOUBLE) *
        |         (u.c1::DOUBLE / nt.ntot::DOUBLE)))) AS lp
        |  FROM qgx x
        |  JOIN t4 b ON x.w1 = b.w1 AND x.w2 = b.w2 AND x.w3 = b.w3
        |    AND x.w4 = b.w4
        |  JOIN ctxT c ON x.w1 = c.w1 AND x.w2 = c.w2 AND x.w3 = c.w3
        |  JOIN c3 g3 ON x.w2 = g3.w2 AND x.w3 = g3.w3 AND x.w4 = g3.w4
        |  JOIN m3 k3 ON x.w2 = k3.w2 AND x.w3 = k3.w3
        |  JOIN c2 g2 ON x.w3 = g2.w3 AND x.w4 = g2.w4
        |  JOIN m2 k2 ON x.w3 = k2.w3
        |  JOIN c1 u ON x.w4 = u.w4
        |  CROSS JOIN nt)
        |SELECT doc_id, count(*)::BIGINT AS n_4grams,
        |  round(list_reduce(list(lp ORDER BY pos), (acc, x) -> acc + x)
        |        / count(*), 4) AS avg_kn4_logprob
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d19_pii_scrub" ->
      // the planted corpus (CASE concat mirrors piiCorpus) through the
      // same three patterns: counts via regexp_extract_all, redaction
      // via chained global regexp_replace in the engine's fixed order
      // (email -> phone -> IP)
      """WITH pc AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 7 = 0
        |         THEN ' contact user' || doc_id::VARCHAR ||
        |              '@example.com from 10.0.' ||
        |              (doc_id % 256)::VARCHAR || '.1'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309 now'
        |         ELSE '' END AS text
        |  FROM documents WHERE text IS NOT NULL),
        |st AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '[EMAIL]', 'g') AS after_email
        |  FROM pc),
        |st2 AS (
        |  SELECT doc_id, text, after_email,
        |    regexp_replace(after_email,
        |      '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g')
        |      AS after_phone
        |  FROM st)
        |SELECT doc_id,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
        |    AS n_emails,
        |  len(regexp_extract_all(after_email,
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))::BIGINT AS n_phones,
        |  len(regexp_extract_all(after_phone,
        |    '\b\d{1,3}(?:\.\d{1,3}){3}\b'))::BIGINT AS n_ips,
        |  md5(regexp_replace(after_phone,
        |    '\b\d{1,3}(?:\.\d{1,3}){3}\b', '[IP]', 'g')) AS clean_md5
        |FROM st2 ORDER BY doc_id""".stripMargin,
    "t33_kn5_lm_score" ->
      // the t28 chain at KenLM's order 5: one more continuation layer
      // (c4/m4), identically-nested ln operand, MATERIALIZED throughout
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |pgx AS MATERIALIZED (
        |  SELECT doc_id, p.pos AS pos, p.w1 AS w1, p.w2 AS w2,
        |    p.w3 AS w3, p.w4 AS w4, p.w5 AS w5
        |  FROM (SELECT doc_id,
        |          [struct_pack(pos := i, w1 := toks[i], w2 := toks[i+1],
        |                       w3 := toks[i+2], w4 := toks[i+3],
        |                       w5 := toks[i+4])
        |           for i in generate_series(1, len(toks)-4)] AS pairs
        |        FROM t) b, unnest(b.pairs) AS u(p)),
        |t5 AS MATERIALIZED (
        |  SELECT w1, w2, w3, w4, w5, count(*)::BIGINT AS cb
        |  FROM pgx GROUP BY w1, w2, w3, w4, w5),
        |ctxT AS MATERIALIZED (
        |  SELECT w1, w2, w3, w4, SUM(cb)::BIGINT AS ctx,
        |    COUNT(*)::BIGINT AS n1ctx
        |  FROM t5 GROUP BY w1, w2, w3, w4),
        |c4 AS MATERIALIZED (SELECT w2, w3, w4, w5, COUNT(*)::BIGINT AS c4
        |       FROM t5 GROUP BY w2, w3, w4, w5),
        |m4 AS MATERIALIZED (SELECT w2, w3, w4, SUM(c4)::BIGINT AS tot4,
        |         COUNT(*)::BIGINT AS n1_4
        |       FROM c4 GROUP BY w2, w3, w4),
        |c3 AS MATERIALIZED (SELECT w3, w4, w5, COUNT(*)::BIGINT AS c3
        |       FROM c4 GROUP BY w3, w4, w5),
        |m3 AS MATERIALIZED (SELECT w3, w4, SUM(c3)::BIGINT AS tot3,
        |         COUNT(*)::BIGINT AS n1_3
        |       FROM c3 GROUP BY w3, w4),
        |c2 AS MATERIALIZED (SELECT w4, w5, COUNT(*)::BIGINT AS c2
        |       FROM c3 GROUP BY w4, w5),
        |m2 AS MATERIALIZED (SELECT w4, SUM(c2)::BIGINT AS tot2,
        |         COUNT(*)::BIGINT AS n1_2
        |       FROM c2 GROUP BY w4),
        |c1 AS MATERIALIZED (SELECT w5, COUNT(*)::BIGINT AS c1
        |       FROM c2 GROUP BY w5),
        |nt AS MATERIALIZED (SELECT COUNT(*)::BIGINT AS ntot FROM c2),
        |s AS (
        |  SELECT x.doc_id, x.pos,
        |    ln(GREATEST(b.cb::DOUBLE - 0.75, 0.0) / c.ctx::DOUBLE +
        |       ((0.75 * c.n1ctx::DOUBLE) / c.ctx::DOUBLE) *
        |       (GREATEST(g4.c4::DOUBLE - 0.75, 0.0) / k4.tot4::DOUBLE +
        |        ((0.75 * k4.n1_4::DOUBLE) / k4.tot4::DOUBLE) *
        |        (GREATEST(g3.c3::DOUBLE - 0.75, 0.0) / k3.tot3::DOUBLE +
        |         ((0.75 * k3.n1_3::DOUBLE) / k3.tot3::DOUBLE) *
        |         (GREATEST(g2.c2::DOUBLE - 0.75, 0.0) / k2.tot2::DOUBLE +
        |          ((0.75 * k2.n1_2::DOUBLE) / k2.tot2::DOUBLE) *
        |          (u.c1::DOUBLE / nt.ntot::DOUBLE))))) AS lp
        |  FROM pgx x
        |  JOIN t5 b ON x.w1 = b.w1 AND x.w2 = b.w2 AND x.w3 = b.w3
        |    AND x.w4 = b.w4 AND x.w5 = b.w5
        |  JOIN ctxT c ON x.w1 = c.w1 AND x.w2 = c.w2 AND x.w3 = c.w3
        |    AND x.w4 = c.w4
        |  JOIN c4 g4 ON x.w2 = g4.w2 AND x.w3 = g4.w3 AND x.w4 = g4.w4
        |    AND x.w5 = g4.w5
        |  JOIN m4 k4 ON x.w2 = k4.w2 AND x.w3 = k4.w3 AND x.w4 = k4.w4
        |  JOIN c3 g3 ON x.w3 = g3.w3 AND x.w4 = g3.w4 AND x.w5 = g3.w5
        |  JOIN m3 k3 ON x.w3 = k3.w3 AND x.w4 = k3.w4
        |  JOIN c2 g2 ON x.w4 = g2.w4 AND x.w5 = g2.w5
        |  JOIN m2 k2 ON x.w4 = k2.w4
        |  JOIN c1 u ON x.w5 = u.w5
        |  CROSS JOIN nt)
        |SELECT doc_id, count(*)::BIGINT AS n_5grams,
        |  round(list_reduce(list(lp ORDER BY pos), (acc, x) -> acc + x)
        |        / count(*), 4) AS avg_kn5_logprob
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q34_bpe_shards" ->
      // the t16 merge chain → per-doc BPE counts → q27's serpentine
      // shard deal, balance measured in subword tokens
      s"""${bpeOracleChain(BpeRounds)},
         |$bpeDocCountsCte,
         |r AS (
         |  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, doc_id) - 1 AS rk
         |  FROM nb),
         |s AS (
         |  SELECT n, CASE WHEN (rk // 8) % 2 = 0 THEN rk % 8
         |                 ELSE 7 - (rk % 8) END AS shard
         |  FROM r)
         |SELECT CAST(shard AS INT) AS shard, COUNT(*) AS n_docs,
         |  CAST(SUM(n) AS BIGINT) AS bpe_token_sum
         |FROM s GROUP BY shard ORDER BY shard""".stripMargin,
    "q33_bpe_budget_fill" ->
      // the t16 merge chain → per-doc BPE counts → q24's cumulative
      // budget window, ranked by the compression ratio (one double
      // division of exact integers)
      s"""${bpeOracleChain(BpeRounds)},
         |$bpeDocCountsCte,
         |s AS (SELECT doc_id, n_words::DOUBLE / n AS q, n FROM nb),
         |tot AS (SELECT CAST(SUM(n) // 2 AS BIGINT) AS budget FROM s),
         |c AS (
         |  SELECT doc_id, n,
         |    SUM(n) OVER (ORDER BY q DESC, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM s)
         |SELECT source, COUNT(*) AS n_docs,
         |  COUNT(*) FILTER (WHERE cum <= budget) AS n_kept,
         |  CAST(COALESCE(SUM(c.doc_id) FILTER (WHERE cum <= budget), 0)
         |    AS BIGINT) AS kept_id_sum,
         |  CAST(COALESCE(SUM(n) FILTER (WHERE cum <= budget), 0)
         |    AS BIGINT) AS kept_bpe_sum
         |FROM c
         |JOIN (SELECT doc_id, source FROM documents
         |      WHERE text IS NOT NULL) src USING (doc_id)
         |CROSS JOIN tot GROUP BY source ORDER BY source""".stripMargin,
    "t17_bpe_encode" -> bpeEncodeOracle,
    "d01_exact_dedup" ->
      """SELECT COUNT(DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |    AS n_unique,
        |  COUNT(*) AS n_docs
        |FROM documents""".stripMargin,
    "d02_event_dedup" ->
      """SELECT user_id, event_type, event_id FROM (
        |  SELECT user_id, event_type, event_id, ROW_NUMBER() OVER (
        |    PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "d03_jaccard_pairs" -> jaccardOracle,
    "d04_minhash_lsh" -> jaccardOracle, // LSH must recover the exact pair set
    "d05_simhash_pairs" ->
      // the kernel's exact fingerprint: per distinct token two polynomial
      // hashes over code points, bit b's vote = parity of
      // (h1 + (b+1)*h2) mod 1000003; fingerprint in two 32-bit halves so
      // bit_count(xor(...)) gives hamming without signed-shift hazards
      """WITH t AS (
        |  SELECT doc_id,
        |    list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))
        |      AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |h AS (
        |  SELECT doc_id,
        |    [{'h1': list_reduce(list_prepend(0::BIGINT,
        |        [ord(substring(tok, i, 1))
        |         for i in generate_series(1, length(tok))]::BIGINT[]),
        |        (acc, c) -> (acc * 257 + c) % 1000003),
        |      'h2': list_reduce(list_prepend(0::BIGINT,
        |        [ord(substring(tok, i, 1))
        |         for i in generate_series(1, length(tok))]::BIGINT[]),
        |        (acc, c) -> (acc * 263 + c) % 999983)}
        |     for tok in toks] AS hs
        |  FROM t),
        |f AS (
        |  SELECT doc_id,
        |    [CASE WHEN list_sum([CASE WHEN ((x.h1 + (b+1)*x.h2) % 1000003)
        |                              % 2 = 1 THEN 1 ELSE -1 END
        |                         for x in hs]) > 0
        |          THEN 1::BIGINT ELSE 0::BIGINT END
        |     for b in generate_series(0, 63)] AS bits
        |  FROM h),
        |fp AS (
        |  SELECT doc_id,
        |    list_sum([bits[b+1] << b for b in generate_series(0, 31)])::BIGINT
        |      AS lo,
        |    list_sum([bits[b+33] << b for b in generate_series(0, 31)])::BIGINT
        |      AS hi
        |  FROM f)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  (bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)))::INT
        |    AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "d07_dedup_clusters" ->
      // transitive closure over the d03 pair set; cluster = min reachable id
      """WITH RECURSIVE g AS (
        |  SELECT doc_id,
        |    list_distinct([substring(lower(text), i, 3)
        |                   for i in generate_series(1, length(text) - 2)]) AS grams
        |  FROM documents WHERE doc_id < 300),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
        |      / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.8),
        |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT s AS id, s AS r FROM edges
        |  UNION
        |  SELECT e.s AS id, reach.r AS r FROM edges e
        |  JOIN reach ON e.d = reach.id)
        |SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach
        |GROUP BY id ORDER BY doc_id""".stripMargin,
    "q27_balanced_shards" ->
      // same serpentine deal: rank by (tokens desc, doc_id), shard from
      // the rank's pass parity
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(lower(trim(text)), '\s+'))::BIGINT
        |      AS n_tokens
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (
        |  SELECT doc_id, n_tokens,
        |    ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rk
        |  FROM t),
        |s AS (
        |  SELECT n_tokens,
        |    CASE WHEN (rk // 8) % 2 = 0 THEN rk % 8
        |         ELSE 7 - (rk % 8) END AS shard
        |  FROM r)
        |SELECT CAST(shard AS INT) AS shard, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS token_sum
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin,
    "q26_leakage_split" ->
      // d07's recursive closure labels the paired docs; singletons keep
      // their own id as cluster; the q14/q19 hash family assigns CLUSTERS
      // to splits; the straddle count is re-derived (and must be 0)
      """WITH RECURSIVE g AS (
        |  SELECT doc_id,
        |    list_distinct([substring(lower(text), i, 3)
        |                   for i in generate_series(1, length(text) - 2)]) AS grams
        |  FROM documents WHERE doc_id < 300),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
        |      / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.8),
        |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT s AS id, s AS r FROM edges
        |  UNION
        |  SELECT e.s AS id, reach.r AS r FROM edges e
        |  JOIN reach ON e.d = reach.id)
        |, lab AS (
        |  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
        |tagged AS (
        |  SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster,
        |    CASE WHEN ((COALESCE(l.cluster_id, d.doc_id) % 1000003)
        |               * 2654435761) % 10 < 8
        |         THEN 'train' ELSE 'val' END AS split
        |  FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
        |  LEFT JOIN lab l USING (doc_id)),
        |strad AS (
        |  SELECT COUNT(*) AS n_straddling FROM (
        |    SELECT cluster FROM tagged
        |    GROUP BY cluster HAVING COUNT(DISTINCT split) > 1))
        |SELECT split, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT cluster) AS n_clusters,
        |  CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum,
        |  (SELECT n_straddling FROM strad) AS n_straddling
        |FROM tagged GROUP BY split ORDER BY split""".stripMargin,
    "d10_keep_list" ->
      // (exact-norm ∪ brute word-5-shingle jaccard ≥ 0.8 on the
      // NORMALIZED text) edges, recursive min-label closure, every
      // non-null-text doc labeled; d07's closure pattern + an exact
      // layer. Word shingles of the normalized text mirror the Spark
      // side's lossless representative contraction; sub-5-token docs get
      // an empty shingle list (NULL-safe jaccard → no near-dup edges)
      // and merge through norm equality only, matching the Spark side's
      // empty-shingle exclusion from banding.
      """WITH RECURSIVE nrm AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT doc_id, norm,
        |    list_distinct([array_to_string(toks[i:i+4], ' ')
        |                   for i in generate_series(1, len(toks) - 4)]) AS grams
        |  FROM (SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM nrm)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id
        |  WHERE a.norm = b.norm
        |     OR len(list_intersect(a.grams, b.grams))::DOUBLE
        |        / nullif(len(list_distinct(list_concat(a.grams, b.grams))), 0)
        |        >= 0.8),
        |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT doc_id AS id, doc_id AS r FROM documents
        |  WHERE text IS NOT NULL
        |  UNION
        |  SELECT e.s AS id, reach.r AS r FROM edges e
        |  JOIN reach ON e.d = reach.id)
        |SELECT id AS doc_id, MIN(r) AS keep_id, id = MIN(r) AS is_kept
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    "d11_jaccard_words" ->
      // brute all-pairs word-5-shingle jaccard over the full table —
      // affordable in DuckDB at the oracle SF; the Spark side must
      // reproduce it through the prefix-filtered inverted index. Token
      // split mirrors TextAnalysis.tokens (lower+trim, split on \s+).
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(toks[i:i+4], ' ')
        |                   for i in generate_series(1, len(toks) - 4)]) AS grams
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |        FROM documents WHERE text IS NOT NULL))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.grams, b.grams))::DOUBLE
        |    / len(list_distinct(list_concat(a.grams, b.grams))) AS jac
        |FROM g a JOIN g b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
        |    / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,
    "d15_incremental_dedup" ->
      // d11's gram construction, brute across the increment/corpus split —
      // the Spark side must find the identical cross pairs through the
      // asymmetric band join (miss probability 4e-29 at the 0.8 threshold)
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(toks[i:i+4], ' ')
        |                   for i in generate_series(1, len(toks) - 4)]) AS grams
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |        FROM documents WHERE text IS NOT NULL)),
        |b AS (SELECT * FROM g WHERE doc_id % 17 = 0),
        |c AS (SELECT * FROM g WHERE doc_id % 17 <> 0)
        |SELECT b.doc_id AS new_id, c.doc_id AS corpus_id,
        |  len(list_intersect(b.grams, c.grams))::DOUBLE
        |    / len(list_distinct(list_concat(b.grams, c.grams))) AS jac
        |FROM b JOIN c ON true
        |WHERE len(list_intersect(b.grams, c.grams))::DOUBLE
        |    / len(list_distinct(list_concat(b.grams, c.grams))) >= 0.8
        |ORDER BY new_id, corpus_id""".stripMargin,
    "q16_pipeline_funnel" ->
      // composition of the t03 (lang), t02 (quality), t09 (repetition),
      // d01 (exact keeper), d08 (contamination) oracle fragments into one
      // per-source funnel over the train split
      """WITH d AS (
        |  SELECT doc_id, source, text,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |  FROM documents WHERE doc_id % 10 <> 0),
        |lang AS (
        |  SELECT doc_id, CASE WHEN greatest(de, en, es, fr) = 0 THEN 'und'
        |    WHEN fr = greatest(de, en, es, fr) THEN 'fr'
        |    WHEN es = greatest(de, en, es, fr) THEN 'es'
        |    WHEN en = greatest(de, en, es, fr) THEN 'en'
        |    ELSE 'de' END AS pred
        |  FROM (
        |    SELECT doc_id,
        |      len(list_filter(toks, x -> list_contains(['der','die','und','das',
        |        'ist','von','mit','den','nicht','ein'], x))) AS de,
        |      len(list_filter(toks, x -> list_contains(['the','and','of','to',
        |        'in','is','that','it','was','for'], x))) AS en,
        |      len(list_filter(toks, x -> list_contains(['el','la','de','que',
        |        'y','en','un','los','se','del'], x))) AS es,
        |      len(list_filter(toks, x -> list_contains(['le','la','les','de',
        |        'et','un','une','des','est','dans'], x))) AS fr
        |    FROM d) s),
        |qual AS (
        |  SELECT doc_id, least(1.0,
        |    (n_stop / n_tok * 2.0 + (1.0 -
        |       CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END)) / 2.0
        |      * (CASE WHEN n_tok >= 10 AND n_tok <= 1000 THEN 1.0 ELSE 0.5 END))
        |    AS q
        |  FROM (
        |    SELECT doc_id, len(toks)::DOUBLE AS n_tok,
        |      len(list_filter(toks, x -> list_contains(['the','a','an','of',
        |        'and','or','to','in','is','on','for','with'], x)))::DOUBLE
        |        AS n_stop,
        |      len(regexp_extract_all(text, '[^\w\s]'))::DOUBLE AS n_punct,
        |      length(text)::DOUBLE AS n_chars
        |    FROM d) s),
        |rep AS (
        |  SELECT doc_id, SUM(occ)::BIGINT AS n_grams, MAX(occ)::BIGINT AS top_gram
        |  FROM (SELECT doc_id, gram, COUNT(*) AS occ FROM (
        |          SELECT doc_id, unnest([array_to_string(toks[i:i+1], ' ')
        |            for i in generate_series(1, len(toks) - 1)]) AS gram FROM d) g
        |        GROUP BY doc_id, gram) c
        |  GROUP BY doc_id),
        |keeper AS (
        |  SELECT doc_id, doc_id = MIN(doc_id) OVER (PARTITION BY norm) AS kp
        |  FROM d),
        |tg AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+4], ' ')
        |    for i in generate_series(1, len(toks) - 4)])) AS gram
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |        FROM documents) t),
        |contam AS (
        |  SELECT DISTINCT tg.doc_id FROM tg
        |  JOIN (SELECT DISTINCT gram FROM tg WHERE doc_id % 10 = 0) b USING (gram)
        |  WHERE tg.doc_id % 10 <> 0),
        |f AS (
        |  SELECT d.source, lang.pred = 'en' AS en, qual.q >= 0.5 AS ql,
        |    NOT (COALESCE(rep.top_gram, 0) * 10 > COALESCE(rep.n_grams, 0) * 2)
        |      AS cl,
        |    keeper.kp AS kp, contam.doc_id IS NULL AS nc
        |  FROM d JOIN lang USING (doc_id) JOIN qual USING (doc_id)
        |  LEFT JOIN rep USING (doc_id) JOIN keeper USING (doc_id)
        |  LEFT JOIN contam USING (doc_id))
        |SELECT source, COUNT(*) AS n_docs,
        |  COUNT(*) FILTER (WHERE en) AS n_en,
        |  COUNT(*) FILTER (WHERE en AND ql) AS n_quality,
        |  COUNT(*) FILTER (WHERE en AND ql AND cl) AS n_clean,
        |  COUNT(*) FILTER (WHERE en AND ql AND cl AND kp) AS n_keep,
        |  COUNT(*) FILTER (WHERE en AND ql AND cl AND kp AND nc) AS n_final
        |FROM f GROUP BY source ORDER BY source""".stripMargin,
    "d08_decontamination" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(toks[i:i+4], ' ')
        |     for i in generate_series(1, len(toks) - 4)])) AS gram
        |  FROM t),
        |b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0)
        |SELECT DISTINCT g.doc_id FROM g JOIN b USING (gram)
        |WHERE g.doc_id % 10 <> 0 ORDER BY doc_id""".stripMargin,
    "d12_bloom_decontam" ->
      // identical result set to the exact-overlap check (Bloom prefilter
      // has no false negatives; candidates exact-verified) — so the
      // oracle is d08's SQL at 4-grams over the %7 split
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(toks[i:i+3], ' ')
        |     for i in generate_series(1, len(toks) - 3)])) AS gram
        |  FROM t),
        |b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 7 = 0)
        |SELECT DISTINCT g.doc_id FROM g JOIN b USING (gram)
        |WHERE g.doc_id % 7 <> 0 ORDER BY doc_id""".stripMargin,
    "d23_contam_index" -> contamProbeOracle,
    // merged index probe == the single-suite recompute: %22==0 ∪
    // %22==11 IS d23's %11==0 benchmark, so d25 rides the SAME
    // exact-overlap SQL — a merge that lost grams or tore the
    // grams/sketch pair diverges from it
    "d25_contam_merge" -> contamProbeOracle,
    // compaction preserves probe semantics exactly (partial minima
    // re-minimized == the global MIN the recompute takes), so d24
    // rides d22's global-recompute oracle verbatim
    "d24_url_index_compact" -> urlDedupOracle("WHERE mk.doc_id % 17 = 0"),
    "q17_quality_cutoff" ->
      // t02's score formula + percent_rank within source. The rank key q
      // is a DOUBLE: cross-engine equality rests on both engines
      // evaluating the identical IEEE expression in the same order (as
      // t02 established for this score), NOT on integer inputs — any
      // reordering of the score arithmetic is oracle-affecting. The
      // (rank-1)/(n-1) percent_rank on top is exact in both.
      """WITH q AS (
        |  SELECT source,
        |    len(regexp_split_to_array(lower(trim(text)), '\s+'))::DOUBLE AS n_tok,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |        x -> list_contains(['the','a','an','of','and','or','to','in',
        |                            'is','on','for','with'], x)))::DOUBLE AS n_stop,
        |    len(regexp_extract_all(text, '[^\w\s]'))::DOUBLE AS n_punct,
        |    length(text)::DOUBLE AS n_chars
        |  FROM documents),
        |s AS (
        |  SELECT source, least(1.0,
        |    (n_stop / n_tok * 2.0 + (1.0 -
        |       CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END)) / 2.0
        |      * (CASE WHEN n_tok >= 10 AND n_tok <= 1000 THEN 1.0 ELSE 0.5 END))
        |    AS q
        |  FROM q),
        |r AS (
        |  SELECT source, percent_rank() OVER (
        |    PARTITION BY source ORDER BY q) AS pr
        |  FROM s)
        |SELECT source, COUNT(*) AS n_docs,
        |  COUNT(*) FILTER (WHERE pr >= 0.8) AS n_kept
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "d09_span_coverage" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+')
        |    AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
        |    SELECT doc_id, unnest(
        |      [{'pos': i, 'gram': array_to_string(toks[i:i+7], ' ')}
        |       for i in generate_series(1, len(toks) - 7)]) AS u
        |    FROM t) z),
        |df AS (SELECT gram FROM g GROUP BY gram
        |       HAVING COUNT(DISTINCT doc_id) >= 2),
        |iv AS (SELECT g.doc_id, g.pos AS s, g.pos + 7 AS e
        |       FROM g JOIN df USING (gram)),
        |u AS (
        |  SELECT doc_id, s, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv),
        |cov AS (
        |  SELECT doc_id,
        |    SUM(greatest(0, e - greatest(s, coalesce(pmax + 1, s)) + 1))
        |      ::BIGINT AS covered_tokens
        |  FROM u GROUP BY doc_id)
        |SELECT t.doc_id, len(t.toks)::BIGINT AS n_tokens,
        |  cov.covered_tokens
        |FROM t JOIN cov USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    "t10_pii_stats" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  SUM(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')))::BIGINT
        |    AS n_emails,
        |  SUM(len(regexp_extract_all(text,
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b')))::BIGINT AS n_phones,
        |  SUM(len(regexp_extract_all(text,
        |    '\b\d{1,3}(?:\.\d{1,3}){3}\b')))::BIGINT AS n_ips,
        |  COUNT(*) FILTER (WHERE
        |    len(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    + len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))
        |    + len(regexp_extract_all(text, '\b\d{1,3}(?:\.\d{1,3}){3}\b'))
        |    > 0) AS n_docs_with_pii,
        |  COUNT(*) FILTER (WHERE
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]',
        |      'g'),
        |      '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g'),
        |      '\b\d{1,3}(?:\.\d{1,3}){3}\b', '[IP]', 'g') <> text)
        |    AS n_docs_redacted
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "t11_tfidf_topk" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        |  FROM documents WHERE doc_id < 200 AND text IS NOT NULL),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM t),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM t
        |       GROUP BY doc_id, tok),
        |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY tok),
        |s AS (
        |  SELECT tf.doc_id, tf.tok,
        |    round(tf.tf * ln(n.n_docs::DOUBLE / df.df), 4) AS score
        |  FROM tf JOIN df USING (tok) CROSS JOIN n)
        |SELECT doc_id, rnk, tok, score FROM (
        |  SELECT doc_id, tok, score, ROW_NUMBER() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, tok) AS rnk FROM s) x
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "t12_chunking" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(lower(trim(text)), '\s+'))::BIGINT AS n
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (
        |  SELECT doc_id, n, unnest(generate_series(0,
        |    CASE WHEN n <= 16 THEN 0 ELSE (n - 16 + 11) // 12 END))
        |    AS chunk_id
        |  FROM t WHERE n > 0)
        |SELECT doc_id, chunk_id, chunk_id * 12 AS start_tok,
        |  least(16, n - chunk_id * 12) AS chunk_len
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "t13_lm_score" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |uni AS (
        |  SELECT w1, count(*)::BIGINT AS cu FROM (
        |    SELECT unnest(toks) AS w1 FROM t) u GROUP BY w1),
        |bgx AS (
        |  SELECT doc_id, p.pos AS pos, p.w1 AS w1, p.w2 AS w2
        |  FROM (SELECT doc_id,
        |          [struct_pack(pos := i, w1 := toks[i], w2 := toks[i+1])
        |           for i in generate_series(1, len(toks)-1)] AS pairs
        |        FROM t) b, unnest(b.pairs) AS u(p)),
        |bcnt AS (SELECT w1, w2, count(*)::BIGINT AS cb FROM bgx
        |         GROUP BY w1, w2),
        |s AS (
        |  SELECT x.doc_id, x.pos, ln(b.cb::DOUBLE / u.cu::DOUBLE) AS lp
        |  FROM bgx x JOIN bcnt b ON x.w1 = b.w1 AND x.w2 = b.w2
        |  JOIN uni u ON x.w1 = u.w1)
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  round(list_reduce(list(lp ORDER BY pos), (acc, x) -> acc + x)
        |        / count(*), 4) AS avg_logprob
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t09_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest([array_to_string(toks[i:i+1], ' ')
        |    for i in generate_series(1, len(toks) - 1)]) AS gram
        |  FROM t),
        |per AS (
        |  SELECT doc_id, SUM(occ)::BIGINT AS n_grams,
        |    MAX(occ)::BIGINT AS top_gram
        |  FROM (SELECT doc_id, gram, COUNT(*) AS occ FROM g
        |        GROUP BY doc_id, gram) c
        |  GROUP BY doc_id)
        |SELECT t.source, COUNT(*) AS n_docs,
        |  COALESCE(SUM(per.top_gram), 0)::BIGINT AS top_gram_occ,
        |  COUNT(*) FILTER (WHERE COALESCE(per.top_gram, 0) * 10
        |    > COALESCE(per.n_grams, 0) * 2) AS n_flagged
        |FROM t LEFT JOIN per USING (doc_id)
        |GROUP BY t.source ORDER BY t.source""".stripMargin,
    "t05_vocab_topk" ->
      """SELECT tok, COUNT(*) AS n FROM (
        |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        |  FROM documents) t
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 50""".stripMargin,
    "t06_dup_ngrams" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source,
        |    list_distinct([array_to_string(toks[i:i+4], ' ')
        |                   for i in generate_series(1, len(toks) - 4)]) AS grams
        |  FROM t),
        |e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        |df AS (SELECT gram, COUNT(*) AS gram_docs FROM e GROUP BY gram),
        |p AS (
        |  SELECT e.doc_id, COUNT(*) AS n_grams,
        |    COUNT(*) FILTER (WHERE df.gram_docs >= 2) AS n_dup_grams
        |  FROM e JOIN df USING (gram) GROUP BY e.doc_id)
        |SELECT g.source, COUNT(*) AS n_docs,
        |  COALESCE(SUM(p.n_grams), 0)::BIGINT AS n_grams,
        |  COALESCE(SUM(p.n_dup_grams), 0)::BIGINT AS n_dup_grams,
        |  COUNT(*) FILTER (
        |    WHERE COALESCE(p.n_dup_grams, 0) * 10 > COALESCE(p.n_grams, 0) * 3)
        |    AS n_flagged
        |FROM g LEFT JOIN p USING (doc_id)
        |GROUP BY g.source ORDER BY g.source""".stripMargin,
    "t07_winnowing" ->
      // the same base-257 mod-1000003 rolling hash + w=4 window minima;
      // list_reduce folds from a prepended 0 (it otherwise seeds with the
      // first element, unlike Spark's aggregate(zero, ...))
      // n = length of the LOWERED text: lowercasing can change codepoint
      // count (e.g. U+0130), and the kernel hashes the lowered string
      s"""WITH d AS (SELECT doc_id, lower(text) AS t, length(lower(text)) AS n
        |           FROM $astralDocsSql),
        |cs AS (SELECT doc_id, n,
        |  [ord(substring(t, i, 1)) for i in generate_series(1, n)] AS codes
        |  FROM d),
        |hs AS (SELECT doc_id,
        |  CASE WHEN n < 8 THEN []::BIGINT[]
        |  ELSE [list_reduce(list_prepend(0::BIGINT, codes[i:i+7]::BIGINT[]),
        |          (acc, c) -> (acc * 257 + c) % 1000003)
        |        for i in generate_series(1, n - 7)] END AS hv
        |  FROM cs),
        |fps AS (SELECT doc_id,
        |  CASE WHEN len(hv) = 0 THEN []::BIGINT[]
        |       WHEN len(hv) <= 4 THEN [list_min(hv)]
        |       ELSE list_sort(list_distinct(
        |         [list_min(hv[t:t+3]) for t in generate_series(1, len(hv) - 3)]))
        |  END AS fp FROM hs)
        |SELECT fp, COUNT(*) AS n_docs
        |FROM (SELECT doc_id, unnest(fp) AS fp FROM fps) e
        |GROUP BY fp HAVING COUNT(*) >= 2
        |ORDER BY n_docs DESC, fp LIMIT 100""".stripMargin,
    "t08_sequence_packing" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(lower(trim(text)), '\s+'))::BIGINT AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n,
        |    COALESCE(SUM(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS s
        |  FROM t)
        |SELECT seq_id, COUNT(*) AS n_docs FROM (
        |  SELECT doc_id, unnest(generate_series(s // 512, (s + n - 1) // 512))
        |    AS seq_id
        |  FROM c WHERE n > 0) x
        |GROUP BY seq_id ORDER BY seq_id""".stripMargin,
    "d06_embedding_neardup" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.vec, b.vec)
        |    / (sqrt(list_dot_product(a.vec, a.vec))
        |       * sqrt(list_dot_product(b.vec, b.vec))), 4) AS cos
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.vec, b.vec)
        |    / (sqrt(list_dot_product(a.vec, a.vec))
        |       * sqrt(list_dot_product(b.vec, b.vec))), 4) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    "t01_token_stats" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS n_units,
        |  len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
        |  len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> list_contains(['the','a','an','of','and','or','to','in',
        |                          'is','on','for','with'], x))) AS n_stopwords
        |FROM documents ORDER BY doc_id LIMIT 200""".stripMargin,
    "t02_quality_by_source" ->
      """WITH q AS (
        |  SELECT source,
        |    len(regexp_split_to_array(lower(trim(text)), '\s+'))::DOUBLE AS n_tok,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |        x -> list_contains(['the','a','an','of','and','or','to','in',
        |                            'is','on','for','with'], x)))::DOUBLE AS n_stop,
        |    len(regexp_extract_all(text, '[^\w\s]'))::DOUBLE AS n_punct,
        |    length(text)::DOUBLE AS n_chars
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  COUNT(*) FILTER (WHERE least(1.0,
        |    (n_stop / n_tok * 2.0 + (1.0 -
        |       CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END)) / 2.0
        |      * (CASE WHEN n_tok >= 10 AND n_tok <= 1000 THEN 1.0 ELSE 0.5 END))
        |    >= 0.5) AS n_pass
        |FROM q GROUP BY source ORDER BY source""".stripMargin,
    "t04_fingerprints" ->
      // the fingerprint side is Spark-hash-specific, but its INVARIANT is
      // exact: distinct fingerprints == distinct normalized texts → 1
      s"""SELECT COUNT(*) AS n_docs,
        |  COUNT(DISTINCT regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
        |    AS n_norm_texts,
        |  CAST(1 AS BIGINT) AS fp_integrity
        |FROM $astralDocsSql WHERE text IS NOT NULL""".stripMargin,
    "t03_lang_id" ->
      // mirror of TextAnalysis.langIdOf: per-language stopword hit counts,
      // winner = max hits with lexicographically-greatest language tiebreak
      // (Spark `greatest` over (hits, lang) structs), zero hits => 'und'
      """WITH t AS (
        |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT
        |    len(list_filter(toks, x -> list_contains(['der','die','und','das',
        |      'ist','von','mit','den','nicht','ein'], x))) AS de,
        |    len(list_filter(toks, x -> list_contains(['the','and','of','to',
        |      'in','is','that','it','was','for'], x))) AS en,
        |    len(list_filter(toks, x -> list_contains(['el','la','de','que',
        |      'y','en','un','los','se','del'], x))) AS es,
        |    len(list_filter(toks, x -> list_contains(['le','la','les','de',
        |      'et','un','une','des','est','dans'], x))) AS fr
        |  FROM t),
        |p AS (
        |  SELECT CASE WHEN greatest(de, en, es, fr) = 0 THEN 'und'
        |    WHEN fr = greatest(de, en, es, fr) THEN 'fr'
        |    WHEN es = greatest(de, en, es, fr) THEN 'es'
        |    WHEN en = greatest(de, en, es, fr) THEN 'en'
        |    ELSE 'de' END AS pred
        |  FROM s)
        |SELECT pred, COUNT(*) AS n FROM p GROUP BY pred ORDER BY pred""".stripMargin,
    "t14_char_entropy" ->
      // H = ln(n) − (Σ c·ln c)/n in bits, the SAME expression order as the
      // Spark side; the fold runs over counts in sorted-char order on both
      // engines (chars unique per doc → total order); t13 log conventions
      """WITH d AS (SELECT doc_id, lower(text) AS t
        |           FROM documents WHERE text IS NOT NULL),
        |ch AS (SELECT doc_id, unnest([substring(t, i, 1)
        |         for i in generate_series(1, length(t))]) AS ch FROM d),
        |c AS (SELECT doc_id, ch, COUNT(*)::BIGINT AS c
        |      FROM ch GROUP BY 1, 2),
        |l AS (SELECT doc_id, SUM(c)::BIGINT AS n_chars,
        |        COUNT(*)::BIGINT AS n_distinct,
        |        list(c::DOUBLE ORDER BY ch) AS lc
        |      FROM c GROUP BY doc_id)
        |SELECT doc_id, n_chars, n_distinct,
        |  round((ln(n_chars::DOUBLE)
        |     - list_reduce(list_prepend(0.0, lc),
        |         (acc, x) -> acc + x * ln(x)) / n_chars::DOUBLE)
        |    / ln(2.0), 4) AS entropy_bits
        |FROM l ORDER BY doc_id""".stripMargin,
    "t15_bm25_topk" ->
      // same integer→double dataflow as bm25TopK: every float input is an
      // integer aggregate (tf/df/dl/N/Σdl), ::DOUBLE casts force double
      // (not DECIMAL) arithmetic at each fractional literal, the per-doc
      // total adds the 3 term columns in term-list order, and the rank
      // orders by the ROUNDED score — engine-exact end to end
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |dl AS (SELECT doc_id, COUNT(*)::BIGINT AS dl FROM t GROUP BY doc_id),
        |n AS (SELECT COUNT(*)::BIGINT AS n_docs, SUM(dl)::BIGINT AS tot FROM dl),
        |tf AS (SELECT doc_id, tok, COUNT(*)::BIGINT AS tf FROM t
        |       WHERE tok IN ('spark', 'join', 'window') GROUP BY doc_id, tok),
        |df AS (SELECT tok, COUNT(*)::BIGINT AS df FROM tf GROUP BY tok),
        |s AS (
        |  SELECT tf.doc_id, tf.tok,
        |    ln(CAST(1.0 AS DOUBLE) +
        |       (n.n_docs - df.df + CAST(0.5 AS DOUBLE)) /
        |       (df.df + CAST(0.5 AS DOUBLE))) *
        |    (tf.tf * CAST(2.2 AS DOUBLE)) /
        |    (tf.tf + CAST(1.2 AS DOUBLE) *
        |      (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl.dl /
        |        (n.tot::DOUBLE / n.n_docs))) AS s
        |  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN n),
        |p AS (
        |  SELECT doc_id,
        |    round(COALESCE(MAX(CASE WHEN tok = 'spark' THEN s END), 0.0)
        |        + COALESCE(MAX(CASE WHEN tok = 'join' THEN s END), 0.0)
        |        + COALESCE(MAX(CASE WHEN tok = 'window' THEN s END), 0.0), 4)
        |      AS score,
        |    COUNT(*)::BIGINT AS n_terms
        |  FROM s GROUP BY doc_id)
        |SELECT ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)::BIGINT AS rnk,
        |  doc_id, score, n_terms
        |FROM p ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "q23_shard_manifest" ->
      // the ShardWriter hash replayed over the SOURCE table: the Spark
      // side aggregates the post-round-trip JSONL, so equality proves the
      // sink lost nothing and the layout's shard dirs match the assignment
      """WITH a AS (
        |  SELECT CAST(((doc_id * 2654435761) % 1000003) % 8 AS INT)
        |    AS shard, doc_id, n_chars
        |  FROM documents)
        |SELECT shard, COUNT(*) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_sum
        |FROM a GROUP BY shard ORDER BY shard""".stripMargin,
    "q24_budget_fill" ->
      // the same t02 score formula as q19's oracle; the cumulative token
      // sum is the SQL window twin of budgetFill's two-pass scan (the
      // prefix includes every row in rank order, so kept = cum <= budget
      // is the top-ranked prefix that fits)
      """WITH b AS (
        |  SELECT source, doc_id,
        |    len(regexp_split_to_array(lower(trim(text)), '\s+'))::BIGINT
        |      AS n_tok_i,
        |    len(regexp_split_to_array(lower(trim(text)), '\s+'))::DOUBLE
        |      AS n_tok,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |        x -> list_contains(['the','a','an','of','and','or','to','in',
        |                            'is','on','for','with'], x)))::DOUBLE
        |      AS n_stop,
        |    len(regexp_extract_all(text, '[^\w\s]'))::DOUBLE AS n_punct,
        |    length(text)::DOUBLE AS n_chars
        |  FROM documents),
        |s AS (
        |  SELECT source, doc_id, n_tok_i, least(1.0,
        |    (n_stop / n_tok * 2.0 + (1.0 -
        |       CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END)) / 2.0
        |      * (CASE WHEN n_tok >= 10 AND n_tok <= 1000 THEN 1.0 ELSE 0.5 END))
        |    AS q
        |  FROM b),
        |tot AS (SELECT CAST(SUM(n_tok_i) // 2 AS BIGINT) AS budget FROM s),
        |c AS (
        |  SELECT source, doc_id, n_tok_i,
        |    SUM(n_tok_i) OVER (ORDER BY q DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM s)
        |SELECT source, COUNT(*) AS n_docs,
        |  COUNT(*) FILTER (WHERE cum <= budget) AS n_kept,
        |  CAST(COALESCE(SUM(doc_id) FILTER (WHERE cum <= budget), 0)
        |    AS BIGINT) AS kept_id_sum,
        |  CAST(COALESCE(SUM(n_tok_i) FILTER (WHERE cum <= budget), 0)
        |    AS BIGINT) AS kept_tok_sum
        |FROM c CROSS JOIN tot GROUP BY source ORDER BY source""".stripMargin,
    "q19_weighted_sample" ->
      // t02's score formula (same doubles both engines — q17 note applies)
      // entering only through the exact integer threshold ⌊q·101⌋ against
      // the q14/q15 multiplicative-hash bucket
      """WITH b AS (
        |  SELECT source, doc_id,
        |    len(regexp_split_to_array(lower(trim(text)), '\s+'))::DOUBLE AS n_tok,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |        x -> list_contains(['the','a','an','of','and','or','to','in',
        |                            'is','on','for','with'], x)))::DOUBLE AS n_stop,
        |    len(regexp_extract_all(text, '[^\w\s]'))::DOUBLE AS n_punct,
        |    length(text)::DOUBLE AS n_chars
        |  FROM documents),
        |s AS (
        |  SELECT source, doc_id, least(1.0,
        |    (n_stop / n_tok * 2.0 + (1.0 -
        |       CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END)) / 2.0
        |      * (CASE WHEN n_tok >= 10 AND n_tok <= 1000 THEN 1.0 ELSE 0.5 END))
        |    AS q
        |  FROM b),
        |a AS (
        |  SELECT source, doc_id,
        |    ((doc_id % 1000003) * 2654435761) % 101
        |      < CAST(floor(q * 101.0) AS BIGINT) AS acc
        |  FROM s)
        |SELECT source, COUNT(*) AS n_docs,
        |  COUNT(*) FILTER (WHERE acc) AS n_accepted,
        |  CAST(SUM(doc_id) FILTER (WHERE acc) AS BIGINT) AS accepted_id_sum
        |FROM a GROUP BY source ORDER BY source""".stripMargin,
    "s05_knn_join_lsh" ->
      // s02/s03-style contract oracle: the expected constants from the
      // embeddings table alone; any coverage/recall collapse flips a
      // boolean and fails the hash compare
      """SELECT COUNT(*) AS n_vectors, true AS coverage_ok,
        |  true AS recall_ok
        |FROM embeddings""".stripMargin,
    "s04_knn_join" ->
      // the same rounded-cosine + (cos DESC, nid) ranking as s01, but the
      // join is within-cell self-join on label — the partitioned kNN join
      """WITH v AS (SELECT label AS cell, vec_id,
        |             embedding::DOUBLE[] AS vec FROM embeddings),
        |s AS (
        |  SELECT q.cell, q.vec_id AS qid, n.vec_id AS nid,
        |    round(list_dot_product(q.vec, n.vec)
        |      / (sqrt(list_dot_product(q.vec, q.vec))
        |         * sqrt(list_dot_product(n.vec, n.vec))), 4) AS cos
        |  FROM v q JOIN v n ON q.cell = n.cell AND q.vec_id <> n.vec_id)
        |SELECT cell, qid, rank, nid, cos FROM (
        |  SELECT cell, qid, nid, cos, ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM s) t
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    "s06_range_search" ->
      // the s01 cosine math, but a similarity-threshold filter instead of
      // a rank window — the radius-query contract
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)
        |SELECT q.vec_id AS qid, n.vec_id AS nid,
        |  round(list_dot_product(q.vec, n.vec)
        |    / (sqrt(list_dot_product(q.vec, q.vec))
        |       * sqrt(list_dot_product(n.vec, n.vec))), 4) AS cos
        |FROM v q JOIN v n ON q.vec_id < 8 AND q.vec_id <> n.vec_id
        |WHERE round(list_dot_product(q.vec, n.vec)
        |    / (sqrt(list_dot_product(q.vec, q.vec))
        |       * sqrt(list_dot_product(n.vec, n.vec))), 4) >= 0.3
        |ORDER BY qid, nid""".stripMargin,
    "q25_length_buckets" ->
      // t01's token convention; power-of-two bucket via log2, then the
      // same arithmetic clamp as the Spark side (Spark's ln-based log2
      // overshoots at some exact powers of two; the clamp makes both
      // engines bucket identically regardless of FP log exactness)
      """WITH t AS (
        |  SELECT len(regexp_split_to_array(lower(trim(text)), '\s+'))::BIGINT
        |    AS n_tokens
        |  FROM documents WHERE text IS NOT NULL),
        |b0 AS (
        |  SELECT n_tokens,
        |    CAST(power(2, ceil(log2(n_tokens))) AS BIGINT) AS b0
        |  FROM t),
        |b AS (
        |  SELECT n_tokens,
        |    CASE WHEN b0 // 2 >= n_tokens THEN b0 // 2 ELSE b0 END AS bucket
        |  FROM b0)
        |SELECT bucket, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(SUM(bucket - n_tokens) AS BIGINT) AS pad_tokens
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "s01_topk_cosine" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        |s AS (
        |  SELECT q.vec_id AS qid, n.vec_id AS nid,
        |    round(list_dot_product(q.vec, n.vec)
        |      / (sqrt(list_dot_product(q.vec, q.vec))
        |         * sqrt(list_dot_product(n.vec, n.vec))), 4) AS cos
        |  FROM v q JOIN v n ON q.vec_id < 8 AND q.vec_id <> n.vec_id)
        |SELECT qid, rank, nid, cos FROM (
        |  SELECT qid, nid, cos, ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM s) t
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "s12_sq8_topk" ->
      // the full SQ8 chain replayed: per-dim min/max (zipped unnest), byte
      // codes with the clamp, the decode+squared-L2 fold in ascending dim
      // order from a prepended 0.0 (the engine's aggregate order), rank on
      // (rounded dist, nid)
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        |st AS MATERIALIZED (
        |  SELECT i, MIN(x) AS mn, MAX(x) AS mx
        |  FROM (SELECT unnest(vec) AS x,
        |          unnest(generate_series(1, len(vec))) AS i FROM v)
        |  GROUP BY i),
        |mnx AS MATERIALIZED (
        |  SELECT list(mn ORDER BY i) AS mn, list(mx ORDER BY i) AS mx
        |  FROM st),
        |cd AS MATERIALIZED (
        |  SELECT vec_id AS nid,
        |    [CASE WHEN mx[i] = mn[i] THEN 0::BIGINT
        |     ELSE LEAST(255::BIGINT, GREATEST(0::BIGINT,
        |       round((vec[i] - mn[i]) / (mx[i] - mn[i]) * 255.0)::BIGINT))
        |     END for i in generate_series(1, len(vec))] AS codes
        |  FROM v CROSS JOIN mnx),
        |s AS (
        |  SELECT q.vec_id AS qid, c.nid,
        |    round(list_reduce(list_prepend(0.0::DOUBLE,
        |      [(q.vec[i] - (mn[i] + (c.codes[i]::DOUBLE * (mx[i] - mn[i]))
        |                             / 255.0))
        |       * (q.vec[i] - (mn[i] + (c.codes[i]::DOUBLE * (mx[i] - mn[i]))
        |                               / 255.0))
        |       for i in generate_series(1, len(q.vec))]),
        |      (acc, x) -> acc + x), 4) AS dist
        |  FROM v q CROSS JOIN mnx CROSS JOIN cd c
        |  WHERE q.vec_id < 8 AND q.vec_id <> c.nid)
        |SELECT qid, rank, nid, dist FROM (
        |  SELECT qid, nid, dist, ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY dist, nid) AS rank FROM s) t
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "d13_cdc_dedup" ->
      // the same chunking end-to-end: base-257 mod-1000003 boundary hash
      // over k=8 windows of the LOWERED text's codepoints (boundary when
      // % 64 = 63, cut AFTER the window end), then the 61-bit double
      // polynomial identity hash per chunk (h1 base-257 mod 2^31-1,
      // h2 base-131 mod 1e9+7, packed h1*1000000007+h2 — all folds stay
      // in BIGINT). list_reduce folds from a prepended 0 (t07 convention)
      s"""WITH d AS (SELECT doc_id, lower(text) AS t, length(lower(text)) AS n
        |           FROM $astralDocsSql WHERE text IS NOT NULL),
        |cs AS (SELECT doc_id, n,
        |  [ord(substring(t, i, 1)) for i in generate_series(1, n)] AS codes
        |  FROM d WHERE n > 0),
        |bd AS (SELECT doc_id, n, codes,
        |  CASE WHEN n < 8 THEN []::BIGINT[]
        |  ELSE [i + 7 for i in generate_series(1, n - 7)
        |        if list_reduce(list_prepend(0::BIGINT, codes[i:i+7]::BIGINT[]),
        |             (acc, c) -> (acc * 257 + c) % 1000003) % 64 = 63] END AS ends
        |  FROM cs),
        |ch AS (SELECT doc_id, codes, n,
        |  [struct_pack(
        |     s := CASE WHEN ci = 1 THEN 1 ELSE ends[ci - 1] + 1 END,
        |     e := CASE WHEN ci <= len(ends) THEN ends[ci] ELSE n END)
        |   for ci in generate_series(1, len(ends) + 1)] AS spans
        |  FROM bd),
        |ck AS (SELECT doc_id,
        |  list_reduce(list_prepend(0::BIGINT, codes[sp.s:sp.e]::BIGINT[]),
        |    (acc, c) -> (acc * 257 + c) % 2147483647) * 1000000007
        |  + list_reduce(list_prepend(0::BIGINT, codes[sp.s:sp.e]::BIGINT[]),
        |    (acc, c) -> (acc * 131 + c) % 1000000007) AS chunk_hash,
        |  (sp.e - sp.s + 1)::BIGINT AS cp_len
        |  FROM (SELECT doc_id, codes, unnest(spans) AS sp FROM ch)
        |  WHERE sp.e >= sp.s)
        |SELECT chunk_hash, MIN(cp_len) AS cp_len, COUNT(*) AS n_copies,
        |  COUNT(DISTINCT doc_id) AS n_docs
        |FROM ck GROUP BY chunk_hash HAVING COUNT(*) >= 2
        |ORDER BY n_copies DESC, chunk_hash LIMIT 100""".stripMargin,
    "d14_semantic_dedup" ->
      // the same within-label rounded cosines (d06's expression order),
      // then d07's recursive min-label closure; kept = not a non-root
      // member of any duplicate component
      """WITH RECURSIVE v AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE round(list_dot_product(a.vec, b.vec)
        |      / (sqrt(list_dot_product(a.vec, a.vec))
        |         * sqrt(list_dot_product(b.vec, b.vec))), 4) >= 0.4),
        |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT s AS id, s AS r FROM edges
        |  UNION
        |  SELECT e.s AS id, reach.r AS r FROM edges e
        |  JOIN reach ON e.d = reach.id),
        |comp AS (SELECT id, MIN(r) AS root FROM reach GROUP BY id),
        |dr AS (SELECT id FROM comp WHERE id <> root)
        |SELECT label, COUNT(*)::BIGINT AS n_vecs,
        |  (COUNT(*) FILTER (WHERE dr.id IS NULL))::BIGINT AS n_kept
        |FROM v LEFT JOIN dr ON v.vec_id = dr.id
        |GROUP BY label ORDER BY label""".stripMargin,
    // s02/s03 emit the annRecallSummary contract: the expected constants
    // derive from the embeddings table alone (8 query vectors, full top-5
    // each, recall floor met) — the Spark side computes them from the
    // actual ANN result, so any breakage fails the hash compare
    "s02_ivf_topk" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  CAST(5 * COUNT(*) AS BIGINT) AS n_results,
        |  TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,
    "s03_ivf_kmeans" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  CAST(5 * COUNT(*) AS BIGINT) AS n_results,
        |  TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,
    "s07_ivf_index" ->
      // same contract form as s03: constants from the embeddings table;
      // a lossy index save/load or broken posting join flips recall_ok
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  CAST(5 * COUNT(*) AS BIGINT) AS n_results,
        |  TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,
    "s08_pq_topk" ->
      // same contract form: a broken codebook, encode argmin, ADC lookup
      // or re-rank join drops recall below the floor and flips recall_ok
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  CAST(5 * COUNT(*) AS BIGINT) AS n_results,
        |  TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,
    "s10_incremental_ann" ->
      // s08 contract plus append completeness: the incrementally-
      // maintained code table must hold exactly one row per corpus vector
      """SELECT CAST(COUNT(*) FILTER (WHERE vec_id < 8) AS BIGINT)
        |    AS n_queries,
        |  CAST(5 * COUNT(*) FILTER (WHERE vec_id < 8) AS BIGINT)
        |    AS n_results,
        |  CAST(COUNT(*) AS BIGINT) AS n_codes,
        |  TRUE AS recall_ok
        |FROM embeddings""".stripMargin,
    "s09_pq_ivf" ->
      // same contract form: broken cell probing, posting joins or ADC
      // scoring inside the composition flips recall_ok
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  CAST(5 * COUNT(*) AS BIGINT) AS n_results,
        |  TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,
    "q29_data_quality" ->
      """WITH n AS (SELECT COUNT(*) AS n_rows FROM lineitem)
        |SELECT * FROM (
        |  SELECT 'in_range(l_quantity,1.0,25.0)' AS "check",
        |    CAST(SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1.0
        |             OR l_quantity > 25.0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violations,
        |    (SELECT n_rows FROM n) AS n_rows
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'not_null(l_returnflag)',
        |    CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT),
        |    (SELECT n_rows FROM n)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'ref_integrity(l_partkey->small_parts.p_partkey)',
        |    CAST(COUNT(*) FILTER (WHERE l_partkey IS NOT NULL
        |      AND NOT EXISTS (SELECT 1 FROM part
        |        WHERE p_partkey = l_partkey AND p_partkey < 1000))
        |      AS BIGINT),
        |    (SELECT n_rows FROM n)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'ref_integrity(l_suppkey->supplier.s_suppkey)',
        |    CAST(COUNT(*) FILTER (WHERE l_suppkey IS NOT NULL
        |      AND NOT EXISTS (SELECT 1 FROM supplier
        |        WHERE s_suppkey = l_suppkey)) AS BIGINT),
        |    (SELECT n_rows FROM n)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'satisfies(discount_not_above_tax)',
        |    CAST(SUM(CASE WHEN l_discount <= l_tax THEN 0 ELSE 1 END)
        |      AS BIGINT),
        |    (SELECT n_rows FROM n)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'unique(l_orderkey,l_linenumber)',
        |    (SELECT CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT)
        |     FROM (SELECT COUNT(*) AS cnt FROM lineitem
        |           GROUP BY l_orderkey, l_linenumber)),
        |    (SELECT n_rows FROM n))
        |ORDER BY "check"""".stripMargin)
}
