package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.
  *
  * Scale design:
  *  - exact dedup = hash-groupBy on the normalized key (one shuffle, partial
  *    aggregation map-side);
  *  - LSH families (MinHash bands, SimHash bands, hyperplane buckets) turn
  *    the quadratic all-pairs problem into equi-joins on bucket keys — the
  *    only shapes that survive 100 TB. Brute-force variants exist as
  *    correctness oracles and for bounded candidate sets.
  */
object Dedup {

  /** Normalized text key for exact dedup: lowercase, collapse whitespace. */
  def normText(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Spread a narrow scan to the cluster's parallelism before the per-row
    * gram/signature kernels — see [[graft.util.Spread]] for the guards. */
  private def spread(df: DataFrame): DataFrame = graft.util.Spread(df)

  /** Exact dedup: keep the smallest id per normalized text. */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.withColumn("_key", normText(col(textCol)))
      .groupBy(col("_key"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))
      .drop("_key")

  /** URL canonicalization — the C4-family crawl-preprocessing rule set
    * (Raffel et al. 2020 §2.2 dedup at the URL level before content
    * dedup; every crawl pipeline canonicalizes first or misses the
    * http/https + tracking-param aliases). DETERMINISTIC documented
    * subset, RE2-compatible so the DuckDB oracle replays it: fragment
    * strip → scheme+authority lowercase (path case is significant and
    * kept) → `www.` strip → default-`:443` strip → `utm_*`
    * tracking-param strip (mid-query, then leading, then the orphaned
    * `?`) → ONE trailing-slash strip. No percent-decoding, no IDN, no
    * public-suffix list (offline; [[urlDomain]] approximates registrable
    * domains as the last two labels — documented deviation). */
  val UrlFragmentRe = "(?s)#.*"
  val UrlHeadRe = "^[^:/?#]+://[^/?#]*"
  // ANCHORED to the head — an unanchored '://www.' replace would also
  // rewrite URLs embedded in query-parameter VALUES and conflate two
  // genuinely distinct documents into one canonical key
  val UrlWwwRe = "^([a-z]+://)www\\."
  val UrlPort443Re = "^([a-z]+://[^/?#:]*):443([/?#]|$)"
  val UrlUtmMidRe = "&utm_[a-z]+=[^&#]*"
  val UrlUtmLeadRe = "\\?utm_[a-z]+=[^&#]*&?"
  val UrlTrailQRe = "\\?$"
  val UrlTrailSlashRe = "/$"
  // host: skip optional userinfo@ and stop at ':' — neither credentials
  // nor the PORT are part of the blocklist identity (blocked-at-443 but
  // served-at-8080, or user:pass@bad.com, are the classic blocklist
  // escapes). IPv6 literal hosts are outside the documented subset —
  // domain blocklists are name-based.
  val UrlHostRe = "^[a-z]+://(?:[^/?#@]*@)?([^/?#:]+)"
  val UrlDomainRe = "[^.]+\\.[^.]+$"

  /** The canonicalization chain as one codegen'd Column — pure map-side
    * string work, zero shuffle. */
  def canonicalUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, UrlFragmentRe, "")
    val head = regexp_extract(noFrag, UrlHeadRe, 0)
    val lowered = concat(lower(head),
      noFrag.substr(length(head) + 1, length(noFrag)))
    val noWww = regexp_replace(lowered, UrlWwwRe, "$1")
    val noPort = regexp_replace(noWww, UrlPort443Re, "$1$2")
    val noUtmMid = regexp_replace(noPort, UrlUtmMidRe, "")
    val noUtmLead = regexp_replace(noUtmMid, UrlUtmLeadRe, "?")
    val noTrailQ = regexp_replace(noUtmLead, UrlTrailQRe, "")
    regexp_replace(noTrailQ, UrlTrailSlashRe, "")
  }

  /** Host of a canonical URL (post-[[canonicalUrl]]: lowercased,
    * www-stripped), WITHOUT any port — domain identity must not depend
    * on where the server listens. */
  def urlHost(canon: Column): Column = regexp_extract(canon, UrlHostRe, 1)

  /** Registrable-domain approximation: the host's last two labels. */
  def urlDomain(host: Column): Column =
    regexp_extract(host, UrlDomainRe, 0)

  /** URL-level dedup + domain blocklist — the C4 preprocessing pass that
    * runs BEFORE any content dedup: canonicalize, drop blocklisted
    * domains, keep the smallest id per canonical URL. Returns one row
    * per input doc with its `decision`: `blocked` (domain on the list),
    * `kept` (the canonical URL's keeper), or `dup`.
    *
    * Scale: canonicalization is map-side; the blocklist (a curated list,
    * ~10⁵–10⁶ domains at worst) joins via the LimitProbe-guarded
    * broadcast; keep-first is [[exactDedup]]'s hash-groupBy idiom on the
    * canonical URL plus one equi-join back on the same key — two
    * shuffles on the same key total, no windows, no all-pairs. Blocked
    * docs are excluded BEFORE the keeper groupBy, so a blocked keeper
    * never shadows a clean duplicate. */
  def urlDedupDecisions(docs: DataFrame, blocklist: DataFrame,
      idCol: String = "doc_id", urlCol: String = "url"): DataFrame = {
    val marked = markBlockedUrls(docs, blocklist, idCol, urlCol)
    val keepers = marked.filter(col("_blocked").isNull)
      .groupBy(col("canonical_url"))
      .agg(min(col(idCol)).as("_keep_id"))
    marked.join(keepers, Seq("canonical_url"), "left_outer")
      .select(col(idCol), col("canonical_url"),
        when(col("_blocked").isNotNull, "blocked")
          .when(col(idCol) === col("_keep_id"), "kept")
          .otherwise("dup").as("decision"))
  }

  /** The ONE copy of canonicalize + blocklist-mark the recompute
    * ([[urlDedupDecisions]]) and index ([[urlIndexRows]] /
    * [[urlDedupAgainstIndex]]) paths share — so a canonicalization or
    * blocklist-semantics tweak cannot land in one and miss the other. */
  private def markBlockedUrls(docs: DataFrame, blocklist: DataFrame,
      idCol: String, urlCol: String): DataFrame =
    docs.select(col(idCol),
        canonicalUrl(col(urlCol)).as("canonical_url"))
      .withColumn("domain", urlDomain(urlHost(col("canonical_url"))))
      .join(
        // distinct: concatenated curated lists repeat entries, and a
        // duplicated blocklist row would emit every blocked doc twice
        // through the left join
        Bpe.guardedDict(blocklist.select(col("domain")).distinct()
          .withColumn("_blocked", lit(true)), Bpe.DictBroadcastLimit),
        Seq("domain"), "left_outer")

  /** One snapshot's rows of the [[graft.util.PersistedIndex]] CANONICAL-URL
    * KEEPER INDEX (d22): post-blocklist canonical URLs with their minimal
    * doc id — partial minima, re-minimized per URL at probe time. The
    * blocklist applies at BUILD for stored docs (a blocked doc must never
    * become a stored keeper) and at probe for increment docs; callers must
    * probe with the same list they built with. */
  def urlIndexRows(docs: DataFrame, blocklist: DataFrame,
      idCol: String = "doc_id", urlCol: String = "url"): DataFrame =
    markBlockedUrls(docs, blocklist, idCol, urlCol)
      .filter(col("_blocked").isNull)
      .groupBy(col("canonical_url"))
      .agg(min(col(idCol)).as("keep_id"))

  /** Fold keeper rows to one minimal id per URL: the probe's read of the
    * stored side, and the index-only compaction as a rewrite (probe
    * results unchanged by construction). */
  def urlKeepers(rows: DataFrame): DataFrame =
    rows.groupBy(col("canonical_url")).agg(min(col("keep_id")).as("keep_id"))

  /** URL-dedup an increment against a persisted index: decisions equal
    * [[urlDedupDecisions]] over (indexed corpus ∪ increment) restricted
    * to increment docs (spec-pinned identical) — keep-first is the
    * GLOBAL minimal id across the stored partial minima and the
    * increment, so a stored keeper shadows today's recrawl of the same
    * URL, and an increment doc with a smaller id than a stored one
    * takes the keeper slot exactly as a recompute would. The stored
    * side contributes one aggregated equi-join on the canonical-URL
    * key; the stored corpus never re-canonicalizes. */
  def urlDedupAgainstIndex(newDocs: DataFrame, blocklist: DataFrame,
      dir: String, idCol: String = "doc_id",
      urlCol: String = "url"): DataFrame = {
    val spark = newDocs.sparkSession
    val marked = markBlockedUrls(newDocs, blocklist, idCol, urlCol)
    val stored = urlKeepers(graft.util.PersistedIndex(spark, dir).rows)
      .withColumnRenamed("keep_id", "_old_id")
    val newKeep = marked.filter(col("_blocked").isNull)
      .groupBy(col("canonical_url"))
      .agg(min(col(idCol)).as("_new_id"))
    marked.join(newKeep, Seq("canonical_url"), "left_outer")
      .join(stored, Seq("canonical_url"), "left_outer")
      .select(col(idCol), col("canonical_url"),
        when(col("_blocked").isNotNull, "blocked")
          .when(col(idCol) === least(
            coalesce(col("_old_id"), lit(Long.MaxValue)),
            col("_new_id")), "kept")
          .otherwise("dup").as("decision"))
  }

  /** Character n-gram shingle set (1-based positions — mirrors SQL
    * substring semantics so DuckDB oracles agree). Fused native kernel;
    * [[ngramsViaTransform]] is the composable formulation it must match
    * (cross-checked in PipelineSpec). */
  def ngrams(text: Column, n: Int): Column =
    graft.functions.CharNGrams.charNGrams(text, n)

  private[graft] def ngramsViaTransform(text: Column, n: Int): Column =
    when(length(text) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n)))))

  /** Exact Jaccard similarity of two shingle-set columns: |∩| / |∪| as an
    * exact integer ratio (bit-identical across engines). */
  /** Exact Jaccard of two DISTINCT-element arrays (every gram producer
    * here emits sets — CharNGrams/WordNGrams dedup by contract), via the
    * inclusion-exclusion identity |A∪B| = |A|+|B|−|A∩B|: one hash pass
    * (the intersect) instead of two (the old concat+array_distinct built
    * and deduped a combined array per candidate pair — pure allocation in
    * the verify join's hottest loop). Whole-stage codegen's subexpression
    * elimination evaluates the repeated intersect once. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a).cast("double") + size(b).cast("double") - inter)
  }

  /** All-pairs n-gram Jaccard above `threshold` — the brute-force baseline
    * (quadratic: test-oracle use only; [[jaccardPairs]] computes the same
    * exact pair set with an inverted index). */
  def jaccardPairsBrute(docs: DataFrame, n: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val g = docs.select(col(idCol).as("id"),
      ngrams(lower(col(textCol)), n).as("grams"))
    val a = g.select(col("id").as("id_a"), col("grams").as("grams_a"))
    val b = g.select(col("id").as("id_b"), col("grams").as("grams_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("jac", jaccard(col("grams_a"), col("grams_b")))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("jac"))
  }

  /** Exact n-gram Jaccard pairs via a prefix-filtered inverted index — no
    * cartesian join, and no k² posting blow-up on ubiquitous grams.
    *
    * Prefix filter (Bayardo et al., WWW'07 "Scaling Up All Pairs"): under a
    * global gram order (rarest first), J(A,B) ≥ t implies |A∩B| ≥ ⌈t·|A|⌉,
    * so the intersection cannot hide entirely in A's last ⌈t·|A|⌉−1 grams —
    * at least one shared gram falls in A's first |A|−⌈t·|A|⌉+1 (its
    * *prefix*), and symmetrically for B. Joining prefix postings only is
    * therefore lossless for the threshold, while the frequent grams that
    * make k² candidates land in suffixes and never join. Candidates are
    * then verified with the exact gram-set Jaccard — identical result set
    * to the all-pairs baseline.
    *
    * Scale: shuffles on gram (prefix postings only), then (id_a, id_b);
    * per-doc prefix ranking is one window over the posting list. All
    * equi-joins — survives 100 TB where the plain inverted index dies on
    * its most frequent gram. */
  def jaccardPairs(docs: DataFrame, n: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    prefixFilteredPairs(
      spread(docs).select(col(idCol).as("id"),
        ngrams(lower(col(textCol)), n).as("grams")),
      threshold)

  /** Exact word w-gram Jaccard pairs — [[jaccardPairs]] with word shingles.
    *
    * The prefix filter's effectiveness depends on rare shingles being
    * RARE: with char-3 shingles over short same-language text every gram
    * has high document frequency and the filter admits ~all pairs
    * (measured 11.6M candidates from 4992 docs — see [[minhashDedup]]'s
    * shingle-choice warning). Word shingles draw from vocab^w, prefixes
    * are genuinely selective, and the inverted index stays the lossless
    * sub-quadratic path at corpus scale. */
  def jaccardPairsWords(docs: DataFrame, w: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    prefixFilteredPairs(
      spread(docs).select(col(idCol).as("id"),
        TextAnalysis.wordNGrams(TextAnalysis.tokens(col(textCol)), w)
          .as("grams")),
      threshold)

  /** Bayardo prefix-filtered inverted-index core over (id, grams). */
  private def prefixFilteredPairs(prepared: DataFrame,
      threshold: Double): DataFrame = {
    // cache(), deliberately NOT localCheckpoint: the gram arrays are read
    // three times below (postings + both verify joins) and deserializing
    // checkpoint blocks per read measurably loses to the in-memory cache;
    // CacheManager plan-matching also lets a same-session clustering pass
    // (d07's components over the same pair spec) reuse this work. The entry
    // is MEMORY_AND_DISK and LRU-evicted under pressure, not a hard pin.
    val g = prepared.cache()
    val postings = g.select(col("id"), size(col("grams")).as("n_grams"),
      explode(col("grams")).as("gram"))
    val freq = postings.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    // rank each doc's grams rarest-first; prefix = first n−⌈t·n⌉+1 grams
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("gram"))
    val prefixes = postings.join(freq, "gram")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <=
        col("n_grams") - ceil(col("n_grams") * threshold) + 1)
      .select(col("gram"), col("id"))
      .cache() // both sides of the candidate self-join read this
    val candidates = prefixes.select(col("gram"), col("id").as("id_a"))
      .join(prefixes.select(col("gram"), col("id").as("id_b")), Seq("gram"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    candidates
      .join(g.select(col("id").as("id_a"), col("grams").as("grams_a")), "id_a")
      .join(g.select(col("id").as("id_b"), col("grams").as("grams_b")), "id_b")
      .withColumn("jac", jaccard(col("grams_a"), col("grams_b")))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("jac"))
  }

  /** MinHash signature: `numHashes` min-values over the shingle set.
    *
    * Each gram is string-hashed ONCE (xxhash64 → 32-bit base hash); the
    * `numHashes` permutations are universal hashes `(a_i·h + b_i) mod p`
    * (p = 2³¹−1) over that base — long multiply-add-mod per gram instead of
    * `numHashes` string hashes per gram. Constants derive deterministically
    * from the permutation index, so signatures are reproducible on any
    * cluster. All intermediates stay < 2⁶³ (no ANSI overflow). */
  def minhashSignature(grams: Column, numHashes: Int): Column =
    minhashSignatureFromBase(baseHashes(grams), numHashes)

  /** One 32-bit base hash per gram — compute this ONCE into its own column
    * before fanning out to the permutations: inlining it into
    * [[minhashSignatureFromBase]] would re-evaluate the string hashing per
    * permutation (no common-subexpression elimination across `array(...)`
    * elements — measured 5× slower at 128 hashes). */
  def baseHashes(grams: Column): Column =
    transform(grams, g => pmod(xxhash64(g), lit(4294967296L)))

  def minhashSignatureFromBase(base: Column, numHashes: Int): Column = {
    val p = 2147483647L // 2^31 - 1
    array((0 until numHashes).map { i =>
      val a = 1L + ((i.toLong * 0x9E3779B9L) % (p - 1))
      val b = (i.toLong * 0x85EBCA6BL) % p
      array_min(transform(base, h => pmod(h * lit(a) + lit(b), lit(p))))
    }: _*)
  }

  /** MinHash + LSH banding over CHARACTER n-gram shingles: candidate pairs
    * that agree on at least one band of `rowsPerBand` consecutive signature
    * entries. The band bucket join is the scale path: shuffle on
    * (band, bucketHash) only. Returns candidates verified with exact
    * Jaccard >= threshold.
    *
    * SHINGLE-CHOICE WARNING (measured, not theoretical): char-3 shingles
    * over short same-language text have a tiny shingle universe, so
    * UNRELATED docs share grams at background Jaccard ~0.3–0.5. The LSH
    * S-curve midpoint is (1/numBands)^(1/rowsPerBand) — with 64 bands × 2
    * rows that is 0.125, far below any real threshold, and the band join
    * admits essentially every pair (measured: 12.3M candidates from 4992
    * docs — all-pairs). Char shingles with b·r tuned to the threshold
    * still inherit the background similarity floor. At corpus scale use
    * [[minhashDedupWords]]: word shingles have a combinatorial universe,
    * background Jaccard ~0, and the candidate set collapses to the true
    * near-dup set. This char form is kept for bounded scopes (the d04
    * oracle subset) where exact recovery of the char-3 pair semantics is
    * the contract. */
  def minhashDedup(docs: DataFrame, n: Int, numHashes: Int, rowsPerBand: Int,
      threshold: Double, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // sub-n docs have empty gram sets; they can never reach a positive
    // jaccard, so drop now. The filter is on length, not size(grams):
    // grams are empty exactly when the LOWERED text is shorter than n
    // (lowercasing can change codepoint count, e.g. U+0130 — same latent
    // the t07 oracle pins), and a size(grams) predicate gets pushed below
    // the spread-repartition where it evaluates the n-gram kernel on the
    // narrow scan AND recomputes it after the shuffle — doubling the most
    // expensive per-row step. length(lower()) is nearly free.
    val prepared = spread(docs.filter(length(lower(col(textCol))) >= n))
      .select(col(idCol).as("id"),
        ngrams(lower(col(textCol)), n).as("grams"))
    minhashBandVerify(prepared, numHashes, rowsPerBand, threshold)
  }

  /** MinHash + LSH banding over WORD w-gram shingles — the corpus-scale
    * near-dup shape (RefinedWeb / SlimPajama style: word shingles at
    * threshold ~0.8). Word shingles draw from a combinatorial universe
    * (vocab^w), so unrelated docs overlap at Jaccard ~0, and the band
    * join's candidate set ≈ the true near-dup set instead of degenerating
    * toward all-pairs the way short char shingles do (see [[minhashDedup]]).
    *
    * Banding picks the recall/candidate trade via the S-curve midpoint
    * (1/numBands)^(1/rowsPerBand): with background Jaccard ~0 a LOW
    * midpoint is affordable, buying near-perfect recall at the threshold —
    * 128 hashes as 32 bands × 4 rows puts the midpoint at 0.42, recall at
    * J=0.8 is 1-(1-0.8⁴)³² ≈ 1-5e-8, and sub-threshold pairs only become
    * candidates from J≈0.2 up (vanishingly rare under a ~0 background).
    * Candidates are exact-verified with word-gram Jaccard, so banding
    * affects recall only, never precision. */
  def minhashDedupWords(docs: DataFrame, w: Int, numHashes: Int,
      rowsPerBand: Int, threshold: Double, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // w tokens need at least w single-char words + (w-1) separators; the
    // cheap length pre-filter drops most sub-w docs before the kernel, and
    // minhashBandVerify's post-checkpoint empty-gram filter catches the
    // rest (long docs with < w tokens)
    val prepared = spread(docs.filter(length(col(textCol)) >= 2 * w - 1))
      .select(col(idCol).as("id"),
        TextAnalysis.wordNGrams(TextAnalysis.tokens(col(textCol)), w)
          .as("grams"))
    minhashBandVerify(prepared, numHashes, rowsPerBand, threshold)
  }

  /** Shared band/verify core over a prepared (id, grams) frame. */
  /** The ONE banded-bucket expression every LSH consumer shares —
    * batch verify ([[minhashBandVerify]]), the incremental corpus index
    * ([[minhashIncrementalWords]]) and the streaming band rows
    * ([[wordBandRows]]) all band through this helper, so the st11
    * stream==batch candidate-parity contract holds by construction
    * instead of by three copies staying byte-identical. Emits
    * posexplode(band, bucket) over xxhash64(band, sig rows). */
  private[graft] def bandBuckets(sig: Column, numBands: Int,
      rowsPerBand: Int): Column =
    posexplode(array((0 until numBands).map { b =>
      xxhash64(lit(b) +: (0 until rowsPerBand)
        .map(r => element_at(sig, b * rowsPerBand + r + 1)): _*)
    }: _*))

  private def minhashBandVerify(prepared: DataFrame, numHashes: Int,
      rowsPerBand: Int, threshold: Double): DataFrame = {
    require(numHashes % rowsPerBand == 0, "bands must tile the signature")
    val numBands = numHashes / rowsPerBand
    val g = prepared
      // fused native kernel: one xxhash per gram + all permutation minima
      // in a local array (the lambda formulation interprets numHashes
      // passes over the gram array; kept as the spec's cross-check oracle)
      .withColumn("sig",
        graft.functions.MinHashSignature.minhashSig(col("grams"), numHashes))
      // read by the banding pass and both verify joins; GC-reclaimed
      // checkpoint blocks instead of a session-pinned cache entry
      .localCheckpoint(true)
      // empty shingle sets band on identical sentinel signatures and would
      // candidate-pair quadratically among themselves; they can never reach
      // a positive jaccard. Filtered AFTER the checkpoint so size() reads
      // the stored array — a pre-kernel filter would be pushed below the
      // spread repartition and evaluate the gram kernel twice.
      .filter(size(col("grams")) > 0)
    val banded = g.select(col("id"),
      bandBuckets(col("sig"), numBands, rowsPerBand)
        .as(Seq("band", "bucket")))
    // The band join EXPLODES: its input is a narrow (band, bucket, id)
    // list measured in KB, its output is the candidate-pair blow-up
    // measured in rows — AQE, which sizes post-shuffle partitions by
    // INPUT bytes, coalesces it to one task and serializes the blow-up +
    // pair distinct on one core (measured at sf0.1: 3.7 s single-task vs
    // ~0.2 s spread). Pin the join's partitioning explicitly (a
    // user-specified repartition is exempt from AQE coalescing): both
    // sides hash on the join key, so this adds NO extra exchange — it
    // only stops the collapse. Bucket skew stays bounded: word-shingle
    // buckets hold near-dup clusters only (~0 background collision), and
    // the char form is contractually scoped to bounded inputs.
    val parts = prepared.sparkSession.sessionState.conf.numShufflePartitions
    val l = banded.repartition(parts, col("band"), col("bucket"))
      .select(col("band"), col("bucket"), col("id").as("id_a"))
    val r = banded.repartition(parts, col("band"), col("bucket"))
      .select(col("band"), col("bucket"), col("id").as("id_b"))
    // dedup candidate ids FIRST (cheap long-pair shuffle), then re-join the
    // shingle sets once per surviving pair for exact verification — never
    // drag the gram arrays through the band join or the distinct.
    val candidates = l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      // a pair may collide in many bands — dedup; the explicit pinned
      // repartition IS the dedup's exchange (hash on both columns
      // satisfies the aggregation's clustering, so no second shuffle) and
      // keeps the downstream exact-verify — whose gram side broadcasts —
      // spread across the same partitions instead of AQE-coalesced to one
      .repartition(parts, col("id_a"), col("id_b"))
      .dropDuplicates()
    candidates
      .join(g.select(col("id").as("id_a"), col("grams").as("grams_a")), "id_a")
      .join(g.select(col("id").as("id_b"), col("grams").as("grams_b")), "id_b")
      .withColumn("jac", jaccard(col("grams_a"), col("grams_b")))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("jac"))
  }

  /** 64-bit SimHash over whitespace tokens: per-bit majority vote of the
    * distinct-token hashes, fused into one generated per-row loop
    * ([[graft.functions.SimHash64]]) — zero shuffle, no token-row blow-up.
    * Bit-identical to the explode → 64-sum-aggregate formulation (kept in
    * DedupSpec as the cross-check oracle). */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.filter(col(textCol).isNotNull) // explode drops null-text docs too
      .select(col(idCol).as("id"),
        graft.functions.SimHash64.simhash64(
          array_distinct(TextAnalysis.tokens(col(textCol)))).as("simhash"))

  /** The explode → 64-sum-aggregate SimHash formulation — the distributed
    * shape [[simhash]]'s fused kernel must reproduce; test-oracle use. The
    * per-token hash pair comes from the same [[graft.functions.SimHash64
    * .tokenHashes]] the kernel folds, via a plain UDF (test-only path; the
    * production kernel is codegen'd). */
  private[graft] def simhashViaAggregate(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val h1h2 = udf { (tok: String) =>
      val (h1, h2) = graft.functions.SimHash64.tokenHashes(tok)
      Array(h1, h2)
    }
    val toks = docs.select(col(idCol).as("id"),
        explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("tok"))
      .withColumn("hs", h1h2(col("tok")))
      .select(col("id"), col("hs")(0).as("h1"), col("hs")(1).as("h2"))
    val voteExprs = (0 until 64).map { b =>
      sum(when((col("h1") + lit(b + 1) * col("h2")) % lit(1000003L)
          % 2 === 1, 1).otherwise(-1)).as(s"b$b")
    }
    val votes = toks.groupBy(col("id")).agg(voteExprs.head, voteExprs.tail: _*)
    val bits = (0 until 64).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    votes.select(col("id"), bits.as("simhash"))
  }

  /** SimHash near-dup pairs: band the 64-bit hash into 4×16-bit blocks
    * (pigeonhole: any pair with hamming distance ≤ 3 shares ≥ 1 block),
    * join per block, verify with bit_count(xor) ≤ maxHamming. */
  def simhashPairs(docs: DataFrame, maxHamming: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxHamming <= 3, "4-band pigeonhole covers hamming<=3")
    val sh = simhash(docs, idCol, textCol)
    val banded = sh.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map { b =>
        col("simhash").cast("long") // shift below
          .bitwiseAND(lit(0xFFFFL << (16 * b))).as(s"blk$b")
      }: _*)).as(Seq("band", "block")))
    val l = banded.select(col("band"), col("block"), col("id").as("id_a"),
      col("simhash").as("sh_a"))
    val r = banded.select(col("band"), col("block"), col("id").as("id_b"),
      col("simhash").as("sh_b"))
    // verify INSIDE the band join — bit_count(xor) is a codegen'd two-long
    // op, so filtering hamming before the distinct shrinks the dedup input
    // from the full candidate fan-out (every band collision) to true pairs
    // only (duplicated at most 4×). Carrying the 8-byte hash through the
    // join is far cheaper than a distinct over the unverified pair set.
    l.join(r, Seq("band", "block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming")).distinct()
  }

  /** Duplicated-span token coverage — the exact-substring-dedup signal of
    * Lee et al., "Deduplicating Training Data Makes Language Models Better"
    * (ACL'22): for every document, how many of its token positions are
    * covered by at least one word `gramLen`-gram that also occurs in some
    * OTHER document. A full suffix-array pass is replaced by fixed-length
    * gram matching (any shared span of ≥ gramLen tokens is detected; the
    * covered-token count is exact for those spans), which is the standard
    * distributed approximation.
    *
    * Shape: positional gram explode → groupBy(gram) doc-frequency with
    * map-side partials → semi-join back → per-doc interval union via ONE
    * running-max window (sweep line: a position is newly covered where the
    * interval start exceeds every prior end). All integer arithmetic.
    *
    * Scale: no pairwise work anywhere — cost is explode (corpus tokens),
    * two key shuffles, and a per-doc window bounded by document length.
    * Returns (id, n_tokens, covered_tokens) for docs with coverage > 0. */
  /** Content-defined chunks of every document (Rabin CDC — see
    * [[graft.functions.CdcChunks]]): one row per chunk with its 61-bit
    * identity hash and codepoint length. Pure map-side (the kernel is one
    * codegen'd per-row loop, the explode is linear in corpus codepoints);
    * zero shuffle. */
  def cdcChunks(docs: DataFrame, k: Int, divisor: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        posexplode(graft.functions.CdcChunks
          .cdcChunks(col(textCol), k, divisor)).as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("c.h").as("chunk_hash"), col("c.l").cast("long").as("cp_len"))

  /** Cross-corpus duplicate-chunk statistics over [[cdcChunks]]: for every
    * chunk content appearing more than once, its hash, codepoint length,
    * total copies and distinct documents — the storage/dedup win of
    * chunk-level dedup (shared boilerplate, quoted passages, near-identical
    * document versions re-align on content-defined boundaries; fixed-width
    * chunking would lose alignment at the first insertion).
    *
    * Scale: explode (map-side kernel) + ONE groupBy(chunk_hash) with
    * map-side partial aggregation — the same canonical shape as the
    * vocab/dup-ngram stats; no pairwise work. */
  def cdcDupChunks(docs: DataFrame, k: Int, divisor: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    cdcChunks(docs, k, divisor, idCol, textCol)
      .groupBy(col("chunk_hash"))
      .agg(min(col("cp_len")).as("cp_len"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_copies") >= 2)

  def duplicatedSpanCoverage(docs: DataFrame, gramLen: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextAnalysis.tokens(col(textCol))
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), toks.as("toks"))
    // fused kernel emits ALL grams in position order, so posexplode's
    // 0-based index + 1 IS the original 1-based token position (short docs
    // yield an empty array and drop out, like the old size>=gramLen filter)
    val posGrams = base
      .select(col(idCol), posexplode(
        graft.functions.WordNGrams.wordNGramsAll(col("toks"), gramLen)))
      .select(col(idCol), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("gram"))
    val dupGrams = posGrams.groupBy(col("gram"))
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("gram"))
    val iv = posGrams.join(dupGrams, Seq("gram"), "left_semi")
      .select(col(idCol), col("pos").as("s"),
        (col("pos") + (gramLen - 1)).as("e"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("s"), col("e"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val covered = iv.withColumn("pmax", max(col("e")).over(w))
      .groupBy(col(idCol))
      .agg(sum(greatest(lit(0L),
        col("e") - greatest(col("s"), coalesce(col("pmax") + 1, col("s")))
          + 1)).as("covered_tokens"))
    base.select(col(idCol), size(col("toks")).cast("long").as("n_tokens"))
      .join(covered, Seq(idCol))
  }

  /** End-to-end dedup keep-list — the full "dedup the crawl" pipeline as
    * one composed operator: exact layer (group on the normalized-content
    * fingerprint, min id is the representative) → MinHash+LSH near-dup
    * pairs among REPRESENTATIVES only, over WORD `n`-gram shingles of the
    * normalized text (the RefinedWeb/SlimPajama shape — char shingles
    * degenerate to all-pairs at corpus scale, see [[minhashDedup]]'s
    * shingle-choice warning) → connected components → every doc labeled
    * with the minimum id of its merged (exact ∪ near-dup) component.
    * Returns (doc_id, keep_id, is_kept); training keeps the `is_kept`
    * rows.
    *
    * Running the near-dup layer on representatives is the standard skew
    * guard: a corpus with k exact copies of one page would otherwise put
    * all k in the same LSH bucket and emit k²/2 candidate pairs — the
    * exact layer collapses them to one row BEFORE banding, so duplicate-
    * heavy crawls cannot square the candidate count. The contraction is
    * LOSSLESS because the near-dup layer shingles the same NORMALIZED text
    * the exact layer fingerprints: every exact-group member has the
    * identical shingle set as its representative, so any near-dup edge a
    * member would have contributed exists at the representative too; and
    * component minima over representatives ARE global minima (each
    * representative is already its exact-group minimum).
    *
    * Null-text docs are EXCLUDED (no content to compare; SQL norm-equality
    * treats NULL as unequal to everything, so including them would make
    * "exact" engine-dependent) — callers route them separately.
    *
    * Scale: one fingerprint window + the [[minhashDedupWords]] band join
    * on the (much smaller) representative set + [[connectedComponents]] on
    * the pair list + one join back over the pinned doc→rep map. */
  def dedupKeepList(docs: DataFrame, n: Int = 5, numHashes: Int = 128,
      rowsPerBand: Int = 4, threshold: Double = 0.8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val norm = normText(col(textCol))
    // one pass: rep = min id over the exact (fingerprint) group; pinned —
    // read three times below (rep filter, rep-cluster spine, final join)
    val docRep = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), norm.as("_norm"),
        TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .withColumn("rep_id",
        min(col(idCol)).over(Window.partitionBy(col("fp"))))
      .localCheckpoint(true)
    // near-dup layer over representatives, shingling the NORMALIZED text
    // (losslessness of the contraction depends on it — see above)
    val repDocs = docRep.filter(col(idCol) === col("rep_id"))
      .select(col(idCol), col("_norm").as(textCol))
    val pairs = minhashDedupWords(repDocs, n, numHashes, rowsPerBand,
      threshold, idCol, textCol)
    val clusters = connectedComponents(
      pairs.select(col("id_a"), col("id_b")))
    // representatives untouched by any near-dup pair stay their own cluster
    val repCluster = docRep.select(col("rep_id")).distinct()
      .join(clusters.withColumnRenamed("id", "rep_id"), Seq("rep_id"),
        "left_outer")
      .select(col("rep_id"),
        coalesce(col("cluster_id"), col("rep_id")).as("keep_id"))
    docRep.join(repCluster, "rep_id")
      .select(col(idCol), col("keep_id"),
        (col(idCol) === col("keep_id")).as("is_kept"))
  }

  /** Connected components over an undirected near-dup pair list — turns any
    * pair generator ([[jaccardPairs]], [[minhashDedup]], [[simhashPairs]],
    * [[embeddingNearDupPairs]]) into canonical dedup clusters: every doc is
    * labeled with the minimum id of its component, so "keep one per cluster"
    * is a filter on `id === cluster_id`.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — each round
    * is two groupBy-min shuffles over the edge list, and the edge set
    * contracts toward a star per component in O(log²) rounds even on
    * high-diameter path graphs, where naive min-label propagation needs
    * O(diameter) rounds. No driver-side state beyond a convergence
    * fingerprint; the edge list is `localCheckpoint`ed per round to keep
    * lineage flat. This is the 100 TB shape for cluster labeling.
    *
    * Near-dup pair sets are usually MUCH smaller than the corpus; when the
    * edge list fits on the driver (≤ `localLimit` edges, probed with a
    * limit — O(localLimit) even on a huge pair set) a single-pass
    * union-find replaces the multi-round star contraction. Pass
    * localLimit = 0 to force the distributed path.
    *
    * The 500k default matches the family's other guarded driver-local
    * bounds (embeddingNearDupPairs broadcastLimit 500k, triangleCount
    * broadcastEdgeLimit 3M). Honest driver footprint (round-17 advisor
    * note): the collect materializes boxed (Long, Long) tuples via the
    * product encoder — ~48 B/edge ≈ 25 MB at the bound, plus a
    * comparable transient for the union-find's parent map; the bound is
    * PER CALL, so concurrent gates (the 16-way bench warmup) can each
    * hold one such batch — still far under the multi-GiB driver, and a
    * sub-second union-find versus ~10 rounds × 4 shuffles of the star
    * contraction. Raised from the round-11 100k in round 16 on g14's
    * profile (65 stages of per-round fixed cost on a 290k-edge pair
    * list). The ScaleRehearsal g14 row (860k+ edges at 1×) still clears
    * the guard, so the DISTRIBUTED contraction stays the measured path.
    *
    * Returns (id, cluster_id) for every id appearing in `pairs`. */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIter: Int = 50,
      localLimit: Long = 500000): DataFrame = {
    val a = col(aCol).cast("long")
    val b = col(bCol).cast("long")
    // ids seen ONLY in reflexive pairs still belong in the output (the
    // contract covers every id in `pairs`): label them as their own
    // singleton cluster and let the groupBy-min at the end reconcile ids
    // that also appear in real edges
    val selfLabels = pairs.filter(a === b)
      .select(a.as("id"), a.as("cluster_id")).distinct()
    def withSelf(labels: DataFrame): DataFrame =
      labels.union(selfLabels)
        .groupBy(col("id")).agg(min(col("cluster_id")).as("cluster_id"))
    // canonical (larger u, smaller v) edges
    var e = pairs.select(greatest(a, b).as("u"), least(a, b).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)
    if (graft.util.LimitProbe.atMost(e, localLimit))
      return withSelf(connectedComponentsLocal(e))
    var fingerprint: (Long, Any) = (-1L, null)
    var it = 0
    var done = e.isEmpty
    while (!done && it < maxIter) {
      // large-star: every strictly-larger neighbor of u links to the
      // neighborhood min m = min(N(u) ∪ {u})
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val ls = sym.join(lsMin, "u")
        .filter(col("v") > col("u") && col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star: all (≤) neighbors of u, and u itself, link to the min
      // of u's smaller neighborhood (edges already point large → small)
      val ssMin = ls.groupBy("u").agg(min(col("v")).as("m"))
      val next = ls.join(ssMin, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .union(ssMin.select(col("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint(true)
      // cheap order-independent fingerprint (one action; the mod keeps the
      // ANSI-mode sum far from long overflow) as a PRE-check only — a match
      // is confirmed by an exact set comparison, so a fingerprint collision
      // can cost one wasted round but never a wrong label. The exact check
      // runs once, at convergence: counts already match via the
      // fingerprint, so next ⊆ e ⇒ next == e.
      val fp = next.agg(count(lit(1)),
        sum(pmod(xxhash64(col("u"), col("v")), lit(1000000007L)))).head()
      val nowFp = (fp.getLong(0), fp.get(1))
      done = nowFp == fingerprint && next.exceptAll(e).isEmpty
      fingerprint = nowFp
      e = next
      it += 1
    }
    if (!done && it >= maxIter)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents stopped at maxIter=$maxIter before " +
          "convergence — cluster labels may not be fully contracted")
    // converged: every edge points node → component min; roots label
    // themselves. groupBy-min guards a maxIter stop (warned above) where
    // the per-node edge lists have not fully collapsed.
    withSelf(
      e.groupBy(col("u").as("id")).agg(min(col("v")).as("cluster_id"))
        .select(col("id"), col("cluster_id"))
        .union(e.select(col("v")).distinct()
          .select(col("v").as("id"), col("v").as("cluster_id"))))
  }

  /** Guarded small-edge-set path of [[connectedComponents]]: path-compressed
    * union-find on the driver over canonical (u, v) edge rows. */
  private def connectedComponentsLocal(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val edges = e.as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    // iterative find with full path compression (a recursive find would
    // blow the stack on a long chain at the 100k-edge limit)
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    parent.keys.toSeq.map(k => (k, find(k))).sortBy(_._1)
      .toDF("id", "cluster_id")
  }

  /** Embedding cosine near-dup pairs with cosine >= threshold.
    *
    * Two physical paths behind a corpus-size guard:
    *  - corpus ≤ `broadcastLimit` rows: broadcast the corpus (id, vec) and
    *    scan it once per row in a tight JVM loop — exact all-pairs,
    *    O(n²/p) fused multiply-adds per task. The arithmetic keeps the
    *    exact sequential op order of the SQL oracle
    *    (dot / (sqrt(Σa²)·sqrt(Σb²)), HALF_UP rounding) so results are
    *    bit-identical.
    *  - larger corpora: banded hyperplane-LSH candidates + exact cosine
    *    verify ([[embeddingNearDupPairsBucketed]]) — never collects the
    *    corpus to the driver; approximate (recall < 1 for pairs near the
    *    threshold) but the only shape that survives 100 TB. */
  def embeddingNearDupPairs(emb: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      broadcastLimit: Long = 500000): DataFrame = {
    val v = emb.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    // limit-probe, not count(): stops scanning after broadcastLimit+1 rows,
    // so the guard costs O(limit) even on a 100 TB corpus
    val small = graft.util.LimitProbe.atMost(v, broadcastLimit)
    if (small) embeddingNearDupPairsBroadcast(v, threshold)
    else embeddingNearDupPairsBucketed(emb, threshold, idCol = idCol,
      vecCol = vecCol)
  }

  /** Exact broadcast path of [[embeddingNearDupPairs]]; `v` has columns
    * (id: long, vec: array<double>). Guarded by the caller — the collect
    * here is the deliberate small-corpus fast path. */
  private def embeddingNearDupPairsBroadcast(v: DataFrame,
      threshold: Double): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    val all = v.as[(Long, Seq[Double])].collect()
      .sortBy(_._1).map { case (i, xs) => (i, xs.toArray) }
    val bc = spark.sparkContext.broadcast(all)
    v.as[(Long, Seq[Double])].mapPartitions { it =>
      val corpus = bc.value
      it.flatMap { case (ida, va0) =>
        val va = va0.toArray
        corpus.iterator.filter(_._1 > ida).flatMap { case (idb, vb) =>
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < va.length) {
            dot += va(i) * vb(i); na += va(i) * va(i); nb += vb(i) * vb(i)
            i += 1
          }
          val cos = dot / (math.sqrt(na) * math.sqrt(nb))
          val rounded = BigDecimal(cos) // Spark round(): HALF_UP
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          if (rounded >= threshold) Some((ida, idb, rounded)) else None
        }
      }
    }.toDF("id_a", "id_b", "cos")
  }

  /** Scale path: banded random-hyperplane LSH candidates + exact cosine
    * verify. `nBits` sign bits are banded into `nBands` blocks; a candidate
    * pair must agree on at least one whole block (similar vectors agree on
    * most sign bits, so high-cosine pairs almost surely share a block).
    * Shuffles on (band, block) then (id_a, id_b) — equi-joins only, no
    * driver-side corpus. */
  def embeddingNearDupPairsBucketed(emb: DataFrame, threshold: Double,
      nBits: Int = 64, nBands: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nBits % nBands == 0, "bands must tile the signature")
    val bitsPerBand = nBits / nBands
    val mask = (1L << bitsPerBand) - 1
    // localCheckpoint, not cache(): cached plans stay pinned in the
    // CacheManager until an explicit unpersist a library function has no
    // good place for; checkpoint blocks are GC-reclaimed with the RDD
    val v = emb.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vec")).localCheckpoint(true)
    val sig = v.join(
      Similarity.hyperplaneBuckets(emb, nBits, idCol, vecCol)
        .withColumnRenamed("bucket", "sig")
        .withColumn("id", col("id").cast("long")),
      Seq("id"))
    val banded = sig.select(col("id"),
      posexplode(array((0 until nBands).map { b =>
        shiftright(col("sig"), b * bitsPerBand).bitwiseAND(lit(mask))
      }: _*)).as(Seq("band", "block")))
    val l = banded.select(col("band"), col("block"), col("id").as("id_a"))
    val r = banded.select(col("band"), col("block"), col("id").as("id_b"))
    val candidates = l.join(r, Seq("band", "block"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    candidates
      .join(v.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(v.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .withColumn("cos", round(Similarity.cosine(col("vec_a"), col("vec_b")), 4))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Incremental near-dup check: a NEW batch against the EXISTING corpus —
    * the daily-crawl shape: dedup the increment against everything already
    * ingested WITHOUT re-pairing the corpus with itself. Word-w-shingle
    * MinHash signatures on both sides, the new side's band buckets
    * equi-joined against the corpus band index (in production the corpus
    * bands are a precomputed stored table keyed exactly like this join —
    * derived here from the corpus frame), then exact jaccard verification
    * of the surviving candidates only.
    *
    * Scale: neither side ever self-joins; corpus rows sharing no bucket
    * with the increment never leave their partitions, so the per-day cost
    * tracks the INCREMENT's postings, not the corpus. Banding follows
    * d04's conventions (pinned partitioning against AQE's bytes-based
    * coalescing of the KB-sized band lists; candidates deduped as bare id
    * pairs before the gram arrays are re-joined). Defaults 128 hashes ×
    * 2 rows/band → miss probability (1−t^2)^64 ≈ 4e-29 at t=0.8, so the
    * brute cross-jaccard oracle matches exactly. */
  def minhashIncrementalWords(newDocs: DataFrame, corpus: DataFrame,
      w: Int = 5, numHashes: Int = 128, rowsPerBand: Int = 2,
      threshold: Double = 0.8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(numHashes % rowsPerBand == 0, "bands must tile the signature")
    val numBands = numHashes / rowsPerBand
    def prep(df: DataFrame): DataFrame =
      spread(df.filter(length(col(textCol)) >= 2 * w - 1))
        .select(col(idCol).as("id"),
          TextAnalysis.wordNGrams(TextAnalysis.tokens(col(textCol)), w)
            .as("grams"))
        .withColumn("sig",
          graft.functions.MinHashSignature.minhashSig(col("grams"), numHashes))
        .localCheckpoint(true) // read by banding AND the verify re-join
        .filter(size(col("grams")) > 0)
    def bandsOf(g: DataFrame, idAs: String): DataFrame =
      g.select(col("id").as(idAs),
        bandBuckets(col("sig"), numBands, rowsPerBand)
          .as(Seq("band", "bucket")))
    val ng = prep(newDocs)
    val cg = prep(corpus)
    val parts = newDocs.sparkSession.sessionState.conf.numShufflePartitions
    val candidates = bandsOf(ng, "new_id")
        .repartition(parts, col("band"), col("bucket"))
      .join(bandsOf(cg, "corpus_id")
        .repartition(parts, col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select(col("new_id"), col("corpus_id"))
      .repartition(parts, col("new_id"), col("corpus_id"))
      .dropDuplicates()
    candidates
      .join(ng.select(col("id").as("new_id"), col("grams").as("grams_a")),
        "new_id")
      .join(cg.select(col("id").as("corpus_id"), col("grams").as("grams_b")),
        "corpus_id")
      .withColumn("jac", jaccard(col("grams_a"), col("grams_b")))
      .filter(col("jac") >= threshold)
      .select(col("new_id"), col("corpus_id"), col("jac"))
  }

  /** Build the corpus's MinHash BAND INDEX — (band, bucket, id), one row
    * per (doc, band), a [[graft.util.PersistedIndex]]: the stored corpus
    * side of [[minhashIncrementalWords]], probed by [[probeBandIndex]]
    * without re-hashing the corpus. The banding parameters live in the
    * meta row: appends and probes with different w/numHashes/rowsPerBand
    * would join a different banding scheme and silently match nothing. */
  def writeBandIndex(docs: DataFrame, dir: String, w: Int = 5,
      numHashes: Int = 128, rowsPerBand: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    graft.util.PersistedIndex(docs.sparkSession, dir).build(
      bandIndexRows(docs, w, numHashes, rowsPerBand, idCol, textCol),
      meta = Seq("w" -> w, "num_hashes" -> numHashes,
        "rows_per_band" -> rowsPerBand))

  private def bandIndexRows(docs: DataFrame, w: Int, numHashes: Int,
      rowsPerBand: Int, idCol: String, textCol: String): DataFrame =
    wordBandRows(docs, w, numHashes, rowsPerBand, idCol, textCol)
      .select(col("band"), col("bucket"), col("id"))

  /** (w, numHashes, rowsPerBand) as the index was built. */
  private def bandParams(idx: graft.util.PersistedIndex): (Int, Int, Int) = {
    val m = idx.meta
    (m.getAs[Int]("w"), m.getAs[Int]("num_hashes"),
      m.getAs[Int]("rows_per_band"))
  }

  /** Admit a batch to a persisted band index as batch `batchId`, banded
    * with the INDEX'S OWN stored parameters. The same batch must also be
    * unioned into the corpus frame later probes pass
    * ([[requireCoverage]]). */
  def appendBandIndex(docs: DataFrame, dir: String, batchId: Long,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val idx = graft.util.PersistedIndex(docs.sparkSession, dir)
    idx.append(batchId, {
      val (w, nh, rpb) = bandParams(idx)
      bandIndexRows(docs, w, nh, rpb, idCol, textCol)
    })
  }

  /** Coverage checks already passed, keyed by the session, the index's
    * published state ([[graft.util.PersistedIndex.state]]: its generation
    * and batch set) and the corpus fingerprint: the check is an eager
    * index-wide distinct + anti-join, and re-running it on every probe
    * CONSTRUCTION (even of a frame that is never executed) doubled d15's
    * probe cost. Any publish to the index — a build, an append, a
    * rewrite — changes the state and so re-arms the check, through any
    * spelling of the directory: an append can mint new orphans that an
    * earlier pass vouched against.
    *
    * The fingerprint is the canonicalized plan string PLUS every leaf
    * source's identity (the parquet RELATION'S RESOLVED FILE LISTING +
    * total size, local-relation data hash, RDD id): the plan string
    * alone elides exactly the things that distinguish two same-schema
    * corpora (LocalRelation rows, HadoopFsRelation paths), and keying on
    * it would silently skip the check for a DIFFERENT corpus — the very
    * miss the check exists to catch. Fingerprinting the file listing
    * (not the root path) also re-arms after an in-place rewrite: a
    * same-session overwrite mints new uniquely-named part files that a
    * fresh read lists differently. Files mutated UNDER a still-held
    * DataFrame (its FileIndex listing is stale too) are not seen — the
    * same caveat as executing that frame at all. SINGLE WRITER per index
    * dir, the engine-wide posture: a concurrent append racing a probe's
    * check-then-vouch could re-vouch a pre-append verdict; coordinate
    * externally before pointing two writers at one index. */
  private val coverageVouched = graft.util.Resident.memo[Unit](_ => ())

  private def corpusFingerprint(df: DataFrame): String = {
    val sb = new StringBuilder
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources
              .HadoopFsRelation =>
            // the resolved FILE LISTING, not just the root path: an
            // in-place same-session rewrite keeps the dir but mints new
            // uniquely-named part files, so a fresh read of rewritten
            // data fingerprints differently and re-arms the check
            sb.append(h.location.inputFiles.mkString(","))
              .append('#').append(h.location.sizeInBytes).append(';')
          case other => sb.append(other.toString).append(';')
        }
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        sb.append("local:").append(l.data.hashCode).append(';')
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        sb.append("rdd:").append(r.rdd.id).append(';')
      case _ => ()
    }
    sb.append('|')
      .append(df.queryExecution.logical.canonicalized.toString)
    // digest, not the raw string: a 100 TB corpus resolves to 10⁴–10⁵
    // part files, and the memo retains one key per (session, index
    // state, corpus) for the session lifetime — same re-arm semantics,
    // O(1) retained bytes per vouch
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(sb.toString.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }

  /** Probe a persisted band index with an increment: reads the stored
    * bands AND the stored banding parameters, so probe-time banding is
    * BY CONSTRUCTION the scheme the index was built with.
    *
    * NOTE: with `checkCoverage` on, constructing the returned frame runs
    * the coverage check's Spark job eagerly — once per (session, index
    * state, corpus plan); later probes with the same corpus reuse the
    * vouched result, and any write/append to `dir` re-arms the check. */
  def probeBandIndex(newDocs: DataFrame, corpus: DataFrame, dir: String,
      threshold: Double = 0.8, idCol: String = "doc_id",
      textCol: String = "text", checkCoverage: Boolean = true): DataFrame = {
    val spark = newDocs.sparkSession
    val idx = graft.util.PersistedIndex(spark, dir)
    val (w, nh, rpb) = bandParams(idx)
    val stored = idx.rows
    // a failed check throws inside the memo's build and vouches nothing
    if (checkCoverage)
      coverageVouched(spark, s"${idx.state}|${corpusFingerprint(corpus)}") {
        requireCoverage(stored, corpus, idCol)
      }
    minhashAgainstIndex(newDocs, corpus, stored, w, nh, rpb, threshold,
      idCol, textCol)
  }

  /** SYNC CONTRACT of the stored-bands probe: `corpus` must cover every
    * id in `storedBands` — a candidate whose corpus_id is indexed but
    * absent from the corpus frame (an admitted batch whose bands were
    * appended but that was never unioned into the frame) drops at the
    * gram re-join and its near-dups are silently missed. This turns that
    * silent miss into a loud failure: one index-sized distinct +
    * anti-join against the corpus ids, cheap next to the probe itself. */
  private def requireCoverage(storedBands: DataFrame, corpus: DataFrame,
      idCol: String): Unit = {
    val orphans = storedBands.select(col("id")).distinct()
      .join(corpus.select(col(idCol).cast("long").as("id")),
        Seq("id"), "left_anti")
    require(orphans.limit(1).count() == 0L,
      "band index holds ids absent from the corpus frame — an admitted " +
        "batch's bands were appended without unioning the batch into " +
        "the corpus; its near-dups would be silently missed")
  }

  /** Increment-vs-corpus near-dup pairs against a STORED band index:
    * [[minhashIncrementalWords]]'s semantics with the corpus side's
    * banding read from [[writeBandIndex]]'s table instead of recomputed —
    * the per-day cost is the increment's postings plus gram re-derivation
    * for only the CANDIDATE corpus docs (semi-join pruned; the corpus at
    * large never re-hashes, never re-bands). Same banding kernel
    * ([[bandBuckets]] via [[wordBandRows]]), same exact-Jaccard verify —
    * the result is identical to the recompute path by construction
    * (spec-pinned). [[probeBandIndex]] supplies the build's parameters
    * and checks [[requireCoverage]]'s sync contract. */
  private def minhashAgainstIndex(newDocs: DataFrame, corpus: DataFrame,
      storedBands: DataFrame, w: Int, numHashes: Int, rowsPerBand: Int,
      threshold: Double, idCol: String, textCol: String): DataFrame = {
    require(numHashes % rowsPerBand == 0, "bands must tile the signature")
    val ng = spread(newDocs.filter(length(col(textCol)) >= 2 * w - 1))
      .select(col(idCol).as("id"),
        TextAnalysis.wordNGrams(TextAnalysis.tokens(col(textCol)), w)
          .as("grams"))
      .localCheckpoint(true) // read by banding AND the verify re-join
      .filter(size(col("grams")) > 0)
    val parts = newDocs.sparkSession.sessionState.conf.numShufflePartitions
    val newBands = ng
      .select(col("id"),
        graft.functions.MinHashSignature.minhashSig(col("grams"), numHashes)
          .as("sig"))
      .select(col("id").as("new_id"),
        bandBuckets(col("sig"), numHashes / rowsPerBand, rowsPerBand)
          .as(Seq("band", "bucket")))
    val candidates = newBands
        .repartition(parts, col("band"), col("bucket"))
      .join(storedBands.select(col("band"), col("bucket"),
          col("id").as("corpus_id"))
        .repartition(parts, col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select(col("new_id"), col("corpus_id"))
      .repartition(parts, col("new_id"), col("corpus_id"))
      .dropDuplicates()
      .localCheckpoint(true) // read by the id-prune AND the verify joins
    // gram re-derivation for CANDIDATE corpus docs only
    val cg = corpus.join(
        candidates.select(col("corpus_id").as(idCol)).distinct(),
        Seq(idCol), "left_semi")
      .select(col(idCol).as("corpus_id"),
        TextAnalysis.wordNGrams(TextAnalysis.tokens(col(textCol)), w)
          .as("grams_b"))
    candidates
      .join(ng.select(col("id").as("new_id"), col("grams").as("grams_a")),
        "new_id")
      .join(cg, "corpus_id")
      .withColumn("jac", jaccard(col("grams_a"), col("grams_b")))
      .filter(col("jac") >= threshold)
      .select(col("new_id"), col("corpus_id"), col("jac"))
  }

  /** The ONE per-document word-gram derivation (length guard → tokens →
    * distinct n-grams → non-empty filter) every streaming near-dup
    * consumer builds on — [[wordBandRows]] adds the signature/banding on
    * top, [[wordGramHashes]] just hashes — so the lean stream's
    * exact-verify-equals-batch contract holds structurally, not by two
    * copies staying byte-identical. */
  private def gramRows(docs: DataFrame, w: Int, idCol: String,
      textCol: String, ts: Column): DataFrame =
    docs.filter(length(col(textCol)) >= 2 * w - 1)
      .select(col(idCol).as("id"), ts.as("ts_evt"),
        TextAnalysis.wordNGrams(TextAnalysis.tokens(col(textCol)), w)
          .as("grams"))
      .filter(size(col("grams")) > 0)

  /** Per-document hashed DISTINCT word-gram sets `(id, ghash)` — the
    * verify-side input of the lean two-stage stream
    * ([[graft.streaming.EventStreams.nearDupPairsStreamLean]]); same
    * [[gramRows]] fragment as [[wordBandRows]] (spec-pinned equal ghash
    * per id as a belt-and-braces regression tripwire). With `tsCol` the
    * event-time column rides along UNWRAPPED as `ts_evt` (the
    * [[wordBandRows]] convention) so the horizon-bounded verify joins
    * can watermark and expire gram state. */
  def wordGramHashes(docs: DataFrame, w: Int, idCol: String = "doc_id",
      textCol: String = "text", tsCol: Option[String] = None): DataFrame = {
    val ts = tsCol.map(col).getOrElse(lit(null).cast("timestamp"))
    val hashed = gramRows(docs, w, idCol, textCol, ts)
      .select(col("id"), col("ts_evt"),
        transform(col("grams"), g => xxhash64(g)).as("ghash"))
    if (tsCol.isDefined) hashed else hashed.drop("ts_evt")
  }

  /** The banded-MinHash front half of [[minhashDedupWords]] exposed as a
    * row stream — (id, ghash, band, bucket), one row per (doc, band) —
    * for consumers that maintain the band index THEMSELVES, specifically
    * the st11 streaming ingest dedup ([[graft.streaming.EventStreams
    * .nearDupPairsStream]]): no localCheckpoint, no spread repartition,
    * no driver-side anything, so the plan is legal under Structured
    * Streaming. Grams ride as 8-byte xxhash64 values (`ghash`) so the
    * per-bucket state stores longs, not strings — hashed-gram Jaccard
    * equals string-gram Jaccard up to a 2⁻⁶⁴ in-pair collision. The
    * banding expression is byte-identical to [[minhashBandVerify]]'s, so
    * a band-index consumer sees exactly the batch operator's candidate
    * buckets. */
  def wordBandRows(docs: DataFrame, w: Int, numHashes: Int,
      rowsPerBand: Int, idCol: String = "doc_id",
      textCol: String = "text", tsCol: Option[String] = None): DataFrame = {
    require(numHashes % rowsPerBand == 0, "bands must tile the signature")
    val numBands = numHashes / rowsPerBand
    // the event-time column rides along UNWRAPPED (null when the caller
    // has no event time) so the streaming consumer can expire band-index
    // members at its horizon — wrapping it (unix_micros etc.) would strip
    // the watermark metadata the event-time timeout is validated against
    val ts = tsCol.map(col).getOrElse(lit(null).cast("timestamp"))
    gramRows(docs, w, idCol, textCol, ts)
      .withColumn("sig",
        graft.functions.MinHashSignature.minhashSig(col("grams"), numHashes))
      .withColumn("ghash", transform(col("grams"), g => xxhash64(g)))
      .select(col("id"), col("ts_evt"), col("ghash"),
        bandBuckets(col("sig"), numBands, rowsPerBand)
          .as(Seq("band", "bucket")))
  }

  /** Exact-substring duplicate spans (Lee, Ippolito et al., ACL 2022
    * "Deduplicating Training Data Makes Language Models Better" — the
    * ExactSubstr dedup): every maximal character span of the normalized
    * text whose length-`minLen` windows ALL occur elsewhere in the corpus
    * (any document, any position — including elsewhere in the same
    * document) is emitted as a `(doc, span_start, span_end)` removal,
    * 1-based inclusive. Unlike [[duplicatedSpanCoverage]] (d09's
    * fixed-length cross-document token-gram coverage STATISTIC), this is
    * the removal operator proper: character-precise maximal spans, and
    * within-document repetition counts as duplication, exactly as a
    * suffix array over the concatenated corpus would report it.
    *
    * The suffix-array formulation re-expressed for a cluster: a position
    * is inside a duplicated span of length ≥ L iff one of its covering
    * L-windows occurs at ≥ 2 corpus positions — and "shares a prefix of
    * length ≥ L with its lexicographic neighbor" degenerates, for a key
    * bounded at exactly L, to "L-key occurs twice". That turns the
    * single-machine suffix SORT into a hash-partitioned groupBy with
    * map-side partial counts: no global order, no partition-boundary
    * straddle to patch up.
    *
    * Scale: the corpus explodes to one row per character position, so the
    * dominant cost is the position shuffle. It is paid on an 8-byte
    * xxhash64 of the window, NOT the L-char window itself (first groupBy);
    * the survivors — hash-duplicated candidates, a small fraction of a
    * real corpus — are then EXACT-verified on the materialized key (equal
    * keys always hash equal, so the prefilter has no false negatives, and
    * the exact second pass kills hash collisions: the result is
    * value-exact). Both candidate filters broadcast under a
    * [[graft.util.LimitProbe]] guard and fall back to shuffled semi-joins
    * past it. Span merging is one per-document window (the d09 interval
    * idiom): flagged starts sorted per doc, a run breaks where the next
    * start clears the running max end by more than one, contiguous-or-
    * overlapping L-windows fuse into maximal removal spans. */
  def exactSubstrSpans(docs: DataFrame, minLen: Int = 40,
      idCol: String = "doc_id", textCol: String = "text",
      broadcastKeyLimit: Long = 2000000L): DataFrame = {
    val L = minLen
    require(L >= 2, "need a minimum duplicated-substring length >= 2")
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), normText(col(textCol)).as("t"))
    val pos = spread(base.filter(length(col("t")) >= L))
      .select(col(idCol),
        explode(sequence(lit(1), length(col("t")) - (L - 1))).as("i"),
        col("t"))
      .select(col(idCol), col("i"),
        col("t").substr(col("i"), lit(L)).as("key"))
      .withColumn("h", xxhash64(col("key")))
    // phase 1: duplicate candidates by 8-byte hash — the corpus-sized
    // shuffle moves (id, i, h), never the L-char windows
    val dupHash = pos.select(col("h")).groupBy(col("h"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2).select(col("h"))
      .localCheckpoint(true) // read twice: size probe + join build side
    val hashSide =
      if (graft.util.LimitProbe.atMost(dupHash, broadcastKeyLimit))
        broadcast(dupHash)
      else dupHash
    // pinned: the candidate slice is read twice (exact-verify build +
    // probe) and each read would otherwise re-run the corpus-dominant
    // position explode (normText + substr + hash per character) — the
    // checkpoint caps that at one evaluation for this phase while staying
    // candidate-sized, never corpus-positions-sized
    val cand = pos.join(hashSide, Seq("h"), "left_semi")
      .localCheckpoint(true)
    // phase 2: exact verification on the candidate slice only — a 64-bit
    // collision would otherwise flag a unique span
    val dupKey = cand.select(col("key")).groupBy(col("key"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2).select(col("key"))
      .localCheckpoint(true)
    val keySide =
      if (graft.util.LimitProbe.atMost(dupKey, broadcastKeyLimit))
        broadcast(dupKey)
      else dupKey
    val flagged = cand.join(keySide, Seq("key"), "left_semi")
      .select(col(idCol), col("i").cast("long").as("s"),
        (col("i") + (L - 1)).cast("long").as("e"))
    // merge overlapping-or-contiguous L-windows into maximal spans
    val before = Window.partitionBy(col(idCol)).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val upToHere = Window.partitionBy(col(idCol)).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, 0)
    flagged
      .withColumn("brk",
        when(col("s") > coalesce(max(col("e")).over(before), lit(-1L)) + 1,
          lit(1L)).otherwise(lit(0L)))
      .withColumn("run", sum(col("brk")).over(upToHere))
      .groupBy(col(idCol), col("run"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
  }

  /** APPLY [[exactSubstrSpans]] removals — cut every span out of the
    * normalized text and re-emit the cleaned corpus: the actual product
    * of the Lee et al. ACL'22 ExactSubstr pipeline (a user runs dedup to
    * GET a cleaned corpus, not a span list). Spans are 1-based inclusive
    * character intervals over `normText(text)`, assumed disjoint per doc
    * (exactSubstrSpans emits fused MAXIMAL spans, so they are). Returns
    * (id, orig text normalized as `t`, `clean`).
    *
    * Plan shape: the span side aggregates to ONE row per affected doc (a
    * sorted (start, end) list — bounded by doc length), and under the
    * [[graft.util.LimitProbe]] guard that per-doc list table BROADCASTS
    * into a left join, so the corpus never shuffles to be spliced; past
    * the guard it falls back to a shuffled equi-join on the id. The
    * splice itself is one codegen'd fold per doc (accumulator = (next
    * position to keep from, output so far); each span contributes the
    * gap before it, the finish step appends the tail).
    *
    * Near-fixed-point caveat (spec'd on the gate corpus): re-running
    * [[exactSubstrSpans]] on the cleaned corpus finds nothing UNLESS a
    * splice junction coincidentally manufactures a new length-L window
    * that also occurs elsewhere — Lee et al.'s own sequential
    * implementation has the same property (removal concatenates the
    * flanks). */
  def removeSpans(docs: DataFrame, spans: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      broadcastDocLimit: Long = 2000000L): DataFrame = {
    val t = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), normText(col(textCol)).as("t"))
    val sp = spans.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(
        col("span_start").cast("long").as("s"),
        col("span_end").cast("long").as("e")))).as("sps"))
      .localCheckpoint(true) // read twice: size probe + join build side
    val spanSide =
      if (graft.util.LimitProbe.atMost(sp, broadcastDocLimit)) broadcast(sp)
      else sp
    val spliced = aggregate(col("sps"),
      struct(lit(1L).as("pos"), lit("").as("out")),
      (acc, x) => struct(
        (x.getField("e") + lit(1L)).as("pos"),
        concat(acc.getField("out"),
          col("t").substr(acc.getField("pos").cast("int"),
            (x.getField("s") - acc.getField("pos")).cast("int")))
          .as("out")),
      acc => concat(acc.getField("out"),
        col("t").substr(acc.getField("pos").cast("int"),
          (length(col("t")) - acc.getField("pos") + lit(1L)).cast("int"))))
    t.join(spanSide, Seq(idCol), "left")
      .withColumn("clean", when(col("sps").isNull, col("t"))
        .otherwise(spliced))
      .select(col(idCol), col("t"), col("clean"))
  }
}
