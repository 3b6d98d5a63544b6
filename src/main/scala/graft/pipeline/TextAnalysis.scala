package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (builder north star:
  * language-ID, quality scoring, token counting, fingerprinting) over a
  * `text` column.
  *
  * Everything is built from `org.apache.spark.sql.functions` (codegen'd,
  * whole-stage-compatible) — no UDFs. At 100 TB these are embarrassingly
  * parallel map-side expressions: no shuffle at all until an aggregation
  * is asked for.
  */
object TextAnalysis {

  /** Whitespace tokens of the lowercased text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword proxy: count of word/punctuation units. */
  def unitCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0)))

  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[^\\w\\s]"), lit(0)))

  /** Small fixed English stopword list (shared with the DuckDB oracle). */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "or", "to", "in", "is", "on", "for", "with")

  def stopwordCount(text: Column): Column =
    stopwordCountOf(tokens(text))

  def stopwordCountOf(toks: Column): Column =
    stopwordCountOfList(toks, Stopwords)

  /** Stop-word hits against an arbitrary list — the ONE counting kernel
    * behind [[stopwordCountOf]], [[langIdOf]]'s per-language votes and
    * [[gopherRules]]' stop rule. */
  private def stopwordCountOfList(toks: Column, words: Seq[String]): Column = {
    val ws = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(ws, t)))
  }

  /** Heuristic quality score in [0,1]: rewards stopword presence and
    * moderate token length, penalizes punctuation soup. Pure arithmetic on
    * exact int counts — bit-identical across engines. */
  def qualityScore(text: Column): Column =
    qualityScoreOf(tokens(text), text)

  /** [[qualityScore]] over a pre-materialized token column — callers on the
    * hot path should `withColumn` the tokens first: the split regex and the
    * (interpreted) stopword filter otherwise re-tokenize per reference. */
  def qualityScoreOf(toks: Column, text: Column): Column = {
    val nTok = size(toks).cast("double")
    val stopR = stopwordCountOf(toks).cast("double") / nTok
    // empty text would make this 0/0 = NaN and poison the whole score;
    // treat it as zero punctuation (oracle carries the same guard)
    val punctR = when(length(text) > 0,
      punctCount(text).cast("double") / length(text).cast("double"))
      .otherwise(lit(0.0))
    val lenOk = when(nTok >= 10 && nTok <= 1000, lit(1.0)).otherwise(lit(0.5))
    least(lit(1.0), (stopR * 2.0 + (lit(1.0) - punctR)) / 2.0 * lenOk)
  }

  /** Language-ID by stopword voting (n-gram-heuristic family): the language
    * whose stopword list hits the most tokens wins; ties and zero-hit docs
    * fall back to "und" (undetermined). */
  val LangStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "del"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "des", "est", "dans"))

  def langId(text: Column): Column = langIdOf(tokens(text))

  /** [[langId]] over pre-materialized tokens (the per-language votes would
    * otherwise re-tokenize once per language). */
  def langIdOf(toks: Column): Column = {
    val scores = LangStopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(stopwordCountOfList(toks, words).as("hits"),
        lit(lang).as("lang"))
    }
    val best = greatest(scores: _*) // struct compare: hits first, lang tiebreak
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Document fingerprint: 64-bit content hash of the normalized text
    * (whitespace-collapsed lowercase). xxhash64 is Spark-native and seeded
    * deterministically — stable across runs/cluster sizes. */
  def fingerprint(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    * MOSS algorithm): k-gram polynomial rolling hashes, then the minimum
    * hash of every w-window, deduplicated — a fingerprint set that is
    * robust to insertions/reordering (any shared substring of length
    * ≥ k+w−1 guarantees a shared fingerprint).
    *
    * The hash is an EXPLICIT base-257 polynomial mod 1000003 over character
    * codes — not an engine-private hash — so the fingerprints are
    * reproducible in plain SQL and the operator gets a real value oracle.
    * All arithmetic stays < 2³⁸: overflow-free under ANSI mode anywhere.
    * Pure codegen'd array expressions, zero shuffle. */
  def winnowingFingerprints(text: Column, k: Int = 8, w: Int = 4): Column =
    graft.functions.WinnowingFingerprints.winnowing(text, k, w)

  /** Distinct word n-gram set of a token array (space-joined windows);
    * empty for docs shorter than n tokens. Fused native kernel — the
    * composable HOF form ([[wordNGramsHof]]) re-evaluates the token
    * expression per gram position (no codegen for lambdas), which made
    * every word-gram operator pay one full tokenize per gram. */
  def wordNGrams(toks: Column, n: Int): Column =
    graft.functions.WordNGrams.wordNGrams(toks, n)

  /** ALL word n-grams of a token array in order (multiset — unlike
    * [[wordNGrams]] no dedup): the repetition signal needs occurrence
    * counts, not set membership. Fused kernel, same contract as
    * [[wordNGramsAllHof]]. */
  def wordNGramsAll(toks: Column, n: Int): Column =
    graft.functions.WordNGrams.wordNGramsAll(toks, n)

  /** The composable lambda formulation [[wordNGrams]] must reproduce
    * (`sequence` would run DESCENDING for stop < start without the size
    * guard — same pitfall as char n-grams); test-oracle use. */
  private[graft] def wordNGramsHof(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " "))))

  /** Lambda formulation of [[wordNGramsAll]]; test-oracle use. */
  private[graft] def wordNGramsAllHof(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))

  /** PII scrub — the C4/RefinedWeb-family cleanup stage (Raffel et al.
    * 2020 §2.2's line filters; Penedo et al. 2023 §G run exactly this
    * class of regex redaction before training): per document, the match
    * counts for email / NANP-phone / IPv4 patterns and the md5 of the
    * REDACTED text — the SAME canonical patterns ([[EmailRe]] /
    * [[PhoneRe]] / [[Ipv4Re]]) and replacement order as [[redactPii]],
    * whose output the final string equals exactly (spec-pinned), so the
    * scrub's audit counts and the t10 per-source rollup can never drift
    * apart. Each count is taken on the text AS THE CORRESPONDING REPLACE
    * SEES IT (phones counted after email redaction, IPs after phone
    * redaction), so `n_*` equals the number of placeholders actually
    * present in the redacted text — a phone number inside an email's
    * local part counts as email only, never double. Counts are exact
    * integers and the redacted string is md5-pinned, so the oracle
    * replays the whole staged scrub byte-for-byte.
    *
    * Scale: pure map-side codegen'd regexp work — no shuffle, no join;
    * the scan feeds `regexp_count`/`regexp_replace` inside whole-stage
    * codegen and the per-doc rollup is the projection itself. */
  def piiScrub(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val afterEmail = regexp_replace(t, EmailRe, "[EMAIL]")
    val afterPhone = regexp_replace(afterEmail, PhoneRe, "[PHONE]")
    val clean = regexp_replace(afterPhone, Ipv4Re, "[IP]")
    docs.filter(t.isNotNull)
      .select(col(idCol),
        regexp_count(t, lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(afterEmail, lit(PhoneRe)).cast("long")
          .as("n_phones"),
        regexp_count(afterPhone, lit(Ipv4Re)).cast("long").as("n_ips"),
        md5(clean).as("clean_md5"))
  }

  /** Repetition stats (the Gopher repetitive-content filter, Rae et al.
    * 2021 §A1.1): per document, the total n-gram occurrence count and the
    * occurrence count of the MOST FREQUENT n-gram — a doc whose top 2-gram
    * covers a large fraction of the text is boilerplate/spam. Integer
    * outputs, so thresholds like `top·10 > total·2` (20%) are bit-exact.
    *
    * Scale: explode + two grouped aggregations ((id, gram) then id), both
    * with map-side partial aggs; no joins, no pairwise work. Docs shorter
    * than n tokens are kept with zero counts via the left join. */
  def repetitionStats(docs: DataFrame, n: Int = 2, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val grams = docs.select(col(idCol),
      explode(wordNGramsAll(tokens(col(textCol)), n)).as("gram"))
    val per = grams.groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("occ"))
      .groupBy(col(idCol))
      .agg(sum(col("occ")).as("n_grams"), max(col("occ")).as("top_gram"))
    docs.select(col(idCol))
      .join(per, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("top_gram"), lit(0L)).as("top_gram"))
  }

  /** Benchmark decontamination (the GPT-3/PaLM-family eval-overlap check):
    * ids of training documents sharing at least one distinct word n-gram
    * with any benchmark document — those docs leak eval answers into
    * training and must be dropped.
    *
    * Scale: benchmark suites are tiny next to a training corpus, so the
    * distinct benchmark gram set is the small side of one semi-join on
    * `gram` — BROADCAST when it fits (limit-probe guard, the
    * connectedComponents idiom), so the training corpus is filtered
    * map-side and never shuffles; past the guard it falls back to a
    * shuffled semi-join. The training side is one explode, never
    * materialized as pairs. */
  def contaminatedDocs(train: DataFrame, benchmark: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text",
      broadcastGramLimit: Long = 2000000L): DataFrame = {
    val trainGrams = train.select(col(idCol),
      explode(wordNGrams(tokens(col(textCol)), n)).as("gram"))
    val benchGrams = benchmark
      .select(explode(wordNGrams(tokens(col(textCol)), n)).as("gram"))
      .distinct()
      // pinned: read twice (the size probe, then the join's build side)
      .localCheckpoint(true)
    val benchSide =
      if (graft.util.LimitProbe.atMost(benchGrams, broadcastGramLimit))
        broadcast(benchGrams)
      else benchGrams
    trainGrams.join(benchSide, Seq("gram"), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** Bloom-prefiltered decontamination — [[contaminatedDocs]] semantics
    * behind a constant-size broadcast. Past the exact-broadcast guard the
    * benchmark gram set costs a full shuffle of every training gram; a
    * Bloom sketch over it is O(n·log(1/fpp)) BITS (~1.2 GB per 10⁹ grams
    * at fpp 1e-2) and ships to every executor once. Bloom membership has
    * no false negatives, so the map-side prefilter drops ~(1−fpp) of
    * clean training grams BEFORE the shuffle while never losing a
    * contaminated one; the surviving sliver (true hits + fpp noise) is
    * exact-verified by the same semi-join, so the result is identical to
    * [[contaminatedDocs]] — the sketch shrinks the shuffle, never the
    * answer. Same shape Spark's runtime bloom-join pruning injects;
    * explicit here so the sketch is reusable across pipeline runs and its
    * size/fpp are policy, not planner heuristics.
    *
    * The membership probe is the codegen'd
    * [[graft.functions.BloomMightContain]] expression (Spark's own
    * BloomFilterMightContain is not public API): one hash+bit-test per
    * gram inside the whole-stage-codegen span — no per-row boxing, no
    * codegen fence around the enclosing filter.
    *
    * Resource note: the method pins benchGrams (eager localCheckpoint,
    * read three times: cardinality count, sketch build, exact verify) and
    * broadcasts the sketch; both live until the session drops them. A
    * resident pipeline reusing the sketch across runs should hold ONE
    * result frame per benchmark suite and, when retiring it, unpersist
    * the checkpoint and destroy the broadcast (the cleanup discipline of
    * Dedup/Similarity); Bench's post-warmup storage sweep is the
    * single-process version of that. */
  def contaminatedDocsBloom(train: DataFrame, benchmark: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text",
      fpp: Double = 0.01): DataFrame = {
    val spark = train.sparkSession
    val trainGrams = train.select(col(idCol),
      explode(wordNGrams(tokens(col(textCol)), n)).as("gram"))
    val benchGrams = benchmark
      .select(explode(wordNGrams(tokens(col(textCol)), n)).as("gram"))
      .distinct()
      // pinned: read three times (cardinality count, sketch build, verify)
      .localCheckpoint(true)
    // size the sketch bits to the measured cardinality, not a guess
    val bloom = benchGrams.stat.bloomFilter("gram",
      math.max(benchGrams.count(), 1L), fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    contamProbe(trainGrams, benchGrams, bc, idCol)
  }

  /** The ONE copy of the Bloom-prefilter + exact-verify probe tail
    * shared by [[contaminatedDocsBloom]] (in-session sketch) and
    * [[contaminatedDocsAgainstIndex]] (persisted sketch) — a probe
    * tweak (normalization, verify join shape, broadcast guard) cannot
    * land in one lifecycle and miss the other. `trainGrams` is the
    * exploded (id, gram) frame; `benchGrams` the distinct gram set. */
  private def contamProbe(trainGrams: DataFrame, benchGrams: DataFrame,
      bloomBc: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter],
      idCol: String): DataFrame =
    trainGrams
      .filter(graft.functions.BloomMightContain
        .bloomMightContain(col("gram"), bloomBc))
      .join(benchGrams, Seq("gram"), "left_semi")
      .select(col(idCol)).distinct()

  /** Build a benchmark suite's DECONTAMINATION INDEX, a
    * [[graft.util.PersistedIndex]] (d23): the exact distinct n-gram set
    * (its rows: the verify side), its Bloom sketch bytes (`bloom.bin`: the
    * broadcast prefilter side) and the policy meta (n, fpp). Training
    * batches probe it without the benchmark ever re-tokenizing. Bloom
    * bits cannot absorb appends — admitting a new suite means a second
    * index probed alongside, or the INDEX-ONLY union rebuild
    * ([[mergeContamIndexes]]). */
  def writeContamIndex(benchmark: DataFrame, dir: String, n: Int,
      textCol: String = "text", fpp: Double = 0.01): Unit =
    writeContamFrom(
      benchmark
        .select(explode(wordNGrams(tokens(col(textCol)), n)).as("gram"))
        .distinct(),
      dir, n, fpp)

  /** The ONE copy of the index build shared by [[writeContamIndex]] and
    * [[mergeContamIndexes]]. Grams, sketch and meta are CONSISTENT only as
    * a set (a new gram table under an old sketch drops the new grams at
    * the prefilter), which one build publishes at once. */
  private def writeContamFrom(gramSet: DataFrame, dir: String, n: Int,
      fpp: Double): Unit = {
    val grams = gramSet
      .localCheckpoint(true) // read twice: cardinality/sketch + write
    val bloom = grams.stat.bloomFilter("gram",
      math.max(grams.count(), 1L), fpp)
    graft.util.PersistedIndex(grams.sparkSession, dir).build(grams,
      meta = Seq("n" -> n, "fpp" -> fpp),
      files = Map("bloom.bin" -> (out => bloom.writeTo(out))))
  }

  /** Admit new benchmark suites WITHOUT re-tokenizing any corpus: union
    * the stored distinct-gram sets of `dirs` into one fresh index at
    * `outDir` — the INDEX-ONLY rebuild the d23 lifecycle was missing
    * (Bloom bits cannot absorb appends, so admitting a suite used to
    * mean probing a second directory alongside or re-shingling the
    * union of corpora; this rebuilds the sketch from the stored gram
    * sets alone — index-sized work regardless of benchmark-corpus
    * size). The gram order `n` must AGREE across inputs (it is the
    * shingling policy; sets at different n are not unionable) — fails
    * loudly otherwise. The merged sketch is re-sized to the union's
    * measured cardinality at `fpp`. `outDir` must be a fresh directory
    * (the merged index is a new artifact; inputs stay readable
    * throughout). Probing the result equals probing every input and
    * unioning hits (spec-pinned). */
  def mergeContamIndexes(spark: org.apache.spark.sql.SparkSession,
      dirs: Seq[String], outDir: String, fpp: Double = 0.01): Unit = {
    require(dirs.nonEmpty, "need at least one input index")
    // normalized-path guard (a trailing slash or ./ alias must not
    // sneak an input through); the eager checkpoint in writeContamFrom
    // and the whole-dir swap make even a missed alias read-safe, but
    // merging onto an input is a caller error worth naming
    def norm(d: String): java.net.URI =
      new org.apache.hadoop.fs.Path(d).toUri.normalize()
    require(!dirs.map(norm).contains(norm(outDir)),
      "merge writes a NEW index directory — outDir must not be an input")
    val inputs = dirs.map(graft.util.PersistedIndex(spark, _))
    val ns = inputs.map(_.meta.getAs[Int]("n")).distinct
    require(ns.sizeIs == 1,
      s"gram orders differ across inputs ($ns) — indexes shingled at " +
        "different n cannot merge")
    writeContamFrom(inputs.map(_.rows).reduce(_ unionAll _).distinct(),
      outDir, ns.head, fpp)
  }

  /** Decontaminate a training batch against a persisted index — exactly
    * [[contaminatedDocsBloom]]'s prefilter + exact-verify with both
    * sides re-read from the index. The gram order `n` comes from the
    * index meta, so a probe cannot silently shingle at a different
    * length than the build (the d21 threshold-in-meta discipline);
    * Bloom has no false negatives and survivors are exact-verified
    * against the stored gram set, so the result equals
    * [[contaminatedDocs]] against the original benchmark
    * (spec-pinned). */
  def contaminatedDocsAgainstIndex(train: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = train.sparkSession
    val idx = graft.util.PersistedIndex(spark, dir)
    val n = idx.meta.getAs[Int]("n")
    val bc = spark.sparkContext.broadcast(
      idx.file("bloom.bin")(org.apache.spark.util.sketch.BloomFilter.readFrom))
    contamProbe(
      train.select(col(idCol),
        explode(wordNGrams(tokens(col(textCol)), n)).as("gram")),
      idx.rows, bc, idCol)
  }

  /** PII patterns (emails, North-American phone numbers, IPv4 addresses) —
    * deliberately restricted to RE2-compatible constructs (no lookaround,
    * no backrefs) so the Java-regex Spark side and an RE2-based SQL engine
    * (DuckDB oracle) match the same spans. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val Ipv4Re = "\\b\\d{1,3}(?:\\.\\d{1,3}){3}\\b"

  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailRe), lit(0)))
  def phoneCount(text: Column): Column =
    size(regexp_extract_all(text, lit(PhoneRe), lit(0)))
  def ipv4Count(text: Column): Column =
    size(regexp_extract_all(text, lit(Ipv4Re), lit(0)))

  /** Redact PII in place: emails → [EMAIL], phones → [PHONE], IPv4 → [IP].
    * Email first — its char class can span digits/dots that the narrower
    * patterns would then see. Pure codegen'd regexp_replace chain, zero
    * shuffle: the canonical 100 TB map-side scrub. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "[EMAIL]"),
        PhoneRe, "[PHONE]"),
      Ipv4Re, "[IP]")

  /** HTML→text extraction rules — the trafilatura/jusText-class stage
    * between a WARC `response` payload and a `documents.text` column;
    * every C4/RefinedWeb-family pipeline runs one (Raffel et al. 2020
    * §2.2 extract Common Crawl's WET text; RefinedWeb §3.2 re-extracts
    * from WARC). A DETERMINISTIC, SQL-replayable rule set rather than an
    * HTML5 tree parser (documented subset: no CDATA, no numeric
    * character references, entity decode limited to the named set below,
    * and tag recognition is regex-scoped — `>` inside an attribute value
    * splits the tag early), restricted to RE2-compatible constructs so
    * the Java-regex Spark side and the DuckDB oracle match identically:
    *
    *  1. `<script>`/`<style>` elements drop WITH their content, BEFORE
    *     comments (a script body holding a literal `</div>` or an
    *     unmatched `<!--` — the classic legacy-JS comment hack — must
    *     not leak text or eat the document). No regex ORDER handles
    *     every comment×script nesting: the residual cases, both
    *     golden-pinned, are a comment containing an OPEN script tag
    *     (the script rule overruns the comment — harmless, extra text
    *     drops) and a script body containing a COMMENTED-OUT
    *     `</script>` (the lazy match stops early and JS residue leaks
    *     — the price of the common case above; a tree parser is the
    *     documented non-goal);
    *  2. comments `<!-- … -->` drop (lazy span, `(?s)`);
    *  3. block-level open/close tags become a newline (the paragraph
    *     structure every quality filter keys on);
    *  4. every remaining tag drops;
    *  5. named entities decode AFTER tag removal (so `&lt;p&gt;` becomes
    *     the literal text `<p>`, never a tag): lt gt quot apos #39
    *     nbsp(→space), and amp LAST (double-escape correct);
    *  6. whitespace normalizes: horizontal runs → one space, runs of
    *     newlines (with surrounding spaces) → one newline, ends trimmed.
    */
  val HtmlCommentRe = "(?s)<!--.*?-->"
  val HtmlScriptRe = "(?is)<script\\b[^>]*>.*?</script>"
  val HtmlStyleRe = "(?is)<style\\b[^>]*>.*?</style>"
  val HtmlBlockTagRe = "(?is)</?(?:p|div|br|hr|li|ul|ol|h[1-6]|tr|td|th|" +
    "table|blockquote|pre|section|article|header|footer|title)\\b[^>]*>"
  val HtmlAnyTagRe = "(?s)<[^>]*>"
  /** (search, replace) pairs of step 5, IN ORDER (amp last). */
  val HtmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&apos;" -> "'",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
  val HtmlHspaceRe = "[ \\t\\x0B\\f\\r]+"
  val HtmlNewlineRunRe = "(?: ?\\n ?)+"
  val HtmlTrimRe = "^\\s+|\\s+$"

  /** The extraction chain as one codegen'd Column — pure map-side
    * regexp/replace work, zero shuffle: the canonical 100 TB payload→text
    * pass (the [[redactPii]] posture). Entity replaces are LITERAL
    * (`replace`, not regex), so no escaping hazards. */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html, HtmlScriptRe, "")
    val noStyle = regexp_replace(noScript, HtmlStyleRe, "")
    val noComment = regexp_replace(noStyle, HtmlCommentRe, "")
    val blocks = regexp_replace(noComment, HtmlBlockTagRe, "\n")
    val noTags = regexp_replace(blocks, HtmlAnyTagRe, "")
    val decoded = HtmlEntities.foldLeft(noTags) { case (c, (s, r)) =>
      replace(c, lit(s), lit(r))
    }
    val hspace = regexp_replace(decoded, HtmlHspaceRe, " ")
    val nlruns = regexp_replace(hspace, HtmlNewlineRunRe, "\n")
    regexp_replace(nlruns, HtmlTrimRe, "")
  }

  /** [[htmlToText]] as a whole-corpus operator: (id, html) → (id, text),
    * the column shape `documents` downstream stages expect. */
  def htmlExtract(docs: DataFrame, idCol: String = "doc_id",
      htmlCol: String = "html"): DataFrame =
    docs.filter(col(htmlCol).isNotNull)
      .select(col(idCol), htmlToText(col(htmlCol)).as("text"))

  /** HTTP/1.x message helpers — the step BEFORE [[htmlToText]]: a WARC
    * `response` record's payload is a full HTTP message (status line +
    * headers + CRLFCRLF + body) per ISO 28500, not raw HTML — skipping
    * this seam feeds status lines and headers into the text corpus.
    * Deterministic, SQL-replayable subset: identity bodies only (no
    * chunked-transfer or Content-Encoding decode — Common Crawl stores
    * decoded bodies), charset assumed UTF-8, RFC 7230-deprecated header
    * folding unsupported, and a message with NO blank-line separator is
    * treated as all body (lenient — some crawlers store bare payloads).
    * All pure map-side codegen'd string work. */
  val HttpSepLit = "\r\n\r\n"
  val HttpStatusRe = "^HTTP/1\\.[01] ([0-9]{3})"

  /** Body of an HTTP message: everything after the first CRLFCRLF. */
  def httpBody(msg: Column): Column = {
    val idx = instr(msg, HttpSepLit)
    when(idx > 0, msg.substr(idx + lit(4), length(msg))).otherwise(msg)
  }

  /** Header block (before the first CRLFCRLF; "" when absent) — header
    * lookups search ONLY here, so a body line starting `content-type:`
    * can never shadow a real header. */
  def httpHeaders(msg: Column): Column = {
    val idx = instr(msg, HttpSepLit)
    when(idx > 0, msg.substr(lit(1), idx - 1)).otherwise(lit(""))
  }

  /** Case-insensitive header value ("" when absent). `name` must be a
    * literal token ([A-Za-z0-9-]+) — it is embedded in a shared
    * Java/RE2 pattern. */
  def httpHeader(msg: Column, name: String): Column = {
    require(name.matches("[A-Za-z0-9-]+"), s"not a header token: '$name'")
    regexp_extract(httpHeaders(msg),
      s"(?im)^$name:[ \\t]*([^\\r\\n]*)", 1)
  }

  /** Status code of the response line, parsed from the HEADER BLOCK
    * (null when there is none). Scoping to [[httpHeaders]] matters: a
    * separator-less capture whose body text starts with a status line
    * is all-body per [[httpBody]], and a status parsed from it would
    * let `filter(status === 200)` admit raw header bytes into the text
    * corpus — the exact leak this seam exists to prevent. */
  def httpStatus(msg: Column): Column =
    nullif(regexp_extract(httpHeaders(msg), HttpStatusRe, 1), lit(""))
      .cast("long")

  /** Corpus-level LINE dedup — the RefinedWeb/C4 boilerplate-removal
    * stage (Penedo et al. 2023 §3.2 drop lines duplicated across the
    * corpus; Raffel et al. 2020 §2.2's line filters): split every
    * document on newlines, count each exact line ACROSS THE CORPUS, and
    * remove lines occurring more than `maxOccurrences` times — cookie
    * banners, nav bars and footers repeat verbatim on every page of a
    * site while real prose lines are near-unique. Returns one row per
    * input document: kept/dropped line counts and the reassembled text
    * (original line order; "" when everything was boilerplate).
    *
    * Scale: one explode, one map-side-partial line-count groupBy, and a
    * join back on the line key. The DROPLIST (lines past the threshold)
    * is the small side by construction — boilerplate is few distinct
    * strings repeated often — so it rides the LimitProbe-guarded
    * broadcast ([[graft.pipeline.Bpe.guardedDict]]) and the corpus is
    * flagged map-side; past the bound the join shuffles on the line
    * key. Trailing empty lines are REAL lines (split limit −1) and an
    * empty line repeated corpus-wide is boilerplate like any other —
    * symmetric with the SQL replay. */
  def lineDedup(docs: DataFrame, maxOccurrences: Long = 1,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val lines = explodeLines(docs, idCol, textCol)
    val droplist = lines.groupBy(col("line"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > maxOccurrences)
      .select(col("line"), lit(true).as("_dup"))
      // pinned: read by the broadcast-guard probe AND the join build —
      // without it the corpus explode + line count re-run per reader
      .localCheckpoint(true)
    lineDedupTail(lines, droplist, idCol)
  }

  /** One row per (doc, position, line) — the explode both the recompute
    * and the persisted-index paths share. */
  private def explodeLines(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "line")))

  /** The shared rollup: join the boilerplate droplist (guarded
    * broadcast), count kept/dropped, reassemble the clean text in line
    * order — one copy so the recompute ([[lineDedup]]) and index
    * ([[lineDedupAgainstIndex]]) paths cannot drift. */
  private def lineDedupTail(lines: DataFrame, droplist: DataFrame,
      idCol: String): DataFrame =
    lines.join(Bpe.guardedDict(droplist, Bpe.DictBroadcastLimit),
        Seq("line"), "left_outer")
      .groupBy(col(idCol))
      .agg(
        count(when(col("_dup").isNull, 1)).as("n_kept"),
        count(when(col("_dup").isNotNull, 1)).as("n_dropped"),
        array_sort(collect_list(
          when(col("_dup").isNull, struct(col("pos"), col("line")))))
          .as("arr"))
      .select(col(idCol), col("n_kept"), col("n_dropped"),
        array_join(transform(col("arr"), x => x.getField("line")), "\n")
          .as("clean"))

  /** Build a corpus's LINE-OCCURRENCE INDEX, a
    * [[graft.util.PersistedIndex]] of [[lineIndexRows]] (d21): the stored
    * side of daily-crawl boilerplate removal, probed and appended without
    * the corpus ever re-exploding. The threshold lives IN the meta row so
    * a probe cannot silently apply a different cutoff than the build. */
  def writeLineIndex(docs: DataFrame, dir: String,
      maxOccurrences: Long = 1, idCol: String = "doc_id",
      textCol: String = "text"): Unit =
    graft.util.PersistedIndex(docs.sparkSession, dir).build(
      lineIndexRows(docs, idCol, textCol),
      meta = Seq("max_occurrences" -> maxOccurrences))

  /** One snapshot's rows of the line index — (line, n_occ): partial
    * counts, summed per line at probe time. */
  def lineIndexRows(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    explodeLines(docs, idCol, textCol)
      .groupBy(col("line")).agg(count(lit(1)).as("n_occ"))

  /** Sum partial line counts to one row per line: the probe's read of
    * the stored side, and the index-only compaction as a rewrite (probe
    * results unchanged by construction). */
  def lineCounts(rows: DataFrame): DataFrame =
    rows.groupBy(col("line")).agg(sum(col("n_occ")).as("n_occ"))

  /** Line-dedup an increment against a persisted index: a line drops
    * when its stored count PLUS its increment count clears the index's
    * threshold — exactly [[lineDedup]] over (indexed corpus ∪ increment)
    * restricted to increment docs (spec-pinned identical). The stored
    * side contributes one aggregated equi-join on the line key; the
    * corpus never re-explodes. */
  def lineDedupAgainstIndex(newDocs: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val idx = graft.util.PersistedIndex(newDocs.sparkSession, dir)
    val maxOcc = idx.meta.getAs[Long]("max_occurrences")
    val lines = explodeLines(newDocs, idCol, textCol)
    val incr = lines.groupBy(col("line")).agg(count(lit(1)).as("n_new"))
    val stored = lineCounts(idx.rows).withColumnRenamed("n_occ", "n_old")
    val droplist = incr.join(stored, Seq("line"), "left_outer")
      .filter(col("n_new") + coalesce(col("n_old"), lit(0L)) > maxOcc)
      .select(col("line"), lit(true).as("_dup"))
      .localCheckpoint(true) // the lineDedup pin, same two readers
    lineDedupTail(lines, droplist, idCol)
  }

  /** Per-document top-k tokens by tf·idf (idf = ln(N/df), the classic
    * smoothing-free form; score rounded to 4 dp so the value — and the
    * (score, token) ranking — is reproducible across engines; the nearest
    * corpus score sits > 1e-3·10⁻⁴ from a rounding tie, 9 orders above
    * cross-engine libm ulp noise).
    *
    * Scale: one explode, a (doc,tok) partial-agg shuffle for tf, a (tok)
    * partial-agg shuffle for df (two-phase distinct on doc), one equi-join
    * tf⨝df on `tok`, and a per-doc top-k window — no pairwise work; the
    * single-row corpus count broadcasts. */
  def tfIdfTopK(docs: DataFrame, k: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val nDocs = toks.agg(countDistinct(col(idCol)).as("n_docs"))
    val tf = toks.groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val df_ = toks.groupBy(col("tok"))
      .agg(countDistinct(col(idCol)).as("df"))
    val scored = tf.join(df_, "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", round(
        col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("tok"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("rnk"), col("tok"), col("score"))
  }

  /** Overlapping token-window chunk spans (context-window packing's cousin:
    * RAG/pretraining chunking with overlap = size − stride). Emits one row
    * per chunk with exact integer (start, len); the last chunk starts at
    * the final stride step that still adds new tokens, so every token is
    * covered and no empty trailing chunk is emitted.
    *
    * Scale: pure map-side sequence+explode — output rows ≈ tokens/stride,
    * no shuffle, no state. */
  def chunkSpans(docs: DataFrame, size: Int = 16, stride: Int = 12,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(size >= 1 && stride >= 1 && stride <= size,
      "need 1 <= stride <= size")
    val n = tokenCount(col(textCol)).cast("long")
    val lastChunk = when(n <= size, lit(0L))
      .otherwise(ceil((n - size) / lit(stride.toDouble)).cast("long"))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), n.as("n"),
        explode(sequence(lit(0L), lastChunk)).as("chunk_id"))
      .filter(col("n") > 0)
      .select(col(idCol), col("chunk_id"),
        (col("chunk_id") * stride).as("start_tok"),
        least(lit(size.toLong), col("n") - col("chunk_id") * stride)
          .as("chunk_len"))
  }

  /** Per-document bigram language-model score (the CCNet/KenLM-family
    * perplexity quality filter): mean log P(w2 | w1) under the MLE bigram
    * model of the corpus itself — no smoothing needed, every scored bigram
    * is by construction observed at least once. Low scores flag
    * improbable token sequences (gibberish, boilerplate soup); high
    * scores flag fluent-for-this-corpus text.
    *
    * Determinism: double summation is order-dependent, so the per-doc log
    * terms are folded in POSITION order over a collected array — the SQL
    * oracle does the identical left fold (`list_reduce` on a
    * position-ordered list; 0.0 + x == x, so the init conventions agree
    * bit-for-bit) — and the mean is rounded to 4 dp: the nearest corpus
    * value sits ~5.6e-8 from a rounding tie, seven orders above
    * cross-engine libm ulp noise.
    *
    * Scale: one explode for unigram counts, one positional gram explode,
    * two count shuffles with map-side partials, two equi-joins on
    * token/gram keys, one per-doc aggregation — no pairwise work; the
    * collected fold array is bounded by document length (same bound the
    * chunker and packer already rely on). */
  def bigramLmScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), tokens(col(textCol)).as("toks"))
    val uni = base.select(explode(col("toks")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("cu"))
    // tokens are whitespace-split, so the space-joined gram splits back
    // unambiguously: substring_index recovers w1 exactly
    val bgx = base.select(col(idCol),
        posexplode(graft.functions.WordNGrams.wordNGramsAll(col("toks"), 2)))
      .select(col(idCol), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("gram"))
      .withColumn("w1", substring_index(col("gram"), " ", 1))
      // read twice (bigram-count build + probe side); GC-reclaimed
      // checkpoint blocks instead of a session-pinned cache entry
      .localCheckpoint(true)
    val bcnt = bgx.groupBy(col("gram")).agg(count(lit(1)).as("cb"))
    val scored = bgx.join(bcnt, "gram").join(uni, "w1")
      .select(col(idCol), col("pos"),
        log(col("cb").cast("double") / col("cu").cast("double")).as("lp"))
    scored.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("pos"), col("lp")))).as("arr"),
        count(lit(1)).as("n_bigrams"))
      .select(col(idCol), col("n_bigrams"),
        round(aggregate(col("arr"), lit(0.0),
            (acc, x) => acc + x.getField("lp")) /
          col("n_bigrams").cast("double"), 4).as("avg_logprob"))
  }

  /** Per-document interpolated KNESER-NEY bigram log-probability (Chen &
    * Goodman 1999's formulation of Kneser & Ney 1995) — the
    * CCNet/KenLM-class perplexity filter [[bigramLmScore]]'s add-nothing
    * MLE only approximates: absolute discount D on every seen bigram,
    * with the reclaimed mass backed off to the CONTINUATION unigram
    * (how many distinct left contexts a word follows — "francisco" is
    * frequent but follows only "san", so its continuation probability is
    * tiny and garbled text gets no credit for it):
    *
    *   P(w2|w1) = max(c(w1 w2) − D, 0)/c(w1·)
    *            + (D · N1+(w1 ·)/c(w1·)) · (N1+(· w2)/N1+(· ·))
    *
    * Exactness (the t13 conventions, term for term): every count is an
    * exact integer; the formula is evaluated in ONE fixed parenthesization
    * (identical in the SQL oracle, and Java 17 FP is strict — no FMA
    * contraction on either engine), so both engines take ln of the SAME
    * double; the per-doc sum folds in position order
    * (sort_array/list ORDER BY); the average rounds to 4 dp.
    *
    * Scale: one corpus explode into positioned bigrams (pinned — read by
    * the count build and the probe side), one map-side-partial groupBy to
    * the distinct-bigram table (pinned — read by the probe join and the
    * three statistics), then vocabulary-sized aggregations; the corpus
    * never joins anything bigger than its own bigram positions. Scoring
    * the training corpus itself means every probed bigram is seen (c ≥ 1),
    * the max() never binds, and no unseen-event branch is needed.
    *
    * Order 2 of [[knNGramScore]] — the generalized backoff-chain builder
    * emits exactly this plan (spec-pinned value-identical). */
  def knBigramScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", discount: Double = 0.75): DataFrame =
    knNGramScore(docs, 2, idCol, textCol, discount,
      nCol = "n_bigrams", avgCol = "avg_kn_logprob")

  /** Per-document interpolated Kneser-Ney TRIGRAM log-probability — the
    * full recursive backoff chain [[knBigramScore]] shows one layer of
    * (KenLM runs this recursion to order 5):
    *
    *   P(w3|w1 w2) = max(c(w1w2w3) − D, 0)/c(w1w2·)
    *               + (D · N1+(w1w2·)/c(w1w2·)) · P₂(w3|w2)
    *   P₂(w3|w2)   = max(N1+(· w2w3) − D, 0)/N1+(· w2 ·)
    *               + (D · N1+(w2 ·)/N1+(· w2 ·)) · Pc(w3)
    *   Pc(w3)      = N1+(· w3)/N1+(· ·)
    *
    * — the middle layer runs on CONTINUATION counts, not raw bigram
    * counts (Chen & Goodman 1999's defining property of KN), and every
    * statistic derives from ONE trigram-type table: N1+(·w2w3) = distinct
    * predecessors of the bigram, N1+(·w2·) = distinct (w1,w3) pairs
    * around w2, N1+(w2·) = distinct continuations of w2 among trigram
    * types, N1+(·w3)/N1+(··) over the distinct continuation-bigram types.
    *
    * Exactness and scale exactly as [[knBigramScore]]: integer counts,
    * one fixed parenthesization (inner P₂ built first, then nested — the
    * SQL oracle nests identically), position-ordered fold, round 4 dp.
    * The corpus explodes once into positioned trigrams; everything else
    * is type-table-sized aggregation. Docs under 3 tokens drop (no
    * trigram positions).
    *
    * Order 3 of [[knNGramScore]]. */
  def knTrigramScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", discount: Double = 0.75): DataFrame =
    knNGramScore(docs, 3, idCol, textCol, discount,
      nCol = "n_trigrams", avgCol = "avg_kn3_logprob")

  /** Per-document interpolated Kneser-Ney log-probability at ANY order
    * n ≥ 2 — the generalized backoff-chain builder [[knBigramScore]] and
    * [[knTrigramScore]] are orders 2 and 3 of (KenLM, the cited
    * production perplexity filter, runs order 5):
    *
    *   P_n(wₙ|w₁..wₙ₋₁) = max(c(w₁..wₙ) − D, 0)/c(w₁..wₙ₋₁·)
    *                    + (D · N1+(w₁..wₙ₋₁·)/c(w₁..wₙ₋₁·)) · P_{n−1}
    *   P_k(wₙ|ctx_k)    = max(C_k(ctx_k wₙ) − D, 0)/ΣC_k(ctx_k·)
    *                    + (D · N1+(ctx_k·)/ΣC_k(ctx_k·)) · P_{k−1}
    *   P_1(wₙ)          = C_1(wₙ)/|C_2 types|
    *
    * where every middle layer runs on CONTINUATION counts — C_k is the
    * distinct-type count of C_{k+1} grouped on its last k words (Chen &
    * Goodman 1999's defining property of KN), with C_n the raw n-gram
    * counts, and the whole chain derives from the ONE n-gram-type table.
    *
    * The dataflow is order-independent in shape: one corpus explode into
    * positioned n-grams (pinned — probe side + count build), one
    * map-side-partial groupBy to the n-gram-type table (pinned), then a
    * cascade of type-table-sized aggregations (each C_k pinned — probe
    * join, its mid stats, the next level down; the vocab-sized C_1 feeds
    * the LimitProbe-guarded broadcast of the score join). The occurrence
    * checkpoint carries only (id, pos, w_1..w_n) — the redundant
    * space-joined gram is dropped before materialization. The
    * probability column folds from P₁ upward in the ONE fixed
    * parenthesization the SQL oracle nests identically; per-doc sums run
    * in position order; the average rounds to 4 dp — the t13 exactness
    * conventions at every order. Docs under n tokens drop (no n-gram
    * positions). */
  def knNGramScore(docs: DataFrame, order: Int, idCol: String = "doc_id",
      textCol: String = "text", discount: Double = 0.75,
      nCol: String = "n_ngrams", avgCol: String = "avg_kn_logprob")
      : DataFrame = {
    require(order >= 2, "Kneser-Ney backoff needs order >= 2")
    val n = order
    def w(i: Int) = col(s"w$i")
    def wKeys(from: Int, to: Int) = (from to to).map(i => s"w$i")
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), tokens(col(textCol)).as("toks"))
    // whitespace-split tokens → the space-joined gram splits back
    // unambiguously (the bigramLmScore precedent)
    def wExpr(i: Int) =
      if (i == 1) substring_index(col("gram"), " ", 1)
      else if (i == n) substring_index(col("gram"), " ", -1)
      else substring_index(substring_index(col("gram"), " ", i), " ", -1)
    val ngx0 = base.select(col(idCol),
        posexplode(graft.functions.WordNGrams.wordNGramsAll(col("toks"), n)))
      .select(col(idCol), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("gram"))
    val ngx = (1 to n).foldLeft(ngx0)((df, i) =>
        df.withColumn(s"w$i", wExpr(i)))
      // the space-joined gram is REDUNDANT once split into word columns
      // — dropping it before the eager checkpoint cuts the occurrence
      // table's materialized bytes by ~half (at corpus scale the
      // checkpoint volume is the dominant cost of this operator)
      .drop("gram")
      .localCheckpoint(true)
    val tN = ngx.groupBy(wKeys(1, n).map(col): _*)
      .agg(count(lit(1)).as("cb"))
      .localCheckpoint(true) // read by the probe + every statistic below
    val ctxT = tN.groupBy(wKeys(1, n - 1).map(col): _*)
      .agg(sum(col("cb")).as("ctx"), count(lit(1)).as("n1ctx"))
    // continuation cascade: C_k = distinct-type count of C_{k+1} on its
    // last k words (rows of each table are distinct TYPES, so count(*)
    // counts distinct predecessors)
    val contByK = scala.collection.mutable.Map[Int, DataFrame](n -> tN)
    (n - 1).to(1, -1).foreach { k =>
      val c = contByK(k + 1).groupBy(wKeys(n - k + 1, n).map(col): _*)
        .agg(count(lit(1)).as(s"c$k"))
      // every level is read at least twice (k >= 2: probe join + mid
      // stats + next level; k = 1: the broadcast-guard probe + the
      // score join), so pin them all
      contByK(k) = c.localCheckpoint(true)
    }
    val midByK = (2 to (n - 1)).map { k =>
      k -> contByK(k).groupBy(wKeys(n - k + 1, n - 1).map(col): _*)
        .agg(sum(col(s"c$k")).as(s"tot$k"), count(lit(1)).as(s"n1_$k"))
    }.toMap
    val ntot = contByK(2).agg(count(lit(1)).as("ntot"))
    val d = lit(discount)
    // P folds from the continuation unigram upward — ONE fixed
    // parenthesization at every layer, the oracle's nesting
    val p1 = col("c1").cast("double") / col("ntot").cast("double")
    val pMid = (2 to (n - 1)).foldLeft(p1)((inner, k) =>
      greatest(col(s"c$k").cast("double") - d, lit(0.0)) /
          col(s"tot$k").cast("double") +
        ((d * col(s"n1_$k").cast("double")) /
          col(s"tot$k").cast("double")) * inner)
    val pN = greatest(col("cb").cast("double") - d, lit(0.0)) /
        col("ctx").cast("double") +
      ((d * col("n1ctx").cast("double")) / col("ctx").cast("double")) * pMid
    val joinedMid = (n - 1).to(2, -1).foldLeft(
        ngx.join(tN, wKeys(1, n)).join(ctxT, wKeys(1, n - 1)))((df, k) =>
      df.join(contByK(k), wKeys(n - k + 1, n))
        .join(midByK(k), wKeys(n - k + 1, n - 1)))
    // the continuation-unigram table is VOCAB-sized and its probe side
    // (every n-gram occurrence, keyed by the single word w_n) is
    // maximally stop-word-skewed — exactly the dictionary-join shape, so
    // it rides the engine's LimitProbe-guarded broadcast (map-side when
    // the vocab fits, shuffled with AQE skew handling past the bound)
    // rather than an unhinted shuffle
    val scored = joinedMid.join(
        Bpe.guardedDict(contByK(1), Bpe.DictBroadcastLimit), Seq(s"w$n"))
      .crossJoin(broadcast(ntot))
      .select(col(idCol), col("pos"), log(pN).as("lp"))
    scored.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("pos"), col("lp")))).as("arr"),
        count(lit(1)).as(nCol))
      .select(col(idCol), col(nCol),
        round(aggregate(col("arr"), lit(0.0),
            (acc, x) => acc + x.getField("lp")) /
          col(nCol).cast("double"), 4).as(avgCol))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 — the
    * head/middle/tail split every LM-filtered crawl corpus runs): score
    * each document with the KN bigram LM ([[knBigramScore]]), then cut
    * each LANGUAGE's score distribution into `buckets` equal-count tiers —
    * bucket 1 = head (highest avg log-prob = lowest perplexity). The tier
    * assignment is NTILE over (avg_kn_logprob DESC, id ASC) — a total
    * order (the rounded score is cross-engine exact per the t23
    * conventions, ties broken by id), so the DuckDB oracle reproduces the
    * exact membership. Unscored documents (null text / under two tokens)
    * carry no perplexity and are not bucketed, the CCNet posture.
    *
    * Scale honesty: the per-language NTILE is a per-language TOTAL SORT —
    * and a web crawl's language mix is maximally skewed (one language can
    * be half the corpus), so this exact form tops out where one
    * language's scored rows exceed a sort partition's comfort. The
    * production path at crawl scale is the CCNet one: compute boundary
    * tuples on a scored SAMPLE (or accept a frozen reference LM's known
    * cutoffs) and assign map-side — [[assignPerplexityBuckets]], which is
    * spec-pinned to reproduce this exact form when handed the exact
    * boundaries. */
  def perplexityBuckets(docs: DataFrame, buckets: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2, "need at least two perplexity tiers")
    val scored = knBigramScore(docs, idCol, textCol)
    val w = Window.partitionBy(col(langCol))
      .orderBy(col("avg_kn_logprob").desc, col(idCol))
    scored.join(docs.select(col(idCol), col(langCol)), Seq(idCol))
      .withColumn("bucket", ntile(buckets).over(w).cast("long"))
  }

  /** The crawl-scale twin of [[perplexityBuckets]]: assign tiers map-side
    * under BROADCAST per-language boundary tuples — no window, no
    * per-language sort, one narrow projection over the scored corpus.
    * `cutoffs(lang)` holds the (score, id) tuple of the LAST row of each
    * bucket 1..b−1 in (score DESC, id ASC) order; a row lands in bucket
    * `1 + #{boundaries strictly before it in that order}`. Comparing the
    * full tuple (not just the score) makes the assignment EXACT even
    * across ties at a boundary — handed the exact boundaries this
    * reproduces [[perplexityBuckets]] row-for-row (spec-pinned); handed
    * sampled or frozen-reference cutoffs it is the production CCNet
    * assignment. Boundary lists are languages × (buckets−1) — driver-sized
    * by construction. */
  def assignPerplexityBuckets(scored: DataFrame,
      cutoffs: Map[String, Seq[(Double, Long)]],
      idCol: String = "doc_id", langCol: String = "lang",
      scoreCol: String = "avg_kn_logprob"): DataFrame = {
    val bc = scored.sparkSession.sparkContext.broadcast(cutoffs)
    val assign = udf((lang: String, score: Double, id: Long) =>
      1L + bc.value.getOrElse(lang, Nil).count { case (s, i) =>
        score < s || (score == s && id > i)
      })
    scored.withColumn("bucket",
      assign(col(langCol), col(scoreCol), col(idCol)))
  }

  /** Character-level Shannon entropy per document (bits/char) — the
    * classic gibberish/boilerplate detector: natural prose sits ~3.5–4.5
    * bits, single-char spam near 0, uniform random base64 near 6. Uses
    * H = ln(n) − (Σ c·ln c)/n, all in one pass over the per-char counts.
    *
    * Cross-engine exactness (the t13 conventions): the Σ c·ln c fold runs
    * in sorted-char order on BOTH engines (sort_array / list ORDER BY —
    * chars are unique per doc, so the order is total), ln of small-integer
    * counts is ulp-identical (t13-established), and the final bits value
    * is rounded to 4 dp. Scale: explode + two partial-agg shuffles keyed
    * by (doc, char) then doc — no pairwise work, alphabet-bounded fan-in. */
  def charEntropy(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val chars = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(split(lower(col(textCol)), "")).as("ch"))
      .filter(col("ch") =!= "")
    val counts = chars.groupBy(col(idCol), col("ch"))
      .agg(count(lit(1)).as("c"))
    counts.groupBy(col(idCol))
      .agg(sum(col("c")).as("n_chars"),
        count(lit(1)).as("n_distinct"),
        sort_array(collect_list(struct(col("ch"), col("c")))).as("cc"))
      .select(col(idCol), col("n_chars"), col("n_distinct"),
        round(
          (log(col("n_chars").cast("double")) -
            aggregate(col("cc"), lit(0.0), (acc, s) =>
              acc + s.getField("c").cast("double") *
                log(s.getField("c").cast("double"))) /
            col("n_chars").cast("double")) / log(lit(2.0)),
          4).as("entropy_bits"))
  }

  /** Cross-document duplicate n-gram stats (the Gopher/RefinedWeb-family
    * quality signal): per document, how many of its distinct word n-grams
    * also occur in at least one OTHER document. All counts are integers, so
    * downstream filters (e.g. `dup·10 > 3·total` for a 30% threshold) are
    * bit-exact on any engine.
    *
    * Scale: one explode of per-doc distinct grams (corpus-token-bounded),
    * one groupBy(gram) with map-side partial counts, one equi-join back —
    * no pairwise comparison anywhere. Docs with fewer than n tokens have 0
    * grams and are kept via the left join with zero counts. */
  def dupNGramStats(docs: DataFrame, n: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val base = docs.withColumn("_grams",
      wordNGrams(tokens(col(textCol)), n))
    val exploded = base.select(col(idCol), explode(col("_grams")).as("gram"))
    // grams are distinct per doc => count(*) = number of docs containing
    val docFreq = exploded.groupBy(col("gram"))
      .agg(count(lit(1)).as("gram_docs"))
    val perDoc = exploded.join(docFreq, "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("gram_docs") >= 2, 1)).as("n_dup_grams"))
    base.select(col(idCol))
      .join(perDoc, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"))
  }

  /** The stop-word list the Gopher stop rule counts against. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher quality-rule bundle (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher",
    * §A1.1 — the document-level filters nearly every modern pretraining
    * pipeline reuses), as ONE fused map-side pass emitting a boolean per
    * rule. Every ratio test is rephrased as an INTEGER cross-product
    * comparison (mean word length ∈ [3,10] ⟺ 3n ≤ Σlen ≤ 10n; symbol
    * ratio ≤ 0.1 ⟺ 10·symbols ≤ words; alpha-word share ≥ 0.8 ⟺
    * 5·alpha ≥ 4n), so the verdicts are bit-exact on any engine — the
    * t01/q29 convention. Rules (doc drops if ANY fails):
    *   r_wc    word count ∈ [minWords, maxWords]
    *   r_mwl   mean word length ∈ [3, 10]
    *   r_sym   symbol-to-word ratio ≤ 0.1 — symbols are '#' and the
    *           ellipsis, BOTH spellings (ASCII "..." and U+2026 '…')
    *   r_alpha ≥ 80 % of words contain an alphabetic character
    *   r_stop  ≥ 2 hits from the Gopher stop-word list
    * Returns the input plus the five rule columns and `r_pass_all`. */
  def gopherRules(docs: DataFrame, minWords: Int = 50,
      maxWords: Int = 100000, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val base = docs.filter(col(textCol).isNotNull)
      .withColumn("_toks", toks)
      .withColumn("_n", size(col("_toks")).cast("long"))
      .withColumn("_sumlen",
        aggregate(col("_toks"), lit(0L), (acc, t) => acc + length(t)))
      .withColumn("_sym",
        (size(regexp_extract_all(col(textCol), lit("#"), lit(0))) +
          size(regexp_extract_all(col(textCol), lit("(\\.\\.\\.|…)"),
            lit(0)))).cast("long"))
      .withColumn("_alpha",
        size(filter(col("_toks"), t => t.rlike("[a-z]"))).cast("long"))
      .withColumn("_stop",
        stopwordCountOfList(col("_toks"), GopherStopwords).cast("long"))
    base
      .withColumn("r_wc", col("_n") >= minWords && col("_n") <= maxWords)
      .withColumn("r_mwl",
        lit(3) * col("_n") <= col("_sumlen") &&
          col("_sumlen") <= lit(10) * col("_n"))
      .withColumn("r_sym", lit(10) * col("_sym") <= col("_n"))
      .withColumn("r_alpha", lit(5) * col("_alpha") >= lit(4) * col("_n"))
      .withColumn("r_stop", col("_stop") >= 2)
      .withColumn("r_pass_all",
        col("r_wc") && col("r_mwl") && col("r_sym") &&
          col("r_alpha") && col("r_stop"))
      .drop("_toks", "_n", "_sumlen", "_sym", "_alpha", "_stop")
  }

  /** BM25 ranked retrieval (Robertson–Spärck Jones probabilistic weighting,
    * the Okapi k1/b form; k1=1.2, b=0.75) of the corpus against a FIXED
    * query-term set — the scorer a corpus-search / hard-negative-mining
    * pipeline runs at scale. idf is the +1-inside-log variant
    * (ln(1 + (N−df+0.5)/(df+0.5))), positive even for terms in most docs.
    *
    * Determinism (t11/t13 conventions): every input to the float math is an
    * integer aggregate (tf, df, dl, N, Σdl) — avgdl included — so each
    * per-term partial score is one fixed dataflow of exact ints; the
    * per-doc total is built by fixed-order conditional aggregation (one
    * column per query term, added in term-list order), never a float SUM
    * whose addend order the shuffle picks; the total rounds to 4 dp and the
    * final ordering uses the ROUNDED score so the rank is engine-exact.
    *
    * Scale: doc length is one (doc) partial-agg shuffle, tf one (doc,term)
    * partial-agg shuffle with the IN-filter pushed below it (only query-
    * term postings shuffle, not the corpus), df + N + Σdl are single-row
    * broadcast aggregates, and the top-k compiles to
    * TakeOrderedAndProject. O(|q|) pivot columns, no UDF anywhere. */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    // constants as DOUBLE LITERALS, never Scala-computed (1.2 + 1.0 rounds
    // to a different double than the literal 2.2 — the oracle uses the
    // literals, so the kernel must too): k1=1.2, b=0.75, k1+1=2.2, 1-b=0.25
    val k1 = lit(1.2)
    val k1p1 = lit(2.2)
    val oneMinusB = lit(0.25)
    val b = lit(0.75)
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    // N and Σdl in one single-row aggregate → broadcast; avgdl derived from
    // the two exact integers identically in both engines
    val corpus = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
    val tf = toks.filter(col("tok").isin(queryTerms: _*))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val avgdl = col("tot").cast("double") / col("n_docs")
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)))
    val partial = tf.join(broadcast(df_), "tok")
      .join(dl, idCol)
      .crossJoin(broadcast(corpus))
      .withColumn("s", idf * (col("tf") * k1p1) /
        (col("tf") + k1 * (oneMinusB + b * col("dl") / avgdl)))
    // fixed-order pivot sum: term columns added in queryTerms order
    val termCols = queryTerms.map(t =>
      coalesce(max(when(col("tok") === t, col("s"))), lit(0.0)))
    val total = termCols.reduceLeft(_ + _)
    val scored = partial.groupBy(col(idCol))
      .agg(round(total, 4).as("score"), count(lit(1)).as("n_terms"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("score").desc, col(idCol))
    scored.orderBy(col("score").desc, col(idCol)).limit(k)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("rnk"), col(idCol), col("score"), col("n_terms"))
  }
}
