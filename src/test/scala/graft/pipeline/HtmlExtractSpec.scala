package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Goldens for [[TextAnalysis.htmlToText]] — the deterministic rule set
  * between a WARC response payload and `documents.text`. Each golden pins
  * one rule family: comment/script/style content must not leak, block
  * tags become newlines, entity decode runs AFTER tag removal and in the
  * documented order, whitespace normalizes, and the documented-subset
  * behaviors (numeric refs, attribute `>`) are what the scaladoc says. */
class HtmlExtractSpec extends SparkSpec {
  import spark.implicits._

  private def extract(html: String): String =
    Seq(html).toDF("html")
      .select(TextAnalysis.htmlToText(col("html")).as("t"))
      .as[String].head()

  test("basic page: block tags → newlines, inline tags drop, ends trim") {
    assert(extract("<html><body><h1>Title</h1><p>Hello <b>bold</b> " +
      "world</p><div>tail</div></body></html>") ===
      "Title\nHello bold world\ntail")
  }

  test("script and style bodies never leak — including a literal </div> " +
    "and an unbracketed < inside script") {
    assert(extract("<p>a</p><script>var s = \"</div>\"; if (1 < 2) " +
      "{ go(); }</script><p>b</p>") === "a\nb")
    assert(extract("<style>p { color: #fff }</style><p>x</p>") === "x")
    // case-insensitive per the rule set
    assert(extract("<SCRIPT>leak()</SCRIPT><P>y</P>") === "y")
  }

  test("comments drop, even when they hold tag text") {
    assert(extract("<!-- nav <p>skip</p> --><p>kept</p>") === "kept")
    assert(extract("a <!-- multi\nline\ncomment --> b") === "a b")
    // script strips BEFORE comments: an unmatched <!-- inside a script
    // body (the legacy-JS comment hack) must not eat the document
    assert(extract("<script>var s = \"<!--\";</script><p>hi</p>" +
      "<!-- x -->") === "hi")
    // a whole script element inside a comment is removed first, then
    // the emptied comment drops — nothing leaks either way
    assert(extract("<!-- <script>x</script> --><p>ok</p>") === "ok")
    // the DOCUMENTED residual of script-first ordering: a commented-out
    // </script> INSIDE a script body truncates the script match early
    // and the tail leaks — pinned so a rule change shows up here
    assert(extract("<script>a<!--</script>-->b</script><p>t</p>") ===
      "-->b\nt")
  }

  test("entities decode AFTER tag removal (escaped markup is text, " +
    "never a tag) and amp decodes last") {
    assert(extract("<p>&lt;script&gt;not code&lt;/script&gt;</p>") ===
      "<script>not code</script>")
    // double-escape: &amp;lt; is the TEXT '&lt;', not a '<'
    assert(extract("<p>&amp;lt;</p>") === "&lt;")
    assert(extract("<p>a&nbsp;b &quot;c&quot; &#39;d&apos;</p>") ===
      "a b \"c\" 'd'")
    // outside the documented named set: left verbatim
    assert(extract("<p>&copy; &#169;</p>") === "&copy; &#169;")
  }

  test("nested and attribute-heavy blocks: one newline per tag edge, " +
    "runs collapse") {
    assert(extract("<div class=\"a\"><ul><li>one</li><li>two</li></ul>" +
      "</div>") === "one\ntwo")
    assert(extract("<p>a</p>\n\n  \n<p>b</p>") === "a\nb")
    assert(extract("line1<br/>line2<hr>line3") === "line1\nline2\nline3")
  }

  test("malformed markup degrades per the documented subset") {
    // unclosed tag at EOF: no '>' → the '<' run survives as text
    assert(extract("<p>ok</p><p unclosed") === "ok\n<p unclosed")
    // '>' inside an attribute value splits the tag early (regex-scoped
    // recognition): the remainder 'b">' is text
    assert(extract("<p title=\"a > b\">x</p>") === "b\">x")
    // stray close tags are just tags
    assert(extract("</p></div>text") === "text")
  }

  test("whitespace: horizontal runs → one space, CRLF and tabs fold, " +
    "newline runs → one newline") {
    assert(extract("<p>a\t\tb</p>") === "a b")
    // a source newline is a block separator in this rule set (the CR
    // folds to space, the LF survives the newline-run rule)
    assert(extract("<p>a\r\nb</p>") === "a\nb")
    assert(extract("  <p>  a  </p>  ") === "a")
  }

  test("HTTP message split: body after first CRLFCRLF, headers scoped, " +
    "status parsed, bare payloads lenient") {
    val msg = "HTTP/1.1 301 Moved\r\nLocation: /x\r\ncontent-type: " +
      "text/plain\r\n\r\nbody\r\nContent-Type: fake\r\n\r\ntail"
    val got = Seq(msg).toDF("m").select(
        TextAnalysis.httpStatus(col("m")).as("st"),
        TextAnalysis.httpHeader(col("m"), "Content-Type").as("ct"),
        TextAnalysis.httpHeader(col("m"), "X-Missing").as("mi"),
        TextAnalysis.httpBody(col("m")).as("b"))
      .as[(Option[Long], String, String, String)].head()
    assert(got._1 === Some(301L))
    // case-insensitive, and the body's 'Content-Type: fake' line can
    // never shadow a real header — lookups see the header block only
    assert(got._2 === "text/plain")
    assert(got._3 === "")
    // the body keeps its own CRLFCRLF verbatim (split at FIRST only)
    assert(got._4 === "body\r\nContent-Type: fake\r\n\r\ntail")
    // no separator: all body, null status, empty headers
    val bare = Seq("just html").toDF("m").select(
        TextAnalysis.httpStatus(col("m")).as("st"),
        TextAnalysis.httpBody(col("m")).as("b"),
        TextAnalysis.httpHeaders(col("m")).as("h"))
      .as[(Option[Long], String, String)].head()
    assert(bare === ((None, "just html", "")))
    // a separator-less capture STARTING with a status line is still
    // all-body with a NULL status — a status parsed out of body text
    // would let filter(status===200) admit raw header bytes
    val trunc = Seq("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n<html>")
      .toDF("m").select(
        TextAnalysis.httpStatus(col("m")).as("st"),
        TextAnalysis.httpBody(col("m")).as("b"))
      .as[(Option[Long], String)].head()
    assert(trunc._1 === None)
    assert(trunc._2 === "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n<html>")
  }

  test("lineDedup: corpus-repeated lines drop, order survives, an " +
    "all-boilerplate doc reassembles to the empty string") {
    val docs = Seq(
      (1L, "nav\nalpha\nfooter"),
      (2L, "nav\nbeta\nfooter"),
      (3L, "nav\nfooter"), // every line boilerplate → clean == ""
      (4L, "gamma\n\ndelta\n"), // inner + trailing empties are lines
      (5L, "epsilon\n\nzeta\n") // "" occurs 4x globally → boilerplate
    ).toDF("doc_id", "text")
    val got = TextAnalysis.lineDedup(docs)
      .select($"doc_id", $"n_kept", $"n_dropped", $"clean")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((1L, 2L, "alpha")))
    assert(got(2L) === ((1L, 2L, "beta")))
    assert(got(3L) === ((0L, 2L, "")))
    // the two "" lines per doc (inner + trailing) are corpus-repeated
    assert(got(4L) === ((2L, 2L, "gamma\ndelta")))
    assert(got(5L) === ((2L, 2L, "epsilon\nzeta")))
    // threshold: a twice-occurring line drops at maxOccurrences = 1
    // and survives at 2
    val two = Seq((1L, "dup\nuniq1"), (2L, "dup\nuniq2"))
      .toDF("doc_id", "text")
    assert(TextAnalysis.lineDedup(two).filter($"doc_id" === 1L)
      .select($"clean").as[String].head() === "uniq1")
    assert(TextAnalysis.lineDedup(two, maxOccurrences = 2)
      .filter($"doc_id" === 1L)
      .select($"clean").as[String].head() === "dup\nuniq1")
  }

  test("persisted line index: probe equals the full recompute on the " +
    "increment; append extends the stored counts; threshold rides the " +
    "index meta") {
    val corpus = Seq(
      (1L, "nav\nalpha\nfooter"),
      (2L, "nav\nbeta\nfooter"),
      (3L, "solo\nlines\nonly")).toDF("doc_id", "text")
    val incr = Seq(
      (10L, "nav\nnew text\nfooter"), // nav/footer stored-dup
      (11L, "fresh\nfresh"), // increment-internal dup (2 > 1)
      (12L, "solo\nunique tail") // dup only via stored count
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("line_idx").toString
    TextAnalysis.writeLineIndex(corpus, dir)
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"n_kept", $"n_dropped", $"clean")
        .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    val viaIndex = collect(TextAnalysis.lineDedupAgainstIndex(incr, dir))
    val recompute = collect(
      TextAnalysis.lineDedup(corpus.unionAll(incr))
        .filter($"doc_id" >= 10L))
    assert(viaIndex === recompute, "index path must equal the recompute")
    assert(viaIndex.find(_._1 == 11L).get._3 === 2L,
      "increment-internal duplicates must drop without any stored hit")
    assert(viaIndex.find(_._1 == 12L).get._4 === "unique tail",
      "a stored single occurrence + one increment occurrence must drop")

    // append admits the first increment; a second increment now sees
    // stored counts covering corpus + increment 1
    graft.util.PersistedIndex(spark, dir)
      .append(1, TextAnalysis.lineIndexRows(incr))
    val incr2 = Seq((20L, "new text\nbrand new")).toDF("doc_id", "text")
    val via2 = collect(TextAnalysis.lineDedupAgainstIndex(incr2, dir))
    val re2 = collect(
      TextAnalysis.lineDedup(corpus.unionAll(incr).unionAll(incr2))
        .filter($"doc_id" === 20L))
    assert(via2 === re2, "post-append probe must equal the recompute")
    assert(via2.head._4 === "brand new",
      "'new text' is stored once + arrives once -> boilerplate")

    // the threshold is the INDEX'S, not the probe's: build at 2
    val dir2 = java.nio.file.Files.createTempDirectory("line_idx2").toString
    TextAnalysis.writeLineIndex(corpus, dir2, maxOccurrences = 2)
    val loose = collect(TextAnalysis.lineDedupAgainstIndex(incr, dir2))
    assert(loose.find(_._1 == 12L).get._4 === "solo\nunique tail",
      "at threshold 2 a second 'solo' occurrence survives")
  }

  test("htmlExtract over the t34 corpus: every extract carries the " +
    "chrome shape and the de-escaped text") {
    val docs = graft.util.Tables.documents(spark, sfTiny)
      .filter($"text".isNotNull)
    val got = graft.queries.PipelineQueries.t34HtmlExtract(spark, sfTiny)
    assert(got.count() === docs.count())
    // spot-check one doc end to end: heading twice, text, footer
    val d0 = docs.orderBy($"doc_id").select($"doc_id", $"text")
      .as[(Long, String)].head()
    val ext = TextAnalysis
      .htmlExtract(Seq((d0._1, s"<h1>Doc ${d0._1}</h1><p>${d0._2
        .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      }</p>")).toDF("doc_id", "html"))
      .as[(Long, String)].head()
    assert(ext._2.startsWith(s"Doc ${d0._1}\n"))
  }
}
