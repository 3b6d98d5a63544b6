package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Goldens for [[Dedup.canonicalUrl]] / [[Dedup.urlDedupDecisions]] — the
  * C4-family URL preprocessing pass. */
class UrlDedupSpec extends SparkSpec {
  import spark.implicits._

  private def canon(u: String): String =
    Seq(u).toDF("u").select(Dedup.canonicalUrl(col("u")).as("c"))
      .as[String].head()

  test("canonicalization rules, one golden per rule") {
    assert(canon("https://site1.com/page/2") === "https://site1.com/page/2")
    // scheme+host lowercase, path case KEPT; www strip
    assert(canon("HTTPS://WWW.Site1.COM/Page/2") ===
      "https://site1.com/Page/2")
    // default port + trailing slash
    assert(canon("https://site1.com:443/page/2/") ===
      "https://site1.com/page/2")
    // :8443 is NOT the default port; only one trailing slash strips
    assert(canon("https://site1.com:8443/a//") ===
      "https://site1.com:8443/a/")
    // fragment
    assert(canon("https://a.com/x#sec-2") === "https://a.com/x")
    // utm params: mid, lead, all, mixed-survivor
    assert(canon("https://a.com/x?id=1&utm_source=t") ===
      "https://a.com/x?id=1")
    assert(canon("https://a.com/x?utm_source=t&id=1") ===
      "https://a.com/x?id=1")
    assert(canon("https://a.com/x?utm_source=t&utm_medium=u") ===
      "https://a.com/x")
    assert(canon("https://a.com/x?utm_a=1&id=2&utm_b=3#f") ===
      "https://a.com/x?id=2")
    // a path that merely CONTAINS 'utm_' is not a tracking param
    assert(canon("https://a.com/utm_guide") === "https://a.com/utm_guide")
    // www strips at the HEAD only — a URL embedded in a query value is
    // someone else's URL and must not be rewritten
    assert(canon("https://a.com/r?to=https://www.b.com") ===
      "https://a.com/r?to=https://www.b.com")
  }

  test("the blocklist sees the domain without any port, and duplicate " +
    "blocklist rows do not multiply decisions") {
    val docs = Seq(
      (1L, "https://bad.com:8080/x"), // non-default port: still blocked
      (2L, "https://ok.com:9090/y")
    ).toDF("doc_id", "url")
    val block = Seq("bad.com", "bad.com").toDF("domain") // duplicated
    val got = Dedup.urlDedupDecisions(docs, block)
      .select($"doc_id", $"decision").as[(Long, String)].collect()
    assert(got.length === 2, s"one row per input doc, got ${got.toSeq}")
    assert(got.toMap === Map(1L -> "blocked", 2L -> "kept"))
  }

  test("decisions: blocklist before keep-first — a blocked keeper never " +
    "shadows a clean duplicate") {
    val docs = Seq(
      (1L, "https://bad.com/x"), // blocked (would be x's keeper)
      (2L, "HTTPS://WWW.OK.COM/x"), // kept (aliases 3)
      (3L, "https://ok.com/x/"), // dup of 2
      (4L, "https://sub.bad.com/y"), // blocked via registrable domain
      (5L, "https://ok.com/z") // kept
    ).toDF("doc_id", "url")
    val block = Seq("bad.com").toDF("domain")
    val got = Dedup.urlDedupDecisions(docs, block)
      .select($"doc_id", $"decision").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "blocked", 2L -> "kept", 3L -> "dup",
      4L -> "blocked", 5L -> "kept"))
  }

  test("persisted URL index: probe decisions equal the recompute over " +
    "(stored ∪ increment) restricted to increment docs") {
    val docs = graft.util.Tables.documents(spark, sfTiny)
      .filter($"text".isNotNull).select($"doc_id",
        concat(lit("https://site"), ($"doc_id" % 7).cast("string"),
          lit(".com/p/"), ($"doc_id" % 23).cast("string")).as("url"))
    val block = Seq("site3.com").toDF("domain")
    val stored = docs.filter($"doc_id" % 17 =!= 0)
    val incr = docs.filter($"doc_id" % 17 === 0)
    val dir = java.nio.file.Files.createTempDirectory("url_idx").toString
    graft.util.PersistedIndex(spark, dir)
      .build(Dedup.urlIndexRows(stored, block))
    val viaIndex = Dedup.urlDedupAgainstIndex(incr, block, dir)
      .select($"doc_id", $"decision").as[(Long, String)].collect().toMap
    val recompute = Dedup.urlDedupDecisions(docs, block)
      .filter($"doc_id" % 17 === 0)
      .select($"doc_id", $"decision").as[(Long, String)].collect().toMap
    assert(viaIndex === recompute, "index probe must equal the recompute")
    // an increment id SMALLER than every stored id for its URL takes
    // the keeper slot exactly as a recompute would
    val d2 = java.nio.file.Files.createTempDirectory("url_idx2").toString
    graft.util.PersistedIndex(spark, d2).build(Dedup.urlIndexRows(
      Seq((10L, "https://ok.com/x")).toDF("doc_id", "url"), block))
    val g2 = Dedup.urlDedupAgainstIndex(
        Seq((3L, "https://ok.com/x"), (12L, "https://ok.com/x"))
          .toDF("doc_id", "url"), block, d2)
      .select($"doc_id", $"decision").as[(Long, String)].collect().toMap
    assert(g2 === Map(3L -> "kept", 12L -> "dup"))
  }

  test("persisted URL index: appended increments are visible to the " +
    "next probe") {
    val block = Seq("nope.com").toDF("domain")
    val dir = java.nio.file.Files.createTempDirectory("url_idx3").toString
    val idx = graft.util.PersistedIndex(spark, dir)
    idx.build(Dedup.urlIndexRows(
      Seq((1L, "https://a.com/x")).toDF("doc_id", "url"), block))
    idx.append(1, Dedup.urlIndexRows(
      Seq((2L, "https://b.com/y")).toDF("doc_id", "url"), block))
    val got = Dedup.urlDedupAgainstIndex(
        Seq((5L, "https://b.com/y"), (6L, "https://c.com/z"))
          .toDF("doc_id", "url"), block, dir)
      .select($"doc_id", $"decision").as[(Long, String)].collect().toMap
    // 5 collides with the APPENDED url -> dup; 6 is novel -> kept
    assert(got === Map(5L -> "dup", 6L -> "kept"))
  }

  test("d20's selection on sf0.001 matches a driver-side replay") {
    val docs = graft.util.Tables.documents(spark, sfTiny)
      .filter($"text".isNotNull).select($"doc_id")
      .as[Long].collect().sorted
    // replay: canonical key (h, p, variantClass) with variantClass
    // separating the ?id=7 form; blocked at h in {3, 5}
    case class K(h: Long, p: Long, v4: Boolean)
    val byKey = docs.map(i => (K(i % 7, i % 50, i % 5 == 4), i))
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val want = docs.map { i =>
      val k = K(i % 7, i % 50, i % 5 == 4)
      val d = if (i % 7 == 3 || i % 7 == 5) "blocked"
        else {
          val keeper = docs.filter(j =>
            K(j % 7, j % 50, j % 5 == 4) == k && j % 7 != 3 && j % 7 != 5).min
          if (i == keeper) "kept" else "dup"
        }
      d
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = graft.queries.PipelineQueries.d20UrlDedup(spark, sfTiny)
      .select($"decision", $"n_docs").as[(String, Long)].collect().toMap
    assert(got === want)
    assert(byKey.nonEmpty)
  }
}
