package graft

import graft.core.RobotsTxt
import graft.sources.Sitemap
import org.scalatest.funsuite.AnyFunSuite

class SitemapSpec extends AnyFunSuite {

  lazy val spark = LocalSpark.session(4)

  test("urlset parse: loc/lastmod/changefreq/priority, optional fields null") {
    val rows = Sitemap.parseRecords(
      """<?xml version="1.0" encoding="UTF-8"?>
        |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        |  <url>
        |    <loc>http://a.example/p?x=1&amp;y=2</loc>
        |    <lastmod>2024-03-05T06:07:08Z</lastmod>
        |    <changefreq>daily</changefreq>
        |    <priority>0.8</priority>
        |  </url>
        |  <url><loc>http://a.example/bare</loc></url>
        |</urlset>""".stripMargin, "s.xml")
    assert(rows.size == 2)
    val r = rows.head
    assert(r.kind == "url")
    // the spec REQUIRES &-escaping in <loc>; the reader must decode it
    assert(r.loc == "http://a.example/p?x=1&y=2")
    assert(r.lastmod.toInstant.toString == "2024-03-05T06:07:08Z")
    assert(r.changefreq == "daily")
    assert(r.priority.contains(0.8))
    val b = rows(1)
    assert(b.lastmod == null && b.changefreq == null && b.priority.isEmpty)
  }

  test("sitemapindex parse: child-sitemap rows, kind = sitemap") {
    val rows = Sitemap.parseRecords(
      """<sitemapindex>
        |  <sitemap><loc>http://a.example/s1.xml</loc>
        |    <lastmod>2024-02-01</lastmod></sitemap>
        |  <sitemap><loc>http://a.example/s2.xml.gz</loc></sitemap>
        |</sitemapindex>""".stripMargin, "idx.xml")
    assert(rows.map(_.kind) == Seq("sitemap", "sitemap"))
    assert(rows.map(_.loc) ==
      Seq("http://a.example/s1.xml", "http://a.example/s2.xml.gz"))
    // bare W3C date = midnight UTC
    assert(rows.head.lastmod.toInstant.toString == "2024-02-01T00:00:00Z")
  }

  test("W3C datetime forms: bare date, Z, and numeric offsets") {
    assert(Sitemap.parseW3cDate("2024-06-01").toInstant.toString ==
      "2024-06-01T00:00:00Z")
    assert(Sitemap.parseW3cDate("2024-06-01T10:00:00+02:00")
      .toInstant.toString == "2024-06-01T08:00:00Z")
    assert(Sitemap.parseW3cDate("2024-06-01T10:00:00.500Z")
      .toInstant.toString == "2024-06-01T10:00:00.500Z")
    intercept[Exception](Sitemap.parseW3cDate("junk"))
  }

  test("entity decoding: named, numeric, hex; unknown kept verbatim") {
    assert(Sitemap.decodeEntities("a&amp;b&lt;c&gt;d&quot;e&apos;f") ==
      "a&b<c>d\"e'f")
    assert(Sitemap.decodeEntities("x&#47;y&#x2F;z") == "x/y/z")
    assert(Sitemap.decodeEntities("keep &bogus; as-is") == "keep &bogus; as-is")
    assert(Sitemap.decodeEntities("no-entities") == "no-entities")
  }

  test("non-sitemap XML and loc-less entries fail loudly") {
    intercept[IllegalArgumentException](
      Sitemap.parseRecords("<html><body>nope</body></html>", "f.xml"))
    intercept[IllegalArgumentException](
      Sitemap.parseRecords("<urlset><url><lastmod>2024-01-01</lastmod></url></urlset>",
        "f.xml"))
  }

  test("fixture round trip: distributed read returns every synthesized " +
      "row, gz and plain, index and urlsets") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n = docs.count()
    val dir = TempDirs.cleanupOnExit(java.nio.file.Files.createTempDirectory("sitemapspec").toString)
    Sitemap.synthesizeFromDocs(docs, dir)
    val out = Sitemap.read(spark, dir + "/*").collect()
    assert(out.count(_.getString(1) == "url") == n)
    assert(out.count(_.getString(1) == "sitemap") == 3)
    // the gz urlset contributed its share
    assert(out.exists(r => r.getString(0) == "part-2.xml.gz" &&
      r.getString(1) == "url"))
    // index rows point at the three part files by absolute URL
    assert(out.filter(_.getString(1) == "sitemap").map(_.getString(2)).toSet ==
      (0 until 3).map(f =>
        s"http://index.example.org/sitemaps/${Sitemap.partName(f)}").toSet)
    // every url row carries the full hint column set
    assert(out.filter(_.getString(1) == "url").forall(r =>
      !r.isNullAt(3) && !r.isNullAt(4) && !r.isNullAt(5)))
  }

  test("freshness schedule: next due = max(lastmod) + min(interval); " +
      "'never' excluded; no evidence => null => applySchedule crawls") {
    import spark.implicits._
    val us = 1000000L
    val rows = Seq(
      // a.example: daily beats never; newest lastmod 10:00
      ("url", "http://a.example/1", ts("2024-01-01T08:00:00Z"), "daily"),
      ("url", "http://a.example/2", ts("2024-01-01T10:00:00Z"), "never"),
      // b.example: only 'never' => interval null => next_due null
      ("url", "http://b.example/1", ts("2024-01-01T00:00:00Z"), "never"),
      // c.example: no lastmod at all => next_due null
      ("url", "http://c.example/1", null.asInstanceOf[java.sql.Timestamp],
        "hourly"),
      // index rows must be ignored
      ("sitemap", "http://a.example/s.xml", ts("2024-01-01T23:00:00Z"), null))
      .toDF("kind", "loc", "lastmod", "changefreq")
    val sched = graft.sources.Sitemap.freshnessSchedule(rows).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(sched.keySet == Set("a.example", "b.example", "c.example"))
    val a = sched("a.example")
    assert(a.getLong(1) == 2) // n_urls
    assert(a.getLong(3) == 86400L * us) // daily, never excluded
    assert(a.getLong(4) ==
      ts("2024-01-01T10:00:00Z").toInstant.toEpochMilli * 1000 + 86400L * us)
    assert(sched("b.example").isNullAt(3) && sched("b.example").isNullAt(4))
    assert(sched("c.example").isNullAt(2) && sched("c.example").isNullAt(4))

    // gate a host dimension on it: overdue/no-evidence hosts crawl,
    // not-yet-due hosts are deferred (same applySchedule as q68)
    val hosts = Seq(("a.example", true), ("b.example", true),
      ("d.example", true)).toDF("host", "enabled")
    val nowUs = ts("2024-01-01T12:00:00Z").toInstant.toEpochMilli * 1000
    val gated = graft.crawl.Freshness.applySchedule(
        hosts, graft.sources.Sitemap.freshnessSchedule(rows), nowUs)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(!gated("a.example")) // due 2024-01-02T10:00 — deferred
    assert(gated("b.example")) // null schedule — due now
    assert(gated("d.example")) // absent from the sitemap — due now
  }

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse(s))

  test("robots.txt Sitemap lines: global, case-insensitive, deduped") {
    val txt =
      """User-agent: *
        |Disallow: /private
        |SITEMAP: http://a.example/sitemap.xml   # comment
        |User-agent: other
        |Sitemap: http://a.example/sitemap2.xml.gz
        |sitemap: http://a.example/sitemap.xml
        |Sitemap:
        |""".stripMargin
    assert(RobotsTxt.sitemaps(txt) == Seq(
      "http://a.example/sitemap.xml",
      "http://a.example/sitemap2.xml.gz"))
    assert(RobotsTxt.sitemaps("") == Nil)
    // extraction must not disturb the policy parse
    val p = RobotsTxt.parse(txt, "graftbot")
    assert(p.disallow == Seq("/private"))
  }
}
