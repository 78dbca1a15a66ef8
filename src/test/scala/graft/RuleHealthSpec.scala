package graft

import java.sql.Timestamp

import graft.core._
import graft.crawl.HostHealth
import org.scalatest.funsuite.AnyFunSuite

/** Units for the coverage-gap modules: charset sniffing (U11), rule-
  * driven extraction (S4/U13/JPath), href rewriting (U8), list-template
  * assist (U12), JSON parsing, host-health classification (F7/F8). */
class RuleHealthSpec extends AnyFunSuite {

  lazy val spark = LocalSpark.session(4)

  test("charset: meta sniff round-trips GB2312 bytes") {
    val html = """<html><head><meta http-equiv="Content-Type" """ +
      """content="text/html; charset=gb2312"><title>新闻</title></head>""" +
      """<body>作者：张伟</body></html>"""
    val gb = html.getBytes("GB2312")
    assert(CharsetDetect.sniff(gb).map(_.name) == Some("GB2312"))
    assert(CharsetDetect.decode(gb) == html)
    // utf8 fixup + unknown fallback
    assert(CharsetDetect.resolve("utf8").name == "UTF-8")
    assert(CharsetDetect.resolve("bogus-enc").name == "UTF-8")
    // header charset wins over meta
    assert(CharsetDetect.decode(gb, Some("GBK")) == new String(gb, "GBK"))
    // modern syntax
    assert(CharsetDetect.sniff("<meta charset=utf-8><p>x</p>".getBytes)
      .map(_.name) == Some("UTF-8"))
  }

  test("mini json: values, nesting, escapes, jsonp") {
    assert(MiniJson.parse("""{"a": [1, 2.5, "x\nq"], "b": {"c": true}}""") ==
      Map("a" -> Vector(1.0, 2.5, "x\nq"), "b" -> Map("c" -> true)))
    assert(MiniJson.parse("""[null, false]""") == Vector(null, false))
    assert(MiniJson.parse("\"\\u4e2d\"") == "中")
    assert(MiniJson.parseOpt("{bad").isEmpty)
    val fed = TextNormalize.trimJsonP("""cb({"items":[{"u":"x"}]});""")
    assert(MiniJson.select(MiniJson.parse(fed), "$.items[*].u") == Vector("x"))
    assert(MiniJson.select(MiniJson.parse("""{"a":[10,20,30]}"""), "$.a[1]") ==
      Vector(20.0))
  }

  test("rule engine: JPath feed rule extracts, revises and canonicalizes") {
    // single-line feed: the reference's TrimJsonP regex (HtmlHelper.cs:289)
    // does not span newlines, and ours is byte-faithful to it
    val feed = """jsonp_cb({"data": {"list": [""" +
      """{"url": "/news/101.html", "title": "First", "date": "2024-03-01 08:00"}, """ +
      """{"url": "/news/102.html", "title": "Second", "date": "2024-03-02 09:00"}, """ +
      """{"url": "/news/101.html", "title": "", "date": "2024-03-01 08:00"}]}})"""
    val rule = CatalogRule("JPath", "$.data.list[*]")
    val items = RuleEngine.detect(feed, "http://api.example.com/feed", rule)
    assert(items.map(_.url) == Vector(
      "http://api.example.com/news/101.html",
      "http://api.example.com/news/102.html"))
    assert(items.head.title == "First")
    assert(items.head.published.get.toString == "2024-03-01T08:00")
  }

  test("rule engine: regex rule with named groups and url revise") {
    val html =
      """<item><link>http://s.com/p?id=1</link><t>Alpha</t><d>2024-01-05</d></item>
        |<item><link>http://s.com/p?id=2</link><t>Beta</t><d>2024-01-06</d></item>""".stripMargin
    val rule = CatalogRule("Regex",
      "<item><link>(?<url>[^<]+)</link><t>(?<title>[^<]+)</t><d>(?<date>[^<]+)</d></item>",
      itemUrlRevise = Some(("p\\?id=", "article/")))
    val items = RuleEngine.detect(html, "http://s.com/", rule)
    assert(items.map(_.url) == Vector("http://s.com/article/1", "http://s.com/article/2"))
    assert(items(1).title == "Beta")
    assert(items(1).published.isDefined)
  }

  test("rule engine: page-url revise mirrors reference regex replace") {
    val rule = CatalogRule("Regex", "x",
      pageUrlRevise = Some(("/List\\.html$", "/ajax/list.json")))
    assert(RuleEngine.revisePageUrl("http://a.com/news/list.html", rule) ==
      "http://a.com/news/ajax/list.json")
  }

  test("resolveHtmlUrls rewrites href/src honoring <base>") {
    val html = """<base href="http://cdn.x.com/m/"><a href="a/1.html">x</a>""" +
      """<img src='/i/p.png'><a href="#top">t</a><a href="javascript:f()">j</a>"""
    val out = UrlCanon.resolveHtmlUrls(html, "http://orig.com/page.html")
    assert(out.contains("""href="http://cdn.x.com/m/a/1.html""""))
    assert(out.contains("""src="http://cdn.x.com/i/p.png""""))
    assert(out.contains("""href="#top""""))
    assert(out.contains("""href="javascript:f()""""))
  }

  test("detectListPath suggests the winning block's iteration XPath (U12)") {
    val html = (1 to 4).map(i =>
      s"""<li><a href="/story/$i.html">Headline number $i long</a> 2024-02-0$i</li>""")
      .mkString("<html><body><ul>", "", "</ul></body></html>")
    assert(CatalogDetect.detectListPath(html) ==
      Some("/html[1]/body[1]/ul[1]/li[*]/a[1]"))
  }

  test("host health: classification ladder and enabled transition") {
    import spark.implicits._
    val asOf = Timestamp.valueOf("2024-06-01 00:00:00")
    val facts = Seq(
      ("broken.com", true, 0, 0, None: Option[Timestamp], true),
      ("empty.com", false, 0, 0, None: Option[Timestamp], true),
      ("undated.com", false, 5, 2, None: Option[Timestamp], true),
      ("stale.com", false, 5, 0, Some(Timestamp.valueOf("2022-01-01 00:00:00")), true),
      ("ok.com", false, 5, 0, Some(Timestamp.valueOf("2024-05-30 12:00:00")), true))
      .toDF("host", "home_failed", "catalog_found", "n_undated",
        "newest_published", "validate_date")
    val got = HostHealth.classify(facts, asOf).select("host", "status")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map(
      "broken.com" -> HostHealth.ErrorBroken,
      "empty.com" -> HostHealth.ErrorCatalogMissing,
      "undated.com" -> HostHealth.WarningNoDates,
      "stale.com" -> HostHealth.ErrorOutdate,
      "ok.com" -> HostHealth.Normal))
    // F8 transition semantics (WebsiteDTO.cs:192-212)
    assert(HostHealth.nextEnabled(false, HostHealth.Normal, HostHealth.ErrorBroken))
    assert(!HostHealth.nextEnabled(true, HostHealth.WarningNoDates, HostHealth.Normal))
    assert(HostHealth.nextEnabled(true, HostHealth.WarningNoDates, HostHealth.WarningNoDates))
    assert(!HostHealth.nextEnabled(true, HostHealth.ErrorOutdate, HostHealth.ErrorOutdate))
  }

  test("sweep honors rule.validate_date=false: undated host stays Normal/enabled") {
    import graft.crawl.{HostConfig, RuleSpec}
    import spark.implicits._
    val asOf = Timestamp.valueOf("2024-06-01 00:00:00")
    val metrics = Seq(("nodates.com", 0, 5), ("strict.com", 0, 5))
      .toDF("host", "fetch_failed", "catalog_found")
    val frontier = Seq(
      ("nodates.com", None: Option[Timestamp]),
      ("strict.com", None: Option[Timestamp]))
      .toDF("host", "published")
    val hosts = spark.createDataset(Seq(
      HostConfig(1, "nodates.com", "http://nodates.com/", 1, enabled = true,
        100L, 1, rule = Some(RuleSpec("XPath", "//li", validate_date = false))),
      HostConfig(2, "strict.com", "http://strict.com/", 1, enabled = true,
        100L, 1))).toDF()
    val prev = Seq(("nodates.com", HostHealth.Normal),
      ("strict.com", HostHealth.Normal)).toDF("host", "prev_status")
    val got = HostHealth.sweep(metrics, frontier, hosts, prev, asOf)
      .select("host", "status", "next_enabled").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    // same undated facts: the opted-out host must NOT be flagged or
    // auto-disabled; the validating host must
    assert(got("nodates.com") == ((HostHealth.Normal, true)))
    assert(got("strict.com") == ((HostHealth.WarningNoDates, false)))
  }
}
