package graft

import graft.core.{RobotsPolicy, RobotsTxt}
import org.scalatest.funsuite.AnyFunSuite

class RobotsTxtSpec extends AnyFunSuite {

  test("basic group: disallow prefixes, comments, empty disallow") {
    val p = RobotsTxt.parse(
      """# comment line
        |User-agent: *
        |Disallow: /private/   # trailing comment
        |Disallow: /tmp
        |Disallow:
        |Sitemap: http://x.example.com/sitemap.xml
        |""".stripMargin, "graftbot")
    assert(p.disallow == Seq("/private/", "/tmp"))
    assert(p.allow.isEmpty && p.crawl_delay_ms.isEmpty)
    assert(!p.allows("/private/a.html"))
    assert(!p.allows("/tmpfile")) // prefix semantics
    assert(p.allows("/public/a.html"))
  }

  test("group selection: most specific user-agent wins over *") {
    val txt =
      """User-agent: *
        |Disallow: /
        |Crawl-delay: 10
        |
        |User-agent: graftbot
        |Disallow: /secret/
        |Crawl-delay: 0.25
        |""".stripMargin
    val mine = RobotsTxt.parse(txt, "graftbot")
    assert(mine.disallow == Seq("/secret/"))
    assert(mine.crawl_delay_ms.contains(250L))
    assert(mine.allows("/news/a.html"))
    val other = RobotsTxt.parse(txt, "otherbot")
    assert(other.disallow == Seq("/"))
    assert(other.crawl_delay_ms.contains(10000L))
    assert(!other.allows("/news/a.html"))
  }

  test("ua matching is a case-insensitive prefix of ours; groups merge") {
    val txt =
      """User-agent: GraftBot
        |Disallow: /a/
        |
        |User-agent: graft
        |Disallow: /b/
        |""".stripMargin
    // "graftbot" matches BOTH tokens; the longer token is more specific
    val p = RobotsTxt.parse(txt, "graftbot/1.0")
    assert(p.disallow == Seq("/a/"))
  }

  test("stacked user-agents share one rule group") {
    val p = RobotsTxt.parse(
      """User-agent: abot
        |User-agent: graftbot
        |Disallow: /x/
        |""".stripMargin, "graftbot")
    assert(p.disallow == Seq("/x/"))
  }

  test("allow overrides disallow by longest match; ties go to allow") {
    val p = RobotsTxt.parse(
      """User-agent: *
        |Disallow: /a/
        |Allow: /a/public/
        |""".stripMargin, "graftbot")
    assert(!p.allows("/a/secret.html"))
    assert(p.allows("/a/public/doc.html"))
    assert(p.allows("/elsewhere"))
    // tie: identical prefixes → allow wins
    val t = RobotsPolicy(Seq("/p/"), Seq("/p/"), None)
    assert(t.allows("/p/x"))
  }

  test("empty / null / no matching group ⇒ allow everything") {
    assert(RobotsTxt.parse("", "graftbot") == RobotsPolicy.empty)
    assert(RobotsTxt.parse(null, "graftbot") == RobotsPolicy.empty)
    val p = RobotsTxt.parse(
      "User-agent: somebodyelse\nDisallow: /\n", "graftbot")
    assert(p == RobotsPolicy.empty)
    assert(p.allows("/anything"))
  }

  test("malformed lines and bogus crawl-delay are ignored") {
    val p = RobotsTxt.parse(
      """Disallow: /orphan-before-any-group/
        |User-agent: *
        |this line has no colon
        |Crawl-delay: soon
        |Disallow: /ok/
        |""".stripMargin, "graftbot")
    assert(p.disallow == Seq("/ok/"))
    assert(p.crawl_delay_ms.isEmpty)
  }

  test("fixture contract: parse(robotsTxtFor(i)) equals the intended policy") {
    (0 until 12).foreach { i =>
      val parsed = RobotsTxt.parse(crawl.FixtureGen.robotsTxtFor(i), "graftbot")
      assert(parsed == crawl.FixtureGen.robotsFor(i), s"host $i")
    }
  }

  test("RFC 9309 wildcards: * spans segments, trailing $ anchors, mid-$ is literal") {
    val p = RobotsTxt.parse(
      """User-agent: *
        |Disallow: /*?sessionid=
        |Disallow: /*.pdf$
        |Disallow: /cgi$bin/
        |""".stripMargin, "graftbot")
    assert(!p.allows("/page?sessionid=1"), "* must span path chars")
    assert(!p.allows("/a/b/c?sessionid=2"), "* spans multiple segments")
    assert(p.allows("/a/b/c?x=1&sessionid=2"),
      "&sessionid is not the literal ?sessionid the pattern names")
    assert(p.allows("/page?session=1"), "near-miss param stays allowed")
    assert(!p.allows("/docs/a.pdf"), "trailing $ matches at end")
    assert(p.allows("/docs/a.pdf.html"), "trailing $ rejects a longer path")
    assert(!p.allows("/cgi$bin/x"), "mid-pattern $ is a literal character")
    assert(p.allows("/cgibin/x"))
  }

  test("hostile wildcard patterns match in linear time (no regex backtracking)") {
    // site-controlled input: the classic catastrophic-backtracking shape
    val p = RobotsTxt.parse(
      "User-agent: *\nDisallow: /*a*a*a*a*a*a*a*a*a*a*a*a*b$\n", "graftbot")
    val longPath = "/" + ("a" * 4000) // no 'b' → worst case for backtracking
    val t0 = System.nanoTime()
    assert(p.allows(longPath))
    assert(!p.allows(longPath + "b"))
    val ms = (System.nanoTime() - t0) / 1e6
    assert(ms < 200.0, s"hostile pattern took $ms ms — matcher must be linear")
  }

  test("$ without * is an exact-path rule; greedy segments respect the end anchor") {
    val p = RobotsTxt.parse(
      "User-agent: *\nDisallow: /exact$\nDisallow: /x*y$\n", "graftbot")
    assert(!p.allows("/exact"))
    assert(p.allows("/exact/sub"), "anchored literal must not match a longer path")
    assert(p.allows("/exac"))
    assert(!p.allows("/xzzy"))
    assert(p.allows("/x"), "the tail segment needs room after the head")
    assert(!p.allows("/xy"))
    assert(p.allows("/xy-not-end"))
  }

  test("wildcard precedence: specificity is PATTERN length, allow wins ties") {
    val p = RobotsTxt.parse(
      """User-agent: *
        |Disallow: /p
        |Allow: /p/*.html$
        |""".stripMargin, "graftbot")
    assert(p.allows("/p/index.html"), "longer Allow pattern outranks /p")
    assert(!p.allows("/p/raw.dat"), "short Disallow still holds elsewhere")
    // a blanket * disallow (specificity 1) loses to any longer allow
    val q = RobotsTxt.parse(
      "User-agent: *\nDisallow: *\nAllow: /public/\n", "graftbot")
    assert(q.allows("/public/x") && !q.allows("/private/x"))
  }

  /** Exactly `n` bytes of ASCII comment lines. */
  private def pad(n: Int): String = {
    val sb = new StringBuilder
    var left = n
    while (left > 100) { sb.append("#").append("x" * 98).append('\n'); left -= 100 }
    if (left >= 2) sb.append("#").append("x" * (left - 2)).append('\n')
    else if (left == 1) sb.append('\n')
    sb.toString
  }
  private val Cap = RobotsTxt.MaxParseBytes
  private val TwoMB = 2 * 1024 * 1024
  private val head = "User-agent: *\n"

  test("size cap: in a 2 MB file a rule past 500 KiB is ignored") {
    assert(Cap == 500 * 1024)
    val rule = "Disallow: /late/\n"
    val txt = head + "Disallow: /early/\n" + pad(600 * 1024) + rule +
      pad(TwoMB - 600 * 1024)
    assert(txt.length > TwoMB)
    val p = RobotsTxt.parse(txt, "graftbot")
    assert(p.disallow == Seq("/early/"))
    assert(!p.allows("/early/x") && p.allows("/late/x"))
    // the cap counts UTF-8 bytes, not chars: 200k three-byte chars fill it
    val wide = head + "# " + "\u4e2d" * 200000 + "\n" + rule
    assert(RobotsTxt.parse(wide, "graftbot").allows("/late/x"))
  }

  test("size cap: sitemaps reads the same prefix as parse") {
    val txt = "Sitemap: http://a.example/early.xml\n" + pad(600 * 1024) +
      "Sitemap: http://a.example/late.xml\n" + pad(TwoMB - 600 * 1024)
    assert(txt.length > TwoMB)
    assert(RobotsTxt.sitemaps(txt) == Seq("http://a.example/early.xml"))
  }

  test("size cap: a rule ending at the cap's last byte is honoured, a straddling line is dropped") {
    val rule = "Disallow: /edge/\n"
    val inside = head + pad(Cap - head.length - rule.length) + rule
    assert(inside.length == Cap)
    val p = RobotsTxt.parse(inside + pad(TwoMB), "graftbot")
    assert(!p.allows("/edge/x"), "a rule inside the cap must hold")
    // "Disallow: /str" fits under the cap, the rest of the line does not;
    // parsing the fragment would wrongly block /straddle/
    val straddle = head + pad(Cap - head.length - 14) +
      "Disallow: /straddle/\n" + pad(TwoMB)
    val q = RobotsTxt.parse(straddle, "graftbot")
    assert(q.disallow.isEmpty && q.allows("/straddle/x"))
  }

  test("size cap: a file under the cap parses exactly as before") {
    val rules = "Disallow: /a/\nAllow: /a/ok\nCrawl-delay: 2\n"
    val plain = RobotsTxt.parse(head + rules, "graftbot")
    assert(plain == RobotsPolicy(Seq("/a/"), Seq("/a/ok"), Some(2000L)))
    // padded to just under the cap, rules last
    val big = head + pad(Cap - head.length - rules.length) + rules
    assert(big.length == Cap)
    assert(RobotsTxt.parse(big, "graftbot") == plain)
    // two-byte chars: more chars than the 3-byte fast path admits, still
    // under the byte cap, so nothing is cut
    val wide = head + "# " + "\u00e9" * 200000 + "\n" + rules
    assert(RobotsTxt.parse(wide, "graftbot") == plain)
  }
}
