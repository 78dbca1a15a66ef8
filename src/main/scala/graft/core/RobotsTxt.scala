package graft.core

import java.util.Locale

/** Effective robots policy for one user-agent: path-prefix rules plus an
  * optional crawl-delay. The engine caches this per host in its carried
  * state (the north rule's "robots.txt cache") and re-parses on TTL
  * expiry (WaveEngine.RobotsTtlWaves). */
final case class RobotsPolicy(
    disallow: Seq[String],
    allow: Seq[String],
    crawl_delay_ms: Option[Long]) {
  // compiled once per policy instance (policies are built per host per
  // wave inside the task); rules themselves persist as plain strings
  // in the carried state, so wildcard rules survive checkpoints
  @transient private lazy val disC = disallow.map(RobotsTxt.compileRule)
  @transient private lazy val alwC = allow.map(RobotsTxt.compileRule)
  def allows(path: String): Boolean =
    RobotsTxt.allowedCompiled(path, disC, alwC)
}

object RobotsPolicy {
  val empty: RobotsPolicy = RobotsPolicy(Nil, Nil, None)
}

/** Minimal robots.txt parser (RFC 9309 subset, plus the de-facto
  * `Crawl-delay` extension):
  *
  *  - groups = one or more `User-agent` lines followed by rule lines;
  *  - group selection: the most specific matching user-agent token wins
  *    (longest token that is a case-insensitive prefix of ours, `*`
  *    matching everything at specificity 0); ALL groups at the winning
  *    specificity merge;
  *  - `Disallow` / `Allow` values are path patterns (empty Disallow =
  *    no restriction) matched per RFC 9309 §2.2.3: anchored at the
  *    path start, `*` matches any character sequence, a TRAILING `$`
  *    anchors the end (a `$` anywhere else is literal — the spec only
  *    defines it as an end anchor). Precedence is
  *    most-specific-match-wins where specificity = the PATTERN's
  *    character length (Google's documented tie-break; for
  *    wildcard-free rules this degenerates to classic
  *    longest-prefix-wins), Allow winning exact ties;
  *  - `Crawl-delay` is (possibly fractional) seconds → milliseconds;
  *  - `#` comments and unknown keys are ignored.
  */
object RobotsTxt {

  /** `Sitemap:` lines, in file order (de-duplicated, first win). Per
    * RFC 9309 §2.3 / sitemaps.org these are GLOBAL — independent of any
    * user-agent group — so they are extracted separately from the
    * policy [[parse]] (whose per-UA result the engine caches); values
    * are absolute sitemap URLs to feed [[graft.sources.Sitemap.read]].
    * Reads at most the first [[MaxParseBytes]] of `text`, like [[parse]]. */
  def sitemaps(text: String): Seq[String] = {
    if (text == null || text.isEmpty) return Nil
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    capped(text).linesIterator.foreach { raw =>
      val line = { val h = raw.indexOf('#'); if (h >= 0) raw.substring(0, h) else raw }.trim
      val ci = line.indexOf(':')
      if (ci > 0 &&
          line.substring(0, ci).trim.equalsIgnoreCase("sitemap")) {
        val v = line.substring(ci + 1).trim
        if (v.nonEmpty) seen += v
      }
    }
    seen.toVector
  }

  /** Parse cap in UTF-8 bytes: RFC 9309 §2.5 requires a crawler to parse
    * at least 500 KiB, and a site-controlled file must not grow the
    * cached policy without bound. */
  val MaxParseBytes: Int = 500 * 1024

  /** The longest prefix of `text` within [[MaxParseBytes]] UTF-8 bytes,
    * cut after its last line break so no partial line is parsed. */
  private[core] def capped(text: String): String = {
    // a UTF-16 char never takes more than 3 UTF-8 bytes
    if (text.length.toLong * 3 <= MaxParseBytes) return text
    var bytes = 0L
    var i = 0
    while (i < text.length && bytes <= MaxParseBytes) {
      val c = text.charAt(i)
      bytes += (if (c < 0x80) 1 else if (c < 0x800 ||
        Character.isSurrogate(c)) 2 else 3)
      i += 1
    }
    if (bytes <= MaxParseBytes) text
    else {
      // char i-1 crossed the cap; keep whole lines before it
      text.substring(0,
        text.lastIndexWhere(c => c == '\n' || c == '\r', i - 2) + 1)
    }
  }

  /** The policy for `userAgent`, from at most the first
    * [[MaxParseBytes]] of `txt`. */
  def parse(txt: String, userAgent: String): RobotsPolicy = {
    if (txt == null || txt.isEmpty) return RobotsPolicy.empty
    val text = capped(txt)
    val ua = userAgent.toLowerCase(Locale.ROOT)

    // group = (uaTokens, disallow, allow, delayMs)
    final case class Group(
        uas: Vector[String], dis: Vector[String], alw: Vector[String],
        delay: Option[Long])
    val groups = Vector.newBuilder[Group]
    var curUas = Vector.empty[String]
    var curDis = Vector.empty[String]
    var curAlw = Vector.empty[String]
    var curDelay: Option[Long] = None
    var inRules = false // rule lines seen since the last User-agent run
    def flush(): Unit = {
      if (curUas.nonEmpty) groups += Group(curUas, curDis, curAlw, curDelay)
      curUas = Vector.empty; curDis = Vector.empty; curAlw = Vector.empty
      curDelay = None; inRules = false
    }
    text.linesIterator.foreach { raw =>
      val line = { val h = raw.indexOf('#'); if (h >= 0) raw.substring(0, h) else raw }.trim
      val ci = line.indexOf(':')
      if (ci > 0) {
        val key = line.substring(0, ci).trim.toLowerCase(Locale.ROOT)
        val value = line.substring(ci + 1).trim
        key match {
          case "user-agent" =>
            if (inRules) flush()
            curUas :+= value.toLowerCase(Locale.ROOT)
          case "disallow" if curUas.nonEmpty =>
            inRules = true; if (value.nonEmpty) curDis :+= value
          case "allow" if curUas.nonEmpty =>
            inRules = true; if (value.nonEmpty) curAlw :+= value
          case "crawl-delay" if curUas.nonEmpty =>
            inRules = true
            try { curDelay = Some(math.round(value.toDouble * 1000.0)) }
            catch { case _: NumberFormatException => }
          case _ => // sitemap / unknown keys: ignored
        }
      }
    }
    flush()

    // specificity of the best-matching UA token per group; -1 = no match
    def spec(g: Group): Int = g.uas.foldLeft(-1) { (best, tok) =>
      val s =
        if (tok == "*") 0
        else if (ua.startsWith(tok)) tok.length
        else -1
      math.max(best, s)
    }
    val all = groups.result()
    val bestSpec = all.map(spec).foldLeft(-1)(math.max)
    if (bestSpec < 0) return RobotsPolicy.empty
    val winning = all.filter(g => spec(g) == bestSpec)
    RobotsPolicy(
      winning.flatMap(_.dis),
      winning.flatMap(_.alw),
      winning.flatMap(_.delay).headOption)
  }

  /** One rule compiled to (specificity, matcher). Wildcard-free rules
    * keep the zero-allocation literal-prefix fast path; rules with `*`
    * or a trailing `$` use a LINEAR two-pointer greedy scan over the
    * `*`-split literal segments (every other character — including a
    * mid-rule `$` — is literal). Never a backtracking regex: robots.txt
    * is SITE-CONTROLLED input, and a hostile many-star pattern (slash,
    * then a dozen star-a pairs, then `b$`) against a long catalog path
    * would pin a politeness-stage task in
    * catastrophic backtracking; greedy leftmost segment placement is
    * equivalent for this wildcard language and O(|path|·|rule|) worst
    * case (Google's reference matcher is linear for the same reason). */
  private[core] def compileRule(rule: String): (Int, String => Boolean) = {
    val endAnchor = rule.endsWith("$")
    val body = if (endAnchor) rule.dropRight(1) else rule
    val m: String => Boolean =
      if (!endAnchor && body.indexOf('*') < 0) _.startsWith(body)
      else {
        val segs = body.split("\\*", -1) // k stars → k+1 literal segments
        if (endAnchor && segs.length == 1) _ == body // `$`, no `*`: exact
        else p => {
          if (!p.startsWith(segs.head)) false
          else {
            var pos = segs.head.length
            var ok = true
            // middle segments (and the last when unanchored): greedy
            // leftmost placement, each found strictly after the previous
            var i = 1
            val lastGreedy = if (endAnchor) segs.length - 1 else segs.length
            while (ok && i < lastGreedy) {
              val at = p.indexOf(segs(i), pos)
              if (at < 0) ok = false else pos = at + segs(i).length
              i += 1
            }
            if (!ok) false
            else if (!endAnchor) true // prefix-match semantics: tail free
            else {
              // anchored: the final segment must sit at the very end,
              // at or after the greedy scan position
              val last = segs.last
              p.length - last.length >= pos && p.endsWith(last)
            }
          }
        }
      }
    (rule.length, m)
  }

  private[core] def allowedCompiled(path: String,
      dis: Seq[(Int, String => Boolean)],
      alw: Seq[(Int, String => Boolean)]): Boolean = {
    def best(rules: Seq[(Int, String => Boolean)]): Int =
      rules.foldLeft(-1) { case (b, (len, m)) =>
        if (m(path)) math.max(b, len) else b
      }
    val d = best(dis)
    if (d < 0) true else best(alw) >= d
  }

  /** Most-specific-match-wins evaluation (specificity = pattern
    * length), Allow winning ties; no matching rule ⇒ allowed.
    * Delegates to the policy's cached compiled matchers — a per-path
    * loop must not recompile every rule per call. */
  def allowed(path: String, p: RobotsPolicy): Boolean = p.allows(path)
}
