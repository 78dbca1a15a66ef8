package perfbench

import graft.core.{CatalogDetect, CharsetDetect, RuleEngine, UrlCanon}
import graft.core.filters.{BloomFilter, CuckooFilter}
import graft.crawl.{FixtureCfg, FixtureGen, RuleSpec}

/** Single-thread timings of the `graft.core` kernels, called through
  * their public functions. Each returns items per second. */
object Kernels {

  @volatile private var sink = 0L

  private def rate(items: Long)(body: => Long): Double = {
    val t0 = System.nanoTime()
    sink += body
    items / ((System.nanoTime() - t0) / 1e9)
  }

  /** Host-window indicator: a fixed extract-kernel workload (the same
    * 960 pages on every run, independent of the workload and seed).
    * Never used to gate or re-time a run; only reported. */
  def calibrate(): Double = {
    val fx = FixtureCfg(nHosts = 16, baseArticles = 60)
    val docs = for (i <- 0 until 16; j <- 0 until 60)
      yield FixtureGen.articleHtml(fx, i, j).getBytes("UTF-8")
    def pass(): Long = {
      var n = 0L
      docs.foreach(d => n += graft.core.ArticleExtractor.extract(CharsetDetect.decode(d)).content.length)
      n
    }
    // JIT warm-up, not timed
    val warm = System.nanoTime()
    while (System.nanoTime() - warm < 300000000L) sink += pass()
    rate(3L * docs.size) { pass() + pass() + pass() }
  }

  /** Article pages as the engine's extract stage sees them: raw bytes
    * plus the host's rule. */
  final case class Doc(bytes: Array[Byte], rule: Option[graft.core.CatalogRule])

  def extract(docs: Seq[Doc]): Double = rate(docs.size.toLong) {
    var n = 0L
    docs.foreach(d => n += RuleEngine.parseArticle(CharsetDetect.decode(d.bytes), d.rule).content.length)
    n
  }

  /** Home pages: (bytes, home url, rule) — the scheduler's catalog
    * detection, rule-driven or automatic. Repeated `reps` times. */
  def catalogDetect(homes: Seq[(Array[Byte], String, Option[RuleSpec])], reps: Int): Double =
    rate(homes.size.toLong * reps) {
      var n = 0L
      for (_ <- 0 until reps; (b, home, rule) <- homes) {
        val html = CharsetDetect.decode(b)
        n += (rule match {
          case Some(r) =>
            val cr = RuleSpec.toCatalogRule(r)
            RuleEngine.detect(html, RuleEngine.revisePageUrl(home, cr), cr).size
          case None => CatalogDetect.detect(html, home).size
        })
      }
      n
    }

  /** Resolve + canonicalize the raw hrefs a catalog page carries. */
  def canonicalize(hrefs: Seq[(String, String)]): Double = rate(hrefs.size.toLong) {
    var n = 0L
    hrefs.foreach { case (base, h) => n += UrlCanon.canonicalize(UrlCanon.resolve(base, h)).length }
    n
  }

  /** Membership probes against sketches holding the crawl's url set:
    * every url once (all hits) plus as many absent urls. */
  def bloomProbe(urls: Seq[String]): Double = {
    val b = BloomFilter.create(math.max(1L, urls.size.toLong), 0.01)
    urls.foreach(b.putString)
    val probes = urls ++ urls.map(_ + "?absent")
    rate(probes.size.toLong) { probes.count(b.mightContainString).toLong }
  }

  def cuckooProbe(urls: Seq[String]): Double = {
    val c = CuckooFilter.create(math.max(1, urls.size))
    urls.foreach(c.insertString)
    val probes = urls ++ urls.map(_ + "?absent")
    rate(probes.size.toLong) { probes.count(c.containsString).toLong }
  }
}
