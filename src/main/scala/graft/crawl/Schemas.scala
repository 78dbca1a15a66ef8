package graft.crawl

import java.sql.Timestamp

/** Row types for the crawl pipeline (typed Dataset path throughout —
  * north rule: no RDDs). The table shapes derive from the reference's
  * five-table schema (/root/reference/Source/MySQLSchema.sql) re-expressed
  * for a columnar lake:
  *
  *  - [[Page]]        — the contractual input table (BASELINE.json
  *                      input_hint): Common-Crawl-style snapshot of the web.
  *  - [[HostConfig]]  — seed list + per-host politeness budget
  *                      (≈ atc_websites, MySQLSchema.sql:64-81, plus the
  *                      north rule's crawl_delay / max_in_flight).
  *  - [[HostState]]   — per-host carried state: the `lasthandled`
  *                      checkpoint (≈ atc_crawllogs.lasthandled,
  *                      MySQLSchema.sql:22) + broken tracking
  *                      (Models/Website.cs:54-55) + cached robots rules
  *                      (north-rule addition; no reference equivalent).
  *  - [[FetchTask]]   — one scheduled article fetch: the politeness
  *                      scheduler's output, with deterministic per-host
  *                      sequence number and logical fetch time.
  *  - [[ArticleRow]]  — output store row (≈ atc_articles,
  *                      MySQLSchema.sql:2-15; unique on url by
  *                      construction — seen-filter + anti-join).
  *  - [[WaveMetrics]] / [[PartitionLineage]] — per-host success/fail
  *                      roll-ups (≈ atc_crawls counters,
  *                      Crawlers/ArticleCrawler.cs:56-68) and the north
  *                      rule's per-partition lineage rows.
  */
final case class Page(
    url: String,          // canonical form (UrlCanon.canonicalize)
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,         // expected extracted text (oracle bytes)
    lang: String)

// Robots policy (disallow/allow prefixes + crawl-delay) lives in
// graft.core.RobotsPolicy; raw robots.txt text is parsed by
// graft.core.RobotsTxt and cached per host in [[HostState]].

/** Per-host extraction rule (≈ one `atc_websiterules` row,
  * /root/reference/Source/MySQLSchema.sql:44-61, flattened for the lake
  * schema). `match_type` ∈ XPath | Regex | JPath (see core.RuleEngine);
  * `item_exp`/`root_exp` + field paths drive the CATALOG stage, the
  * `art_*_exp` columns override the ARTICLE stage
  * (cnt_exp_title/date/content/author, Analyzers/HtmlAnalyzer.cs:155-235);
  * page-url revise = S4/U13 (fetch a rewritten catalog URL, e.g. an
  * AJAX feed); item-url revise = the rule's content-URL rewrite. */
final case class RuleSpec(
    match_type: String,
    item_exp: String,
    url_field: String = "url",
    title_field: String = "title",
    date_field: String = "date",
    root_exp: Option[String] = None,
    art_title_exp: Option[String] = None,
    art_date_exp: Option[String] = None,
    art_author_exp: Option[String] = None,
    art_content_exp: Option[String] = None,
    validate_date: Boolean = true,
    page_url_revise_exp: Option[String] = None,
    page_url_revise_rep: Option[String] = None,
    item_url_revise_exp: Option[String] = None,
    item_url_revise_rep: Option[String] = None,
    // S5 routing flag (reference: sites marked for the browser proxy,
    // RequestProxy.xaml.cs / ProxyDispatcher.cs): this host's article
    // fetches go through the bound CrawlConfig.renderFetcher service
    // (JS-rendered HTML) instead of the page-snapshot join; with no
    // service bound the host falls back to the static snapshot fetch
    // (unrendered HTML — what a non-JS crawler sees).
    browser_fetch: Boolean = false)

object RuleSpec {
  def toCatalogRule(r: RuleSpec): graft.core.CatalogRule =
    graft.core.CatalogRule(r.match_type, r.item_exp, r.url_field,
      r.title_field, r.date_field, r.root_exp,
      r.art_title_exp, r.art_date_exp, r.art_author_exp, r.art_content_exp,
      r.validate_date,
      for { e <- r.page_url_revise_exp; p <- r.page_url_revise_rep } yield (e, p),
      for { e <- r.item_url_revise_exp; p <- r.item_url_revise_rep } yield (e, p))
}

/** One robots.txt document per host — engine INPUT row (alongside the
  * pages table and the host dimension), not a fixture type: production
  * callers supply their own robots snapshot in this shape. */
final case class RobotsRow(host: String, robots_txt: String)

final case class HostConfig(
    host_id: Int,
    host: String,          // registered host, lowercase
    home: String,          // seed URL (≈ atc_websites.home)
    rank: Int,             // priority score (≈ atc_websites.rank)
    enabled: Boolean,
    crawl_delay_ms: Long,  // politeness budget
    max_in_flight: Int,    // per-host concurrent fetches (reference: 1)
    rule: Option[RuleSpec] = None) // None ⇒ auto-detect catalogs

final case class HostState(
    host: String,
    lasthandled: Option[String],     // newest handled URL (checkpoint)
    broken_since: Option[Timestamp], // first-failure stamp
    robots_disallow: Seq[String],    // cached parsed robots.txt rules
    robots_allow: Seq[String],
    robots_delay_ms: Option[Long],
    robots_wave: Int,                // wave the robots cache was parsed
                                     // (TTL: WaveEngine.RobotsTtlWaves)
    fetch_ewma_ms: Option[Long] = None) // EWMA (α=1/2) of the host's
                                     // modeled per-fetch duration, fed
                                     // to the adaptive politeness delay
                                     // (CrawlConfig.adaptiveDelayFactor);
                                     // None until the first fetch

/** One article fetch scheduled by the politeness stage. `seq` is the
  * deterministic within-host order (newest-published first, reference
  * ordering Crawlers/ArticleCrawler.cs:137-148); `sched_ms` is the
  * logical fetch clock: ceil(seq / max_in_flight) * crawl_delay;
  * `rank` is the host's priority score (≈ atc_websites.rank) and keys
  * the cross-host priority frontier (CrawlConfig.maxTasksPerWave);
  * `depth` is the link distance from the seed (home = 0, catalog
  * items = 1 in the reference's two-level crawl). */
final case class FetchTask(
    wave: Int,
    host: String,
    url: String,
    title: String,
    published: Option[Timestamp],
    seq: Int,
    sched_ms: Long,
    rank: Int,
    depth: Int = 1)

/** Output store row (≈ atc_articles, MySQLSchema.sql:2-15). Column
  * parity with the reference's article table:
  *  - `content`     ≈ `content`     (byte-identical extracted text)
  *  - `contenthtml` ≈ `contenthtml` (MySQLSchema.sql:9 — the extracted
  *    content WITH its markup, as stored by Models/Article.cs:25)
  *  - `actualurl` (MySQLSchema.sql:6; the post-redirect URL recorded by
  *    the reference's live HTTP fetch) is deliberately ABSENT: in the
  *    snapshot-table model the fetch is a lookup by canonical `url` —
  *    there is no redirect hop, so actualurl ≡ url by construction.
  *    When a redirect log DOES exist, `ops.UrlOps.resolveRedirects`
  *    recovers the same url → landing-url map offline (q71). */
final case class ArticleRow(
    url: String,
    host: String,
    wave: Int,
    seq: Int,
    title: String,
    content: String,       // byte-identical extracted text
    contenthtml: String,   // extracted content with tags
    published: Option[Timestamp],
    author: Option[String],
    warc_ts: Timestamp)

/** Slim article identity — the ONLY thing the seen-filter probe, exact
  * anti-join, and intra-wave dedup window ever move or cache. Article
  * BODIES (content/contenthtml, multi-KB each) stay in the single
  * extraction cache and flow straight to the parquet write through a
  * winner semi-join; shuffling or re-caching them per decision stage
  * measurably collapsed multi-core scaling once contenthtml doubled the
  * row size (cache pressure → spill/recompute CPU). (url, host, seq) is
  * unique within a wave: tasks are canon-deduped per host. */
final case class UrlRef(url: String, host: String, seq: Int)

final case class WaveMetrics(
    wave: Int,
    host: String,
    catalog_found: Int,   // items detected on the catalog page
    scheduled: Int,       // after checkpoint-stop + robots + cap
    robots_denied: Int,
    fetched_ok: Int,
    fetch_failed: Int,    // scheduled but absent from the page table
    deduped: Int,         // dropped by the seen-filter path
    inserted: Int)

/** North rule: per-partition lineage rows — which partition of which
  * stage produced how many rows in which wave. */
final case class PartitionLineage(
    wave: Int,
    stage: String,
    partition_id: Int,
    rows: Long,
    hosts: Long)

/** One committed url in the SLIM seen-urls side table (`seenurls`,
  * appended per wave next to the articles delta): `bucket` is the same
  * B×S url-bucket the sketches use ([[SeenFilter.urlBucket]] — a pure
  * function of the url), and the table is PHYSICALLY PARTITIONED by it,
  * so the exact-seen anti-join's build side prunes to just the buckets
  * that hold maybe-seen rows in a wave instead of re-scanning the whole
  * committed url set (which grows with the store — the 10^10-URL
  * scale-killer). `host` rides along only so the S9 host-delete cascade
  * can rewrite this table with the same anti-join as the others; `wave`
  * supports the recrawl-TTL window filter. */
final case class SeenUrl(bucket: Int, host: String, url: String, wave: Int,
    digest: Option[String] = None) // md5(contenthtml) at insert time —
                                   // the recrawl revalidation comparator
                                   // (CrawlConfig.revalidateOnRecrawl);
                                   // None on legacy rows ⇒ treated as
                                   // changed (safe re-store)

/** Bloom-then-Cuckoo seen-filter state, one row per host-hash bucket.
  * BOTH sketches are carried wave-to-wave and merged incrementally
  * (Bloom union is lossless; Cuckoo supports insert+delete), so no wave
  * ever re-scans the committed article store to rebuild filters. The
  * Bloom's fpp degrades as it fills past its sizing
  * (CrawlConfig.expectedUrlsPerBucket) — degradation only costs extra
  * exact anti-join probes, never correctness; rebuild offline (e.g.
  * SeenFilter.buildBlooms over the article store) when saturated. */
final case class SeenSketch(
    bucket: Int,
    cuckoo: Array[Byte],
    n_urls: Long,                       // urls actually held by the cuckoo
    bloom: Option[Array[Byte]] = None,
    // cuckoo inserts rejected because the bucket's table saturated: such
    // urls stay covered by the Bloom (dedup correctness holds) but CANNOT
    // be TTL-evicted — a non-zero value tells operators to resize
    // CrawlConfig.cuckooCapacityPerBucket (or add buckets)
    n_dropped: Long = 0L)
