package graft.ops

import graft.core.UrlCanon
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column wrappers over the pure URL canonicalization core (UrlCanon) —
  * the north rule's frontier-key functions, usable in any DataFrame
  * plan. Deterministic scalar UDFs (pure string work, no network/DNS),
  * marked nondeterministic-free so Catalyst can push/dedup them.
  *
  * Executor loss: the `localCheckpoint` calls in this object
  * (the hop and per-round pointer tables of redirect resolution)
  * keep their blocks only on the executors that computed them, with the
  * lineage cut. If such an executor is lost before the result is
  * consumed, the read fails with Spark's "Checkpoint block ... not
  * found" error instead of recomputing, and the caller re-runs the
  * operator. That buys flat plans and needs no checkpoint directory; on
  * a cluster with executor churn, `checkpoint()` to reliable storage is
  * the fault-tolerant swap (slower: every such table is written out).
  */
object UrlOps {

  private val canonUdf = udf((u: String) => UrlCanon.canonicalize(u))
  private val hostUdf = udf((u: String) => UrlCanon.host(u))

  /** Full canonical form (lowercase scheme/host, default ports stripped,
    * fragment dropped, percent-escapes normalized). */
  def canonicalize(url: Column): Column = canonUdf(url)

  /** Registered host, lowercased. */
  def host(url: Column): Column = hostUdf(url)

  /** The dot-suffix chain of a hostname: `a.b.c` →
    * `[a.b.c, b.c, c]` — every domain the host equals or sits under.
    * Pure Catalyst (split + transform over sequence), the unit a
    * domain-blocklist match explodes to. */
  def hostSuffixes(host: Column): Column = {
    val parts = split(host, "\\.")
    transform(sequence(lit(1), size(parts)),
      i => array_join(slice(parts, i, size(parts)), "."))
  }

  /** UT1-style domain-blocklist filter — the adult/malware/spam domain
    * scrub crawl corpora pass through before training: a row is dropped
    * when its host EQUALS a blocked domain or is a SUBDOMAIN of one
    * (`ads.example.com` is blocked by `example.com`).
    *
    * Scale shape: suffix matching becomes an equi-join by exploding
    * each host into its dot-suffix chain (bounded by label depth, ≤ ~6)
    * on a SLIM (key, suffix) projection — bodies never ride the
    * explode; the blocklist (driver-bounded: UT1 is a few million
    * rows) broadcasts into a semi-join, so blocked keys emerge from a
    * map-side hash probe; the final left_anti against the original
    * rows joins on the 8-byte key. Nothing quadratic, no UDF, and the
    * blocklist is a TABLE (not a literal IN), so a 10⁶-domain list
    * costs a broadcast, not a plan blow-up. */
  def dropBlockedHosts(rows: DataFrame, blocklist: DataFrame,
                       keyCol: String, hostCol: String): DataFrame = {
    // normalize BOTH sides before suffix matching: lowercase + strip
    // trailing dots, so the absolute-FQDN form 'ads.example.com.' (legal,
    // and preserved by UrlCanon.host) and mixed-case hosts from callers
    // that bypassed UrlCanon can't evade the blocklist
    def norm(c: Column): Column = lower(regexp_replace(c, "\\.+$", ""))
    val blockedKeys = rows
      .select(col(keyCol), explode(hostSuffixes(norm(col(hostCol)))).as("sfx"))
      .join(broadcast(blocklist.select(norm(col("domain")).as("sfx"))),
        Seq("sfx"), "left_semi")
      .select(keyCol).distinct()
    rows.join(blockedKeys, Seq(keyCol), "left_anti")
  }

  /** RefinedWeb-style per-host contribution cap — no single host may
    * contribute more than `k` documents to the training mix; the kept
    * docs are each host's top-`k` by quality (`qualityCol` desc, id
    * asc tiebreak so the cut is fully deterministic). Boilerplate
    * farms and mirror swarms otherwise dominate a crawl corpus: at
    * 100 TB a handful of hot hosts can be 10%+ of all rows.
    *
    * Scale shape: ONE hash exchange on the host plus a per-host
    * window — never a global sort; each host ranks independently, so
    * the op parallelizes by host count. A pathologically hot host
    * costs one big partition-local sort (the window is rank-only, no
    * full-frame buffering); cap-then-rank salting is not needed
    * because the output itself is bounded at k rows per host. */
  def capHostContribution(rows: DataFrame, hostCol: String, k: Int,
                          qualityCol: Column,
                          idCol: String = "doc_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(hostCol))
      .orderBy(qualityCol.desc, col(idCol).asc)
    rows.withColumn("host_rank", row_number().over(w))
      .where(col("host_rank") <= k)
  }

  /** Crawl-trap detection — the URL-pattern-explosion heuristic
    * (Heydon & Najork, Mercator 1999 §3; calendar pages, session ids,
    * and infinite pagination mint unbounded DISTINCT urls that all
    * collapse to one template). The reference never meets this (its
    * frontier is rule-scoped catalog pages); an open 10^10-URL frontier
    * must detect and choke such hosts or they eat the politeness
    * budget.
    *
    * A url's *pattern* is the url with every digit run collapsed to
    * `N`; a host whose distinct-url count explodes relative to its
    * distinct-pattern count is generating machine-enumerated links.
    * `ratio_pm = n_urls * 1000 div n_patterns` (integer per-mille, so
    * a SQL oracle replays the verdict bit-for-bit); `trap` fires when
    * the host has at least `minUrls` urls AND the ratio reaches
    * `ratioPmMin` (default 2000 = over two urls per template).
    *
    * Scale shape: ONE exact distinct over slim (host, url) string
    * pairs (needed regardless for exact counting), the pattern a pure
    * projection on its output, then one hash aggregate per host whose
    * two distinct-counts expand on already-distinct slim rows — bodies
    * never ride, no window, no join, no driver collection. Hot hosts
    * skew the distinct's hash partitioning, not a sort.
    */
  def trapStats(pages: DataFrame, hostCol: Column, urlCol: Column,
                minUrls: Long = 5L, ratioPmMin: Long = 2000L): DataFrame =
    pages.select(hostCol.cast("string").as("host"),
        urlCol.cast("string").as("url"))
      .distinct()
      .withColumn("pattern", regexp_replace(col("url"), "[0-9]+", "N"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct("pattern").as("n_patterns"))
      .withColumn("ratio_pm", expr("n_urls * 1000 div n_patterns"))
      .withColumn("trap",
        col("n_urls") >= minUrls && col("ratio_pm") >= ratioPmMin)
      .orderBy("host")

  /** Redirect-chain resolution — the `url → final landing url` map.
    * The reference's live HTTP fetch records the post-redirect URL per
    * article (`actualurl`, MySQLSchema.sql:6); the snapshot-table model
    * has no redirect hop at fetch time (Schemas.ArticleRow's documented
    * absence), so this operator recovers the same map OFFLINE from
    * observed `(url, redirect_to)` hops — e.g. a redirect log unioned
    * across waves — resolving every url to its chain's terminal (a url
    * with no outgoing hop).
    *
    * Contract: hops form a redirect FUNCTION on an ACYCLIC graph.
    * Several recorded hops for one url (re-crawls disagreeing) collapse
    * deterministically to the lexically smallest target; self-redirects
    * are dropped. A cycle can never reach a terminal, so resolution
    * would never converge — the round cap fails LOUDLY instead of
    * looping (and a cycle that pointer-doubling happens to fixpoint on
    * is still detected: convergence requires every pointer to sit on a
    * hop-less url).
    *
    * Scale shape: pointer DOUBLING (the q44 lesson) — round k leaves
    * every pointer 2^k hops deep, so a maximum chain of L resolves in
    * ⌈log₂ L⌉ self-joins of the slim (url, fin) pair table; each round
    * is ONE equi-join + ONE action (the changed-count that also
    * materializes the round's `localCheckpoint`, folding convergence
    * detection into the round itself); bodies never appear and nothing
    * collects to the driver.
    *
    * @param hops (url, redirect_to) string pairs
    * @return (url, final_url), one row per distinct redirecting url
    */
  def resolveRedirects(hops: DataFrame, maxRounds: Int = 64): DataFrame = {
    val e0 = hops.select(col("url").cast("string").as("url"),
        col("redirect_to").cast("string").as("nxt"))
      .where(col("url") =!= col("nxt"))
      .groupBy("url").agg(min("nxt").as("nxt"))
      .localCheckpoint()
    var ptr = e0.select(col("url"), col("nxt").as("fin")).localCheckpoint()
    var round = 0
    var converged = ptr.isEmpty
    while (!converged && round < maxRounds) {
      val next = redirectStep(ptr)
        .localCheckpoint(false) // lazy: materialized by the count below
      val nChanged = next.where(col("fin") =!= col("old")).count()
      ptr = next.select("url", "fin")
      converged = nChanged == 0L
      round += 1
    }
    require(converged,
      s"redirect graph did not settle in $maxRounds doubling rounds " +
        s"(max chain ${BigInt(2).pow(maxRounds)}) — redirect cycle suspected")
    // a settled pointer must sit on a TERMINAL url; a cycle that
    // doubling fixpoints on (even-length loops square to identity)
    // still has outgoing hops and is caught here
    val onCycle = ptr.join(e0.select(col("url").as("fin")), Seq("fin"),
      "left_semi")
    require(onCycle.isEmpty,
      "redirect cycle detected: some urls resolve into a loop, not a " +
        "terminal — fix the hop log (a cycle has no landing url)")
    ptr.select(col("url"), col("fin").as("final_url")).orderBy("url")
  }

  /** One pointer-doubling round (the loop body of [[resolveRedirects]],
    * exposed un-checkpointed so the plan shape is assertable): follow
    * my target's own pointer — fin ← ptr(fin) where defined; a pointer
    * already on a terminal url finds no row and keeps fin. The
    * pre-round fin rides along as `old` so the caller's changed-count
    * action decides convergence in the same job. */
  private[graft] def redirectStep(ptr: DataFrame): DataFrame =
    ptr
      .join(ptr.select(col("url").as("fin"), col("fin").as("ffin")),
        Seq("fin"), "left")
      .select(col("url"), coalesce(col("ffin"), col("fin")).as("fin"),
        col("fin").as("old"))

  /** Gate a wave's host dimension on [[trapStats]] — the bridge from
    * the offline trap scan to the engine, mirroring
    * `Freshness.applySchedule`: a host flagged `trap` is flipped
    * `enabled=false` for the wave (the engine's pinned disabled-host
    * state-carry semantics apply); unflagged or absent hosts crawl
    * normally, and an already-disabled host stays disabled — the gate
    * only ever removes work. The stats side is slim (host, bool) —
    * one hash join against the host dimension, broadcastable whenever
    * the seed list is; column order and types are preserved so the
    * result stays encodable as the engine's host-config row. */
  def applyTrapGate(hosts: DataFrame, stats: DataFrame): DataFrame = {
    val flagged = stats.select(col("host").cast("string").as("tp_host"),
      col("trap").as("tp_trap"))
    val cols = hosts.columns.map {
      case "enabled" =>
        (col("enabled") && !coalesce(col("tp_trap"), lit(false)))
          .as("enabled")
      case c => hosts(c)
    }
    hosts.join(flagged, hosts("host") === flagged("tp_host"), "left")
      .select(cols.toIndexedSeq: _*)
  }

  /** Mirror-host detection (Bharat & Broder WWW'99; Cho, Shivakumar &
    * Garcia-Molina VLDB'00 "Finding replicated Web collections"): host
    * pairs serving near-identical content under the same paths. A
    * crawler that knows `b.example` mirrors `a.example` fetches one of
    * them — at 10^10-URL scale mirror families are a double-digit
    * percentage of the frontier (the WWW'99 measurement), so this is a
    * first-class frontier-budget operator, not an analytics nicety.
    * The reference dedups single urls only (`ArticleDBAccess.cs`'s
    * unique-url guard); cross-host replication is the offline gap this
    * fills.
    *
    * Evidence unit: the distinct `(host, path, digest)` triple — two
    * hosts sharing a path that serves byte-identical content (same
    * content digest) share one unit. `overlap_permille =
    * 1000·n_shared div min(n_a, n_b)` (integer, oracle-replayable);
    * a pair is reported when it has at least `minShared` units and
    * reaches `minPermille`. min-size normalization is the WWW'99
    * choice: a small full replica of a large host still scores 1000.
    *
    * Boilerplate cap (the q21 skew-cap shape, mirrored by the oracle):
    * a `(path, digest)` key shared by more than `maxHostsPerKey` hosts
    * is parked-page/error-page boilerplate, not mirroring evidence —
    * and each such key would mint O(hosts²) join rows. Keys over the
    * cap are dropped BEFORE the pair join, so the join's per-key
    * fan-out is bounded by `maxHostsPerKey²` regardless of corpus
    * shape. Host sizes are counted over the UNCAPPED triples (the cap
    * prunes evidence, not the denominator).
    *
    * Scale shape: one distinct over slim (host, path, digest) triples;
    * the cap a partial-aggregated count + equi-join on the key; the
    * pair join a self equi-join on (path, digest) with `host_a <
    * host_b`; pair counts hash-aggregate map-side; two slim joins
    * attach sizes. Bodies never ride (callers pass digests, not
    * content), no window, no cartesian, no driver collection.
    *
    * @param pages  one row per crawled page; duplicates fine
    * @param hostCol host serving the page
    * @param pathCol path component (the cross-host join key, so pass
    *                the CANONICAL path — [[canonicalize]] upstream)
    * @param digestCol content digest (any stable fingerprint column)
    * @return (host_a, host_b, n_shared, n_a, n_b, overlap_permille)
    *         with host_a < host_b, ordered by (host_a, host_b)
    */
  /** DUST rule mining — "Do Not Crawl in the DUST: different URLs with
    * similar text" (Bar-Yossef, Keidar & Schwartz WWW'07): learn
    * per-host *strip-this-query-param* rewrite rules from observed
    * duplicate content, the practical bulk of DUST (session ids,
    * tracking params). A learned rule feeds URL canonicalization ahead
    * of the frontier: aliases collapse BEFORE the seen-filter, so the
    * crawler never fetches a known-duplicate spelling again. The
    * reference canonicalizes syntax only (`HtmlHelper.cs`'s URL fixes);
    * content-evidence rules are the offline learning step it lacks.
    *
    * Evidence, per (url, param-occurrence): strip the exact `k=v`
    * occurrence, rebuild the url's canonical key (path + SORTED
    * residual params — order-insensitive); if the residual key is
    * itself a crawled url, the pair is *support* when the two content
    * digests match and a *counterexample* when they differ. Per
    * (host, param): a rule is emitted when `n_support >= minSupport`
    * and `counter_permille = 1000·n_counter div (n_support+n_counter)
    * <= maxCounterPermille` (integer math — oracle-replayable).
    *
    * Scale shape: two pure projections (key build; param explode +
    * residual-key rebuild — sizes bounded by params-per-url), ONE
    * equi-join of residual keys against the distinct key set (keys
    * embed host+path, so they are near-unique — no hot key exists even
    * when one error page's DIGEST covers half the corpus, because
    * digests are compared post-join, never joined on), then one
    * partial-aggregated roll-up to (host, param). Bodies never ride;
    * no window, no cartesian, no driver collection.
    *
    * @param pages one row per crawled page (duplicates fine)
    * @param hostCol grouping host for the emitted rule
    * @param urlCol  url whose query params are candidate DUST;
    *                pass the syntax-canonical form ([[canonicalize]])
    * @param digestCol content digest
    * @return (host, param, n_support, n_counter, counter_permille)
    *         for accepted rules, ordered by (host, param)
    */
  def dustParamRules(pages: DataFrame, hostCol: Column, urlCol: Column,
                     digestCol: Column, minSupport: Long = 3L,
                     maxCounterPermille: Long = 100L): DataFrame = {
    val rows = pages.select(hostCol.cast("string").as("host"),
        urlCol.cast("string").as("url"),
        digestCol.cast("string").as("digest"))
      .distinct()
      .withColumn("base", substring_index(col("url"), "?", 1))
      .withColumn("qs",
        when(col("url").contains("?"),
          expr("substring(url, instr(url, '?') + 1)"))
          .otherwise(lit("")))
      .withColumn("params",
        filter(split(col("qs"), "&"), p => length(p) > 0))
    def keyOf(base: Column, params: Column): Column =
      when(size(params) === 0, base)
        .otherwise(concat(base, lit("?"),
          array_join(array_sort(params), "&")))
    val keys = rows
      .select(keyOf(col("base"), col("params")).as("key"),
        col("digest").as("key_digest"))
      .distinct()
    val cand = rows
      .select(col("host"), col("base"), col("params"), col("digest"),
        explode(array_distinct(col("params"))).as("kv"))
      .withColumn("param", substring_index(col("kv"), "=", 1))
      .withColumn("residual",
        keyOf(col("base"),
          filter(col("params"), p => p =!= col("kv"))))
    cand.join(keys, cand("residual") === keys("key"))
      .groupBy("host", "param")
      .agg(sum(when(col("digest") === col("key_digest"), 1L)
          .otherwise(0L)).as("n_support"),
        sum(when(col("digest") =!= col("key_digest"), 1L)
          .otherwise(0L)).as("n_counter"))
      .withColumn("counter_permille",
        expr("1000 * n_counter div (n_support + n_counter)"))
      .where(col("n_support") >= minSupport &&
        col("counter_permille") <= maxCounterPermille)
      .orderBy("host", "param")
  }

  /** Apply learned DUST rules ([[dustParamRules]]) to urls — the
    * frontier bridge: aliases collapse to one canonical spelling
    * BEFORE the seen-filter, so a known-duplicate spelling is never
    * fetched. Rewrite = drop every query param a rule names for the
    * url's host, then rebuild in sorted-param canonical form (the same
    * form the miner keyed on, so all of an alias family lands on ONE
    * string).
    *
    * Scale shape: the rule table aggregates to one (host, param-set)
    * row per RULED host — bounded by the rule mining's own gates and
    * orders of magnitude smaller than the url stream — and rides a
    * broadcast hash join; the rewrite itself is a pure projection
    * (nested higher-order filter/exists, codegen-friendly). No
    * shuffle touches the url stream at all.
    *
    * @param rules (host, param) accepted rules (extra columns ignored)
    * @return (host, url, url_canon) — one row per input row
    */
  def applyDustRules(pages: DataFrame, hostCol: Column, urlCol: Column,
                     rules: DataFrame): DataFrame = {
    val strip = rules
      .select(col("host").cast("string").as("ds_host"),
        col("param").cast("string").as("ds_param"))
      .groupBy("ds_host").agg(collect_set("ds_param").as("ds_params"))
    pages
      .select(hostCol.cast("string").as("host"),
        urlCol.cast("string").as("url"))
      .join(broadcast(strip), col("host") === col("ds_host"), "left")
      .withColumn("ss",
        coalesce(col("ds_params"), array().cast("array<string>")))
      .withColumn("base", substring_index(col("url"), "?", 1))
      .withColumn("kept",
        filter(
          filter(split(when(col("url").contains("?"),
              expr("substring(url, instr(url, '?') + 1)"))
              .otherwise(lit("")), "&"),
            p => length(p) > 0),
          p => !exists(col("ss"),
            s => s === substring_index(p, "=", 1))))
      .select(col("host"), col("url"),
        when(size(col("kept")) === 0, col("base"))
          .otherwise(concat(col("base"), lit("?"),
            array_join(array_sort(col("kept")), "&")))
          .as("url_canon"))
  }

  /** Gate a wave's host dimension on [[mirrorHosts]] — the frontier
    * bridge for replicated sites: of each reported mirror pair, the
    * lexically smaller host (`host_a`, the operator's own pair
    * orientation) stays canonical and keeps crawling; every `host_b`
    * is flipped `enabled=false` for the wave, exactly the
    * [[applyTrapGate]] semantics (the gate only ever removes work; an
    * already-disabled host stays disabled; absent hosts are
    * untouched). Lexical-min canonicalization is the q44 min-label
    * convention — deterministic, and transitive families (a<b, b<c)
    * leave exactly their minimum crawling. The mirror side is slim
    * distinct hosts — broadcastable whenever the seed list is. */
  def applyMirrorGate(hosts: DataFrame, mirrors: DataFrame): DataFrame = {
    val doomed = mirrors
      .select(col("host_b").cast("string").as("mg_host"))
      .distinct()
      .withColumn("mg_mirror", lit(true))
    val cols = hosts.columns.map {
      case "enabled" =>
        (col("enabled") && !coalesce(col("mg_mirror"), lit(false)))
          .as("enabled")
      case c => hosts(c)
    }
    hosts.join(doomed, hosts("host") === doomed("mg_host"), "left")
      .select(cols.toIndexedSeq: _*)
  }

  def mirrorHosts(pages: DataFrame, hostCol: Column, pathCol: Column,
                  digestCol: Column, maxHostsPerKey: Int = 50,
                  minShared: Long = 2L,
                  minPermille: Long = 500L): DataFrame = {
    val trip = pages.select(hostCol.cast("string").as("host"),
        pathCol.cast("string").as("path"),
        digestCol.cast("string").as("digest"))
      .distinct()
    val sizes = trip.groupBy("host").agg(count(lit(1)).as("n"))
    val keyHosts = trip.groupBy("path", "digest")
      .agg(count(lit(1)).as("nh")) // triples are distinct ⇒ count = hosts
    val ok = trip.join(keyHosts.where(col("nh") <= maxHostsPerKey),
      Seq("path", "digest"))
    val pairs = ok.as("a")
      .join(ok.as("b"),
        col("a.path") === col("b.path") &&
          col("a.digest") === col("b.digest") &&
          col("a.host") < col("b.host"))
      .groupBy(col("a.host").as("host_a"), col("b.host").as("host_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(sizes.select(col("host").as("host_a"), col("n").as("n_a")),
        Seq("host_a"))
      .join(sizes.select(col("host").as("host_b"), col("n").as("n_b")),
        Seq("host_b"))
      .withColumn("overlap_permille",
        expr("1000 * n_shared div least(n_a, n_b)"))
      .where(col("n_shared") >= minShared &&
        col("overlap_permille") >= minPermille)
      .select("host_a", "host_b", "n_shared", "n_a", "n_b",
        "overlap_permille")
      .orderBy("host_a", "host_b")
  }

  /** Gate a wave's host dimension on [[mirrorFamilies]] — strictly
    * stronger than the pair gate: of each FAMILY, only the canonical
    * (lexical-min) host keeps crawling. The pair gate disables the
    * pairs' `host_b` set, which under-prunes when a family's evidence
    * is star-shaped around its largest host (a~c and b~c with no a~b
    * pair leaves BOTH a and b crawling); closing to families first
    * leaves exactly one survivor per replicated site. Same gate
    * contract as [[applyTrapGate]]: only ever removes work,
    * already-disabled hosts stay disabled, absent hosts untouched.
    * The family side is slim distinct hosts — broadcastable whenever
    * the seed list is. */
  def applyMirrorFamilyGate(hosts: DataFrame, families: DataFrame): DataFrame = {
    val doomed = families
      .where(col("host") =!= col("canonical_host"))
      .select(col("host").cast("string").as("mg_host"))
      .distinct()
      .withColumn("mg_mirror", lit(true))
    val cols = hosts.columns.map {
      case "enabled" =>
        (col("enabled") && !coalesce(col("mg_mirror"), lit(false)))
          .as("enabled")
      case c => hosts(c)
    }
    hosts.join(doomed, hosts("host") === doomed("mg_host"), "left")
      .select(cols.toIndexedSeq: _*)
  }

  /** Collapse [[mirrorHosts]] PAIRS into mirror FAMILIES: connected
    * components over the host-pair graph (Bharat & Broder's final
    * step — a site replicated across k hosts reports up to k·(k−1)/2
    * pairwise edges, but the crawl gate wants ONE canonical host per
    * family). Output `(host, canonical_host, family_n)` for every
    * host in at least one pair, `canonical_host` = the family's
    * lexicographically smallest host — the q44 min-label convention,
    * so the canonical survivor is deterministic and agrees with
    * [[applyMirrorGate]]'s pair orientation on direct pairs while
    * ALSO catching transitive families (a~b, b~c with no direct a~c
    * evidence still land in one family under min a).
    *
    * Scale shape: delegates to the same min-label + pointer-jumping
    * loop as the doc-id dedup clusters (`Dedup.connectedComponents`,
    * generic over the key type) — O(log n) rounds of equi-joins
    * moving host strings only; the pair list is host-pair-sized (its
    * own join is evidence-capped upstream), never page-sized. */
  def mirrorFamilies(pairs: DataFrame, maxIters: Int = 50): DataFrame =
    graft.ops.Dedup.connectedComponents(
        pairs.select(col("host_a").cast("string").as("u"),
          col("host_b").cast("string").as("v")), maxIters)
      .select(col("id").as("host"), col("lbl").as("canonical_host"),
        col("cluster_n").as("family_n"))
      .orderBy("host")

  /** Soft-404 detection (Bar-Yossef, Broder, Kumar & Tomkins WWW'04,
    * "Sic transit gloria telae"): hosts that answer MISSING urls with
    * HTTP 200 + a friendly error page poison a crawl twice — dead
    * links look alive (never pruned, recrawled forever) and the error
    * page's text floods the corpus as mass-produced near-dup
    * boilerplate. The paper's detector: request a url KNOWN not to
    * exist on each host (a random-token probe path); if the capture
    * holds a response for it, the host soft-fails, and every OTHER
    * page on that host serving content byte-identical to the probe
    * response is a dead url in disguise. Input: one pages frame
    * holding the real capture AND the probe responses (probe urls
    * carry `probeMarker`; a host that hard-404s simply has no probe
    * row). Output: the flagged `(host, url, digest)` rows — the set a
    * corpus build drops (q57's blocklist anti-join shape) and a
    * recrawl scheduler retires as dead. A host may serve several
    * distinct error pages (load-balanced/unstable templates): ANY of
    * its probe digests flags.
    *
    * Scale shape: probe responses number at most a few per host —
    * seed-list-sized, so the per-host digest set broadcasts; the flag
    * decision is ONE broadcast left-semi join on (host, digest) over
    * a single scan of the capture. Bodies never move (digests only);
    * nothing shuffles with corpus size. */
  def soft404Urls(pages: DataFrame, hostCol: Column, urlCol: Column,
      digestCol: Column,
      probeMarker: String = "/__soft404probe__"): DataFrame = {
    val rows = pages.select(hostCol.cast("string").as("host"),
      urlCol.cast("string").as("url"),
      digestCol.cast("string").as("digest"))
    val probes = rows.where(col("url").contains(probeMarker))
      .select(col("host").as("p_host"), col("digest").as("p_digest"))
      .distinct()
    rows.where(!col("url").contains(probeMarker))
      .join(broadcast(probes),
        col("host") === col("p_host") && col("digest") === col("p_digest"),
        "left_semi")
      .distinct() // repeat sightings of a dead url flag once
      .orderBy("host", "url")
  }

  /** Representative multi-part public suffixes (cc-SLDs). The real
    * PSL is a ~10k-entry snapshot every crawler ships; this inline
    * subset covers the high-traffic cc-SLD families and keeps the
    * operator self-contained — swap in the full list (same shape, a
    * literal array) for production. Sorted, distinct, lowercase. */
  val MultiPartSuffixes: Seq[String] = Seq(
    "ac.jp", "ac.uk", "co.id", "co.in", "co.jp", "co.kr", "co.nz",
    "co.th", "co.uk", "co.za", "com.ar", "com.au", "com.br", "com.cn",
    "com.hk", "com.mx", "com.my", "com.sg", "com.tr", "com.tw",
    "com.vn", "edu.au", "edu.cn", "gen.in", "go.jp", "gov.au",
    "gov.br", "gov.cn", "gov.uk", "ne.jp", "ne.kr", "net.au",
    "net.br", "net.cn", "net.in", "net.nz", "net.uk", "or.jp",
    "or.kr", "org.au", "org.br", "org.cn", "org.in", "org.mx",
    "org.nz", "org.tw", "org.uk", "sch.uk")

  /** Registrable domain (eTLD+1) of a host — the unit every per-site
    * crawl policy actually keys on: `a.shop.co.uk` and
    * `b.shop.co.uk` are ONE site (`shop.co.uk`), while grouping by
    * raw host would give a contribution-capped corpus (q61) or a
    * politeness budget two slots for it, and grouping by bare TLD+1
    * would wrongly merge every `.co.uk` site into one. Pure Catalyst
    * column math (split + negative-index slice + a literal
    * suffix-set membership test) — codegen'd, no UDF, replayable in
    * the DuckDB oracle with the same literal list. Hosts with fewer
    * labels than the rule needs fall back to themselves (a bare
    * `localhost` is its own domain). */
  def registrableDomain(host: Column): Column = {
    val h = lower(host.cast("string"))
    val labels = split(h, "\\.")
    val n = size(labels)
    val last2 = array_join(slice(labels, -2, 2), ".")
    val isMulti = last2.isin(MultiPartSuffixes: _*)
    when(n >= 3 && isMulti, array_join(slice(labels, -3, 3), "."))
      .when(n >= 2, last2)
      .otherwise(h)
  }

  /** Heritrix SURT / Common-Crawl CDX canonical sort keys: the form
    * archive indexes actually sort by —
    * `com,example)/path?a=1&b=2` for `http://www.Example.com/path?b=2&a=1`.
    * Reversing the host labels makes ALL of a registrable domain's
    * urls one contiguous key range, so a CDX-style index (q73) or a
    * url-sorted Iceberg table answers "everything under example.com"
    * with one range scan instead of a full-index host filter — the
    * access pattern every archive lookup and per-domain export uses.
    *
    * Canonicalization subset (documented): lowercase the whole url,
    * strip the scheme, strip one leading `www`+digits label, strip
    * the port, drop the fragment, sort query params (the DUST
    * canonical form, [[dustParamRules]]); userinfo is not handled.
    * Pure staged column math — no UDF, no join, no exchange beyond
    * the distinct; the DuckDB oracle replays every step. */
  def surtKeys(rows: DataFrame, urlCol: Column): DataFrame = {
    rows.select(urlCol.cast("string").as("url"))
      .distinct()
      .withColumn("rest",
        regexp_replace(lower(col("url")), "^[a-z][a-z0-9+.-]*://", ""))
      .withColumn("h", regexp_replace(
        substring_index(substring_index(col("rest"), "/", 1), ":", 1),
        "^www[0-9]*\\.", ""))
      .withColumn("pq", substring_index(
        when(col("rest").contains("/"),
          expr("substring(rest, instr(rest, '/'))"))
          .otherwise(lit("/")), "#", 1))
      .withColumn("base", substring_index(col("pq"), "?", 1))
      .withColumn("params", filter(
        split(when(col("pq").contains("?"),
          expr("substring(pq, instr(pq, '?') + 1)")).otherwise(lit("")),
          "&"), p => length(p) > 0))
      .select(col("url"), concat(
        concat_ws(",", reverse(split(col("h"), "\\."))), lit(")"),
        col("base"),
        when(size(col("params")) > 0,
          concat(lit("?"), array_join(array_sort(col("params")), "&")))
          .otherwise(lit(""))).as("surt"))
      .orderBy("url")
  }

  /** Page-declared canonical links (`<link rel="canonical">`, RFC
    * 6596): the page itself names its canonical url, and a crawler
    * that honors it collapses alias spellings (print views, tracking
    * params the DUST miner hasn't learned yet, cross-host
    * syndication pointing at the origin) BEFORE the seen filter —
    * the page-side complement to [[dustParamRules]]' server-side
    * evidence mining. Output `(url, canonical)` per page: the
    * declared absolute http(s) href when one exists, else the page's
    * own url (missing tag, or a relative href — resolving those
    * belongs to the DOM pipeline's base-url logic, `UrlCanon`; this
    * column-math path only trusts absolute targets, documented
    * deviation). First declared tag wins; rel/href attribute order
    * and quote style don't matter.
    *
    * Scale shape: a pure two-regex projection riding the capture
    * scan — no UDF, no join, no exchange (PlanSpec-pinned); the
    * html never leaves its partition and only the slim (url,
    * canonical) pair emerges. */
  def canonicalLinks(pages: DataFrame, urlCol: Column,
      htmlCol: Column): DataFrame = {
    val tagPat = "(?i)<link\\b[^>]*\\brel\\s*=\\s*[\"']canonical[\"'][^>]*>"
    val hrefPat = "(?i)\\bhref\\s*=\\s*[\"']([^\"']+)[\"']"
    val tag = regexp_extract(htmlCol.cast("string"), tagPat, 0)
    val href = regexp_extract(tag, hrefPat, 1)
    pages.select(urlCol.cast("string").as("url"),
      when(href.rlike("(?i)^https?://"), href)
        .otherwise(urlCol.cast("string")).as("canonical"))
  }

  /** Per-registrable-domain contribution roll-up: how many hosts and
    * pages each SITE (eTLD+1) contributes — the aggregation a domain
    * cap / politeness-budget planner consumes. One projection + one
    * partial-aggregated groupBy on the derived domain key; nothing
    * but (domain, host) strings shuffle. */
  def domainRollup(pages: DataFrame, hostCol: Column): DataFrame =
    pages.select(registrableDomain(hostCol).as("domain"),
        hostCol.cast("string").as("host"))
      .groupBy("domain")
      .agg(countDistinct(col("host")).as("n_hosts"),
        count(lit(1)).as("n_pages"))
      .orderBy("domain")
}
