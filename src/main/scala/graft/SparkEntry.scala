package graft

import graft.ops.{Dedup, Similarity, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the training-data ops), each with a DuckDB oracle in
  * `oracleSql` where ANSI-SQL-expressible.
  *
  * Cross-engine determinism rules used throughout (Spark vs DuckDB must
  * produce hash-identical values):
  *  - money/double aggregates: per-row CAST to DECIMAL (exact, order-
  *    independent summation), final CAST back to DOUBLE;
  *  - ratios/thresholds: integer arithmetic only (a*k >= b, never a/b);
  *  - every query ends in a deterministic ORDER BY with a unique key;
  *  - DuckDB regexp_replace needs the 'g' flag to match Spark's
  *    global-by-default behavior;
  *  - all float vector math in DOUBLE with left-to-right summation
  *    (`aggregate`+`zip_with` ≡ DuckDB `list_sum`+`list_transform`).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Exact decimal sum of a double column, returned as double. */
  private def dsum(c: org.apache.spark.sql.Column, scale: Int = 4) =
    sum(c.cast(s"decimal(38,$scale)")).cast("double")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q04_dim_join")(spark, "/root/testdata/sf0.001")

  /** Memoized 2-wave crawl over the deterministic tiny fixture — backs
    * the rows-only crawl queries (q31–q33). Output bytes are a pure
    * function of the fixture seed, so repeated Verify runs hash equal. */
  private val crawlDir = new java.util.concurrent.atomic.AtomicReference[String]()
  private def crawlFixtureRun(s: SparkSession): crawl.SnapshotStore =
    crawlDir.synchronized {
      if (crawlDir.get == null) {
        val dir = TempDirs.cleanupOnExit(
          java.nio.file.Files.createTempDirectory("entrycrawl").toString)
        val fx = crawl.FixtureCfg(nHosts = 12, baseArticles = 6,
          growthPerWave = 3, hotHostFactor = 3)
        val cc = crawl.CrawlConfig(hostBuckets = 4, salt = 2,
          expectedUrlsPerBucket = 2048, cuckooCapacityPerBucket = 4096)
        val pagesDir = TempDirs.cleanupOnExit(
          java.nio.file.Files.createTempDirectory("entrypages").toString)
        // micro-wave confs for the crawl only; the relational queries
        // keep the session's own
        LocalSpark.withConf(s, LocalSpark.MicroWaveConfs: _*) {
          crawl.WaveEngine.run(s, new crawl.SnapshotStore(dir),
            w => crawl.FixtureGen.pagesParquet(s, fx, w, pagesDir),
            crawl.FixtureGen.hosts(s, fx), crawl.FixtureGen.robots(s, fx), 2, cc)
        }
        crawlDir.set(dir)
      }
      new crawl.SnapshotStore(crawlDir.get)
    }

  /** Memoized WARC fixture for q72/q73 — four archive segments
    * synthesized deterministically from the sf dir's `documents` table
    * (see [[sources.Warc.synthesizeFromDocs]]); built once per sf dir,
    * so Verify/Bench re-runs read identical bytes. */
  private val warcDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def warcFixture(s: SparkSession, sfDir: String): String =
    warcDirs.computeIfAbsent(sfDir, _ => {
      val dir = TempDirs.cleanupOnExit(
        java.nio.file.Files.createTempDirectory("entrywarc").toString)
      sources.Warc.synthesizeFromDocs(t(s, sfDir, "documents"), dir)
      dir
    })

  /** Memoized q74 sink output: the documents-derived page table (same
    * row→record functions as [[warcFixture]], but built as COLUMNS and
    * archived by the distributed `Warc.write`) — 4 hash-partitioned
    * `.warc.gz` segments per sf dir. */
  private val warcSinkDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def warcSinkFixture(s: SparkSession, sfDir: String): String =
    warcSinkDirs.computeIfAbsent(sfDir, _ => {
      val dir = TempDirs.cleanupOnExit(
        java.nio.file.Files.createTempDirectory("entrywarcsink").toString)
      val pages = t(s, sfDir, "documents").select(
        concat(lit("http://"), col("source"), lit(".example.org/doc/"),
          col("doc_id")).as("url"),
        expr("timestampadd(MINUTE, doc_id % 1440, " +
          "timestamp'2024-01-01 00:00:00')").as("warc_ts"),
        encode(concat(lit("<html><head><title>doc "), col("doc_id"),
          lit("</title></head><body><p>"), col("text"),
          lit("</p></body></html>")), "UTF-8").as("html"))
      sources.Warc.write(pages.repartition(4, col("url")), dir)
      dir
    })

  /** Memoized q97 WET output: the documents table's extracted text
    * archived as `conversion` segments by the distributed
    * `Warc.writeWet` (same url/ts arithmetic as the q74 sink, so the
    * DuckDB oracle reconstructs every record from `documents`). */
  private val wetDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def wetFixture(s: SparkSession, sfDir: String): String =
    wetDirs.computeIfAbsent(sfDir, _ => {
      val dir = TempDirs.cleanupOnExit(
        java.nio.file.Files.createTempDirectory("entrywet").toString)
      val texts = t(s, sfDir, "documents").select(
        concat(lit("http://"), col("source"), lit(".example.org/doc/"),
          col("doc_id")).as("url"),
        expr("timestampadd(MINUTE, doc_id % 1440, " +
          "timestamp'2024-01-01 00:00:00')").as("warc_ts"),
        col("text"))
      sources.Warc.writeWet(texts.repartition(4, col("url")), dir)
      dir
    })

  /** Memoized q98 WAT output: per-document metadata (title + two
    * arithmetic outlinks) archived as `metadata` records by the
    * distributed `Warc.writeWat`; url/ts arithmetic is q74/q97's, so
    * the oracle reconstructs the canonical JSON payload by plain
    * concatenation. */
  private val watDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def watFixture(s: SparkSession, sfDir: String): String =
    watDirs.computeIfAbsent(sfDir, _ => {
      val dir = TempDirs.cleanupOnExit(
        java.nio.file.Files.createTempDirectory("entrywat").toString)
      def u(idExpr: org.apache.spark.sql.Column) =
        concat(lit("http://"), col("source"),
          lit(".example.org/doc/"), idExpr)
      val meta = t(s, sfDir, "documents").select(
        u(col("doc_id")).as("url"),
        expr("timestampadd(MINUTE, doc_id % 1440, " +
          "timestamp'2024-01-01 00:00:00')").as("warc_ts"),
        concat(lit("doc "), col("doc_id")).as("title"),
        array(u(col("doc_id") + 1), u(col("doc_id") * 2 + 7)).as("links"))
      sources.Warc.writeWat(meta.repartition(4, col("url")), dir)
      dir
    })

  /** Memoized sitemap fixture for q75 — three urlset segments plus one
    * sitemapindex, synthesized deterministically from the sf dir's
    * `documents` table (see [[sources.Sitemap.synthesizeFromDocs]]). */
  private val sitemapDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def sitemapFixture(s: SparkSession, sfDir: String): String =
    sitemapDirs.computeIfAbsent(sfDir, _ => {
      val dir = TempDirs.cleanupOnExit(
        java.nio.file.Files.createTempDirectory("entrysitemap").toString)
      sources.Sitemap.synthesizeFromDocs(t(s, sfDir, "documents"), dir)
      dir
    })

  /** Shared constants for the q57/q65 operators and the q66 pipeline
    * that composes them — ONE Scala-side definition so the composed
    * query can never desynchronize from its constituents. (The oracle
    * SQL strings inline the same values; each query's own DuckDB gate
    * fails loudly if either side drifts.) */
  private val blockDomains = Seq("w3.ex1.com", "ex2.com", "m0.w4.ex0.com")
  private val mixWeights = Map("src0" -> 2.5, "src1" -> 1.25)
  private val mixDefaultWeight = 0.5
  // documents-derived DUST fixture shared by q82 (mining) and q83
  // (application) — ONE definition so the two queries' url/digest
  // streams can never desynchronize from each other or their oracles:
  // every doc spelled bare and with ?sessionid= (content-identical),
  // %5 docs add ref=home spellings, %3/%7 docs add content-RELEVANT
  // page=2 variants ('#p2' digest), and a parity-mixed v=1.
  private def dustFixture(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val h = mixHostOf(col("doc_id"))
    val base = concat(lit("http://"), h, lit("/a"), col("doc_id"))
    val sid = substring(md5(concat(col("doc_id"), lit("#s"))), 1, 6)
    val d0 = md5(col("text"))
    def pick(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
             dg: org.apache.spark.sql.Column) =
      docs.select(h.as("host"), f(base).as("url"), dg.as("digest"))
    pick(identity, d0)
      .unionByName(pick(b => concat(b, lit("?sessionid="), sid), d0))
      .unionByName(pick(b => concat(b, lit("?ref=home")), d0)
        .where(col("doc_id") % 5 === 0))
      .unionByName(
        pick(b => concat(b, lit("?ref=home&sessionid="), sid), d0)
          .where(col("doc_id") % 5 === 0))
      .unionByName(pick(b => concat(b, lit("?page=2")),
          md5(concat(col("text"), lit("#p2"))))
        .where(col("doc_id") % 3 === 0))
      .unionByName(pick(b => concat(b, lit("?page=2&sessionid="), sid),
          md5(concat(col("text"), lit("#p2"))))
        .where(col("doc_id") % 7 === 0))
      .unionByName(pick(b => concat(b, lit("?v=1")),
        when(col("n_chars") % 2 === 0, d0)
          .otherwise(md5(concat(col("text"), lit("#v"))))))
  }

  // documents-derived mirror-evidence fixture shared by q81 (pairs)
  // and q84 (families) — ONE definition so the evidence sets can
  // never desynchronize from each other or their oracles. Structure:
  // every doc on its mix-host; %4==1 docs replicated byte-identical
  // onto 'mm.'-prefixed mirrors (the signal), %4==2 docs onto 'ss.'
  // hosts with DIVERGED content (paths match, digests don't — zero
  // evidence, pinned absent), plus an all-hosts '/index.html'
  // boilerplate key that MUST die in the maxHostsPerKey cap (84
  // mix-hosts > 50) or the pair join goes quadratic in hosts.
  // `withChain` (q84) adds a TRANSITIVE family under chain-only '/c'
  // paths: chain-a holds the %8∈{1,5} docs, chain-b the %8==1 half,
  // chain-c the %8==5 half — a~b and a~c pairs exist (1000‰ overlap
  // of the smaller side) but b and c share NOTHING directly.
  private def mirrorFixture(s: SparkSession, d: String,
      withChain: Boolean): DataFrame = {
    val docs = t(s, d, "documents")
    val h = mixHostOf(col("doc_id"))
    val p = concat(lit("/p"),
      substring(md5(concat(col("doc_id"), lit("#p"))), 1, 8),
      lit(".html"))
    val base = docs.select(h.as("host"), p.as("path"),
      md5(col("text")).as("digest"))
    val mirror = docs.where(col("doc_id") % 4 === 1)
      .select(concat(lit("mm."), h).as("host"), p.as("path"),
        md5(col("text")).as("digest"))
    val stale = docs.where(col("doc_id") % 4 === 2)
      .select(concat(lit("ss."), h).as("host"), p.as("path"),
        md5(concat(col("text"), lit("#stale"))).as("digest"))
    val boiler = docs.select(h.as("host"),
      lit("/index.html").as("path"), md5(lit("boiler")).as("digest"))
    val all = base.unionByName(mirror).unionByName(stale)
      .unionByName(boiler)
    if (!withChain) all
    else {
      val cp = concat(lit("/c"),
        substring(md5(concat(col("doc_id"), lit("#c"))), 1, 8),
        lit(".html"))
      def chain(host: String, pred: org.apache.spark.sql.Column) =
        docs.where(pred).select(lit(host).as("host"), cp.as("path"),
          md5(col("text")).as("digest"))
      all
        .unionByName(chain("chain-a.test",
          col("doc_id") % 8 === 1 || col("doc_id") % 8 === 5))
        .unionByName(chain("chain-b.test", col("doc_id") % 8 === 1))
        .unionByName(chain("chain-c.test", col("doc_id") % 8 === 5))
    }
  }

  // documents-derived soft-404 fixture (q85): the capture plus the
  // WWW'04 known-missing probe responses. EVERY host has dead links
  // (%5 docs decayed to its '#err' page, %7 docs to a second '#err2'
  // template — load-balanced error pages are not one digest), but
  // only hosts whose md5 leads 0-7 (~half) answer the probe with 200
  // (soft-404); the rest hard-404 and have NO probe row — their dead
  // content is UNDETECTABLE by the probe method and must stay
  // unflagged (the paper's core asymmetry). The '#err2' probe exists
  // only where the host md5's SECOND hex digit is also 0-7, so some
  // soft hosts flag via one template and miss the other.
  private def soft404Fixture(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val h = mixHostOf(col("doc_id"))
    val live = docs.select(h.as("host"),
      concat(lit("http://"), h, lit("/a"), col("doc_id")).as("url"),
      when(col("doc_id") % 5 === 0, md5(concat(h, lit("#err"))))
        .when(col("doc_id") % 7 === 0, md5(concat(h, lit("#err2"))))
        .otherwise(md5(col("text"))).as("digest"))
    val hosts = docs.select(h.as("host")).distinct()
    def probe(tag: String, pred: org.apache.spark.sql.Column) =
      hosts.where(pred).select(col("host"),
        concat(lit("http://"), col("host"), lit("/__soft404probe__"),
          substring(md5(col("host")), 1, 6)).as("url"),
        md5(concat(col("host"), lit(tag))).as("digest"))
    val soft = substring(md5(col("host")), 1, 1) <= "7"
    live
      .unionByName(probe("#err", soft))
      .unionByName(probe("#err2",
        soft && substring(md5(col("host")), 2, 1) <= "7"))
  }

  private def mixHostOf(docId: org.apache.spark.sql.Column) =
    concat(lit("m"), docId % 3, lit(".w"), docId % 7,
      lit(".ex"), docId % 4, lit(".com"))

  // md5-derived pseudo-link sightings shared by q67 and q69 (the corpus
  // carries no real links — q30/q57 pattern): each doc links its host
  // to 3 md5-derived pseudo-hosts; `carry` columns (e.g. q69's anchor)
  // ride along unchanged. ONE definition so the two queries' edge sets
  // can never desynchronize from each other or their oracles.
  private def linkSightings(docs: DataFrame,
      carry: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    val cand = docs.select(
      col("doc_id") +: carry :+ explode(array(lit(0), lit(1), lit(2))).as("j"): _*)
    val k = conv(substring(
      md5(concat(col("doc_id"), lit(":"), col("j"))), 1, 15), 16, 10)
      .cast("long") % 1000
    cand.select(
      mixHostOf(col("doc_id")).as("src") +: mixHostOf(k).as("dst") +: carry: _*)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core (SURVEY §2.1–2.7) --------------------------
    "q01_pricing_agg" -> ((s, d) => { // A1/A4: map-side-combinable agg
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"),
          (dsum(col("l_discount"), 6) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q02_multicol_filter" -> ((s, d) => { // F1: LIKE-chain predicate
      t(s, d, "orders")
        .where((col("o_orderpriority").contains("URGENT") ||
          col("o_orderstatus") === "F") && col("o_totalprice") > 100000)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
        .limit(500)
    }),
    "q03_in_list" -> ((s, d) => // F2: IN-list pushdown
      t(s, d, "customer")
        .where(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),
    "q04_dim_join" -> ((s, d) => { // J1: fact ⋈ broadcast dims
      val o = t(s, d, "orders"); val c = t(s, d, "customer")
      val n = t(s, d, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .orderBy("n_name")
    }),
    "q05_semi_join" -> ((s, d) => { // J3: EXISTS
      val urgent = t(s, d, "orders").where(col("o_orderpriority").contains("URGENT"))
      t(s, d, "customer")
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),
    "q06_anti_join" -> ((s, d) => { // J5: NOT EXISTS (the dedup shape)
      val urgent = t(s, d, "orders").where(col("o_orderpriority").contains("URGENT"))
      t(s, d, "customer")
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_acctbal").orderBy("c_custkey")
    }),
    "q07_latest_order" -> ((s, d) => { // J4/W3: last-value per key (checkpoint carry)
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
        .orderBy("o_custkey")
    }),
    "q08_topk_per_group" -> ((s, d) => { // W2/O5: priority-frontier primitive
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate").desc, col("l_orderkey"), col("l_linenumber"))
      t(s, d, "lineitem")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select("l_suppkey", "rn", "l_orderkey", "l_linenumber")
        .orderBy("l_suppkey", "rn")
    }),
    "q09_case_classify" -> ((s, d) => { // F7/F8: status classification
      val cnt = t(s, d, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"))
      t(s, d, "customer")
        .join(cnt, col("c_custkey") === col("o_custkey"), "left")
        .withColumn("n_orders", coalesce(col("n_orders"), lit(0L)))
        .withColumn("class",
          when(col("c_acctbal") < 0, "delinquent")
            .when(col("n_orders") === 0, "inactive")
            .when(col("n_orders") >= 20, "vip")
            .otherwise("normal"))
        .groupBy("class").agg(count(lit(1)).as("n"))
        .orderBy("class")
    }),
    "q10_sort_limit" -> ((s, d) => // O1/O2: global top-k
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(50)),
    "q11_offset_page" -> ((s, d) => // O3: offset/limit paging
      t(s, d, "orders")
        .orderBy("o_orderkey")
        .select("o_orderkey", "o_orderstatus")
        .offset(100).limit(50)),
    "q40_keyset_page" -> ((s, d) => // O4: keyset (seek) paging — the
      // scale form of deep paging: the predicate pushes into the scan,
      // so page N costs the same as page 1 (no offset skip-scan)
      t(s, d, "orders")
        .where(col("o_orderkey") > 1000)
        .orderBy("o_orderkey")
        .select("o_orderkey", "o_totalprice")
        .limit(50)),
    "q12_union_distinct" -> ((s, d) => { // set ops: frontier-merge shape
      val a = t(s, d, "orders").where(col("o_orderpriority").contains("URGENT"))
        .select(col("o_custkey").as("custkey"))
      val b = t(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
      a.union(b).distinct().orderBy("custkey")
    }),
    "q13_except" -> ((s, d) => {
      val rich = t(s, d, "customer").where(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("custkey"))
      val urgent = t(s, d, "orders").where(col("o_orderpriority").contains("URGENT"))
        .select(col("o_custkey").as("custkey"))
      rich.except(urgent).orderBy("custkey")
    }),
    "q14_intersect" -> ((s, d) => {
      val rich = t(s, d, "customer").where(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("custkey"))
      val urgent = t(s, d, "orders").where(col("o_orderpriority").contains("URGENT"))
        .select(col("o_custkey").as("custkey"))
      rich.intersect(urgent).orderBy("custkey")
    }),
    "q15_grouped_having" -> ((s, d) => // F5: HAVING-style group filter
      t(s, d, "part")
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), sum(col("p_size").cast("long")).as("total_size"))
        .where(col("n") >= 10)
        .orderBy("p_brand")),
    "q16_running_sum" -> ((s, d) => { // W: running aggregate
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "lineitem").where(col("l_suppkey") <= 20)
        .withColumn("running_qty", sum(col("l_quantity").cast("long")).over(w))
        .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    }),
    "q17_events_daily" -> ((s, d) => // time-bucketed agg (streaming-ready shape)
      t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type", "day")),
    "q90_adaptive_delay" -> ((s, d) => { // the adaptive-politeness delay
      // formula (WaveEngine.scheduleHost: max(floor, min(cap, f×avg)))
      // as an oracle-checked aggregate: events replayed as a fetch log
      // (host = user bucket, latency = floor(value×100) ms). All-integer
      // math — per-row floor quantization, then integer sum/division —
      // so Spark and DuckDB cannot drift on float accumulation order.
      // lat clamped at 0: a negative latency is meaningless AND Spark's
      // `div` (truncate toward zero) disagrees with DuckDB's `//`
      // (floor) on negative totals — the clamp keeps the division
      // engine-identical without a fixture precondition.
      val ev = t(s, d, "events")
      ev.select(concat(lit("h"), col("user_id") % 50).as("host"),
          greatest(floor(col("value") * 100).cast("long"), lit(0L)).as("lat"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_fetches"), sum("lat").as("tot"))
        .select(col("host"), col("n_fetches"),
          expr("tot div n_fetches").as("avg_ms"),
          least(greatest(expr("2 * (tot div n_fetches)"), lit(500L)),
            lit(30000L)).as("delay_ms"))
        .orderBy("host")
    }),
    "q18_sessionize" -> ((s, d) => { // gaps-and-islands sessionization
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1L)
            .otherwise(0L))
        .groupBy("user_id")
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),
    "q25_yearly_nation_rank" -> ((s, d) => { // join + window rank
      val o = t(s, d, "orders"); val c = t(s, d, "customer")
      val n = t(s, d, "nation")
      val per = o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(year(col("o_orderdate")).as("yr"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
      per.withColumn("rnk", row_number().over(
          Window.partitionBy("yr").orderBy(col("total").desc, col("n_name"))))
        .where(col("rnk") <= 5)
        .select("yr", "rnk", "n_name", "n_orders")
        .orderBy("yr", "rnk")
    }),

    // ---- training-data ops (text) -----------------------------------
    "q19_text_stats" -> ((s, d) => // lang-id + quality + token counting
      t(s, d, "documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.punctCount(col("text")).as("n_punct"),
        TextOps.stopwordCount(col("text")).as("n_stop"),
        TextOps.langGuess(col("text")).as("lang_guess"),
        TextOps.qualityOk(col("text")).as("quality_ok"))
        .orderBy("doc_id")),
    "q20_exact_dedup" -> ((s, d) => Dedup.exact(t(s, d, "documents"))),
    "q21_ngram_jaccard" -> ((s, d) => // skew kill-switch ON (df cap),
      // mirrored in the oracle SQL so parity holds
      Dedup.ngramJaccardPairs(t(s, d, "documents"), n = 3,
        maxShingleDf = 1000)),
    "q89_containment" -> ((s, d) => { // asymmetric shingle containment:
      // quote/wrap duplicates Jaccard misses. Input doubles every
      // 5th doc as "doc + commentary tail" so real containments exist
      // at any sf; synthetic ids = doc_id + 100000 stay disjoint.
      val docs = t(s, d, "documents").select("doc_id", "text")
      val wrapped = docs.where(col("doc_id") % 5 === 0).select(
        (col("doc_id") + 100000).as("doc_id"),
        concat(col("text"),
          lit(" commentary follows the quoted article in full "),
          md5(col("text"))).as("text"))
      Dedup.containmentPairs(docs.unionByName(wrapped), n = 3,
        maxShingleDf = 1000, thresholdPct = 90)
    }),
    "q24_lang_distribution" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"))
        .orderBy("lang")),
    "q42_rolling_fingerprint" -> ((s, d) => // order-sensitive doc
      // fingerprint: Rabin-Karp polynomial hash over md5 token hashes
      t(s, d, "documents").select(
        col("doc_id"),
        TextOps.rollingFingerprint(col("text")).as("rh"))
        .orderBy("doc_id")),
    "q43_bpe_tokens" -> ((s, d) => // GPT-2-style pre-tokenizer count
      t(s, d, "documents").select(
        col("doc_id"),
        TextOps.bpeTokenCount(col("text")).as("n_bpe"),
        TextOps.tokenCount(col("text")).as("n_ws"))
        .orderBy("doc_id")),
    "q26_minhash_lsh" -> ((s, d) => // rows-only: sketch-based near-dup
      Dedup.minhashLshPairs(t(s, d, "documents"))),
    "q27_simhash" -> ((s, d) => // hamming<=3 near-dup; md5-token-hash
      // simhash so the DuckDB oracle recomputes it bit-for-bit
      Dedup.simhashPairs(t(s, d, "documents"))),
    "q44_dup_clusters" -> ((s, d) => // collapse the near-dup PAIR set
      // into components: cluster_id = min doc_id (the canonical doc a
      // dedup pass keeps); iterative min-label + pointer jumping
      Dedup.dupClusters(
        Dedup.minhashLshPairs(t(s, d, "documents")).select("doc_a", "doc_b"))),
    "q45_stratified_sample" -> ((s, d) => // deterministic training-mix
      // resample by stratum: en down to 10%, zh up to 50%, rest 25% —
      // md5-bucket membership, oracle-exact, shuffle-free
      TextOps.stratifiedHashSample(t(s, d, "documents"), col("doc_id"),
        col("lang"), Map("en" -> 0.1, "zh" -> 0.5), defaultFraction = 0.25)
        .select("doc_id", "lang").orderBy("doc_id")),
    "q46_dedup_corpus" -> ((s, d) => { // the END-TO-END corpus dedup a
      // 100 TB training run executes: near-dup pairs (banded LSH +
      // exact verify) → connected components → keep each cluster's
      // canonical (min doc_id), drop the rest. The drop set rides an
      // 8-byte-key left-anti join; document bodies never shuffle.
      val docs = t(s, d, "documents")
      val losers = Dedup.dupClusters(
        Dedup.minhashLshPairs(docs).select("doc_a", "doc_b"))
        .where(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"))
      docs.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang")).orderBy("doc_id")
    }),
    "q47_decontaminate" -> ((s, d) => // eval-set decontamination:
      // per corpus doc, distinct word 5-grams shared with the eval
      // slice (doc_id % 20 == 0); 60-bit md5 gram hashes ride the
      // join, eval side broadcasts
      Dedup.contaminationCounts(t(s, d, "documents"), n = 5,
        isEval = col("doc_id") % 20 === 0)),
    "q48_repetition_stats" -> ((s, d) => { // Gopher-style within-doc
      // repetition signals (duplicate-token and duplicate-2-gram
      // counts, most-common-2-gram frequency) — pure projection,
      // zero shuffle, pinned by PlanSpec.
      // w and g2 are MATERIALIZED columns (not inlined expression
      // trees): higher-order-function lambdas are interpreted, and a
      // lambda whose body re-references an un-aliased expression
      // re-evaluates the whole tokenize+bigram chain PER ELEMENT —
      // measured 916 s for this query at sf0.1 inlined vs ~1 s staged
      // (CollapseProject keeps multi-referenced non-cheap aliases in
      // their own projection, so this stays a two-step pure scan).
      val toks = t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
        .withColumn("g2", TextOps.bigrams(col("w")))
      toks.select(
        col("doc_id"),
        size(col("w")).as("n_tok"),
        size(array_distinct(col("w"))).as("n_utok"),
        size(col("g2")).as("n_gram2"),
        size(array_distinct(col("g2"))).as("n_ugram2"),
        TextOps.topGramFreq(col("g2")).as("top_gram2_n"))
        .orderBy("doc_id")
    }),
    "q50_repeated_substrings" -> ((s, d) => // substring-level dedup
      // signals (Lee et al. 2022 shape): distinct 10-token windows
      // per doc + how many recur verbatim elsewhere in the corpus;
      // 60-bit window hashes, partial-agg df count
      Dedup.repeatedWindowCounts(t(s, d, "documents"), k = 10)),
    "q49_bpe_merge_pairs" -> ((s, d) => // tokenizer-training step 1:
      // global adjacent-pair frequency table, top-100 (map-side
      // partial agg + TakeOrdered — no global sort). Tokens
      // materialize before the bigram lambda (see the q48 note).
      t(s, d, "documents")
        .select(TextOps.tokens(col("text")).as("w"))
        .select(explode(TextOps.bigrams(col("w"))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(100)),
    "q51_tfidf_top_term" -> ((s, d) => // keyword extraction: per-doc
      // top TF-IDF term, all-integer tf·10⁶ div df score so the
      // oracle replays the ranking bit-for-bit
      TextOps.tfidfTopTerm(t(s, d, "documents"))),
    "q52_cross_source_overlap" -> ((s, d) => // inter-dump dedup
      // diagnostic: near-dup pair counts per unordered source pair;
      // pairs broadcast against a 2-col (doc_id, source) projection
      Dedup.crossSourceOverlap(t(s, d, "documents"))),
    "q53_asof_join" -> ((s, d) => { // point-in-time attribution: each
      // event gets the latest signup of the same user at-or-before its
      // ts — union+running-window as-of join (ONE key shuffle, no
      // range-join row explosion); right side pre-aggregated unique
      // per (user, ts) so the match is deterministic
      val ev = t(s, d, "events")
      val left = ev.where(col("event_type") =!= "signup")
        .select("event_id", "user_id", "ts")
      val right = ev.where(col("event_type") === "signup")
        .groupBy("user_id", "ts").agg(max("event_id").as("last_signup_id"))
      ops.TimeJoin.asofLookup(left, right, "user_id", "ts", "ts", "last_signup_id")
        .select("event_id", "user_id", "last_signup_id")
        .orderBy("event_id")
    }),
    "q54_pii_scrub" -> ((s, d) => { // PII redaction (the C4/RefinedWeb
      // scrub between crawl and training): emails, IPv4s, phones →
      // placeholder tokens, pure codegen projection. The corpus text
      // carries no PII, so each doc gets a deterministic doc_id-derived
      // contact block appended (same construction in the oracle, q30
      // pattern); the contract under test is the engine-identical regex
      // set, the fixed replace order, and counts on the pre-scrub text.
      val pii = concat(col("text"),
        lit(" contact user"), col("doc_id"),
        lit("@ex"), col("doc_id") % 5,
        lit(".com or ops-"), col("doc_id") % 3,
        lit("@mail.example.org call +1 (41"), col("doc_id") % 10,
        lit(") 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), col("doc_id") % 256,
        lit("."), col("doc_id") % 16, lit(".1"))
      t(s, d, "documents").select(
        col("doc_id"),
        ops.Pii.emailCount(pii).cast("long").as("n_email"),
        ops.Pii.ipCount(pii).cast("long").as("n_ip"),
        ops.Pii.phoneCount(pii).cast("long").as("n_phone"),
        md5(ops.Pii.scrub(pii)).as("scrub_md5"))
        .orderBy("doc_id")
    }),
    "q55_line_dedup" -> ((s, d) => { // CCNet/RefinedWeb boilerplate
      // LINE removal: lines repeated verbatim across >=20 docs (cookie
      // banner df=|corpus|, per-source footers df=|source|) drop; each
      // doc's unique body line survives. Corpus text is single-line,
      // so each doc is framed with deterministic boilerplate (same
      // construction in the oracle); the operator under test is
      // df-on-60-bit-hashes + driver-collected boilerplate set +
      // in-row array-filter rebuild — bodies never shuffle.
      val lines = array(
        lit("please accept our cookie policy"),
        concat(lit("copyright "), col("source"), lit(" all rights reserved")),
        col("text"),
        concat(lit("subscribe to the "), col("source"), lit(" newsletter")))
      Dedup.dropFrequentLines(
        t(s, d, "documents").select(col("doc_id"), lines.as("lines")),
        minDf = 20)
    }),
    "q56_quality_verdicts" -> ((s, d) => // Gopher-rules quality audit:
      // per-rule 0/1 verdicts (count/word-length/symbol/alpha/stop) as
      // a pure integer projection — zero shuffle, PlanSpec-pinned
      TextOps.qualityVerdicts(t(s, d, "documents"))),
    "q57_domain_blocklist" -> ((s, d) => { // UT1-style domain scrub:
      // host suffix-chain explode → broadcast semi-join against the
      // blocklist TABLE → left_anti on the 8-byte key; blocks exact
      // domains AND their subdomains. Hosts are doc_id-derived (the
      // corpus carries no urls — q30 pattern); the blocklist entries
      // hit all three shapes: a deep exact host, a mid-chain domain,
      // and a registrable-domain block that catches subdomains.
      val rows = t(s, d, "documents")
        .select(col("doc_id"), mixHostOf(col("doc_id")).as("host"))
      import s.implicits._
      ops.UrlOps.dropBlockedHosts(rows, blockDomains.toDF("domain"),
          "doc_id", "host")
        .orderBy("doc_id")
    }),
    "q58_sequence_packing" -> ((s, d) => // training-sequence packing:
      // per-shard windowed running token offset → fixed-256-token bin
      // id + in-bin offset; per-source windows, no global sort
      TextOps.packSequences(t(s, d, "documents"), binTokens = 256)),
    "q59_familiarity" -> ((s, d) => // CCNet-style reference-LM quality
      // proxy: bigram hits against the doc_id%10==9 reference slice,
      // log₂-magnitude-weighted, all-integer; grams ride as 60-bit
      // hashes, reference counts broadcast
      TextOps.familiarityScores(t(s, d, "documents"),
        isRef = col("doc_id") % 10 === 9)),
    "q60_substring_removal" -> ((s, d) => // Lee et al. substring dedup,
      // the TRANSFORM step (q50 is the detector): cut every token run
      // covered by a cross-doc-repeated 10-token window, rebuild the
      // doc in-row; positions ride as (doc_id, pos, hash)
      Dedup.removeRepeatedWindows(t(s, d, "documents"), k = 10)),
    "q61_host_cap" -> ((s, d) => { // RefinedWeb-style per-host
      // contribution cap: each host keeps its top-20 docs by quality
      // (text length desc, doc_id tiebreak). One hash exchange on
      // host + per-host window — PlanSpec pins no global window.
      // Hosts are doc_id-derived (corpus carries no urls — q30/q57
      // pattern); %17 makes the cap actually bite on the fixture.
      val host = concat(lit("h"), col("doc_id") % 17)
      ops.UrlOps.capHostContribution(
        t(s, d, "documents").select(col("doc_id"), host.as("host"),
          length(col("text")).as("q")),
        "host", k = 20, qualityCol = col("q"))
        .select("doc_id", "host", "host_rank").orderBy("doc_id")
    }),
    "q62_incremental_dedup" -> ((s, d) => { // per-dump incremental
      // dedup: the doc_id%5==0 slice plays the NEW snapshot, the rest
      // the committed corpus; a new doc survives only when no
      // committed doc is a shingle-Jaccard>=0.5 near-dup. Banded-LSH
      // candidates (new×ref equi-join), exact verify, 8-byte anti-join.
      val docs = t(s, d, "documents")
      Dedup.incrementalDedup(
        docs.where(col("doc_id") % 5 === 0),
        docs.where(col("doc_id") % 5 =!= 0))
    }),
    "q63_semantic_dedup" -> ((s, d) => // SemDeDup: cluster embeddings
      // under the first-8 codebook, drop within-cluster cosine>=0.4
      // near-dups keeping the lowest id — the paraphrase-level dedup
      // pass (lexical sketches can't see these). Equi-join on cluster;
      // PlanSpec pins no cartesian.
      Dedup.semanticDedup(t(s, d, "embeddings"), k = 8, threshold = 0.4)),
    "q64_importance_select" -> ((s, d) => // DSIR-style data selection:
      // hashed-bigram importance log-ratio of each raw doc against the
      // doc_id%10==7 target slice (integer log₂-magnitude weights, the
      // q59 trick), top-100 selected via TakeOrdered — bucket tables
      // bounded at 4096 rows and broadcast
      TextOps.importanceScores(t(s, d, "documents"),
        isTarget = col("doc_id") % 10 === 7)),
    "q65_epoch_mix" -> ((s, d) => // multi-epoch source mixing: src0
      // repeats ~2.5x, src1 ~1.25x, the rest thin to 0.5 — one row per
      // (doc, epoch), copy counts integer-exact via the 16-bit hash
      // bucket; pure projection+generator, no shuffle
      TextOps.epochMix(t(s, d, "documents").select("doc_id", "source"),
          col("doc_id"), col("source"), mixWeights, mixDefaultWeight)
        .orderBy("doc_id", "epoch")),
    "q66_corpus_prep" -> ((s, d) => { // the END-TO-END corpus PREP a
      // training run executes over a raw dump: domain-blocklist scrub
      // (q57's operator) → quality gate (q56's four LANGUAGE-
      // INDEPENDENT rules — the stopword rule is per-language and the
      // synthetic corpus has no English function words, so a real
      // pipeline would gate it on q24's lang first) → exact dedup
      // keeping each group's canonical (q20's min-per-fingerprint
      // rule over the SAME TextOps.fingerprint, computed in-scan) →
      // multi-epoch source mix (q65's operator + weights). Bodies are
      // read in two map-side scans (fingerprint projection, verdict
      // projection) and NEVER shuffle: every stage join carries only
      // (doc_id, source, fp) or a bare id set.
      val docs = t(s, d, "documents")
      import s.implicits._
      val block = blockDomains.toDF("domain")
      val base = docs.select(col("doc_id"), col("source"),
        TextOps.fingerprint(col("text")).as("fp"),
        mixHostOf(col("doc_id")).as("host"))
      val unblocked = ops.UrlOps.dropBlockedHosts(
        base, block, "doc_id", "host")
      val passing = TextOps.qualityVerdicts(docs)
        .where(col("ok_count") * col("ok_wordlen") *
          col("ok_symbol") * col("ok_alpha") === 1)
        .select("doc_id")
      val kept = unblocked.join(passing, "doc_id")
      val canon = kept.groupBy("fp").agg(min("doc_id").as("doc_id"))
      TextOps.epochMix(
          kept.join(canon.select("doc_id"), "doc_id")
            .select("doc_id", "source"),
          col("doc_id"), col("source"), mixWeights, mixDefaultWeight)
        .orderBy("doc_id", "epoch")
    }),
    "q67_host_rank" -> ((s, d) => { // link-graph frontier priority:
      // integer-fixed-point PageRank (5 iterations, damping 85%) over
      // the host graph, the Cho/Garcia-Molina crawl-ordering signal,
      // on linkSightings' shared md5-derived edges. The operator under
      // test is the iterative slim (host, long) pipeline — edges
      // partitioned+cached once, two 8-byte-row shuffles per
      // iteration, lineage checkpointed.
      ops.LinkGraph.hostRank(linkSightings(t(s, d, "documents")),
          iterations = 5)
        .orderBy(col("rank_score").desc, col("host"))
    }),
    "q68_recrawl_schedule" -> ((s, d) => // freshness-driven recrawl
      // scheduling (Cho & Garcia-Molina): per-host change-rate estimate
      // from the events log → next-due timestamp, all epoch-microsecond
      // integer math; one partial-aggregated exchange, no window/join.
      // Hosts are user_id-derived (events carry no hosts — q57 pattern).
      crawl.Freshness.recrawlSchedule(t(s, d, "events"),
        col("user_id") % 50, col("ts"))),
    "q69_anchor_text" -> ((s, d) => { // per-target anchor-text roll-up
      // (Craswell et al. CIKM'01) over linkSightings' shared edges;
      // the anchor is the doc's first NON-EMPTY token (TextOps.tokens'
      // filter — a bare split would mint '' anchors for tab/newline-
      // leading texts, and '' wins every lexical tie); token-less docs
      // carry no anchor evidence and drop out. The operator under test
      // is the slim pre-aggregated majority pick — counts first,
      // rank-only window over (dst, anchor, cnt), never raw sightings.
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          try_element_at(ops.TextOps.tokens(col("text")), lit(1))
            .as("anchor"))
        .where(col("anchor").isNotNull)
      ops.LinkGraph.anchorSummary(
        linkSightings(docs, carry = Seq(col("anchor"))))
    }),
    "q70_trap_detect" -> ((s, d) => { // crawl-trap detection (Mercator
      // §3): per-host distinct-url vs distinct-pattern explosion.
      // Synthetic urls: hosts with doc_id%3==0 embed the raw doc_id
      // counter (machine-enumerated — one pattern, many urls); other
      // hosts embed a digit-free md5 slug (one pattern per url).
      val docs = t(s, d, "documents")
      val slug = translate(
        substring(md5(concat(col("doc_id"), lit("#u"))), 1, 6),
        "0123456789", "ghijklmnop")
      val urls = docs.select(
        mixHostOf(col("doc_id")).as("host"),
        concat(lit("http://"), mixHostOf(col("doc_id")), lit("/"),
          when(col("doc_id") % 3 === 0, col("doc_id").cast("string"))
            .otherwise(slug),
          lit(".html")).as("url"))
      ops.UrlOps.trapStats(urls, col("host"), col("url"))
    }),
    "q71_redirect_resolve" -> ((s, d) => { // redirect-chain resolution:
      // the reference's actualurl (MySQLSchema.sql:6) recovered offline
      // — every url resolves to its chain's terminal via pointer
      // doubling (log₂ rounds). Synthetic hops: doc d (d%3≠0, d>0)
      // redirects r<d> → r<d div 2>, so chains shrink toward the
      // nearest d%3==0 (or 0) ancestor and terminals vary per chain.
      val docs = t(s, d, "documents")
      def urlOf(c: org.apache.spark.sql.Column) =
        concat(lit("http://"), mixHostOf(c), lit("/r"), c, lit(".html"))
      val hops = docs
        .where(col("doc_id") % 3 =!= 0 && col("doc_id") > 0)
        .select(urlOf(col("doc_id")).as("url"),
          urlOf(expr("doc_id div 2")).as("redirect_to"))
      ops.UrlOps.resolveRedirects(hops)
    }),
    "q72_warc_read" -> ((s, d) => { // WARC ingestion: archive segments →
      // the input_hint page table. Round-trip gate: records synthesized
      // from `documents` (3 plain .warc + 1 record-per-member .warc.gz),
      // stream-parsed back; the oracle reconstructs url/date/body/md5
      // from the table — a framing slip of even one byte breaks the
      // digest match.
      sources.Warc.read(s, warcFixture(s, d) + "/*")
        .where(col("rec_type") === "response")
        .select(col("url"), col("warc_ts"), col("http_status"),
          col("content_type"), length(col("html")).as("n_bytes"),
          md5(col("html")).as("digest"))
        .orderBy("url")
    }),
    "q73_warc_cdx" -> ((s, d) => { // CDX-style index: per-record byte
      // offset/length in the (decompressed) archive stream — the lookup
      // table random-access page fetches need at 10^5-segment scale.
      // The oracle re-derives every offset ARITHMETICALLY (window-summed
      // reconstructed record lengths), so the parser's byte accounting
      // is value-checked, not just shape-checked.
      sources.Warc.read(s, warcFixture(s, d) + "/*")
        .select(col("warc_file"), col("rec_offset"), col("rec_len"),
          col("url"), md5(col("html")).as("digest"))
        .orderBy("warc_file", "rec_offset")
    }),
    "q74_warc_sink" -> ((s, d) => { // WARC sink round trip: the page
      // table archived as record-per-member .warc.gz segments by the
      // DISTRIBUTED writer (one per partition), then stream-parsed
      // back; same oracle as q72 — the reader is already value-proven
      // against hand-written fixtures, so a green gate here proves the
      // SINK wrote byte-correct records.
      sources.Warc.read(s, warcSinkFixture(s, d) + "/*")
        .where(col("rec_type") === "response")
        .select(col("url"), col("warc_ts"), col("http_status"),
          col("content_type"), length(col("html")).as("n_bytes"),
          md5(col("html")).as("digest"))
        .orderBy("url")
    }),
    "q97_wet_sink" -> ((s, d) => // WET round trip: the engine's
      // byte-identical extracted text archived as Common-Crawl-style
      // `conversion` segments by the DISTRIBUTED writeWet, then
      // stream-parsed back by the SAME reader as q72 (no special
      // casing — conversion payloads pass through verbatim); the
      // oracle reconstructs every record from `documents`, so a
      // one-byte framing or encoding slip breaks the digest match.
      sources.Warc.read(s, wetFixture(s, d) + "/*")
        .where(col("rec_type") === "conversion")
        .select(col("url"), col("warc_ts"),
          length(col("html")).as("n_bytes"),
          md5(col("html")).as("digest"))
        .orderBy("url")),
    "q98_wat_sink" -> ((s, d) => // WAT round trip completing the
      // WARC/WAT/WET sidecar trio: per-page metadata (title + two
      // arithmetic outlinks) archived as `metadata` records by the
      // distributed writeWat, stream-parsed back by the q72 reader,
      // and the JSON payload both digest-checked (byte-exact canonical
      // construction) AND field-extracted via get_json_object — a
      // framing, escaping, or key-order slip breaks the gate.
      sources.Warc.read(s, watFixture(s, d) + "/*")
        .where(col("rec_type") === "metadata")
        .select(col("url"), col("warc_ts"),
          length(col("html")).as("n_bytes"),
          md5(col("html")).as("digest"),
          get_json_object(decode(col("html"), "UTF-8"), "$.title").as("title"),
          get_json_object(decode(col("html"), "UTF-8"), "$.links[1]").as("link2"))
        .orderBy("url")),
    "q75_sitemap_read" -> ((s, d) => { // sitemap ingestion: robots.txt
      // names sitemap files, a <sitemapindex> fans out to <urlset>
      // segments carrying the frontier's freshness hints. Fixture: 3
      // urlsets (one gzipped) + 1 index synthesized from `documents`;
      // the oracle reconstructs every row — loc, W3C lastmod,
      // changefreq, priority — arithmetically from the table.
      sources.Sitemap.read(s, sitemapFixture(s, d) + "/*")
        .select(col("kind"), col("sitemap_file"), col("loc"),
          col("lastmod"), col("changefreq"), col("priority"))
        .orderBy("kind", "loc")
    }),
    "q76_inverted_index" -> ((s, d) => // inverted-index shard build:
      // term → (df, capped ascending docid:tf postings string) — one
      // (term,doc) shuffle, then window + final agg reusing the same
      // hash partitioning; stopword skew bounded by the posting cap
      // BEFORE collect_list. minDf=2 drops the hapax tail.
      ops.TextOps.invertedIndex(t(s, d, "documents"))),
    "q77_sitemap_schedule" -> ((s, d) => // sitemap freshness → recrawl
      // schedule: per host, next due = max(lastmod) + min(changefreq
      // interval) — the bridge feeding Freshness.applySchedule (same
      // gate as q68). One partial-agg hash shuffle on host; 'never'
      // excluded from the min, no evidence ⇒ null ⇒ due now.
      sources.Sitemap.freshnessSchedule(
        sources.Sitemap.read(s, sitemapFixture(s, d) + "/*"))),
    "q78_content_drift" -> ((s, d) => { // cross-crawl content drift →
      // recrawl schedule (Cho & Garcia-Molina from two dated dumps):
      // per host, unchanged/changed/new/gone url counts + integer
      // change rate, then interval = base·1000 div max(rate,125)
      // clamped [1×,8×] — feeds the SAME Freshness.applySchedule gate
      // as q68/q77. Snapshots synthesized from `documents`: prev drops
      // doc_id%13==5 (those appear "new"), curr drops doc_id%11==3
      // ("gone"), doc_id%7==0 re-digests ("changed"). Digests computed
      // in-scan; bodies never ride the url full-outer join.
      val docs = t(s, d, "documents")
      def urlOf(c: org.apache.spark.sql.Column) =
        concat(lit("http://"), mixHostOf(c), lit("/d"), c, lit(".html"))
      val prev = docs.where(col("doc_id") % 13 =!= 5)
        .select(mixHostOf(col("doc_id")).as("host"),
          urlOf(col("doc_id")).as("url"), md5(col("text")).as("digest"))
      val curr = docs.where(col("doc_id") % 11 =!= 3)
        .select(mixHostOf(col("doc_id")).as("host"),
          urlOf(col("doc_id")).as("url"),
          when(col("doc_id") % 7 === 0,
            md5(concat(col("text"), lit("#v2"))))
            .otherwise(md5(col("text"))).as("digest"))
      crawl.Freshness.driftSchedule(
          crawl.Freshness.contentDrift(prev, curr),
          nowUs = 1700000000000000L, baseIntervalUs = 86400000000L)
        .orderBy("host_id")
    }),
    "q80_warc_revisit" -> ((s, d) => { // WARC revisit-record dedup
      // (ISO 28500 identical-payload-digest): two dated crawls of the
      // documents page table — crawl 2 re-fetches everything still
      // present; unchanged pages come back byte-identical and become
      // slim revisit records pointing at crawl 1's response, changed/
      // new pages stay responses. Digest+len computed in-scan; bodies
      // never ride the window's digest shuffle.
      val docs = t(s, d, "documents")
      def urlOf(c: org.apache.spark.sql.Column) =
        concat(lit("http://"), mixHostOf(c), lit("/d"), c, lit(".html"))
      val body = concat(lit("<html><body><p>"), col("text"),
        lit("</p></body></html>"))
      val c1 = docs.select(urlOf(col("doc_id")).as("url"),
        expr("timestampadd(MINUTE, CAST(doc_id % 1440 AS INT), " +
          "timestamp'2024-03-01 00:00:00')").as("warc_ts"),
        body.as("html"))
      val c2 = docs.where(col("doc_id") % 11 =!= 3)
        .select(urlOf(col("doc_id")).as("url"),
          expr("timestampadd(MINUTE, CAST(doc_id % 1440 AS INT), " +
            "timestamp'2024-03-02 00:00:00')").as("warc_ts"),
          when(col("doc_id") % 7 === 0, concat(body, lit("<!--v2-->")))
            .otherwise(body).as("html"))
      sources.Warc.revisitDedup(c1.unionByName(c2))
        .orderBy("url", "warc_ts")
    }),
    "q81_mirror_hosts" -> ((s, d) => // mirror-host detection (Bharat
      // & Broder WWW'99): host pairs replicating (path, digest)
      // evidence units — see mirrorFixture for the planted
      // signal/noise/boilerplate structure.
      ops.UrlOps.mirrorHosts(mirrorFixture(s, d, withChain = false),
        col("host"), col("path"), col("digest"))),
    "q84_mirror_families" -> ((s, d) => // collapse q81's pairwise
      // mirror evidence into FAMILIES: connected components over the
      // host-pair graph (the q44 min-label + pointer-jumping loop,
      // string-keyed), canonical = each family's lexicographic-min
      // host. The chain fixture plants a~b and a~c evidence with NO
      // direct b~c key overlap, so {chain-a,chain-b,chain-c} closes
      // into one family ONLY via transitivity — a pairwise replay
      // cannot fake it.
      ops.UrlOps.mirrorFamilies(
        ops.UrlOps.mirrorHosts(mirrorFixture(s, d, withChain = true),
          col("host"), col("path"), col("digest")))),
    "q85_soft404" -> ((s, d) => // soft-404 detection (WWW'04 probe
      // method): pages serving content byte-identical to their host's
      // known-missing-url probe response are dead links in disguise —
      // flagged for corpus drop + recrawl retirement. Hosts that
      // hard-404 have no probe row, so their decayed pages stay
      // unflagged (no evidence — the method's core asymmetry, pinned
      // by the fixture's no-probe hosts).
      ops.UrlOps.soft404Urls(soft404Fixture(s, d),
        col("host"), col("url"), col("digest"))),
    "q86_domain_rollup" -> ((s, d) => { // registrable-domain (eTLD+1)
      // contribution roll-up — the unit per-site caps and politeness
      // budgets key on: subdomains of one site under a cc-SLD
      // (a.shop.co.uk + b.shop.co.uk = shop.co.uk) must land in ONE
      // group, while every .co.uk site must NOT merge. Fixture plants
      // cc-SLD hosts, bare two-label hosts, a single-label edge
      // (localhost = its own domain), and UPPERCASE spellings that
      // must fold into their lowercase site.
      val docs = t(s, d, "documents")
      val h = mixHostOf(col("doc_id"))
      val host =
        when(col("doc_id") % 6 === 0, concat(lit("sh"),
            col("doc_id") % 5, lit(".shop"), col("doc_id") % 2,
            lit(".co.uk")))
          .when(col("doc_id") % 6 === 3, concat(lit("b"),
            col("doc_id") % 3, lit(".site"), col("doc_id") % 2,
            lit(".com.au")))
          .when(col("doc_id") % 11 === 1,
            concat(lit("plain"), col("doc_id") % 4, lit(".org")))
          .when(col("doc_id") % 97 === 5, lit("localhost"))
          .when(col("doc_id") % 13 === 2, upper(h))
          .otherwise(h)
      ops.UrlOps.domainRollup(docs.select(host.as("host")), col("host"))
    }),
    "q87_canonical_links" -> ((s, d) => { // page-declared rel=canonical
      // collapse (RFC 6596) — the page-side complement to DUST. The
      // synthesized html plants, by doc_id%5: a canonical pointing at
      // the group leader (1), an UPPERCASE single-quoted href-first
      // spelling (2), a RELATIVE href that must fall back to the
      // page's own url (3), no tag at all (4), and a self-canonical
      // (0) — plus a stylesheet <link> decoy on every page that the
      // rel filter must ignore. Body filler is md5(text) so corpus
      // text can never fake a tag.
      val docs = t(s, d, "documents")
      val h = mixHostOf(col("doc_id"))
      val own = concat(lit("http://"), h, lit("/a"), col("doc_id"))
      val leader = concat(lit("http://"), h, lit("/a"),
        col("doc_id") - col("doc_id") % 5)
      val tagPart =
        when(col("doc_id") % 5 === 1,
          concat(lit("<link rel=\"canonical\" href=\""), leader, lit("\">")))
          .when(col("doc_id") % 5 === 2,
            concat(lit("<LINK HREF='"), leader, lit("' REL='CANONICAL'>")))
          .when(col("doc_id") % 5 === 3,
            lit("<link rel=\"canonical\" href=\"/print/view\">"))
          .when(col("doc_id") % 5 === 4, lit(""))
          .otherwise(
            concat(lit("<link rel=\"canonical\" href=\""), own, lit("\">")))
      val html = concat(
        lit("<html><head><link rel=\"stylesheet\" href=\"/css/m.css\">"),
        tagPart, lit("</head><body>"), md5(col("text")),
        lit("</body></html>"))
      ops.UrlOps.canonicalLinks(
          docs.select(own.as("url"), html.as("html")),
          col("url"), col("html"))
        .orderBy("url")
    }),
    "q88_link_farm" -> ((s, d) => { // link-farm detection by in-link
      // DOMAIN diversity (q86's eTLD+1 doing ranking work): organic
      // targets o<k>.test draw links from near-unique .org domains
      // (diversity ~1000‰); victim targets v<k>.test draw most links
      // from subdomains of just TWO farm domains (farm0/farm1.co.uk)
      // plus a thin organic trickle — many distinct hosts, few
      // distinct domains ⇒ flagged, while raw host fan-in alone
      // looks organic.
      val docs = t(s, d, "documents")
      val organicSrc = concat(lit("s"),
        substring(md5(concat(col("doc_id"), lit("#s"))), 1, 6),
        lit(".org"))
      val organic = docs.select(organicSrc.as("src"),
        concat(lit("o"), col("doc_id") % 7, lit(".test")).as("dst"))
      val farm = docs.where(col("doc_id") % 3 === 0)
        .select(concat(lit("f"),
          substring(md5(concat(col("doc_id"), lit("#f"))), 1, 6),
          lit(".farm"), col("doc_id") % 2, lit(".co.uk")).as("src"),
          concat(lit("v"), col("doc_id") % 5, lit(".test")).as("dst"))
      val trickle = docs.where(col("doc_id") % 18 === 0)
        .select(organicSrc.as("src"),
          concat(lit("v"), col("doc_id") % 5, lit(".test")).as("dst"))
      ops.LinkGraph.linkFarmScores(
        organic.unionByName(farm).unionByName(trickle),
        col("src"), col("dst"))
    }),
    "q82_dust_rules" -> ((s, d) => { // DUST param-rule mining (Bar-
      // Yossef et al. WWW'07): learn strip-this-query-param rules
      // from duplicate-content evidence. Fixture params: 'sessionid'
      // always content-irrelevant (bare + ?sessionid= spellings of
      // every doc, plus ref/page combos), 'ref' irrelevant on the %5
      // docs that carry it, 'page' content-RELEVANT (?page=2 serves a
      // '#p2' digest — stripping it lands on the bare url with a
      // different digest, pure counterexamples), and 'v' mixed on
      // n_chars parity (~half counters ⇒ rejected by the permille
      // gate wherever it reaches minSupport).
      ops.UrlOps.dustParamRules(dustFixture(s, d), col("host"),
        col("url"), col("digest"))
    }),
    "q83_dust_apply" -> ((s, d) => { // the q82→frontier bridge: mine
      // the rules, then rewrite the SAME url stream into sorted-param
      // canonical form with the ruled params stripped — a broadcast
      // join + pure projection, the shape the seen-filter consumes.
      // End-to-end pin: every sessionid/ref alias family collapses to
      // one spelling while the content-relevant page=2 urls keep
      // their param.
      val pages = dustFixture(s, d)
      val rules = ops.UrlOps.dustParamRules(pages, col("host"),
        col("url"), col("digest"))
      ops.UrlOps.applyDustRules(pages.select("host", "url").distinct(),
          col("host"), col("url"), rules)
        .select("url", "url_canon")
        .orderBy("url")
    }),
    "q79_bloom_decontam" -> ((s, d) => // Bloom-filter decontamination:
      // the fixed-memory scale path to q47's exact join — eval grams
      // compressed to a 2^18-bit filter (k=3 disjoint 18-bit fields of
      // the SAME 60-bit gram hash, so DuckDB replays membership
      // bit-for-bit); the corpus probe is a pure per-row projection,
      // NO join/shuffle of corpus grams (PlanSpec-pinned). Zero false
      // negatives vs q47 is spec-pinned (Bloom can only over-flag).
      Dedup.bloomContamination(t(s, d, "documents"), n = 5,
        isEval = col("doc_id") % 20 === 0)),

    // ---- crawl-engine surface (SURVEY §2.8/§2.9 + north rule) -------
    "q29_json_extract" -> ((s, d) => // U2 JPath-rule analog over JSON props
      t(s, d, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .where(col("k") > 50)
        .orderBy("event_id")),
    "q30_url_canon" -> ((s, d) => { // north rule: URL canonicalization
      val messy = concat(
        lit("HTTP://WWW"), col("doc_id") % 7, lit(".Example.COM:80/Dir/P%41ge"),
        col("doc_id"), lit(".HTML?q=a%2fb&y=2#Frag"))
      t(s, d, "documents").select(
        col("doc_id"),
        ops.UrlOps.canonicalize(messy).as("url_canon"),
        ops.UrlOps.host(messy).as("host"))
        .orderBy("doc_id")
    }),
    "q91_surt_keys" -> ((s, d) => { // Common-Crawl CDX sort keys:
      // reversed-host SURT form making each domain one key range.
      // Messy synthesized input: mixed case, www prefix, port,
      // unsorted params, fragment — every canonicalization step fires.
      val messy = concat(
        lit("HTTP://WWW"), col("doc_id") % 3, lit(".News"), col("doc_id") % 7,
        lit(".Example.CO.UK:8080/Section/Story"), col("doc_id"),
        lit(".HTML?z=9&a=1&m="), col("doc_id") % 5, lit("#comments"))
      ops.UrlOps.surtKeys(t(s, d, "documents"), messy)
    }),
    "q92_bm25" -> ((s, d) => // search-serving counterpart of q76: BM25
      // top-k docs for a fixed query-term set, integer-scaled scoring
      // (k1=1.2, b=0.75, ⌊log₂⌋ idf via len(bin()) — the q59/q64
      // trick) so the oracle replays the ranking bit-for-bit. Explode
      // filtered to the query terms BEFORE the shuffle; df + corpus
      // stats broadcast; TakeOrdered.
      ops.TextOps.bm25TopK(t(s, d, "documents"),
        Seq("join", "scan", "filter"), 10)),
    "q93_kmv_distinct" -> ((s, d) => // KMV distinct-cardinality sketch:
      // bounded k-min-set partial aggregates (≤32 longs per group per
      // map task) over a deterministic 31-bit LCG hash — the
      // oracle-replayable stand-in for approx_count_distinct at
      // frontier scale (distinct users per event type here; distinct
      // urls per host in the crawl store).
      ops.Sketches.kmvDistinct(t(s, d, "events"),
        col("event_type"), col("user_id"), 32)),
    "q94_heavy_hitters" -> ((s, d) => // exact φ-frequent tokens (φ=1%)
      // via a bounded Misra–Gries candidate pass (mergeable summaries,
      // O(k) state per map task) + exact recount of the ≤k candidates
      // only — no full-vocabulary shuffle; output provably equals the
      // oracle's plain GROUP BY/HAVING.
      ops.Sketches.heavyHitters(
        t(s, d, "documents")
          .select(ops.TextOps.tokens(col("text")).as("w"))
          .select(explode(col("w")).as("tok")),
        col("tok"), 10L)),
    "q95_budget_apportion" -> ((s, d) => // largest-remainder (Hamilton)
      // split of a 1000-slot global fetch budget across groups ∝ their
      // row count — quotas sum EXACTLY to the budget, all-integer,
      // total-order tie-broken; the proportional-fairness alternative
      // to the engine's rank-ordered maxTasksPerWave cut.
      ops.LinkGraph.budgetApportion(
        t(s, d, "events").groupBy("event_type")
          .agg(count(lit(1)).as("cnt")),
        col("event_type"), col("cnt"), 1000L)),
    "q96_length_percentiles" -> ((s, d) => // EXACT nearest-rank
      // p50/p90/p99 doc length per language over bounded (grp, value)
      // counts — the windows run over the distinct-value domain, not
      // the corpus rows; approx_percentile's sketch would not replay
      // across engines, the exact form does.
      ops.TextOps.integerPercentiles(t(s, d, "documents"),
        col("lang"), col("n_chars"))),
    "q31_crawl_frontier" -> ((s, _) => // rows-only: politeness schedule
      crawlFixtureRun(s).readDeltas(s, "frontier", 1).get
        .select("wave", "host", "seq", "url", "sched_ms", "title")
        .orderBy("wave", "host", "seq")),
    "q32_crawl_articles" -> ((s, _) => // rows-only: wave output store
      crawlFixtureRun(s).readDeltas(s, "articles", 1).get
        .select("url", "wave", "host", "seq", "title", "content")
        .orderBy("url")),
    "q33_crawl_metrics" -> ((s, _) => // rows-only: per-host wave metrics
      crawlFixtureRun(s).readDeltas(s, "metrics", 1).get
        .orderBy("wave", "host")),
    "q34_full_outer_diff" -> ((s, d) => { // J6: config-diff (rule save)
      val a = t(s, d, "customer").where(col("c_acctbal") > 7000)
        .select(col("c_custkey").as("key"), col("c_acctbal").as("bal_a"))
      val b = t(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("key"), col("c_acctbal").as("bal_b"))
      a.join(b, Seq("key"), "full_outer")
        .withColumn("action",
          when(col("bal_a").isNull, "add")
            .when(col("bal_b").isNull, "remove")
            .otherwise("update"))
        .select("key", "action")
        .orderBy("key")
    }),
    "q35_duplicate_rows" -> ((s, d) => // S10: re-insert with new keys
      t(s, d, "supplier")
        .where(col("s_nationkey") < 5)
        .select(
          md5(concat(lit("dup:"), col("s_suppkey"))).as("new_key"),
          col("s_suppkey").as("src_key"), col("s_name"),
          lit(false).as("enabled"))
        .orderBy("src_key")),
    "q37_collect_list" -> ((s, d) => { // J2: 1:N parent⋈children collect
      val li = t(s, d, "lineitem")
        .groupBy("l_orderkey")
        .agg(concat_ws(",", array_sort(collect_list(col("l_linenumber"))))
          .as("line_numbers"), count(lit(1)).as("n_lines"))
      t(s, d, "orders")
        .join(li, col("o_orderkey") === col("l_orderkey"), "left")
        .where(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"),
          coalesce(col("line_numbers"), lit("")).as("line_numbers"),
          coalesce(col("n_lines"), lit(0L)).as("n_lines"))
        .orderBy("o_orderkey")
    }),
    "q36_host_health" -> ((s, d) => { // F7/F8: status ladder + enabled
      // transition over a deterministic per-host facts fixture (r4
      // verdict: unlike q31-q33 there is no multi-wave state here, so
      // the classification belongs under the full rows+schema+hash
      // gate — every CASE branch is exercised and the oracle replays
      // the ladder verbatim; the sweep over LIVE engine output stays
      // pinned by RuleHealthSpec/CrawlPipelineSpec).
      val facts = t(s, d, "documents").where(col("doc_id") < 40).select(
        concat(lit("host"), col("doc_id")).as("host"),
        (col("doc_id") % 7 === 0).as("home_failed"),
        when(col("doc_id") % 5 === 0, 0)
          .otherwise((col("doc_id") % 9 + 1).cast("int")).as("catalog_found"),
        when(col("doc_id") % 4 === 0, (col("doc_id") % 3 + 1).cast("int"))
          .otherwise(0).as("n_undated"),
        when(col("doc_id") % 11 === 0, lit(null).cast("timestamp"))
          .otherwise(expr("timestamp'2024-06-01 00:00:00'" +
            " - make_interval(0, 0, 0, CAST((doc_id * 37) % 800 AS INT), 0, 0, 0)"))
          .as("newest_published"),
        (col("doc_id") % 6 =!= 1).as("validate_date"),
        (col("doc_id") % 2 === 0).as("enabled"),
        element_at(typedLit(Seq(crawl.HostHealth.Normal,
          crawl.HostHealth.WarningNoDates, crawl.HostHealth.ErrorBroken)),
          (col("doc_id") % 3 + 1).cast("int")).as("prev_status"))
      crawl.HostHealth.classify(facts,
          java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))
        .withColumn("next_enabled", crawl.HostHealth.nextEnabledCol(
          col("enabled"), col("status"), col("prev_status")))
        .select("host", "status", "prev_status", "enabled", "next_enabled")
        .orderBy("host")
    }),

    // ---- training-data ops (vectors) --------------------------------
    "q22_ann_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(t(s, d, "embeddings"), queryVecId = 0L, k = 10)),
    "q23_embedding_neardup" -> ((s, d) =>
      Dedup.embeddingNearDups(t(s, d, "embeddings"), threshold = 0.4)),
    "q28_ann_lsh" -> ((s, d) => // rows-only: LSH-bucketed ANN (recall<1)
      Similarity.lshTopK(t(s, d, "embeddings"), dim = 64, nBits = 8,
        queryVecId = 0L, k = 10)),
    "q38_embedding_neardup_lsh" -> ((s, d) => // scale path for q23:
      // banded candidates (OR-amplified LSH) + exact cosine verify;
      // recall vs q23 pinned in SparkEntrySpec
      Dedup.embeddingNearDupsLsh(t(s, d, "embeddings"), dim = 64,
        threshold = 0.4, nBits = 6, tables = 8)),
    "q41_ann_ivf" -> ((s, d) => // IVF probe: the second ANN scale path
      // (inverted lists under a deterministic seed-centroid codebook;
      // nearest-2-of-8 lists searched; recall<1 vs q22 by design)
      Similarity.ivfTopK(t(s, d, "embeddings"), k = 8, nProbe = 2,
        queryVecId = 0L, topK = 10)),

    // ---- multimodal decode: REAL container-header parsing (PNG IHDR,
    //      JPEG SOFn, WAV/AVI RIFF — MediaHeaders) over deterministic
    //      header-true fixture blobs; the oracle reconstructs every
    //      probed field arithmetically from doc_id (q72 CDX pattern),
    //      so a one-byte parser slip goes red ----
    "q39_multimodal_decode" -> ((s, d) => {
      val media = ops.Multimodal.syntheticMedia(
        t(s, d, "documents").select(col("doc_id")))
      val balanced = ops.Multimodal.balanceBySize(media, 8)
      ops.Multimodal.decode(balanced).toDF()
        .select(col("doc_id"), col("kind"), col("container"),
          col("n_bytes"), col("width"), col("height"), col("duration_ms"))
        .orderBy("doc_id")
    }),
  )

  // ---- LSH oracle helpers -------------------------------------------
  // The LSH hyperplanes are deterministic constants (splitmix64-seeded,
  // Similarity.hyperplanes), so the DuckDB oracle can recompute the
  // ENTIRE bucket pipeline verbatim by embedding the same planes as SQL
  // list literals: dot products via list_zip/list_transform/list_sum in
  // double precision, left-to-right — the construct q22/q23 already
  // prove hash-identical across engines. Double.toString round-trips
  // (shortest repr, correctly-rounded parse), so the literals are
  // bit-equal to Spark's typedLit planes.
  private def sqlDot(vecExpr: String, plane: Array[Double]): String = {
    val lit = plane.map(_.toString).mkString("[", ",", "]")
    s"list_sum(list_transform(list_zip($vecExpr, $lit), " +
      "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
  }

  /** Sign-bit bucket of `vecExpr` under the (dim, nBits, seed) plane
    * set — SQL mirror of Similarity.bucketCol. */
  private def sqlBucket(vecExpr: String, dim: Int, nBits: Int, seed: Long): String =
    ops.Similarity.hyperplanes(dim, nBits, seed).zipWithIndex.map {
      case (p, i) =>
        s"(CASE WHEN ${sqlDot(vecExpr, p)} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** q67 oracle: the same integer PageRank unrolled as 5 chained CTEs
    * (standard SQL forbids aggregation in a recursive member, so the
    * fixed iteration count is spelled out). Same md5-derived edges,
    * same DISTINCT/self-loop rule, same teleport 1.5e11 = 1e12*15//100,
    * same per-edge `rank div deg` then `85*sum // 100` rounding. */
  private def hostRankOracleSql: String = {
    // mixHostSql is a single line: a wrapped continuation starting with
    // '||' would lose its first '|' to the outer stripMargin
    val iters = (1 to 5).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |    CAST(150000000000 + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, CAST(SUM(r.r // g.d) AS BIGINT) AS c
         |    FROM edges e JOIN r${i - 1} r ON e.src = r.node
         |    JOIN deg g ON g.src = e.src
         |    GROUP BY 1) s ON n.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH cand AS (
       |  SELECT doc_id, j FROM documents, (VALUES (0), (1), (2)) t(j)),
       |e0 AS (
       |  SELECT ${mixHostSql("doc_id")} AS src,
       |    ${mixHostSql("k")} AS dst
       |  FROM (SELECT doc_id,
       |          CAST('0x' || substring(md5(doc_id || ':' || j), 1, 15) AS BIGINT)
       |            % 1000 AS k
       |        FROM cand)),
       |edges AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1),
       |r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM nodes),
       |$iters
       |SELECT node AS host, r AS rank_score FROM r5
       |ORDER BY rank_score DESC, host""".stripMargin
  }

  // ONE SQL twin of mixHostOf for the interpolated oracle builders
  // (q67/q69/q70) — the q57/q66 oracles carry the same formula inline
  // in their plain (non-interpolated) strings; any edit must touch all
  // three places or the composed queries desynchronize.
  // Shared CTE prefix of the q82/q83 oracles: the dustFixture url
  // stream (u, pages), parsed urls (rp: base + param list), canonical
  // keys, per-param-occurrence residuals (cand), and the
  // support/counter roll-up (agg). ONE definition — the two oracles
  // extend it with their own final SELECT, exactly as the Spark side
  // shares dustFixture.
  private def dustOracleCtes: String =
    s"""WITH u AS (
       |  SELECT doc_id, ${mixHostSql("doc_id")} AS host,
       |    'http://' || ${mixHostSql("doc_id")} || '/a' || CAST(doc_id AS VARCHAR) AS base,
       |    substring(md5(doc_id || '#s'), 1, 6) AS sid,
       |    md5(text) AS d0, text, n_chars
       |  FROM documents),
       |pages AS (
       |  SELECT host, base AS url, d0 AS digest FROM u
       |  UNION ALL SELECT host, base || '?sessionid=' || sid, d0 FROM u
       |  UNION ALL SELECT host, base || '?ref=home', d0
       |    FROM u WHERE doc_id % 5 = 0
       |  UNION ALL SELECT host, base || '?ref=home&sessionid=' || sid, d0
       |    FROM u WHERE doc_id % 5 = 0
       |  UNION ALL SELECT host, base || '?page=2', md5(text || '#p2')
       |    FROM u WHERE doc_id % 3 = 0
       |  UNION ALL SELECT host, base || '?page=2&sessionid=' || sid,
       |    md5(text || '#p2') FROM u WHERE doc_id % 7 = 0
       |  UNION ALL SELECT host, base || '?v=1',
       |    CASE WHEN n_chars % 2 = 0 THEN d0 ELSE md5(text || '#v') END
       |    FROM u),
       |rp AS (
       |  SELECT host, url, digest,
       |    split_part(url, '?', 1) AS base,
       |    list_filter(string_split(split_part(url, '?', 2), '&'),
       |      p -> len(p) > 0) AS params
       |  FROM (SELECT DISTINCT host, url, digest FROM pages)),
       |keys AS (
       |  SELECT DISTINCT
       |    CASE WHEN len(params) = 0 THEN base
       |      ELSE base || '?' || array_to_string(list_sort(params), '&')
       |    END AS key,
       |    digest AS key_digest
       |  FROM rp),
       |cand AS (
       |  SELECT host, split_part(kv, '=', 1) AS param, digest,
       |    CASE WHEN len(list_filter(params, p -> p <> kv)) = 0
       |      THEN base
       |      ELSE base || '?' || array_to_string(
       |        list_sort(list_filter(params, p -> p <> kv)), '&')
       |    END AS residual
       |  FROM rp, LATERAL (SELECT unnest(list_distinct(params)) AS kv) x),
       |agg AS (
       |  SELECT host, param,
       |    CAST(SUM(CASE WHEN c.digest = k.key_digest THEN 1 ELSE 0 END) AS BIGINT) AS n_support,
       |    CAST(SUM(CASE WHEN c.digest <> k.key_digest THEN 1 ELSE 0 END) AS BIGINT) AS n_counter
       |  FROM cand c JOIN keys k ON c.residual = k.key
       |  GROUP BY 1, 2)""".stripMargin

  private def mixHostSql(e: String) =
    s"'m' || CAST($e % 3 AS VARCHAR) || '.w' || CAST($e % 7 AS VARCHAR) || '.ex' || CAST($e % 4 AS VARCHAR) || '.com'"

  // DuckDB replay of UrlOps.registrableDomain, as a CASE over a
  // pre-split label list `l` and pre-lowered host `lh` — ONE
  // definition (q86 roll-up + q88 farm scores) off the SAME
  // interpolated suffix literals, so no SQL copy can drift from the
  // Spark column math.
  private def regDomainCaseSql(l: String, lh: String): String =
    s"""CASE WHEN len($l) >= 3 AND list_contains(
       |           [${ops.UrlOps.MultiPartSuffixes.map(x => s"'$x'").mkString(", ")}],
       |           array_to_string($l[-2:], '.'))
       |         THEN array_to_string($l[-3:], '.')
       |         WHEN len($l) >= 2 THEN array_to_string($l[-2:], '.')
       |         ELSE $lh END""".stripMargin

  // q81/q84 oracle CTEs: mirrorFixture replayed as plain SQL down to
  // the THRESHOLDED pair set `pairsf`. ONE definition for both
  // oracles (the dustOracleCtes precedent) so the fixture, cap,
  // sizes, and permille gates can never drift between the pair query
  // and the family query. `recursive` prefixes WITH RECURSIVE for
  // q84's reachability closure.
  private def mirrorOracleCtes(chain: Boolean, recursive: Boolean): String = {
    val chainSql =
      if (!chain) ""
      else """
         |  UNION ALL
         |  SELECT 'chain-a.test', cpath, digest FROM u
         |  WHERE doc_id % 8 IN (1, 5)
         |  UNION ALL
         |  SELECT 'chain-b.test', cpath, digest FROM u WHERE doc_id % 8 = 1
         |  UNION ALL
         |  SELECT 'chain-c.test', cpath, digest FROM u WHERE doc_id % 8 = 5""".stripMargin
    s"""WITH ${if (recursive) "RECURSIVE " else ""}u AS (
       |  SELECT doc_id, ${mixHostSql("doc_id")} AS host,
       |    '/p' || substring(md5(doc_id || '#p'), 1, 8) || '.html' AS path,
       |    '/c' || substring(md5(doc_id || '#c'), 1, 8) || '.html' AS cpath,
       |    md5(text) AS digest, text
       |  FROM documents),
       |pages AS (
       |  SELECT host, path, digest FROM u
       |  UNION ALL
       |  SELECT 'mm.' || host, path, digest FROM u WHERE doc_id % 4 = 1
       |  UNION ALL
       |  SELECT 'ss.' || host, path, md5(text || '#stale')
       |  FROM u WHERE doc_id % 4 = 2
       |  UNION ALL
       |  SELECT host, '/index.html', md5('boiler') FROM u$chainSql),
       |trip AS (SELECT DISTINCT host, path, digest FROM pages),
       |sizes AS (SELECT host, COUNT(*) AS n FROM trip GROUP BY 1),
       |keyh AS (SELECT path, digest, COUNT(*) AS nh
       |         FROM trip GROUP BY 1, 2),
       |ok AS (
       |  SELECT t.host, t.path, t.digest FROM trip t
       |  JOIN keyh k ON t.path = k.path AND t.digest = k.digest
       |  WHERE k.nh <= 50),
       |pairs AS (
       |  SELECT a.host AS host_a, b.host AS host_b,
       |    COUNT(*) AS n_shared
       |  FROM ok a JOIN ok b ON a.path = b.path
       |    AND a.digest = b.digest AND a.host < b.host
       |  GROUP BY 1, 2),
       |pairsf AS (
       |  SELECT p.host_a, p.host_b, p.n_shared, sa.n AS n_a,
       |    sb.n AS n_b,
       |    1000 * p.n_shared // LEAST(sa.n, sb.n) AS overlap_permille
       |  FROM pairs p
       |  JOIN sizes sa ON sa.host = p.host_a
       |  JOIN sizes sb ON sb.host = p.host_b
       |  WHERE p.n_shared >= 2
       |    AND 1000 * p.n_shared // LEAST(sa.n, sb.n) >= 500)""".stripMargin
  }

  // q69: same doc_id-derived link sightings as q67 (ONE builder,
  // linkSightings); the anchor is the doc's first NON-EMPTY token
  // (engine-identical token filter, the q42/q43 contract — a bare
  // split would mint '' anchors for tab/newline-leading texts and ''
  // wins every lexical tie); majority pick = cnt DESC, anchor ASC.
  private def anchorOracleSql: String = {
    s"""WITH docs0 AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+'),
       |                t -> t <> '')[1] AS anchor
       |  FROM documents),
       |d1 AS (SELECT doc_id, anchor FROM docs0 WHERE anchor IS NOT NULL),
       |cand AS (SELECT doc_id, anchor, j FROM d1, (VALUES (0), (1), (2)) t(j)),
       |links AS (
       |  SELECT ${mixHostSql("doc_id")} AS src,
       |    ${mixHostSql("k")} AS dst, anchor
       |  FROM (SELECT doc_id, anchor,
       |          CAST('0x' || substring(md5(doc_id || ':' || j), 1, 15) AS BIGINT)
       |            % 1000 AS k
       |        FROM cand)),
       |pairs AS (SELECT dst, anchor, COUNT(*) AS cnt FROM links GROUP BY 1, 2),
       |top AS (SELECT dst, anchor, cnt,
       |          ROW_NUMBER() OVER (PARTITION BY dst
       |            ORDER BY cnt DESC, anchor) AS rn
       |        FROM pairs),
       |stats AS (SELECT dst, COUNT(*) AS n_inlinks, COUNT(DISTINCT src) AS n_srcs,
       |            COUNT(DISTINCT anchor) AS n_anchors
       |          FROM links GROUP BY 1)
       |SELECT s.dst, s.n_inlinks, s.n_srcs, s.n_anchors,
       |  t.anchor AS top_anchor, t.cnt AS top_cnt
       |FROM stats s JOIN top t ON s.dst = t.dst AND t.rn = 1
       |ORDER BY s.dst""".stripMargin
  }

  // q70: same synthetic urls (counter vs digit-free slug per doc_id%3),
  // pattern = digit runs → 'N' (RE2 'g' flag = Spark's replace-all),
  // integer per-mille ratio and the 5-url/2000-pm trap verdict.
  private def trapOracleSql: String = {
    s"""WITH urls0 AS (
       |  SELECT ${mixHostSql("doc_id")} AS host,
       |    'http://' || ${mixHostSql("doc_id")} || '/' ||
       |    CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id AS VARCHAR)
       |         ELSE translate(substring(md5(doc_id || '#u'), 1, 6),
       |                        '0123456789', 'ghijklmnop') END
       |    || '.html' AS url
       |  FROM documents),
       |d AS (SELECT DISTINCT host, url FROM urls0),
       |p AS (SELECT host, regexp_replace(url, '[0-9]+', 'N', 'g') AS pattern FROM d),
       |a AS (SELECT host, COUNT(*) AS n_urls, COUNT(DISTINCT pattern) AS n_patterns
       |      FROM p GROUP BY 1)
       |SELECT host, n_urls, n_patterns,
       |  n_urls * 1000 // n_patterns AS ratio_pm,
       |  (n_urls >= 5 AND n_urls * 1000 // n_patterns >= 2000) AS trap
       |FROM a ORDER BY host""".stripMargin
  }

  // q78: same snapshots (prev drops doc_id%13==5, curr drops %11==3,
  // %7==0 re-digested with '#v2'), same full-outer url classification,
  // same integer rate (1000·changed div overlap) and interval
  // (base·1000 div max(rate,125), base = 86 400 000 000 us) math.
  private def driftOracleSql: String = {
    s"""WITH prev AS (
       |  SELECT ${mixHostSql("doc_id")} AS host,
       |    'http://' || ${mixHostSql("doc_id")} || '/d' || CAST(doc_id AS VARCHAR) || '.html' AS url,
       |    md5(text) AS digest
       |  FROM documents WHERE doc_id % 13 <> 5),
       |curr AS (
       |  SELECT ${mixHostSql("doc_id")} AS host,
       |    'http://' || ${mixHostSql("doc_id")} || '/d' || CAST(doc_id AS VARCHAR) || '.html' AS url,
       |    CASE WHEN doc_id % 7 = 0 THEN md5(text || '#v2')
       |         ELSE md5(text) END AS digest
       |  FROM documents WHERE doc_id % 11 <> 3),
       |j AS (
       |  SELECT COALESCE(p.host, c.host) AS host,
       |    p.digest AS dig_a, c.digest AS dig_b
       |  FROM prev p FULL OUTER JOIN curr c ON p.url = c.url),
       |agg AS (
       |  SELECT host,
       |    CAST(SUM(CASE WHEN dig_a IS NOT NULL AND dig_b IS NOT NULL AND dig_a = dig_b THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
       |    CAST(SUM(CASE WHEN dig_a IS NOT NULL AND dig_b IS NOT NULL AND dig_a <> dig_b THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       |    CAST(SUM(CASE WHEN dig_a IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       |    CAST(SUM(CASE WHEN dig_b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_gone
       |  FROM j GROUP BY 1),
       |rate AS (
       |  SELECT *, CASE WHEN n_changed + n_unchanged > 0
       |    THEN 1000 * n_changed // (n_changed + n_unchanged) END AS change_permille
       |  FROM agg),
       |sched AS (
       |  SELECT *, CASE WHEN change_permille IS NOT NULL
       |    THEN 86400000000000 // GREATEST(change_permille, 125) END AS interval_us
       |  FROM rate)
       |SELECT host AS host_id, n_unchanged, n_changed, n_new, n_gone,
       |  change_permille, interval_us,
       |  CASE WHEN interval_us IS NOT NULL
       |    THEN 1700000000000000 + interval_us END AS next_due_us
       |FROM sched ORDER BY host_id""".stripMargin
  }

  // q71: the same d → d div 2 hop graph walked by a recursive CTE to
  // each chain's terminal (a node with no outgoing hop) — the linear
  // replay of what the engine resolves in log₂ doubling rounds.
  private def redirectOracleSql: String = {
    def urlOf(e: String) =
      s"'http://' || ${mixHostSql(e)} || '/r' || CAST($e AS VARCHAR) || '.html'"
    s"""WITH RECURSIVE hops AS (
       |  SELECT doc_id AS d, doc_id // 2 AS nd FROM documents
       |  WHERE doc_id % 3 <> 0 AND doc_id > 0),
       |walk(d, cur) AS (
       |  SELECT d, nd FROM hops
       |  UNION ALL
       |  SELECT w.d, h.nd FROM walk w JOIN hops h ON w.cur = h.d),
       |fin AS (
       |  SELECT d, cur FROM walk
       |  WHERE cur NOT IN (SELECT d FROM hops))
       |SELECT ${urlOf("d")} AS url, ${urlOf("cur")} AS final_url
       |FROM fin ORDER BY url""".stripMargin
  }

  // q72/q73: the WARC fixture's row→record functions (Warc.docUrl /
  // docTsIso / docBody, mirrored verbatim) re-expressed in SQL, so
  // DuckDB reconstructs what the archive files must contain WITHOUT
  // reading them: q72 value-checks every parsed field plus the body
  // digest; q73 re-derives every byte offset arithmetically from
  // window-summed reconstructed record lengths — a one-byte framing
  // slip in the parser breaks both.
  private def warcDocsCte: String =
    """WITH c AS (SELECT chr(13)||chr(10) AS nl),
      |d AS (
      |  SELECT doc_id, doc_id % 4 AS f,
      |    'http://' || source || '.example.org/doc/' ||
      |      CAST(doc_id AS VARCHAR) AS url,
      |    TIMESTAMP '2024-01-01 00:00:00'
      |      + INTERVAL (doc_id % 1440) MINUTE AS warc_ts,
      |    '<html><head><title>doc ' || CAST(doc_id AS VARCHAR) ||
      |    '</title></head><body><p>' || text ||
      |    '</p></body></html>' AS body
      |  FROM documents)""".stripMargin

  private def warcReadOracleSql: String =
    s"""$warcDocsCte
       |SELECT url, warc_ts, 200 AS http_status,
       |  'text/html; charset=utf-8' AS content_type,
       |  octet_length(encode(body)) AS n_bytes,
       |  md5(body) AS digest
       |FROM d ORDER BY url""".stripMargin

  private def warcCdxOracleSql: String =
    s"""$warcDocsCte,
       |r AS (
       |  SELECT d.*, c.nl,
       |    'HTTP/1.1 200 OK' || c.nl ||
       |    'Content-Type: text/html; charset=utf-8' || c.nl || c.nl AS httph
       |  FROM d, c),
       |s AS (
       |  SELECT doc_id, f,
       |    'part-' || CAST(f AS VARCHAR) || '.warc' ||
       |      (CASE WHEN f = 3 THEN '.gz' ELSE '' END) AS warc_file,
       |    url, md5(body) AS digest,
       |    CAST(octet_length(encode(
       |      'WARC/1.0' || nl ||
       |      'WARC-Type: response' || nl ||
       |      'WARC-Record-ID: <urn:md5:' || md5(body) || '>' || nl ||
       |      'WARC-Date: ' || strftime(warc_ts, '%Y-%m-%dT%H:%M:%SZ') || nl ||
       |      'WARC-Target-URI: ' || url || nl ||
       |      'Content-Type: application/http; msgtype=response' || nl ||
       |      'Content-Length: ' ||
       |        CAST(octet_length(encode(httph || body)) AS VARCHAR) || nl ||
       |      nl || httph || body || nl || nl)) AS BIGINT) AS rec_len
       |  FROM r)
       |SELECT warc_file,
       |  CAST(COALESCE(SUM(rec_len) OVER (PARTITION BY f ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS rec_offset,
       |  rec_len, url, digest
       |FROM s ORDER BY warc_file, rec_offset""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_base,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q02_multicol_filter" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE (o_orderpriority LIKE '%URGENT%' OR o_orderstatus = 'F')
        |  AND o_totalprice > 100000
        |ORDER BY o_orderkey LIMIT 500""".stripMargin,
    "q03_in_list" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE') ORDER BY c_custkey""".stripMargin,
    "q04_dim_join" ->
      """SELECT n_name, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q05_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderpriority LIKE '%URGENT%')
        |ORDER BY c_custkey""".stripMargin,
    "q06_anti_join" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderpriority LIKE '%URGENT%')
        |ORDER BY c_custkey""".stripMargin,
    "q07_latest_order" ->
      """SELECT o_custkey, o_orderkey, o_orderdate FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q08_topk_per_group" ->
      """SELECT l_suppkey, rn, l_orderkey, l_linenumber FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber,
        |    row_number() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_shipdate DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) WHERE rn <= 3 ORDER BY l_suppkey, rn""".stripMargin,
    "q09_case_classify" ->
      """SELECT CASE WHEN c_acctbal < 0 THEN 'delinquent'
        |  WHEN n_orders = 0 THEN 'inactive'
        |  WHEN n_orders >= 20 THEN 'vip' ELSE 'normal' END AS class,
        |  COUNT(*) AS n
        |FROM (SELECT c_custkey, c_acctbal,
        |  (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
        |  FROM customer)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q10_sort_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin,
    "q11_offset_page" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |ORDER BY o_orderkey LIMIT 50 OFFSET 100""".stripMargin,
    "q40_keyset_page" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey > 1000 ORDER BY o_orderkey LIMIT 50""".stripMargin,
    "q12_union_distinct" ->
      """SELECT DISTINCT custkey FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority LIKE '%URGENT%'
        |  UNION ALL
        |  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY custkey""".stripMargin,
    "q13_except" ->
      """SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority LIKE '%URGENT%'
        |ORDER BY custkey""".stripMargin,
    "q14_intersect" ->
      """SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
        |INTERSECT
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority LIKE '%URGENT%'
        |ORDER BY custkey""".stripMargin,
    "q15_grouped_having" ->
      """SELECT p_brand, COUNT(*) AS n,
        |  CAST(SUM(CAST(p_size AS BIGINT)) AS BIGINT) AS total_size
        |FROM part GROUP BY 1 HAVING COUNT(*) >= 10 ORDER BY 1""".stripMargin,
    "q16_running_sum" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_qty
        |FROM lineitem WHERE l_suppkey <= 20
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
    "q17_events_daily" ->
      """SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q90: the fetch-log replay (per-row floor quantization → integer
    // sum → integer division) keeps every step order-independent and
    // engine-identical; // is DuckDB's integer division, div Spark's.
    "q90_adaptive_delay" ->
      """WITH lat AS (
        |  SELECT 'h' || CAST(user_id % 50 AS VARCHAR) AS host,
        |    GREATEST(CAST(FLOOR(value * 100) AS BIGINT), 0) AS lat
        |  FROM events),
        |agg AS (
        |  SELECT host, COUNT(*) AS n_fetches,
        |    CAST(SUM(lat) AS BIGINT) AS tot
        |  FROM lat GROUP BY 1)
        |SELECT host, n_fetches, tot // n_fetches AS avg_ms,
        |  LEAST(GREATEST(2 * (tot // n_fetches), 500), 30000) AS delay_ms
        |FROM agg ORDER BY host""".stripMargin,
    "q18_sessionize" ->
      """SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_ts IS NULL
        |      OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM (SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |    FROM events))
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q25_yearly_nation_rank" ->
      """SELECT yr, rnk, n_name, n_orders FROM (
        |  SELECT yr, n_name, n_orders,
        |    row_number() OVER (PARTITION BY yr ORDER BY total DESC, n_name) AS rnk
        |  FROM (
        |    SELECT year(o_orderdate) AS yr, n_name, COUNT(*) AS n_orders,
        |      CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total
        |    FROM orders JOIN customer ON o_custkey = c_custkey
        |    JOIN nation ON c_nationkey = n_nationkey
        |    GROUP BY 1, 2))
        |WHERE rnk <= 5 ORDER BY yr, rnk""".stripMargin,
    "q19_text_stats" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+')) END AS n_tokens,
        |  len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
        |  len(regexp_extract_all(text, '\b(the|a|an|and|of|to|in|is|it|for)\b')) AS n_stop,
        |  CASE WHEN length(text) = 0 THEN 'empty'
        |    WHEN (length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g'))) * 10 > length(text) THEN 'cjk'
        |    ELSE 'latin' END AS lang_guess,
        |  (CASE WHEN length(trim(text)) = 0 THEN 0
        |     ELSE len(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+')) END >= 20)
        |  AND (len(regexp_extract_all(text, '\b(the|a|an|and|of|to|in|is|it|for)\b')) * 50
        |       >= CASE WHEN length(trim(text)) = 0 THEN 0
        |          ELSE len(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+')) END)
        |  AND (len(regexp_extract_all(text, '[.,!?;:]')) * 5
        |       <= CASE WHEN length(trim(text)) = 0 THEN 0
        |          ELSE len(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+')) END) AS quality_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q42: full integer replay of the Rabin-Karp rolling hash — same
    // token split, same md5-prefix token hash, same (h*B + th) % M
    // left-to-right fold (list_reduce with a prepended 0 as the seed).
    "q42_rolling_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(
        |        list_filter(regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
        |                    t -> t <> ''),
        |        t -> CAST('0x' || substring(md5(t), 1, 8) AS BIGINT))),
        |    (h, th) -> (h * 1000003 + th) % 2147483647) AS rh
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q43_bpe_tokens" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\x0B\f\r]')) AS n_bpe,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+')) END AS n_ws
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q20_exact_dedup" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_dups FROM documents
        |GROUP BY md5(lower(trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g'))))
        |ORDER BY keep_id""".stripMargin,
    "q21_ngram_jaccard" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+') AS w
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
        |  FROM words, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) g
        |  WHERE len(w) >= 3),
        |keep AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= 1000),
        |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep USING (s)),
        |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, common, sa.nsh AS na, sb.nsh AS nb
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE common * 2 >= sa.nsh + sb.nsh - common
        |ORDER BY doc_a, doc_b""".stripMargin,
    // q89: q21's shingle chain verbatim over the doubled input; only
    // the final predicate differs (containment vs Jaccard). DuckDB's
    // md5() yields the same lowercase hex as Spark's.
    "q89_containment" ->
      """WITH docs0 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000,
        |    text || ' commentary follows the quoted article in full ' || md5(text)
        |  FROM documents WHERE doc_id % 5 = 0),
        |words AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+') AS w
        |  FROM docs0),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
        |  FROM words, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) g
        |  WHERE len(w) >= 3),
        |keep AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= 1000),
        |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep USING (s)),
        |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, common, sa.nsh AS na, sb.nsh AS nb
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE common * 100 >= LEAST(sa.nsh, sb.nsh) * 90
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q24_lang_distribution" ->
      """SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // q47: same tokenization, same 5-gram windows, same 60-bit
    // md5-prefix gram hash — the join key is recomputed verbatim, so
    // contamination counts are bit-exact.
    "q47_decontaminate" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+') AS w
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    CAST('0x' || substring(md5(array_to_string(w[i:i+4], ' ')), 1, 15) AS BIGINT) AS gh
        |  FROM words, LATERAL (SELECT unnest(generate_series(1, len(w)-4)) AS i) g
        |  WHERE len(w) >= 5),
        |ev AS (SELECT DISTINCT gh FROM grams WHERE doc_id % 20 = 0),
        |hits AS (
        |  SELECT doc_id, COUNT(*) AS n_contam FROM grams JOIN ev USING (gh)
        |  WHERE doc_id % 20 <> 0 GROUP BY 1)
        |SELECT d.doc_id, COALESCE(h.n_contam, 0) AS n_contam
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |WHERE d.doc_id % 20 <> 0 ORDER BY d.doc_id""".stripMargin,
    // q48: list-lambda replay of the projection — same token filter,
    // same adjacent-pair construction, same within-doc top count.
    "q48_repetition_stats" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
        |                t -> t <> '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, w,
        |    CASE WHEN len(w) >= 2
        |      THEN list_transform(generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1])
        |      ELSE [] END AS g2
        |  FROM toks)
        |SELECT doc_id,
        |  len(w) AS n_tok,
        |  len(list_distinct(w)) AS n_utok,
        |  len(g2) AS n_gram2,
        |  len(list_distinct(g2)) AS n_ugram2,
        |  CASE WHEN len(g2) = 0 THEN 0
        |    ELSE list_max(list_transform(list_distinct(g2),
        |           x -> len(list_filter(g2, y -> y = x))))
        |  END AS top_gram2_n
        |FROM g ORDER BY doc_id""".stripMargin,
    // q50: same filtered tokenization, same 10-token windows, same
    // 60-bit md5-prefix window hash — df and per-doc counts replayed.
    "q50_repeated_substrings" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
        |                t -> t <> '') AS w
        |  FROM documents),
        |wins AS (
        |  SELECT DISTINCT doc_id,
        |    CAST('0x' || substring(md5(array_to_string(w[i:i+9], ' ')), 1, 15) AS BIGINT) AS wh
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w)-9)) AS i) g
        |  WHERE len(w) >= 10),
        |rep AS (SELECT wh FROM wins GROUP BY wh HAVING COUNT(*) >= 2),
        |nw AS (SELECT doc_id, COUNT(*) AS n_win FROM wins GROUP BY 1),
        |nr AS (SELECT doc_id, COUNT(*) AS n_rep FROM wins JOIN rep USING (wh) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(nw.n_win, 0) AS n_win, COALESCE(nr.n_rep, 0) AS n_rep
        |FROM documents d LEFT JOIN nw USING (doc_id) LEFT JOIN nr USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q49_bpe_merge_pairs" ->
      """WITH toks AS (
        |  SELECT list_filter(regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
        |                     t -> t <> '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT unnest(CASE WHEN len(w) >= 2
        |    THEN list_transform(generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1])
        |    ELSE [] END) AS pair
        |  FROM toks)
        |SELECT pair, COUNT(*) AS n FROM g
        |GROUP BY 1 ORDER BY n DESC, pair LIMIT 100""".stripMargin,
    // q51: same filtered tokenization; df over the (doc,term) table;
    // integer tf·10⁶ // df score; tie-break on term ascending.
    "q51_tfidf_top_term" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
        |                       t -> t <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |s AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    (tf.tf * 1000000) // df.df AS score,
        |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |      ORDER BY (tf.tf * 1000000) // df.df DESC, tf.term) AS rn
        |  FROM tf JOIN df USING (term))
        |SELECT doc_id, term, tf, df, score FROM s WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,
    // q52: the q26 verified-pair closure (exact 3-gram Jaccard >= 0.5,
    // which the banded LSH recalls completely on this corpus — the q26
    // oracle pins that equivalence) aggregated per unordered source
    // pair.
    "q52_cross_source_overlap" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
        |  FROM words, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) g
        |  WHERE len(w) >= 3),
        |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |ok AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE common * 2 >= sa.nsh + sb.nsh - common)
        |SELECT least(da.source, db.source) AS src_a,
        |  greatest(da.source, db.source) AS src_b,
        |  COUNT(*) AS n_pairs
        |FROM ok
        |JOIN documents da ON da.doc_id = ok.doc_a
        |JOIN documents db ON db.doc_id = ok.doc_b
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q53: DuckDB's NATIVE ASOF LEFT JOIN is the oracle — equality-
    // inclusive greatest rightTs <= leftTs, exactly the union+window
    // semantics; the right side is pre-aggregated unique per (user,
    // ts) in both engines so the match is deterministic.
    "q53_asof_join" ->
      """WITH l AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type <> 'signup'),
        |r AS (
        |  SELECT user_id, ts, max(event_id) AS last_signup_id
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, r.last_signup_id
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,
    // q54: same synthesized contact block, same three RE2/Java-common
    // patterns, same email→ipv4→phone replace order ('g' = Spark's
    // replace-all default); counts on the pre-scrub text in both.
    "q54_pii_scrub" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@ex' || CAST(doc_id % 5 AS VARCHAR)
        |      || '.com or ops-' || CAST(doc_id % 3 AS VARCHAR)
        |      || '@mail.example.org call +1 (41' || CAST(doc_id % 10 AS VARCHAR)
        |      || ') 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
        |      || '.' || CAST(doc_id % 16 AS VARCHAR) || '.1' AS pii
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(pii,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) AS n_email,
        |  len(regexp_extract_all(pii,
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ip,
        |  len(regexp_extract_all(pii,
        |    '(\+[0-9]{1,2} )?\([0-9]{3}\) [0-9]{3}-[0-9]{4}')) AS n_phone,
        |  md5(regexp_replace(regexp_replace(regexp_replace(pii,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
        |    '(\+[0-9]{1,2} )?\([0-9]{3}\) [0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS scrub_md5
        |FROM p ORDER BY doc_id""".stripMargin,
    // q55: same framed line array; df grouped on the raw line (the
    // Spark side groups its 60-bit hash — collision-free equivalence
    // is exactly what the hash contract claims), same df < 20 keep
    // rule, same \n rebuild; empty survivors → md5('').
    "q55_line_dedup" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    ['please accept our cookie policy',
        |     'copyright ' || source || ' all rights reserved',
        |     text,
        |     'subscribe to the ' || source || ' newsletter'] AS lines
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, i, lines[i] AS line
        |  FROM base, LATERAL (SELECT unnest(generate_series(1, len(lines))) AS i) g),
        |df AS (SELECT line, COUNT(*) AS n FROM l GROUP BY 1),
        |kept AS (
        |  SELECT l.doc_id, l.i, l.line
        |  FROM l JOIN df ON df.line = l.line WHERE df.n < 20),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    md5(string_agg(line, chr(10) ORDER BY i)) AS clean_md5
        |  FROM kept GROUP BY 1)
        |SELECT d.doc_id, COALESCE(a.n_kept, 0) AS n_kept,
        |  COALESCE(a.clean_md5, md5('')) AS clean_md5
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // q56: same filtered tokenization; every verdict is the same
    // integer cross-multiplication; list_intersect/array_intersect both
    // return the deduplicated common set, so n_stop_kinds agrees.
    "q56_quality_verdicts" ->
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
        |                t -> t <> '') AS w
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_tok,
        |    CAST(COALESCE(list_sum(list_transform(w, t -> len(t))), 0) AS BIGINT)
        |      AS sum_tok_chars,
        |    CAST(len(list_filter(w, t -> regexp_matches(t, '[a-z]'))) AS BIGINT)
        |      AS n_alpha,
        |    CAST(len(list_intersect(list_distinct(w),
        |      ['the','be','to','of','and','that','have','with'])) AS BIGINT)
        |      AS n_stop_kinds,
        |    len(text) - len(replace(text, '#', '')) AS hash_n,
        |    (len(text) - len(replace(text, '...', ''))) // 3 AS ell_n
        |  FROM toks),
        |v AS (
        |  SELECT doc_id, n_tok, sum_tok_chars, n_alpha, n_stop_kinds,
        |    CAST(n_tok >= 20 AND n_tok <= 100000 AS INT) AS ok_count,
        |    CAST(sum_tok_chars >= n_tok * 3 AND sum_tok_chars <= n_tok * 10 AS INT)
        |      AS ok_wordlen,
        |    CAST((hash_n + ell_n) * 10 <= n_tok AS INT) AS ok_symbol,
        |    CAST(n_alpha * 5 >= n_tok * 4 AS INT) AS ok_alpha,
        |    CAST(n_stop_kinds >= 2 AS INT) AS ok_stop
        |  FROM m)
        |SELECT doc_id, n_tok, sum_tok_chars, n_alpha, n_stop_kinds,
        |  ok_count, ok_wordlen, ok_symbol, ok_alpha, ok_stop,
        |  ok_count * ok_wordlen * ok_symbol * ok_alpha * ok_stop AS pass
        |FROM v ORDER BY doc_id""".stripMargin,
    // q57: same doc_id-derived host, same dot-suffix chain, same
    // three-entry blocklist; NOT IN over the blocked-key subquery is
    // the left_anti.
    "q57_domain_blocklist" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    'm' || CAST(doc_id % 3 AS VARCHAR) || '.w' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.ex' || CAST(doc_id % 4 AS VARCHAR) || '.com' AS host
        |  FROM documents),
        |sfx AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(p)),
        |                          i -> array_to_string(p[i:], '.'))) AS s
        |  FROM (SELECT doc_id, string_split(host, '.') AS p FROM h)),
        |blocked AS (
        |  SELECT DISTINCT doc_id FROM sfx
        |  WHERE s IN ('w3.ex1.com', 'ex2.com', 'm0.w4.ex0.com'))
        |SELECT doc_id, host FROM h
        |WHERE doc_id NOT IN (SELECT doc_id FROM blocked)
        |ORDER BY doc_id""".stripMargin,
    // q58: same whitespace token count, same per-source running-offset
    // window (ROWS UNBOUNDED PRECEDING..1 PRECEDING), same integer
    // DIV/% bin math.
    "q58_sequence_packing" ->
      """WITH n AS (
        |  SELECT doc_id, source,
        |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+'))
        |    END AS BIGINT) AS n_tok
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, source, n_tok,
        |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_off
        |  FROM n)
        |SELECT doc_id, source, n_tok, start_off // 256 AS seq_bin,
        |  start_off % 256 AS bin_off
        |FROM o ORDER BY doc_id""".stripMargin,
    // q59: same bigrams, same 60-bit md5-prefix hash, same %10==9
    // reference slice, same length(bin(n)) magnitude weight.
    "q59_familiarity" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
        |                t -> t <> '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CAST('0x' || substring(md5(unnest(CASE WHEN len(w) >= 2
        |      THEN list_transform(generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1])
        |      ELSE [] END)), 1, 15) AS BIGINT) AS gh
        |  FROM toks),
        |ref AS (
        |  SELECT gh, COUNT(*) AS rn FROM g WHERE doc_id % 10 = 9 GROUP BY 1),
        |corpus AS (
        |  SELECT doc_id, gh, COUNT(*) AS cnt FROM g WHERE doc_id % 10 <> 9
        |  GROUP BY 1, 2),
        |s AS (
        |  SELECT c.doc_id,
        |    CAST(SUM(c.cnt) AS BIGINT) AS n_gram2,
        |    CAST(SUM(CASE WHEN r.rn IS NOT NULL THEN c.cnt ELSE 0 END) AS BIGINT)
        |      AS n_hit,
        |    CAST(SUM(c.cnt * CASE WHEN r.rn IS NOT NULL
        |      THEN len(bin(CAST(r.rn AS BIGINT))) ELSE 0 END) AS BIGINT) AS logscore
        |  FROM corpus c LEFT JOIN ref r USING (gh) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(s.n_gram2, 0) AS n_gram2,
        |  COALESCE(s.n_hit, 0) AS n_hit, COALESCE(s.logscore, 0) AS logscore
        |FROM documents d LEFT JOIN s USING (doc_id)
        |WHERE d.doc_id % 10 <> 9 ORDER BY d.doc_id""".stripMargin,
    // q60: same windows/hash/df rule as q50; the cut replays as an
    // indexed list lambda (1-based j in SQL ↔ 0-based in Spark, hence
    // j-1), same space-joined md5 rebuild; short docs keep everything.
    // DuckDB's array_to_string([]) is NULL where Spark's concat_ws is
    // '' — the COALESCE makes a fully-removed doc hash md5('') in both.
    "q60_substring_removal" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
        |                t -> t <> '') AS w
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id, i - 1 AS i,
        |    CAST('0x' || substring(md5(array_to_string(w[i:i+9], ' ')), 1, 15) AS BIGINT) AS wh
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w)-9)) AS i) g
        |  WHERE len(w) >= 10),
        |rep AS (
        |  SELECT wh FROM (SELECT DISTINCT doc_id, wh FROM wins)
        |  GROUP BY wh HAVING COUNT(*) >= 2),
        |starts AS (
        |  SELECT doc_id, list(i) AS ss FROM wins JOIN rep USING (wh) GROUP BY 1),
        |clean AS (
        |  SELECT t.doc_id, t.w,
        |    list_filter(t.w, (x, j) -> s.ss IS NULL OR
        |      len(list_filter(s.ss, v -> v <= j - 1 AND j - 1 < v + 10)) = 0) AS kept
        |  FROM toks t LEFT JOIN starts s USING (doc_id))
        |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok,
        |  CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
        |  md5(COALESCE(array_to_string(kept, ' '), '')) AS clean_md5
        |FROM clean ORDER BY doc_id""".stripMargin,
    // q61: same doc_id-derived host and length quality; row_number per
    // host is the cap (Spark's row_number is INT — cast to match).
    "q61_host_cap" ->
      """WITH h AS (
        |  SELECT doc_id, 'h' || CAST(doc_id % 17 AS VARCHAR) AS host,
        |    length(text) AS q
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, host,
        |    CAST(row_number() OVER (PARTITION BY host ORDER BY q DESC, doc_id)
        |      AS INT) AS host_rank
        |  FROM h)
        |SELECT doc_id, host, host_rank FROM r
        |WHERE host_rank <= 20 ORDER BY doc_id""".stripMargin,
    // q62: semantics replica of the incremental dedup — a doc_id%5==0
    // (new) doc is dropped when ANY other doc shares shingle Jaccard
    // >= 0.5 (common*2 >= union); same shingle CTE as q26, and the
    // same q26 contract: the Spark side's exact-Jaccard verify makes
    // precision 1, so this true-Jaccard oracle additionally ASSERTS
    // full LSH recall on the fixture — a banding recall shortfall
    // (possible by construction for mid-range Jaccard, see the
    // deliberately-missed ~0.78 pair in SparkEntrySpec) would surface
    // as a driver rowcount mismatch rather than pass silently.
    "q62_incremental_dedup" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
        |  FROM words, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) g
        |  WHERE len(w) >= 3),
        |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS new_id, b.doc_id AS ref_id, COUNT(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s
        |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
        |  GROUP BY 1, 2),
        |dropped AS (
        |  SELECT DISTINCT new_id FROM pairs
        |  JOIN sizes sa ON sa.doc_id = new_id
        |  JOIN sizes sb ON sb.doc_id = ref_id
        |  WHERE common * 2 >= sa.nsh + sb.nsh - common)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT new_id FROM dropped)
        |ORDER BY doc_id""".stripMargin,
    // q63: full replica — same first-8 codebook + argmax-cosine
    // assignment CTEs as q41's oracle, then within-cluster pairs with
    // cos >= 0.4 drop the larger id.
    "q63_semantic_dedup" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS ce,
        |    sqrt(list_sum(list_transform(embedding,
        |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS cn
        |  FROM embeddings WHERE vec_id < 8),
        |v AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS vn
        |  FROM embeddings),
        |asg AS (
        |  SELECT vec_id, cid,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        |  FROM (
        |    SELECT v.vec_id, c.cid,
        |      list_sum(list_transform(list_zip(v.embedding, c.ce),
        |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (v.vn * c.cn) AS cos
        |    FROM v, c)),
        |cl AS (SELECT vec_id, cid AS cluster FROM asg WHERE rn = 1),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM v a JOIN cl ca ON ca.vec_id = a.vec_id
        |       JOIN cl cb ON cb.cluster = ca.cluster
        |       JOIN v b ON b.vec_id = cb.vec_id
        |  WHERE a.vec_id < b.vec_id
        |    AND list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.vn * b.vn) >= 0.4)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
        |ORDER BY vec_id""".stripMargin,
    // q64: full replica of the DSIR-style importance selection — same
    // bigrams, same 60-bit md5-prefix hash % 4096 bucket, target slice
    // doc_id%10==7, add-one-smoothed len(bin(n+1)) magnitude weights,
    // top-100 tie-broken (logratio DESC, doc_id). Like q59 this is
    // integer math end-to-end, so Spark and DuckDB agree bit-for-bit.
    "q64_importance_select" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
        |                t -> t <> '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CAST('0x' || substring(md5(unnest(CASE WHEN len(w) >= 2
        |      THEN list_transform(generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1])
        |      ELSE [] END)), 1, 15) AS BIGINT) % 4096 AS b
        |  FROM toks),
        |tgt AS (SELECT b, COUNT(*) AS tn FROM g WHERE doc_id % 10 = 7 GROUP BY 1),
        |qn AS (SELECT b, COUNT(*) AS qn FROM g WHERE doc_id % 10 <> 7 GROUP BY 1),
        |pd AS (SELECT doc_id, b, COUNT(*) AS cnt FROM g WHERE doc_id % 10 <> 7
        |       GROUP BY 1, 2),
        |s AS (
        |  SELECT pd.doc_id, CAST(SUM(cnt) AS BIGINT) AS n_gram2,
        |    CAST(SUM(cnt * (len(bin(COALESCE(t.tn, 0) + 1))
        |                    - len(bin(q.qn + 1)))) AS BIGINT) AS logratio
        |  FROM pd LEFT JOIN tgt t USING (b) JOIN qn q USING (b) GROUP BY 1),
        |sc AS (
        |  SELECT d.doc_id, COALESCE(s.n_gram2, 0) AS n_gram2,
        |    COALESCE(s.logratio, 0) AS logratio
        |  FROM documents d LEFT JOIN s USING (doc_id)
        |  WHERE d.doc_id % 10 <> 7),
        |top AS (SELECT doc_id FROM sc ORDER BY logratio DESC, doc_id LIMIT 100)
        |SELECT sc.doc_id, sc.n_gram2, sc.logratio,
        |  CAST(CASE WHEN top.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS selected
        |FROM sc LEFT JOIN top USING (doc_id)
        |ORDER BY sc.doc_id""".stripMargin,
    // q65: copy count = ⌊w⌋ + (bucket < frac(w)·65536) with the q45
    // 16-bit md5 bucket; src0 w=2.5 (base 2, cut 32768), src1 w=1.25
    // (base 1, cut 16384), default w=0.5 (base 0, cut 32768); one row
    // per epoch 0..n-1.
    "q65_epoch_mix" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 1 ELSE 0 END
        |    + CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT)
        |        < CASE source WHEN 'src0' THEN 32768 WHEN 'src1' THEN 16384
        |          ELSE 32768 END
        |      THEN 1 ELSE 0 END AS n
        |  FROM documents)
        |SELECT doc_id, source, CAST(e AS INT) AS epoch
        |FROM w, LATERAL (SELECT unnest(generate_series(0, n-1)) AS e) g
        |WHERE n > 0
        |ORDER BY doc_id, epoch""".stripMargin,
    // q66: the composed pipeline — q57's suffix-chain blocklist CTEs,
    // q56's verdict measures collapsed to the four language-independent
    // rules (no stopword rule — see the query comment), q20's
    // normalized-text dedup restricted to the SURVIVING set (canonical
    // = min doc_id within each fingerprint group of kept docs), then
    // q65's copy-count mix on what remains.
    "q66_corpus_prep" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    'm' || CAST(doc_id % 3 AS VARCHAR) || '.w' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.ex' || CAST(doc_id % 4 AS VARCHAR) || '.com' AS host
        |  FROM documents),
        |sfx AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(p)),
        |                          i -> array_to_string(p[i:], '.'))) AS s
        |  FROM (SELECT doc_id, string_split(host, '.') AS p FROM h)),
        |blocked AS (
        |  SELECT DISTINCT doc_id FROM sfx
        |  WHERE s IN ('w3.ex1.com', 'ex2.com', 'm0.w4.ex0.com')),
        |toks AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
        |                t -> t <> '') AS w
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_tok,
        |    CAST(COALESCE(list_sum(list_transform(w, t -> len(t))), 0) AS BIGINT)
        |      AS sum_tok_chars,
        |    CAST(len(list_filter(w, t -> regexp_matches(t, '[a-z]'))) AS BIGINT)
        |      AS n_alpha,
        |    len(text) - len(replace(text, '#', '')) AS hash_n,
        |    (len(text) - len(replace(text, '...', ''))) // 3 AS ell_n
        |  FROM toks),
        |passq AS (
        |  SELECT doc_id FROM m
        |  WHERE n_tok >= 20 AND n_tok <= 100000
        |    AND sum_tok_chars >= n_tok * 3 AND sum_tok_chars <= n_tok * 10
        |    AND (hash_n + ell_n) * 10 <= n_tok
        |    AND n_alpha * 5 >= n_tok * 4),
        |kept AS (
        |  SELECT d.doc_id, d.source, d.text FROM documents d
        |  WHERE d.doc_id IN (SELECT doc_id FROM passq)
        |    AND d.doc_id NOT IN (SELECT doc_id FROM blocked)),
        |canon AS (
        |  SELECT MIN(doc_id) AS doc_id FROM kept
        |  GROUP BY md5(lower(trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g'))))),
        |mix AS (
        |  SELECT k.doc_id, k.source,
        |    CASE k.source WHEN 'src0' THEN 2 WHEN 'src1' THEN 1 ELSE 0 END
        |    + CASE WHEN CAST('0x' || substring(md5(CAST(k.doc_id AS VARCHAR)), 1, 4) AS INT)
        |        < CASE k.source WHEN 'src0' THEN 32768 WHEN 'src1' THEN 16384
        |          ELSE 32768 END
        |      THEN 1 ELSE 0 END AS n
        |  FROM kept k WHERE k.doc_id IN (SELECT doc_id FROM canon))
        |SELECT doc_id, source, CAST(e AS INT) AS epoch
        |FROM mix, LATERAL (SELECT unnest(generate_series(0, n-1)) AS e) g
        |WHERE n > 0
        |ORDER BY doc_id, epoch""".stripMargin,
    "q67_host_rank" -> hostRankOracleSql,
    "q69_anchor_text" -> anchorOracleSql,
    "q70_trap_detect" -> trapOracleSql,
    "q71_redirect_resolve" -> redirectOracleSql,
    "q72_warc_read" -> warcReadOracleSql,
    // q98: metadata-record (WAT) round trip — the canonical JSON
    // payload (fixed key order, fixture strings escape-free) is
    // rebuilt by plain concatenation, so its byte length and digest
    // reconstruct from `documents` alone; title/link2 re-extract the
    // fields the Spark side pulls back out with get_json_object.
    "q98_wat_sink" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    'http://' || source || '.example.org/doc/' ||
        |      CAST(doc_id AS VARCHAR) AS url,
        |    TIMESTAMP '2024-01-01 00:00:00'
        |      + (doc_id % 1440) * INTERVAL 1 MINUTE AS warc_ts,
        |    strftime(TIMESTAMP '2024-01-01 00:00:00'
        |      + (doc_id % 1440) * INTERVAL 1 MINUTE,
        |      '%Y-%m-%dT%H:%M:%SZ') AS ts_iso,
        |    'doc ' || CAST(doc_id AS VARCHAR) AS title,
        |    'http://' || source || '.example.org/doc/' ||
        |      CAST(doc_id + 1 AS VARCHAR) AS l1,
        |    'http://' || source || '.example.org/doc/' ||
        |      CAST(doc_id * 2 + 7 AS VARCHAR) AS l2
        |  FROM documents),
        |p AS (
        |  SELECT *,
        |    '{"url":"' || url || '","ts":"' || ts_iso ||
        |      '","title":"' || title || '","links":["' || l1 ||
        |      '","' || l2 || '"]}' AS payload
        |  FROM m)
        |SELECT url, warc_ts,
        |  CAST(octet_length(encode(payload)) AS INT) AS n_bytes,
        |  md5(payload) AS digest, title, l2 AS link2
        |FROM p ORDER BY url""".stripMargin,
    // q97: conversion-record (WET) round trip — url/ts arithmetic is
    // q74's, the payload is the raw `text` column (the byte-identical
    // extracted-text invariant), so n_bytes/digest reconstruct from
    // the table alone.
    "q97_wet_sink" ->
      """SELECT 'http://' || source || '.example.org/doc/' ||
        |    CAST(doc_id AS VARCHAR) AS url,
        |  TIMESTAMP '2024-01-01 00:00:00'
        |    + (doc_id % 1440) * INTERVAL 1 MINUTE AS warc_ts,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents ORDER BY url""".stripMargin,
    "q73_warc_cdx" -> warcCdxOracleSql,
    // identical reconstruction oracle: the sink must produce records
    // the (fixture-proven) reader maps back to exactly these rows
    "q74_warc_sink" -> warcReadOracleSql,
    // q75: every fixture field is a pure function of the documents row
    // (same url/date functions as the WARC fixture), so the oracle
    // rebuilds the full reader output — urlset entries AND the index's
    // child-sitemap rows — without touching the XML.
    "q75_sitemap_read" ->
      """WITH u AS (
        |  SELECT 'url' AS kind,
        |    'part-' || CAST(doc_id % 3 AS VARCHAR) || '.xml' ||
        |      (CASE WHEN doc_id % 3 = 2 THEN '.gz' ELSE '' END)
        |      AS sitemap_file,
        |    'http://' || source || '.example.org/doc/' ||
        |      CAST(doc_id AS VARCHAR) AS loc,
        |    TIMESTAMP '2024-01-01 00:00:00'
        |      + INTERVAL (doc_id % 1440) MINUTE AS lastmod,
        |    list_extract(['always','hourly','daily','weekly','monthly',
        |                  'yearly','never'],
        |      CAST(doc_id % 7 AS INTEGER) + 1) AS changefreq,
        |    ((doc_id % 9) + 1) / 10.0 AS priority
        |  FROM documents),
        |i AS (
        |  SELECT 'sitemap' AS kind, 'sitemapindex.xml' AS sitemap_file,
        |    'http://index.example.org/sitemaps/part-' ||
        |      CAST(f AS VARCHAR) || '.xml' ||
        |      (CASE WHEN f = 2 THEN '.gz' ELSE '' END) AS loc,
        |    TIMESTAMP '2024-02-01 00:00:00' + to_days(f) AS lastmod,
        |    CAST(NULL AS VARCHAR) AS changefreq,
        |    CAST(NULL AS DOUBLE) AS priority
        |  FROM (SELECT unnest([0, 1, 2]) AS f))
        |SELECT * FROM u UNION ALL SELECT * FROM i
        |ORDER BY kind, loc""".stripMargin,
    // q77: host = source-derived authority, lastmod/changefreq replayed
    // from the fixture's pure row functions; same 30/365-day interval
    // constants, same never→NULL exclusion from the min.
    "q77_sitemap_schedule" ->
      """WITH u AS (
        |  SELECT source || '.example.org' AS host_id,
        |    epoch_us(TIMESTAMP '2024-01-01 00:00:00'
        |      + INTERVAL (doc_id % 1440) MINUTE) AS lm_us,
        |    CASE CAST(doc_id % 7 AS INTEGER)
        |      WHEN 0 THEN 0
        |      WHEN 1 THEN 3600000000
        |      WHEN 2 THEN 86400000000
        |      WHEN 3 THEN 604800000000
        |      WHEN 4 THEN 2592000000000
        |      WHEN 5 THEN 31536000000000
        |      ELSE NULL END AS iv_us
        |  FROM documents)
        |SELECT host_id, COUNT(*) AS n_urls, MAX(lm_us) AS last_us,
        |  MIN(iv_us) AS interval_us,
        |  MAX(lm_us) + MIN(iv_us) AS next_due_us
        |FROM u GROUP BY 1 ORDER BY host_id""".stripMargin,
    "q78_content_drift" -> driftOracleSql,
    // q80: same two synthesized crawls (crawl 2 drops doc_id%11==3,
    // re-versions %7==0 with '<!--v2-->'), same md5 digest over the
    // same body string, same earliest-(warc_ts, url)-wins window —
    // DuckDB replays the classification and byte accounting exactly.
    "q80_warc_revisit" ->
      s"""WITH b AS (
         |  SELECT doc_id,
         |    'http://' || ${mixHostSql("doc_id")} || '/d' || CAST(doc_id AS VARCHAR) || '.html' AS url,
         |    '<html><body><p>' || text || '</p></body></html>' AS body
         |  FROM documents),
         |cap AS (
         |  SELECT url, TIMESTAMP '2024-03-01 00:00:00'
         |      + INTERVAL (doc_id % 1440) MINUTE AS warc_ts, body
         |  FROM b
         |  UNION ALL
         |  SELECT url, TIMESTAMP '2024-03-02 00:00:00'
         |      + INTERVAL (doc_id % 1440) MINUTE,
         |    CASE WHEN doc_id % 7 = 0 THEN body || '<!--v2-->'
         |         ELSE body END
         |  FROM b WHERE doc_id % 11 <> 3),
         |d AS (
         |  SELECT url, warc_ts, md5(body) AS digest,
         |    CAST(octet_length(encode(body)) AS BIGINT) AS page_len
         |  FROM cap),
         |r AS (
         |  SELECT url, warc_ts, digest, page_len,
         |    row_number() OVER w AS rn,
         |    first_value(url) OVER w AS f_url,
         |    first_value(warc_ts) OVER w AS f_ts
         |  FROM d WINDOW w AS (PARTITION BY digest ORDER BY warc_ts, url))
         |SELECT url, warc_ts, digest,
         |  CASE WHEN rn = 1 THEN 'response' ELSE 'revisit' END AS rec_kind,
         |  CASE WHEN rn > 1 THEN f_url END AS refers_to_url,
         |  CASE WHEN rn > 1 THEN f_ts END AS refers_to_ts,
         |  CASE WHEN rn = 1 THEN page_len ELSE 0 END AS stored_len,
         |  CASE WHEN rn = 1 THEN 0 ELSE page_len END AS saved_len
         |FROM r ORDER BY url, warc_ts""".stripMargin,
    // q81: the same (host, path, digest) evidence units replayed as
    // plain SQL — distinct triples, boilerplate keys over the 50-host
    // cap dropped BEFORE the pair join, host sizes counted UNCAPPED,
    // min-size-normalized integer permille, thresholds mirrored
    // (shared CTEs with q84: mirrorOracleCtes).
    "q81_mirror_hosts" ->
      (mirrorOracleCtes(chain = false, recursive = false) +
        """
         |SELECT host_a, host_b, n_shared, n_a, n_b, overlap_permille
         |FROM pairsf ORDER BY host_a, host_b""".stripMargin),
    // q84: the same THRESHOLDED pair set closed into families by a
    // recursive reachability CTE (q44's closure pattern on host
    // strings); canonical = MIN reachable host. The Spark side's
    // string-keyed min-label propagation must converge to the same
    // fixpoint — the chain fixture makes a transitivity miss a
    // guaranteed hash mismatch.
    "q84_mirror_families" ->
      (mirrorOracleCtes(chain = true, recursive = true) +
        """,
         |edges AS (SELECT host_a AS eu, host_b AS ev FROM pairsf
         |          UNION ALL SELECT host_b, host_a FROM pairsf),
         |cc AS (
         |  SELECT DISTINCT eu AS node, eu AS r FROM edges
         |  UNION
         |  SELECT e.eu, cc.r FROM edges e JOIN cc ON cc.node = e.ev),
         |lbl AS (SELECT node, MIN(r) AS canonical_host FROM cc GROUP BY 1),
         |cn AS (SELECT canonical_host, COUNT(*) AS family_n
         |       FROM lbl GROUP BY 1)
         |SELECT node AS host, canonical_host, family_n
         |FROM lbl JOIN cn USING (canonical_host)
         |ORDER BY host""".stripMargin),
    // q85: the fixture's live CASE ladder + probe set replayed in
    // SQL; flagged = live rows whose (host, digest) hits any probe
    // digest (DISTINCT both sides — repeat sightings flag once),
    // no-probe hosts contribute nothing.
    "q85_soft404" ->
      s"""WITH d0 AS (
         |  SELECT doc_id, ${mixHostSql("doc_id")} AS host, text
         |  FROM documents),
         |live AS (
         |  SELECT host, 'http://' || host || '/a' || doc_id AS url,
         |    CASE WHEN doc_id % 5 = 0 THEN md5(host || '#err')
         |         WHEN doc_id % 7 = 0 THEN md5(host || '#err2')
         |         ELSE md5(text) END AS digest
         |  FROM d0),
         |hosts AS (SELECT DISTINCT host FROM d0),
         |probes AS (
         |  SELECT host, md5(host || '#err') AS digest FROM hosts
         |  WHERE substring(md5(host), 1, 1) <= '7'
         |  UNION
         |  SELECT host, md5(host || '#err2') FROM hosts
         |  WHERE substring(md5(host), 1, 1) <= '7'
         |    AND substring(md5(host), 2, 1) <= '7')
         |SELECT DISTINCT l.host, l.url, l.digest
         |FROM live l JOIN probes p
         |  ON l.host = p.host AND l.digest = p.digest
         |ORDER BY l.host, l.url""".stripMargin,
    // q86: the host CASE ladder + the registrableDomain column math
    // replayed in SQL — lower, split, negative-index list slices, and
    // the SAME suffix literal list (interpolated from
    // UrlOps.MultiPartSuffixes, so the two sides cannot drift).
    "q86_domain_rollup" ->
      s"""WITH d0 AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 6 = 0 THEN 'sh' || CAST(doc_id % 5 AS VARCHAR) || '.shop' || CAST(doc_id % 2 AS VARCHAR) || '.co.uk'
         |         WHEN doc_id % 6 = 3 THEN 'b' || CAST(doc_id % 3 AS VARCHAR) || '.site' || CAST(doc_id % 2 AS VARCHAR) || '.com.au'
         |         WHEN doc_id % 11 = 1 THEN 'plain' || CAST(doc_id % 4 AS VARCHAR) || '.org'
         |         WHEN doc_id % 97 = 5 THEN 'localhost'
         |         WHEN doc_id % 13 = 2 THEN upper(${mixHostSql("doc_id")})
         |         ELSE ${mixHostSql("doc_id")} END AS host
         |  FROM documents),
         |r AS (
         |  SELECT host, lower(host) AS lh,
         |    string_split(lower(host), '.') AS l
         |  FROM d0),
         |rd AS (
         |  SELECT host,
         |    ${regDomainCaseSql("l", "lh")} AS domain
         |  FROM r)
         |SELECT domain, COUNT(DISTINCT host) AS n_hosts,
         |  COUNT(*) AS n_pages
         |FROM rd GROUP BY 1 ORDER BY domain""".stripMargin,
    // q87: the html synthesis + the two-regex extraction replayed in
    // SQL (RE2 and Java agree on every construct used: (?i), \\b,
    // [^>]*, ["'] classes); absolute-http(s) gate mirrored.
    "q87_canonical_links" ->
      s"""WITH d0 AS (
         |  SELECT doc_id, ${mixHostSql("doc_id")} AS host, text
         |  FROM documents),
         |p AS (
         |  SELECT 'http://' || host || '/a' || doc_id AS url,
         |    '<html><head><link rel="stylesheet" href="/css/m.css">' ||
         |    CASE WHEN doc_id % 5 = 1
         |           THEN '<link rel="canonical" href="http://' || host || '/a' || (doc_id - doc_id % 5) || '">'
         |         WHEN doc_id % 5 = 2
         |           THEN '<LINK HREF=''http://' || host || '/a' || (doc_id - doc_id % 5) || ''' REL=''CANONICAL''>'
         |         WHEN doc_id % 5 = 3
         |           THEN '<link rel="canonical" href="/print/view">'
         |         WHEN doc_id % 5 = 4 THEN ''
         |         ELSE '<link rel="canonical" href="http://' || host || '/a' || doc_id || '">'
         |    END || '</head><body>' || md5(text) || '</body></html>' AS html
         |  FROM d0),
         |x AS (
         |  SELECT url, regexp_extract(
         |    regexp_extract(html,
         |      '(?i)<link\\b[^>]*\\brel\\s*=\\s*["'']canonical["''][^>]*>', 0),
         |    '(?i)\\bhref\\s*=\\s*["'']([^"'']+)["'']', 1) AS href
         |  FROM p)
         |SELECT url,
         |  CASE WHEN regexp_matches(href, '(?i)^https?://') THEN href
         |    ELSE url END AS canonical
         |FROM x ORDER BY url""".stripMargin,
    // q88: the edge synthesis + distinct collapse + dual distinct
    // counts + integer permille + flag replayed in SQL; the eTLD+1
    // CASE is the SAME regDomainCaseSql text q86 uses.
    "q88_link_farm" ->
      s"""WITH edges AS (
         |  SELECT 's' || substring(md5(doc_id || '#s'), 1, 6) || '.org' AS src,
         |    'o' || CAST(doc_id % 7 AS VARCHAR) || '.test' AS dst
         |  FROM documents
         |  UNION ALL
         |  SELECT 'f' || substring(md5(doc_id || '#f'), 1, 6) || '.farm' || CAST(doc_id % 2 AS VARCHAR) || '.co.uk',
         |    'v' || CAST(doc_id % 5 AS VARCHAR) || '.test'
         |  FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT 's' || substring(md5(doc_id || '#s'), 1, 6) || '.org',
         |    'v' || CAST(doc_id % 5 AS VARCHAR) || '.test'
         |  FROM documents WHERE doc_id % 18 = 0),
         |e AS (SELECT DISTINCT src, dst FROM edges),
         |r AS (SELECT dst, src, string_split(lower(src), '.') AS l,
         |  lower(src) AS lh FROM e),
         |rd AS (SELECT dst, src,
         |  ${regDomainCaseSql("l", "lh")} AS src_domain FROM r),
         |agg AS (
         |  SELECT dst, COUNT(DISTINCT src) AS n_src_hosts,
         |    COUNT(DISTINCT src_domain) AS n_src_domains
         |  FROM rd GROUP BY 1)
         |SELECT dst, n_src_hosts, n_src_domains,
         |  1000 * n_src_domains // n_src_hosts AS domain_permille,
         |  (n_src_hosts >= 10 AND
         |   1000 * n_src_domains // n_src_hosts <= 300) AS farm_flag
         |FROM agg ORDER BY dst""".stripMargin,
    // q82: the same evidence replayed in SQL — distinct (url, digest),
    // canonical key = base + SORTED params, per-param-occurrence
    // residual key joined against the key set (digests compared
    // POST-join), integer permille gates mirrored.
    "q82_dust_rules" ->
      (dustOracleCtes +
        s"""
         |SELECT host, param, n_support, n_counter,
         |  1000 * n_counter // (n_support + n_counter) AS counter_permille
         |FROM agg
         |WHERE n_support >= 3
         |  AND 1000 * n_counter // (n_support + n_counter) <= 100
         |ORDER BY host, param""".stripMargin),
    // q83: the same mined rules applied back — per-host strip-sets,
    // every url rebuilt in sorted-param canonical form minus the
    // ruled params (list-lambda replay of the Spark projection).
    "q83_dust_apply" ->
      (dustOracleCtes +
        s""",
         |rules AS (
         |  SELECT host, param FROM agg
         |  WHERE n_support >= 3
         |    AND 1000 * n_counter // (n_support + n_counter) <= 100),
         |ss AS (SELECT host, list(param) AS ps FROM rules GROUP BY 1),
         |ap AS (
         |  SELECT r.url, r.base,
         |    list_filter(r.params, p -> NOT list_contains(
         |      COALESCE(s.ps, []), split_part(p, '=', 1))) AS kept
         |  FROM (SELECT DISTINCT host, url, base, params FROM rp) r
         |  LEFT JOIN ss s ON r.host = s.host)
         |SELECT url,
         |  CASE WHEN len(kept) = 0 THEN base
         |    ELSE base || '?' || array_to_string(list_sort(kept), '&')
         |  END AS url_canon
         |FROM ap ORDER BY url""".stripMargin),
    // q79: same gram pipeline as q47 (split, 5-token windows, 60-bit
    // md5-prefix hash, per-doc distinct), positions = the three
    // disjoint 18-bit fields (m = 262144 = 2^18, m² = 68719476736),
    // membership replayed against the distinct set-position set —
    // bit-for-bit the Spark bitmap probe, false positives included.
    "q79_bloom_decontam" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+') AS w
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    CAST('0x' || substring(md5(array_to_string(w[i:i+4], ' ')), 1, 15) AS BIGINT) AS gh
        |  FROM words, LATERAL (SELECT unnest(generate_series(1, len(w)-4)) AS i) g
        |  WHERE len(w) >= 5),
        |ev AS (
        |  SELECT DISTINCT p FROM (
        |    SELECT gh % 262144 AS p FROM grams WHERE doc_id % 20 = 0
        |    UNION ALL SELECT (gh // 262144) % 262144 FROM grams WHERE doc_id % 20 = 0
        |    UNION ALL SELECT (gh // 68719476736) % 262144 FROM grams WHERE doc_id % 20 = 0) u),
        |hits AS (
        |  SELECT doc_id, COUNT(*) AS n_grams,
        |    SUM(CASE WHEN gh % 262144 IN (SELECT p FROM ev)
        |           AND (gh // 262144) % 262144 IN (SELECT p FROM ev)
        |           AND (gh // 68719476736) % 262144 IN (SELECT p FROM ev)
        |         THEN 1 ELSE 0 END) AS n_flagged
        |  FROM grams WHERE doc_id % 20 <> 0 GROUP BY 1)
        |SELECT d.doc_id, CAST(COALESCE(h.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(COALESCE(h.n_flagged, 0) AS BIGINT) AS n_flagged,
        |  CASE WHEN COALESCE(h.n_flagged, 0) > 0 THEN 1 ELSE 0 END AS contaminated
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |WHERE d.doc_id % 20 <> 0 ORDER BY d.doc_id""".stripMargin,
    // q76: same whitespace class, same docid:tf serialization, same
    // row_number-before-aggregate posting cap (df counts the FULL
    // list), same minDf floor.
    "q76_inverted_index" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(
        |      regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
        |      t -> t <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |ranked AS (
        |  SELECT term, doc_id, tf,
        |    ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rn
        |  FROM tf)
        |SELECT term, COUNT(*) AS df,
        |  string_agg(CASE WHEN rn <= 32
        |      THEN CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR) END,
        |    ',' ORDER BY doc_id) AS postings
        |FROM ranked GROUP BY term HAVING COUNT(*) >= 2
        |ORDER BY term""".stripMargin,
    // q68: same %50 host key, same epoch-microsecond min/max/count
    // partial aggregate, same integer-div interval and next-due; the
    // CASE mirrors Spark's when() null on single-observation hosts.
    "q68_recrawl_schedule" ->
      """WITH a AS (
        |  SELECT user_id % 50 AS host_id, COUNT(*) AS n_changes,
        |    MIN(epoch_us(ts)) AS first_us, MAX(epoch_us(ts)) AS last_us
        |  FROM events GROUP BY 1)
        |SELECT host_id, n_changes, first_us, last_us,
        |  CASE WHEN n_changes > 1
        |    THEN (last_us - first_us) // (n_changes - 1) END AS interval_us,
        |  CASE WHEN n_changes > 1
        |    THEN last_us + (last_us - first_us) // (n_changes - 1)
        |  END AS next_due_us
        |FROM a ORDER BY host_id""".stripMargin,
    "q29_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
        |ORDER BY event_id""".stripMargin,
    "q30_url_canon" ->
      """SELECT doc_id,
        |  'http://www' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/Dir/PAge'
        |    || CAST(doc_id AS VARCHAR) || '.HTML?q=a%2Fb&y=2' AS url_canon,
        |  'www' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q91: every canonicalization step replayed with DuckDB string/list
    // functions (split_part ≡ substring_index for position 1; anchored
    // regexes make replace-first vs replace-all moot; '' splits to ['']
    // and filters empty in both engines).
    "q91_surt_keys" ->
      """WITH u AS (
        |  SELECT DISTINCT 'HTTP://WWW' || CAST(doc_id % 3 AS VARCHAR)
        |    || '.News' || CAST(doc_id % 7 AS VARCHAR)
        |    || '.Example.CO.UK:8080/Section/Story' || CAST(doc_id AS VARCHAR)
        |    || '.HTML?z=9&a=1&m=' || CAST(doc_id % 5 AS VARCHAR)
        |    || '#comments' AS url
        |  FROM documents),
        |s1 AS (SELECT url,
        |  regexp_replace(lower(url), '^[a-z][a-z0-9+.-]*://', '') AS rest
        |  FROM u),
        |s2 AS (SELECT url,
        |  regexp_replace(split_part(split_part(rest, '/', 1), ':', 1),
        |    '^www[0-9]*\.', '') AS h,
        |  split_part(CASE WHEN instr(rest, '/') > 0
        |    THEN substring(rest, instr(rest, '/')) ELSE '/' END, '#', 1) AS pq
        |  FROM s1),
        |s3 AS (SELECT url, h, split_part(pq, '?', 1) AS base,
        |  list_filter(string_split(CASE WHEN instr(pq, '?') > 0
        |      THEN substring(pq, instr(pq, '?') + 1) ELSE '' END, '&'),
        |    x -> len(x) > 0) AS params
        |  FROM s2)
        |SELECT url,
        |  array_to_string(list_reverse(string_split(h, '.')), ',') || ')'
        |    || base ||
        |    CASE WHEN len(params) > 0
        |      THEN '?' || array_to_string(list_sort(params), '&')
        |      ELSE '' END AS surt
        |FROM s3 ORDER BY url""".stripMargin,
    "q92_bm25" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(
        |      regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
        |      t -> t <> '') AS toks
        |  FROM documents),
        |stats AS (SELECT COUNT(*) AS n,
        |    (SUM(len(toks)) * 1000) // COUNT(*) AS adl1000 FROM base),
        |toks AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
        |         FROM base),
        |tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM toks
        |       WHERE term IN ('join', 'scan', 'filter') GROUP BY 1, 2, 3),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id,
        |    CAST(SUM(len(bin(((2 * (stats.n - df.df) + 1) * 1024)
        |        // (2 * df.df + 1)))
        |      * ((tf.tf * 2200000) //
        |         (tf.tf * 1000
        |          + (12 * (250 + (750 * tf.dl * 1000) // stats.adl1000))
        |            // 10))) AS BIGINT) AS score,
        |    COUNT(*) AS nterms
        |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN stats
        |  GROUP BY 1)
        |SELECT doc_id, score, nterms FROM sc
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "q93_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type AS grp,
        |    ((user_id % 2147483648) * 1103515245 + 12345) % 2147483648 AS h
        |  FROM events),
        |r AS (SELECT grp, h,
        |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn FROM h),
        |t AS (SELECT grp, CAST(COUNT(*) AS INT) AS n_mins,
        |      MAX(h) AS kth_min
        |      FROM r WHERE rn <= 32 GROUP BY 1)
        |SELECT grp, n_mins, kth_min,
        |  CASE WHEN n_mins < 32 THEN CAST(n_mins AS BIGINT)
        |       ELSE (31 * 2147483648) // kth_min END AS distinct_est
        |FROM t ORDER BY grp""".stripMargin,
    "q94_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(
        |      regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+'),
        |      t -> t <> '')) AS item
        |  FROM documents),
        |tot AS (SELECT COUNT(*) AS n FROM toks),
        |c AS (SELECT item, COUNT(*) AS cnt FROM toks GROUP BY 1)
        |SELECT item, cnt FROM c, tot
        |WHERE cnt * 1000 >= 10 * n
        |ORDER BY cnt DESC, item""".stripMargin,
    "q95_budget_apportion" ->
      """WITH w AS (
        |  SELECT event_type AS item, COUNT(*) AS w FROM events
        |  GROUP BY 1),
        |tot AS (SELECT SUM(w) AS n FROM w),
        |s AS (SELECT item, w,
        |    CAST((1000 * w) // n AS BIGINT) AS base,
        |    CAST((1000 * w) % n AS BIGINT) AS rem
        |  FROM w, tot),
        |l AS (SELECT CAST(1000 - SUM(base) AS BIGINT) AS leftover
        |      FROM s),
        |r AS (SELECT item,
        |    ROW_NUMBER() OVER (ORDER BY rem DESC, item) AS rn FROM s)
        |SELECT s.item, s.w,
        |  s.base + CASE WHEN r.rn <= l.leftover THEN 1 ELSE 0 END AS alloc
        |FROM s JOIN r ON s.item = r.item CROSS JOIN l
        |ORDER BY alloc DESC, s.item""".stripMargin,
    "q96_length_percentiles" ->
      """WITH c AS (
        |  SELECT lang AS grp, CAST(n_chars AS BIGINT) AS v, COUNT(*) AS c
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        |cum AS (
        |  SELECT grp, v,
        |    CAST(SUM(c) OVER (PARTITION BY grp ORDER BY v) AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY grp) AS BIGINT) AS n
        |  FROM c),
        |x AS (SELECT grp, v, cum, n, unnest([50, 90, 99]) AS pct FROM cum)
        |SELECT grp, pct, MIN(v) AS value FROM x
        |WHERE cum * 100 >= pct * n
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q34_full_outer_diff" ->
      """SELECT COALESCE(a.key, b.key) AS key,
        |  CASE WHEN a.key IS NULL THEN 'add'
        |       WHEN b.key IS NULL THEN 'remove'
        |       ELSE 'update' END AS action
        |FROM (SELECT c_custkey AS key, c_acctbal AS bal_a FROM customer
        |      WHERE c_acctbal > 7000) a
        |FULL OUTER JOIN (SELECT c_custkey AS key, c_acctbal AS bal_b
        |      FROM customer WHERE c_mktsegment = 'BUILDING') b
        |  ON a.key = b.key
        |ORDER BY key""".stripMargin,
    "q35_duplicate_rows" ->
      """SELECT md5('dup:' || CAST(s_suppkey AS VARCHAR)) AS new_key,
        |  s_suppkey AS src_key, s_name, FALSE AS enabled
        |FROM supplier WHERE s_nationkey < 5 ORDER BY src_key""".stripMargin,
    // q36: the full status ladder + enabled transition replayed as one
    // CASE over the same doc_id-derived facts (gained this round — was
    // no_oracle over live engine output). Timestamps never cross the
    // engine boundary: both sides derive newest_published from doc_id
    // and compare against the same literal cutoff internally.
    "q36_host_health" ->
      """WITH f AS (
        |  SELECT 'host' || CAST(doc_id AS VARCHAR) AS host,
        |    doc_id % 7 = 0 AS home_failed,
        |    CASE WHEN doc_id % 5 = 0 THEN 0
        |         ELSE CAST(doc_id % 9 + 1 AS INT) END AS catalog_found,
        |    CASE WHEN doc_id % 4 = 0 THEN CAST(doc_id % 3 + 1 AS INT)
        |         ELSE 0 END AS n_undated,
        |    CASE WHEN doc_id % 11 = 0 THEN NULL
        |         ELSE TIMESTAMP '2024-06-01 00:00:00'
        |              - ((doc_id * 37) % 800) * INTERVAL 1 DAY
        |         END AS newest_published,
        |    doc_id % 6 <> 1 AS validate_date,
        |    doc_id % 2 = 0 AS enabled,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'Normal'
        |         WHEN 1 THEN 'WarningNoDates'
        |         ELSE 'ErrorBroken' END AS prev_status
        |  FROM documents WHERE doc_id < 40),
        |c AS (
        |  SELECT *,
        |    CASE WHEN home_failed THEN 'ErrorBroken'
        |         WHEN catalog_found = 0 THEN 'ErrorCatalogMissing'
        |         WHEN validate_date AND n_undated > 0 THEN 'WarningNoDates'
        |         WHEN validate_date AND newest_published IS NOT NULL
        |           AND newest_published <
        |             TIMESTAMP '2024-06-01 00:00:00' - INTERVAL 365 DAY
        |           THEN 'ErrorOutdate'
        |         ELSE 'Normal' END AS status
        |  FROM f)
        |SELECT host, status, prev_status, enabled,
        |  CASE WHEN status = 'Normal' THEN TRUE
        |       WHEN status LIKE 'Warning%' THEN
        |         CASE WHEN status <> prev_status THEN FALSE ELSE enabled END
        |       ELSE FALSE END AS next_enabled
        |FROM c ORDER BY host""".stripMargin,
    "q37_collect_list" ->
      """SELECT o_orderkey,
        |  COALESCE(li.line_numbers, '') AS line_numbers,
        |  COALESCE(li.n_lines, 0) AS n_lines
        |FROM orders LEFT JOIN (
        |  SELECT l_orderkey,
        |    array_to_string(list_sort(list(l_linenumber)), ',') AS line_numbers,
        |    COUNT(*) AS n_lines
        |  FROM lineitem GROUP BY 1) li ON o_orderkey = l_orderkey
        |WHERE o_orderkey <= 2000
        |ORDER BY o_orderkey""".stripMargin,
    "q22_ann_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |sims AS (
        |  SELECT e.vec_id,
        |    list_sum(list_transform(list_zip(e.embedding, q.qe),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(e.embedding,
        |         v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(q.qe,
        |         v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos
        |  FROM embeddings e, q WHERE e.vec_id <> 0),
        |topk AS (SELECT vec_id FROM sims ORDER BY cos DESC, vec_id LIMIT 10)
        |SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) AS rank, vec_id
        |FROM topk ORDER BY rank""".stripMargin,
    // q26's MinHash-LSH near-dup VERIFIES candidates with the exact
    // shingle-hash Jaccard, and distinct-shingle-hash counts equal
    // distinct-shingle-string counts (64-bit hashes; collisions
    // negligible and deterministic), so with full LSH recall the output
    // IS the exact jaccard>=1/2 pair set — which DuckDB can recompute
    // from the texts verbatim (q21's CTE, no df cap, union_n emitted).
    // A recall shortfall would surface as a driver rowcount mismatch —
    // exactly what this oracle is for.
    "q26_minhash_lsh" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
        |  FROM words, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) g
        |  WHERE len(w) >= 3),
        |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(common AS INT) AS common,
        |  CAST(sa.nsh + sb.nsh - common AS INT) AS union_n
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE common * 2 >= sa.nsh + sb.nsh - common
        |ORDER BY doc_a, doc_b""".stripMargin,
    // q28: full replica of the single-probe LSH ANN — bucket every
    // vector with the SAME 8 hyperplanes (seed 0), keep the query's
    // bucket, exact-cosine top-10. Gained this round (was no_oracle).
    "q28_ann_lsh" -> {
      val bucket = sqlBucket("embedding", dim = 64, nBits = 8, seed = 0L)
      s"""WITH b AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
         |q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0),
         |sims AS (
         |  SELECT b.vec_id,
         |    list_sum(list_transform(list_zip(b.embedding, q.qe),
         |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform(b.embedding,
         |         v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
         |     * sqrt(list_sum(list_transform(q.qe,
         |         v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos
         |  FROM b, q WHERE b.vec_id <> 0 AND b.bucket = q.qb)
         |SELECT vec_id FROM (
         |  SELECT vec_id FROM sims ORDER BY cos DESC, vec_id LIMIT 10)
         |ORDER BY vec_id""".stripMargin
    },
    // q38: full replica of the OR-amplified LSH near-dup — 8 tables ×
    // 6-bit buckets from the same seeded planes, candidate equi-join on
    // (tbl, bucket), exact-cosine verify. Gained this round (was
    // no_oracle): recall shortfalls vs brute force no longer hide —
    // the oracle drops the SAME candidates.
    "q38_embedding_neardup_lsh" -> {
      val branches = (0 until 8).map { t =>
        s"SELECT vec_id, $t AS tbl, " +
          sqlBucket("embedding", dim = 64, nBits = 6, seed = t + 1L) +
          " AS bucket FROM embeddings"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH v AS (SELECT vec_id, embedding,
         |  sqrt(list_sum(list_transform(embedding,
         |    y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS nrm FROM embeddings),
         |bu AS (
         |  $branches),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bu a JOIN bu b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b
         |FROM cand
         |JOIN v va ON va.vec_id = id_a
         |JOIN v vb ON vb.vec_id = id_b
         |WHERE list_sum(list_transform(list_zip(va.embedding, vb.embedding),
         |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (va.nrm * vb.nrm) >= 0.4
         |ORDER BY id_a, id_b""".stripMargin
    },
    // q27: full replica of the 60-bit md5-token-hash simhash — the
    // oracle rebuilds every fingerprint from the raw text (token hash =
    // leading 15 hex digits of md5(token), ±1 per occurrence, bit set
    // on strictly-positive sum), then brute-forces hamming<=3 pairs.
    // Integer math end-to-end: no float drift is possible. The Spark
    // side's banded equi-join is complete for hamming<=3 (pigeonhole),
    // so the sets must be identical. Gained this round (was no_oracle).
    "q27_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+')) AS tok
        |  FROM documents),
        |th AS (SELECT doc_id, CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT) AS h
        |       FROM toks WHERE tok <> ''),
        |bits AS (
        |  SELECT doc_id, b AS bit,
        |    SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
        |  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b)
        |  GROUP BY 1, 2),
        |fp AS (
        |  SELECT doc_id,
        |    SUM(CASE WHEN acc > 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS sim
        |  FROM bits GROUP BY 1),
        |fpn AS (SELECT * FROM fp WHERE sim <> 0)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS dist
        |FROM fpn a JOIN fpn b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sim, b.sim)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // q39: the fixture blobs are real container headers whose probed
    // fields are exact arithmetic in doc_id (Multimodal.syntheticMedia's
    // contract) — the oracle reconstructs the ENTIRE decode output from
    // the ids, so it value-checks the PNG/JPEG/WAV/AVI parsers
    // end-to-end: a wrong byte offset, endianness slip or failed
    // marker walk yields container='unknown'/zeroed dims and goes red.
    // n_bytes are the fixed physical blob sizes (header-true,
    // payload-truncated) pinned in MediaHeadersSpec.
    "q39_multimodal_decode" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |       WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CASE WHEN doc_id % 6 = 0 THEN 'png'
        |       WHEN doc_id % 3 = 0 THEN 'jpeg'
        |       WHEN doc_id % 3 = 1 THEN 'wav' ELSE 'avi' END AS container,
        |  CAST(CASE WHEN doc_id % 6 = 0 THEN 89
        |       WHEN doc_id % 3 = 0 THEN 104
        |       WHEN doc_id % 3 = 1 THEN 76 ELSE 100 END AS BIGINT) AS n_bytes,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 0
        |       ELSE 64 + doc_id % 1857 END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 0
        |       ELSE 64 + doc_id % 1017 END AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 0
        |       WHEN doc_id % 3 = 1 THEN 1000 + (doc_id % 600) * 100
        |       ELSE (30 * (1 + doc_id % 300) * 33333) // 1000 END
        |    AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q41: full replica of the IVF probe — the codebook is the first 8
    // vectors, assignment is argmax cosine with ties to the lowest
    // centroid id (rn=1 under ORDER BY cos DESC, cid), the query's two
    // nearest lists are searched, exact-cosine top-10. All double math
    // is the same left-to-right summation as the Spark columns.
    "q41_ann_ivf" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS ce,
        |    sqrt(list_sum(list_transform(embedding,
        |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS cn
        |  FROM embeddings WHERE vec_id < 8),
        |v AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS vn
        |  FROM embeddings),
        |asg AS (
        |  SELECT vec_id, cid,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
        |  FROM (
        |    SELECT v.vec_id, c.cid,
        |      list_sum(list_transform(list_zip(v.embedding, c.ce),
        |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (v.vn * c.cn) AS cos
        |    FROM v, c)),
        |probes AS (SELECT cid FROM asg WHERE vec_id = 0 AND rn <= 2),
        |cl AS (SELECT vec_id, cid AS cluster FROM asg WHERE rn = 1),
        |q AS (SELECT embedding AS qe, vn AS qn FROM v WHERE vec_id = 0),
        |sims AS (
        |  SELECT v.vec_id,
        |    list_sum(list_transform(list_zip(v.embedding, q.qe),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (v.vn * q.qn) AS cos
        |  FROM v JOIN cl ON v.vec_id = cl.vec_id, q
        |  WHERE cl.cluster IN (SELECT cid FROM probes) AND v.vec_id <> 0)
        |SELECT vec_id FROM (
        |  SELECT vec_id FROM sims ORDER BY cos DESC, vec_id LIMIT 10)
        |ORDER BY vec_id""".stripMargin,
    "q23_embedding_neardup" ->
      """WITH v AS (SELECT vec_id, embedding,
        |  sqrt(list_sum(list_transform(embedding,
        |    y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS nrm FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.nrm * b.nrm) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    // q44: connected components over the exact jaccard>=1/2 pair set
    // (same pair CTE as q26's oracle) via a recursive reachability
    // closure; cluster_id = MIN reachable id. The Spark side's
    // iterative min-label propagation must converge to the same
    // fixpoint — any missed merge or early stop is a hash mismatch.
    "q44_dup_clusters" ->
      """WITH RECURSIVE words AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
        |  FROM words, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) g
        |  WHERE len(w) >= 3),
        |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |dup AS (
        |  SELECT doc_a, doc_b FROM p
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE common * 2 >= sa.nsh + sb.nsh - common),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM dup
        |          UNION ALL SELECT doc_b, doc_a FROM dup),
        |cc AS (
        |  SELECT DISTINCT u AS node, u AS r FROM edges
        |  UNION
        |  SELECT e.u, cc.r FROM edges e JOIN cc ON cc.node = e.v),
        |lbl AS (SELECT node, MIN(r) AS cluster_id FROM cc GROUP BY 1),
        |cn AS (SELECT cluster_id, COUNT(*) AS cluster_n FROM lbl GROUP BY 1)
        |SELECT node AS doc_id, cluster_id, cluster_n
        |FROM lbl JOIN cn USING (cluster_id)
        |ORDER BY doc_id""".stripMargin,
    // q46: q44's recursive-CC closure, then keep only canonical docs
    // (not a non-min member of any component) — the oracle for the
    // composed keep-canonical corpus filter.
    "q46_dedup_corpus" ->
      """WITH RECURSIVE words AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
        |  FROM words, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) g
        |  WHERE len(w) >= 3),
        |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |dup AS (
        |  SELECT doc_a, doc_b FROM p
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE common * 2 >= sa.nsh + sb.nsh - common),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM dup
        |          UNION ALL SELECT doc_b, doc_a FROM dup),
        |cc AS (
        |  SELECT DISTINCT u AS node, u AS r FROM edges
        |  UNION
        |  SELECT e.u, cc.r FROM edges e JOIN cc ON cc.node = e.v),
        |lbl AS (SELECT node, MIN(r) AS cluster_id FROM cc GROUP BY 1),
        |losers AS (SELECT node FROM lbl WHERE node <> cluster_id)
        |SELECT doc_id, lang FROM documents
        |WHERE doc_id NOT IN (SELECT node FROM losers)
        |ORDER BY doc_id""".stripMargin,
    // q45: membership = md5 16-bit bucket under an integer per-stratum
    // cutoff — bit-for-bit reproducible in any engine with md5.
    "q45_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT)
        |  < CASE lang WHEN 'en' THEN 6553 WHEN 'zh' THEN 32768 ELSE 16384 END
        |ORDER BY doc_id""".stripMargin,
  )
}
