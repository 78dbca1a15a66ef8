package graft.crawl

import java.nio.file.Files
import java.time.LocalDateTime

import graft.{LocalSpark, TempDirs}
import graft.core.{CatalogItem, RobotsPolicy}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Edge behaviors of the wave engine pinned by the round-3 review:
  * HasDate scheduling parity, robots-cache recovery after a failed home
  * fetch, budget-drop checkpoint deferral, the contenthtml column, and
  * the S9 host-delete cascade. */
class WaveEdgeSpec extends AnyFunSuite {

  lazy val spark = LocalSpark.session(4, LocalSpark.MicroWaveConfs: _*)

  val fx = FixtureCfg(nHosts = 12, baseArticles = 6, growthPerWave = 3,
    hotHostFactor = 3)
  val cc = CrawlConfig(maxPerHostPerWave = 100, hostBuckets = 4, salt = 2,
    expectedUrlsPerBucket = 2048, cuckooCapacityPerBucket = 4096)

  private def newStore(): SnapshotStore =
    new SnapshotStore(TempDirs.cleanupOnExit(Files.createTempDirectory("edgestore").toString))

  private lazy val pagesDir =
    TempDirs.cleanupOnExit(Files.createTempDirectory("edgepages").toString)

  private def runAll(store: SnapshotStore, waves: Int,
      cfg: CrawlConfig = cc): Seq[WaveEngine.WaveResult] =
    WaveEngine.run(spark, store,
      w => FixtureGen.pagesParquet(spark, fx, w, pagesDir),
      FixtureGen.hosts(spark, fx),
      FixtureGen.robots(spark, fx), waves, cfg)

  /** Shared single-wave unbudgeted store. */
  private lazy val oneWave: SnapshotStore = {
    val s = newStore(); runAll(s, 1); s
  }

  test("HasDate gate: raw partial dates count as dated; parsed sort first, raw-only last") {
    val items = Vector(
      CatalogItem("http://h/a1", "t1", Some(LocalDateTime.of(2024, 1, 1, 10, 0))),
      CatalogItem("http://h/a2", "t2", None, Some("12:30")),
      CatalogItem("http://h/a3", "t3", Some(LocalDateTime.of(2024, 3, 1, 10, 0))))
    val hc = HostConfig(1, "h", "http://h/", 1, enabled = true, 100L, 1)
    val (tasks, denied, cand) = WaveEngine.scheduleHost(
      0, hc, items, None, RobotsPolicy.empty, 100)
    assert(denied == 0)
    // the raw-dated item no longer breaks the all-dated gate (reference
    // CatalogItem.HasDate); nulls-last stable sort puts it after the
    // parsed dates, newest parsed first
    assert(tasks.map(_.url) ==
      Vector("http://h/a3", "http://h/a1", "http://h/a2"))
    assert(cand.contains("http://h/a3"))
  }

  test("failed home fetch keeps robots unparsed; recovery re-parses before scheduling") {
    import spark.implicits._
    val host = "r.example.com"
    val hosts = spark.createDataset(Seq(
      HostConfig(1, host, s"http://$host/", 1, enabled = true, 100L, 1)))
    val robots = spark.createDataset(Seq(
      FixtureGen.RobotsRow(host, "User-agent: *\nDisallow: /a/")))
    val s = newStore()
    // wave 0: the host is down (no pages at all) → home fetch fails
    WaveEngine.runWave(spark, s, spark.emptyDataset[Page], hosts, robots, 0, cc)
    val st0 = s.read(spark, "state", 0).head()
    assert(st0.getAs[Int]("robots_wave") == -1,
      "a failed home fetch must not stamp a fresh robots cache")
    // wave 1: host is back with a catalog of /a/ articles — robots must
    // be parsed NOW (not a cached allow-all), so everything is denied
    val ts = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val lis = (0 until 3).map(j =>
      s"""<li><a href="http://$host/a/$j.html">Story number $j</a>""" +
        s"""<span>2024-02-0${j + 1} 10:00</span></li>""").mkString
    val home = Page(s"http://$host/", ts,
      s"<html><body><ul>$lis</ul></body></html>".getBytes("UTF-8"), "", "en")
    WaveEngine.runWave(spark, s, spark.createDataset(Seq(home)), hosts, robots, 1, cc)
    assert(s.read(spark, "frontier", 1).count() == 0,
      "recovered host crawled Disallow'd paths — robots not re-parsed")
    val m1 = s.read(spark, "metrics", 1).where($"host" === host).head()
    assert(m1.getAs[Int]("robots_denied") == 3)
    assert(s.read(spark, "state", 1).head().getAs[Int]("robots_wave") == 1)
  }

  test("duplicate page snapshots of one url yield ONE article, newest wins") {
    import spark.implicits._
    val host = "dup.example.com"
    val hosts = spark.createDataset(Seq(
      HostConfig(1, host, s"http://$host/", 1, enabled = true, 100L, 1)))
    val robots = spark.createDataset(Seq(FixtureGen.RobotsRow(host, "")))
    val s = newStore()
    val ts1 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val ts2 = java.sql.Timestamp.valueOf("2024-06-02 00:00:00")
    def art(word: String) = ("<html><body><h1>Story</h1><div>" +
      (0 until 4).map(k =>
        s"<p>The $word report number $k brings further detail about " +
          "the situation, and the description keeps going with " +
          "additional sentences. More narrative text follows here so " +
          "the density scan of the extractor sees real content.</p>")
        .mkString + "</div></body></html>").getBytes("UTF-8")
    val lis = (0 until 3).map(j =>
      s"""<li><a href="http://$host/a/$j.html">Story number $j</a>""" +
        s"""<span>2024-02-0${j + 1} 10:00</span></li>""").mkString
    // Common-Crawl-style input: /a/1.html appears TWICE in the wave's
    // window (two warc_ts snapshots, different bodies)
    val pages = Seq(
      Page(s"http://$host/", ts1,
        s"<html><body><ul>$lis</ul></body></html>".getBytes("UTF-8"), "", "en"),
      Page(s"http://$host/a/0.html", ts1, art("alpha"), "", "en"),
      Page(s"http://$host/a/1.html", ts1, art("bravo"), "", "en"),
      Page(s"http://$host/a/1.html", ts2, art("charlie"), "", "en"),
      Page(s"http://$host/a/2.html", ts1, art("delta"), "", "en"))
    WaveEngine.runWave(spark, s, spark.createDataset(pages), hosts, robots, 0, cc)
    val arts = s.read(spark, "articles", 0)
    assert(arts.count() == 3, "exactly one article row per url")
    val b = arts.where($"url" === s"http://$host/a/1.html").collect()
    assert(b.length == 1, "the winner semi-join must not re-admit dup rows")
    assert(b.head.getAs[String]("content").contains("charlie"),
      "the NEWEST snapshot (warc_ts desc) must win")
  }

  test("duplicate home snapshots: one state row, newest catalog wins") {
    import spark.implicits._
    val host = "duph.example.com"
    val hosts = spark.createDataset(Seq(
      HostConfig(1, host, s"http://$host/", 1, enabled = true, 100L, 1)))
    val robots = spark.createDataset(Seq(FixtureGen.RobotsRow(host, "")))
    val s = newStore()
    val ts1 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val ts2 = java.sql.Timestamp.valueOf("2024-06-02 00:00:00")
    def homeOf(n: Int): Array[Byte] = {
      val lis = (0 until n).map(j =>
        s"""<li><a href="http://$host/a/$j.html">Story number $j</a>""" +
          s"""<span>2024-02-0${j + 1} 10:00</span></li>""").mkString
      s"<html><body><ul>$lis</ul></body></html>".getBytes("UTF-8")
    }
    def art(j: Int) = ("<html><body><h1>Story</h1><div>" +
      (0 until 4).map(k =>
        s"<p>The number-$j report part $k brings further detail about " +
          "the situation, and the description keeps going with more " +
          "sentences so the extractor's density scan sees content.</p>")
        .mkString + "</div></body></html>").getBytes("UTF-8")
    // TWO home snapshots in the window: the newer one lists 3 items
    val pages = Seq(
      Page(s"http://$host/", ts1, homeOf(2), "", "en"),
      Page(s"http://$host/", ts2, homeOf(3), "", "en")) ++
      (0 until 3).map(j => Page(s"http://$host/a/$j.html", ts1, art(j), "", "en"))
    WaveEngine.runWave(spark, s, spark.createDataset(pages), hosts, robots, 0, cc)
    assert(s.read(spark, "state", 0).where($"host" === host).count() == 1,
      "dup home snapshots must not fan out into duplicate state rows")
    assert(s.read(spark, "frontier", 0).count() == 3,
      "the NEWEST home snapshot's catalog must win")
    val m = s.read(spark, "metrics", 0).where($"host" === host).head()
    assert(m.getAs[Int]("scheduled") == 3 && m.getAs[Int]("fetched_ok") == 3,
      "per-host metrics must count each fetch once")
  }

  test("a disabled wave keeps a host's carried state (lasthandled survives)") {
    import spark.implicits._
    val s = newStore()
    runAll(s, 1) // wave 0: all fixture hosts enabled
    val st0 = s.read(spark, "state", 0)
      .select("host", "lasthandled").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(st0.nonEmpty && st0.values.exists(_.isDefined))
    // wave 1: every host disabled — the reference persists per-site
    // checkpoints regardless of the enabled flag
    val disabled = FixtureGen.hosts(spark, fx).map(_.copy(enabled = false))
    WaveEngine.runWave(spark, s,
      FixtureGen.pagesParquet(spark, fx, 1, pagesDir),
      disabled, FixtureGen.robots(spark, fx), 1, cc)
    val st1 = s.read(spark, "state", 1)
      .select("host", "lasthandled").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(st1 == st0,
      "a wave with the host disabled must carry its state forward unchanged")
    assert(s.read(spark, "frontier", 1).count() == 0)
  }

  test("budget-dropped hosts defer: checkpoint reverts like the all-failed path") {
    val s = newStore(); runAll(s, 1, cc.copy(maxTasksPerWave = 10))
    def stateMap(st: SnapshotStore) = st.read(spark, "state", 0)
      .select("host", "lasthandled").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    def taskHosts(st: SnapshotStore) = st.read(spark, "frontier", 0)
      .select("host").distinct().collect().map(_.getString(0)).toSet
    val full = stateMap(oneWave); val bud = stateMap(s)
    val admitted = taskHosts(s); val hadTasks = taskHosts(oneWave)
    val dropped = hadTasks -- admitted
    assert(dropped.nonEmpty, "fixture must drop at least one whole host")
    dropped.foreach { h =>
      assert(bud(h).isEmpty,
        s"budget-dropped host $h must keep its previous (empty) checkpoint")
    }
    admitted.foreach { h =>
      assert(bud(h) == full(h),
        s"admitted host $h must checkpoint exactly as in the unbudgeted run")
    }
  }

  test("articles carry contenthtml: the extracted content WITH its markup") {
    import spark.implicits._
    val url = FixtureGen.articleUrl(0, 0)
    val hc = FixtureGen.hosts(spark, fx).collect()
      .find(_.host == FixtureGen.hostName(0)).get
    val pageBytes = FixtureGen.pages(spark, fx, 0)
      .where($"url" === url).head().html
    val expected = graft.core.RuleEngine.parseArticle(
      graft.core.CharsetDetect.decode(pageBytes),
      hc.rule.map(RuleSpec.toCatalogRule))
    val row = oneWave.read(spark, "articles", 0)
      .where($"url" === url).select("content", "contenthtml").head()
    assert(row.getString(1) == expected.contentWithTags)
    assert(row.getString(1).contains("<"),
      "contenthtml must keep markup")
    assert(row.getString(0) == expected.content)
    assert(row.getString(0) != row.getString(1))
  }

  test("S9 host delete cascades store-wide and makes the urls re-crawlable") {
    import spark.implicits._
    val s = newStore(); runAll(s, 2)
    val victim = FixtureGen.hostName(FixtureGen.HotHost)
    assert(s.readDeltas(spark, "articles", 1).get
      .where($"host" === victim).count() > 0)
    StoreMaintenance.deleteHosts(spark, s, Seq(victim), cc)
    for (t <- Seq("articles", "frontier", "metrics"); w <- 0 to 1)
      assert(s.read(spark, t, w).where($"host" === victim).count() == 0,
        s"$t wave $w still has rows for the deleted host")
    assert(s.read(spark, "state", 1).where($"host" === victim).count() == 0)
    // other hosts' rows are untouched
    assert(s.read(spark, "articles", 0).count() ==
      oneWave.read(spark, "articles", 0)
        .where($"host" =!= victim).count())
    // the host is still seeded: with a clean checkpoint AND a cleaned
    // seen-set, wave 2 re-crawls its catalog from scratch (urls from
    // wave 0 re-insert instead of being deduped)
    runAll(s, 3)
    val reUrls = s.read(spark, "articles", 2).where($"host" === victim)
      .select("url").collect().map(_.getString(0)).toSet
    val w0urls = (0 until FixtureGen.articleCount(fx, FixtureGen.HotHost, 0))
      .map(j => FixtureGen.articleUrl(FixtureGen.HotHost, j)).toSet
    assert((w0urls intersect reUrls).nonEmpty,
      "deleted urls were still treated as seen — cascade missed the sketches")
  }

  test("cross-host syndication ACROSS waves: a committed url is never re-inserted") {
    import spark.implicits._
    // the url-seen contract is GLOBAL per url (reference UNIQUE KEY
    // url): host A commits c.example.com urls in wave 0; host B lists
    // the same urls in wave 1 and every one must dedup. A bucket keyed
    // on the SCHEDULING host (the pre-r4 shape) probes a different
    // bucket for host B, misses the sketches AND the pruned anti-join,
    // and re-inserts all three.
    val ts = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val arts = (0 until 3).map { j =>
      val html =
        s"""<html><head><title>Shared $j</title></head><body>
           |<h1>Shared $j</h1><div>2024-02-0${j + 1} 10:00</div>
           |<p>${("shared body text that is long enough to extract " * 8) + j}</p>
           |</body></html>""".stripMargin
      Page(s"http://c.example.com/a/$j.html", ts,
        html.getBytes("UTF-8"), "", "en")
    }
    def home(hostUrl: String, withList: Boolean) = {
      val lis =
        if (!withList) ""
        else (0 until 3).map(j =>
          s"""<li><a href="http://c.example.com/a/$j.html">Shared story $j</a>""" +
            s"""<span>2024-02-0${j + 1} 10:00</span></li>""").mkString
      Page(hostUrl, ts,
        s"<html><body><ul>$lis</ul></body></html>".getBytes("UTF-8"), "", "en")
    }
    val hosts = spark.createDataset(Seq(
      HostConfig(1, "a.example.com", "http://a.example.com/", 1, enabled = true, 100L, 1),
      HostConfig(2, "b.example.com", "http://b.example.com/", 2, enabled = true, 100L, 1)))
    val robots = spark.emptyDataset[FixtureGen.RobotsRow]
    val s = newStore()
    // wave 0: only A lists the shared urls
    WaveEngine.runWave(spark, s, spark.createDataset(
      arts :+ home("http://a.example.com/", withList = true)
        :+ home("http://b.example.com/", withList = false)),
      hosts, robots, 0, cc)
    assert(s.read(spark, "articles", 0).count() == 3)
    // wave 1: B lists the SAME urls (A's checkpoint stops its batch)
    WaveEngine.runWave(spark, s, spark.createDataset(
      arts :+ home("http://a.example.com/", withList = true)
        :+ home("http://b.example.com/", withList = true)),
      hosts, robots, 1, cc)
    val all = s.readDeltas(spark, "articles", 1).get
    assert(all.count() == 3, "syndicated urls re-inserted in wave 1")
    val m1 = s.read(spark, "metrics", 1).where($"host" === "b.example.com").head()
    assert(m1.getAs[Int]("fetched_ok") == 3)
    assert(m1.getAs[Int]("deduped") == 3,
      "host B's re-listed urls must dedup against A's committed set")
    assert(m1.getAs[Int]("inserted") == 0)
  }

  test("rewrite crash between the two renames: table recovers complete, re-run finishes the delete") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val s = newStore(); runAll(s, 2)
    val victim = FixtureGen.hostName(FixtureGen.HotHost)
    val path = s.dataPath("articles", 0)
    val before = s.read(spark, "articles", 0).count()
    val keepRows = s.read(spark, "articles", 0)
      .where($"host" =!= victim).count()
    assert(before > keepRows, "fixture must have victim rows in wave 0")
    // Simulate a crash EXACTLY between rewrite's two renames: the
    // original is renamed aside, the staged rewrite exists, and the
    // table path is GONE while the wave manifest still says committed —
    // the window the round-3 delete-then-move implementation could not
    // survive. (A stale .rewrite content is deliberately garbage: the
    // recovery contract rolls BACK to the intact original and re-runs.)
    JFiles.move(JPaths.get(path), JPaths.get(path + ".old"))
    JFiles.createDirectories(JPaths.get(path + ".rewrite"))
    JFiles.writeString(JPaths.get(path + ".rewrite", "garbage"), "not parquet")
    assert(!JFiles.exists(JPaths.get(path)), "crash window staged")
    // re-running the maintenance pass must first recover the aside
    // original (so the sketch pass sees the doomed rows) and then
    // complete the delete end-to-end
    StoreMaintenance.deleteHosts(spark, s, Seq(victim), cc)
    assert(JFiles.exists(JPaths.get(path)))
    assert(!JFiles.exists(JPaths.get(path + ".old")), "stray .old not cleaned")
    assert(!JFiles.exists(JPaths.get(path + ".rewrite")), "stray .rewrite not cleaned")
    assert(s.read(spark, "articles", 0).count() == keepRows)
    assert(s.read(spark, "articles", 0).where($"host" === victim).count() == 0)
    // the deleted urls are re-crawlable: the sketch eviction ran against
    // the RECOVERED wave-0 rows, not an absent table
    runAll(s, 3)
    assert(s.read(spark, "articles", 2).where($"host" === victim).count() > 0,
      "recovered-table delete left the victim's urls marked seen")
  }

  test("legacy store (scheduling-host sketch keys, no seenurls) migrates on resume and still dedups syndication") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    import java.util.Comparator
    // pre-r4 stores keyed the seen sketches by (SCHEDULING host, url)
    // and had no slim seenurls table. A url first committed under a
    // foreign scheduling host (c.example.com articles listed by host A)
    // lives in bucket(A, url); the current engine probes
    // urlBucket = bucket(c.example.com, url) — a miss is classified
    // "definitely new" and BYPASSES the exact anti-join, silently
    // re-inserting a committed url. upgradeLegacySeen must detect the
    // missing seenurls partition and rebuild the sketches url-keyed.
    val lcc = cc.copy(hostBuckets = 64, salt = 2)
    val ts = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val arts = (0 until 3).map { j =>
      val html =
        s"""<html><head><title>Legacy $j</title></head><body>
           |<h1>Legacy $j</h1><div>2024-02-0${j + 1} 10:00</div>
           |<p>${("legacy body text that is long enough to extract " * 8) + j}</p>
           |</body></html>""".stripMargin
      Page(s"http://c.example.com/l/$j.html", ts,
        html.getBytes("UTF-8"), "", "en")
    }
    def home(hostUrl: String, withList: Boolean) = {
      val lis =
        if (!withList) ""
        else (0 until 3).map(j =>
          s"""<li><a href="http://c.example.com/l/$j.html">Legacy story $j</a>""" +
            s"""<span>2024-02-0${j + 1} 10:00</span></li>""").mkString
      Page(hostUrl, ts,
        s"<html><body><ul>$lis</ul></body></html>".getBytes("UTF-8"), "", "en")
    }
    val hosts = spark.createDataset(Seq(
      HostConfig(1, "a.example.com", "http://a.example.com/", 1, enabled = true, 100L, 1),
      HostConfig(2, "b.example.com", "http://b.example.com/", 2, enabled = true, 100L, 1)))
    val robots = spark.emptyDataset[FixtureGen.RobotsRow]
    val s = newStore()
    WaveEngine.runWave(spark, s, spark.createDataset(
      arts :+ home("http://a.example.com/", withList = true)
        :+ home("http://b.example.com/", withList = false)),
      hosts, robots, 0, lcc)
    assert(s.read(spark, "articles", 0).count() == 3)
    // doctor the store into the legacy shape: (1) sketches re-keyed by
    // the scheduling host, (2) seenurls dropped. The keys must actually
    // differ or the test can't falsify the bug.
    val committed = s.read(spark, "articles", 0)
      .select($"url", $"host").as[(String, String)].collect()
    committed.foreach { case (u, h) =>
      assert(SeenFilter.bucket(h, u, lcc.hostBuckets, lcc.salt) !=
        SeenFilter.urlBucket(u, lcc.hostBuckets, lcc.salt),
        s"fixture must put $u in a different legacy bucket")
    }
    val legacyPairs = spark.createDataset(committed.toSeq.map { case (u, h) =>
      (SeenFilter.bucket(h, u, lcc.hostBuckets, lcc.salt), u) })
    val legacySeen = SeenFilter.updateSketches(legacyPairs,
      spark.emptyDataset[SeenSketch], lcc.cuckooCapacityPerBucket,
      lcc.expectedUrlsPerBucket, SeenFilter.BloomFpp).collect()
    def rmTree(p: String): Unit =
      if (JFiles.exists(JPaths.get(p)))
        JFiles.walk(JPaths.get(p)).sorted(Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => JFiles.delete(f))
    rmTree(s.dataPath("seen", 0))
    spark.createDataset(legacySeen.toSeq).toDF()
      .write.mode("overwrite").parquet(s.dataPath("seen", 0))
    rmTree(s.dataPath("seenurls", 0))
    assert(!s.hasTable("seenurls", 0), "legacy shape staged")
    // wave 1: host B lists the SAME urls — resume must migrate first,
    // then dedup every one
    WaveEngine.runWave(spark, s, spark.createDataset(
      arts :+ home("http://a.example.com/", withList = true)
        :+ home("http://b.example.com/", withList = true)),
      hosts, robots, 1, lcc)
    assert(s.readDeltas(spark, "articles", 1).get.count() == 3,
      "legacy-keyed sketches re-inserted committed urls on resume")
    val m1 = s.read(spark, "metrics", 1).where($"host" === "b.example.com").head()
    assert(m1.getAs[Int]("deduped") == 3)
    assert(m1.getAs[Int]("inserted") == 0)
    // migration artifacts: seenurls backfilled, second call a no-op
    assert(s.hasTable("seenurls", 0))
    assert(!StoreMaintenance.upgradeLegacySeen(spark, s, lcc),
      "upgrade must be one-time (idempotent no-op once migrated)")
  }

  test("link-graph rerank drives the priority frontier: budget admits the authority host") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // flatten configured priority so the graph signal is the ONLY signal
    val flat = FixtureGen.hosts(spark, fx).map(_.copy(rank = 0))
    val all = (0 until fx.nHosts).map(FixtureGen.hostName)
    val fav = FixtureGen.hostName(7)    // every other host links to it
    val absent = FixtureGen.hostName(3) // no graph evidence either way
    val sightings = all.filterNot(h => h == fav || h == absent)
      .map(h => (h, fav)).toDF("src", "dst")
    val reranked = graft.ops.LinkGraph.rerankHosts(flat.toDF(), sightings)
    val ranks = reranked.select("host", "rank").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    // authority ≫ teleport floor (150‰ at damping 85) ≫ untouched config
    assert(ranks(fav) > 150, s"authority rank ${ranks(fav)} not boosted")
    assert(all.filterNot(h => h == fav || h == absent)
      .forall(h => ranks(h) == 150), "pure sources must sit at the floor")
    assert(ranks(absent) == 0, "a host absent from the graph must keep its configured rank")
    // the engine consumes the reranked dimension unchanged: with a
    // budget smaller than the authority's own task count, the admitted
    // frontier is the authority's alone
    val s = newStore()
    WaveEngine.run(spark, s,
      w => FixtureGen.pagesParquet(spark, fx, w, pagesDir),
      reranked.as[HostConfig], FixtureGen.robots(spark, fx), 1,
      cc.copy(maxTasksPerWave = 3))
    val admitted = s.read(spark, "frontier", 0)
      .select(col("host")).distinct().collect().map(_.getString(0)).toSet
    assert(admitted == Set(fav),
      s"budget must admit the link-graph authority first, got $admitted")
  }

  test("freshness gate: a not-yet-due host skips the wave; due/null/absent hosts crawl") {
    import spark.implicits._
    val victim = FixtureGen.hostName(2)  // due in the future → gated
    val dueHost = FixtureGen.hostName(6) // past due → crawls
    val nullHost = FixtureGen.hostName(4) // single observation → crawls
    val now = 1000000L
    val schedule = Seq(
      (victim, Some(now + 1L)),
      (dueHost, Some(now - 1L)),
      (nullHost, Option.empty[Long])).toDF("host_id", "next_due_us")
    val gated = Freshness.applySchedule(
      FixtureGen.hosts(spark, fx).toDF(), schedule, now).as[HostConfig]
    val flags = gated.collect().map(h => h.host -> h.enabled).toMap
    assert(!flags(victim) && flags(dueHost) && flags(nullHost))
    val s = newStore()
    WaveEngine.run(spark, s,
      w => FixtureGen.pagesParquet(spark, fx, w, pagesDir),
      gated, FixtureGen.robots(spark, fx), 1, cc)
    val crawled = s.read(spark, "frontier", 0)
      .select("host").distinct().collect().map(_.getString(0)).toSet
    assert(!crawled.contains(victim), "future-due host must sit the wave out")
    assert(crawled.contains(dueHost) && crawled.contains(nullHost),
      "past-due and no-evidence hosts must crawl (TTL fallback)")
    assert(crawled.contains(FixtureGen.hostName(0)),
      "a host absent from the schedule must crawl normally")
    // the gate rides the engine's disabled-host semantics — state
    // carry across a gated wave is pinned by "a disabled wave keeps a
    // host's carried state" above (at wave 0 there is no prior state
    // to carry, so no state row is expected here)
  }

  test("mirror gate: host_b of a reported pair skips the wave; host_a and absent hosts crawl") {
    import spark.implicits._
    val canonical = FixtureGen.hostName(1) // host_a — keeps crawling
    val twin = FixtureGen.hostName(5)      // host_b — gated off
    val mirrors = Seq((canonical, twin, 4L, 5L, 4L, 1000L))
      .toDF("host_a", "host_b", "n_shared", "n_a", "n_b",
        "overlap_permille")
    val gated = graft.ops.UrlOps.applyMirrorGate(
      FixtureGen.hosts(spark, fx).toDF(), mirrors).as[HostConfig]
    val flags = gated.collect().map(h => h.host -> h.enabled).toMap
    assert(flags(canonical) && !flags(twin),
      "the lexically smaller host stays canonical")
    val s = newStore()
    WaveEngine.run(spark, s,
      w => FixtureGen.pagesParquet(spark, fx, w, pagesDir),
      gated, FixtureGen.robots(spark, fx), 1, cc)
    val crawled = s.read(spark, "frontier", 0)
      .select("host").distinct().collect().map(_.getString(0)).toSet
    assert(!crawled.contains(twin), "the mirror twin must sit the wave out")
    assert(crawled.contains(canonical), "the canonical host must crawl")
    assert(crawled.contains(FixtureGen.hostName(0)),
      "a host absent from the mirror scan must crawl normally")
  }

  test("mirror FAMILY gate: star-shaped evidence leaves exactly the canonical crawling") {
    import spark.implicits._
    // a~c and b~c pairs with NO direct a~b evidence — the pair gate
    // would disable only c (host_b of both pairs) and leave a AND b
    // crawling the same replicated site; the family gate closes the
    // component first and keeps only the lexical-min canonical
    val a = FixtureGen.hostName(1)
    val b = FixtureGen.hostName(5)
    val c = FixtureGen.hostName(9)
    val Seq(canon, mid, far) = Seq(a, b, c).sorted
    val pairs = Seq(
      (Seq(a, c).min, Seq(a, c).max, 4L, 5L, 4L, 1000L),
      (Seq(b, c).min, Seq(b, c).max, 4L, 5L, 4L, 1000L))
      .toDF("host_a", "host_b", "n_shared", "n_a", "n_b",
        "overlap_permille")
    // pair gate under-prunes the star: host_b covers at most 2 of the
    // 3 family members, so ≥2 stay enabled
    val pairGated = graft.ops.UrlOps.applyMirrorGate(
      FixtureGen.hosts(spark, fx).toDF(), pairs).as[HostConfig]
    assert(pairGated.collect().count(h =>
      Set(a, b, c)(h.host) && h.enabled) >= 2,
      "star evidence must defeat the pair gate (the case that motivates families)")
    val gated = graft.ops.UrlOps.applyMirrorFamilyGate(
      FixtureGen.hosts(spark, fx).toDF(),
      graft.ops.UrlOps.mirrorFamilies(pairs)).as[HostConfig]
    val flags = gated.collect().map(h => h.host -> h.enabled).toMap
    assert(flags(canon), "the family's lexical-min host stays canonical")
    assert(!flags(mid) && !flags(far),
      "every non-canonical family member is gated off")
    val s = newStore()
    WaveEngine.run(spark, s,
      w => FixtureGen.pagesParquet(spark, fx, w, pagesDir),
      gated, FixtureGen.robots(spark, fx), 1, cc)
    val crawled = s.read(spark, "frontier", 0)
      .select("host").distinct().collect().map(_.getString(0)).toSet
    assert(crawled.contains(canon) && !crawled.contains(mid) &&
      !crawled.contains(far),
      "engine run: one survivor per mirror family")
    assert(crawled.contains(FixtureGen.hostName(0)),
      "a host absent from the family scan must crawl normally")
  }

  test("dust apply: unruled hosts pass through in canonical sorted-param form") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val urls = Seq(
      ("r.com", "http://r.com/x?b=2&sid=9&a=1"),  // ruled: sid stripped
      ("r.com", "http://r.com/x"),                // param-less: unchanged
      ("n.com", "http://n.com/y?z=3&a=1"))        // unruled: sorted only
      .toDF("h", "u")
    val rules = Seq(("r.com", "sid")).toDF("host", "param")
    val out = graft.ops.UrlOps.applyDustRules(urls, col("h"), col("u"),
        rules).collect()
      .map(r => r.getString(1) -> r.getString(2)).toMap
    assert(out("http://r.com/x?b=2&sid=9&a=1") == "http://r.com/x?a=1&b=2")
    assert(out("http://r.com/x") == "http://r.com/x")
    // canonical form is SORTED for every url — alias families collapse
    // to one spelling whether or not a rule fired
    assert(out("http://n.com/y?z=3&a=1") == "http://n.com/y?a=1&z=3")
  }

  test("adaptive politeness: heavy host widens its fetch clock from the carried EWMA") {
    import spark.implicits._
    val host = "slow.example.com"
    val hosts = spark.createDataset(Seq(
      HostConfig(1, host, s"http://$host/", 1, enabled = true, 100L, 1)))
    val robots = spark.createDataset(Seq(FixtureGen.RobotsRow(host, "")))
    val ts = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    def art(j: Int) = ("<html><body><h1>Story</h1><div>" +
      (0 until 6).map(k =>
        s"<p>The item $j report number $k brings further detail about " +
          "the situation, and the description keeps going with " +
          "additional sentences. More narrative text follows here so " +
          "the density scan of the extractor sees real content.</p>")
        .mkString + "</div></body></html>").getBytes("UTF-8")
    def home(n: Int) = Page(s"http://$host/", ts,
      ("<html><body><ul>" + (0 until n).map(j =>
        s"""<li><a href="http://$host/a/$j.html">Story number $j</a>""" +
          s"""<span>2024-02-${f"${j + 1}%02d"} 10:00</span></li>""").mkString
        + "</ul></body></html>").getBytes("UTF-8"), "", "en")
    def arts(r: Range) = r.map(j => Page(s"http://$host/a/$j.html", ts, art(j), "", "en"))
    val adaptive = cc.copy(adaptiveDelayFactor = 10.0, adaptiveMaxDelayMs = 30000L)

    val s = newStore()
    // wave 0: 3 items, no carried EWMA yet → base delay (100 ms) spacing
    WaveEngine.runWave(spark, s,
      spark.createDataset(home(3) +: arts(0 until 3)), hosts, robots, 0, adaptive)
    val w0 = s.read(spark, "frontier", 0).orderBy("seq")
      .select("sched_ms").collect().map(_.getLong(0)).toVector
    assert(w0 == Vector(0L, 100L, 200L), s"wave-0 spacing must be the base delay: $w0")
    // the committed state seeds the EWMA with this wave's modeled avg:
    // floor(avg(50 + octet_length(contenthtml)/64)) over the fetched rows
    val sizes = s.read(spark, "articles", 0)
      .select(org.apache.spark.sql.functions.octet_length($"contenthtml"))
      .collect().map(_.getInt(0))
    val expectEwma = (sizes.map(b => 50.0 + b / 64.0).sum / sizes.length).toLong
    val st0 = s.read(spark, "state", 0).head()
    assert(st0.getAs[Long]("fetch_ewma_ms") == expectEwma)
    val expectDelay = math.max(100L, math.min(30000L, (10.0 * expectEwma).toLong))
    assert(expectDelay > 100L, "fixture pages must be heavy enough to out-bid the base delay")

    // wave 1: 3 NEWER items (4..6 by date) → the adaptive delay spaces them
    WaveEngine.runWave(spark, s,
      spark.createDataset(home(6) +: arts(0 until 6)), hosts, robots, 1, adaptive)
    val w1 = s.read(spark, "frontier", 1).orderBy("seq")
      .select("sched_ms").collect().map(_.getLong(0)).toVector
    assert(w1 == Vector(0L, expectDelay, 2 * expectDelay),
      s"wave-1 spacing must be the EWMA-scaled delay $expectDelay: $w1")

    // default config (factor 0) keeps fixed-delay semantics on the same input
    val s2 = newStore()
    WaveEngine.runWave(spark, s2,
      spark.createDataset(home(3) +: arts(0 until 3)), hosts, robots, 0, cc)
    WaveEngine.runWave(spark, s2,
      spark.createDataset(home(6) +: arts(0 until 6)), hosts, robots, 1, cc)
    val off = s2.read(spark, "frontier", 1).orderBy("seq")
      .select("sched_ms").collect().map(_.getLong(0)).toVector
    assert(off == Vector(0L, 100L, 200L))

    // legacy state parquet (no fetch_ewma_ms column) resumes cleanly:
    // the backfill reads it as "no observation" → base delay again
    val legacyRows = s2.read(spark, "state", 1).drop("fetch_ewma_ms").collect()
    val legacySchema = s2.read(spark, "state", 1).drop("fetch_ewma_ms").schema
    spark.createDataFrame(
      spark.sparkContext.parallelize(legacyRows.toSeq), legacySchema)
      .write.mode("overwrite").parquet(s2.dataPath("state", 1))
    WaveEngine.runWave(spark, s2,
      spark.createDataset(home(6) +: arts(0 until 6)), hosts, robots, 2, adaptive)
    val st2 = s2.read(spark, "state", 2).head()
    assert(st2.getAs[Long]("fetch_ewma_ms") != 0L || st2.isNullAt(
      st2.fieldIndex("fetch_ewma_ms")), "resume over a legacy state must not crash")
  }

  test("apportioned budget: all-zero ranks fall back to the ordered cut") {
    import spark.implicits._
    // budgetApportion requires a positive weight total, so the engine's
    // --apportion branch must detect Σrank = 0 and take the rank-ordered
    // top-N instead of erroring the wave
    val ts = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    def mkHost(i: Int) = HostConfig(i, s"z$i.example.com",
      s"http://z$i.example.com/", 0, enabled = true, 100L, 1)
    val hosts = spark.createDataset(Seq(mkHost(1), mkHost(2)))
    val robots = spark.createDataset(
      (1 to 2).map(i => FixtureGen.RobotsRow(s"z$i.example.com", "")))
    def art(h: String, j: Int) = Page(s"http://$h/a/$j.html", ts,
      ("<html><body><h1>Story</h1><div>" + (0 until 4).map(k =>
        s"<p>The $h report $j part $k carries several full sentences " +
          "of narrative so the density extractor finds real content " +
          "and keeps this paragraph in the extracted body text.</p>")
        .mkString + "</div></body></html>").getBytes("UTF-8"), "", "en")
    def home(h: String) = Page(s"http://$h/", ts,
      ("<html><body><ul>" + (0 until 3).map(j =>
        s"""<li><a href="http://$h/a/$j.html">Story number $j</a>""" +
          s"""<span>2024-02-0${j + 1} 10:00</span></li>""").mkString +
        "</ul></body></html>").getBytes("UTF-8"), "", "en")
    val pages = Seq("z1.example.com", "z2.example.com").flatMap(h =>
      home(h) +: (0 until 3).map(j => art(h, j)))
    val s = newStore()
    val r = WaveEngine.runWave(spark, s, spark.createDataset(pages),
      hosts, robots, 0,
      cc.copy(maxTasksPerWave = 4, apportionTasksPerWave = true))
    assert(r.scheduled == 4, s"ordered-cut fallback must cap the wave: $r")
  }

  test("S5 seam: a browser-ruled host fetches articles through the bound RenderFetcher") {
    import spark.implicits._
    val host = "js.example.com"
    val rule = RuleSpec("XPath", "//ul[@class='list']/li[*]/a",
      browser_fetch = true)
    val hosts = spark.createDataset(Seq(
      HostConfig(1, host, s"http://$host/", 1, enabled = true, 100L, 1,
        rule = Some(rule))))
    val robots = spark.createDataset(Seq(FixtureGen.RobotsRow(host, "")))
    val ts = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val homeHtml = """<html><body><ul class="list">""" +
      (0 until 3).map(j =>
        s"""<li><a href="http://$host/a/$j.html">Story $j</a>""" +
          """<span>2024-02-01 10:00</span></li>""").mkString +
      "</ul></body></html>"
    // the SNAPSHOT is EMPTY — home catalog AND articles exist only on
    // the render service (the reference proxies every page of a
    // BrowserProxy site), so every stored row proves the route.
    // Top-level class, not an anonymous one: that would capture the
    // (non-serializable) suite in the executor closure.
    val fake = new FakeRenderFetcher(ts.getTime, homeHtml)
    val s = newStore()
    val r = WaveEngine.runWave(spark, s, spark.emptyDataset[Page],
      hosts, robots, 0, cc.copy(renderFetcher = Some(fake)))
    assert(r.fetched == 2 && r.inserted == 2 && r.failed == 1,
      s"2 rendered + 1 service miss expected, got $r")
    val arts = s.read(spark, "articles", 0)
      .select("url", "content").collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(arts.keySet == Set(s"http://$host/a/0.html", s"http://$host/a/1.html"))
    assert(arts.values.forall(_.contains("rendered-")),
      "content must come from the service's rendered HTML")
    // unbound service: the flagged host falls back to the snapshot —
    // empty here, so the home fetch fails like any down host
    val s2 = newStore()
    val r2 = WaveEngine.runWave(spark, s2, spark.emptyDataset[Page],
      hosts, robots, 0, cc)
    assert(r2.inserted == 0 && r2.failed == 1 && r2.scheduled == 0,
      s"unbound fetcher must degrade to snapshot fetch, got $r2")
  }

  test("S5 seam: a render-service outage marks a browser-ruled host broken, snapshot home or not") {
    import spark.implicits._
    val host = "down.example.com"
    val hosts = spark.createDataset(Seq(
      HostConfig(1, host, s"http://$host/", 1, enabled = true, 100L, 1,
        rule = Some(RuleSpec("XPath", "//ul/li[*]/a", browser_fetch = true)))))
    val robots = spark.createDataset(Seq(FixtureGen.RobotsRow(host, "")))
    val home = spark.createDataset(Seq(Page(s"http://$host/",
      java.sql.Timestamp.valueOf("2024-06-01 00:00:00"),
      "<html><body><ul></ul></body></html>".getBytes("UTF-8"), "", "en")))
    val s = newStore()
    val r = WaveEngine.runWave(spark, s, home, hosts, robots, 0,
      cc.copy(renderFetcher = Some(new DownRenderFetcher)))
    assert(r.failed == 1, s"the service miss must fail the home fetch, got $r")
    assert(s.read(spark, "state", 0).head().getAs[java.sql.Timestamp]("broken_since") != null)
    assert(s.read(spark, "metrics", 0).where($"host" === host).head()
      .getAs[Int]("fetch_failed") == 1)
    // unbound, the same snapshot home is fetched fine
    assert(WaveEngine.runWave(spark, newStore(), home, hosts, robots, 0, cc).failed == 0)
  }

  test("seenurls digest write is knob-gated: default path stores null digests") {
    // r4 shipped the md5 digest projection unconditionally — the one
    // feature that escaped its knob gate, paying md5-over-every-body on
    // the default wave path (suspected in the r4 bench task-CPU rise).
    // With revalidateOnRecrawl=false the rows must carry NULL digests
    // (and a later revalidating run treats them as changed — the
    // documented legacy fallback, pinned by the reval tests below).
    val su = oneWave.readWaveBuckets(spark, "seenurls", 0,
      0 until cc.hostBuckets * cc.salt).get.select("digest").collect()
    assert(su.nonEmpty)
    assert(su.forall(_.isNullAt(0)),
      "default config must not pay the md5 digest projection")
  }

  test("recrawl revalidation: unchanged expired pages refresh TTL without re-storing") {
    import spark.implicits._
    val host = "reval.example.com"
    val hosts = spark.createDataset(Seq(
      HostConfig(1, host, s"http://$host/", 1, enabled = true, 100L, 1)))
    val robots = spark.createDataset(Seq(FixtureGen.RobotsRow(host, "")))
    val ts = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    def art(word: String) = ("<html><body><h1>Story</h1><div>" +
      (0 until 5).map(k =>
        s"<p>The $word report number $k brings further detail about " +
          "the situation, and the description keeps going with " +
          "additional sentences. More narrative text follows here so " +
          "the density scan of the extractor sees real content.</p>")
        .mkString + "</div></body></html>").getBytes("UTF-8")
    // equal dates: the all-dated sort is stable, so the catalog's own
    // order decides — rotating it re-exposes old items past lasthandled
    def home(order: Seq[String]) = Page(s"http://$host/", ts,
      ("<html><body><ul>" + order.map(u =>
        s"""<li><a href="http://$host/a/$u.html">Story item $u</a>""" +
          """<span>2024-02-01 10:00</span></li>""").mkString
        + "</ul></body></html>").getBytes("UTF-8"), "", "en")
    def page(u: String, word: String) =
      Page(s"http://$host/a/$u.html", ts, art(word), "", "en")
    val cfgReval = cc.copy(recrawlAfterWaves = 1, revalidateOnRecrawl = true)

    val s = newStore()
    // wave 0: items a, b, c stored; lasthandled = a (catalog head)
    WaveEngine.runWave(spark, s, spark.createDataset(Seq(
      home(Seq("a", "b", "c")), page("a", "alpha"), page("b", "bravo"),
      page("c", "charlie"))), hosts, robots, 0, cfgReval)
    assert(s.read(spark, "articles", 0).count() == 3)
    val d0 = s.readWaveBuckets(spark, "seenurls", 0, 0 until cc.hostBuckets * cc.salt)
      .get.select("url", "digest").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d0.size == 3 && d0.values.forall(_ != null),
      "seenurls must carry insert-time digests")

    // wave 1 (ttl=1 ⇒ a/b/c all expired): rotated catalog re-exposes
    // b and c; b is byte-identical → revalidated; c changed → re-stored
    WaveEngine.runWave(spark, s, spark.createDataset(Seq(
      home(Seq("b", "c", "a")), page("a", "alpha"), page("b", "bravo"),
      page("c", "CHANGED"))), hosts, robots, 1, cfgReval)
    val a1 = s.read(spark, "articles", 1).select("url").collect().map(_.getString(0))
    assert(a1.toSeq == Seq(s"http://$host/a/c.html"),
      s"only the changed page may be re-stored, got ${a1.toSeq}")
    val su1 = s.readWaveBuckets(spark, "seenurls", 1, 0 until cc.hostBuckets * cc.salt)
      .get.select("url").collect().map(_.getString(0)).toSet
    assert(su1 == Set(s"http://$host/a/b.html", s"http://$host/a/c.html"),
      "both refetched urls must get fresh seenurls rows (TTL restart)")
    val m1 = s.read(spark, "metrics", 1).where($"host" === host).head()
    assert(m1.getAs[Int]("fetched_ok") == 2 && m1.getAs[Int]("inserted") == 1
      && m1.getAs[Int]("deduped") == 1,
      "revalidated url counts as deduped, changed url as inserted")

    // wave 2: the checkpoint (lasthandled=b after wave 1) stops the walk
    // at b, so only c is re-exposed; with ttl=1 its wave-1 row is
    // already expired again → c revalidates against the wave-1 digest
    // (eviction also reads wave-1 seenurls, which covers b — the url
    // the wave-1 articles table never saw)
    WaveEngine.runWave(spark, s, spark.createDataset(Seq(
      home(Seq("c", "b", "a")), page("a", "alpha"), page("b", "bravo"),
      page("c", "CHANGED"))), hosts, robots, 2, cfgReval)
    assert(s.read(spark, "articles", 2).count() == 0,
      "an unchanged-since-last-store page must revalidate, not re-store")
  }

  test("revalidation restarts the TTL: the fresh seen row dedups the next re-exposure") {
    import spark.implicits._
    val host = "ttl2.example.com"
    val hosts = spark.createDataset(Seq(
      HostConfig(1, host, s"http://$host/", 1, enabled = true, 100L, 1)))
    val robots = spark.createDataset(Seq(FixtureGen.RobotsRow(host, "")))
    val ts = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    def art(word: String) = ("<html><body><h1>Story</h1><div>" +
      (0 until 5).map(k =>
        s"<p>The $word report number $k brings further detail about " +
          "the situation, and the description keeps going with " +
          "additional sentences. More narrative text follows here so " +
          "the density scan of the extractor sees real content.</p>")
        .mkString + "</div></body></html>").getBytes("UTF-8")
    def home(order: Seq[String]) = Page(s"http://$host/", ts,
      ("<html><body><ul>" + order.map(u =>
        s"""<li><a href="http://$host/a/$u.html">Story item $u</a>""" +
          """<span>2024-02-01 10:00</span></li>""").mkString
        + "</ul></body></html>").getBytes("UTF-8"), "", "en")
    val pages = Seq(Page(s"http://$host/a/a.html", ts, art("alpha"), "", "en"),
      Page(s"http://$host/a/b.html", ts, art("bravo"), "", "en"),
      Page(s"http://$host/a/c.html", ts, art("charlie"), "", "en"))
    val cfg2 = cc.copy(recrawlAfterWaves = 2, revalidateOnRecrawl = true)
    def wave(s: SnapshotStore, w: Int, order: Seq[String]): Unit =
      WaveEngine.runWave(spark, s,
        spark.createDataset(home(order) +: pages), hosts, robots, w, cfg2)
    def metrics(s: SnapshotStore, w: Int) = {
      val m = s.read(spark, "metrics", w).where($"host" === host).head()
      (m.getAs[Int]("fetched_ok"), m.getAs[Int]("inserted"),
        m.getAs[Int]("deduped"))
    }
    def seenAt(s: SnapshotStore, w: Int): Set[String] =
      s.readWaveBuckets(spark, "seenurls", w, 0 until cc.hostBuckets * cc.salt)
        .map(_.select("url").collect().map(_.getString(0)).toSet)
        .getOrElse(Set.empty)

    val s = newStore()
    wave(s, 0, Seq("a", "b", "c")) // a,b,c stored; lasthandled = a
    // wave 1: b,c re-exposed, their wave-0 rows are STILL within the
    // ttl=2 window → ordinary dedup, no fresh seen rows
    wave(s, 1, Seq("b", "c", "a"))
    assert(s.read(spark, "articles", 1).count() == 0)
    assert(metrics(s, 1) == ((2, 0, 2)))
    assert(seenAt(s, 1).isEmpty, "a deduped url must not refresh its TTL")
    // wave 2 (lasthandled = b): c and a re-exposed, wave-0 rows now
    // expired → both revalidate (unchanged) → fresh wave-2 seen rows
    wave(s, 2, Seq("c", "a", "b"))
    assert(s.read(spark, "articles", 2).count() == 0)
    assert(metrics(s, 2) == ((2, 0, 2)))
    assert(seenAt(s, 2) ==
      Set(s"http://$host/a/c.html", s"http://$host/a/a.html"))
    // wave 3 (lasthandled = c): a and b re-exposed. a's REVALIDATION
    // row (wave 2) is inside the window → ordinary dedup — THE TTL
    // RESTART. b's only row is wave 0 (expired; its wave-1 appearance
    // was a dedup, not a refresh) → revalidates now.
    wave(s, 3, Seq("a", "b", "c"))
    assert(s.read(spark, "articles", 3).count() == 0)
    assert(metrics(s, 3) == ((2, 0, 2)))
    assert(seenAt(s, 3) == Set(s"http://$host/a/b.html"),
      "only the expired url may refresh; the revalidated one is simply seen")
  }

  test("sketch saturation stats: fill, est-fpp, cuckoo load and drop counter") {
    import spark.implicits._
    val urls = (0 until 300).map(i => (i % 2, s"http://h$i.test/a$i", true))
    // bucket 0 gets a cuckoo sized to saturate (capacity rounds to a
    // power-of-two × 4 slots), bucket 1 a roomy one via the same call —
    // capacity is per-call, so run two updates and union the state
    val tight = SeenFilter.updateSketches(
      spark.createDataset(urls.filter(_._1 == 0)),
      spark.emptyDataset[SeenSketch], capacity = 16,
      expectedPerBucket = 1024, fpp = 0.01)
    val roomy = SeenFilter.updateSketches(
      spark.createDataset(urls.filter(_._1 == 1)),
      spark.emptyDataset[SeenSketch], capacity = 1 << 12,
      expectedPerBucket = 1024, fpp = 0.01)
    val stats = SeenFilter.sketchStats(tight.unionByName(roomy))
      .collect().map(s => s.bucket -> s).toMap
    val t = stats(0); val r = stats(1)
    // the tight bucket rejected inserts (150 urls into ≤64 slots):
    // operators see BOTH the drop counter and a high load
    assert(t.n_dropped > 0, "saturated cuckoo must report drops")
    assert(t.cuckoo_entries + t.n_dropped == 150L)
    assert(t.cuckoo_load_permille > 800)
    // the roomy bucket holds everything, load stays low
    assert(r.n_dropped == 0 && r.cuckoo_entries == 150)
    assert(r.cuckoo_load_permille < 200)
    // blooms: both carry 150 urls; fill and est-fpp are sane and the
    // est-fpp of a filter sized for 1024 at 150 items stays tiny
    for (s <- Seq(t, r)) {
      assert(s.bloom_bits > 0 && s.bloom_set_bits > 0)
      assert(s.bloom_fill_permille > 0 && s.bloom_fill_permille < 200)
      assert(s.bloom_est_fpp_permille >= 0 && s.bloom_est_fpp_permille < 10)
    }
  }

  test("trap gate: a flagged host skips the wave; clean/absent hosts crawl") {
    import spark.implicits._
    val trapped = FixtureGen.hostName(5) // flagged → gated
    val clean = FixtureGen.hostName(1)   // scanned, not flagged → crawls
    val stats = Seq((trapped, true), (clean, false)).toDF("host", "trap")
    val gated = graft.ops.UrlOps.applyTrapGate(
      FixtureGen.hosts(spark, fx).toDF(), stats).as[HostConfig]
    val flags = gated.collect().map(h => h.host -> h.enabled).toMap
    assert(!flags(trapped) && flags(clean))
    val s = newStore()
    WaveEngine.run(spark, s,
      w => FixtureGen.pagesParquet(spark, fx, w, pagesDir),
      gated, FixtureGen.robots(spark, fx), 1, cc)
    val crawled = s.read(spark, "frontier", 0)
      .select("host").distinct().collect().map(_.getString(0)).toSet
    assert(!crawled.contains(trapped), "a trap-flagged host must sit the wave out")
    assert(crawled.contains(clean), "an unflagged scanned host must crawl")
    assert(crawled.contains(FixtureGen.hostName(0)),
      "a host absent from the trap scan must crawl normally")
  }

  test("a failing commit write releases every cached wave stage") {
    // one of the concurrent small-table writes fails; the articles
    // write before it has already materialized the shared stages
    val failing = new SnapshotStore(
        TempDirs.cleanupOnExit(Files.createTempDirectory("edgefail").toString)) {
      override def writeNoCount(df: DataFrame, table: String, wave: Int): Unit =
        if (table == "state") throw new java.io.IOException("injected state write failure")
        else super.writeNoCount(df, table, wave)
    }
    // the session is shared across suites: start from an empty cache
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val err = intercept[java.io.IOException](runAll(failing, 1))
    assert(err.getMessage == "injected state write failure")
    assert(!failing.isCommitted(0))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"persisted RDDs left: ${spark.sparkContext.getPersistentRDDs.keys}")
    assert(spark.sharedState.cacheManager.isEmpty,
      "a cached wave stage outlived the failed wave")
  }
  test("every wave job carries its stage label; the caller's description is restored") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val host = "label.example.com"
    val hosts = spark.createDataset(Seq(
      HostConfig(1, host, s"http://$host/", 1, enabled = true, 100L, 1)))
    val robots = spark.createDataset(Seq(FixtureGen.RobotsRow(host, "")))
    val ts = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val body = ("<html><body><h1>Story</h1><div>" + (0 until 5).map(k =>
      s"<p>Report number $k brings further detail about the situation, " +
        "and the description keeps going with additional sentences so " +
        "the density scan of the extractor sees real content.</p>")
      .mkString + "</div></body></html>").getBytes("UTF-8")
    // equal dates keep the catalog's own order: rotating it re-exposes
    // expired items, so wave 1 runs the revalidation and eviction reads
    def pages(order: Seq[String]) = spark.createDataset(Page(s"http://$host/", ts,
      ("<html><body><ul>" + order.map(u =>
        s"""<li><a href="http://$host/a/$u.html">Story item $u</a>""" +
          """<span>2024-02-01 10:00</span></li>""").mkString
        + "</ul></body></html>").getBytes("UTF-8"), "", "en") +:
      order.map(u => Page(s"http://$host/a/$u.html", ts, body, "", "en")))
    val cfg = cc.copy(recrawlAfterWaves = 1, revalidateOnRecrawl = true)
    val s = newStore()
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        started.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")); ()
      }
    }
    // runs one wave under the caller's own description and returns the
    // description of every job the wave started
    def waveLabels(w: Int, order: Seq[String]): Seq[String] = {
      val in = pages(order)
      started.clear()
      sc.setJobDescription("caller's own")
      try {
        WaveEngine.runWave(spark, s, in, hosts, robots, w, cfg)
        assert(sc.getLocalProperty("spark.job.description") == "caller's own",
          "runWave must restore the caller's job description")
      } finally sc.setJobDescription(null)
      // the listener bus is FIFO: once a marker job started after the
      // wave is delivered, every job of the wave has been delivered too
      sc.setJobDescription("label-drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 10000L
      while (!started.contains("label-drain") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(started.contains("label-drain"), "listener bus did not drain")
      started.asScala.toSeq.takeWhile(_ != "label-drain")
    }
    val stageNames = Set("seed", "homes", "schedule", "articles", "seen",
      "rollup", "commit")
    sc.addSparkListener(listener)
    val (bulk, incremental, resumed) =
      try (waveLabels(0, Seq("a", "b", "c")), waveLabels(1, Seq("b", "c", "a")),
        waveLabels(1, Seq("b", "c", "a")))
      finally sc.removeSparkListener(listener)
    def stageOf(w: Int, d: String): String = {
      val m = s"wave=$w stage=(\\w+)".r.unapplySeq(d)
      assert(m.isDefined, s"wave $w job without a stage label: '$d'")
      m.get.head
    }
    for ((w, jobs) <- Seq(0 -> bulk, 1 -> incremental)) {
      val names = jobs.map(stageOf(w, _))
      assert(names.forall(stageNames), s"unknown stage in ${names.distinct}")
      // the articles write, the totals and the six concurrent writes
      assert(names.count(_ == "commit") >= 8,
        s"wave $w: the concurrent commit writes must carry the label too")
    }
    assert(resumed.nonEmpty && resumed.forall(stageOf(1, _) == "resume"))
    // Jobs per wave at the parent commit, which counted the task batch
    // twice (once for the broadcast gate, once for the unique-fetch
    // check), measured with this listener on these same three waves:
    // bulk 24, incremental 38, resumed 2. The resumed wave never counts
    // tasks, so it only must not grow.
    assert(bulk.size <= 24 - 1, s"bulk wave ran ${bulk.size} jobs")
    assert(incremental.size <= 38 - 1, s"incremental wave ran ${incremental.size} jobs")
    assert(resumed.size <= 2, s"resumed wave ran ${resumed.size} jobs")
  }
}

/** Deterministic fake render service for the S5 seam test — top-level
  * so the executor closure captures only this (Serializable) instance,
  * never the scalatest suite. Serves the home catalog for the site
  * root, renders articles, and fails url .../a/2.html to exercise the
  * service-miss → fetch_failed path. */
class FakeRenderFetcher(tsMs: Long, homeHtml: String) extends RenderFetcher {
  def fetch(url: String): Option[RenderFetcher.Rendered] = {
    if (url.endsWith("/"))
      return Some(RenderFetcher.Rendered(homeHtml.getBytes("UTF-8"),
        new java.sql.Timestamp(tsMs)))
    val j = url.split('/').last.stripSuffix(".html").toInt
    if (j == 2) None
    else {
      val html = "<html><body><h1>Rendered</h1><div>" +
        (0 until 5).map(k =>
          s"<p>The rendered-$j body paragraph $k carries enough narrative " +
            "sentences that the density extractor treats it as the real " +
            "article content, produced only by the JS render service.</p>")
          .mkString + "</div></body></html>"
      Some(RenderFetcher.Rendered(html.getBytes("UTF-8"),
        new java.sql.Timestamp(tsMs)))
    }
  }
}

/** A render service that is down: every fetch misses. */
class DownRenderFetcher extends RenderFetcher {
  def fetch(url: String): Option[RenderFetcher.Rendered] = None
}
