package graft.crawl

import java.nio.file.Files

import graft.{LocalSpark, TempDirs}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end equivalence of the distributed wave engine against the
  * sequential reference-semantics oracle (SURVEY.md §5.3), plus resume,
  * politeness and skew contracts. */
class CrawlPipelineSpec extends AnyFunSuite {

  lazy val spark = LocalSpark.session(4, LocalSpark.MicroWaveConfs: _*)

  val fx = FixtureCfg(nHosts = 12, baseArticles = 6, growthPerWave = 3,
    hotHostFactor = 3)
  val cc = CrawlConfig(maxPerHostPerWave = 100, hostBuckets = 4, salt = 2,
    expectedUrlsPerBucket = 2048, cuckooCapacityPerBucket = 4096)
  val nWaves = 3

  private def newStore(): SnapshotStore =
    new SnapshotStore(TempDirs.cleanupOnExit(Files.createTempDirectory("crawlstore").toString))

  private lazy val pagesDir =
    TempDirs.cleanupOnExit(Files.createTempDirectory("crawlpages").toString)

  private def runAll(store: SnapshotStore, waves: Int): Seq[WaveEngine.WaveResult] =
    WaveEngine.run(spark, store,
      w => FixtureGen.pagesParquet(spark, fx, w, pagesDir),
      FixtureGen.hosts(spark, fx),
      FixtureGen.robots(spark, fx), waves, cc)

  lazy val store: SnapshotStore = { val s = newStore(); runAll(s, nWaves); s }
  lazy val oracle: CrawlOracle.OResult = CrawlOracle.run(fx, nWaves)

  private def frontierRows(s: SnapshotStore) =
    s.readDeltas(spark, "frontier", nWaves - 1).get
      .select("wave", "host", "seq", "url", "sched_ms").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3), r.getLong(4)))
      .toSet

  test("crawl ordering: frontier schedule equals the oracle's") {
    val expected = oracle.schedule
      .map(t => (t.wave, t.host, t.seq, t.url, t.schedMs)).toSet
    assert(frontierRows(store) == expected)
  }

  test("URL-seen set and insertion waves equal the oracle's") {
    val got = store.readDeltas(spark, "articles", nWaves - 1).get
      .select("url", "wave", "host").collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getString(2)))).toMap
    val expected = oracle.seen.view.mapValues(v => (v._1, v._2)).toMap
    assert(got.keySet == expected.keySet)
    assert(got == expected)
  }

  test("per-row invariant: byte-identical extracted text per url") {
    val got = store.readDeltas(spark, "articles", nWaves - 1).get
      .select("url", "content").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size == oracle.seen.size)
    got.foreach { case (url, content) =>
      assert(content == oracle.seen(url)._3, s"text mismatch for $url")
    }
  }

  test("carried checkpoints (lasthandled) match; broken host is stamped") {
    val state = store.read(spark, "state", nWaves - 1)
      .select("host", "lasthandled", "broken_since").collect()
    val last = state.map(r => r.getString(0) -> Option(r.getString(1))).toMap
    oracle.lasthandled.foreach { case (h, u) =>
      assert(last(h).contains(u), s"lasthandled mismatch for $h")
    }
    val broken = state.filter(r => !r.isNullAt(2)).map(_.getString(0)).toSet
    assert(broken == oracle.brokenHosts)
    // broken host keeps its pre-failure checkpoint
    val bh = FixtureGen.hostName(FixtureGen.BrokenAtWave2Host)
    assert(last(bh) == oracle.lasthandled.get(bh))
  }

  test("robots: blocked host schedules nothing and is counted") {
    val m = store.readDeltas(spark, "metrics", nWaves - 1).get.collect()
      .map(r => (r.getInt(0), r.getString(1)) ->
        ((r.getAs[Int]("robots_denied"), r.getAs[Int]("inserted")))).toMap
    val rb = FixtureGen.hostName(FixtureGen.RobotsBlockedHost)
    (0 until nWaves).foreach { w =>
      val (denied, inserted) = m((w, rb))
      assert(inserted == 0)
      assert(denied == oracle.robotsDenied.getOrElse((w, rb), 0))
    }
  }

  test("all-failed host: checkpoint frozen, tasks retried, failures counted") {
    val mp = FixtureGen.hostName(FixtureGen.MissingPagesHost)
    val state = store.read(spark, "state", nWaves - 1)
      .where(s"host = '$mp'").select("lasthandled").collect()
    assert(state.length == 1 && state(0).isNullAt(0),
      "checkpoint must not advance when every scheduled fetch failed")
    val m = store.readDeltas(spark, "metrics", nWaves - 1).get
      .where(s"host = '$mp'").collect()
      .map(r => r.getInt(0) -> ((r.getAs[Int]("scheduled"),
        r.getAs[Int]("fetched_ok"), r.getAs[Int]("fetch_failed"),
        r.getAs[Int]("inserted")))).toMap
    (0 until nWaves).foreach { w =>
      val (sched, ok, failed, ins) = m(w)
      assert(sched == FixtureGen.articleCount(fx, FixtureGen.MissingPagesHost, w),
        s"wave $w must reschedule the full (frozen-checkpoint) catalog")
      assert(ok == 0 && ins == 0 && failed == sched)
    }
  }

  test("partially-dated catalog keeps detection order; robots Allow admits a subtree") {
    val uh = FixtureGen.hostName(FixtureGen.UndatedCatalogHost)
    val rows = frontierRows(store).filter(_._2 == uh)
    assert(rows.nonEmpty)
    // every scheduled path is inside the Allow'd /a/1 subtree
    rows.foreach { case (_, _, _, url, _) =>
      val path = url.substring(url.indexOf('/', 8))
      assert(path.startsWith("/a/1"), s"robots Allow violated: $url")
    }
    // wave 0: catalog lists descending j; allowed = /a/1-prefixed in that
    // order (NOT date-sorted — odd items are undated)
    val w0 = rows.filter(_._1 == 0).toSeq.sortBy(_._3).map(_._4)
    val n0 = FixtureGen.articleCount(fx, FixtureGen.UndatedCatalogHost, 0)
    val expected0 = (0 until n0).reverse
      .map(j => FixtureGen.articleUrl(FixtureGen.UndatedCatalogHost, j))
      .filter(u => u.substring(u.indexOf('/', 8)).startsWith("/a/1"))
    assert(w0 == expected0)
  }

  test("article rule host: extracted bytes come from the rule nodes") {
    val i = FixtureGen.ArticleRuleHost
    val auto = graft.core.ArticleExtractor
      .extract(FixtureGen.articleHtml(fx, i, 0)).content
    val ruled = FixtureGen.articleText(fx, i, 0)
    assert(ruled != auto,
      "fixture has no power: rule output equals the density extractor's")
    val url = FixtureGen.articleUrl(i, 0)
    assert(oracle.seen(url)._3 == ruled)
    // store bytes equal the RULED text (byte-identical test covers all
    // urls; this pins that the rule path, not auto, produced them)
    val got = store.readDeltas(spark, "articles", nWaves - 1).get
      .where(s"url = '$url'").select("content").head().getString(0)
    assert(got == ruled)
  }

  test("seen-filter dedup fires for the catalog-shuffling host") {
    val m = store.readDeltas(spark, "metrics", nWaves - 1).get
      .groupBy("wave").sum("deduped").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val expected = (0 until nWaves).map(w =>
      w -> oracle.dedupedPerWave.getOrElse(w, 0).toLong).toMap
    assert(m == expected)
    assert(expected.values.sum > 0, "fixture must exercise the dedup path")
  }

  test("politeness: sched_ms follows crawl-delay over max-in-flight lanes") {
    val rows = frontierRows(store)
    val mi = FixtureGen.hostName(FixtureGen.MultiInflightHost)
    val sd = FixtureGen.hostName(FixtureGen.SlowDelayHost)
    rows.filter(_._2 == mi).foreach { case (_, _, seq, _, ms) =>
      assert(ms == (seq / 2).toLong * FixtureGen.crawlDelayMs(FixtureGen.MultiInflightHost))
    }
    rows.filter(_._2 == sd).foreach { case (_, _, seq, _, ms) =>
      assert(ms == seq.toLong * 500L) // robots crawl-delay override
    }
    // per-host seq is dense and unique (sequential politeness order)
    rows.groupBy(r => (r._1, r._2)).foreach { case (_, g) =>
      val seqs = g.map(_._3).toSeq.sorted
      assert(seqs == (0 until g.size))
    }
  }

  test("per-partition lineage rows cover every extracted row") {
    val lineage = store.readDeltas(spark, "lineage", nWaves - 1).get.collect()
    val byWave = lineage.groupBy(_.getInt(0))
      .view.mapValues(_.map(_.getAs[Long]("rows")).sum).toMap
    val metrics = store.readDeltas(spark, "metrics", nWaves - 1).get
      .groupBy("wave").sum("fetched_ok").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    metrics.foreach { case (w, n) =>
      assert(byWave.getOrElse(w, 0L) == n, s"lineage rows != fetched at wave $w")
    }
  }

  test("snapshot-exact resume: crash after wave 0 replays to identical store") {
    val s2 = newStore()
    runAll(s2, 2)              // waves 0,1 committed
    s2.rollbackTo(0)           // "crash": wave 1 manifest lost, dirty data remains
    assert(s2.lastCommittedWave.contains(0))
    runAll(s2, nWaves)         // resumes: wave 0 skipped, 1..2 recomputed
    def dump(s: SnapshotStore) =
      s.readDeltas(spark, "articles", nWaves - 1).get
        .select("url", "wave", "host", "content").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3))).toSet
    assert(dump(s2) == dump(store))
    val f2 = frontierRows(s2)
    assert(f2 == frontierRows(store))
  }

  test("recrawl TTL: expired urls re-fetch and re-insert (cuckoo evicts)") {
    val s4 = newStore()
    // ttl=1: a url only counts as "seen" for one wave
    WaveEngine.run(spark, s4,
      w => FixtureGen.pagesParquet(spark, fx, w, pagesDir),
      FixtureGen.hosts(spark, fx), FixtureGen.robots(spark, fx), nWaves,
      cc.copy(recrawlAfterWaves = 1))
    val perUrl = s4.readDeltas(spark, "articles", nWaves - 1).get
      .select("url", "wave").collect()
      .map(r => (r.getString(0), r.getInt(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // the shuffling host reschedules old urls every wave: with the TTL
    // those must now RE-INSERT instead of being deduped
    assert(perUrl.exists(_._2.size > 1),
      "no url was recrawled — TTL eviction path did not fire")
    // and with the TTL off the same fixture dedupes them (baseline)
    val basePerUrl = store.readDeltas(spark, "articles", nWaves - 1).get
      .select("url").collect().map(_.getString(0))
    assert(basePerUrl.length == basePerUrl.distinct.length)
  }

  test("priority frontier: global budget keeps the top-ranked batch") {
    val s5 = newStore()
    val k = 10
    WaveEngine.run(spark, s5,
      w => FixtureGen.pagesParquet(spark, fx, w, pagesDir),
      FixtureGen.hosts(spark, fx), FixtureGen.robots(spark, fx), 1,
      cc.copy(maxTasksPerWave = k))
    def rows(s: SnapshotStore) = s.read(spark, "frontier", 0)
      .select("host", "seq", "url", "rank").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val got = rows(s5)
    assert(got.length == k)
    // expected: top-k of the UNBUDGETED wave-0 schedule (the main
    // store's frontier) ranked by (host rank desc, host, seq)
    val expect = rows(store).sortBy(t => (-t._4, t._1, t._2)).take(k).toSet
    assert(got.toSet == expect)
  }

  test("re-running a committed wave is a no-op returning stored metrics") {
    val r = WaveEngine.runWave(spark, store,
      FixtureGen.pages(spark, fx, 1), FixtureGen.hosts(spark, fx),
      FixtureGen.robots(spark, fx), 1, cc)
    val m = store.read(spark, "metrics", 1)
      .groupBy().sum("inserted").head().getLong(0)
    assert(r.inserted == m)
  }

  test("seenurls side table mirrors the committed articles (bucket = urlBucket)") {
    import spark.implicits._
    // the slim anti-join build table must hold EXACTLY the committed
    // (host, url, wave) rows — a drift here silently breaks dedup once
    // the bloom routes a url to the exact check
    val arts = store.readDeltas(spark, "articles", nWaves - 1).get
      .select($"host", $"url", $"wave").as[(String, String, Int)]
      .collect().toSet
    val slim = store.readBuckets(spark, "seenurls", nWaves - 1,
      0 until cc.hostBuckets * cc.salt).get
      .select($"host", $"url", $"wave").as[(String, String, Int)]
      .collect().toSet
    assert(slim == arts)
    // physical partition dir == the sketches' bucket function (a pure
    // function of the url), so probe buckets and build-side pruning agree
    val w0 = spark.read.parquet(store.dataPath("seenurls", 0))
    w0.select($"bucket", $"url").as[(Int, String)].collect().foreach {
      case (b, u) =>
        assert(b == SeenFilter.urlBucket(u, cc.hostBuckets, cc.salt),
          s"partition dir bucket=$b != urlBucket($u)")
    }
  }

  test("offline bloom rebuild covers every inserted url per bucket") {
    // the documented saturation-recovery path (SeenSketch scaladoc):
    // re-derive a bucket's Bloom from the committed article store
    import spark.implicits._
    import graft.core.filters.BloomFilter
    val arts = store.readDeltas(spark, "articles", nWaves - 1).get
    val hb = cc.hostBuckets; val sl = cc.salt
    val pairs = arts.select("url").as[String]
      .map(u => (SeenFilter.urlBucket(u, hb, sl), u))
    val blooms = SeenFilter.buildBlooms(pairs, expectedPerBucket = 2048)
      .collect().toMap.view.mapValues(BloomFilter.deserialize).toMap
    pairs.collect().foreach { case (b, u) =>
      assert(blooms(b).mightContainString(u), s"rebuilt bloom missed $u")
    }
  }

  test("intra-wave syndication: duplicate canonical url keeps min (host, seq)") {
    import spark.implicits._
    val arts = (0 until 3).map { j =>
      val html =
        s"""<html><head><title>Shared $j</title></head><body>
           |<h1>Shared $j</h1><div>2024-02-0${j + 1} 10:00</div>
           |<p>${("shared body text that is long enough to extract " * 8) + j}</p>
           |</body></html>""".stripMargin
      Page(s"http://c.example.com/a/$j.html",
        java.sql.Timestamp.valueOf("2024-06-01 00:00:00"),
        html.getBytes("UTF-8"), "", "en")
    }
    def home(hostUrl: String) = {
      val lis = (0 until 3).map(j =>
        s"""<li><a href="http://c.example.com/a/$j.html">Shared story $j</a>""" +
          s"""<span>2024-02-0${j + 1} 10:00</span></li>""").mkString
      Page(hostUrl, java.sql.Timestamp.valueOf("2024-06-01 00:00:00"),
        s"<html><body><ul>$lis</ul></body></html>".getBytes("UTF-8"), "", "en")
    }
    val pages = spark.createDataset(
      arts :+ home("http://a.example.com/") :+ home("http://b.example.com/"))
    val hosts = spark.createDataset(Seq(
      HostConfig(1, "a.example.com", "http://a.example.com/", 1, enabled = true, 100L, 1),
      HostConfig(2, "b.example.com", "http://b.example.com/", 2, enabled = true, 100L, 1)))
    val robots = spark.emptyDataset[FixtureGen.RobotsRow]
    val s3 = newStore()
    WaveEngine.runWave(spark, s3, pages, hosts, robots, 0, cc)
    val got = s3.read(spark, "articles", 0)
      .select("url", "host").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size == 3)
    assert(got.values.toSet == Set("a.example.com"))
  }
}
