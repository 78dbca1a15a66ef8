package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable

import graft.core.UrlCanon
import graft.crawl._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A snapshot page tagged with the wave it first appears in. */
final case class WavePage(gen_wave: Int, url: String, warc_ts: Timestamp,
    html: Array[Byte], text: String, lang: String)

/** The web snapshot a crawl reads, written once per set-up: article
  * pages by the wave they first appear in, home pages by the wave that
  * serves them. Wave w reads every article delta up to w plus wave w's
  * home pages — the same rows as `FixtureGen.pages(cfg, w)`, without
  * the `text` oracle column (the engine never reads it; the output
  * check derives the expected text itself). */
final class CrawlInput(val fx: FixtureCfg, val waves: Int, val dir: String) {
  def pages(spark: SparkSession, wave: Int): Dataset[Page] = {
    import spark.implicits._
    val arts = (0 to wave).map(w => s"$dir/articles/gen_wave=$w")
      .filter(p => Files.exists(Paths.get(p)))
    spark.read.parquet(arts :+ s"$dir/homes/gen_wave=$wave": _*).as[Page]
  }
}

object CrawlInput {
  /** A delta of at least this many pages gets its own write, so its scan
    * splits across the cores the way `FixtureGen.pagesParquet` does. */
  private val BigDelta = 2000

  def generate(spark: SparkSession, fx: FixtureCfg, waves: Int, dir: String): CrawlInput = {
    import spark.implicits._
    val deltas = (0 until waves).map { w =>
      w -> (for {
        i <- 0 until fx.nHosts if i != FixtureGen.MissingPagesHost
        from = if (w == 0) 0 else FixtureGen.articleCount(fx, i, w - 1)
        j <- from until FixtureGen.articleCount(fx, i, w)
      } yield (w, i, j))
    }
    def article(t: (Int, Int, Int)): WavePage = {
      val (w, i, j) = t
      val enc = if (i == FixtureGen.GbHost) "GB2312" else "UTF-8"
      WavePage(w, FixtureGen.articleUrl(i, j), FixtureGen.warcTs(i, j),
        FixtureGen.articleHtml(fx, i, j).getBytes(enc), "", FixtureGen.lang(fx, i, j))
    }
    def write(ds: Dataset[WavePage], table: String): Unit =
      ds.write.mode("append").partitionBy("gen_wave").parquet(s"$dir/$table")
    val (big, small) = deltas.partition(_._2.size >= BigDelta)
    big.foreach { case (_, rows) => write(spark.createDataset(rows).map(article), "articles") }
    val rest = small.flatMap(_._2)
    if (rest.nonEmpty)
      write(spark.createDataset(rest).map(article).repartition($"gen_wave"), "articles")
    val homes = for {
      w <- 0 until waves
      i <- 0 until fx.nHosts if !FixtureGen.brokenAtWave(i).exists(w >= _)
    } yield (w, i)
    write(spark.createDataset(homes).map { case (w, i) =>
      val (url, body) =
        if (i == FixtureGen.JsonFeedHost) (FixtureGen.feedUrl(i), FixtureGen.feedJson(fx, i, w))
        else (FixtureGen.homeUrl(i), FixtureGen.homeHtml(fx, i, w))
      WavePage(w, UrlCanon.canonicalize(url), FixtureGen.warcTs(i, 0),
        body.getBytes("UTF-8"), "", "en")
    }.repartition($"gen_wave"), "homes")
    new CrawlInput(fx, waves, dir)
  }
}

/** Expected crawl outcome, computed without Spark from the fixture's
  * generative intent: the reference crawler's per-host loop (catalog
  * order, newest-first sort when every item is dated, per-wave cap,
  * stop at the carried checkpoint, robots filter, checkpoint kept when
  * every fetch failed) followed by insert-or-skip on the url key with
  * the recrawl TTL and digest revalidation of [[CrawlConfig]]. Fixture
  * pages never change, so a revalidated url always counts as deduped. */
object ExpectedCrawl {
  final case class Counts(scheduled: Long, fetched: Long, inserted: Long,
      deduped: Long, failed: Long)
  final case class Outcome(perWave: IndexedSeq[Counts], inserted: IndexedSeq[(Int, Int, Int)]) {
    /** (host, article) of every row inserted up to `wave`. */
    def insertedUpTo(wave: Int): Seq[(Int, Int)] = inserted.collect { case (w, i, j) if w <= wave => (i, j) }
  }

  def run(fx: FixtureCfg, cc: CrawlConfig, waves: Int): Outcome = {
    val last = mutable.Map.empty[Int, String]
    val seenWave = mutable.Map.empty[String, Int]
    val inserted = IndexedSeq.newBuilder[(Int, Int, Int)]
    val perWave = (0 until waves).map { wave =>
      var scheduled = 0L; var taskFailed = 0L; var homeFailed = 0L; var ins = 0L; var dup = 0L
      for (i <- 0 until fx.nHosts) if (FixtureGen.brokenAtWave(i).exists(wave >= _)) homeFailed += 1 else {
        val items0 = FixtureGen.catalogOrder(fx, i, wave).map(j =>
          (FixtureGen.articleUrl(i, j), j, FixtureGen.catalogDateOpt(fx, i, j, wave))).toVector
        // catalog detection trims undated head/tail items once at least
        // five items carry a date
        val items =
          if (items0.count(_._3.isDefined) >= 5)
            items0.slice(items0.indexWhere(_._3.isDefined), items0.lastIndexWhere(_._3.isDefined) + 1)
          else items0
        val allDated = items.nonEmpty && items.forall(_._3.isDefined)
        val sorted = (if (allDated)
          items.sortBy(-_._3.get.toEpochSecond(java.time.ZoneOffset.UTC)) else items)
          .take(cc.maxPerHostPerWave)
        val fresh = sorted.takeWhile(it => !last.get(i).exists(_.equalsIgnoreCase(it._1)))
        val robots = FixtureGen.robotsFor(i)
        val allowed = fresh.filter(it => robots.allows(WaveEngine.pathOf(it._1)))
        scheduled += allowed.size
        if (i == FixtureGen.MissingPagesHost) taskFailed += allowed.size
        else allowed.foreach { case (url, j, _) =>
          val live = seenWave.get(url).exists(sw =>
            cc.recrawlAfterWaves <= 0 || sw > wave - cc.recrawlAfterWaves)
          if (live) dup += 1
          else if (cc.revalidateOnRecrawl && seenWave.contains(url)) { dup += 1; seenWave(url) = wave }
          else { ins += 1; seenWave(url) = wave; inserted += ((wave, i, j)) }
        }
        val crawlFailed = i == FixtureGen.MissingPagesHost && allowed.nonEmpty
        if (!crawlFailed) sorted.headOption.foreach(it => last(i) = it._1)
      }
      // a host whose home page is gone counts one failed fetch
      Counts(scheduled, scheduled - taskFailed, ins, dup, taskFailed + homeFailed)
    }
    Outcome(perWave, inserted.result())
  }
}

/** The crawl workload, driving `WaveEngine.runWave` over a `SnapshotStore`
  * from this JVM at local[4]. One fixture, one store: wave 0 is the bulk
  * load (a large backlog lands in the empty store, so every url is new),
  * the waves after it are incremental (a small delta per wave over the
  * committed snapshot, recrawl TTL and digest revalidation on). */
object CrawlBench {

  val SetupRounds = 4
  /** Waves of the untimed toy crawl: its bulk wave and one incremental
    * wave, so that no timed wave compiles the code paths of either kind. */
  private val WarmWaves = 2
  private val Cores = 4

  /** `fx` is the measured crawl; `warm` a toy crawl whose input and first
    * waves run first, untimed, on a store of their own, so that the code
    * paths of input generation and of both kinds of wave are compiled
    * before set-up and measurement. */
  final case class Shape(fx: FixtureCfg, warm: FixtureCfg, cc: CrawlConfig)

  /** A hundred hosts, including the ×10 hot host, with 200 articles each
    * at wave 0 (21 310 urls) and two more per host and wave. */
  def shape(seed: Long, toy: Boolean): Shape = {
    val cc = CrawlConfig(maxPerHostPerWave = 2000, hostBuckets = 16, salt = 4,
      expectedUrlsPerBucket = 100000, cuckooCapacityPerBucket = 1 << 16,
      recrawlAfterWaves = 1, revalidateOnRecrawl = true)
    val warm = FixtureCfg(nHosts = 12, baseArticles = 6, growthPerWave = 2, hotHostFactor = 10,
      seed = seed + 1)
    if (toy) Shape(FixtureCfg(nHosts = 12, baseArticles = 10, growthPerWave = 2, hotHostFactor = 10,
      seed = seed), warm, cc)
    else Shape(FixtureCfg(nHosts = 100, baseArticles = 200, growthPerWave = 2, hotHostFactor = 10,
      seed = seed), warm, cc)
  }

  final case class WaveRun(r: WaveEngine.WaveResult, sec: Double, fromMs: Long,
      toMs: Long, traced: Boolean) {
    def urls: Long = r.inserted + r.deduped
    def urlsPerS: Double = urls / sec
  }

  private def dir(opt: Opts, name: String): String = {
    val p = Paths.get(opt.work, name)
    deleteTree(p)
    p.toString
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def runWave(spark: SparkSession, store: FrontierStore, in: CrawlInput,
      cc: CrawlConfig, wave: Int, traced: Boolean): WaveRun = {
    // input datasets are resolved (file listing, schema) before the clock
    val pages = in.pages(spark, wave)
    val hosts = FixtureGen.hosts(spark, in.fx)
    val robots = FixtureGen.robots(spark, in.fx)
    val from = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = WaveEngine.runWave(spark, store, pages, hosts, robots, wave, cc)
    WaveRun(r, Main.seconds(t0), from, System.currentTimeMillis(), traced)
  }

  /** Runs `body` with the listener attached, and delivers its events. */
  private def traced[T](spark: SparkSession, t: JobTrace)(body: => T): T = {
    spark.sparkContext.addSparkListener(t)
    try body
    finally { t.drain(spark.sparkContext); spark.sparkContext.removeSparkListener(t) }
  }

  /** Order-independent digest of (url, content) rows: row count and the
    * exact sum of their 64-bit hashes. */
  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(col("url"), col("content")).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
  }

  /** Checks every wave's counts against the expected outcome, and the
    * store's committed (url, content) rows against the fixture's text of
    * every url expected to be inserted. */
  def checkCrawl(spark: SparkSession, rep: Report, label: String, runs: Seq[WaveRun],
      store: SnapshotStore, fx: FixtureCfg, exp: ExpectedCrawl.Outcome, perturb: Boolean): Unit = {
    import spark.implicits._
    runs.foreach { w =>
      val e = exp.perWave(w.r.wave)
      val got = ExpectedCrawl.Counts(w.r.scheduled, w.r.fetched, w.r.inserted, w.r.deduped, w.r.failed)
      rep.check(got == e, s"$label wave ${w.r.wave}: counts $got, expected $e")
    }
    val lastWave = runs.map(_.r.wave).max
    val got = digest(store.readDeltas(spark, "articles", lastWave).get.select("url", "content"))
    val exp0 = digest(spark.createDataset(exp.insertedUpTo(lastWave)).map { case (i, j) =>
      (FixtureGen.articleUrl(i, j), FixtureGen.articleText(fx, i, j))
    }.toDF("url", "content"))
    val want = if (perturb) (exp0._1, exp0._2.add(java.math.BigDecimal.ONE)) else exp0
    rep.check(got == want, s"$label articles digest $got, expected $want")
  }

  /** Whether incremental wave `w` of a traced run is traced. Wave 1, the
    * first to compile the code paths of an incremental wave, never is;
    * from wave 2 on, one wave of each consecutive pair is, the first of
    * the pair on even pairs and the second on odd ones, so that neither
    * compilation nor store growth biases the traced/untraced comparison. */
  def tracedWave(w: Int): Boolean = w >= 2 && (w - 2) % 2 == ((w - 2) / 2) % 2

  def run(opt: Opts, rep: Report): Unit = {
    val sh = shape(opt.seed, opt.toy)
    val cc = sh.cc
    // incremental waves: one per five seconds of --seconds, at least two;
    // a traced run makes wave 1 and then whole pairs, one wave of each
    // traced
    val n = math.max(2, math.round(opt.seconds / 5).toInt)
    val nInc = if (opt.trace) 1 + 2 * ((n + 1) / 2) else n
    var spark = Main.session(Cores, crawl = true, opt.work)
    // untimed: the toy crawl's input, its bulk wave and its first
    // incremental wave
    val tw = System.nanoTime()
    val warmIn = CrawlInput.generate(spark, sh.warm, WarmWaves, dir(opt, "warm-input"))
    val warmStore = new SnapshotStore(dir(opt, "warm-store"))
    val warm = (0 until WarmWaves).map(w => runWave(spark, warmStore, warmIn, cc, w, traced = false))
    rep.note("warmup_s", Main.seconds(tw))
    rep.note("warmup_wave_s", warm.map(w => f"${w.sec}%.3f").mkString(","))
    // set-up: the crawl's input snapshot (every wave), generated SetupRounds times
    val setups = (0 until SetupRounds).map { k =>
      val t0 = System.nanoTime()
      val in = CrawlInput.generate(spark, sh.fx, 1 + nInc, dir(opt, s"input-$k"))
      (Main.seconds(t0), in)
    }
    val in = setups.last._2

    val trace = if (opt.trace) Some(new JobTrace) else None
    def wave(store: SnapshotStore, w: Int, tr: Boolean): WaveRun = trace match {
      case Some(t) if tr => traced(spark, t)(runWave(spark, store, in, cc, w, traced = true))
      case _ => runWave(spark, store, in, cc, w, traced = false)
    }
    val store = new SnapshotStore(dir(opt, "store"))
    // the measured crawl: the bulk load (traced in a traced run), then
    // the incremental waves
    val bulk = wave(store, 0, tr = true)
    val waves = (1 to nInc).map(w => wave(store, w, tracedWave(w)))

    val exp = ExpectedCrawl.run(sh.fx, cc, 1 + nInc)
    checkCrawl(spark, rep, "warm-up", warm, warmStore, sh.warm, ExpectedCrawl.run(sh.warm, cc, WarmWaves),
      perturb = false)
    checkCrawl(spark, rep, "crawl", bulk +: waves, store, sh.fx, exp, opt.perturbCrawl)
    val plain = waves.filterNot(_.traced).map(_.sec)
    rep.e2e("setup_s") = Main.median(setups.map(_._1))
    rep.e2e("throughput_per_s") = bulk.urlsPerS
    rep.e2e("step_s_gmean") = Main.gmean(plain)
    rep.note("setup_rounds_s", setups.map(_._1).mkString(","))
    rep.note("bulk_load", s"${bulk.urls} urls in ${bulk.sec} s")
    rep.note("wave_s", waves.map(w => f"${w.sec}%.3f${if (w.traced) "t" else ""}").mkString(","))

    for (t <- trace) {
      val tw = waves.filter(_.traced)
      waveMetrics(rep, "crawl.bulk", t, Seq(bulk))
      waveMetrics(rep, "crawl.wave", t, tw)
      storeMetrics(spark, rep, t, tw, store)
      rep.layer("crawl.wave.wave_s_slope") = (slope(waves.tail), "s/wave")
      val all = bulk +: waves
      rep.layer("crawl.fetch.useful_frac") =
        (all.map(_.r.inserted).sum.toDouble / all.map(_.r.scheduled).sum, "frac")
      rep.layer("crawl.seen.dedup_frac") =
        (all.map(_.r.deduped).sum.toDouble / all.map(_.r.fetched).sum, "frac")
      rep.layer("trace.overhead_frac") =
        (Main.median(tw.map(_.sec)) / Main.median(plain.tail) - 1.0, "frac")
      kernelMetrics(spark, rep, in, exp)
      // single-core baseline: the same bulk load at local[1]
      val cpu4 = t.cost(t.jobsBetween(bulk.fromMs, bulk.toMs)).taskCpuS
      spark.stop()
      spark = Main.session(1, crawl = true, opt.work)
      val t1 = new JobTrace
      val s1 = new SnapshotStore(dir(opt, "store-local1"))
      val b1 = traced(spark, t1)(runWave(spark, s1, in, cc, 0, traced = true))
      checkCrawl(spark, rep, "bulk load at local[1]", Seq(b1), s1, sh.fx, exp, opt.perturbCrawl)
      val cpu1 = t1.cost(t1.jobsBetween(b1.fromMs, b1.toMs)).taskCpuS
      val speedup = bulk.urlsPerS / b1.urlsPerS
      val inflation = cpu4 / cpu1
      rep.note("bulk_load_local1", s"${b1.urls} urls in ${b1.sec} s")
      rep.layer("crawl.speedup_1to4") = (speedup, "x")
      rep.layer("crawl.cpu_work_inflation") = (inflation, "x")
      rep.layer("crawl.scaling_efficiency_cpu_normalized") = (speedup * inflation / Cores, "frac")
    }
  }

  /** Least-squares slope of wave wall time against wave number. */
  def slope(runs: Seq[WaveRun]): Double = {
    val xs = runs.map(_.r.wave.toDouble); val ys = runs.map(_.sec)
    val mx = xs.sum / xs.size; val my = ys.sum / ys.size
    val den = xs.map(x => (x - mx) * (x - mx)).sum
    if (den == 0) 0.0 else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / den
  }

  /** Listener totals per `runWave` call, as medians over `runs`. */
  private def waveMetrics(rep: Report, prefix: String, t: JobTrace, runs: Seq[WaveRun]): Unit = {
    val per = runs.map(w => (w, t.cost(t.jobsBetween(w.fromMs, w.toMs))))
    def med(f: ((WaveRun, Cost)) => Double) = Main.median(per.map(f))
    rep.layer(s"$prefix.jobs") = (med(_._2.jobs.toDouble), "count")
    rep.layer(s"$prefix.serial_floor_s") = (med(p => p._1.sec - p._2.taskRunS / Cores), "s")
    rep.layer(s"$prefix.cpu_busy_frac") = (med(p => p._2.taskCpuS / (p._1.sec * Cores)), "frac")
    rep.layer(s"$prefix.task_cpu_s") = (med(_._2.taskCpuS), "s")
    rep.layer(s"$prefix.gc_s") = (med(_._2.gcS), "s")
    rep.layer(s"$prefix.shuffle_bytes") = (med(_._2.shuffleBytes.toDouble), "bytes")
    rep.layer(s"$prefix.spill_bytes") = (med(_._2.spillBytes.toDouble), "bytes")
  }

  /** The store's share of each wave (jobs launched from a store read or
    * write method; busy time is the union of their intervals) and its
    * size on disk after the last wave. */
  private def storeMetrics(spark: SparkSession, rep: Report, t: JobTrace,
      runs: Seq[WaveRun], store: SnapshotStore): Unit = {
    val per = runs.map { w =>
      val jobs = t.jobsBetween(w.fromMs, w.toMs).map(j => (j, JobTrace.storeKind(j.site)))
      (jobs.collect { case (j, Some("write")) => j }, jobs.collect { case (j, Some("read")) => j })
    }
    rep.layer("crawl.store.write_s") = (Main.median(per.map(p => JobTrace.busySeconds(p._1))), "s")
    rep.layer("crawl.store.read_s") = (Main.median(per.map(p => JobTrace.busySeconds(p._2))), "s")
    rep.layer("crawl.store.jobs") = (Main.median(per.map(p => (p._1.size + p._2.size).toDouble)), "count")
    val files = Files.walk(Paths.get(store.root))
    val sizes = try files.filter(Files.isRegularFile(_)).toArray.map(p => Files.size(p.asInstanceOf[Path]))
      finally files.close()
    val lastWave = store.lastCommittedWave.get
    val articleBytes = store.readDeltas(spark, "articles", lastWave).get
      .agg(sum(octet_length(col("contenthtml")))).head().getLong(0)
    rep.layer("crawl.store.files") = (sizes.length.toDouble, "count")
    rep.layer("crawl.store.bytes_per_article_byte") = (sizes.sum.toDouble / articleBytes, "ratio")
  }

  /** Single-thread `graft.core` kernels over the workload's own pages
    * and url set. */
  private def kernelMetrics(spark: SparkSession, rep: Report, in: CrawlInput,
      exp: ExpectedCrawl.Outcome): Unit = {
    import spark.implicits._
    def rule(url: String) = FixtureGen.ruleFor(UrlCanon.host(url).substring(1, 4).toInt)
    def pages(in: CrawlInput) = in.pages(spark, 0).select("url", "html").as[(String, Array[Byte])].collect()
    val wave0 = pages(in)
    val articles = wave0.filter(_._1.contains("/a/"))
    val homes = wave0.filterNot(_._1.contains("/a/"))
    val homeDocs = homes.toSeq.map { case (u, b) =>
      val host = UrlCanon.host(u)
      (b, FixtureGen.homeUrl(host.substring(1, 4).toInt), rule(u))
    }
    val docs = articles.take(3000).toSeq.map { case (u, b) => Kernels.Doc(b, rule(u).map(RuleSpec.toCatalogRule)) }
    val ins = exp.insertedUpTo(Int.MaxValue)
    val urls = ins.map { case (i, j) => FixtureGen.articleUrl(i, j) }
    val hrefs = ins.map { case (i, j) => (FixtureGen.homeUrl(i), FixtureGen.messyHref(in.fx, i, j)) }
    rep.layer("core.extract_docs_per_s") = (Kernels.extract(docs), "1/s")
    rep.layer("core.catalog_detect_pages_per_s") =
      (Kernels.catalogDetect(homeDocs, math.max(1, 400 / math.max(1, homeDocs.size))), "1/s")
    rep.layer("core.canonicalize_urls_per_s") = (Kernels.canonicalize(hrefs), "1/s")
    rep.layer("core.bloom_probe_per_s") = (Kernels.bloomProbe(urls), "1/s")
    rep.layer("core.cuckoo_probe_per_s") = (Kernels.cuckooProbe(urls), "1/s")
  }
}
