package graft.crawl

import java.nio.file.Files

import graft.{LocalSpark, TempDirs}
import org.scalatest.funsuite.AnyFunSuite

/** Drives the spark-submit entry point's body ([[CrawlJob.run]])
  * end-to-end on the synthetic fixture: flag parsing semantics, crawl +
  * snapshot-resume, and the `--delete-hosts` S9 maintenance mode. */
class CrawlJobSpec extends AnyFunSuite {

  lazy val spark = LocalSpark.session(4, LocalSpark.MicroWaveConfs: _*)

  private val base = Map(
    "hosts" -> "12", "base" -> "5", "growth" -> "2", "hot" -> "2",
    "buckets" -> "4", "salt" -> "2")

  test("crawl then re-run: committed waves replay from the snapshot, not recompute") {
    val dir = TempDirs.cleanupOnExit(Files.createTempDirectory("jobstore").toString)
    val opts = base + ("store" -> dir) + ("waves" -> "2")
    val first = CrawlJob.run(spark, opts)
    assert(first.size == 2)
    assert(first.map(_.inserted).sum > 0)
    // identical invocation = snapshot-exact resume (same WaveResults,
    // no new articles)
    val again = CrawlJob.run(spark, opts)
    assert(again == first)
  }

  test("--delete-hosts without --waves is pure maintenance: cascade runs, nothing crawled") {
    val dir = TempDirs.cleanupOnExit(Files.createTempDirectory("jobdel").toString)
    val results = CrawlJob.run(spark, base + ("store" -> dir) + ("waves" -> "1"))
    assert(results.size == 1)
    val store = new SnapshotStore(dir)
    val victim = store.read(spark, "articles", 0)
      .select("host").limit(1).collect().head.getString(0)
    val del = CrawlJob.run(spark,
      base + ("store" -> dir) + ("delete-hosts" -> s" $victim ,"))
    assert(del.isEmpty, "maintenance mode must crawl zero waves")
    assert(store.read(spark, "articles", 0)
      .where(s"host = '$victim'").isEmpty)
    assert(!store.read(spark, "articles", 0).isEmpty,
      "other hosts' rows must survive the cascade")
  }

  test("--rerank-links + --max-tasks: the link-graph authority wins the budget") {
    import spark.implicits._
    val dir = TempDirs.cleanupOnExit(Files.createTempDirectory("jobrank").toString)
    val fav = FixtureGen.hostName(5)
    val sightings = (0 until 12).map(FixtureGen.hostName)
      .filter(_ != fav).map(h => (h, fav)).toDF("src", "dst")
    val sightingsPath = s"$dir/_sightings"
    sightings.write.parquet(sightingsPath)
    val r = CrawlJob.run(spark, base + ("store" -> dir) + ("waves" -> "1")
      + ("rerank-links" -> sightingsPath) + ("max-tasks" -> "3"))
    assert(r.head.scheduled == 3, "global budget must cap the wave")
    val admitted = new SnapshotStore(dir).read(spark, "frontier", 0)
      .select("host").distinct().collect().map(_.getString(0)).toSet
    assert(admitted == Set(fav),
      s"the linked-to host must win the budgeted frontier, got $admitted")
  }

  test("--hosts-table: a legacy seed list without rule.browser_fetch loads") {
    // a seed list persisted BEFORE the r5 flag existed must keep
    // loading (backfilled false), not fail encoder resolution on the
    // missing nested struct field
    import org.apache.spark.sql.functions.col
    val dir = TempDirs.cleanupOnExit(Files.createTempDirectory("jobleg").toString)
    val hostsPath = s"$dir/_hosts"
    val fx = FixtureCfg(nHosts = 12, baseArticles = 5, growthPerWave = 2,
      hotHostFactor = 2)
    FixtureGen.hosts(spark, fx).toDF()
      .withColumn("rule", col("rule").dropFields("browser_fetch"))
      .write.parquet(hostsPath)
    val r = CrawlJob.run(spark, base + ("store" -> dir) + ("waves" -> "1")
      + ("hosts-table" -> hostsPath))
    assert(r.head.inserted > 0, s"legacy seed list must crawl: $r")
  }

  test("--apportion: the wave budget splits proportionally and conserves") {
    val budget = 10
    // unbudgeted baseline on the same fixture: per-host availability
    // and rank weights for the independent Hamilton oracle below
    val dirFree = TempDirs.cleanupOnExit(Files.createTempDirectory("jobfree").toString)
    CrawlJob.run(spark, base + ("store" -> dirFree) + ("waves" -> "1"))
    val free = new SnapshotStore(dirFree).read(spark, "frontier", 0)
      .select("host", "rank").collect()
    val avail = free.groupBy(_.getString(0)).view.mapValues(_.length.toLong).toMap
    val ranks = free.map(r => r.getString(0) -> r.getInt(1).toLong).toMap
    // independent largest-remainder implementation (the q95 contract)
    val n = ranks.values.sum
    val baseQ = ranks.map { case (h, w) => h -> budget * w / n }
    val rem = ranks.map { case (h, w) => h -> budget * w % n }
    val leftover = (budget - baseQ.values.sum).toInt
    val bonus = ranks.keys.toSeq.sortBy(h => (-rem(h), h)).take(leftover).toSet
    val alloc = ranks.keys.map(h =>
      h -> (baseQ(h) + (if (bonus(h)) 1L else 0L))).toMap
    assert(alloc.values.sum == budget, "Hamilton quotas must conserve")

    val dir = TempDirs.cleanupOnExit(Files.createTempDirectory("jobapp").toString)
    val r = CrawlJob.run(spark, base + ("store" -> dir) + ("waves" -> "1")
      + ("max-tasks" -> budget.toString) + ("apportion" -> "true"))
    val sched = new SnapshotStore(dir).read(spark, "frontier", 0)
      .select("host").collect().groupBy(_.getString(0))
      .view.mapValues(_.length.toLong).toMap
    // per-host: exactly min(quota, availability); in total: conserved
    ranks.keys.foreach { h =>
      assert(sched.getOrElse(h, 0L) == math.min(alloc(h), avail(h)),
        s"$h: scheduled ${sched.getOrElse(h, 0L)}, quota ${alloc(h)}, " +
          s"avail ${avail(h)}")
    }
    // keysIterator, not keys: mapping over the key SET would dedup the
    // per-host minima before summing
    val expectTotal =
      ranks.keysIterator.map(h => math.min(alloc(h), avail(h))).sum
    assert(r.head.scheduled == expectTotal,
      s"ranks=$ranks avail=$avail alloc=$alloc sched=$sched")
    // fairness property: the same budget under the rank-ORDERED cut goes
    // to the single top host; apportioned, it spreads
    assert(sched.count(_._2 > 0) > 1,
      s"proportional split must reach several hosts, got $sched")
  }

  test("flag validation: missing --store, unknown store-kind, iceberg delete") {
    assertThrows[RuntimeException](CrawlJob.run(spark, base))
    assertThrows[RuntimeException](CrawlJob.run(spark,
      base + ("store" -> "/tmp/x") + ("store-kind" -> "nope")))
    // --delete-hosts is local-only: path-rewrite maintenance has no
    // Iceberg equivalent in this binding
    assertThrows[RuntimeException](CrawlJob.run(spark,
      base + ("store" -> "/tmp/x") + ("store-kind" -> "iceberg") +
        ("delete-hosts" -> "h.example.com")))
  }
}
