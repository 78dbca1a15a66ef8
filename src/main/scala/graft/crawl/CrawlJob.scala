package graft.crawl

import graft.LocalSpark
import org.apache.spark.sql.SparkSession

/** spark-submit entry point for the crawl engine.
  *
  * {{{
  * spark-submit --class graft.crawl.CrawlJob <jar> \
  *   --store /path/to/store --waves 3 \
  *   [--pages /path/to/pages_parquet_template_with_{wave}] \
  *   [--hosts-table /path/hosts.parquet]   (HostConfig rows — seed list)
  *   [--robots-table /path/robots.parquet] (RobotsRow rows)
  *   [--hosts N --base N --growth N --hot N]    (synthetic fixture)
  *   [--delete-hosts h1.com,h2.com]  (S9 cascade, then crawl/exit)
  *   [--recrawl-ttl N --revalidate true]  (TTL recrawl; digest-gated
  *     revalidation — unchanged pages refresh TTL without re-storing)
  *   [--adaptive-delay F --adaptive-max-ms N]  (Heritrix-style
  *     delay-factor politeness back-off from the carried fetch EWMA)
 *   [--rerank-links /path/sightings.parquet --max-tasks N]  (priority
 *     frontier: link-graph rerank + global per-wave budget)
 *   [--apportion true]  (with --max-tasks: Hamilton-apportion the wave
 *     budget across hosts ∝ rank — proportional fairness — instead of
 *     the rank-ordered top-N cut)
 *   [--rank-base N]  (rank fixed-point scale; LOWER it for big graphs —
 *     hostRank requires hosts × base × 100 < 2^63 and fails loudly)
  *   [--store-kind local|iceberg --catalog ice --namespace graft]
  * }}}
  *
  * `--store-kind iceberg` binds the engine to [[IcebergFrontierStore]]
  * (the catalog must be configured via `spark.sql.catalog.<name>` and
  * `iceberg-spark-runtime` on the classpath — SCALE.md §10's cluster
  * smoke test); `--store` then only hosts the synthetic fixture pages.
  * `--delete-hosts` maintenance is local-store-only (path rewrites).
  *
  * With `--pages`, each wave reads the real page snapshot from the
  * template path (`{wave}` substituted) — the production shape where the
  * input is an Iceberg/parquet table of Common-Crawl-style pages; pair
  * it with `--hosts-table`/`--robots-table` so the seed list and robots
  * snapshot come from real data too (a real pages table crawled against
  * the synthetic seed list would fetch nothing). Without them, the
  * deterministic synthetic fixture is generated at the given scale (no
  * external data). The job resumes from the last committed snapshot
  * automatically: committed waves are skipped.
  */
object CrawlJob {

  def main(args: Array[String]): Unit = {
    // strict pairing: a flag without a value (or a value starting with
    // --) must be a usage error, not a silently dropped/mispaired flag
    // that produces a plausible-looking wrong run
    require(args.length % 2 == 0,
      s"malformed arguments (flag without value): ${args.mkString(" ")}")
    val opts = args.sliding(2, 2).map {
      case Array(k, v) =>
        require(k.startsWith("--") && !v.startsWith("--"),
          s"malformed flag pair: $k $v")
        k.drop(2) -> v
    }.toMap
    val builder = SparkSession.builder()
      .appName("graft-crawl")
      .config("spark.sql.session.timeZone", "UTC")
      // the engine's session confs (AQE off); --aqe true to override
      .config(LocalSpark.EngineConfs.toMap ++
        opts.get("aqe").map(LocalSpark.Aqe -> _))
    // spark-submit provides the master in production; `--master` is the
    // local smoke-run escape hatch (e.g. --master local[8]), and
    // `--shuffle-partitions` its companion (a local[4] smoke at the
    // 200-partition default spends the wave on empty-partition
    // scheduling) — production keeps whatever the submit conf set
    opts.get("master").foreach(builder.master)
    opts.get("shuffle-partitions")
      .foreach(builder.config("spark.sql.shuffle.partitions", _))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(opts.getOrElse("loglevel", "WARN"))
    try run(spark, opts) finally spark.stop()
  }

  /** Read a HostConfig seed list from parquet, backfilling nested rule
    * fields added AFTER the table was written — the fetch_ewma_ms
    * precedent for the state table: a seed list persisted before the
    * r5 `browser_fetch` flag must keep loading (as flag=false), not
    * fail encoder resolution on the missing struct field.
    * `withField` is null-struct-safe (a null rule stays null). */
  private[crawl] def loadHosts(spark: SparkSession,
      path: String): org.apache.spark.sql.Dataset[HostConfig] = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types.StructType
    import spark.implicits._
    val raw = spark.read.parquet(path)
    val patched = raw.schema.find(_.name == "rule").map(_.dataType) match {
      case Some(st: StructType) if !st.fieldNames.contains("browser_fetch") =>
        raw.withColumn("rule",
          col("rule").withField("browser_fetch", lit(false)))
      case _ => raw
    }
    patched.as[HostConfig]
  }

  /** The job body, session-agnostic for tests (main owns the session
    * lifecycle). Returns one [[WaveEngine.WaveResult]] per crawled wave. */
  def run(spark: SparkSession,
      opts: Map[String, String]): Seq[WaveEngine.WaveResult] = {
    import spark.implicits._
    // lazy: only the local-store and synthetic-fixture-pages paths
    // dereference it, so `--store-kind iceberg --pages …` (the SCALE.md
    // §10 cluster smoke test) runs without a dummy --store
    lazy val storeDir = opts.getOrElse("store",
      sys.error("--store <dir> is required"))
    val deleteHosts = opts.get("delete-hosts")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    // a pure-maintenance invocation (--delete-hosts without --waves)
    // defaults to crawling nothing; an explicit --waves still crawls
    // after the cascade (delete-then-resume in one submit)
    val waves = opts.getOrElse("waves",
      if (deleteHosts.nonEmpty) "0" else "3").toInt

    val fx = FixtureCfg(
      nHosts = opts.getOrElse("hosts", "50").toInt,
      baseArticles = opts.getOrElse("base", "100").toInt,
      growthPerWave = opts.getOrElse("growth", "20").toInt,
      hotHostFactor = opts.getOrElse("hot", "10").toInt)
    val cc = CrawlConfig(
      maxPerHostPerWave = opts.getOrElse("max-per-host", "100").toInt,
      maxTasksPerWave = opts.getOrElse("max-tasks", "0").toInt,
      apportionTasksPerWave = opts.getOrElse("apportion", "false").toBoolean,
      hostBuckets = opts.getOrElse("buckets", "64").toInt,
      salt = opts.getOrElse("salt", "8").toInt,
      recrawlAfterWaves = opts.getOrElse("recrawl-ttl", "0").toInt,
      revalidateOnRecrawl =
        opts.getOrElse("revalidate", "false").toBoolean,
      adaptiveDelayFactor =
        opts.getOrElse("adaptive-delay", "0").toDouble,
      adaptiveMaxDelayMs =
        opts.getOrElse("adaptive-max-ms", "30000").toLong)

    val pagesAt: Int => org.apache.spark.sql.Dataset[Page] =
      opts.get("pages") match {
        case Some(tpl) => w =>
          spark.read.parquet(tpl.replace("{wave}", w.toString)).as[Page]
        case None =>
          val dir = s"$storeDir/_fixture_pages"
          w => FixtureGen.pagesParquet(spark, fx, w, dir)
      }

    // seed list + robots: real tables when supplied (the production
    // pairing for --pages), else the synthetic fixture's
    val hostsDs = opts.get("hosts-table")
      .map(p => loadHosts(spark, p))
      .getOrElse(FixtureGen.hosts(spark, fx))
    val robotsDs = opts.get("robots-table")
      .map(p => spark.read.parquet(p).as[RobotsRow])
      .getOrElse(FixtureGen.robots(spark, fx))
    // --rerank-links: fold an observed link graph into the seed list's
    // priority before crawling — (src, dst) host sightings (e.g. from
    // LinkGraph.hostSightings over a previous run's frontier) rerank
    // `HostConfig.rank`, which keys the maxTasksPerWave budget
    val hostsRanked = opts.get("rerank-links") match {
      case Some(p) => graft.ops.LinkGraph
        .rerankHosts(hostsDs.toDF(), spark.read.parquet(p),
          base = opts.get("rank-base").map(_.toLong)
            .getOrElse(1000000000000L))
        .as[HostConfig]
      case None => hostsDs
    }

    val store: FrontierStore = opts.getOrElse("store-kind", "local") match {
      case "local" => new SnapshotStore(storeDir)
      case "iceberg" => new IcebergFrontierStore(spark,
        opts.getOrElse("catalog", "ice"), opts.getOrElse("namespace", "graft"))
      case k => sys.error(s"unknown --store-kind: $k (local|iceberg)")
    }
    if (deleteHosts.nonEmpty) store match {
      case local: SnapshotStore =>
        val t0 = System.nanoTime()
        StoreMaintenance.deleteHosts(spark, local, deleteHosts, cc)
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"deleted_hosts":${deleteHosts.size},"sec":$sec%.2f}""")
      case _ => sys.error("--delete-hosts requires --store-kind local " +
        "(Iceberg stores use DELETE FROM + the sketch rebuild runbook)")
    }
    (0 until waves).map { w =>
      val t0 = System.nanoTime()
      val r = WaveEngine.runWave(spark, store, pagesAt(w),
        hostsRanked, robotsDs, w, cc)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"wave":${r.wave},"scheduled":${r.scheduled},""" +
        f""""fetched":${r.fetched},"inserted":${r.inserted},""" +
        f""""deduped":${r.deduped},"failed":${r.failed},"sec":$sec%.2f}""")
      r
    }
  }
}
