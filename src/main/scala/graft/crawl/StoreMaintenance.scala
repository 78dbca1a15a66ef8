package graft.crawl

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Offline store maintenance passes (run between waves, not inside one).
  *
  * [[deleteHosts]] is the S9 literal host-delete: the reference's
  * website-delete cascade (`DeleteAsync(Website)` removes the site row
  * and its rules/crawl logs via FK cascade, and the site's articles with
  * it — /root/reference/Source/WebCrawler/DataLayer/MySQLDataLayer.cs:361-370)
  * re-expressed over the snapshot store:
  *
  *  1. the carried seen-sketches evict every deleted url's fingerprint
  *     from its bucket cuckoo (the same multiset delete the recrawl TTL
  *     uses) and the affected buckets' Blooms are REBUILT from the
  *     surviving articles via [[SeenFilter.BloomAgg]] (the documented
  *     offline rebuild path — a Bloom cannot forget in place), so the
  *     deleted urls are immediately re-crawlable on re-seed instead of
  *     costing stale-positive probes forever. This pass runs FIRST,
  *     while the store still holds the doomed rows: every lazy/cached
  *     dataset it consumes can then be recomputed correctly from disk;
  *  2. every committed wave's `articles` / `frontier` / `metrics` deltas
  *     are rewritten through an anti-join against the doomed host set —
  *     the distributed form of `DELETE WHERE host IN (...)`. On the
  *     Iceberg binding the same pass is a metadata-level
  *     `DELETE FROM t WHERE host IN (...)` per table (no rewrite here:
  *     this file is the [[SnapshotStore]]-local binding);
  *  3. the carried `state` row of each doomed host is dropped, so a
  *     re-seeded host starts from a clean checkpoint.
  *
  * Scale shape: one anti-join scan per delta partition (host-sized
  * broadcast probe side), one scan of the remaining articles bucketed
  * into `B×S` partial Blooms with map-side combine ([[SeenFilter.BloomAgg]]
  * is an `Aggregator`), and a cogroup over the bucket-keyed sketch
  * table. Nothing is collected to the driver except the affected bucket
  * id set (≤ B×S ints).
  *
  * Crash safety on the local binding: each rewritten partition is
  * written to a side directory and swapped in with two renames
  * (original → `.old`, rewrite → table, drop `.old`); a crash at ANY
  * point leaves a complete table version on disk (possibly renamed
  * aside), [[recoverSwap]] restores it on the next pass, and re-running
  * the delete is idempotent (anti-join of already-clean data is a
  * no-op).
  */
object StoreMaintenance {

  /** Rewrite one table partition in place with a TWO-RENAME swap: write
    * the rewrite to `path+".rewrite"`, rename the original aside to
    * `path+".old"`, rename the rewrite in, then delete the aside. At no
    * point is `path` a partially-deleted table: a crash leaves either
    * the intact original (possibly renamed aside) or the complete
    * rewrite, and [[recoverSwap]] (run on entry) restores the readable
    * state either way. (The previous delete-then-move implementation
    * had a window — after the delete, before the move — where a crash
    * lost the table while its wave manifest still said committed.) */
  private def rewrite(spark: SparkSession, store: SnapshotStore,
      table: String, wave: Int, bucketed: Boolean = false)(
      f: DataFrame => DataFrame): Unit = {
    val path = store.dataPath(table, wave)
    recoverSwap(path)
    if (!Files.exists(Paths.get(path))) return
    // a bucket-partitioned table written from zero rows has no bucket
    // dirs (only _SUCCESS) — nothing to rewrite, and a root read would
    // fail schema inference
    if (bucketed && !hasBucketDirs(path)) return
    val tmp = path + ".rewrite"
    val out = f(spark.read.parquet(path))
    if (bucketed)
      out.repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    else out.write.mode("overwrite").parquet(tmp)
    val old = Paths.get(path + ".old")
    Files.move(Paths.get(path), old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(tmp), Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
    deleteDir(old)
  }

  private def hasBucketDirs(path: String): Boolean = {
    val s = Files.list(Paths.get(path))
    try s.anyMatch(p => p.getFileName.toString.startsWith("bucket="))
    finally s.close()
  }

  /** Recover `path` from a crash mid-[[rewrite]]. The swap sequence is
    * rename-aside → rename-in → delete-aside, so a crash can leave:
    * (a) `path` missing with `.old` present (between the two renames) —
    * roll the intact original back in; (b) `path` present with stray
    * `.old` / `.rewrite` dirs (crash before the first rename, after the
    * second, or mid-write) — drop the strays. Either way the table
    * reads complete afterwards, and re-running the interrupted
    * maintenance pass is idempotent. */
  private[crawl] def recoverSwap(path: String): Unit = {
    val p = Paths.get(path)
    val old = Paths.get(path + ".old")
    if (!Files.exists(p) && Files.exists(old))
      Files.move(old, p, StandardCopyOption.ATOMIC_MOVE)
    if (Files.exists(p)) {
      deleteDir(old)
      deleteDir(Paths.get(path + ".rewrite"))
    }
  }

  private def deleteDir(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))

  /** One-time migration of a store written before the slim `seenurls`
    * table existed. `seenurls` and the url-pure bucket key
    * ([[SeenFilter.urlBucket]]) landed together, so a committed wave
    * WITHOUT a `seenurls` partition means the carried `seen` sketches
    * may still be keyed by the old (schedulingHost, url) bucket: a url
    * first committed under a foreign scheduling host (cross-site
    * syndication) lives in that host's bucket, the new engine probes
    * the url-host bucket, both sketches miss, and — because
    * "definitely new" rows bypass the exact anti-join by design — the
    * committed url would be silently re-inserted. Likewise
    * [[deleteHosts]]' cuckoo eviction would compute the new key and
    * miss legacy-keyed entries, leaving deleted urls "seen" forever.
    *
    * The upgrade (a) backfills the bucket-partitioned `seenurls`
    * partition of every committed wave from that wave's articles delta,
    * then (b) rebuilds the carried `seen` sketches at the last
    * committed wave from ALL committed urls under the url-pure key
    * (crash-safe two-rename swap). Pre-upgrade TTL-expired urls land
    * back in the rebuilt cuckoo — harmless: the Bloom retains every
    * committed url forever anyway, and recrawl admission is enforced by
    * the exact anti-join's wave filter, not the sketches. Idempotent
    * (per-wave backfills are overwrites; the swap recovers via
    * [[recoverSwap]]); O(store) once, never again — after it runs the
    * store is indistinguishable from one written by the current engine.
    * Returns true when a migration actually ran. */
  def upgradeLegacySeen(spark: SparkSession, store: SnapshotStore,
      cfg: CrawlConfig): Boolean = {
    import spark.implicits._
    val last = store.lastCommittedWave.getOrElse(return false)
    val missing = (0 to last).filterNot(store.hasTable("seenurls", _))
    if (missing.isEmpty) return false
    val hb = cfg.hostBuckets; val sl = cfg.salt
    recoverSwap(store.dataPath("seen", last))
    for (w <- missing) {
      val rows =
        if (store.hasTable("articles", w))
          SeenFilter.seenUrls(store.read(spark, "articles", w), w, hb, sl,
            digest = true).toDF()
        else spark.emptyDataset[SeenUrl].toDF()
      store.writeBucketed(rows, "seenurls", w)
    }
    val pairs = store.readDeltas(spark, "articles", last)
      .map(_.select($"url").as[String]
        .map(u => (SeenFilter.urlBucket(u, hb, sl), u)))
      .getOrElse(spark.emptyDataset[(Int, String)])
    val rebuilt = SeenFilter.updateSketches(pairs,
      spark.emptyDataset[SeenSketch], cfg.cuckooCapacityPerBucket,
      cfg.expectedUrlsPerBucket, SeenFilter.BloomFpp)
    if (Files.exists(Paths.get(store.dataPath("seen", last))))
      rewrite(spark, store, "seen", last)(_ => rebuilt.toDF())
    else store.writeNoCount(rebuilt.toDF(), "seen", last)
    true
  }

  /** Delete `doomed` hosts and everything derived from them from every
    * committed wave of `store`. See the object scaladoc for the cascade
    * semantics. No-op on an empty store or empty host set. */
  def deleteHosts(spark: SparkSession, store: SnapshotStore,
      doomed: Seq[String], cfg: CrawlConfig): Unit = {
    import spark.implicits._
    val last = store.lastCommittedWave.getOrElse(return)
    if (doomed.isEmpty) return
    // legacy stores first: the cuckoo eviction below computes the
    // url-pure bucket key, which misses sketches still keyed by the old
    // (schedulingHost, url) bucket — migrate before touching anything
    upgradeLegacySeen(spark, store, cfg)
    // recover any mid-swap crash left by a PRIOR interrupted pass
    // BEFORE reading anything: a table renamed aside mid-[[rewrite]]
    // would otherwise silently read as absent, and the sketch pass
    // would compute an empty eviction set for its urls
    for (w <- 0 to last if store.isCommitted(w);
         t <- Seq("articles", "frontier", "metrics", "state", "seen", "seenurls"))
      recoverSwap(store.dataPath(t, w))
    val doomedDf = broadcast(doomed.toDF("host"))
    val hb = cfg.hostBuckets; val sl = cfg.salt

    // fingerprint evictions and affected buckets. The ENTIRE sketch
    // pass (step 1 below) runs BEFORE any delta rewrite: delPairs is
    // lazily derived from the articles deltas, and a cache-evicted
    // partition is silently RECOMPUTED from its source — if the source
    // had already been rewritten without the doomed host, the recompute
    // would yield an empty eviction set and the deleted urls would stay
    // "seen" forever. With the sketch pass first, every possible
    // recompute reads the still-intact store and is correct by
    // construction (the cache is then purely an optimization).
    val delPairs = store.readDeltas(spark, "articles", last)
      .map(_.join(doomedDf, Seq("host"), "left_semi")
        .select($"url").as[String]
        .map(u => (SeenFilter.urlBucket(u, hb, sl), u, false))
        .cache())
    val affected: Set[Int] =
      delPairs.map(_.map(_._1).distinct().collect().toSet).getOrElse(Set.empty)

    // 1. carried seen-sketches: cuckoo fingerprint eviction + Bloom
    //    rebuild of the affected buckets from the SURVIVING articles
    //    (explicit anti-join — the store still holds the doomed rows)
    delPairs.filter(_ => affected.nonEmpty).foreach { dels =>
      val carried = store.read(spark, "seen", last).as[SeenSketch]
      val afterCuckoo = SeenFilter.updateSketches(dels, carried,
        cfg.cuckooCapacityPerBucket, cfg.expectedUrlsPerBucket, SeenFilter.BloomFpp)
      // surviving urls of the affected buckets: prefer the slim
      // bucket-pruned seenurls read (only the affected leaf dirs are
      // listed); a legacy store falls back to the article-store scan
      val affectedSeq = affected.toSeq.sorted
      val slimComplete = (0 to last).filter(store.isCommitted)
        .forall(store.hasTable("seenurls", _))
      val remaining = (if (slimComplete)
        store.readBuckets(spark, "seenurls", last, affectedSeq) else None)
        .map(_.join(doomedDf, Seq("host"), "left_anti")
          .select($"url").as[String])
        .getOrElse(store.readDeltas(spark, "articles", last).get
          .join(doomedDf, Seq("host"), "left_anti")
          .select($"url").as[String])
        .map(u => (SeenFilter.urlBucket(u, hb, sl), u))
        .filter(p => affected.contains(p._1))
      val rebuilt = remaining.groupByKey(_._1)
        .agg(new SeenFilter.BloomAgg(cfg.expectedUrlsPerBucket, SeenFilter.BloomFpp)
          .toColumn.name("bloom2"))
        .toDF("bucket", "bloom2")
      val affectedDf = affected.toSeq.toDF("bucket")
        .withColumn("was_affected", lit(true))
      // affected bucket → rebuilt bloom (None when every url in the
      // bucket was deleted); untouched bucket → old bloom
      val merged = afterCuckoo.toDF()
        .join(broadcast(affectedDf), Seq("bucket"), "left")
        .join(rebuilt, Seq("bucket"), "left")
        .select($"bucket", $"cuckoo", $"n_urls",
          when(coalesce($"was_affected", lit(false)), $"bloom2")
            .otherwise($"bloom").as("bloom"),
          $"n_dropped")
        .as[SeenSketch].cache()
      merged.count() // materialize fully before the in-place swap below
      rewrite(spark, store, "seen", last)(_ => merged.toDF())
      merged.unpersist()
      dels.unpersist()
    }

    // 2. per-wave delta rewrites (DELETE WHERE host IN ...) — only
    //    after the sketch pass no longer needs the doomed rows. The
    //    slim seenurls table carries `host` exactly for this cascade
    //    (its rewrite keeps the bucket partitioning).
    for (w <- 0 to last if store.isCommitted(w)) {
      for (table <- Seq("articles", "frontier", "metrics"))
        rewrite(spark, store, table, w)(
          _.join(doomedDf, Seq("host"), "left_anti"))
      rewrite(spark, store, "seenurls", w, bucketed = true)(
        _.join(doomedDf, Seq("host"), "left_anti"))
    }

    // 3. carried host state (only the last committed wave is ever read
    //    by the next runWave)
    rewrite(spark, store, "state", last)(
      _.join(doomedDf, Seq("host"), "left_anti"))
  }
}
