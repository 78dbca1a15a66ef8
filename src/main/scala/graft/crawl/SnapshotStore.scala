package graft.crawl

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot-exact table store: Parquet wave partitions + an atomic JSON
  * manifest per wave.
  *
  * This is the `FrontierStore` seam SURVEY.md §7 calls for: production
  * target is an Iceberg catalog (each wave = one Iceberg snapshot; the
  * commit point is the snapshot swap), but no Iceberg runtime ships in
  * /opt/spark/jars, so the local binding reproduces the property that
  * matters — **a wave is either fully visible or not at all** — with a
  * manifest file committed by atomic rename. Readers resolve data paths
  * only through committed manifests, so a crash mid-wave leaves orphan
  * parquet dirs that are never read, and re-running the wave overwrites
  * them before re-committing (same recovery contract as the reference's
  * `ContinueCrawlAsync` re-queue + UNIQUE-key dedup,
  * /root/reference/Source/WebCrawler/DataLayer/MySQLDataLayer.cs:440-454).
  *
  * Layout:
  * {{{
  *   root/data/<table>/wave=<N>/   parquet
  *   root/manifests/wave-<N>.json  commit record (atomic rename)
  * }}}
  */
class SnapshotStore(val root: String) extends FrontierStore {

  private def manifestDir: Path = Paths.get(root, "manifests")
  private def manifestPath(wave: Int): Path =
    manifestDir.resolve(f"wave-$wave%06d.json")

  def dataPath(table: String, wave: Int): String =
    s"$root/data/$table/wave=$wave"

  def isCommitted(wave: Int): Boolean = Files.exists(manifestPath(wave))

  /** Largest N such that waves 0..N are ALL committed (a gap means the
    * later manifests are strays from an aborted future run). */
  def lastCommittedWave: Option[Int] = {
    var w = 0
    while (isCommitted(w)) w += 1
    if (w == 0) None else Some(w - 1)
  }

  /** Atomically commit a wave: write the manifest to a temp file, then
    * rename into place (the snapshot swap). `tables` maps table name →
    * row count (informational lineage; the path layout is fixed). */
  def commit(wave: Int, tables: Map[String, Long]): Unit = {
    Files.createDirectories(manifestDir)
    val body = tables.toSeq.sortBy(_._1).map { case (t, n) =>
      s"""    "$t": {"path": "${dataPath(t, wave)}", "rows": $n}"""
    }.mkString(",\n")
    val json = s"""{\n  "wave": $wave,\n  "tables": {\n$body\n  }\n}\n"""
    val tmp = manifestDir.resolve(f".wave-$wave%06d.json.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, manifestPath(wave), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Drop manifests AFTER `wave` (used by tests to simulate a crash /
    * time-travel to an older snapshot; data dirs stay — unreadable). */
  def rollbackTo(wave: Int): Unit = {
    var w = wave + 1
    while (isCommitted(w)) { Files.delete(manifestPath(w)); w += 1 }
  }

  /** Write without the row-count job (manifest records -1). One Spark
    * action instead of two — the wave engine calls this for tables whose
    * counts it already derives from the metrics roll-up. */
  def writeNoCount(df: DataFrame, table: String, wave: Int): Unit =
    df.write.mode("overwrite").parquet(dataPath(table, wave))

  /** Bucket-partitioned write: `bucket=K/` dirs under the wave path, so
    * a bucket IN-filter on the read side becomes partition pruning. The
    * repartition puts each bucket in ONE task — one file per non-empty
    * bucket instead of (tasks × buckets) shards; the shuffled rows are
    * slim (bucket, host, url, wave) only, never bodies. */
  override def writeBucketed(df: DataFrame, table: String, wave: Int): Unit =
    df.repartition(org.apache.spark.sql.functions.col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(dataPath(table, wave))

  def hasTable(table: String, wave: Int): Boolean =
    Files.exists(Paths.get(dataPath(table, wave)))

  /** Read one table at one committed wave; empty-schema-safe via
    * caller-provided fallback. */
  def read(spark: SparkSession, table: String, wave: Int): DataFrame = {
    require(isCommitted(wave), s"wave $wave not committed")
    spark.read.parquet(dataPath(table, wave))
  }

  /** Union of a delta table across all committed waves 0..upTo
    * (e.g. the append-only articles store). `mergeSchema` because waves
    * written by different engine versions may differ by added columns
    * (seenurls.digest, articles.contenthtml) — without it the inferred
    * schema is whichever wave's footer Spark samples first, and a
    * column present only in NEWER waves can silently vanish from the
    * union (disabling e.g. revalidation on exactly the upgraded stores
    * the fallback logic targets). */
  def readDeltas(spark: SparkSession, table: String, upTo: Int): Option[DataFrame] =
    readExisting(spark, (0 to upTo).filter(isCommitted).map(dataPath(table, _)))

  /** Maximal bucket pruning for the local binding: only the requested
    * `bucket=K` LEAF directories are even listed — unaffected buckets
    * cost nothing, and waves whose table is empty (a `partitionBy`
    * write of zero rows leaves no bucket dirs) are skipped without the
    * schema-inference failure a root read would hit. */
  override def readBuckets(spark: SparkSession, table: String, upTo: Int,
      buckets: Seq[Int]): Option[DataFrame] =
    readExisting(spark, for (w <- 0 to upTo if isCommitted(w); b <- buckets)
      yield s"${dataPath(table, w)}/bucket=$b")

  /** Exact-wave variant: only `wave`'s own `bucket=K` leaf dirs are
    * listed — no 0..wave walk, and an empty wave (zero bucket dirs
    * under an existing table dir) is None, not a schema-inference
    * failure. */
  override def readWaveBuckets(spark: SparkSession, table: String,
      wave: Int, buckets: Seq[Int]): Option[DataFrame] =
    if (!isCommitted(wave)) None
    else readExisting(spark, buckets.map(b => s"${dataPath(table, wave)}/bucket=$b"))

  /** The existing ones of `paths` as one frame, read with `mergeSchema`
    * (see [[readDeltas]]); None when none exists. */
  private def readExisting(spark: SparkSession, paths: Seq[String]): Option[DataFrame] = {
    val present = paths.filter(p => Files.exists(Paths.get(p)))
    if (present.isEmpty) None
    else Some(spark.read.option("mergeSchema", true).parquet(present: _*))
  }
}
