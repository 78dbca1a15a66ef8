package graft.crawl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Storage seam for the wave engine (SURVEY.md §7): a wave is either
  * fully visible or not at all, and the commit point is atomic.
  *
  * Bindings:
  *  - [[SnapshotStore]] — parquet dirs + atomic manifest rename; the
  *    sandbox/local binding, used by all tests and benches.
  *  - [[IcebergFrontierStore]] — the production binding over an
  *    Iceberg catalog (compile-time seam: written entirely against
  *    Spark's own `DataFrameWriterV2`/SQL surface so it compiles
  *    without Iceberg jars; RUNNING it needs
  *    `iceberg-spark-runtime` on the classpath and the catalog
  *    configured via `spark.sql.catalog.<name>`).
  */
trait FrontierStore extends Serializable {
  def isCommitted(wave: Int): Boolean

  /** Largest N such that waves 0..N are ALL committed (a gap means the
    * later commits are strays from an aborted future run). */
  def lastCommittedWave: Option[Int]

  /** Atomically commit a wave; `tables` maps table name → row count
    * (informational lineage). After this returns, readers see the wave. */
  def commit(wave: Int, tables: Map[String, Long]): Unit

  /** Drop commits AFTER `wave` (crash simulation / time travel). */
  def rollbackTo(wave: Int): Unit

  /** Write one table of one wave, without a row-count job (one Spark
    * action; the engine derives the counts it records). */
  def writeNoCount(df: DataFrame, table: String, wave: Int): Unit

  /** Write a bucket-keyed table PHYSICALLY PARTITIONED by its `bucket`
    * column, so later bucket-set probes prune at the partition level
    * (the seenurls anti-join build side). Default: plain write —
    * bindings that can partition should override. */
  def writeBucketed(df: DataFrame, table: String, wave: Int): Unit =
    writeNoCount(df, table, wave)

  /** Whether `table` has data for `wave` — exact at least for
    * COMMITTED waves (the only waves the engine asks about). Lets the
    * engine fall back when a LEGACY store predates a table (e.g. a
    * pre-seenurls store resumed by a newer engine): per-WAVE accuracy
    * matters, because a store upgraded mid-life has the table for new
    * waves but not the old ones, and claiming completeness there would
    * silently drop old committed urls from the dedup build side. */
  def hasTable(table: String, wave: Int): Boolean

  /** Read one table at one committed wave. */
  def read(spark: SparkSession, table: String, wave: Int): DataFrame

  /** Union of a delta table across all committed waves 0..upTo. */
  def readDeltas(spark: SparkSession, table: String, upTo: Int): Option[DataFrame]

  /** Union of a BUCKET-KEYED delta table across committed waves
    * 0..upTo, restricted to `buckets`. Bindings prune the physical read
    * to those buckets (leaf-directory selection on the local store,
    * partition pruning on Iceberg); the default filters a full read.
    * Only the table's DATA columns are guaranteed in the result (the
    * `bucket` partition column may be absent). */
  def readBuckets(spark: SparkSession, table: String, upTo: Int,
      buckets: Seq[Int]): Option[DataFrame] =
    readDeltas(spark, table, upTo).map(
      _.where(org.apache.spark.sql.functions.col("bucket")
        .isin(buckets.map(Int.box): _*)))

  /** EXACTLY ONE committed wave of a bucket-keyed table (contrast
    * [[readBuckets]]' 0..upTo union), restricted to `buckets` — the
    * recrawl-TTL eviction read, which must see precisely the inserts of
    * the expiring wave. Default implementation filters the union on the
    * table's own `wave` DATA column (seenurls carries it); bindings
    * with physical wave partitioning should read just that wave. */
  def readWaveBuckets(spark: SparkSession, table: String, wave: Int,
      buckets: Seq[Int]): Option[DataFrame] =
    readBuckets(spark, table, wave, buckets)
      .map(_.where(org.apache.spark.sql.functions.col("wave") === wave))
}

/** Iceberg production binding: each engine table is an Iceberg table
  * partitioned by an explicit `_wave` column; the commit point is an
  * append to the `graft_commits` manifest table (a single-table Iceberg
  * commit — atomic). Readers resolve waves only through committed
  * manifest rows, mirroring [[SnapshotStore]]'s manifest-rename
  * contract, so an aborted wave leaves orphan `_wave` partitions that
  * are never read and are replaced by `overwritePartitions` on re-run.
  *
  * At 10^10-URL scale the housekeeping the local binding doesn't need
  * is Iceberg's own: compact the articles table periodically
  * (`rewrite_data_files`) and expire orphan snapshots
  * (`expire_snapshots`) — see SCALE.md §9.
  */
final class IcebergFrontierStore(
    spark: SparkSession,
    catalog: String,
    namespace: String) extends FrontierStore {
  import IcebergFrontierStore.Sql

  private def fq(table: String) = Sql.fq(catalog, namespace, table)
  private def commits = fq(Sql.commitsTable)

  private def ensureCommits(): Unit =
    spark.sql(Sql.commitsDdl(commits))

  override def isCommitted(wave: Int): Boolean = {
    ensureCommits()
    !spark.table(commits).where(Sql.committedFilter(wave)).isEmpty
  }

  override def lastCommittedWave: Option[Int] = {
    // ONE scan of the commits table (was one isCommitted query + DDL
    // round-trip PER WAVE in a while loop — O(committed waves) Spark
    // jobs on every resume); the contiguous-prefix rule is applied to
    // the collected wave ids (bounded by the wave count, tiny).
    ensureCommits()
    val waves = spark.table(commits).select("wave").distinct()
      .collect().map(_.getInt(0)).sorted
    waves.zipWithIndex.takeWhile { case (w, i) => w == i }
      .lastOption.map(_._1)
  }

  override def commit(wave: Int, tables: Map[String, Long]): Unit = {
    ensureCommits()
    import org.apache.spark.sql.functions._
    val rows = tables.toSeq.map { case (t, n) => (wave, t, n) }
    spark.createDataFrame(rows).toDF("wave", "tbl", "rows")
      .withColumn("ts", current_timestamp())
      .writeTo(commits).append() // single Iceberg commit = the swap
  }

  override def rollbackTo(wave: Int): Unit = {
    ensureCommits()
    spark.sql(Sql.rollback(commits, wave))
  }

  private def writeTagged(df: DataFrame, table: String, wave: Int,
      bucketed: Boolean): Unit = {
    import org.apache.spark.sql.functions._
    val tagged = df.withColumn("_wave", lit(wave))
    val name = fq(table)
    if (!spark.catalog.tableExists(name)) {
      val parts = Sql.partitionCols(bucketed).map(col)
      tagged.writeTo(name).partitionedBy(parts.head, parts.tail: _*).create()
    } else {
      // upgraded-engine resume: a table created before a column landed
      // (seenurls.digest) must evolve before the by-name write
      val existing = spark.table(name).columns.toSet
      val missing = tagged.schema.fields.filterNot(f => existing(f.name))
      if (missing.nonEmpty)
        spark.sql(Sql.addColumns(name,
          missing.toSeq.map(f => (f.name, f.dataType.sql))))
      tagged.writeTo(name).overwritePartitions() // idempotent re-run
    }
  }

  override def writeNoCount(df: DataFrame, table: String, wave: Int): Unit =
    writeTagged(df, table, wave, bucketed = false)

  /** Bucket-keyed tables add `bucket` as a second partition column, so
    * the anti-join's bucket IN-filter (and [[readBuckets]]'s default
    * `bucket IN` pushdown) is Iceberg partition pruning. */
  override def writeBucketed(df: DataFrame, table: String, wave: Int): Unit =
    writeTagged(df, table, wave, bucketed = true)

  /** Per-WAVE, via the commits manifest — table existence alone would
    * claim completeness for waves that predate the table on an
    * upgraded store (see the trait scaladoc). The manifest row is
    * written for every table at [[commit]], so (wave, tbl) presence ⇔
    * that wave's write happened. */
  override def hasTable(table: String, wave: Int): Boolean = {
    ensureCommits()
    spark.catalog.tableExists(fq(table)) &&
      !spark.table(commits).where(Sql.hasTableFilter(table, wave)).isEmpty
  }

  override def read(spark: SparkSession, table: String, wave: Int): DataFrame = {
    require(isCommitted(wave), s"wave $wave not committed")
    spark.table(fq(table)).where(Sql.waveFilter(wave)).drop("_wave")
  }

  override def readDeltas(spark: SparkSession, table: String,
      upTo: Int): Option[DataFrame] = {
    if (!spark.catalog.tableExists(fq(table))) return None
    val committed = (0 to upTo).filter(isCommitted)
    if (committed.isEmpty) None
    else Some(spark.table(fq(table))
      .where(Sql.deltaFilter(committed)).drop("_wave"))
  }
}

object IcebergFrontierStore {
  /** Every SQL statement, identifier and filter string the binding
    * emits, as PURE functions — the sandbox has no Iceberg runtime jars
    * (verified: /opt/spark/jars), so the binding cannot execute here;
    * golden-pinning this text (IcebergSeamSpec) plus the SCALE.md §10
    * one-command cluster smoke test is what makes the seam falsifiable
    * offline. Everything else the class does goes through Spark's own
    * `DataFrameWriterV2`/catalog surface, which compiles and is
    * exercised by the SnapshotStore binding's shared engine tests. */
  private[graft] object Sql {
    val commitsTable = "graft_commits"

    def fq(catalog: String, namespace: String, table: String): String =
      s"$catalog.$namespace.$table"

    /** The commit point: one append to this table = one atomic Iceberg
      * snapshot swap. Schema must stay in lockstep with [[commit]]'s
      * DataFrame columns. */
    def commitsDdl(commits: String): String =
      s"CREATE TABLE IF NOT EXISTS $commits " +
        "(wave INT, tbl STRING, rows BIGINT, ts TIMESTAMP) USING iceberg"

    def rollback(commits: String, wave: Int): String =
      s"DELETE FROM $commits WHERE wave > $wave"

    def committedFilter(wave: Int): String = s"wave = $wave"

    def hasTableFilter(table: String, wave: Int): String = {
      require(!table.contains("'"), s"unsafe table name: $table")
      s"wave = $wave AND tbl = '$table'"
    }

    def waveFilter(wave: Int): String = s"_wave = $wave"

    def deltaFilter(waves: Seq[Int]): String =
      s"_wave IN (${waves.mkString(",")})"

    /** Partition spec per table kind; `_wave` first so wave-level
      * overwrite/prune stays coarse, `bucket` second for the seenurls
      * anti-join pruning. */
    def partitionCols(bucketed: Boolean): Seq[String] =
      if (bucketed) Seq("_wave", "bucket") else Seq("_wave")

    /** Schema evolution for stores created by an OLDER engine: add the
      * data columns the existing table predates (e.g. the round-4
      * `seenurls.digest`) before the by-name v2 write — without it,
      * `overwritePartitions` on a 4-column table with 5 data columns
      * is an AnalysisException and resume fails. Iceberg ADD COLUMNS
      * is a metadata-only commit; existing rows read the new column as
      * null, which is exactly the legacy-rows-mean-changed contract. */
    def addColumns(name: String, cols: Seq[(String, String)]): String = {
      require(cols.nonEmpty)
      cols.foreach { case (n, t) =>
        require(n.matches("[A-Za-z_][A-Za-z0-9_]*"), s"unsafe column: $n")
        require(t.matches("[A-Za-z0-9_<>(), ]+"), s"unsafe type: $t")
      }
      s"ALTER TABLE $name ADD COLUMNS " +
        s"(${cols.map { case (n, t) => s"$n $t" }.mkString(", ")})"
    }
  }
}
