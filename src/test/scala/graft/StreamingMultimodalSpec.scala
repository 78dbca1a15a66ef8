package graft

import java.sql.Timestamp

import graft.ops.Multimodal
import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class StreamingMultimodalSpec extends AnyFunSuite {

  lazy val spark = LocalSpark.session(4)

  private def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

  test("streaming windowed counts with watermark (MemoryStream)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = StreamOps.windowedEventCounts(df, "10 minutes", "30 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    mem.addData((ts(1), "click", 1.0), (ts(2), "click", 2.0),
      (ts(11), "click", 4.0), (ts(3), "buy", 8.0))
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT event_type, n, total FROM win_counts ORDER BY win_start, event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    q.stop()
    assert(rows.toSeq == Seq(("buy", 1L, 8.0), ("click", 2L, 3.0), ("click", 1L, 4.0)))
  }

  test("streaming URL-seen dedup drops in-watermark duplicates") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val df = mem.toDF().toDF("ts", "url")
    val q = StreamOps.streamingSeenFilter(df, "1 hour")
      .writeStream.format("memory").queryName("dedup_urls")
      .outputMode("append").start()
    mem.addData((ts(1), "http://a/1"), (ts(2), "http://a/1"),
      (ts(3), "http://a/2"))
    q.processAllAvailable()
    val n = spark.sql("SELECT count(*) FROM dedup_urls").head().getLong(0)
    q.stop()
    assert(n == 2)
  }

  test("streaming politeness admission enforces per-host budget") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[StreamOps.HostEvent]
    val q = StreamOps.politenessAdmission(mem.toDS(), maxPerWindow = 2,
      windowMs = 60000L)
      .writeStream.format("memory").queryName("admission")
      .outputMode("append").start()
    mem.addData(
      StreamOps.HostEvent("h1", "u1", ts(1)),
      StreamOps.HostEvent("h1", "u2", ts(1)),
      StreamOps.HostEvent("h1", "u3", ts(1)), // over budget in window
      StreamOps.HostEvent("h2", "u4", ts(1)),
      StreamOps.HostEvent("h1", "u5", ts(3))) // next window, admitted
    q.processAllAvailable()
    val rows = spark.sql("SELECT url, admitted FROM admission ORDER BY url")
      .collect().map(r => (r.getString(0), r.getBoolean(1)))
    q.stop()
    assert(rows.toSeq == Seq("u1" -> true, "u2" -> true, "u3" -> false,
      "u4" -> true, "u5" -> true))
  }

  test("continuous-ingest crawl: each micro-batch commits one wave") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // micro-plan sizes: avoid per-batch janino compiles (SCALE.md §8)
    LocalSpark.withConf(spark, LocalSpark.MicroWaveConfs: _*) {
      val fx = crawl.FixtureCfg(nHosts = 12, baseArticles = 4,
        growthPerWave = 2, hotHostFactor = 2)
      val cc = crawl.CrawlConfig(hostBuckets = 4, salt = 2,
        expectedUrlsPerBucket = 1024, cuckooCapacityPerBucket = 2048)
      val store = new crawl.SnapshotStore(
        TempDirs.cleanupOnExit(java.nio.file.Files.createTempDirectory("streamcrawl").toString))
      val mem = MemoryStream[crawl.Page]
      val q = graft.streaming.CrawlStream.start(spark, store, mem.toDS(),
        crawl.FixtureGen.hosts(spark, fx), crawl.FixtureGen.robots(spark, fx),
        cc, TempDirs.cleanupOnExit(java.nio.file.Files.createTempDirectory("streamck").toString),
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      try {
        mem.addData(crawl.FixtureGen.pages(spark, fx, 0).collect().toSeq)
        q.processAllAvailable()
        assert(store.lastCommittedWave.contains(0))
        mem.addData(crawl.FixtureGen.pages(spark, fx, 1).collect().toSeq)
        q.processAllAvailable()
        assert(store.lastCommittedWave.contains(1))
        val arts = store.readDeltas(spark, "articles", 1).get
        assert(arts.count() > 0)
        // wave ids came from batch ids; per-wave metrics exist for both
        assert(store.read(spark, "metrics", 0).count() > 0)
        assert(store.read(spark, "metrics", 1).count() > 0)
      } finally q.stop()
    }
  }

  test("multimodal decode/features/frames are deterministic and shaped") {
    import spark.implicits._
    import graft.ops.MediaHeaders
    val media = Seq(
      (1L, "image", MediaHeaders.jpegBytes(640, 480)),
      (2L, "video", MediaHeaders.aviBytes(1280, 720, 40000L, 250L)),
      (3L, "audio", MediaHeaders.wavBytes(16000, 1, 2000L)),
      (4L, "image", Array.tabulate(1000)(_.toByte))) // not a container
      .toDF("doc_id", "kind", "media")
    val info = Multimodal.decode(media).collect().sortBy(_.doc_id)
    assert(info.map(_.container).toSeq == Seq("jpeg", "avi", "wav", "unknown"))
    assert(info(0).width == 640 && info(0).height == 480
      && info(0).duration_ms == 0L)
    assert(info(1).width == 1280 && info(1).height == 720
      && info(1).duration_ms == 10000L)
    assert(info(2).width == 0 && info(2).duration_ms == 2000L)
    assert(info(3).width == 0 && info(3).n_bytes == 1000L)
    // determinism: second run produces identical rows
    assert(Multimodal.decode(media).collect().sortBy(_.doc_id).toSeq ==
      info.toSeq)

    val feats = Multimodal.features(media, dim = 8).collect()
    assert(feats.length == 4)
    assert(feats.forall(_.getAs[Seq[Float]]("feature").size == 8))

    val frames = Multimodal.sampleFrames(media, n = 4)
    val fr = frames.collect()
    assert(fr.length == 4 && fr.forall(_.getAs[Long]("doc_id") == 2L))

    // size balancing keeps all rows
    assert(Multimodal.balanceBySize(media, 2).count() == 4)
  }

  test("registered SQL functions back the same core implementations") {
    GraftFunctions.registerAll(spark)
    val r = spark.sql(
      """SELECT url_canon('HTTP://A.COM:80/x%2fy#f') AS c,
        |       url_host('https://U@B.com:8080/p') AS h,
        |       normalize_text('  a   b ') AS t,
        |       extract_title('<html><head><title>T1</title></head></html>') AS ti
        |""".stripMargin).head()
    assert(r.getString(0) == "http://a.com/x%2Fy")
    assert(r.getString(1) == "b.com")
    assert(r.getString(2) == "a b")
    assert(r.getString(3) == "T1")
    // media probes route to MediaHeaders and fail closed in SQL too
    import spark.implicits._
    val m = Seq((graft.ops.MediaHeaders.jpegBytes(320, 200),
        "not a container".getBytes("UTF-8")))
      .toDF("jpg", "junk")
    m.withColumn("nul",
        org.apache.spark.sql.functions.lit(null).cast("binary"))
      .createOrReplaceTempView("media_probe_fixture")
    val p = spark.sql(
      """SELECT media_container(jpg) AS c, media_width(jpg) AS w,
        |       media_height(jpg) AS h, media_duration_ms(jpg) AS d,
        |       media_container(junk) AS junk_c, media_width(junk) AS junk_w,
        |       media_container(nul) AS nul_c,
        |       media_probe(jpg).container AS pc, media_probe(jpg).width AS pw
        |FROM media_probe_fixture""".stripMargin).head()
    assert(p.getString(0) == "jpeg" && p.getInt(1) == 320
      && p.getInt(2) == 200 && p.getLong(3) == 0L)
    assert(p.getString(4) == "unknown" && p.getInt(5) == 0)
    // NULL blob: unknown/0, never an NPE (reference-typed UDF params
    // receive null); the struct probe parses once for all fields
    assert(p.getString(6) == "unknown")
    assert(p.getString(7) == "jpeg" && p.getInt(8) == 320)
  }

  test("kmv sketch aggregates in a streaming query (frontier cardinality monitor)") {
    import spark.implicits._
    import org.apache.spark.sql.{Encoders, functions => F}
    implicit val sq = spark.sqlContext
    // the monitoring shape at a live frontier: distinct-url estimates
    // per host group, updated per micro-batch with bounded state —
    // the typed Aggregator must merge across micro-batches exactly as
    // it does across partitions
    val mem = MemoryStream[(String, Long)]
    val kmv = F.udaf(new graft.ops.Sketches.KmvAgg(16), Encoders.scalaLong)
    val q = mem.toDF().toDF("grp", "key")
      .select(F.col("grp"), graft.ops.Sketches.kmvHash(F.col("key")).as("h"))
      .groupBy("grp").agg(kmv(F.col("h")).as("kmv"))
      .select(F.col("grp"), F.col("kmv.nMins").as("n_mins"),
        F.col("kmv.est").as("est"))
      .writeStream.format("memory").queryName("kmv_stream")
      .outputMode("complete").start()
    // two micro-batches; 10 distinct keys total for "a" (below k=16 →
    // exact), 40 for "b" (above k → estimator path)
    mem.addData((1L to 5L).map(i => ("a", i)) ++
      (1L to 20L).map(i => ("b", i * 7L)): _*)
    q.processAllAvailable()
    mem.addData((3L to 10L).map(i => ("a", i)) ++
      (21L to 40L).map(i => ("b", i * 7L)): _*)
    q.processAllAvailable()
    val rows = spark.sql("SELECT grp, n_mins, est FROM kmv_stream")
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getLong(2))).toMap
    q.stop()
    assert(rows("a") == ((10, 10L)), s"below-k group must be exact: ${rows("a")}")
    assert(rows("b")._1 == 16, "above-k group must saturate the sketch")
    assert(math.abs(rows("b")._2 - 40L).toDouble / 40.0 < 0.6,
      s"streamed estimate out of regime: ${rows("b")}")
    // the streamed sketch must equal the batch sketch over the same data
    val batch = graft.ops.Sketches.kmvDistinct(
      ((1L to 10L).map(i => ("a", i)) ++
        (1L to 40L).map(i => ("b", i * 7L))).toDF("grp", "key"),
      F.col("grp"), F.col("key"), 16)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Int]("n_mins"), r.getAs[Long]("distinct_est"))).toMap
    assert(rows == batch, s"stream $rows vs batch $batch")
  }
}
