package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import graft.sources.Warc
import org.scalatest.funsuite.AnyFunSuite

class WarcSpec extends AnyFunSuite {

  lazy val spark = LocalSpark.session(4)

  private def parse(bytes: Array[Byte]): List[graft.sources.WarcRow] =
    new Warc.RecordIterator(new ByteArrayInputStream(bytes), "t.warc").toList

  private def record(url: String, body: String,
                     ts: String = "2024-01-01T00:00:00Z"): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    Warc.writeRecords(out,
      Iterator(Warc.Doc(url, ts, body.getBytes(UTF_8))))
    out.toByteArray
  }

  test("round-trip: writer bytes parse back to the same record") {
    val rows = parse(record("http://a.example/x", "<html>hi</html>"))
    assert(rows.size == 1)
    val r = rows.head
    assert(r.rec_type == "response")
    assert(r.url == "http://a.example/x")
    assert(r.warc_ts.toInstant.toString == "2024-01-01T00:00:00Z")
    assert(r.http_status.contains(200))
    assert(r.content_type == "text/html; charset=utf-8")
    assert(new String(r.html, UTF_8) == "<html>hi</html>")
    assert(r.rec_offset == 0L)
  }

  test("framing is length-based: a body containing 'WARC/1.0' lines " +
      "cannot desynchronize the parser") {
    val trap = "pre\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Length: 9999\r\n\r\npost"
    val bytes = record("http://a/1", trap) ++ record("http://a/2", "ok")
    val rows = parse(bytes)
    assert(rows.map(_.url) == List("http://a/1", "http://a/2"))
    assert(new String(rows.head.html, UTF_8) == trap)
  }

  test("offsets and lengths tile the stream exactly") {
    val r1 = record("http://a/1", "x" * 100)
    val r2 = record("http://b/22", "y" * 5)
    val r3 = record("http://c/333", "")
    val rows = parse(r1 ++ r2 ++ r3)
    assert(rows.map(_.rec_offset) ==
      List(0L, r1.length.toLong, (r1.length + r2.length).toLong))
    assert(rows.map(_.rec_len) ==
      List(r1.length.toLong, r2.length.toLong, r3.length.toLong))
  }

  test("non-response records pass through typed, without HTTP fields") {
    val info = ("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
      "WARC-Date: 2024-01-01T00:00:00Z\r\nContent-Length: 6\r\n\r\n" +
      "a: b\r\n" + "\r\n\r\n").getBytes(UTF_8)
    val rows = parse(info ++ record("http://a/1", "ok"))
    assert(rows.map(_.rec_type) == List("warcinfo", "response"))
    val i = rows.head
    assert(i.url == null && i.http_status.isEmpty && i.content_type == null)
    assert(new String(i.html, UTF_8) == "a: b\r\n")
    assert(rows(1).rec_offset == info.length.toLong)
  }

  test("multi-member gzip (Common Crawl layout) reads end-to-end") {
    val out = new ByteArrayOutputStream()
    Warc.writeRecords(out, Iterator(
      Warc.Doc("http://a/1", "2024-01-01T00:00:00Z", "one".getBytes(UTF_8)),
      Warc.Doc("http://a/2", "2024-01-01T00:01:00Z", "two".getBytes(UTF_8))),
      gzipPerRecord = true)
    val in = new java.util.zip.GZIPInputStream(
      new ByteArrayInputStream(out.toByteArray))
    val rows = new Warc.RecordIterator(in, "t.warc.gz").toList
    assert(rows.map(r => new String(r.html, UTF_8)) == List("one", "two"))
    // decompressed-stream coordinates: second record starts where the
    // first one's plain serialization ends
    assert(rows(1).rec_offset == rows.head.rec_len)
  }

  test("truncated payload fails loudly, not silently short") {
    val whole = record("http://a/1", "full body text")
    val cut = whole.take(whole.length - 10)
    val e = intercept[Exception](parse(cut))
    assert(e.getMessage.contains("t.warc"))
  }

  test("payload/Content-Length disagreement fails the trailer check") {
    val s = "WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: http://a/1\r\nContent-Length: 3\r\n\r\n" +
      "abcdef\r\n\r\n" // 3 declared, 6 present
    val e = intercept[IllegalArgumentException](parse(s.getBytes(UTF_8)))
    assert(e.getMessage.contains("trailer"))
  }

  test("missing Content-Length fails loudly") {
    val s = "WARC/1.0\r\nWARC-Type: response\r\n\r\nxx\r\n\r\n"
    val e = intercept[IllegalArgumentException](parse(s.getBytes(UTF_8)))
    assert(e.getMessage.contains("Content-Length"))
  }

  test("HTTP payload without a head/body break yields empty body") {
    val payload = "HTTP/1.1 304 Not Modified\r\nServer: x"
    val s = "WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: http://a/1\r\n" +
      "Content-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n$payload\r\n\r\n"
    val rows = parse(s.getBytes(UTF_8))
    assert(rows.head.http_status.contains(304))
    assert(rows.head.html.isEmpty)
  }

  test("distributed sink: per-partition .warc.gz segments round-trip") {
    import org.apache.spark.sql.functions._
    val dir = TempDirs.cleanupOnExit(
      java.nio.file.Files.createTempDirectory("warcsink").toString)
    val pages = spark.range(0, 37).select(
      concat(lit("http://h"), col("id") % 5, lit(".example/p"), col("id"))
        .as("url"),
      expr("timestamp'2024-02-02 10:00:00'").as("warc_ts"),
      encode(concat(lit("body-"), col("id")), "UTF-8").as("html"))
    Warc.write(pages.repartition(3, col("url")), dir)
    val files = new java.io.File(dir).list().sorted.toList
      .filterNot(_.startsWith(".")) // TempDirs owner marker
    assert(files.size == 3 && files.forall(_.endsWith(".warc.gz")), files)
    val back = Warc.read(spark, dir + "/*")
      .select(col("url"), decode(col("html"), "UTF-8").as("b"))
    val want = pages.select(col("url"),
      decode(col("html"), "UTF-8").as("b"))
    assert(back.count() == 37)
    assert(back.except(want).isEmpty && want.except(back).isEmpty)
  }

  test("deduplicating sink: repeated payloads become revisit records " +
      "that round-trip with refers-to coordinates") {
    import org.apache.spark.sql.functions._
    val dir = TempDirs.cleanupOnExit(
      java.nio.file.Files.createTempDirectory("warcdedup").toString)
    // 12 captures over 6 urls: crawl 1 fetches u0..u5, crawl 2
    // re-fetches all six but only u0/u3 changed — so 8 distinct
    // payloads, 4 revisit records
    val pages = spark.range(0, 12).select(
      concat(lit("http://h.example/p"), col("id") % 6).as("url"),
      expr("timestampadd(DAY, CAST(id DIV 6 AS INT), " +
        "timestamp'2024-02-02 10:00:00')").as("warc_ts"),
      encode(concat(lit("body-"), col("id") % 6,
        when(col("id") >= 6 && (col("id") % 6).isin(0, 3), lit("-v2"))
          .otherwise(lit(""))), "UTF-8").as("html"))
    val cls = Warc.archiveDeduped(pages, dir, segments = 2)
    val byKind = cls.groupBy("rec_kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byKind == Map("response" -> 8L, "revisit" -> 4L))
    // storage accounting: saved bytes = the 4 unchanged re-fetches
    val saved = cls.agg(sum("saved_len")).head.getLong(0)
    assert(saved == 4L * "body-0".length)
    // the archive reads back: 8 response records carry the 8 distinct
    // payloads, 4 revisit records carry zero payload
    val back = Warc.read(spark, dir + "/*")
    val kinds = back.groupBy("rec_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kinds == Map("response" -> 8L, "revisit" -> 4L))
    val bodies = back.where(col("rec_type") === "response")
      .select(decode(col("html"), "UTF-8")).collect().map(_.getString(0))
    assert(bodies.toSet ==
      (0 to 5).map(i => s"body-$i").toSet ++ Set("body-0-v2", "body-3-v2"))
    assert(back.where(col("rec_type") === "revisit")
      .select(max(octet_length(col("html")))).head.getInt(0) == 0)
    // revisit headers carry the original's coordinates (WARC 1.1
    // identical-payload-digest profile) — check the raw record text
    val raw = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).sortBy(_.getName)
      .map { f =>
        val in = new java.util.zip.GZIPInputStream(
          new java.io.FileInputStream(f))
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      }.mkString
    val revisits = raw.split("WARC/1\\.0\r\n").toList
      .filter(_.startsWith("WARC-Type: revisit"))
    assert(revisits.size == 4)
    revisits.foreach { r =>
      assert(r.contains("WARC-Profile: http://netpreserve.org/warc/1.0/" +
        "revisit/identical-payload-digest"), r.take(400))
      assert(r.contains("WARC-Refers-To-Target-URI: http://h.example/p"),
        r.take(400))
      assert(r.contains("WARC-Refers-To-Date: 2024-02-02T10:00:00Z"),
        r.take(400))
      assert(r.contains("WARC-Payload-Digest: urn:md5:"), r.take(400))
    }
  }

  test("Spark read: mixed .warc and .warc.gz directory, distributed") {
    val dir = TempDirs.cleanupOnExit(
      java.nio.file.Files.createTempDirectory("warcspec").toString)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Warc.synthesizeFromDocs(docs, dir)
    val got = Warc.read(spark, dir + "/*")
    val n = docs.count()
    assert(got.count() == n)
    // every doc's body bytes survive the round trip bit-for-bit
    import org.apache.spark.sql.functions._
    val back = got.select(col("url"), md5(col("html")).as("h"))
    import spark.implicits._
    val want = docs.select(col("doc_id").cast("long"), col("source"),
        col("text"))
      .as[(Long, String, String)]
      .map { case (id, src, text) =>
        (Warc.docUrl(id, src), Warc.md5Hex(Warc.docBody(id, text))) }
      .toDF("url", "h")
    assert(back.except(want).isEmpty && want.except(back).isEmpty)
  }

  test("WET sink round-trips conversion records through the same reader") {
    import spark.implicits._
    // the extracted-text sidecar: conversion records, plain-text
    // payload, parsed by the SAME reader with no special casing —
    // including multi-byte UTF-8 (Content-Length counts BYTES)
    val df = Seq(
      ("http://a.example.org/1",
        java.sql.Timestamp.valueOf("2024-01-01 00:05:00"),
        "plain text body"),
      ("http://b.example.org/2",
        java.sql.Timestamp.valueOf("2024-01-01 00:06:00"),
        "\u4e2d\u6587 text \u20ac"))
      .toDF("url", "warc_ts", "text")
    val dir = TempDirs.cleanupOnExit(java.nio.file.Files.createTempDirectory("wettest").toString)
    Warc.writeWet(df.repartition(2), dir)
    val back = Warc.read(spark, dir + "/*").collect()
    assert(back.length == 2)
    assert(back.forall(_.getAs[String]("rec_type") == "conversion"))
    assert(back.forall(r => r.isNullAt(r.fieldIndex("http_status"))),
      "conversion records carry no HTTP envelope")
    val byUrl = back.map(r => r.getAs[String]("url") ->
      new String(r.getAs[Array[Byte]]("html"), UTF_8)).toMap
    assert(byUrl("http://a.example.org/1") == "plain text body")
    assert(byUrl("http://b.example.org/2") == "\u4e2d\u6587 text \u20ac")
    val ts = back.map(_.getAs[java.sql.Timestamp]("warc_ts")).map(_.toString).sorted
    assert(ts.toSeq == Seq("2024-01-01 00:05:00.0", "2024-01-01 00:06:00.0"))
  }

  test("WAT sink round-trips metadata records; escaping survives a JSON re-parse") {
    import spark.implicits._
    val df = Seq(
      ("http://a.example.org/1",
        java.sql.Timestamp.valueOf("2024-01-01 00:05:00"),
        """title with "quote" and back\\slash""",
        Seq("http://a.example.org/2", "http://b.example.org/x")))
      .toDF("url", "warc_ts", "title", "links")
    val dir = TempDirs.cleanupOnExit(java.nio.file.Files.createTempDirectory("wattest").toString)
    Warc.writeWat(df, dir)
    val back = Warc.read(spark, dir + "/*").collect()
    assert(back.length == 1 && back.head.getAs[String]("rec_type") == "metadata")
    val json = new String(back.head.getAs[Array[Byte]]("html"), UTF_8)
    // the canonical payload must re-parse (escape correctness) and carry
    // the exact fields in the fixed key order
    val obj = graft.core.MiniJson.parse(json)
      .asInstanceOf[Map[String, Any]]
    assert(obj("url") == "http://a.example.org/1")
    assert(obj("ts") == "2024-01-01T00:05:00Z")
    assert(obj("title") == """title with "quote" and back\\slash""")
    assert(obj("links") == Vector("http://a.example.org/2", "http://b.example.org/x"))
    assert(json.startsWith("""{"url":"""), "fixed key order is the contract")
  }

  test("a sink that throws mid-record still ends the gzip member's Deflater") {
    // accepts the 10-byte gzip header, then fails like a full disk
    val failing = new java.io.OutputStream {
      private var n = 0
      def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        n += len
        if (n > 10) throw new java.io.IOException("disk full")
      }
    }
    class Probe(out: java.io.OutputStream) extends Warc.MemberGzip(out) {
      def ended: Boolean =
        try { `def`.getBytesRead; false }
        catch { case _: NullPointerException => true } // "Deflater has been closed"
    }
    assert(!new Probe(new ByteArrayOutputStream()).ended, "probe sees a live Deflater")
    val payload = new Array[Byte](1 << 20) // incompressible: deflate emits mid-write
    new scala.util.Random(7).nextBytes(payload)
    val member = new Probe(failing)
    val err = intercept[java.io.IOException](
      Warc.writeMember(member, "WARC/1.0\r\n".getBytes(UTF_8), payload))
    assert(err.getMessage == "disk full")
    assert(member.ended, "the member's native zlib state must be released on error")
  }
}
