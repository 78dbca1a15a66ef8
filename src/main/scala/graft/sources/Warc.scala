package graft.sources

import java.io.{BufferedInputStream, ByteArrayOutputStream, EOFException,
  InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, first, lit, md5, octet_length,
  row_number, when}

/** One parsed WARC record, as the reader emits it.
  *
  * `rec_offset`/`rec_len` are byte coordinates in the (decompressed)
  * record stream — for a plain `.warc` file these are file offsets
  * usable for direct `seek` random access (the CDX-index pattern); for
  * a `.warc.gz` they are logical-stream coordinates (member-level
  * compressed offsets would need gzip framing awareness, noted on
  * [[Warc.read]]).
  *
  * For `response` records carrying an HTTP payload, `html` is the HTTP
  * BODY (the fetched page bytes), `http_status`/`content_type` come
  * from the embedded HTTP response head; for every other record type
  * `html` is the raw payload and the HTTP fields are null. */
final case class WarcRow(
    warc_file: String,
    rec_offset: Long,
    rec_len: Long,
    rec_type: String,
    url: String,
    warc_ts: Timestamp,
    http_status: Option[Int],
    content_type: String,
    html: Array[Byte])

/** WARC (ISO 28500) ingestion — the file format a web-scale text corpus
  * actually arrives in (Common Crawl ships ~90 000 × ~1 GB `.warc.gz`
  * segments per monthly crawl). The reference crawls live HTTP and
  * never touches WARC; the north rule's input_hint table
  * `(url, warc_ts, html, …)` is exactly one WARC `response` record per
  * row, so this reader is the missing first stage: raw archive bytes →
  * the engine's page table.
  *
  * Format essentials (public spec, ISO 28500 / WARC/1.0): a file is a
  * sequence of records; each record is CRLF-terminated header lines
  * (`WARC/1.0`, then `Name: value` fields) — a blank line — exactly
  * `Content-Length` payload bytes — `\r\n\r\n`. Framing is LENGTH-BASED:
  * the parser never scans payload bytes for a magic string, so a body
  * containing the literal text `WARC/1.0` cannot desynchronize it
  * (spec-pinned in WarcSpec). A `response` record's payload is a full
  * HTTP response (status line + headers + blank + body).
  *
  * Scale shape: the unit of parallelism is the FILE (one stream-parse
  * task per archive segment), matching how the corpus is sharded —
  * ~1 GB segments × tens of thousands, far more than any executor
  * count, so file-level parallelism saturates a 1000-executor cluster
  * with zero skew coordination. Parsing is single-pass streaming over
  * `PortableDataStream` (constant memory: one record buffered at a
  * time, never the file), and `.gz` segments decompress through the
  * same path — JDK `GZIPInputStream` reads concatenated members, which
  * is precisely Common Crawl's record-per-member layout. Uncompressed
  * WARCs could additionally be SPLIT within a file by resynchronizing
  * on record boundaries, but at 10⁵ input files that adds complexity
  * for no parallelism the file count doesn't already provide. */
object Warc {

  private val dateFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
      .withZone(java.time.ZoneOffset.UTC)

  /** Read a glob of `.warc` / `.warc.gz` files into a DataFrame of
    * [[WarcRow]]. Malformed framing (missing `Content-Length`,
    * truncated payload, absent record trailer) fails LOUDLY with file
    * and offset — an archive that desynchronizes must never yield
    * silently wrong pages. */
  def read(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    spark.sparkContext.binaryFiles(pathGlob)
      .flatMap { case (path, pds) =>
        val name = path.substring(path.lastIndexOf('/') + 1)
        val raw = pds.open()
        val in: InputStream =
          if (name.endsWith(".gz")) new GZIPInputStream(raw, 1 << 16)
          else raw
        val it = new RecordIterator(in, name)
        // a task that stops mid-file (limit, failure) must still close
        // the stream; normal exhaustion closes it in hasNext
        Option(TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => it.close()))
        it
      }
      .toDS().toDF()
  }

  /** Streaming record parser: one record in memory at a time. */
  private[graft] final class RecordIterator(in: InputStream, file: String)
      extends Iterator[WarcRow] with AutoCloseable {
    private val buf = new BufferedInputStream(in, 1 << 16)
    private var pos = 0L
    private var nextRow: WarcRow = _
    private var done = false
    private var closed = false

    override def close(): Unit =
      if (!closed) { closed = true; buf.close() }

    override def hasNext: Boolean = {
      if (nextRow == null && !done) advance()
      if (done) close()
      nextRow != null
    }

    override def next(): WarcRow = {
      if (!hasNext) throw new NoSuchElementException(file)
      val r = nextRow; nextRow = null; r
    }

    private def read1(): Int = {
      val b = buf.read(); if (b >= 0) pos += 1; b
    }

    /** One CRLF-terminated header line as UTF-8 (spec: header lines may
      * carry UTF-8); null at EOF before any byte. */
    private def readLine(): String = {
      var b = read1()
      if (b < 0) return null
      val out = new ByteArrayOutputStream(80)
      while (b >= 0 && b != '\n') { out.write(b); b = read1() }
      val bytes = out.toByteArray
      val n = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r')
        bytes.length - 1 else bytes.length
      new String(bytes, 0, n, UTF_8)
    }

    private def readFully(n: Long): Array[Byte] = {
      require(n <= Int.MaxValue, s"$file: record payload over 2 GiB")
      val out = new Array[Byte](n.toInt)
      var off = 0
      while (off < n) {
        val k = buf.read(out, off, n.toInt - off)
        if (k < 0) throw new EOFException(
          s"$file: truncated payload at offset $pos (wanted $n bytes)")
        off += k; pos += k
      }
      out
    }

    private def advance(): Unit = {
      // skip stray blank lines between records, find the version line
      var line = readLine()
      while (line != null && line.isEmpty) line = readLine()
      if (line == null) { done = true; return }
      val offset0 = pos - (line.getBytes(UTF_8).length + 2)
      require(line.startsWith("WARC/"),
        s"$file: expected WARC version line at offset $offset0, got '$line'")
      // header fields until the blank line
      val h = scala.collection.mutable.HashMap.empty[String, String]
      var l = readLine()
      while (l != null && l.nonEmpty) {
        val i = l.indexOf(':')
        require(i > 0, s"$file: malformed header line '$l' near offset $pos")
        h(l.substring(0, i).trim.toLowerCase) = l.substring(i + 1).trim
        l = readLine()
      }
      require(l != null, s"$file: EOF inside record header (offset $pos)")
      val len = h.getOrElse("content-length", throw new IllegalArgumentException(
        s"$file: record at offset $offset0 has no Content-Length")).toLong
      val payload = readFully(len)
      // record trailer: exactly two CRLFs
      val t = new Array[Byte](4)
      var off = 0
      while (off < 4) {
        val k = buf.read(t, off, 4 - off)
        if (k < 0) throw new EOFException(
          s"$file: missing record trailer at offset $pos")
        off += k; pos += k
      }
      require(t.sameElements(Array[Byte]('\r', '\n', '\r', '\n')),
        s"$file: bad record trailer at offset ${pos - 4} " +
          s"(Content-Length and payload disagree)")
      val recType = h.getOrElse("warc-type", "unknown")
      val ts = h.get("warc-date").map(d =>
        Timestamp.from(Instant.parse(d))).orNull
      val isHttp = recType == "response" &&
        h.get("content-type").exists(_.startsWith("application/http"))
      val (status, ctype, body) =
        if (isHttp) splitHttp(payload) else (None, null, payload)
      nextRow = WarcRow(file, offset0, pos - offset0, recType,
        h.getOrElse("warc-target-uri", null), ts, status, ctype, body)
    }

    /** Split an HTTP response payload into (status, Content-Type, body)
      * at the first CRLFCRLF; a payload with no header/body break is
      * all head, empty body (matches curl/wget semantics). */
    private def splitHttp(p: Array[Byte]): (Option[Int], String, Array[Byte]) = {
      var i = 0
      var break = -1
      while (break < 0 && i + 3 < p.length) {
        if (p(i) == '\r' && p(i + 1) == '\n' && p(i + 2) == '\r' && p(i + 3) == '\n')
          break = i
        i += 1
      }
      val headEnd = if (break < 0) p.length else break
      val head = new String(p, 0, headEnd, UTF_8)
      val lines = head.split("\r\n")
      val status = lines.headOption
        .filter(_.startsWith("HTTP/")).flatMap(_.split(" ").lift(1))
        .flatMap(_.toIntOption)
      val ctype = lines.iterator.drop(1)
        .map(l => (l, l.indexOf(':')))
        .collectFirst { case (l, i) if i > 0 &&
          l.substring(0, i).trim.equalsIgnoreCase("content-type") =>
          l.substring(i + 1).trim }
        .orNull
      val body = if (break < 0) Array.emptyByteArray
        else java.util.Arrays.copyOfRange(p, break + 4, p.length)
      (status, ctype, body)
    }
  }

  // ---- writer (fixtures, tests, and the inverse sink) ----------------

  /** One `response` record to serialize: the page url, its fetch time
    * (ISO `yyyy-MM-ddTHH:mm:ssZ`), and the page bytes. */
  final case class Doc(url: String, tsIso: String, html: Array[Byte])

  private val CRLF = "\r\n".getBytes(UTF_8)

  private[graft] def md5Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map(x => f"$x%02x").mkString

  /** One gzip MEMBER over a shared underlying stream: `close()` would
    * close the whole segment after the first record, so members call
    * `finish()` + [[endDeflater]] — finish writes the trailer but only
    * `Deflater.end` releases the native zlib state, and per-record
    * members that rely on GC for that leak native memory faster than
    * heap pressure triggers collection (r5 review finding). */
  private[graft] class MemberGzip(out: OutputStream)
      extends GZIPOutputStream(out, 1 << 16) {
    def endDeflater(): Unit = `def`.end()
  }

  /** Frame ONE record (header bytes + payload parts + CRLF CRLF trailer)
    * onto `out`, as its own gzip member when `gzipPerRecord` — the one
    * definition of record framing shared by every serializer below. */
  private def writeFramed(out: OutputStream, gzipPerRecord: Boolean,
                          header: Array[Byte], parts: Array[Byte]*): Unit =
    if (gzipPerRecord) writeMember(new MemberGzip(out), header, parts: _*)
    else frame(out, header, parts)

  /** One record as gzip member `g`. The Deflater is ended on every exit
    * path: a sink that throws mid-record (a full disk, a killed task)
    * must not strand the native zlib state until GC. */
  private[graft] def writeMember(g: MemberGzip, header: Array[Byte],
                                 parts: Array[Byte]*): Unit =
    try { frame(g, header, parts); g.finish() }
    finally g.endDeflater()

  private def frame(sink: OutputStream, header: Array[Byte],
                    parts: Seq[Array[Byte]]): Unit = {
    sink.write(header)
    parts.foreach(sink.write)
    sink.write(CRLF); sink.write(CRLF)
  }

  /** The shared per-partition segment writer behind [[write]],
    * [[writeWet]], [[writeWat]] and [[archiveDeduped]]: one
    * `$dir/part-NNNNN.$ext` per non-empty partition, streamed through
    * the Hadoop FileSystem API with the SESSION's conf shipped to the
    * tasks (a bare `new Configuration()` executor-side would drop every
    * `spark.hadoop.*` setting — object-store credentials, endpoints —
    * silently breaking s3a/abfs targets on a real cluster), and no
    * `.crc` sidecars (gzip already detects corruption per member). */
  private def writeSegments[T](rows: org.apache.spark.sql.Dataset[T],
      dir: String, ext: String)(
      serialize: (OutputStream, Iterator[T]) => Unit): Unit = {
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      rows.sparkSession.sparkContext.hadoopConfiguration)
    rows.foreachPartition { (it: Iterator[T]) =>
      if (it.hasNext) {
        val pid = Option(TaskContext.get()).map(_.partitionId()).getOrElse(0)
        val path = new org.apache.hadoop.fs.Path(f"$dir/part-$pid%05d.$ext")
        val fs = path.getFileSystem(hadoopConf.value)
        fs.setWriteChecksum(false)
        val out = fs.create(path, true)
        try serialize(out, it) finally out.close()
      }
    }
  }

  /** Serialize `response` records in spec layout. With
    * `gzipPerRecord=true` each record is its own gzip member
    * (Common Crawl's `.warc.gz` layout — members concatenate into one
    * stream a plain `GZIPInputStream` reads end-to-end). */
  def writeRecords(out: OutputStream, docs: Iterator[Doc],
                   gzipPerRecord: Boolean = false): Unit =
    docs.foreach { d =>
      val httpHead =
        "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
          .getBytes(UTF_8)
      val payloadLen = httpHead.length + d.html.length
      val header =
        ("WARC/1.0\r\n" +
          "WARC-Type: response\r\n" +
          s"WARC-Record-ID: <urn:md5:${md5Hex(d.html)}>\r\n" +
          s"WARC-Date: ${d.tsIso}\r\n" +
          s"WARC-Target-URI: ${d.url}\r\n" +
          "Content-Type: application/http; msgtype=response\r\n" +
          s"Content-Length: $payloadLen\r\n" +
          "\r\n").getBytes(UTF_8)
      writeFramed(out, gzipPerRecord, header, httpHead, d.html)
    }

  /** Distributed WARC sink — the inverse of [[read]]: archive a page
    * table `(url string, warc_ts timestamp, html binary)` as WARC
    * segments, one `.warc.gz` (record-per-member, the layout [[read]]
    * and every public WARC tool consume) per non-empty partition.
    * This is the "archive the crawl" path: the engine's article/page
    * output becomes a corpus snapshot that round-trips through [[read]]
    * bit-for-bit (q74's oracle gate).
    *
    * Scale shape: pure per-partition streaming writes through the
    * Hadoop FileSystem API (works for file:// here, hdfs:///object
    * stores on a cluster) — no driver collection, no shuffle beyond
    * what the caller's partitioning already did; callers control
    * segment count/size with `repartition(n)` upstream. Record order
    * inside a segment follows partition iteration order; the format
    * carries no ordering contract (readers key on url/date), so the
    * round-trip compares as a SET. */
  def write(df: DataFrame, dir: String): Unit = {
    import org.apache.spark.sql.functions.{col, date_format}
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(
        col("url").cast("string"),
        date_format(col("warc_ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        col("html").cast("binary"))
      .as[(String, String, Array[Byte])]
    writeSegments(rows, dir, "warc.gz") { (out, it) =>
      writeRecords(out,
        it.map { case (u, ts, b) => Doc(u, ts, b) }, gzipPerRecord = true)
    }
  }

  /** One WET `conversion` record: the url, fetch time ISO, and the
    * EXTRACTED TEXT bytes (plain UTF-8, no HTTP envelope). */
  final case class WetDoc(url: String, tsIso: String, text: Array[Byte])

  /** Serialize WET `conversion` records — ISO 28500 §6.8's conversion
    * type in the layout of Common Crawl's `.wet.gz` extracted-text
    * sidecars: the payload is the page's extracted plain text, framed
    * identically to every other WARC record, so [[read]] parses WET
    * segments with no special casing (rec_type = `conversion`, payload
    * passed through verbatim). */
  def writeWetRecords(out: OutputStream, docs: Iterator[WetDoc],
                      gzipPerRecord: Boolean = false): Unit =
    docs.foreach { d =>
      val header =
        ("WARC/1.0\r\n" +
          "WARC-Type: conversion\r\n" +
          s"WARC-Record-ID: <urn:md5:${md5Hex(d.text)}>\r\n" +
          s"WARC-Date: ${d.tsIso}\r\n" +
          s"WARC-Target-URI: ${d.url}\r\n" +
          "Content-Type: text/plain\r\n" +
          s"Content-Length: ${d.text.length}\r\n" +
          "\r\n").getBytes(UTF_8)
      writeFramed(out, gzipPerRecord, header, d.text)
    }

  /** Distributed WET sink — the extracted-text sidecar of [[write]]:
    * archive `(url string, warc_ts timestamp, text string)` as
    * record-per-member `.wet.gz` segments, one per non-empty
    * partition. This is the "publish the corpus" path: the engine's
    * byte-identical extracted text (the per-row invariant the whole
    * pipeline is pinned to) becomes the training-data artifact a
    * Common-Crawl-style consumer actually downloads. Same
    * per-partition streaming shape as [[write]]: Hadoop FileSystem
    * API, no driver collection, no extra shuffle; segment count/size
    * via the caller's `repartition`. */
  def writeWet(df: DataFrame, dir: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, date_format, encode, lit}
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(
        col("url").cast("string"),
        date_format(col("warc_ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        // total over nullable real-crawl text: a null extraction
        // archives as an empty conversion record, never a task NPE
        encode(coalesce(col("text"), lit("")), "UTF-8"))
      .as[(String, String, Array[Byte])]
    writeSegments(rows, dir, "wet.gz") { (out, it) =>
      writeWetRecords(out,
        it.map { case (u, ts, b) => WetDoc(u, ts, b) }, gzipPerRecord = true)
    }
  }

  /** Canonical WAT payload JSON — FIXED key order and minimal escaping
    * (quote, backslash, control chars), so the payload bytes are a
    * deterministic function of the fields and an external SQL oracle
    * can reconstruct them by plain concatenation (fixture strings stay
    * escape-free there; the escape path itself is spec-pinned through
    * a MiniJson re-parse in WarcSpec). Full Common-Crawl WAT nests the
    * complete WARC/HTTP envelope; this carries the fields a frontier
    * pipeline actually consumes — url, ts, title, outlinks — under the
    * same record framing. */
  def watJson(url: String, tsIso: String, title: String,
              links: Seq[String]): String = {
    def esc(s: String): String = {
      val sb = new java.lang.StringBuilder(s.length + 8)
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.toString
    }
    s"""{"url":"${esc(url)}","ts":"$tsIso","title":"${esc(title)}",""" +
      links.map(l => "\"" + esc(l) + "\"")
        .mkString("\"links\":[", ",", "]}")
  }

  /** One WAT `metadata` record: the capture url/ts and its canonical
    * JSON payload bytes. */
  final case class WatDoc(url: String, tsIso: String, json: Array[Byte])

  /** Serialize WAT `metadata` records (ISO 28500 §6.6, Common Crawl's
    * `.wat.gz` sidecar shape): JSON payload, same framing as every
    * other record, so [[read]] parses WAT segments with no special
    * casing (rec_type = `metadata`, payload passed through). */
  def writeWatRecords(out: OutputStream, docs: Iterator[WatDoc],
                      gzipPerRecord: Boolean = false): Unit =
    docs.foreach { d =>
      val header =
        ("WARC/1.0\r\n" +
          "WARC-Type: metadata\r\n" +
          s"WARC-Record-ID: <urn:md5:${md5Hex(d.json)}>\r\n" +
          s"WARC-Date: ${d.tsIso}\r\n" +
          s"WARC-Target-URI: ${d.url}\r\n" +
          "Content-Type: application/json\r\n" +
          s"Content-Length: ${d.json.length}\r\n" +
          "\r\n").getBytes(UTF_8)
      writeFramed(out, gzipPerRecord, header, d.json)
    }

  /** Distributed WAT sink — the metadata sidecar completing the
    * Common-Crawl artifact trio ([[write]] WARC / this WAT /
    * [[writeWet]] WET): archive `(url string, warc_ts timestamp,
    * title string, links array<string>)` as `metadata` records, one
    * record-per-member `.wat.gz` segment per non-empty partition —
    * the link-graph/anchor data a frontier pipeline consumes without
    * downloading page bodies. Same per-partition streaming shape as
    * the other sinks. */
  def writeWat(df: DataFrame, dir: String): Unit = {
    import org.apache.spark.sql.functions.{array, coalesce, col, date_format, lit}
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(
        col("url").cast("string"),
        date_format(col("warc_ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        // total over nullable real-crawl metadata: a page with no
        // extractable title / no outlinks archives as ""/[] — a task
        // NPE on routine null columns is not an option for the
        // corpus-publishing path
        coalesce(col("title").cast("string"), lit("")),
        coalesce(col("links").cast("array<string>"),
          array().cast("array<string>")))
      .as[(String, String, String, Seq[String])]
    writeSegments(rows, dir, "wat.gz") { (out, it) =>
      writeWatRecords(out,
        it.map { case (u, ts, t, ls) =>
          WatDoc(u, ts, watJson(u, ts, t,
            ls.filter(_ != null)).getBytes(UTF_8)) },
        gzipPerRecord = true)
    }
  }

  // ---- revisit-record dedup (archive-level storage dedup) ------------

  /** Classify captures into `response` vs `revisit` records — the WARC
    * 1.1 `identical-payload-digest` revisit profile (ISO 28500-2017
    * §6.7.2, the dedup every large archive runs: Heritrix's
    * DeDuplicator, Common Crawl's dedup pass): when a capture's payload
    * digest has been archived before, the later capture is stored as a
    * slim `revisit` record pointing at the original (`WARC-Refers-To-
    * Target-URI`/`-Date`) instead of re-storing the bytes. Re-fetches
    * of unchanged pages — the bulk of any recrawl — then cost ~200
    * header bytes instead of the full page.
    *
    * First-capture rule: within a digest group, the earliest
    * `(warc_ts, url)` is the `response` (deterministic total order —
    * ties on timestamp break by url); every later capture becomes a
    * `revisit` carrying the original's url/ts. Cross-url duplicates
    * (mirrors, alias urls) dedup exactly like same-url re-fetches —
    * the profile keys on payload bytes, not the url.
    *
    * Scale shape: digest (16 bytes) and byte length are computed IN
    * the capture scan, so page bodies never ride the shuffle — the
    * window's one hash exchange moves slim (digest, url, ts, len)
    * rows only (PlanSpec pins join-free, single hash exchange). Skew
    * is bounded by payload popularity: a digest group is one page's
    * capture history, and the pathological case (an error page served
    * by a million hosts) still windows in one partition over slim rows.
    *
    * @param captures (url string, warc_ts timestamp, html string|binary)
    * @return one row per capture: url, warc_ts, digest, rec_kind
    *         ('response'|'revisit'), refers_to_url/refers_to_ts (null
    *         for responses), stored_len (payload bytes kept), saved_len
    *         (payload bytes the dedup avoided storing)
    */
  def revisitDedup(captures: DataFrame): DataFrame = {
    val slim = captures.select(
      col("url").cast("string").as("url"),
      col("warc_ts"),
      md5(col("html")).as("digest"),
      octet_length(col("html")).cast("long").as("page_len"))
    val w = Window.partitionBy("digest").orderBy(col("warc_ts"), col("url"))
    slim
      .withColumn("rn", row_number().over(w))
      .withColumn("f_url", first(col("url")).over(w))
      .withColumn("f_ts", first(col("warc_ts")).over(w))
      .select(col("url"), col("warc_ts"), col("digest"),
        when(col("rn") === 1, lit("response"))
          .otherwise(lit("revisit")).as("rec_kind"),
        when(col("rn") > 1, col("f_url")).as("refers_to_url"),
        when(col("rn") > 1, col("f_ts")).as("refers_to_ts"),
        when(col("rn") === 1, col("page_len")).otherwise(lit(0L))
          .as("stored_len"),
        when(col("rn") === 1, lit(0L)).otherwise(col("page_len"))
          .as("saved_len"))
  }

  /** One record for the deduplicating sink: `response` rows carry the
    * payload; `revisit` rows carry only the digest + the original's
    * coordinates (payload omitted per the revisit profile). */
  final case class ArchiveRec(url: String, tsIso: String,
      html: Array[Byte], kind: String, digest: String,
      refersToUrl: String, refersToTsIso: String)

  /** Serialize classified records: `response` rows in the [[Doc]]
    * layout, `revisit` rows as zero-payload records with the WARC 1.1
    * identical-payload-digest profile headers. */
  private[graft] def writeClassifiedRecords(out: OutputStream,
      recs: Iterator[ArchiveRec], gzipPerRecord: Boolean = false): Unit =
    recs.foreach { r =>
      if (r.kind == "response")
        writeRecords(out, Iterator(Doc(r.url, r.tsIso, r.html)),
          gzipPerRecord)
      else {
        val header =
          ("WARC/1.0\r\n" +
            "WARC-Type: revisit\r\n" +
            s"WARC-Record-ID: <urn:md5:${r.digest}>\r\n" +
            s"WARC-Date: ${r.tsIso}\r\n" +
            s"WARC-Target-URI: ${r.url}\r\n" +
            "WARC-Profile: http://netpreserve.org/warc/1.0/revisit/" +
            "identical-payload-digest\r\n" +
            s"WARC-Payload-Digest: urn:md5:${r.digest}\r\n" +
            s"WARC-Refers-To-Target-URI: ${r.refersToUrl}\r\n" +
            s"WARC-Refers-To-Date: ${r.refersToTsIso}\r\n" +
            "Content-Length: 0\r\n" +
            "\r\n").getBytes(UTF_8)
        writeFramed(out, gzipPerRecord, header)
      }
    }

  /** Deduplicating WARC sink — [[revisitDedup]] composed with [[write]]:
    * archive a capture table with every repeated payload stored once
    * (later captures as revisit records). Returns the classification
    * DataFrame so callers can audit the storage saving.
    *
    * Scale shape: the classification shuffles slim rows only; bodies
    * ride exactly ONE exchange — the equi-join on `(url, warc_ts)`
    * that co-locates each capture with its verdict, unavoidable for a
    * sink that must write winners' bytes — and revisit rows drop their
    * payload BEFORE the writer sees them. Callers control segment
    * count/size by repartitioning `captures` upstream (the join
    * preserves nothing useful; the sink repartitions by url). */
  def archiveDeduped(captures: DataFrame, dir: String,
                     segments: Int = 4): DataFrame = {
    val spark = captures.sparkSession
    import spark.implicits._
    val cls = revisitDedup(captures)
    val joined = captures.join(cls, Seq("url", "warc_ts"))
      .select(
        col("url").cast("string"),
        org.apache.spark.sql.functions.date_format(col("warc_ts"),
          "yyyy-MM-dd'T'HH:mm:ss'Z'").as("ts_iso"),
        when(col("rec_kind") === "response", col("html").cast("binary"))
          .as("html"),
        col("rec_kind"), col("digest"),
        col("refers_to_url"),
        org.apache.spark.sql.functions.date_format(col("refers_to_ts"),
          "yyyy-MM-dd'T'HH:mm:ss'Z'").as("refers_ts_iso"))
      .repartition(segments, col("url"))
    writeSegments(joined.as[(String, String, Array[Byte], String, String,
        String, String)], dir, "warc.gz") { (out, it) =>
      writeClassifiedRecords(out,
        it.map { case (u, ts, b, k, dg, ru, rts) =>
          ArchiveRec(u, ts, b, k, dg, ru, rts) },
        gzipPerRecord = true)
    }
    cls
  }

  /** Deterministic WARC fixture derived from a `documents` table:
    * doc d → one response record in file `part-(d%4)` (parts 0–2 plain
    * `.warc`, part 3 record-per-member `.warc.gz`), records in doc_id
    * order, url/date/body pure functions of the row — so an ANSI-SQL
    * oracle can reconstruct every byte offset without reading the
    * files. Collects to the driver (test fixture only; the READ path
    * under test is fully distributed). */
  def synthesizeFromDocs(docs: DataFrame, dir: String): Unit = {
    import org.apache.spark.sql.functions.col
    val rows = docs.select(col("doc_id").cast("long"), col("source"),
        col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    (0 until 4).foreach { f =>
      val name = s"part-$f.warc" + (if (f == 3) ".gz" else "")
      val out = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(s"$dir/$name"), 1 << 16)
      try writeRecords(out,
        rows.iterator.filter(_._1 % 4 == f).map { case (id, src, text) =>
          Doc(docUrl(id, src), docTsIso(id), docBody(id, text))
        }, gzipPerRecord = f == 3)
      finally out.close()
    }
  }

  // the fixture's pure row→record functions, mirrored verbatim by the
  // q72/q73 oracle SQL (SparkEntry) — change BOTH or the gate fails
  private[graft] def docUrl(id: Long, source: String): String =
    s"http://$source.example.org/doc/$id"
  private[graft] def docTsIso(id: Long): String =
    dateFmt.format(Instant.parse("2024-01-01T00:00:00Z")
      .plusSeconds((id % 1440) * 60))
  private[graft] def docBody(id: Long, text: String): Array[Byte] =
    (s"<html><head><title>doc $id</title></head><body><p>" +
      text + "</p></body></html>").getBytes(UTF_8)
}
