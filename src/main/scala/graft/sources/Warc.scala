package graft.sources

import java.io.{BufferedInputStream, EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** WARC (ISO 28500 / WARC-1.0) web-archive source — the container format
  * of Common Crawl and every Heritrix-family crawler, i.e. the raw input
  * of a web-scale training-data pipeline. The reference's stored-stream
  * source family (files/captions/SQL, `docs/guide/stored-streams.rst:
  * 8-13,27-35`) establishes "bring your corpus in its native container";
  * this is that idea applied to the crawl container itself.
  *
  * Format essentials (public spec, ISO 28500 §4): a WARC file is a
  * sequence of records, each
  * {{{
  *   WARC/1.0 CRLF
  *   <named-field>: <value> CRLF ...          (WARC-Type, WARC-Target-URI,
  *   CRLF                                      Content-Length, ...)
  *   <Content-Length bytes of content block>
  *   CRLF CRLF                                 (record separator)
  * }}}
  * and a `.warc.gz` compresses EACH record as its own gzip member
  * (the Common Crawl convention), so a sequential reader is one
  * multi-member `GZIPInputStream` and a random-access reader can seek to
  * any member boundary. `response` records carry an HTTP/1.1 message as
  * their block; the HTTP body (the HTML) starts after the first blank
  * line of that message.
  *
  * Scale shape: the FILE is the parallelism unit (Common Crawl ships
  * ~100k × ~1 GB files per snapshot). [[readDir]] reads through
  * [[FileFleet]]: each executor task OPENS AND STREAMS
  * its file — records iterate off the (decompressing) stream with no
  * whole-file buffering, so a 1 GB member-gzip WARC costs one record's
  * memory at a time. No shuffle: ingest is embarrassingly parallel,
  * exactly like the H264 directory ingest ([[H264Ingest]]).
  */
object Warc {

  /** one parsed record: WARC named fields + (for `response` records) the
    * HTTP status/Content-Type split off the message head; `body` is the
    * HTTP payload for response records, the raw content block otherwise
    */
  final case class WarcRecord(
      warcType: String,
      recordId: String,
      targetUri: Option[String],
      date: String,
      contentType: Option[String],
      httpStatus: Option[Int],
      httpContentType: Option[String],
      body: Array[Byte])

  // ---------------------------------------------------------------- parse

  /** read one CRLF-terminated header line as ISO-8859-1 (the HTTP/WARC
    * header charset); None at clean EOF before any byte
    */
  private def readLine(in: InputStream): Option[String] = {
    val sb = new java.lang.StringBuilder(96)
    var c = in.read()
    if (c < 0) return None
    while (c >= 0 && c != '\n') {
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    Some(sb.toString)
  }

  private def readFully(in: InputStream, n: Long): Array[Byte] = {
    require(n <= Int.MaxValue - 8, s"WARC content block of $n bytes exceeds the 2 GiB single-record bound")
    val buf = new Array[Byte](n.toInt)
    var off = 0
    while (off < buf.length) {
      val r = in.read(buf, off, buf.length - off)
      if (r < 0) throw new EOFException(
        s"truncated WARC content block: expected $n bytes, got $off")
      off += r
    }
    buf
  }

  /** header lines until the blank separator → case-insensitive field map
    * (duplicate fields keep the first occurrence, per spec guidance that
    * repeated named fields "shall not" occur)
    */
  private def readHeaders(in: InputStream): Map[String, String] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var line = readLine(in).getOrElse(
      throw new EOFException("truncated WARC header block"))
    while (line.nonEmpty) {
      val i = line.indexOf(':')
      require(i > 0, s"malformed WARC header line '$line'")
      val k = line.substring(0, i).trim.toLowerCase
      val v = line.substring(i + 1).trim
      if (!m.contains(k)) m(k) = v
      line = readLine(in).getOrElse(
        throw new EOFException("truncated WARC header block"))
    }
    m.toMap
  }

  /** split an HTTP/1.x message: (status, Content-Type, body-offset) —
    * returns None when the block doesn't start with an HTTP status line
    */
  private def parseHttp(block: Array[Byte]): Option[(Int, Option[String], Int)] = {
    if (block.length < 12 || !new String(block, 0, 5, ISO_8859_1).equals("HTTP/"))
      return None
    // find header/body split: first CRLFCRLF (tolerate bare LFLF)
    var i = 0
    var bodyOff = -1
    while (bodyOff < 0 && i < block.length - 1) {
      if (block(i) == '\n') {
        if (block(i + 1) == '\n') bodyOff = i + 2
        else if (i + 2 < block.length && block(i + 1) == '\r' && block(i + 2) == '\n')
          bodyOff = i + 3
      }
      i += 1
    }
    if (bodyOff < 0) bodyOff = block.length
    val head = new String(block, 0, bodyOff, ISO_8859_1)
    val lines = head.split("\r?\n")
    val statusParts = lines.head.split(" ", 3)
    val status = if (statusParts.length >= 2) statusParts(1).takeWhile(_.isDigit) else ""
    if (status.isEmpty) return None
    val ct = lines.tail.collectFirst {
      case l if l.toLowerCase.startsWith("content-type:") =>
        l.substring("content-type:".length).trim
    }
    Some((status.toInt, ct, bodyOff))
  }

  /** streaming record iterator over an UNCOMPRESSED warc stream; the
    * caller owns the stream's lifecycle (records are parsed lazily)
    */
  def records(in: InputStream): Iterator[WarcRecord] = new Iterator[WarcRecord] {
    private var nextRec: WarcRecord = null
    private var done = false

    private def advance(): Unit = {
      // skip inter-record blank lines, then expect a version line
      var line = readLine(in)
      while (line.exists(_.isEmpty)) line = readLine(in)
      line match {
        case None => done = true
        case Some(v) =>
          require(v.startsWith("WARC/"), s"expected WARC version line, got '$v'")
          val h = readHeaders(in)
          val len = h.getOrElse("content-length",
            sys.error("WARC record missing Content-Length")).toLong
          val block = readFully(in, len)
          val wtype = h.getOrElse("warc-type", "unknown")
          val http =
            if (h.get("content-type").exists(_.startsWith("application/http")))
              parseHttp(block)
            else None
          val body = http match {
            case Some((_, _, off)) => java.util.Arrays.copyOfRange(block, off, block.length)
            case None              => block
          }
          nextRec = WarcRecord(
            warcType = wtype,
            recordId = h.getOrElse("warc-record-id", ""),
            targetUri = h.get("warc-target-uri"),
            date = h.getOrElse("warc-date", ""),
            contentType = h.get("content-type"),
            httpStatus = http.map(_._1),
            httpContentType = http.flatMap(_._2),
            body = body)
      }
    }

    override def hasNext: Boolean = {
      if (nextRec == null && !done) advance()
      nextRec != null
    }
    override def next(): WarcRecord = {
      if (!hasNext) throw new NoSuchElementException("end of WARC stream")
      val r = nextRec; nextRec = null; r
    }
  }

  /** [[records]] over a `.warc.gz`: one multi-member GZIPInputStream
    * decompresses the per-record members back-to-back
    */
  def gzRecords(in: InputStream): Iterator[WarcRecord] =
    records(new GZIPInputStream(new BufferedInputStream(in, 1 << 16)))

  // ---------------------------------------------------------------- write

  /** minimal record spec for the writer; `httpResponse` wraps the body in
    * an HTTP/1.1 200 message (the shape of a crawl `response` record)
    */
  final case class WriteRecord(
      warcType: String,
      recordId: String,
      targetUri: Option[String],
      date: String,
      body: Array[Byte],
      httpResponse: Boolean,
      httpContentType: String = "text/html")

  private def renderBlock(r: WriteRecord): Array[Byte] =
    if (!r.httpResponse) r.body
    else {
      val head = s"HTTP/1.1 200 OK\r\nContent-Type: ${r.httpContentType}\r\n" +
        s"Content-Length: ${r.body.length}\r\n\r\n"
      head.getBytes(ISO_8859_1) ++ r.body
    }

  private def renderRecord(r: WriteRecord): Array[Byte] = {
    val block = renderBlock(r)
    val sb = new StringBuilder
    sb ++= "WARC/1.0\r\n"
    sb ++= s"WARC-Type: ${r.warcType}\r\n"
    sb ++= s"WARC-Record-ID: ${r.recordId}\r\n"
    sb ++= s"WARC-Date: ${r.date}\r\n"
    r.targetUri.foreach(u => sb ++= s"WARC-Target-URI: $u\r\n")
    val ct = if (r.httpResponse) "application/http; msgtype=response" else "text/plain"
    sb ++= s"Content-Type: $ct\r\n"
    sb ++= s"Content-Length: ${block.length}\r\n\r\n"
    sb.toString.getBytes(ISO_8859_1) ++ block ++ "\r\n\r\n".getBytes(ISO_8859_1)
  }

  /** write records as a `.warc.gz`: one gzip member per record (the
    * Common Crawl layout — a reader may start at any member boundary)
    */
  def writeGz(out: OutputStream, recs: Seq[WriteRecord]): Unit =
    recs.foreach { r =>
      val gz = new GZIPOutputStream(out)
      gz.write(renderRecord(r))
      gz.finish() // flush this member, keep the underlying stream open
    }

  /** write records uncompressed (a plain `.warc`) */
  def writePlain(out: OutputStream, recs: Seq[WriteRecord]): Unit =
    recs.foreach(r => out.write(renderRecord(r)))

  // ---------------------------------------------------- distributed read

  /** Distributed WARC read: every `.warc` / `.warc.gz` under `dirPath`
    * parses on an executor, STREAMED off the (decompressing) Hadoop FS
    * open — no whole-file buffering, so file size is bounded by storage,
    * not executor memory. Output rows carry the fields a cleaning
    * pipeline filters on plus the raw body bytes; project `body` away
    * early when only metadata is needed (column pruning keeps the scan,
    * but the parse already paid — prefer filtering by `warcType` first,
    * which skips non-response bodies at the source via `keepBodies`).
    *
    * @param keepBodies when false, body bytes are dropped at parse time
    *                   (metadata-only scans carry no payload through the plan)
    */
  def readDir(spark: SparkSession, dirPath: String,
      keepBodies: Boolean = true): DataFrame = {
    import spark.implicits._
    FileFleet.read(spark, dirPath, ".warc", ".warc.gz") { (task, p, _) =>
      // the raw stream is tracked before the gzip header read (which can
      // throw); the gzip chain then takes its place, so early exit also
      // releases the Inflater instead of leaving it to GC
      val raw = task.open(p)
      val in = new BufferedInputStream(raw, 1 << 16)
      val recs = records(
        if (p.getName.toLowerCase.endsWith(".gz")) task.wrap(raw, new GZIPInputStream(in)) else in)
      recs.zipWithIndex.map { case (r, idx) =>
        (p.toString, idx.toLong, r.warcType, r.recordId, r.targetUri.getOrElse(""),
          r.date, r.contentType.getOrElse(""), r.httpStatus.getOrElse(-1),
          r.httpContentType.getOrElse(""), r.body.length.toLong,
          if (keepBodies) r.body else Array.emptyByteArray)
      }
    }.toDF("path", "rec_idx", "warc_type", "record_id", "target_uri",
        "warc_date", "content_type", "http_status", "http_content_type",
        "body_len", "body")
  }

  /** UTF-8 decode helper for response bodies (crawl HTML is bytes until
    * charset sniffing; the fixture corpus is UTF-8 by construction)
    */
  def bodyUtf8(b: Array[Byte]): String = new String(b, UTF_8)
}
