package graft.queries

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-backed stored-stream sources beyond parquet — the reference docs
  * promise files/captions sources via scannertools
  * (`docs/guide/stored-streams.rst:8-13,27-35`); here they are Spark's
  * built-in `text` source plus parsing expressions, proven by a query
  * instead of merely claimed.
  *
  * Caption files are generated deterministically (one .cap file per
  * stream, lines "startFrame endFrame text") — rows-only checks, like the
  * other generated-input modalities.
  */
object FileSourceQueries {

  /** caption file of stream `sid`: 30 lines, 90 frames at 3/caption */
  private def captionFile(sid: Long): Array[Byte] =
    (0 until 30).map { i =>
      val start = i * 3
      s"$start ${start + 2} caption s$sid line $i word${(sid * 31 + i * 7) % 97}"
    }.mkString("\n").getBytes(UTF_8)

  /** the caption fixture: one .cap file per stream, 2 streams */
  private def ensureCaptions(): String =
    Fixtures.dir("captions", Seq(2, captionFile(0L))) { d =>
      for (sid <- 0L until 2L)
        Files.write(Paths.get(d, s"stream_$sid.cap"), captionFile(sid))
    }

  /** the annotations table the SQL source serves: (stream_id, idx, label) */
  private val jdbcRows: Seq[(Long, Long, String)] =
    for (sid <- 0L until 2L; i <- 0L until 15L) yield (sid, i, s"label_${(sid * 31 + i * 7) % 5}")

  /** Embedded Derby DB (the jars Spark ships for its metastore) seeded
    * with [[jdbcRows]] — the "SQL source".
    *
    * Embedded Derby is a single-JVM engine: a directory-backed database is
    * locked exclusively by whichever JVM boots it, which breaks
    * `local-cluster` runs where the driver resolves the JDBC schema while
    * a separate executor JVM scans the table. Derby's documented
    * multi-reader deployment is a database-in-a-jar
    * (`jdbc:derby:jar:(archive)db`): read-only by construction, no
    * `db.lck`, and any number of JVMs may boot it concurrently — exactly
    * the shape of a shared annotation store. So: seed the database, shut
    * it down cleanly, zip it into an archive, and hand out the jar URL.
    * `derby.storage.tempDirectory` is stored IN the database so read-only
    * boots get a writable scratch dir on every JVM.
    */
  private def ensureJdbc(): String = {
    val tmp = sys.props("java.io.tmpdir")
    val dir = Fixtures.dir("derby", jdbcRows) { d =>
      val seed = Paths.get(d, "graft-derby-seed")
      val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$seed;create=true")
      try {
        val st = conn.createStatement()
        st.executeUpdate(
          "CREATE TABLE annotations (stream_id BIGINT, idx BIGINT, label VARCHAR(32))")
        val ps = conn.prepareStatement("INSERT INTO annotations VALUES (?, ?, ?)")
        jdbcRows.foreach { case (sid, i, label) =>
          ps.setLong(1, sid); ps.setLong(2, i); ps.setString(3, label)
          ps.executeUpdate()
        }
        ps.close()
        val cs = conn.prepareCall("CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY(?, ?)")
        cs.setString(1, "derby.storage.tempDirectory")
        cs.setString(2, tmp)
        cs.execute(); cs.close(); st.close()
      } finally conn.close()
      // clean shutdown (SQLState 08006 signals success) so the archived
      // log needs no recovery on read-only boots
      try java.sql.DriverManager.getConnection(s"jdbc:derby:$seed;shutdown=true")
      catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }
      // zip the seeded tree under the "graft-derby-seed/" prefix
      val zos = new java.util.zip.ZipOutputStream(
        Files.newOutputStream(Paths.get(d, "graft-derby.jar")))
      try {
        val walk = Files.walk(seed)
        try walk.filter(Files.isRegularFile(_)).forEach { p =>
          zos.putNextEntry(new java.util.zip.ZipEntry(
            "graft-derby-seed/" + seed.relativize(p).toString.replace('\\', '/')))
          Files.copy(p, zos)
          zos.closeEntry()
        } finally walk.close()
      } finally zos.close()
    }
    s"jdbc:derby:jar:($dir/graft-derby.jar)graft-derby-seed"
  }

  /** WARC crawl file `f` of the fixture (0: member-gzip `.warc.gz` — the
    * Common Crawl layout — 1: plain `.warc`): warcinfo + request/response
    * pairs; response bodies are deterministic HTML pages plus one
    * `text/plain` robots.txt (which the WET pipeline must SKIP on content
    * type). Written via [[graft.sources.Warc]]'s own writer, so reader
    * and writer pin each other round-trip.
    */
  private def warcFile(f: Int): Array[Byte] = {
    import graft.sources.Warc
    def page(i: Int): String =
      s"<html><head><title>Page $f-$i</title><style>b{font:x} q>z{}</style>" +
        s"</head><body><script>var n=$i; if(n<3){n=3}</script><h1>Heading $i</h1>" +
        s"<p>body text file $f rec $i word${(f * 31 + i * 7) % 97} &amp; tail</p>" +
        ("<p>filler sentence repeated</p>" * (i % 4)) + "</body></html>"
    val recs = scala.collection.mutable.ArrayBuffer.empty[Warc.WriteRecord]
    def rid(i: Int) = f"urn:uuid:00000000-0000-0000-000$f%01d-${i}%012d"
    def date(i: Int) = f"2024-01-0${f + 1}%dT00:00:$i%02dZ"
    recs += Warc.WriteRecord("warcinfo", rid(0), None, date(0),
      s"software: graft-crawler\r\nfile: crawl-0$f\r\n".getBytes(UTF_8),
      httpResponse = false)
    for (i <- 1 to 12) {
      val uri = s"https://example.org/f$f/page$i.html"
      recs += Warc.WriteRecord("request", rid(i * 2 - 1), Some(uri), date(i),
        s"GET /f$f/page$i.html HTTP/1.1\r\nHost: example.org\r\n\r\n".getBytes(UTF_8),
        httpResponse = false)
      recs += Warc.WriteRecord("response", rid(i * 2), Some(uri), date(i),
        page(i).getBytes(UTF_8), httpResponse = true)
    }
    recs += Warc.WriteRecord("response", rid(99),
      Some(s"https://example.org/f$f/robots.txt"), date(59),
      s"User-agent: *\nDisallow: /private$f\n".getBytes(UTF_8),
      httpResponse = true, httpContentType = "text/plain")
    val out = new java.io.ByteArrayOutputStream()
    if (f == 0) Warc.writeGz(out, recs.toSeq) else Warc.writePlain(out, recs.toSeq)
    out.toByteArray
  }

  /** the WARC fixture: crawl-00.warc.gz and crawl-01.warc */
  private def ensureWarc(): String =
    Fixtures.dir("warc", Seq(2, warcFile(0))) { d =>
      Files.write(Paths.get(d, "crawl-00.warc.gz"), warcFile(0))
      Files.write(Paths.get(d, "crawl-01.warc"), warcFile(1))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // WARC source: the web-crawl container (ISO 28500, Common Crawl's
    // format) — distributed per-file streaming parse, metadata + body
    // digest per record. Both compression layouts (member-gzip and
    // plain) land in one relation.
    "src_warc_records" -> ((s, _) => {
      val root = ensureWarc()
      graft.sources.Warc.readDir(s, root)
        .select(
          regexp_extract(col("path"), "(crawl-\\d+\\.warc(?:\\.gz)?)$", 1).as("file"),
          col("rec_idx"), col("warc_type"), col("target_uri"),
          col("http_status"), col("http_content_type"), col("body_len"),
          md5(col("body")).as("body_md5"))
        .orderBy("file", "rec_idx")
    }),

    // WARC -> WET: the crawl-to-text conversion every web-scale corpus
    // starts from — response records gated on status 200 + text/html,
    // bodies UTF-8 decoded, boilerplate stripped by the SAME
    // TextFunctions.htmlToText chain the parquet-gated txt_html_extract
    // proves against DuckDB. Embarrassingly parallel: parse + extract
    // run in the file's task; no shuffle until the final presentation
    // sort.
    "pipeline_warc_wet" -> ((s, _) => {
      val root = ensureWarc()
      import graft.functions.{TextFunctions => TF}
      graft.sources.Warc.readDir(s, root)
        .filter(col("warc_type") === "response" && col("http_status") === 200 &&
          col("http_content_type").startsWith("text/html"))
        .select(
          regexp_extract(col("path"), "(crawl-\\d+\\.warc(?:\\.gz)?)$", 1).as("file"),
          col("rec_idx"), col("target_uri"),
          col("body").cast("string").as("html"))
        .select(col("file"), col("rec_idx"), col("target_uri"),
          TF.htmlTitle(col("html")).as("title"),
          TF.htmlToText(col("html")).as("text"))
        .select(col("file"), col("rec_idx"), col("target_uri"), col("title"),
          md5(col("text")).as("digest"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy("file", "rec_idx")
    }),

    // WebDataset tar shards: the multimodal training-corpus container
    // (sample = adjacent tar entries sharing a basename key). This query
    // is the FULL loop, run on every execution — distributed sink (4
    // writer tasks rolling
    // byte-budgeted shards from the documents table: .txt body +
    // deterministic .json sidecar per sample) then distributed source
    // (one task per shard), samples reassembled and checked against
    // DuckDB reading the SAME parquet — so the oracle verifies the tar
    // round-trip against ground truth, not against itself.
    "src_webdataset" -> ((s, dir) => {
      import graft.sources.TarShard
      val root = sys.props("java.io.tmpdir") + "/graft-wds-" +
        dir.replaceAll("[^a-zA-Z0-9.]", "_")
      val src = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") < 200)
      val json = concat(lit("{\"doc_id\":"), col("doc_id").cast("string"),
        lit(",\"source\":\""), col("source"), lit("\"}"))
      val rows = src.select(
        format_string("%06d", col("doc_id")).as("key"),
        explode(map(lit("txt"), col("text").cast("binary"),
          lit("json"), json.cast("binary"))).as(Seq("ext", "payload")))
      TarShard.writeSamples(rows, root, maxShardBytes = 16L << 10, nWriters = 4)
      TarShard.readDir(s, root)
        .groupBy("key")
        .agg(
          array_join(sort_array(collect_set(col("ext"))), ",").as("exts"),
          max(when(col("ext") === "txt", md5(col("payload")))).as("txt_md5"),
          max(when(col("ext") === "json", md5(col("payload")))).as("json_md5"),
          sum(col("payload_len")).as("total_bytes"))
        .select(col("key").cast("long").as("doc_id"), col("exts"),
          col("txt_md5"), col("json_md5"), col("total_bytes"))
        .orderBy("doc_id")
    }),

    // SQL source: spark.read.jdbc against embedded Derby — the reference
    // docs' SQL stored-stream (scannertools), realized with Spark's
    // built-in JDBC source; predicates push into the database
    "src_jdbc" -> ((s, _) => {
      val url = ensureJdbc()
      s.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "annotations")
        .option("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
        .load()
        .select(col("STREAM_ID").as("stream_id"), col("IDX").as("idx"),
          col("LABEL").as("label"))
        .orderBy("stream_id", "idx")
    }),

    // caption source: text files -> (streamId, caption index, frame range,
    // text), streamId recovered from the file path, frame range parsed from
    // the line — all expression-level (no UDFs)
    "src_captions" -> ((s, _) => {
      val root = ensureCaptions()
      s.read.textFile(s"$root/*.cap").toDF("line")
        .withColumn("streamId",
          regexp_extract(input_file_name(), "stream_(\\d+)\\.cap", 1).cast("long"))
        .withColumn("parts", split(col("line"), " ", 3))
        .select(
          col("streamId"),
          element_at(col("parts"), 1).cast("long").as("startFrame"),
          element_at(col("parts"), 2).cast("long").as("endFrame"),
          element_at(col("parts"), 3).as("caption"))
        .withColumn("index", col("startFrame") / 3 cast "long")
        .orderBy("streamId", "index")
    }),

    // captions as-of-joined onto the frame index domain: every frame gets
    // its covering caption — the caption/frame alignment the reference's
    // caption source exists for
    "src_caption_align" -> ((s, _) => {
      val root = ensureCaptions()
      val caps = s.read.textFile(s"$root/*.cap").toDF("line")
        .withColumn("streamId",
          regexp_extract(input_file_name(), "stream_(\\d+)\\.cap", 1).cast("long"))
        .withColumn("parts", split(col("line"), " ", 3))
        .select(col("streamId"),
          element_at(col("parts"), 1).cast("long").as("index"),
          element_at(col("parts"), 3).as("caption"))
      import s.implicits._
      val frames = (for (sid <- 0L until 2L; f <- 0L until 90L) yield (sid, f))
        .toDF("streamId", "index")
      graft.operators.SequenceOps.asofJoin(frames, caps)
        .select(col("streamId"), col("index").as("frame"), col("caption"))
        .orderBy("streamId", "frame")
    })
  )

  /** src_webdataset round-trips SHARED parquet through tar shards, so its
    * oracle recomputes expected samples from the table; captions and jdbc
    * fixtures are closed-form (the generator formulas above), so their
    * oracles REGENERATE the expected rows with generate_series — real
    * recomputation of the parse/scan path, not frozen pins.
    * src_warc_records also recomputes: the fixture's records are
    * formula-built strings, so the oracle rebuilds every record (incl.
    * the warcinfo/request/response framing and bodies) and the gate
    * verifies the gzip-member + WARC + HTTP parse chain end-to-end
    * against independent truth. pipeline_warc_wet composes
    * the same page regeneration with txt_html_extract's proven
    * htmlToText SQL replay — the full crawl-to-text conversion verified
    * against independent recomputation.
    */
  val oracles: Map[String, String] = Map(
    "pipeline_warc_wet" ->
      """WITH pages AS (
        |  SELECT f.range AS f, i.range AS i,
        |    '<html><head><title>Page ' || f.range || '-' || i.range ||
        |    '</title><style>b{font:x} q>z{}</style></head><body><script>var n=' ||
        |    i.range || '; if(n<3){n=3}</script><h1>Heading ' || i.range ||
        |    '</h1><p>body text file ' || f.range || ' rec ' || i.range ||
        |    ' word' || ((f.range*31 + i.range*7) % 97) || ' &amp; tail</p>' ||
        |    repeat('<p>filler sentence repeated</p>', CAST(i.range % 4 AS INT)) ||
        |    '</body></html>' AS html
        |  FROM range(0,2) f, range(1,13) i),
        |e AS (SELECT f, i,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(
        |        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |          html,
        |          '(?s)<!--.*?-->', ' ', 'g'),
        |          '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |          '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |          '<[^>]*>', ' ', 'g'),
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |        '&nbsp;', ' '), '&amp;', '&'),
        |      '\s+', ' ', 'g')) AS txt
        |  FROM pages)
        |SELECT CASE WHEN f = 0 THEN 'crawl-00.warc.gz' ELSE 'crawl-01.warc' END AS file,
        |  CAST(2*i AS BIGINT) AS rec_idx,
        |  'https://example.org/f' || f || '/page' || i || '.html' AS target_uri,
        |  'Page ' || f || '-' || i AS title,
        |  md5(txt) AS digest, CAST(len(txt) AS BIGINT) AS n_chars
        |FROM e ORDER BY 1, 2""".stripMargin,
    "src_warc_records" ->
      """WITH pages AS (
        |  SELECT f.range AS f, i.range AS i,
        |    '<html><head><title>Page ' || f.range || '-' || i.range ||
        |    '</title><style>b{font:x} q>z{}</style></head><body><script>var n=' ||
        |    i.range || '; if(n<3){n=3}</script><h1>Heading ' || i.range ||
        |    '</h1><p>body text file ' || f.range || ' rec ' || i.range ||
        |    ' word' || ((f.range*31 + i.range*7) % 97) || ' &amp; tail</p>' ||
        |    repeat('<p>filler sentence repeated</p>', CAST(i.range % 4 AS INT)) ||
        |    '</body></html>' AS body
        |  FROM range(0,2) f, range(1,13) i),
        |recs AS (
        |  SELECT f.range AS f, 0::BIGINT AS rec_idx, 'warcinfo' AS warc_type,
        |    '' AS target_uri, -1 AS http_status, '' AS http_content_type,
        |    'software: graft-crawler' || chr(13) || chr(10) ||
        |      'file: crawl-0' || f.range || chr(13) || chr(10) AS body
        |  FROM range(0,2) f
        |  UNION ALL
        |  SELECT f, 2*i - 1, 'request', 'https://example.org/f' || f || '/page' || i || '.html',
        |    -1, '',
        |    'GET /f' || f || '/page' || i || '.html HTTP/1.1' || chr(13) || chr(10) ||
        |      'Host: example.org' || chr(13) || chr(10) || chr(13) || chr(10)
        |  FROM pages
        |  UNION ALL
        |  SELECT f, 2*i, 'response', 'https://example.org/f' || f || '/page' || i || '.html',
        |    200, 'text/html', body
        |  FROM pages
        |  UNION ALL
        |  SELECT f.range AS f, 25, 'response', 'https://example.org/f' || f.range || '/robots.txt',
        |    200, 'text/plain',
        |    'User-agent: *' || chr(10) || 'Disallow: /private' || f.range || chr(10)
        |  FROM range(0,2) f)
        |SELECT CASE WHEN f = 0 THEN 'crawl-00.warc.gz' ELSE 'crawl-01.warc' END AS file,
        |  rec_idx, warc_type, target_uri, CAST(http_status AS INT) AS http_status,
        |  http_content_type, CAST(strlen(body) AS BIGINT) AS body_len,
        |  md5(body) AS body_md5
        |FROM recs ORDER BY 1, 2""".stripMargin,
    // ensureJdbc seeds (sid 0..1, idx 0..14, label_{(sid*31+idx*7) mod 5})
    "src_jdbc" ->
      """SELECT a.range AS stream_id, b.range AS idx,
        |  'label_' || CAST((a.range*31 + b.range*7) % 5 AS VARCHAR) AS label
        |FROM range(0,2) a, range(0,15) b ORDER BY 1, 2""".stripMargin,
    // ensureCaptions writes '<3i> <3i+2> caption s<sid> line <i> word<(sid*31+i*7)%97>'
    "src_captions" ->
      """SELECT a.range AS "streamId", b.range*3 AS "startFrame", b.range*3 + 2 AS "endFrame",
        |  'caption s' || a.range || ' line ' || b.range || ' word' || ((a.range*31 + b.range*7) % 97) AS caption,
        |  b.range AS "index"
        |FROM range(0,2) a, range(0,30) b ORDER BY 1, 5""".stripMargin,
    // as-of alignment: frame f's covering caption starts at 3*(f//3)
    "src_caption_align" ->
      """SELECT a.range AS "streamId", f.range AS frame,
        |  'caption s' || a.range || ' line ' || (f.range // 3) || ' word' || ((a.range*31 + (f.range // 3)*7) % 97) AS caption
        |FROM range(0,2) a, range(0,90) f ORDER BY 1, 2""".stripMargin,
    "src_webdataset" ->
      """WITH j AS (SELECT doc_id,
        |    '{"doc_id":' || doc_id || ',"source":"' || source || '"}' AS js
        |  FROM documents WHERE doc_id < 200)
        |SELECT d.doc_id, 'json,txt' AS exts,
        |  md5(d.text) AS txt_md5, md5(j.js) AS json_md5,
        |  CAST(strlen(d.text) + strlen(j.js) AS BIGINT) AS total_bytes
        |FROM documents d JOIN j USING (doc_id)
        |WHERE d.doc_id < 200 ORDER BY d.doc_id""".stripMargin)
}
