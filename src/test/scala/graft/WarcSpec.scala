package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Warc
import graft.functions.TextFunctions

/** WARC container source: writer/reader round-trip, member-gzip layout,
  * HTTP message split, loud truncation failures, the distributed
  * directory read, and the HTML→text strip chain the WET pipeline uses.
  */
class WarcSpec extends SparkSpec {

  private def rec(i: Int, body: String, http: Boolean = true) = Warc.WriteRecord(
    warcType = if (http) "response" else "metadata",
    recordId = f"urn:uuid:test-$i%04d",
    targetUri = Some(s"https://example.org/p$i"),
    date = f"2024-02-01T00:00:$i%02dZ",
    body = body.getBytes(UTF_8),
    httpResponse = http)

  test("plain round-trip preserves fields, types, and bodies") {
    val out = new ByteArrayOutputStream()
    Warc.writePlain(out, Seq(rec(1, "<html>a</html>"), rec(2, "meta", http = false)))
    val rs = Warc.records(new ByteArrayInputStream(out.toByteArray)).toList
    assert(rs.map(_.warcType) == List("response", "metadata"))
    assert(rs.map(_.targetUri) == List(Some("https://example.org/p1"), Some("https://example.org/p2")))
    assert(rs.head.httpStatus.contains(200))
    assert(rs.head.httpContentType.contains("text/html"))
    assert(new String(rs.head.body, UTF_8) == "<html>a</html>")
    // non-http record: raw block, no status
    assert(rs(1).httpStatus.isEmpty)
    assert(new String(rs(1).body, UTF_8) == "meta")
  }

  test("gz round-trip decompresses per-record members back-to-back") {
    val out = new ByteArrayOutputStream()
    val recs = (1 to 5).map(i => rec(i, s"<p>page $i</p>"))
    Warc.writeGz(out, recs)
    val rs = Warc.gzRecords(new ByteArrayInputStream(out.toByteArray)).toList
    assert(rs.size == 5)
    assert(rs.map(r => new String(r.body, UTF_8)) == (1 to 5).map(i => s"<p>page $i</p>"))
    // the CC layout really is multi-member: at least 2 gzip magic headers
    val bytes = out.toByteArray
    val magics = bytes.sliding(2).count(a => (a(0) & 0xff) == 0x1f && (a(1) & 0xff) == 0x8b)
    assert(magics >= 5, s"expected one gzip member per record, saw $magics magic(s)")
  }

  test("truncated content block fails loudly, never silently short") {
    val out = new ByteArrayOutputStream()
    Warc.writePlain(out, Seq(rec(1, "full body text")))
    val cut = out.toByteArray.dropRight(12)
    val e = intercept[Exception] {
      Warc.records(new ByteArrayInputStream(cut)).toList
    }
    assert(e.getMessage.toLowerCase.contains("truncated"))
  }

  test("garbage before the version line fails loudly") {
    val bad = "NOT-A-WARC\r\nstuff\r\n".getBytes(UTF_8)
    val e = intercept[Exception] {
      Warc.records(new ByteArrayInputStream(bad)).toList
    }
    assert(e.getMessage.contains("version"))
  }

  test("readDir streams records from both compression layouts in parallel") {
    val dir = tempDir("warcspec")
    val gz = Files.newOutputStream(dir.resolve("a.warc.gz"))
    try Warc.writeGz(gz, (1 to 3).map(i => rec(i, s"<i>$i</i>"))) finally gz.close()
    val pl = Files.newOutputStream(dir.resolve("b.warc"))
    try Warc.writePlain(pl, (4 to 5).map(i => rec(i, s"<i>$i</i>"))) finally pl.close()
    val df = Warc.readDir(spark, dir.toString)
    val rows = df.select("path", "rec_idx", "warc_type", "http_status", "body_len")
      .orderBy("path", "rec_idx").collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getString(2) == "response"))
    assert(rows.forall(_.getInt(3) == 200))
    // metadata-only read drops payloads at parse time
    val meta = Warc.readDir(spark, dir.toString, keepBodies = false)
    assert(meta.select("body").collect().forall(_.getAs[Array[Byte]](0).isEmpty))
    assert(meta.select("body_len").collect().map(_.getLong(0)).sum > 0)
  }

  test("htmlToText: subtree drop, entity decode order, whitespace collapse") {
    import spark.implicits._
    val html =
      """<html><head><title>T &amp; U</title><style>p{a:1} .k>v{}</style>
        |<script>if(1<2){document.write("<p>code</p>")}</script></head>
        |<body><!-- hidden --><h1>H</h1><p>A &lt;tag&gt; &quot;q&quot;
        |&#39;s&nbsp;B &amp;amp; C</p></body></html>""".stripMargin.replace("\n", " ")
    val got = Seq(html).toDF("h")
      .select(TextFunctions.htmlToText(col("h")).as("t"),
        TextFunctions.htmlTitle(col("h")).as("title"))
      .head()
    // &amp;amp; decodes ONCE (to "&amp;") because &amp; is replaced last —
    // the double-escape stays literal, exactly like a browser shows it
    assert(got.getString(0) == "T & U H A <tag> \"q\" 's B &amp; C")
    assert(got.getString(1) == "T & U")
  }

  test("htmlToText survives unclosed script (lazy match finds nothing → tags still strip)") {
    import spark.implicits._
    val html = "<p>before</p><script>var x = 1; // never closed"
    val got = Seq(html).toDF("h")
      .select(TextFunctions.htmlToText(col("h")).as("t")).head().getString(0)
    // the script OPEN tag strips as a generic tag; its trailing code
    // remains as text — lossy but deterministic and never an error
    assert(got.startsWith("before"))
  }
}
