package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.TarShard

/** WebDataset tar shards: ustar conformance (incl. against the system
  * `tar` binary), checksum verification, sample-boundary shard rolling,
  * and the distributed sink→source round trip.
  */
class TarShardSpec extends SparkSpec {

  private def tarOf(entries: (String, String)*): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    entries.foreach { case (n, b) => TarShard.writeEntry(out, n, b.getBytes(UTF_8)) }
    TarShard.finish(out)
    out.toByteArray
  }

  test("entry round trip incl. empty and block-aligned payloads") {
    val big = "x" * 512 // exactly one block: zero padding branch
    val bytes = tarOf("a.txt" -> "hello", "b.bin" -> "", "c.txt" -> big)
    val es = TarShard.entries(new ByteArrayInputStream(bytes)).toList
    assert(es.map(_._1) == List("a.txt", "b.bin", "c.txt"))
    assert(new String(es.head._2, UTF_8) == "hello")
    assert(es(1)._2.isEmpty)
    assert(es(2)._2.length == 512)
  }

  test("header checksum corruption fails loudly") {
    val bytes = tarOf("a.txt" -> "hello")
    bytes(0) = 'z'.toByte // flip a name byte; checksum now wrong
    val e = intercept[Exception] {
      TarShard.entries(new ByteArrayInputStream(bytes)).toList
    }
    assert(e.getMessage.contains("checksum"))
  }

  test("truncated archive fails loudly") {
    val bytes = tarOf("a.txt" -> ("y" * 700))
    val e = intercept[Exception] {
      TarShard.entries(new ByteArrayInputStream(bytes.take(600))).toList
    }
    assert(e.getMessage.toLowerCase.contains("truncated"))
  }

  test("system tar reads our archives (ustar conformance)") {
    val tarBin = Seq("/bin/tar", "/usr/bin/tar").find(p =>
      Files.isExecutable(java.nio.file.Paths.get(p)))
    assume(tarBin.isDefined, "no system tar available")
    val f = Files.createTempFile("graftwds", ".tar")
    Files.write(f, tarOf("000001.txt" -> "alpha", "000001.json" -> "{}",
      "000002.txt" -> "beta"))
    val listing = new String(
      new ProcessBuilder(tarBin.get, "-tf", f.toString).start()
        .getInputStream.readAllBytes(), UTF_8).trim.split("\n").toList
    assert(listing == List("000001.txt", "000001.json", "000002.txt"))
  }

  test("splitKey: key up to FIRST dot, dir prefix dropped") {
    assert(TarShard.splitKey("000123.jpg") == ("000123", "jpg"))
    assert(TarShard.splitKey("d/000123.seg.json") == ("000123", "seg.json"))
    assert(TarShard.splitKey("nodot") == ("nodot", ""))
  }

  test("sink rolls shards only at sample boundaries; source reassembles all") {
    import spark.implicits._
    val df = (0 until 40).flatMap { i =>
      val key = f"$i%05d"
      Seq((key, "txt", ("body " * 60 + i).getBytes(UTF_8)),
        (key, "json", s"""{"i":$i}""".getBytes(UTF_8)))
    }.toDF("key", "ext", "payload")
    val dir = tempDir("wds").toString
    val nShards = TarShard.writeSamples(df, dir, maxShardBytes = 2048, nWriters = 3)
    assert(nShards > 3, s"tiny budget must roll multiple shards, got $nShards")
    val back = TarShard.readDir(spark, dir)
    // every key has BOTH files in exactly ONE shard (samples never split)
    val split = back.groupBy("key")
      .agg(countDistinct("shard").as("nsh"), count(lit(1)).as("nf"))
      .filter(col("nsh") =!= 1 || col("nf") =!= 2).count()
    assert(split == 0)
    assert(back.count() == 80)
    // payloads intact
    val got = back.filter(col("ext") === "json").select("key", "payload")
      .as[(String, Array[Byte])].collect().toMap
    assert(new String(got("00007"), UTF_8) == """{"i":7}""")
  }
}
