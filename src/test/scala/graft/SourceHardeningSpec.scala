package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.model.CacheMode
import graft.operators.StdKernels
import graft.sources.{H264, H264Ingest, H264Mp4, NamedStorage, TarShard, VideoStore, Warc}

/** Round-11 hardening pins:
  *  - the whole VideoStore/NamedStorage lifecycle through a NON-DEFAULT
  *    Hadoop filesystem (spy://, a RawLocalFileSystem subclass) — any
  *    hidden `java.io.File` assumption in the store would miss the
  *    scheme and read/write the wrong tree or throw;
  *  - the shared close contract of the directory sources (WARC and tar
  *    limit(1) early exit, MP4 and H.264 directory ingest): every opened
  *    stream is closed exactly once, via the task-completion listener on
  *    early exit, not left to GC — and directory ingest writes part files
  *    in (streamId, segId) order with streamId = listing position;
  *  - the commit rule of every file writer (tar shards, the MP4 and
  *    concatenated exports, the avc1 export): a FAILED rewrite must leave
  *    the prior output byte-identical, no write may leave scratch behind,
  *    every stream a writer creates is closed exactly once, and a
  *    successful tar rewrite with fewer writers must leave no stale
  *    shards behind.
  */
class SourceHardeningSpec extends SparkSpec {

  private def enableSpy(): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.spy.impl", classOf[SpyFileSystem].getName)

  test("VideoStore ingest/commit/read lifecycle on a non-default Hadoop FS") {
    enableSpy()
    import spark.implicits._
    val dir = tempDir("graft-spyvid").toString
    val root = s"spy://$dir"
    val frames = (0 until 12).map(i => StdKernels.syntheticFrame(0L, i.toLong, 16, 24, 3))
    SpyFileSystem.reset()
    VideoStore.ingest(frames.toDS(), root, "spyvid", gopSize = 4, CacheMode.Error)
    assert(NamedStorage.committed(spark, root, "spyvid"),
      "commit marker not visible through the spy scheme")
    val back = VideoStore.frames(spark, root, "spyvid").collect().sortBy(_.index)
    assert(back.length == 12)
    back.zip(frames).foreach { case (b, f) =>
      assert(b.data.sameElements(f.data), s"frame ${f.index} pixels diverge over spy://")
    }
    // sparse gather also stays on the scheme
    val got = VideoStore.gatherFrames(spark, root, "spyvid", 0L, Seq(2L, 9L))
      .collect().map(_.index).sorted
    assert(got.sameElements(Array(2L, 9L)))
    assert(SpyFileSystem.opens.get() > 0, "no I/O went through the spy FS at all")
  }

  test("WARC limit(1) early exit closes every opened stream") {
    enableSpy()
    val dir = tempDir("graft-spywarc")
    for (f <- 0 until 3) {
      val out = Files.newOutputStream(dir.resolve(s"c$f.warc.gz"))
      try Warc.writeGz(out, (0 until 50).map(i => Warc.WriteRecord(
        "response", f"urn:uuid:$f-$i", Some(s"https://x/$f/$i"),
        "2024-03-01T00:00:00Z", s"<html><p>doc $f $i</p></html>".getBytes(UTF_8),
        httpResponse = true)))
      finally out.close()
    }
    def closesEveryOpen(what: String)(run: => Unit): Unit = {
      SpyFileSystem.reset()
      run
      assert(SpyFileSystem.opens.get() > 0, s"$what opened nothing through spy://")
      assert(SpyFileSystem.closes.get() == SpyFileSystem.opens.get(),
        s"$what: opens=${SpyFileSystem.opens.get()} closes=${SpyFileSystem.closes.get()}")
    }
    closesEveryOpen("WARC limit(1)") {
      assert(Warc.readDir(spark, s"spy://$dir").limit(1).collect().length == 1)
    }

    import spark.implicits._
    val tarDir = tempDir("graft-spytar").toString
    TarShard.writeSamples((0 until 40).map(i => (f"k$i%03d", "txt", s"p$i".getBytes(UTF_8)))
      .toDF("key", "ext", "payload"), tarDir, maxShardBytes = 256, nWriters = 2)
    closesEveryOpen("tar limit(1)") {
      assert(TarShard.readDir(spark, s"spy://$tarDir").limit(1).collect().length == 1)
    }

    val root = tempDir("graft-spyingest").toString
    val mp4Dir = s"$root/mp4"
    VideoStore.ingest((0 until 12).map(i => StdKernels.syntheticFrame(i % 2, (i / 2).toLong, 8, 12, 3))
      .toDS(), root, "src", gopSize = 2)
    VideoStore.exportMp4All(spark, root, "src", mp4Dir)
    closesEveryOpen("ingestMp4Dir") {
      VideoStore.ingestMp4Dir(spark, s"spy://$mp4Dir", root, "back")
    }

    val h264Mp4Dir = tempDir("graft-spyh264")
    new java.io.File(queries.VideoQueries.ensureH264Fixture()).listFiles()
      .filter(_.getName.endsWith(".h264")).foreach { f =>
        val out = Files.newOutputStream(h264Mp4Dir.resolve(f.getName.replace(".h264", ".mp4")))
        try H264Mp4.mux(H264.index(Files.readAllBytes(f.toPath)), out) finally out.close()
      }
    closesEveryOpen("ingestMp4H264Dir") {
      H264Ingest.ingestMp4H264Dir(spark, s"spy://$h264Mp4Dir", root, "h264")
    }
    closesEveryOpen("indexFiles") {
      H264Ingest.indexFiles(spark, s"spy://${queries.VideoQueries.ensureH264Fixture()}").collect()
    }
  }

  test("directory ingest writes (streamId, segId)-ordered part files, streamId = listing position") {
    import spark.implicits._
    val root = tempDir("graft-dirorder").toString
    // five streams of distinct lengths, exported and renamed so the sorted
    // listing runs in REVERSE stream order: file i holds source stream 4 - i
    val frames = (0 until 5).flatMap(sid => (0 until 2 * (sid + 1)).map(i =>
      StdKernels.syntheticFrame(sid.toLong, i.toLong, 8, 12, 3)))
    VideoStore.ingest(frames.toDS(), root, "src", gopSize = 2)
    val exported = s"$root/exp"
    val listed = s"$root/listed"
    new java.io.File(listed).mkdirs()
    VideoStore.exportMp4All(spark, root, "src", exported).foreach { case (sid, path, _) =>
      Files.move(java.nio.file.Paths.get(new java.net.URI(path).getPath),
        java.nio.file.Paths.get(listed, s"v${4 - sid}.mp4"))
    }
    VideoStore.ingestMp4Dir(spark, listed, root, "back")
    val parts = new java.io.File(s"$root/back/data").listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getPath).sorted
    assert(parts.length > 1, "one part file cannot show cross-task ordering")
    val written = parts.toSeq.flatMap(p => spark.read.parquet(p)
      .select("streamId", "segId").as[(Long, Long)].collect().toSeq)
    assert(written == written.sorted, s"part files out of (streamId, segId) order: $written")
    val src = VideoStore.segments(spark, root, "src").collect()
    val back = VideoStore.segments(spark, root, "back").collect()
    assert(back.length == src.length)
    back.foreach { b =>
      val s = src.find(s => s.streamId == 4 - b.streamId && s.segId == b.segId).get
      assert(java.util.Arrays.equals(s.payload, b.payload),
        s"stream ${b.streamId} is not the file at that listing position")
    }
  }

  test("TarShard rewrite with fewer writers leaves no stale shards") {
    import spark.implicits._
    val dir = tempDir("graft-tarpromote").toString
    def samples(n: Int) = (0 until n)
      .map(i => (f"k$i%05d", "txt", s"payload $i".getBytes(UTF_8)))
      .toDF("key", "ext", "payload")
    TarShard.writeSamples(samples(64), dir, maxShardBytes = 2048, nWriters = 8)
    val firstShardCount = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("shard-") && f.getName.endsWith(".tar"))
    assert(firstShardCount > 1)
    // rewrite a SMALLER sample set over fewer writers: every row read
    // back must come from the new write (no stale shard globbed in)
    TarShard.writeSamples(samples(5), dir, maxShardBytes = 1L << 20, nWriters = 2)
    val back = TarShard.readDir(spark, dir)
    assert(back.count() == 5, "stale shards from the first write were read back")
    val keys = back.select("key").as[String].collect().sorted.toSeq
    assert(keys == (0 until 5).map(i => f"k$i%05d"))
  }

  /** every file under `dir` (recursively), by path, with its bytes */
  private def snapshot(dir: String): Map[String, Seq[Byte]] = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    files(new java.io.File(dir)).map(f => f.getPath -> Files.readAllBytes(f.toPath).toSeq).toMap
  }

  /** `good` writes the prior output into `dir`; `poisoned` must fail
    * mid-write and leave it byte-identical; neither leaves scratch behind
    */
  private def keepsPriorOutput(what: String, dir: String)(good: => Any)(poisoned: => Any): Unit = {
    def noScratch(): Unit = {
      val left = new java.io.File(dir).listFiles().map(_.getName)
        .filter(n => n.startsWith("_tmp-") || n.startsWith(".tmp-") || n.startsWith(".part-"))
      assert(left.isEmpty, s"$what left scratch behind: ${left.mkString(", ")}")
    }
    good
    noScratch()
    val before = snapshot(dir)
    assert(before.nonEmpty, s"$what wrote nothing")
    intercept[Exception](poisoned)
    assert(snapshot(dir) == before, s"a failed $what changed the prior output")
    noScratch()
  }

  test("a FAILED TarShard rewrite leaves the prior output intact") {
    enableSpy()
    import spark.implicits._
    val dir = tempDir("graft-tarfail").toString
    def samples(n: Int) = (0 until n)
      .map(i => (f"k$i%05d", "txt", s"payload $i".getBytes(UTF_8)))
      .toDF("key", "ext", "payload")
    def write(df: org.apache.spark.sql.DataFrame) =
      TarShard.writeSamples(df, s"spy://$dir", maxShardBytes = 1L << 20, nWriters = 2)
    // a write whose evaluation throws mid-job: payload raises on one row
    // (before the shuffle), or is null, which throws inside the writer
    // task with its shard open
    def poison(bad: org.apache.spark.sql.Column) =
      samples(10).withColumn("payload", when(col("key") === "k00007", bad).otherwise(col("payload")))
    keepsPriorOutput("tar rewrite", dir)(write(samples(10))) {
      write(poison(raise_error(lit("injected failure")).cast("binary")))
    }
    keepsPriorOutput("tar rewrite", dir)(write(samples(10))) {
      SpyFileSystem.reset()
      write(poison(lit(null).cast("binary")))
    }
    assert(SpyFileSystem.creates.get() > 0, "the poisoned writer created no shard")
    // a sibling task killed by the job abort closes on its own exit
    org.scalatest.concurrent.Eventually.eventually(
        org.scalatest.concurrent.Eventually.timeout(org.scalatest.time.Span(10, org.scalatest.time.Seconds))) {
      assert(SpyFileSystem.createdCloses.get() == SpyFileSystem.creates.get(),
        s"creates=${SpyFileSystem.creates.get()} closes=${SpyFileSystem.createdCloses.get()}")
    }
    // prior output still reads back whole — the delete-before-write
    // regression this pins would have left an empty directory here
    assert(TarShard.readDir(spark, dir).count() == 10,
      "failed rewrite destroyed the prior shards")

    // every video export follows the same rule: stream 1 of "bad" has a
    // null payload at segId 1, so its write throws after segId 0
    val root = tempDir("graft-exportfail").toString
    VideoStore.ingest((0 until 32).map(i => StdKernels.syntheticFrame(i % 2, (i / 2).toLong, 8, 12, 3))
      .toDS(), root, "many", gopSize = 4)
    NamedStorage.write(VideoStore.segments(spark, root, "many").toDF().withColumn("payload",
      when(col("streamId") === 1 && col("segId") === 1, lit(null).cast("binary"))
        .otherwise(col("payload"))), root, "bad")
    keepsPriorOutput("exportMp4All", s"$root/all") {
      VideoStore.exportMp4All(spark, root, "many", s"$root/all")
    }(VideoStore.exportMp4All(spark, root, "bad", s"$root/all"))
    keepsPriorOutput("exportMp4", s"$root/one") {
      VideoStore.exportMp4(spark, root, "many", 1L, s"$root/one/s.mp4")
    }(VideoStore.exportMp4(spark, root, "bad", 1L, s"$root/one/s.mp4"))
    keepsPriorOutput("exportConcat", s"$root/cat") {
      VideoStore.exportConcat(spark, root, "many", 1L, s"$root/cat/s.fvc")
    }(VideoStore.exportConcat(spark, root, "bad", 1L, s"$root/cat/s.fvc"))

    // the avc1 export: GOP 0 of fixture stream 1 appended to stream 0
    // redefines SPS id 0 (other dims), which saveMp4 refuses mid-stream
    H264Ingest.ingestH264Dir(spark, queries.VideoQueries.ensureH264Fixture(), root, "h264")
    val h264 = VideoStore.segments(spark, root, "h264").toDF()
    NamedStorage.write(h264.where(col("streamId") === 0 && col("segId") === 0)
      .unionByName(h264.where(col("streamId") === 1 && col("segId") === 0)
        .withColumn("streamId", lit(0L)).withColumn("segId", lit(1L))
        .withColumn("startIndex", lit(5L))), root, "h264bad")
    keepsPriorOutput("saveMp4", s"$root/avc1") {
      H264Ingest.saveMp4(spark, root, "h264", 0L, s"$root/avc1/s.mp4")
    }(H264Ingest.saveMp4(spark, root, "h264bad", 0L, s"$root/avc1/s.mp4"))
  }
}
