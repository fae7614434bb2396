package graft

import graft.model.CacheMode
import graft.sources.{H264, H264Ingest, VideoStore}

/** The H264 store loop on REAL Annex-B bytes: distributed ingest into the
  * committed segment-table format, stored-payload self-containment, and
  * the export-concatenate-reingest round trip.
  */
class H264IngestSpec extends SparkSpec {

  private lazy val root: String = {
    val dir = queries.VideoQueries.ensureH264Fixture()
    val r = tempDir("graft-h264-store").toString
    H264Ingest.ingestH264Dir(spark, dir, r, "realvid", CacheMode.Overwrite)
    r
  }

  test("ingestH264Dir stores keyframe-aligned GOP segments in VideoStore's format") {
    val segs = VideoStore.segments(spark, root, "realvid")
      .collect().sortBy(s => (s.streamId, s.segId))
    assert(segs.map(s => (s.streamId, s.segId, s.startIndex, s.numFrames)).toSeq == Seq(
      (0L, 0L, 0L, 5), (0L, 1L, 5L, 5), (0L, 2L, 10L, 5),
      (1L, 0L, 0L, 3), (1L, 1L, 3L, 3)))
  }

  test("every stored payload re-indexes standalone (parameter sets travel with the GOP)") {
    VideoStore.segments(spark, root, "realvid").collect().foreach { s =>
      val ix = H264.index(s.payload)
      assert(ix.frames.length == s.numFrames)
      assert(ix.keyframes == Vector(0L))
      assert(ix.width > 0 && ix.height > 0)
    }
  }

  test("a directory of avc1 MP4s ingests to the SAME table as the raw .h264 dir") {
    import graft.sources.H264Mp4
    // wrap each fixture stream in a real avc1 container, ingest the dir
    val h264Dir = queries.VideoQueries.ensureH264Fixture()
    val mp4Dir = tempDir("graft-h264-mp4").toFile
    new java.io.File(h264Dir).listFiles().filter(_.getName.endsWith(".h264"))
      .sortBy(_.getName).foreach { f =>
        val ix = H264.index(java.nio.file.Files.readAllBytes(f.toPath))
        val out = new java.io.FileOutputStream(
          new java.io.File(mp4Dir, f.getName.replace(".h264", ".mp4")))
        try H264Mp4.mux(ix, out) finally out.close()
      }
    val r2 = tempDir("graft-h264-store-mp4").toString
    H264Ingest.ingestMp4H264Dir(spark, mp4Dir.getPath, r2, "realvid",
      CacheMode.Overwrite)
    val a = VideoStore.segments(spark, root, "realvid").collect()
      .sortBy(s => (s.streamId, s.segId))
      .map(s => (s.streamId, s.segId, s.startIndex, s.numFrames))
    val b = VideoStore.segments(spark, r2, "realvid").collect()
      .sortBy(s => (s.streamId, s.segId))
      .map(s => (s.streamId, s.segId, s.startIndex, s.numFrames))
    assert(a.toSeq == b.toSeq) // identical index; payload bytes differ only
                               // in parameter-set placement (avcC re-inline)
  }

  test("saveMp4 exports a real avc1 container that re-ingests structurally") {
    import graft.sources.H264Mp4
    val out = tempDir("graft-h264-export").resolve("stream0.mp4").toString
    val n = H264Ingest.saveMp4(spark, root, "realvid", 0L, out)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out))
    assert(n == bytes.length)
    val cfg = H264Mp4.parseAvcConfig(bytes)
    assert(cfg.width == 64 && cfg.height == 48 && cfg.profileIdc == 66)
    val ix = H264Mp4.indexMp4(bytes)
    assert(ix.frames.length == 15 && ix.keyframes == Vector(0L, 5L, 10L))
  }

  test("saveMp4 is byte-equal to mux of the stream's concatenated payloads") {
    import graft.sources.H264Mp4
    val dir = tempDir("graft-h264-save")
    for (sid <- Seq(0L, 1L)) {
      val out = dir.resolve(s"s$sid.mp4")
      H264Ingest.saveMp4(spark, root, "realvid", sid, out.toString)
      val concat = VideoStore.segments(spark, root, "realvid").collect()
        .filter(_.streamId == sid).sortBy(_.segId).flatMap(_.payload.toSeq)
      val want = new java.io.ByteArrayOutputStream()
      H264Mp4.mux(H264.index(concat), want)
      assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(out), want.toByteArray),
        s"stream $sid: per-GOP export diverges from the whole-stream mux")
    }
  }

  test("gatherAccessUnits reads ONLY covering segments and returns exact frame rows") {
    val acc = spark.sparkContext.longAccumulator("h264-gather-scanned")
    // stream 0 GOPs cover frames [0,5) [5,10) [10,15): frames 1 and 12
    // live in GOPs 0 and 2 — GOP 1 must never be opened; stream 1's
    // frame 4 lives in its GOP 1 ([3,6))
    val got = H264Ingest.gatherAccessUnits(spark, root, "realvid",
        Map(0L -> Seq(1L, 12L), 1L -> Seq(4L)), scanned = Some(acc))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getInt(4))).sortBy(t => (t._1, t._2)).toSeq
    assert(got == Seq((0L, 1L, false, 1), (0L, 12L, false, 1), (1L, 4L, false, 1)))
    assert(acc.value == 3L, s"must open exactly the 3 covering segments, got ${acc.value}")
  }

  test("exportConcat of an H264 store re-ingests to the original frame structure") {
    val out = tempDir("graft-h264-export").resolve("stream0.h264").toString
    val n = VideoStore.exportConcat(spark, root, "realvid", 0L, out)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out))
    assert(n == bytes.length && n > 0)
    val ix = H264.index(bytes)
    assert(ix.frames.length == 15)
    assert(ix.keyframes == Vector(0L, 5L, 10L))
    assert(ix.width == 64 && ix.height == 48)
    assert(ix.frames.map(_.nSlices).count(_ == 2) == 1) // the split frame survives
  }
}
