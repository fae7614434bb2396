package graft

import java.nio.file.Files

import graft.model.FrameElem
import graft.operators.StdKernels
import graft.sources.{DeflateVideoCodec, FakeVideoCodec, GopCodec, H264GopCodec, Mp4Writer, VideoStore}

/** FakeVideoCodec with a static encode counter (executors share the test
  * JVM in local mode, so the counter sees every task's calls)
  */
object CountingCodec extends graft.sources.GopCodec {
  val encodes = new java.util.concurrent.atomic.AtomicLong(0)
  val decodes = new java.util.concurrent.atomic.AtomicLong(0)
  override def encodeGop(frames: Seq[FrameElem]): Array[Byte] = {
    encodes.incrementAndGet()
    FakeVideoCodec.encodeGop(frames)
  }
  override def decodeGop(payload: Array[Byte], streamId: Long, startIndex: Long,
      upTo: Int, decoded: Option[org.apache.spark.util.LongAccumulator]) = {
    decodes.incrementAndGet()
    FakeVideoCodec.decodeGop(payload, streamId, startIndex, upTo, decoded)
  }
}

class VideoStoreSpec extends SparkSpec {

  private def freshRoot(): String =
    tempDir("graft-video").toString

  private def synthFrames(streamId: Long, n: Int): Seq[FrameElem] =
    (0 until n).map(i => StdKernels.syntheticFrame(streamId, i.toLong, 8, 12, 3))

  private def assertSameFrame(a: FrameElem, b: FrameElem): Unit = {
    assert((a.streamId, a.index, a.height, a.width, a.channels, a.dtype) ==
      (b.streamId, b.index, b.height, b.width, b.channels, b.dtype))
    assert(java.util.Arrays.equals(a.data, b.data))
  }

  test("codec round-trip: decode(encode(gop)) == gop") {
    val gop  = synthFrames(3L, 10)
    val back = FakeVideoCodec.decodeGop(FakeVideoCodec.encodeGop(gop), 3L, 0L).toSeq
    assert(back.size == 10)
    gop.zip(back).foreach { case (a, b) => assertSameFrame(a, b) }
  }

  test("partial decode stops at upTo (sequential-from-keyframe contract)") {
    val gop = synthFrames(1L, 10)
    val acc = spark.sparkContext.longAccumulator("dec")
    val got = FakeVideoCodec.decodeGop(
      FakeVideoCodec.encodeGop(gop), 1L, 0L, upTo = 3, decoded = Some(acc)).toSeq
    assert(got.size == 4)
    assert(acc.value == 4L)
    assertSameFrame(got.last, gop(3))
  }

  test("ingest + full decode round-trips across streams") {
    val root = freshRoot()
    import spark.implicits._
    val all = synthFrames(0L, 25) ++ synthFrames(1L, 13)
    VideoStore.ingest(all.toDS(), root, "v", gopSize = 8)
    val segs = VideoStore.segments(spark, root, "v").collect()
    // 25 frames / gop8 -> 4 segments; 13 -> 2
    assert(segs.count(_.streamId == 0L) == 4)
    assert(segs.count(_.streamId == 1L) == 2)
    val back = VideoStore.frames(spark, root, "v").collect()
      .sortBy(f => (f.streamId, f.index))
    assert(back.length == 38)
    all.sortBy(f => (f.streamId, f.index)).zip(back).foreach {
      case (a, b) => assertSameFrame(a, b)
    }
  }

  test("sparse gather decodes only containing segments, only up to last requested offset") {
    val root = freshRoot()
    import spark.implicits._
    // 10 GOPs of 100 frames
    VideoStore.ingest(synthFrames(0L, 1000).toDS(), root, "big", gopSize = 100)
    val acc  = spark.sparkContext.longAccumulator("decoded")
    val want = Seq(5L, 205L, 210L, 999L)
    val got = VideoStore.gatherFrames(spark, root, "big", 0L, want, Some(acc))
      .collect().sortBy(_.index)
    assert(got.map(_.index).toSeq == want.sorted)
    got.foreach(f => assertSameFrame(f, StdKernels.syntheticFrame(0L, f.index, 8, 12, 3)))
    // segments 0 (to off 5), 2 (to off 10), 9 (to off 99) -> 6 + 11 + 100 decodes
    assert(acc.value == 6L + 11L + 100L)
  }

  test("multi-stream sparse gather: one pass plans and decodes every stream's rows") {
    val root = freshRoot()
    import spark.implicits._
    // stream 0: 5 GOPs of 100; stream 1: 3 GOPs of 100
    val all = synthFrames(0L, 500) ++ synthFrames(1L, 300)
    VideoStore.ingest(all.toDS(), root, "multi", gopSize = 100)
    val acc = spark.sparkContext.longAccumulator("decodedMulti")
    val wants = Map(0L -> Seq(5L, 205L, 499L), 1L -> Seq(0L, 250L, 255L))
    val got = VideoStore.gatherFramesMulti(spark, root, "multi", wants, Some(acc))
      .collect().sortBy(f => (f.streamId, f.index))
    assert(got.map(f => (f.streamId, f.index)).toSeq ==
      Seq((0L, 5L), (0L, 205L), (0L, 499L), (1L, 0L), (1L, 250L), (1L, 255L)))
    got.foreach(f => assertSameFrame(f, StdKernels.syntheticFrame(f.streamId, f.index, 8, 12, 3)))
    // decode pruning holds PER (stream, segment): s0 segs 0->off5, 2->off5,
    // 4->off99; s1 segs 0->off0, 2->off55 — gathers never decode past the
    // last requested offset of each stream's own segment
    assert(acc.value == (6L + 6L + 100L) + (1L + 56L))
  }

  test("compression hints: storage codec reaches the parquet files; lossless is exact (op.py:57-102)") {
    val root = freshRoot()
    import spark.implicits._
    val frames = synthFrames(0L, 16)
    VideoStore.ingest(frames.toDS(), root, "z", gopSize = 8,
      hints = VideoStore.CompressionHints(storageCodec = "zstd"))
    // writer option really applied: parquet part files carry the codec name
    val parts = new java.io.File(s"$root/z/data").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(parts.nonEmpty && parts.forall(_.contains("zstd")))
    // lossless default: exact round-trip
    val back = VideoStore.frames(spark, root, "z").collect().sortBy(_.index)
    frames.zip(back).foreach { case (a, b) => assertSameFrame(a, b) }
  }

  test("compression hints: lossy quality quantizes samples monotonically") {
    val root = freshRoot()
    import spark.implicits._
    val hints = VideoStore.CompressionHints(quality = 40, lossless = false)
    val step  = hints.step
    assert(step > 1)
    VideoStore.ingest(synthFrames(0L, 16).toDS(), root, "lossy", gopSize = 8, hints = hints)
    val back = VideoStore.frames(spark, root, "lossy").collect()
    assert(back.nonEmpty)
    // every decoded sample is a multiple of the quantization step, and
    // within step of the original
    back.foreach { f =>
      val orig = StdKernels.syntheticFrame(0L, f.index, 8, 12, 3)
      f.data.indices.foreach { i =>
        val v = f.data(i) & 0xff
        assert(v % step == 0)
        assert(math.abs(v - (orig.data(i) & 0xff)) < step)
      }
    }
  }

  test("export concatenates segments in order") {
    val root = freshRoot()
    import spark.implicits._
    VideoStore.ingest(synthFrames(0L, 20).toDS(), root, "exp", gopSize = 8)
    val out   = s"$root/out.fvc"
    val bytes = VideoStore.exportConcat(spark, root, "exp", 0L, out)
    val expected = VideoStore.segments(spark, root, "exp").collect()
      .map(_.payload.length.toLong).sum
    assert(bytes == expected)
    assert(new java.io.File(out).length() == expected)
  }

  test("mp4 round-trip: export -> demux ingest -> identical frames and segment index") {
    import spark.implicits._
    val frames = synthFrames(0L, 20)
    // every store codec: the container layer reads each payload header
    // (dims for the sample entry, frame count for the demux cross-check)
    // with the codec that wrote it
    for (codec <- Seq[GopCodec](FakeVideoCodec, H264GopCodec.Default, DeflateVideoCodec)) {
      val root = freshRoot()
      VideoStore.ingest(frames.toDS(), root, "orig", gopSize = 8, codec = codec)
      val out = s"$root/rt.mp4"
      VideoStore.exportMp4(spark, root, "orig", 0L, out, fps = 24)
      // demux the container back into a second stored stream
      VideoStore.ingestMp4(spark, out, root, "fromMp4", streamId = 0L)
      val origSegs = VideoStore.segments(spark, root, "orig").collect().sortBy(_.segId)
      val backSegs = VideoStore.segments(spark, root, "fromMp4").collect().sortBy(_.segId)
      assert(backSegs.map(s => (s.segId, s.startIndex, s.numFrames)).toSeq ==
        origSegs.map(s => (s.segId, s.startIndex, s.numFrames)).toSeq)
      origSegs.zip(backSegs).foreach { case (a, b) =>
        assert(java.util.Arrays.equals(a.payload, b.payload))
      }
      val back = VideoStore.frames(spark, root, "fromMp4", codec = codec).collect()
        .sortBy(_.index)
      assert(back.length == 20)
      val orig = VideoStore.frames(spark, root, "orig", codec = codec).collect()
        .sortBy(_.index)
      orig.zip(back).foreach { case (a, b) => assertSameFrame(a, b) }
      if (codec == FakeVideoCodec) frames.zip(back).foreach { case (a, b) => assertSameFrame(a, b) }
    }
  }

  test("save_mp4 writes a structurally valid ISO-BMFF container around the stored GOPs") {
    val root = freshRoot()
    import spark.implicits._
    VideoStore.ingest(synthFrames(0L, 20).toDS(), root, "mp4", gopSize = 8)
    val out   = s"$root/out.mp4"
    val total = VideoStore.exportMp4(spark, root, "mp4", 0L, out, fps = 24)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(out))
    assert(bytes.length.toLong == total)

    def be32(off: Int): Int =
      ((bytes(off) & 0xff) << 24) | ((bytes(off + 1) & 0xff) << 16) |
        ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
    def fourcc(off: Int): String = new String(bytes, off + 4, 4, "US-ASCII")
    // top-level box walk
    def topBoxes: Seq[(String, Int, Int)] = {
      var off = 0
      val b   = Seq.newBuilder[(String, Int, Int)]
      while (off < bytes.length) {
        val sz = be32(off); b += ((fourcc(off), off, sz)); off += sz
      }
      b.result()
    }
    assert(topBoxes.map(_._1) == Seq("ftyp", "mdat", "moov"),
      "exactly the classic three top-level boxes, in order")

    val segs = VideoStore.segments(spark, root, "mp4").collect().sortBy(_.segId)
    val (_, mdatOff, mdatSz) = topBoxes(1)
    // mdat payload == segments concatenated in segId order
    val mdatBody = bytes.slice(mdatOff + 8, mdatOff + mdatSz)
    assert(java.util.Arrays.equals(mdatBody, segs.flatMap(_.payload).toArray))

    // descend moov/trak/mdia/minf/stbl and check the sample tables
    def child(off: Int, end: Int, tpe: String): Int = {
      var o = off
      while (o < end && fourcc(o) != tpe) o += be32(o)
      assert(o < end, s"missing box $tpe"); o
    }
    val (_, moovOff, moovSz) = topBoxes(2)
    val trak = child(moovOff + 8, moovOff + moovSz, "trak")
    val mdia = child(trak + 8, trak + be32(trak), "mdia")
    val minf = child(mdia + 8, mdia + be32(mdia), "minf")
    val stbl = child(minf + 8, minf + be32(minf), "stbl")
    val stblEnd = stbl + be32(stbl)
    val stsz = child(stbl + 8, stblEnd, "stsz")
    assert(be32(stsz + 16) == segs.length, "stsz sample count == #GOPs")
    segs.indices.foreach { i =>
      assert(be32(stsz + 20 + 4 * i) == segs(i).payload.length, s"stsz[$i]")
    }
    val stco = child(stbl + 8, stblEnd, "stco")
    assert(be32(stco + 16) == mdatOff + 8, "chunk offset points at first payload byte")
    val stts = child(stbl + 8, stblEnd, "stts")
    val runs = be32(stts + 12)
    val framesTotal = (0 until runs)
      .map(r => be32(stts + 16 + 8 * r).toLong * be32(stts + 20 + 8 * r)).sum
    assert(framesTotal == 20L, "stts durations sum to total frames")
    val stsd = child(stbl + 8, stblEnd, "stsd")
    assert(fourcc(stsd + 16) == "gfvc", "sample entry carries the stand-in fourcc")
  }

  // ------------------------------------------------------ 64-bit container

  private def be32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)
  private def be64(b: Array[Byte], off: Int): Long =
    (be32(b, off) << 32) | be32(b, off + 4)

  test("mdat header switches to the 64-bit largesize form past 2 GiB") {
    val small = Mp4Writer.mdatHeader(1000L)
    assert(small.length == 8 && be32(small, 0) == 1008L)
    val big = Mp4Writer.mdatHeader(5L << 30) // 5 GiB payload
    assert(big.length == 16, "largesize header is 16 bytes")
    assert(be32(big, 0) == 1L, "compact size 1 flags largesize")
    assert(new String(big, 4, 4, "US-ASCII") == "mdat")
    assert(be64(big, 8) == (5L << 30) + 16L)
  }

  test("moov past the stco range writes co64 and demuxes back exactly (no 2 GiB export wall)") {
    // synthetic sample table: 4 GOPs of 1.5 GiB starting at offset 5 GiB —
    // no real payload needed, the sample TABLE is what must survive 64-bit
    val gib = 1L << 30
    val samples = Seq.fill(4)(Mp4Writer.SampleMeta(gib + gib / 2, 250))
    val chunkOffset = 5L * gib
    val moov = Mp4Writer.moov(samples, 16, 24, 30, chunkOffset)
    // the box tree must contain co64, not stco
    val moovStr = new String(moov.map(b => if (b >= 32 && b < 127) b.toChar else '.'))
    assert(moovStr.contains("co64") && !moovStr.contains("stco"))
    val (refs, durs) = Mp4Writer.parseSampleTableWithDurations(moov)
    assert(refs.map(_.offset) ==
      Seq(chunkOffset, chunkOffset + samples(0).bytes,
        chunkOffset + 2 * samples(0).bytes, chunkOffset + 3 * samples(0).bytes))
    assert(refs.map(_.bytes.toLong) == samples.map(_.bytes))
    assert(durs == Seq(250, 250, 250, 250))
  }

  test("stco chunk offsets parse UNSIGNED: a 2-4 GiB offset is legal stco, not a negative") {
    val off = 3L << 30 // 3 GiB: fits unsigned 32-bit, overflows signed
    val moov = Mp4Writer.moov(Seq(Mp4Writer.SampleMeta(100, 10)), 16, 24, 30, off)
    val moovStr = new String(moov.map(b => if (b >= 32 && b < 127) b.toChar else '.'))
    assert(moovStr.contains("stco"), "within unsigned-32 range stco is still the right box")
    val (refs, _) = Mp4Writer.parseSampleTableWithDurations(moov)
    assert(refs.head.offset == off)
  }

  test("distributed multi-stream export: one task per stream, byte-identical to the driver path") {
    val root = freshRoot()
    import spark.implicits._
    val all = synthFrames(0L, 20) ++ synthFrames(1L, 12)
    VideoStore.ingest(all.toDS(), root, "many", gopSize = 8)
    val outDir = s"$root/exports"
    val got = VideoStore.exportMp4All(spark, root, "many", outDir, fps = 24)
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(0L, 1L))
    // byte parity with the driver-streamed single-stream exporter
    val single = s"$root/single0.mp4"
    VideoStore.exportMp4(spark, root, "many", 0L, single, fps = 24)
    assert(java.util.Arrays.equals(
      Files.readAllBytes(java.nio.file.Paths.get(single)),
      Files.readAllBytes(java.nio.file.Paths.get(s"$outDir/stream-0.mp4"))))
    // every exported file demuxes + decodes back to its stream's frames
    got.foreach { case (sid, path, bytes) =>
      val raw = Files.readAllBytes(java.nio.file.Paths.get(path.stripPrefix("file:")))
      assert(raw.length.toLong == bytes)
      val refs = Mp4Writer.parseSamples(raw)
      val back = refs.iterator.flatMap { r =>
        FakeVideoCodec.decodeGop(
          java.util.Arrays.copyOfRange(raw, r.offset.toInt, r.offset.toInt + r.bytes),
          sid, 0L)
      }.toSeq
      val expect = all.filter(_.streamId == sid)
      assert(back.size == expect.size)
      // decodeGop startIndex arg is per-call; compare payload content only
      expect.sortBy(_.index).zip(back).foreach { case (a, b) =>
        assert(java.util.Arrays.equals(a.data, b.data))
      }
      // no spool or part files left behind
      val leftovers = new java.io.File(outDir).listFiles()
        .filter(f => Seq("_tmp-", ".tmp-", ".part-").exists(f.getName.startsWith))
      assert(leftovers.isEmpty, s"scratch files not cleaned: ${leftovers.mkString(",")}")
    }
    // re-export into the same directory commits cleanly over the previous
    // files (the colliding-name delete + rename of the commit rule)
    val before = Files.readAllBytes(java.nio.file.Paths.get(s"$outDir/stream-0.mp4"))
    val again  = VideoStore.exportMp4All(spark, root, "many", outDir, fps = 24)
    assert(again.length == 2)
    val after = Files.readAllBytes(java.nio.file.Paths.get(s"$outDir/stream-0.mp4"))
    assert(java.util.Arrays.equals(before, after))
  }

  test("distributed directory ingest: exportMp4All -> ingestMp4Dir round-trips a multi-stream store") {
    val root = freshRoot()
    import spark.implicits._
    val all = synthFrames(0L, 20) ++ synthFrames(1L, 12)
    VideoStore.ingest(all.toDS(), root, "dirsrc", gopSize = 8)
    val outDir = s"$root/direxp"
    VideoStore.exportMp4All(spark, root, "dirsrc", outDir)
    VideoStore.ingestMp4Dir(spark, outDir, root, "dirback")
    val orig = VideoStore.segments(spark, root, "dirsrc").collect()
      .sortBy(s => (s.streamId, s.segId))
    val back = VideoStore.segments(spark, root, "dirback").collect()
      .sortBy(s => (s.streamId, s.segId))
    assert(back.map(s => (s.streamId, s.segId, s.startIndex, s.numFrames)).toSeq ==
      orig.map(s => (s.streamId, s.segId, s.startIndex, s.numFrames)).toSeq)
    orig.zip(back).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a.payload, b.payload))
    }
    val frames = VideoStore.frames(spark, root, "dirback").collect()
      .sortBy(f => (f.streamId, f.index))
    assert(frames.length == 32)
    all.sortBy(f => (f.streamId, f.index)).zip(frames).foreach {
      case (a, b) => assertSameFrame(a, b)
    }
  }

  test("a last-box moov written with size=0 (to end of file) still parses") {
    val root = freshRoot()
    import spark.implicits._
    VideoStore.ingest(synthFrames(0L, 16).toDS(), root, "sz0", gopSize = 8)
    val out = s"$root/sz0.mp4"
    VideoStore.exportMp4(spark, root, "sz0", 0L, out)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(out))
    val normal = Mp4Writer.parseSamples(bytes)
    // find the trailing moov and rewrite its compact size to 0 — a legal
    // encoding for the last box per 14496-12
    var off = 0
    var moovAt = -1
    while (moovAt < 0) {
      if (new String(bytes, off + 4, 4, "US-ASCII") == "moov") moovAt = off
      else off += ((bytes(off) & 0xff) << 24) | ((bytes(off + 1) & 0xff) << 16) |
        ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
    }
    val patched = bytes.clone()
    patched(moovAt) = 0; patched(moovAt + 1) = 0
    patched(moovAt + 2) = 0; patched(moovAt + 3) = 0
    assert(Mp4Writer.parseSamples(patched) == normal)
  }

  test("demux handles the general multi-chunk stsc/stco layout (files from other muxers)") {
    // hand-built moov: 5 samples over 2 chunks (3 then 2), sizes
    // 10,20,30,40,50, chunk offsets 100 and 500 -> absolute sample offsets
    // 100,110,130 / 500,540; stts in two runs (3x7 frames, 2x9)
    import java.io.{ByteArrayOutputStream, DataOutputStream}
    def box(tpe: String)(body: DataOutputStream => Unit): Array[Byte] = {
      val buf = new ByteArrayOutputStream(); val d = new DataOutputStream(buf)
      body(d); d.flush()
      val out = new ByteArrayOutputStream(); val o = new DataOutputStream(out)
      o.writeInt(8 + buf.size()); o.write(tpe.getBytes("US-ASCII")); buf.writeTo(o); o.flush()
      out.toByteArray
    }
    def full(tpe: String)(body: DataOutputStream => Unit): Array[Byte] =
      box(tpe) { d => d.writeInt(0); body(d) }
    val stsz = full("stsz") { d =>
      d.writeInt(0); d.writeInt(5); Seq(10, 20, 30, 40, 50).foreach(d.writeInt)
    }
    val stco = full("stco") { d => d.writeInt(2); d.writeInt(100); d.writeInt(500) }
    val stsc = full("stsc") { d =>
      d.writeInt(2)
      d.writeInt(1); d.writeInt(3); d.writeInt(1) // chunks 1..: 3 samples
      d.writeInt(2); d.writeInt(2); d.writeInt(1) // chunks 2..: 2 samples
    }
    val stts = full("stts") { d =>
      d.writeInt(2); d.writeInt(3); d.writeInt(7); d.writeInt(2); d.writeInt(9)
    }
    val stbl = box("stbl") { d => Seq(stsz, stco, stsc, stts).foreach(d.write) }
    val minf = box("minf") { d => d.write(stbl) }
    val mdia = box("mdia") { d => d.write(minf) }
    val trak = box("trak") { d => d.write(mdia) }
    val moov = box("moov") { d => d.write(trak) }
    val (refs, durs) = Mp4Writer.parseSampleTableWithDurations(moov)
    assert(refs.map(r => (r.offset, r.bytes)) ==
      Seq((100L, 10), (110L, 20), (130L, 30), (500L, 40), (540L, 50)))
    assert(durs == Seq(7, 7, 7, 9, 9))
  }

  test("ingest encodes each GOP exactly once — the write's sampling pass must not re-run the codec") {
    val root = freshRoot()
    import spark.implicits._
    CountingCodec.encodes.set(0)
    VideoStore.ingest(synthFrames(0L, 120).toDS(), root, "once", gopSize = 10,
      codec = CountingCodec)
    assert(CountingCodec.encodes.get() == 12L,
      s"12 GOPs must encode exactly once each, got ${CountingCodec.encodes.get()}")
    // and the stream still reads back exactly
    val back = VideoStore.frames(spark, root, "once", codec = CountingCodec)
      .collect().sortBy(_.index)
    assert(back.length == 120)
    back.foreach(f => assertSameFrame(f, StdKernels.syntheticFrame(0L, f.index, 8, 12, 3)))
  }

  test("ingest starts exactly 3 jobs and building segments or frames starts none") {
    val root = freshRoot()
    import spark.implicits._
    def gray(sid: Long, n: Int) = (0 until n).map(i => StdKernels.syntheticFrame(sid, i.toLong, 16, 16, 1))
    val frames = (gray(0L, 40) ++ gray(1L, 24)).toDS()
    // 1: the (streamId, GOP) group shuffle's map stage (reads the frames);
    // 2: the streamId shuffle's map stage (encodes every GOP once);
    // 3: the parquet write (sorts each partition by (streamId, segId))
    assert(jobsStarted(VideoStore.ingest(frames, root, "jobs", gopSize = 8,
      codec = H264GopCodec.Pcm)) == 3)
    // the segment schema is known, so no read infers it from the footers;
    // a CPU-bound codec's decode spread is planned from the file listing
    assert(jobsStarted {
      VideoStore.segments(spark, root, "jobs")
      VideoStore.frames(spark, root, "jobs", codec = H264GopCodec.Pcm)
      VideoStore.frames(spark, root, "jobs", codec = H264GopCodec.Pcm, minDecodeTasks = 3)
    } == 0)
    assert(VideoStore.frames(spark, root, "jobs", codec = H264GopCodec.Pcm).count() == 64L)
  }

  test("ingest layout: each stream whole in one (streamId, segId)-sorted part file; gather opens only covering GOPs") {
    val root = freshRoot()
    import spark.implicits._
    val all = synthFrames(0L, 50) ++ synthFrames(1L, 30) ++ synthFrames(2L, 45)
    // without partition coalescing the streams hash to several part files
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    try VideoStore.ingest(spark.createDataset(all).repartition(3), root, "layout",
      gopSize = 10, codec = CountingCodec)
    finally spark.conf.unset(coalesce)
    val parts = new java.io.File(s"$root/layout/data").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    val perFile = parts.toSeq.map(f => spark.read.parquet(f.getPath)
      .select("streamId", "segId").as[(Long, Long)].collect().toSeq)
      .filter(_.nonEmpty)
    perFile.foreach(keys => assert(keys == keys.sorted, s"part file out of order: $keys"))
    val streamsPerFile = perFile.map(_.map(_._1).distinct)
    assert(streamsPerFile.flatten.sorted == Seq(0L, 1L, 2L),
      s"each stream must sit in exactly one part file: $streamsPerFile")
    assert(perFile.flatten.size == 5 + 3 + 5)
    // stream 0 frames 12, 47 sit in GOPs 1 and 4; stream 2 frame 0 in GOP 0
    CountingCodec.decodes.set(0)
    val got = VideoStore.gatherFramesMulti(spark, root, "layout",
        Map(0L -> Seq(12L, 47L), 2L -> Seq(0L)), codec = CountingCodec)
      .collect().map(f => (f.streamId, f.index)).sorted.toSeq
    assert(got == Seq((0L, 12L), (0L, 47L), (2L, 0L)))
    assert(CountingCodec.decodes.get() == 3L,
      s"only the 3 covering GOPs may decode, got ${CountingCodec.decodes.get()}")
  }

  test("ingestMp4 builds its whole index from ONE moov read — no per-sample driver round-trips") {
    val root = freshRoot()
    import spark.implicits._
    // 30 GOPs: the pre-fix path would issue 30 extra positioned reads
    VideoStore.ingest(synthFrames(0L, 120).toDS(), root, "spy", gopSize = 4)
    val out = s"$root/spy.mp4"
    VideoStore.exportMp4(spark, root, "spy", 0L, out)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.spy.impl", classOf[SpyFileSystem].getName)
    SpyFileSystem.reset()
    VideoStore.ingestMp4(spark, s"spy://$out", root, "fromSpy", streamId = 0L)
    val reads = SpyFileSystem.positionedReads.get()
    // driver: box-header walk (3 boxes) + moov body + 1 frame-count
    // cross-check = 5; executors: one positioned read per sample = 30.
    // The removed per-sample frame-count loop alone would add 30 more.
    assert(reads <= 40, s"expected ~35 positioned reads (5 driver + 30 executor), got $reads")
    // and the index is still exactly right
    val back = VideoStore.frames(spark, root, "fromSpy").collect().sortBy(_.index)
    assert(back.length == 120)
    back.foreach(f => assertSameFrame(f, StdKernels.syntheticFrame(0L, f.index, 8, 12, 3)))
  }

  test("decode-aware spread: cpuBoundDecode stores fan decode out past the I/O bin-packing") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = freshRoot()
    // 24 tiny GOP segments: stored bytes pack into 1-2 scan partitions
    val frames = (0 until 96).map(i =>
      StdKernels.syntheticFrame(0L, i.toLong, 16, 16, 1))
    VideoStore.ingest(frames.toDS(), root, "spread", gopSize = 4,
      graft.model.CacheMode.Ignore, codec = H264GopCodec.Pcm)
    def taskCount(codec: graft.sources.GopCodec): Long =
      VideoStore.frames(spark, root, "spread", codec = codec).toDF()
        .select(spark_partition_id().as("pid"))
        .agg(countDistinct(col("pid"))).head().getLong(0)
    val cores = spark.sparkContext.defaultParallelism.toLong
    // H264 (cpuBoundDecode): min(24 segments, 4x cores) decode tasks —
    // never the 1-2 the stored-byte bin-packing would produce
    assert(taskCount(H264GopCodec.Pcm) == math.min(24L, 4L * cores))
    // explicit override still wins
    assert(VideoStore.frames(spark, root, "spread", codec = H264GopCodec.Pcm,
        minDecodeTasks = 3).toDF()
      .select(spark_partition_id().as("pid"))
      .agg(countDistinct(col("pid"))).head().getLong(0) == 3L)
    // decoded content identical under the spread plan
    val back = VideoStore.frames(spark, root, "spread", codec = H264GopCodec.Pcm)
      .collect().sortBy(_.index)
    assert(back.length == 96)
    back.foreach(f => assertSameFrame(f,
      StdKernels.syntheticFrame(0L, f.index, 16, 16, 1)))
  }
}
