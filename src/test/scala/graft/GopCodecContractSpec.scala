package graft

import graft.model.{FrameElem, FrameType}
import graft.operators.StdKernels
import graft.sources.{FakeVideoCodec, GopCodec}

/** The codec CONTRACT, written against the [[GopCodec]] trait alone — any
  * future real codec (FFmpeg via JavaCPP, see the wiring note below) must
  * pass by subclassing with its instance. This is what makes the swap
  * turnkey: the storage/pruning/planning layers already depend only on
  * the trait, and this spec freezes the behavioral assumptions they make
  * (reference seam: `scanner/video/decoder_automata.h:28-51`).
  *
  * Wiring note for a real codec (outside this offline container): add
  * the JavaCPP presets artifacts `org.bytedeco:ffmpeg-platform` (pulls
  * `ffmpeg` + `javacpp`) at a version matching the Spark JVM, implement
  * `encodeGop` with `avcodec` H264 (one IDR per GOP head, zero
  * B-reordering or handle pts/dts), `decodeGop` by feeding packets until
  * `upTo + 1` frames emerge, then
  * `class FfmpegCodecContractSpec extends GopCodecContract("ffmpeg-h264",
  * ffmpegCodec, maxMeanAbsError = 4.0)`.
  *
  * `maxMeanAbsError`: 0.0 demands bit-exact round-trip (any lossless
  * codec); a lossy codec sets its acceptable per-sample mean |error| (in
  * U8 levels). Shape, count, ORDER, prefix-decode monotonicity, keyframe
  * independence, and decode-count accounting are exact for every codec —
  * only sample values get the tolerance.
  */
abstract class GopCodecContract(codecName: String, codec: GopCodec,
    maxMeanAbsError: Double = 0.0) extends SparkSpec {

  private def gop(streamId: Long, start: Long, n: Int): Seq[FrameElem] =
    (0 until n).map(i =>
      StdKernels.syntheticFrame(streamId, start + i, 12, 16, 3))

  private def meanAbsError(a: FrameElem, b: FrameElem): Double = {
    require(a.data.length == b.data.length)
    a.data.zip(b.data).map { case (x, y) =>
      math.abs((x & 0xff) - (y & 0xff))
    }.sum.toDouble / a.data.length
  }

  private def assertFrameMatch(got: FrameElem, want: FrameElem): Unit = {
    assert(got.streamId == want.streamId && got.index == want.index,
      s"$codecName: identity (streamId, index) must survive the round-trip")
    assert(got.height == want.height && got.width == want.width &&
      got.channels == want.channels && got.dtype == want.dtype,
      s"$codecName: frame shape/dtype must survive the round-trip")
    assert(meanAbsError(got, want) <= maxMeanAbsError,
      s"$codecName: decoded samples exceed maxMeanAbsError=$maxMeanAbsError")
  }

  test(s"$codecName: encode/decode round-trip preserves every frame in order") {
    val frames  = gop(3L, 100L, 8)
    val payload = codec.encodeGop(frames)
    val back    = codec.decodeGop(payload, 3L, 100L).toSeq
    assert(back.size == frames.size)
    back.zip(frames).foreach { case (g, w) => assertFrameMatch(g, w) }
  }

  test(s"$codecName: prefix decode is monotone — upTo=k yields exactly the first k+1") {
    val frames  = gop(1L, 0L, 10)
    val payload = codec.encodeGop(frames)
    val full    = codec.decodeGop(payload, 1L, 0L).toSeq
    for (k <- Seq(0, 3, 9)) {
      val prefix = codec.decodeGop(payload, 1L, 0L, upTo = k).toSeq
      assert(prefix.size == k + 1,
        s"$codecName: upTo=$k must yield exactly ${k + 1} frames")
      // the prefix must BE the prefix of the full decode (a codec whose
      // early-exit path decodes differently would corrupt sparse reads)
      prefix.zip(full).foreach { case (p, f) =>
        assert(p.index == f.index && java.util.Arrays.equals(p.data, f.data),
          s"$codecName: prefix decode diverged from full decode at upTo=$k")
      }
    }
  }

  test(s"$codecName: GOPs are independent — any segment decodes standalone") {
    // encode two GOPs; decode the SECOND first and alone. A codec leaking
    // cross-GOP state (reference frames crossing the keyframe boundary)
    // breaks the sparse-gather planner, which opens segments in any order.
    val g1 = gop(7L, 0L, 6)
    val g2 = gop(7L, 6L, 6)
    val p1 = codec.encodeGop(g1)
    val p2 = codec.encodeGop(g2)
    val back2 = codec.decodeGop(p2, 7L, 6L).toSeq
    back2.zip(g2).foreach { case (g, w) => assertFrameMatch(g, w) }
    val back1 = codec.decodeGop(p1, 7L, 0L).toSeq
    back1.zip(g1).foreach { case (g, w) => assertFrameMatch(g, w) }
  }

  test(s"$codecName: decode-count accounting is exact (prune instrumentation)") {
    val payload = codec.encodeGop(gop(0L, 0L, 10))
    val acc = spark.sparkContext.longAccumulator("contract-decoded")
    codec.decodeGop(payload, 0L, 0L, upTo = 4, decoded = Some(acc)).foreach(_ => ())
    assert(acc.value == 5L,
      s"$codecName: upTo=4 must report exactly 5 decoded frames, got ${acc.value}")
  }

  test(s"$codecName: codec serializes (runs inside executor tasks)") {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(codec); oos.close()
    val in = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    val revived = in.readObject().asInstanceOf[GopCodec]
    val frames  = gop(2L, 50L, 4)
    val back    = revived.decodeGop(revived.encodeGop(frames), 2L, 50L).toSeq
    assert(back.size == 4)
    back.zip(frames).foreach { case (g, w) => assertFrameMatch(g, w) }
  }
}

/** the shipped instance must honor its own seam */
class FakeVideoCodecContractSpec
  extends GopCodecContract("FakeVideoCodec", FakeVideoCodec)

/** the deflate codec (temporal delta + per-frame DEFLATE) honors the same
  * contract — plus properties only a REAL entropy coder has
  */
class DeflateVideoCodecContractSpec
  extends GopCodecContract("DeflateVideoCodec", graft.sources.DeflateVideoCodec) {
  import graft.sources.DeflateVideoCodec

  test("DeflateVideoCodec: structured frames genuinely compress (real entropy coding)") {
    val frames = (0 until 8).map(i =>
      StdKernels.syntheticFrame(0L, i.toLong, 48, 64, 3))
    val rawBytes = frames.map(_.data.length.toLong).sum
    val payload  = DeflateVideoCodec.encodeGop(frames).length.toLong
    assert(payload * 2 < rawBytes,
      s"synthetic GOP must compress at least 2x (raw=$rawBytes, payload=$payload)")
  }

  test("DeflateVideoCodec: incompressible noise is stored honestly (~1x, never corrupted)") {
    val rnd = new scala.util.Random(42)
    val frames = (0 until 4).map { i =>
      val d = new Array[Byte](24 * 32 * 3); rnd.nextBytes(d)
      FrameElem(1L, i.toLong, 24, 32, 3, FrameType.U8, d)
    }
    val payload = DeflateVideoCodec.encodeGop(frames)
    val back    = DeflateVideoCodec.decodeGop(payload, 1L, 0L).toSeq
    back.zip(frames).foreach { case (g, w) =>
      assert(java.util.Arrays.equals(g.data, w.data), "noise must round-trip bit-exact")
    }
    val rawBytes = frames.map(_.data.length).sum
    assert(payload.length < rawBytes * 1.05,
      "deflate overhead on incompressible data stays within ~5%")
  }

  test("DeflateVideoCodec: VideoStore ingest/decode round-trips through the seam") {
    val root = tempDir("graft-deflate-store").toString
    import graft.sources.VideoStore
    import org.apache.spark.sql.Encoders
    val fe = Encoders.product[FrameElem]
    val frames = spark.createDataset(
      (0 until 60).map(i => StdKernels.syntheticFrame(0L, i.toLong, 12, 16, 3)))(fe)
    VideoStore.ingest(frames, root, "dz", gopSize = 16, codec = DeflateVideoCodec)
    val back = VideoStore.frames(spark, root, "dz", codec = DeflateVideoCodec)
      .collect().sortBy(_.index)
    assert(back.length == 60)
    val want = (0 until 60).map(i => StdKernels.syntheticFrame(0L, i.toLong, 12, 16, 3))
    back.zip(want).foreach { case (g, w) =>
      assert(g.index == w.index && java.util.Arrays.equals(g.data, w.data))
    }
  }
}
