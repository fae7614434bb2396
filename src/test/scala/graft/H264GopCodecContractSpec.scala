package graft

import graft.model.{FrameElem, FrameType}
import graft.sources.H264GopCodec

/** The REAL H.264 codec under the same [[GopCodecContract]] every codec
  * instance must pass (shape/order/prefix-decode/accounting exact; RGB
  * samples within the lossy tolerance — 4:2:0 chroma subsampling plus
  * QP 8 quantisation over the synthetic ramp content).
  */
class H264GopCodecContractSpec
  extends GopCodecContract("h264-cavlc", new H264GopCodec(qp = 8), maxMeanAbsError = 4.0) {

  test("h264-cavlc: a payload with two trailing zero bytes (the old layout) decodes the same") {
    val codec = new H264GopCodec(qp = 8)
    val frames = (0 until 4).map(i => graft.operators.StdKernels.syntheticFrame(1L, i.toLong, 12, 16, 3))
    val payload = codec.encodeGop(frames)
    val padded = payload ++ Array[Byte](0, 0)
    val a = codec.decodeGop(payload, 1L, 0L).toSeq
    val b = codec.decodeGop(padded, 1L, 0L).toSeq
    assert(a.size == 4 && b.size == 4)
    a.zip(b).foreach { case (x, y) => assert(java.util.Arrays.equals(x.data, y.data)) }
  }
}

/** the High-profile-shaped tier (Intra_8x8 + 8x8 transform in the per-MB
  * competition) under the identical contract
  */
class H264HighGopCodecContractSpec
  extends GopCodecContract("h264-high",
    new H264GopCodec(qp = 8, transform8x8 = true), maxMeanAbsError = 4.0)

/** I_PCM mode: raw macroblocks — still real H264 syntax, and for
  * grayscale frames the round trip must be BIT-exact (monochrome luma,
  * neutral chroma). RGB stays lossy under PCM too (chroma subsampling),
  * within the same tolerance.
  */
class H264PcmGopCodecContractSpec
  extends GopCodecContract("h264-pcm", H264GopCodec.Pcm, maxMeanAbsError = 4.0) {

  private def grayFrame(sid: Long, idx: Long, h: Int, w: Int): FrameElem =
    FrameElem(sid, idx, h, w, 1, FrameType.U8,
      Array.tabulate(h * w)(i => ((i * 31 + idx * 7) % 256).toByte))

  test("h264-pcm: grayscale round trip is bit-exact through the GOP seam") {
    val frames = (0 until 5).map(i => grayFrame(2L, 40L + i, 32, 48))
    val payload = H264GopCodec.Pcm.encodeGop(frames)
    val back = H264GopCodec.Pcm.decodeGop(payload, 2L, 40L).toSeq
    assert(back.size == 5)
    back.zip(frames).foreach { case (g, w) =>
      assert(g.index == w.index && g.height == w.height && g.width == w.width)
      assert(g.data.toSeq == w.data.toSeq, s"frame ${w.index} not bit-exact")
    }
  }

  test("h264-pcm: grayscale CAVLC tier also honors the sparse-decode count") {
    val frames = (0 until 8).map(i => grayFrame(1L, i.toLong, 16, 16))
    val cavlc = new H264GopCodec(qp = 10)
    val payload = cavlc.encodeGop(frames)
    val acc = spark.sparkContext.longAccumulator("decoded")
    val got = cavlc.decodeGop(payload, 1L, 0L, upTo = 2, decoded = Some(acc)).toSeq
    assert(got.size == 3)
    assert(acc.value == 3L, "prefix decode must stop after upTo+1 frames")
  }
}
