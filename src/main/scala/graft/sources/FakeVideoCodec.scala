package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import graft.model.FrameElem

/** Deterministic stand-in codec for the video layer.
  *
  * FFmpeg/OpenCV are not in this container, so the reference's H264 path
  * (`scanner/engine/ingest.cpp:175-380`, `scanner/video/decoder_automata.cpp`)
  * is modeled by a codec that is FAKE in its compression but REAL in the
  * property that drives all of Scanner's physical planning: a GOP
  * (group-of-pictures) segment holds one raw keyframe followed by
  * XOR-delta frames, so decoding frame k of a segment REQUIRES decoding
  * frames 0..k-1 first. Sparse reads therefore pay keyframe-aligned
  * sequential decode exactly like a real H264 stream.
  *
  * Segment payload layout (little-endian):
  * {{{
  *   int32 h | int32 w | int32 c | int8 dtype | int32 n | n * (h*w*c) bytes
  * }}}
  */
object FakeVideoCodec extends GopCodec {

  private[sources] def header(payload: Array[Byte]): GopCodec.Header = {
    val bb = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    GopCodec.Header(bb.getInt(0), bb.getInt(4), bb.getInt(13))
  }

  /** encode consecutive frames (one GOP) into a single segment payload */
  override def encodeGop(frames: Seq[FrameElem]): Array[Byte] = {
    require(frames.nonEmpty, "empty GOP")
    val head = frames.head
    val sz   = head.data.length
    frames.foreach { f =>
      require(f.height == head.height && f.width == head.width &&
        f.channels == head.channels && f.dtype == head.dtype && f.data.length == sz,
        "GOP frames must share shape/dtype")
    }
    val bb = ByteBuffer.allocate(17 + frames.size * sz).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(head.height).putInt(head.width).putInt(head.channels)
    bb.put(head.dtype).putInt(frames.size)
    bb.put(head.data) // keyframe: raw
    var prev = head.data
    frames.tail.foreach { f =>
      val delta = new Array[Byte](sz)
      var i = 0
      while (i < sz) { delta(i) = (f.data(i) ^ prev(i)).toByte; i += 1 }
      bb.put(delta)
      prev = f.data
    }
    bb.array()
  }

  /** Decode the first `upTo + 1` frames of a segment (sequential from the
    * keyframe — the codec dependency). `upTo = Int.MaxValue` decodes all.
    * `decoded` (optional) counts frames actually decoded, for instrumenting
    * sparse-read pruning.
    */
  override def decodeGop(
      payload: Array[Byte],
      streamId: Long,
      startIndex: Long,
      upTo: Int = Int.MaxValue,
      decoded: Option[org.apache.spark.util.LongAccumulator] = None): Iterator[FrameElem] = {
    val bb = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    val h = bb.getInt; val w = bb.getInt; val c = bb.getInt
    val dtype = bb.get; val n = bb.getInt
    val sz    = h * w * c
    val last  = math.min(n - 1, upTo)
    var prev: Array[Byte] = null
    (0 to last).iterator.map { k =>
      val raw = new Array[Byte](sz)
      bb.get(raw)
      val data =
        if (k == 0) raw
        else {
          var i = 0
          while (i < sz) { raw(i) = (raw(i) ^ prev(i)).toByte; i += 1 }
          raw
        }
      prev = data
      decoded.foreach(_.add(1L))
      FrameElem(streamId, startIndex + k, h, w, c, dtype, data)
    }
  }
}
