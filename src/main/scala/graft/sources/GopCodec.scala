package graft.sources

import org.apache.spark.util.LongAccumulator

import graft.model.FrameElem

/** The codec seam of the video layer — the two functions a real codec must
  * provide, mirroring the reference's decoder-interface separation
  * (`scanner/video/decoder_automata.h:28-51`: the engine plans against an
  * abstract decoder; H264/NVDEC/software are swappable instances).
  *
  * [[VideoStore]] depends only on this trait, so swapping in an
  * FFmpeg/JavaCPP-backed codec is implementing these two functions —
  * nothing in the storage, pruning, or planning layers changes. The
  * default instance is [[FakeVideoCodec]] (this container ships no FFmpeg;
  * see README "codec constraint").
  *
  * Contract both functions must honor (it is what the planner exploits):
  * a GOP decodes sequentially from its keyframe, so `decodeGop(.., upTo)`
  * may stop after `upTo + 1` frames but must decode all of them — sparse
  * reads pay keyframe-aligned sequential decode, exactly like H264.
  * Implementations run inside executor tasks and must be serializable.
  */
trait GopCodec extends Serializable {

  /** encode consecutive same-shape frames (one GOP) into a segment payload */
  def encodeGop(frames: Seq[FrameElem]): Array[Byte]

  /** Decode the first `upTo + 1` frames of a segment (sequential from the
    * keyframe). `upTo = Int.MaxValue` decodes all. `decoded` (optional)
    * counts frames actually decoded, for instrumenting sparse-read pruning.
    */
  def decodeGop(
      payload: Array[Byte],
      streamId: Long,
      startIndex: Long,
      upTo: Int = Int.MaxValue,
      decoded: Option[LongAccumulator] = None): Iterator[FrameElem]

  /** Whether decode is CPU-bound relative to reading the stored bytes
    * (true for real entropy-coded codecs). [[VideoStore.frames]] uses it
    * to pick a decode-aware default parallelism: the file scan bin-packs
    * segments by STORED bytes (an I/O heuristic), which starves a
    * CPU-bound decode whenever compression is high — e.g. 128 HD GOP
    * files packed into 3 scan tasks on a 32-core pool (measured: 37 s,
    * 2.3 cores busy). The reference hits the same issue with one decoder
    * instance per `io_packet`; its fix is the same unit — GOP-granular
    * decode tasks (`scanner/video/decoder_automata.h:28-51`).
    */
  def cpuBoundDecode: Boolean = false
}

object GopCodec {

  /** the frame shape and count a segment payload's header records */
  final case class Header(height: Int, width: Int, frames: Int)

  /** a payload prefix this long covers every codec's header */
  private[graft] val HeaderBytes = 21

  /** Read a stored payload's header with the codec whose magic it starts
    * with; [[FakeVideoCodec]]'s layout carries no magic and is the
    * fallback. The container layer (MP4 export/demux) reads dimensions
    * and frame counts through this, so it serves every store.
    */
  private[graft] def header(payload: Array[Byte]): Header =
    java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(0) match {
      case H264GopCodec.MAGIC      => H264GopCodec.header(payload)
      case DeflateVideoCodec.MAGIC => DeflateVideoCodec.header(payload)
      case _                       => FakeVideoCodec.header(payload)
    }
}
