package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.util.LongAccumulator

import graft.model.{FrameElem, FrameType}

/** [[GopCodec]] instance backed by the real pure-JVM H.264 codec
  * ([[H264Codec]]) — the software decoder slot of the reference's codec
  * seam (`scanner/video/decoder_automata.h:28-51`,
  * `software_video_decoder.cpp`), replacing the stand-ins for U8 frames.
  *
  * Channel mapping to 4:2:0:
  *  - `channels == 1`: the plane IS luma; chroma is neutral 128. With
  *    `pcm = true` the round trip is BIT-EXACT (monochrome-in-4:2:0 is
  *    the standard trick for grayscale video).
  *  - `channels == 3`: BT.601 full-range RGB -> YCbCr with 2x2 chroma
  *    averaging on encode and replication on decode — real 4:2:0 video,
  *    so inherently lossy for RGB even under PCM (chroma subsampling),
  *    deterministic both ways.
  *
  * Payload = 19-byte header (magic, dims, channels, dtype, n, mode) +
  * the Annex-B stream, so sparse reads can stop after `upTo + 1` access
  * units exactly like the reference's sequential-from-keyframe decode.
  */
final class H264GopCodec(qp: Int = 12, pcm: Boolean = false,
    cabac: Boolean = false, transform8x8: Boolean = false,
    multiRef: Boolean = false, bframes: Boolean = false,
    parts: Boolean = false, weightedPred: Boolean = false,
    tdirect: Boolean = false, aqp: Boolean = false,
    chromaModes: Boolean = false,
    wpImplicit: Boolean = false, cqm: Boolean = false,
    reorder: Boolean = false, slicesPerFrame: Int = 1) extends GopCodec {

  /** entropy decode + prediction + deblocking are the bottleneck, not the
    * segment read — opt into decode-aware scan spreading (incl. the PCM
    * tier: the NAL walk + unescape is still ~10x slower than a read) */
  override def cpuBoundDecode: Boolean = true

  override def encodeGop(frames: Seq[FrameElem]): Array[Byte] = {
    require(frames.nonEmpty, "empty GOP")
    val head = frames.head
    require(head.dtype == FrameType.U8, s"H264GopCodec is U8-only (dtype ${head.dtype})")
    require(head.channels == 1 || head.channels == 3,
      s"H264GopCodec supports 1 or 3 channels, got ${head.channels}")
    frames.foreach { f =>
      require(f.height == head.height && f.width == head.width &&
        f.channels == head.channels && f.dtype == head.dtype,
        "GOP frames must share shape/dtype")
    }
    val yuvs = frames.map(toYuv)
    val stream = H264Codec.encode(yuvs, qp = qp, pcm = pcm, cabac = cabac,
      transform8x8 = transform8x8, multiRef = multiRef, bframes = bframes,
      parts = parts, weightedPred = weightedPred, tdirect = tdirect,
      aqp = aqp, chromaModes = chromaModes, wpImplicit = wpImplicit,
      cqm = cqm, reorder = reorder, slicesPerFrame = slicesPerFrame)
    val out = ByteBuffer.allocate(19 + stream.length).order(ByteOrder.LITTLE_ENDIAN)
    out.putInt(H264GopCodec.MAGIC).putInt(head.height).putInt(head.width)
      .put(head.channels.toByte).put(head.dtype)
      .putInt(frames.size).put(if (pcm) 1.toByte else 0.toByte)
    out.put(stream)
    out.array()
  }

  override def decodeGop(payload: Array[Byte], streamId: Long, startIndex: Long,
      upTo: Int, decoded: Option[LongAccumulator]): Iterator[FrameElem] = {
    val bb = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    require(bb.getInt() == H264GopCodec.MAGIC, "not an H264 GOP payload")
    val h = bb.getInt(); val w = bb.getInt()
    val c = bb.get().toInt; val dtype = bb.get()
    val n = bb.getInt(); bb.get() // mode flag (informational on decode)
    val stream = new Array[Byte](payload.length - 19)
    bb.get(stream)
    val want = if (upTo == Int.MaxValue) n else math.min(n, upTo + 1)
    val yuvs = H264Codec.decode(stream, maxFrames = want)
    decoded.foreach(_.add(yuvs.size.toLong))
    yuvs.iterator.zipWithIndex.map { case (yuv, i) =>
      FrameElem(streamId, startIndex + i, h, w, c, dtype, fromYuv(yuv, c))
    }
  }

  // ------------------------------------------------- colorspace plumbing

  private def toYuv(f: FrameElem): H264Codec.Yuv = {
    val w = f.width; val h = f.height
    require(w % 2 == 0 && h % 2 == 0, s"4:2:0 requires even dims, got ${w}x$h")
    if (f.channels == 1)
      H264Codec.Yuv(w, h, f.data.clone(),
        Array.fill(w / 2 * h / 2)(128.toByte), Array.fill(w / 2 * h / 2)(128.toByte))
    else {
      val y = new Array[Byte](w * h)
      val cbF = new Array[Int](w * h); val crF = new Array[Int](w * h)
      var i = 0
      while (i < w * h) {
        val r = f.data(i * 3) & 0xff
        val g = f.data(i * 3 + 1) & 0xff
        val b = f.data(i * 3 + 2) & 0xff
        // BT.601 full-range, integer approximation (same both directions)
        val yy = (77 * r + 150 * g + 29 * b + 128) >> 8
        y(i) = yy.toByte
        cbF(i) = ((-43 * r - 85 * g + 128 * b + 128) >> 8) + 128
        crF(i) = ((128 * r - 107 * g - 21 * b + 128) >> 8) + 128
        i += 1
      }
      val cw = w / 2; val ch = h / 2
      val cb = new Array[Byte](cw * ch); val cr = new Array[Byte](cw * ch)
      var cy = 0
      while (cy < ch) {
        var cx = 0
        while (cx < cw) {
          val p0 = (cy * 2) * w + cx * 2; val p1 = p0 + w
          def clip(v: Int) = (if (v < 0) 0 else if (v > 255) 255 else v).toByte
          cb(cy * cw + cx) = clip((cbF(p0) + cbF(p0 + 1) + cbF(p1) + cbF(p1 + 1) + 2) >> 2)
          cr(cy * cw + cx) = clip((crF(p0) + crF(p0 + 1) + crF(p1) + crF(p1 + 1) + 2) >> 2)
          cx += 1
        }
        cy += 1
      }
      H264Codec.Yuv(w, h, y, cb, cr)
    }
  }

  private def fromYuv(yuv: H264Codec.Yuv, channels: Int): Array[Byte] =
    if (channels == 1) yuv.y
    else {
      val w = yuv.w; val h = yuv.h; val cw = w / 2
      val out = new Array[Byte](w * h * 3)
      var i = 0
      while (i < w * h) {
        val x = i % w; val yy = i / w
        val yv = yuv.y(i) & 0xff
        val cb = (yuv.cb((yy / 2) * cw + x / 2) & 0xff) - 128
        val cr = (yuv.cr((yy / 2) * cw + x / 2) & 0xff) - 128
        def clip(v: Int) = (if (v < 0) 0 else if (v > 255) 255 else v).toByte
        out(i * 3) = clip(yv + ((359 * cr + 128) >> 8))
        out(i * 3 + 1) = clip(yv - ((88 * cb + 183 * cr + 128) >> 8))
        out(i * 3 + 2) = clip(yv + ((454 * cb + 128) >> 8))
        i += 1
      }
      out
    }
}

object H264GopCodec {
  private[sources] val MAGIC = 0x47483236 // "GH26"

  private[sources] def header(payload: Array[Byte]): GopCodec.Header = {
    val bb = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    GopCodec.Header(bb.getInt(4), bb.getInt(8), bb.getInt(14))
  }

  /** lossless grayscale store (I_PCM macroblocks) */
  val Pcm: H264GopCodec = new H264GopCodec(pcm = true)
  /** default compressed store */
  val Default: H264GopCodec = new H264GopCodec(qp = 12)
  /** CABAC-entropy compressed store (same pixel pipeline as [[Default]],
    * §9.3 arithmetic coding in the slice data — see [[H264Cabac]] for
    * the documented conformance envelope) */
  val Cabac: H264GopCodec = new H264GopCodec(qp = 12, cabac = true)
  /** High-profile-shaped store: the 8x8 transform + Intra_8x8 join the
    * per-MB competition (transform_size_8x8_flag per I_NxN MB), under
    * CABAC entropy coding since round 13 (ctxBlockCat-5 residual
    * contexts) — the entropy+transform combination real High-profile
    * corpora use. The CAVLC+8x8 shape remains constructible via
    * `new H264GopCodec(qp, transform8x8 = true)`. */
  val High: H264GopCodec = new H264GopCodec(qp = 12, cabac = true,
    transform8x8 = true)
  /** multi-reference P prediction (round 13): a 2-deep DPB with
    * num_ref_idx_l0_active 2 — per-MB ref_idx_l0 selects the previous or
    * the previous-but-one picture (te(v) in CAVLC, ctxIdxOffset-54 unary
    * bins in CABAC), the pervasive Main/High-stream feature after CABAC
    * itself. CABAC variant via
    * `new H264GopCodec(qp, cabac = true, multiRef = true)`. */
  val MultiRef: H264GopCodec = new H264GopCodec(qp = 12, multiRef = true)
  /** B-frame GOP structure (round 13): IBPBP coding order with one
    * non-reference bi-predicted picture between anchors, POC type 0
    * carrying display order, decoder-side output reordering — the
    * dominant GOP shape of real-world corpora. CABAC variant via
    * `new H264GopCodec(qp, cabac = true, bframes = true)`. */
  val BFrames: H264GopCodec = new H264GopCodec(qp = 12, bframes = true)
  /** sub-16x16 inter partitions (round 14): the per-MB mode competition
    * adds P_L0_L0_16x8 / P_L0_L0_8x16 / P_8x8 (sub-type 8x8) against
    * the 16x16 shapes, with §8.4.1.3 partition MV prediction and
    * per-edge boundary strengths — the near-universal real-stream
    * syntax. The DECODER additionally accepts 8x4/4x8/4x4
    * sub-partitions and P_8x8ref0 from external streams
    * (H264ConformanceSpec pins a hand-built mixed-shape stream).
    * CABAC variant via `new H264GopCodec(qp, cabac = true,
    * parts = true)`. */
  val Parts: H264GopCodec = new H264GopCodec(qp = 12, parts = true)
  /** explicit weighted prediction (round 14, §8.4.2.3.2): the PPS sets
    * weighted_pred_flag and each P slice carries a pred_weight_table
    * with a global least-bias luma (w, o) fit per reference — fades and
    * dissolves (ubiquitous in real corpora) collapse to P_Skip runs
    * instead of coding full-frame residuals. The decoder additionally
    * accepts per-reference chroma weights and explicit B bi-weighting
    * (weighted_bipred_idc 1) from external streams. CABAC variant via
    * `new H264GopCodec(qp, cabac = true, weightedPred = true)`. */
  val Wp: H264GopCodec = new H264GopCodec(qp = 12, weightedPred = true)
  /** temporal-direct B GOPs (round 14, §8.4.1.2.3): the bframes tier
    * with direct_spatial_mv_pred_flag = 0 — B direct/skip motion comes
    * from the colocated block of the future anchor, scaled by POC
    * distance (DistScaleFactor arithmetic), using the per-block
    * reference-POC state recorded at the anchor's decode. CABAC variant
    * via `new H264GopCodec(qp, cabac = true, bframes = true,
    * tdirect = true)`. */
  val BFramesTd: H264GopCodec = new H264GopCodec(qp = 12, bframes = true,
    tdirect = true)
  /** adaptive QP (round 15, §7.4.5): per-MB mb_qp_delta from source
    * luma activity — flat macroblocks quantize finer, busy ones coarser
    * (the rate-control shape essentially every real encoder emits; its
    * absence was the top decodes-real-streams refusal after round 14).
    * Per-MB QP threads through dequant AND the §8.7 deblock α/β/t_C0
    * lookups. CABAC variant via `new H264GopCodec(qp, cabac = true,
    * aqp = true)`. */
  val Aqp: H264GopCodec = new H264GopCodec(qp = 12, aqp = true)
  /** full §8.3.4 chroma intra prediction (round 15): the four
    * intra_chroma_pred_mode values (DC/horizontal/vertical/plane)
    * compete on joint Cb+Cr SAD per intra MB, signalled in both entropy
    * layers (ue(v) / TU bins with neighbour-conditioned contexts). The
    * decoder accepts all four modes from any stream regardless of this
    * capability flag. CABAC variant via `new H264GopCodec(qp,
    * cabac = true, chromaModes = true)`. */
  val Chroma: H264GopCodec = new H264GopCodec(qp = 12, chromaModes = true)
  /** implicit B weighting (round 15, §8.4.2.3.1): the bframes tier with
    * weighted_bipred_idc 2 — bi-predicted MBs combine their two
    * predictions with POC-distance-derived weights (w1 = DistScaleFactor
    * >> 2, w0 = 64 - w1) instead of the plain average, with NO
    * pred_weight_table in the slice header; single-list prediction
    * stays unweighted. The common broadcast-encoder configuration for
    * fades between unequally-spaced anchors. CABAC variant via
    * `new H264GopCodec(qp, cabac = true, bframes = true,
    * wpImplicit = true)`. */
  val WpImplicit: H264GopCodec = new H264GopCodec(qp = 12, bframes = true,
    wpImplicit = true)
  /** scaling matrices / CQM (round 15, §7.3.2.1.1 + §8.5.9): the SPS
    * carries the spec-default quantisation matrices (explicit
    * delta_scale runs, the in-band use-default signal, AND fall-back
    * rule A resolution — all three parse encodings on one stream), and
    * every dequant weights per coefficient position through the
    * §8.5.10-13 LevelScale formulas. The decoder accepts arbitrary
    * SPS/PPS lists from any stream (PPS overriding SPS per rule B);
    * this capability self-hosts the gate tier. CABAC variant via
    * `new H264GopCodec(qp, cabac = true, cqm = true)`. */
  val Cqm: H264GopCodec = new H264GopCodec(qp = 12, cqm = true)
  /** ref_pic_list_modification (round 15, §7.3.3.1 + §8.2.4.3): the
    * multiRef tier with every P slice moving the OLDER of its two
    * references to refIdx 0 via a short-term modification op — the
    * encoder's analysis, the coded ref_idx bits, and the decoder's
    * reordering process all see the same swapped list. The decoder
    * applies arbitrary short-term modification sequences from any
    * stream (P and both B lists); long-term ops are refused loudly.
    * CABAC variant via `new H264GopCodec(qp, cabac = true,
    * multiRef = true, reorder = true)`. */
  val Reorder: H264GopCodec = new H264GopCodec(qp = 12, multiRef = true,
    reorder = true)
  /** multi-slice pictures (round 15 tier; §7.4.4): every picture coded
    * as two MB-row-aligned slices — per-slice neighbour unavailability,
    * first_mb_in_slice > 0, per-slice header state, and the §8.7.2
    * boundary-strength rules at the slice seam, through the store.
    * The decoder has accepted continuation slices since round 13; this
    * self-hosts a gate tier. CABAC variant via `new H264GopCodec(qp,
    * cabac = true, slicesPerFrame = 2)`. */
  val Slices2: H264GopCodec = new H264GopCodec(qp = 12, slicesPerFrame = 2)
}
