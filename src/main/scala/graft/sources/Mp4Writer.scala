package graft.sources

import java.io.{ByteArrayOutputStream, DataOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.US_ASCII

/** Minimal ISO-BMFF (MP4) container writer for the export path — the
  * rebuild of the reference's `save_mp4` (`python/scannerpy/column.py:
  * 283-342`), which wraps the stored codec stream in an MP4 container via
  * a client-side ffmpeg invocation. Here the *container* layer is real:
  * `ftyp` + `mdat` + a full `moov` sample-table hierarchy (mvhd/trak/tkhd/
  * mdia/mdhd/hdlr/minf/vmhd/dinf/stbl with stsd/stts/stsc/stsz/stco),
  * one sample per stored GOP segment, every sample a sync sample (each GOP
  * starts at a keyframe, so `stss` is rightly omitted — absence means
  * all-sync per the spec).
  *
  * Only the sample-description fourcc is a stand-in (`gfvc`, the
  * deterministic fake codec — see README "codec constraint"): an FFmpeg
  * swap writes `avc1` plus an `avcC` configuration box in [[sampleEntry]]
  * and changes nothing else in the box structure.
  *
  * Layout written (moov-at-end, the classic non-faststart shape):
  * {{{ [ftyp][mdat: all GOP payloads back-to-back][moov] }}}
  */
object Mp4Writer {

  /** metadata of one sample (= one stored GOP segment), in stream order */
  final case class SampleMeta(bytes: Long, frames: Int)

  /** a track's frame dims, sample description (the stand-in entry when
    * empty) and 1-based sync samples (none = all sync)
    */
  private[sources] final case class Track(width: Int, height: Int, entry: Option[Array[Byte]] = None,
      sync: Seq[Int] = Nil)

  private[sources] def box(tpe: String)(body: DataOutputStream => Unit): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    val d   = new DataOutputStream(buf)
    body(d); d.flush()
    val out = new ByteArrayOutputStream()
    val o   = new DataOutputStream(out)
    o.writeInt(8 + buf.size())
    o.write(tpe.getBytes(US_ASCII))
    buf.writeTo(o); o.flush()
    out.toByteArray
  }

  private[sources] def fullBox(tpe: String, version: Int = 0, flags: Int = 0)(
      body: DataOutputStream => Unit): Array[Byte] =
    box(tpe) { d => d.writeInt((version << 24) | (flags & 0xffffff)); body(d) }

  def ftyp: Array[Byte] = box("ftyp") { d =>
    d.write("isom".getBytes(US_ASCII)); d.writeInt(0x200)
    d.write("isom".getBytes(US_ASCII)); d.write("iso2".getBytes(US_ASCII))
  }

  /** Size-prefixed `mdat` header; payloads stream after it. Past 2 GiB the
    * compact 32-bit size can't hold the box, so the 14496-12 `largesize`
    * form is written instead (size=1, 64-bit length after the type) — the
    * shape [[graft.sources.VideoStore.ingestMp4]]'s box walk already reads.
    */
  def mdatHeader(payloadBytes: Long): Array[Byte] = {
    require(payloadBytes >= 0, s"negative mdat payload: $payloadBytes")
    val out = new ByteArrayOutputStream()
    val d   = new DataOutputStream(out)
    if (payloadBytes + 8 <= Int.MaxValue) {
      d.writeInt((payloadBytes + 8).toInt)
      d.write("mdat".getBytes(US_ASCII))
    } else {
      d.writeInt(1) // 1 = 64-bit largesize follows the type
      d.write("mdat".getBytes(US_ASCII))
      d.writeLong(payloadBytes + 16)
    }
    d.flush()
    out.toByteArray
  }

  /** a visual sample description — the codec swap point: the stand-in
    * `gfvc`, or `avc1` with its `avcC` child for H264
    */
  private[sources] def sampleEntry(fourcc: String, width: Int, height: Int,
      children: Array[Byte]*): Array[Byte] =
    box(fourcc) { d =>
      d.write(new Array[Byte](6)); d.writeShort(1)      // reserved, dataRefIdx
      d.writeShort(0); d.writeShort(0)                  // predefined, reserved
      (0 until 3).foreach(_ => d.writeInt(0))           // predefined
      d.writeShort(width); d.writeShort(height)
      d.writeInt(0x00480000); d.writeInt(0x00480000)    // 72 dpi
      d.writeInt(0); d.writeShort(1)                    // reserved, frame count
      d.write(new Array[Byte](32))                      // compressor name
      d.writeShort(0x18); d.writeShort(-1)              // depth, predefined
      children.foreach(d.write)
    }

  /** complete `moov` for one video track; `timescale` units = frames
    * (1 frame = 1 unit at `fps` frames/sec), `chunkOffset` = absolute file
    * offset of the first payload byte inside mdat.
    */
  def moov(samples: Seq[SampleMeta], width: Int, height: Int, fps: Int,
      chunkOffset: Long, entryOverride: Option[Array[Byte]] = None,
      syncSamples: Seq[Int] = Nil): Array[Byte] = {
    require(samples.nonEmpty, "mp4 needs at least one sample")
    // fail loudly instead of silently truncating the fixed-width fields
    require(width > 0 && width <= 0xffff && height > 0 && height <= 0xffff,
      s"sample-entry dimensions are 16-bit: got ${width}x$height")
    require(chunkOffset >= 0, s"negative chunk offset: $chunkOffset")
    // stsz stays 32-bit: a single GOP segment past 2 GiB is a genuine
    // error (GOPs are bounded by gopSize frames), unlike the FILE size,
    // which legitimately passes 2 GiB and switches mdat/stco to the
    // largesize/co64 forms
    samples.foreach(s =>
      require(s.bytes <= Int.MaxValue, s"stsz entry overflows 32 bits: ${s.bytes}"))
    val totalFrames = samples.map(_.frames.toLong).sum
    require(totalFrames <= Int.MaxValue,
      s"version-0 duration fields are 32-bit: $totalFrames frames")
    val mvhd = fullBox("mvhd") { d =>
      d.writeInt(0); d.writeInt(0)                      // created, modified
      d.writeInt(fps); d.writeInt(totalFrames.toInt)    // timescale, duration
      d.writeInt(0x00010000); d.writeShort(0x0100)      // rate 1.0, volume
      d.writeShort(0); d.writeInt(0); d.writeInt(0)     // reserved
      Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000).foreach(d.writeInt)
      (0 until 6).foreach(_ => d.writeInt(0))           // predefined
      d.writeInt(2)                                     // next track id
    }
    val tkhd = fullBox("tkhd", flags = 3) { d =>
      d.writeInt(0); d.writeInt(0); d.writeInt(1)       // created, modified, track
      d.writeInt(0); d.writeInt(totalFrames.toInt)      // reserved, duration
      d.writeInt(0); d.writeInt(0)                      // reserved
      d.writeShort(0); d.writeShort(0); d.writeShort(0) // layer, group, volume
      d.writeShort(0)                                   // reserved
      Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000).foreach(d.writeInt)
      d.writeInt(width << 16); d.writeInt(height << 16) // 16.16 fixed
    }
    val mdhd = fullBox("mdhd") { d =>
      d.writeInt(0); d.writeInt(0)
      d.writeInt(fps); d.writeInt(totalFrames.toInt)
      d.writeShort(0x55c4); d.writeShort(0)             // language "und"
    }
    val hdlr = fullBox("hdlr") { d =>
      d.writeInt(0); d.write("vide".getBytes(US_ASCII))
      (0 until 3).foreach(_ => d.writeInt(0))
      d.write("graft video".getBytes(US_ASCII)); d.write(0)
    }
    val vmhd = fullBox("vmhd", flags = 1) { d =>
      d.writeShort(0); (0 until 3).foreach(_ => d.writeShort(0))
    }
    val dinf = box("dinf") { d =>
      d.write(fullBox("dref") { r =>
        r.writeInt(1)
        r.write(fullBox("url ", flags = 1)(_ => ())) // self-contained
      })
    }
    val stsd = fullBox("stsd") { d =>
      d.writeInt(1)
      d.write(entryOverride.getOrElse(sampleEntry("gfvc", width, height)))
    }
    // sync-sample (keyframe) table: omitted when EVERY sample is a sync
    // point (absence means all-sync per the spec — the GOP-segment case);
    // real inter-coded tracks (avc1) list their IDR samples here
    val stssOpt =
      if (syncSamples.isEmpty) None
      else Some(fullBox("stss") { d =>
        d.writeInt(syncSamples.size)
        syncSamples.foreach(d.writeInt)
      })
    // per-sample durations (frames per GOP), run-length compacted
    val stts = fullBox("stts") { d =>
      val runs = samples.foldLeft(Vector.empty[(Int, Int)]) { (acc, s) =>
        acc.lastOption match {
          case Some((n, dur)) if dur == s.frames => acc.init :+ (n + 1, dur)
          case _                                 => acc :+ (1, s.frames)
        }
      }
      d.writeInt(runs.size)
      runs.foreach { case (n, dur) => d.writeInt(n); d.writeInt(dur) }
    }
    val stsc = fullBox("stsc") { d =>
      d.writeInt(1); d.writeInt(1); d.writeInt(samples.size); d.writeInt(1)
    }
    val stsz = fullBox("stsz") { d =>
      d.writeInt(0); d.writeInt(samples.size)
      samples.foreach(s => d.writeInt(s.bytes.toInt))
    }
    // stco holds UNSIGNED 32-bit offsets, so it covers chunk starts up to
    // 4 GiB; beyond that the 64-bit co64 box is the spec's representation
    val chunkBox =
      if (chunkOffset <= 0xffffffffL)
        fullBox("stco") { d => d.writeInt(1); d.writeInt(chunkOffset.toInt) }
      else
        fullBox("co64") { d => d.writeInt(1); d.writeLong(chunkOffset) }
    val stbl = box("stbl") { d =>
      (Seq(stsd, stts) ++ stssOpt ++ Seq(stsc, stsz, chunkBox)).foreach(d.write)
    }
    val minf = box("minf") { d => Seq(vmhd, dinf, stbl).foreach(d.write) }
    val mdia = box("mdia") { d => Seq(mdhd, hdlr, minf).foreach(d.write) }
    val trak = box("trak") { d => Seq(tkhd, mdia).foreach(d.write) }
    box("moov") { d => Seq(mvhd, trak).foreach(d.write) }
  }

  /** Write a complete MP4: header boxes, streamed payloads, trailing moov.
    * `payloads` must iterate the samples in `samples` order; returns total
    * bytes written.
    */
  def write(out: OutputStream, samples: Seq[SampleMeta], width: Int, height: Int,
      fps: Int, payloads: Iterator[Array[Byte]],
      entryOverride: Option[Array[Byte]] = None,
      syncSamples: Seq[Int] = Nil): Long = {
    val head   = ftyp
    val mdatH  = mdatHeader(samples.map(_.bytes).sum)
    val offset = head.length.toLong + mdatH.length // first payload byte
    out.write(head); out.write(mdatH)
    var written = offset
    payloads.foreach { p => out.write(p); written += p.length }
    val tail = moov(samples, width, height, fps, offset, entryOverride, syncSamples)
    out.write(tail)
    written + tail.length
  }

  // ------------------------------------------------------------- demux side

  /** one demuxed sample: absolute file offset + size */
  final case class SampleRef(offset: Long, bytes: Int)

  private[sources] def be32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  private[sources] def be64(b: Array[Byte], off: Int): Long =
    ((be32(b, off) & 0xffffffffL) << 32) | (be32(b, off + 4) & 0xffffffffL)

  private[sources] def boxType(b: Array[Byte], off: Int): String =
    new String(b, off + 4, 4, US_ASCII)

  private[sources] def findChildOpt(b: Array[Byte], from: Int, end: Int, tpe: String): Option[Int] = {
    var o = from
    while (o < end && boxType(b, o) != tpe) {
      val sz = be32(b, o)
      // guard against corrupt input: a zero/short size would loop forever,
      // an overrunning one would crash below with a confusing OOB
      require(sz >= 8 && o + sz <= end, s"mp4: corrupt box size $sz at offset $o")
      o += sz
    }
    if (o < end) Some(o) else None
  }

  private[sources] def findChild(b: Array[Byte], from: Int, end: Int, tpe: String): Int =
    findChildOpt(b, from, end, tpe)
      .getOrElse(throw new IllegalArgumentException(s"mp4: missing $tpe box"))

  /** Parse the sample table of a whole in-memory ISO-BMFF file. Understands
    * the full size grammar of the top-level walk (compact 32-bit,
    * `largesize`, and 0 = to-end-of-file) so files our own writer produces
    * past 2 GiB — and files from other muxers — walk correctly.
    */
  /** Locate the top-level `moov` with the full size grammar (compact,
    * largesize, 0 = to-end-of-file). Returns (start, end, childStart) —
    * childStart skips the 64-bit largesize header when present, so child
    * walks never misread the size field as a box header.
    */
  private[sources] def locateMoov(bytes: Array[Byte]): (Int, Int, Int) = {
    var off = 0L
    while (off < bytes.length) {
      val sz32 = be32(bytes, off.toInt)
      val sz: Long =
        if (sz32 == 1) be64(bytes, off.toInt + 8)
        else if (sz32 == 0) bytes.length - off
        else sz32.toLong & 0xffffffffL
      require(sz >= 8 && off + sz <= bytes.length, s"mp4: corrupt box size $sz at offset $off")
      if (boxType(bytes, off.toInt) == "moov")
        return (off.toInt, (off + sz).toInt,
          off.toInt + (if (sz32 == 1) 16 else 8))
      off += sz
    }
    throw new IllegalArgumentException("mp4: missing moov box")
  }

  def parseSamples(bytes: Array[Byte]): Seq[SampleRef] = {
    val (moovAt, moovEnd, _) = locateMoov(bytes)
    // copy with the WALK's size, not the compact 32-bit field: a legal
    // moov written with size=0 (to-end-of-file, common for a last box) or
    // largesize would otherwise copy 0/1 bytes and crash the table parse
    parseSampleTable(java.util.Arrays.copyOfRange(bytes, moovAt, moovEnd))
  }

  /** Parse a single-track sample table from the `moov` box bytes alone
    * (offsets in `stco` are absolute file offsets, so the rest of the file
    * never needs to be in memory — the driver reads only box headers plus
    * this one box). Handles the general stsc/stco chunk layout, so files
    * from other muxers with multiple chunks demux too.
    */
  def parseSampleTable(bytes: Array[Byte]): Seq[SampleRef] =
    parseSampleTableWithDurations(bytes)._1

  /** [[parseSampleTable]] plus the per-sample `stts` time deltas. Our
    * writer's timescale is 1 unit = 1 frame ([[moov]]), so for files it
    * muxed the delta of a sample IS that GOP's frame count — which is what
    * lets [[graft.sources.VideoStore.ingestMp4]] build its whole index from
    * the single moov read (the reference's one-pass index build,
    * `scanner/engine/ingest.cpp:175-380`) instead of issuing one positioned
    * header read per sample.
    */
  def parseSampleTableWithDurations(bytes: Array[Byte]): (Seq[SampleRef], Seq[Int]) = {
    require(boxType(bytes, 0) == "moov", "expected a moov box")
    // full size grammar for the moov's own header too: size=0 (to end) and
    // largesize (children then start at 16) are legal even if rare
    val sz32 = be32(bytes, 0)
    val (moovEnd, childStart) =
      if (sz32 == 0) (bytes.length, 8)
      else if (sz32 == 1) {
        val sz = be64(bytes, 8)
        // bound BEFORE the narrowing: a corrupt largesize over 2^31 would
        // otherwise wrap in .toInt (e.g. 0x1_0000_0010 -> 16) and mis-parse
        require(sz >= 16 && sz <= bytes.length,
          s"mp4: corrupt moov largesize $sz (buffer ${bytes.length})")
        (sz.toInt, 16)
      }
      else (sz32, 8)
    val trak = findChild(bytes, childStart, moovEnd, "trak")
    val mdia = findChild(bytes, trak + 8, trak + be32(bytes, trak), "mdia")
    val minf = findChild(bytes, mdia + 8, mdia + be32(bytes, mdia), "minf")
    val stbl = findChild(bytes, minf + 8, minf + be32(bytes, minf), "stbl")
    val stblEnd = stbl + be32(bytes, stbl)

    val stsz = findChild(bytes, stbl + 8, stblEnd, "stsz")
    val fixedSize = be32(bytes, stsz + 12)
    val nSamples  = be32(bytes, stsz + 16)
    val sizes = (0 until nSamples).map(i =>
      if (fixedSize != 0) fixedSize else be32(bytes, stsz + 20 + 4 * i))

    // chunk offsets: stco entries are UNSIGNED 32-bit (mask, don't
    // sign-extend — a 2-4 GiB offset is legal stco); past 4 GiB the spec
    // uses the 64-bit co64 box instead
    val chunkOffsets = findChildOpt(bytes, stbl + 8, stblEnd, "stco") match {
      case Some(stco) =>
        val nChunks = be32(bytes, stco + 12)
        (0 until nChunks).map(i => be32(bytes, stco + 16 + 4 * i).toLong & 0xffffffffL)
      case None =>
        val co64 = findChild(bytes, stbl + 8, stblEnd, "co64")
        val nChunks = be32(bytes, co64 + 12)
        (0 until nChunks).map(i => be64(bytes, co64 + 16 + 8 * i))
    }
    val nChunks = chunkOffsets.size

    val stsc = findChild(bytes, stbl + 8, stblEnd, "stsc")
    val nRuns = be32(bytes, stsc + 12)
    val runs = (0 until nRuns).map { r => // (firstChunk 1-based, samplesPerChunk)
      (be32(bytes, stsc + 16 + 12 * r), be32(bytes, stsc + 20 + 12 * r))
    }
    def samplesInChunk(chunk1: Int): Int =
      runs.reverse.collectFirst { case (fc, spc) if fc <= chunk1 => spc }.get

    val out = Seq.newBuilder[SampleRef]
    var sample = 0
    (1 to nChunks).foreach { c =>
      var o = chunkOffsets(c - 1)
      (0 until samplesInChunk(c)).foreach { _ =>
        if (sample < nSamples) {
          out += SampleRef(o, sizes(sample)); o += sizes(sample); sample += 1
        }
      }
    }
    require(sample == nSamples, s"mp4: chunk map covered $sample of $nSamples samples")

    // per-sample time deltas, expanded from the run-length-compacted stts
    val stts = findChild(bytes, stbl + 8, stblEnd, "stts")
    val nTimeRuns = be32(bytes, stts + 12)
    val durations = (0 until nTimeRuns).flatMap { r =>
      val n     = be32(bytes, stts + 16 + 8 * r)
      val delta = be32(bytes, stts + 20 + 8 * r)
      Seq.fill(n)(delta)
    }
    require(durations.size == nSamples,
      s"mp4: stts covers ${durations.size} of $nSamples samples")
    (out.result(), durations)
  }
}
