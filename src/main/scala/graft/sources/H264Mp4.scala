package graft.sources

import java.io.{ByteArrayOutputStream, DataOutputStream, OutputStream}

/** Real H264-in-MP4: the `avc1`/`avcC` sample-description layer (ISO
  * 14496-15) on top of [[Mp4Writer]]'s container grammar, plus the
  * AVCC ↔ Annex-B framing conversion — the glue between the MP4 files
  * users actually have and [[H264]]'s Annex-B indexer. The reference's
  * ingest reaches this via libavformat (`scanner/engine/ingest.cpp:
  * 175-380` demuxes containers to packets before the index creator
  * runs); here the container walk is the repo's own ISO-BMFF parser, so
  * the whole path — mp4 → AVCC samples → Annex-B → NAL index → GOP
  * segments — is codec-library-free.
  *
  * In MP4, parameter sets live OUT of band in the `avcC` configuration
  * record and samples are length-prefixed NAL runs (no start codes,
  * no emulation ambiguity); Annex-B is the opposite. [[demuxToAnnexB]]
  * re-inlines SPS/PPS at the stream head, and [[H264.index]]'s
  * parameter-set re-insertion then makes every GOP self-contained.
  */
object H264Mp4 {

  /** the decoder-configuration record + dimensions parsed from `avc1` */
  final case class AvcConfig(
      profileIdc: Int, profileCompat: Int, levelIdc: Int,
      nalLengthSize: Int, sps: Seq[Array[Byte]], pps: Seq[Array[Byte]],
      width: Int, height: Int)

  // ------------------------------------------------------------- mux side

  /** AVCDecoderConfigurationRecord (ISO 14496-15 §5.2.4.1) */
  def avcC(sps: Seq[Array[Byte]], pps: Seq[Array[Byte]]): Array[Byte] = {
    require(sps.nonEmpty && pps.nonEmpty, "avcC needs at least one SPS and PPS")
    // the record's count fields are 5- and 8-bit: overflow would bleed
    // into reserved bits / truncate silently — a lying config record
    require(sps.size <= 31, s"avcC holds at most 31 SPS, got ${sps.size}")
    require(pps.size <= 255, s"avcC holds at most 255 PPS, got ${pps.size}")
    val out = new ByteArrayOutputStream()
    val d = new DataOutputStream(out)
    d.write(1)                      // configurationVersion
    d.write(sps.head(1))            // AVCProfileIndication (SPS byte 1)
    d.write(sps.head(2))            // profile_compatibility
    d.write(sps.head(3))            // AVCLevelIndication
    d.write(0xfc | 3)               // lengthSizeMinusOne = 3 (4-byte)
    d.write(0xe0 | sps.size)
    sps.foreach { s => d.writeShort(s.length); d.write(s) }
    d.write(pps.size)
    pps.foreach { p => d.writeShort(p.length); d.write(p) }
    d.flush()
    out.toByteArray
  }

  /** `avc1` visual sample entry wrapping an avcC child box */
  def avc1Entry(width: Int, height: Int, avcCBytes: Array[Byte]): Array[Byte] =
    Mp4Writer.sampleEntry("avc1", width, height, Mp4Writer.box("avcC")(_.write(avcCBytes)))

  /** one access unit's NALs, Annex-B framing -> one AVCC sample
    * (4-byte length prefix per NAL; parameter sets excluded — they
    * belong in avcC out-of-band)
    */
  private def auToAvccSample(auBytes: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(auBytes.length + 16)
    val d = new DataOutputStream(out)
    H264.nalUnits(auBytes).foreach { nal =>
      if (nal.nalType != 7 && nal.nalType != 8) {
        d.writeInt(nal.bytes.length)
        d.write(nal.bytes)
      }
    }
    d.flush()
    out.toByteArray
  }

  /** Mux an indexed Annex-B stream into a real `avc1` MP4: one sample
    * per access unit (AVCC framing), SPS/PPS in `avcC`, IDR samples in
    * the sync table. Returns bytes written.
    */
  def mux(ix: H264.StreamIndex, out: OutputStream, fps: Int = 30): Long = {
    val track = new Avc1Track
    val samples = track.samples(ix).toVector
    val t = track.result
    Mp4Writer.write(out, samples.map(s => Mp4Writer.SampleMeta(s.length.toLong, 1)),
      t.width, t.height, fps, samples.iterator, t.entry, t.sync)
  }

  /** An `avc1` track built one self-contained indexed piece at a time (a
    * whole stream for [[mux]], one stored GOP for
    * [[H264Ingest.saveMp4]]): each piece's access units become AVCC
    * samples while its parameter sets and IDRs are recorded.
    */
  private[sources] final class Avc1Track {
    private val sps = scala.collection.mutable.LinkedHashMap.empty[Int, Array[Byte]]
    private val pps = scala.collection.mutable.LinkedHashMap.empty[Int, Array[Byte]]
    private val sync = Vector.newBuilder[Int]
    private var n = 0

    /** `ix`'s AVCC samples, one per access unit */
    def samples(ix: H264.StreamIndex): Iterator[Array[Byte]] = {
      H264.nalUnits(ix.demuxed).foreach { nal =>
        def id(parse: H264.BitReader => Int) = parse(new H264.BitReader(H264.rbsp(nal.bytes, 1)))
        if (nal.nalType == 7) keep(sps, id(H264.parseSps(_).spsId), nal.bytes, "SPS")
        if (nal.nalType == 8) keep(pps, id(H264.parsePps(_).ppsId), nal.bytes, "PPS")
      }
      ix.keyframes.foreach(k => sync += n + k.toInt + 1) // stss is 1-based
      n += ix.frames.size
      ix.frames.iterator.map(f => auToAvccSample(java.util.Arrays.copyOfRange(
        ix.demuxed, f.byteOffset.toInt, (f.byteOffset + f.byteSize).toInt)))
    }

    // avcC is GLOBAL (out-of-band, no sequential scope), so a stream that
    // REDEFINES an sps_id/pps_id mid-stream with different content cannot
    // be represented faithfully — early GOPs would decode against the
    // later definition after a round trip. Refuse loudly; such streams
    // need an id rewrite or a per-GOP split first.
    private def keep(m: scala.collection.mutable.Map[Int, Array[Byte]], id: Int,
        bytes: Array[Byte], kind: String): Unit =
      if (!m.get(id).exists(java.util.Arrays.equals(_, bytes))) {
        require(!m.contains(id), s"stream redefines $kind id $id mid-stream: " +
          "not representable in a single avcC record")
        m(id) = bytes
      }

    /** the track once every piece is in: dims from the lowest-id SPS,
      * `avcC` from every parameter set, the IDR samples as sync
      */
    def result: Mp4Writer.Track = {
      // an stss-less track means ALL samples are sync points per ISO
      // 14496-12 — the opposite of the truth for a keyframe-less stream
      // (a tail cut mid-GOP); refuse rather than write a lying container
      val syncs = sync.result()
      require(syncs.nonEmpty,
        "cannot mux a stream with no IDR keyframe: every sample would be " +
          "mis-declared seekable (absent stss = all-sync)")
      val config = avcC(sps.values.toSeq, pps.values.toSeq)
      val head = H264.parseSps(new H264.BitReader(H264.rbsp(sps(sps.keys.min), 1)))
      Mp4Writer.Track(head.width, head.height,
        Some(avc1Entry(head.width, head.height, config)), syncs)
    }
  }

  // ----------------------------------------------------------- demux side

  /** parse `avc1`+`avcC` out of a whole in-memory MP4's moov */
  def parseAvcConfig(mp4: Array[Byte]): AvcConfig = {
    import Mp4Writer._
    // shared locator (handles largesize/to-end moov headers — childStart
    // skips a 64-bit size field so the trak walk can't misread it)
    val (_, moovEnd, childStart) = locateMoov(mp4)
    val b = mp4
    val trak = findChild(b, childStart, moovEnd, "trak")
    val mdia = findChild(b, trak + 8, trak + be32(b, trak), "mdia")
    val minf = findChild(b, mdia + 8, mdia + be32(b, mdia), "minf")
    val stbl = findChild(b, minf + 8, minf + be32(b, minf), "stbl")
    val stsd = findChild(b, stbl + 8, stbl + be32(b, stbl), "stsd")
    val entry = stsd + 16 // fullbox header (12) + entry_count (4)
    require(boxType(b, entry) == "avc1",
      s"expected avc1 sample entry, got ${boxType(b, entry)}")
    val width = ((b(entry + 32) & 0xff) << 8) | (b(entry + 33) & 0xff)
    val height = ((b(entry + 34) & 0xff) << 8) | (b(entry + 35) & 0xff)
    val entryEnd = entry + be32(b, entry)
    val cfg = findChild(b, entry + 86, entryEnd, "avcC")
    var o = cfg + 8
    require(b(o) == 1, "avcC configurationVersion must be 1")
    val profile = b(o + 1) & 0xff
    val compat = b(o + 2) & 0xff
    val level = b(o + 3) & 0xff
    val lenSize = (b(o + 4) & 3) + 1
    // `n` length-prefixed parameter sets from `o` on
    def sets(n: Int) = (0 until n).map { _ =>
      val l = ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
      o += 2 + l
      java.util.Arrays.copyOfRange(b, o - l, o)
    }
    o += 6
    val sps = sets(b(o - 1) & 0x1f)
    o += 1
    val pps = sets(b(o - 1) & 0xff)
    AvcConfig(profile, compat, level, lenSize, sps, pps, width, height)
  }

  private val startCode = Array[Byte](0, 0, 1)

  /** Demux a whole in-memory `avc1` MP4 back to one Annex-B stream:
    * SPS/PPS NALs from avcC at the head, then each sample's
    * length-prefixed NALs re-framed with start codes. The output feeds
    * [[H264.index]] directly (its IDR re-insertion then restores GOP
    * self-containment).
    */
  def demuxToAnnexB(mp4: Array[Byte]): Array[Byte] = {
    val cfg = parseAvcConfig(mp4)
    val samples = Mp4Writer.parseSamples(mp4)
    val out = new ByteArrayOutputStream(mp4.length + 256)
    (cfg.sps ++ cfg.pps).foreach { ps => out.write(startCode); out.write(ps) }
    samples.foreach { s =>
      var o = s.offset.toInt
      val end = o + s.bytes
      while (o < end) {
        var len = 0L
        (0 until cfg.nalLengthSize).foreach { i =>
          len = (len << 8) | (mp4(o + i) & 0xffL)
        }
        o += cfg.nalLengthSize
        require(len > 0 && o + len <= end,
          s"avcc: NAL length $len overruns sample at $o")
        out.write(startCode)
        out.write(mp4, o, len.toInt)
        o += len.toInt
      }
    }
    out.toByteArray
  }

  /** demux + index in one step: the real-MP4 twin of [[H264.index]] */
  def indexMp4(mp4: Array[Byte]): H264.StreamIndex =
    H264.index(demuxToAnnexB(mp4))
}
