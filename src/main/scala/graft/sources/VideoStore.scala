package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.model.{CacheMode, FrameElem, StreamDescriptor}

/** Video ingest / lazy frame source / export — the rebuild of the
  * reference's video pipeline:
  *
  *  - ingest (`scanner/engine/ingest.cpp:867-1018`): frames → GOP segments
  *    + a keyframe index. Here the segment table IS the keyframe index:
  *    one row per GOP `(streamId, segId, startIndex, numFrames, payload)`,
  *    stored as a committed [[NamedStorage]] stream, each stream whole in
  *    one part file in segId order, so parquet row-group stats prune on
  *    segId.
  *  - sparse decode (`scanner/video/decoder_automata.h:40-51`,
  *    `dag_analysis.cpp` TaskStream row pruning): reading a sparse frame set
  *    first plans against segment METADATA only (payload column never read),
  *    then scans just the needed segments with an `isin(segId)` pushdown,
  *    and decodes each segment only up to the highest requested offset.
  *  - export (`python/scannerpy/column.py:283-342` save_mp4): ordered
  *    concatenation of stored segments into one container file.
  *
  * At 100 TB: segments are the unit of parallelism (one decode task per
  * GOP), pruning happens in the parquet scan, and nothing but the requested
  * frame list ever reaches the driver.
  */
object VideoStore {

  /** one GOP of compressed video — the stored representation of a video column */
  final case class Segment(
      streamId: Long, segId: Long, startIndex: Long, numFrames: Int, payload: Array[Byte])

  /** Per-column output-compression hints — the reference attaches
    * codec/quality/lossless to a sink column (`python/scannerpy/op.py:
    * 57-102`, applied `client.py:1338-1354`). Here: `quality`/`lossless`
    * drive the (stand-in) video codec's pre-quantization; `storageCodec`
    * is the parquet codec of the segment table (the part Spark executes
    * for real: zstd/snappy/none on the wire format).
    */
  final case class CompressionHints(
      storageCodec: String = "snappy",
      quality: Int = 100,
      lossless: Boolean = true) {
    require(quality >= 1 && quality <= 100, s"quality must be in [1,100], got $quality")
    /** quantization step derived from quality (1 = exact) */
    def step: Int = if (lossless) 1 else math.max(1, (100 - quality) / 4)
  }

  private[sources] val segEnc = Encoders.product[Segment]
  private val frameEnc = Encoders.product[FrameElem]

  /** Ingest a frame stream into GOP segments of `gopSize` frames. Frames
    * must carry dense per-stream indices (codec GOPs are index-aligned).
    */
  def ingest(frames: Dataset[FrameElem], root: String, name: String,
      gopSize: Int, mode: CacheMode = CacheMode.Error,
      hints: CompressionHints = CompressionHints(),
      codec: GopCodec = FakeVideoCodec): StreamDescriptor = {
    require(gopSize > 0, s"gopSize must be positive, got $gopSize")
    val q = hints.step
    val segs = frames
      .groupByKey(f => (f.streamId, f.index / gopSize))(
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .flatMapSortedGroups(col("index")) { (key: (Long, Long), it: Iterator[FrameElem]) =>
        val gop = it.map(f => if (q == 1) f else quantize(f, q)).toSeq
        Iterator.single(Segment(
          key._1, key._2, gop.head.index, gop.size, codec.encodeGop(gop)))
      }(segEnc)
      .repartition(col("streamId")).sortWithinPartitions("streamId", "segId").toDF()
    // whole streams per part file, segId-ordered, with no range sort: a
    // RangePartitioner's sampling job would re-run the encode
    NamedStorage.write(segs, root, name, mode,
      options = Map("compression" -> hints.storageCodec))
  }

  /** lossy pre-quantization: every U8 sample floored to a multiple of
    * `step` — deterministic, monotone in quality, and it makes the XOR
    * deltas sparser (the stand-in for a real codec's quality knob)
    */
  private def quantize(f: FrameElem, step: Int): FrameElem = {
    val out = new Array[Byte](f.data.length)
    var i = 0
    while (i < out.length) {
      out(i) = (((f.data(i) & 0xff) / step) * step).toByte
      i += 1
    }
    f.copy(data = out)
  }

  def segments(spark: SparkSession, root: String, name: String): Dataset[Segment] =
    NamedStorage.read(spark, root, name, Some(segEnc.schema)).as[Segment](segEnc)

  /** Full-scan decode: per-segment work, no cross-segment dependencies.
    *
    * `minDecodeTasks`: the file scan bin-packs small segment files into
    * few partitions (openCost + maxPartitionBytes are tuned for I/O, not
    * CPU), which caps DECODE parallelism — a 32-GOP store of ~0.5 MB
    * files packs into ~2 scan partitions, so an H264 decode runs ~2-way
    * on a 32-core executor. Passing minDecodeTasks > 0 repartitions the
    * SEGMENT relation (one shuffle of compressed payloads — cheap
    * relative to decode exactly when decode is the bottleneck) so every
    * GOP decodes in its own task, the reference's decode-parallelism
    * unit. Leave 0 for I/O-bound codecs or stores whose segment files
    * already split well (the 100 TB shape: row-group-sized segments).
    */
  def frames(spark: SparkSession, root: String, name: String,
      decoded: Option[LongAccumulator] = None,
      codec: GopCodec = FakeVideoCodec,
      minDecodeTasks: Int = 0): Dataset[FrameElem] = {
    val segs = segments(spark, root, name)
    val n =
      if (minDecodeTasks > 0) minDecodeTasks
      else if (codec.cpuBoundDecode) autoDecodeTasks(spark, root, name)
      else 0
    val spread = if (n > 0) segs.repartition(n) else segs
    spread.flatMap(s =>
      codec.decodeGop(s.payload, s.streamId, s.startIndex, Int.MaxValue, decoded))(frameEnc)
  }

  /** Decode-aware default parallelism for CPU-bound codecs
    * ([[GopCodec.cpuBoundDecode]]): metadata-only (descriptor row count +
    * a driver-side file listing — no data scan, no extra job). The file
    * scan packs segment files by STORED bytes (`maxPartitionBytes` +
    * `openCostInBytes` model I/O cost), so a well-compressed store
    * collapses decode onto a few cores: 128 HD GOPs measured as 3 scan
    * tasks / 2.3 busy cores of 32. When the I/O estimate would starve the
    * pool, repartition the segment relation — one shuffle of COMPRESSED
    * payloads, cheap relative to decode exactly when decode is the
    * bottleneck — to min(#segments, 4x cores): GOP-granular decode tasks
    * (the reference's decode unit) up to a cap that keeps the task count
    * bounded at corpus scale (millions of GOPs decode ~4 GOPs-deep per
    * task wave, balanced by round-robin). Returns 0 (leave the scan
    * alone) when bin-packing already feeds every core.
    */
  /** memoized per (root, name) for the life of the JVM: the decision
    * costs a remote-FS listStatus round-trip per frames() call otherwise
    * (ADVICE r12). Committed stores are immutable (commit-last protocol),
    * so the shape never changes under a cached key; an Overwrite recommit
    * in the same JVM is the one case that could stale this — rare enough
    * that the entry is simply replaced on descriptor-row-count change.
    */
  private val decodeTaskCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Long), Int]()

  private def autoDecodeTasks(spark: SparkSession, root: String, name: String): Int =
    try {
      val d     = NamedStorage.descriptor(spark, root, name)
      val nSegs = d.rows
      val cores = spark.sparkContext.defaultParallelism.toLong
      if (nSegs <= 1) return 0
      // key includes the descriptor row count so an Overwrite recommit
      // with a different segmentation recomputes
      decodeTaskCache.computeIfAbsent((root, name, nSegs), _ => {
        val dataPath = new org.apache.hadoop.fs.Path(
          d.location.getOrElse(NamedStorage.dataDir(root, name).toString))
        val fsys  = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val files = fsys.listStatus(dataPath).filter(_.isFile)
          .filterNot(_.getPath.getName.startsWith("_"))
        val conf     = spark.sessionState.conf
        val maxPart  = conf.filesMaxPartitionBytes
        val openCost = conf.filesOpenCostInBytes
        val ioParts = math.max(1L,
          (files.map(_.getLen + openCost).sum + maxPart - 1) / maxPart)
        if (ioParts >= math.min(nSegs, cores)) 0
        else math.min(nSegs, 4L * cores).toInt
      })
      // NonFatal only (ADVICE r12): swallowing OOM/interrupts here hid
      // real failures behind a silently-unspread decode
    } catch { case scala.util.control.NonFatal(_) => 0 }

  /** Sparse read of exactly the `rows` indices of one stream (reference
    * Gather + sparse decode). Plans on metadata, scans only needed
    * segments, decodes each only up to its highest requested offset.
    */
  def gatherFrames(spark: SparkSession, root: String, name: String,
      streamId: Long, rows: Seq[Long],
      decoded: Option[LongAccumulator] = None,
      codec: GopCodec = FakeVideoCodec): Dataset[FrameElem] =
    gatherFramesMulti(spark, root, name, Map(streamId -> rows), decoded, codec)

  /** Multi-stream sparse gather: one job plans and decodes the wanted rows
    * of EVERY stream (the reference's per-job stream loop,
    * `python/scannerpy/client.py:1434-1527`, without looping the driver —
    * N streams is one metadata pass + one decode pass, not N jobs).
    */
  def gatherFramesMulti(spark: SparkSession, root: String, name: String,
      wants: Map[Long, Seq[Long]],
      decoded: Option[LongAccumulator] = None,
      codec: GopCodec = FakeVideoCodec): Dataset[FrameElem] = {
    val (needed, pruned) = pruneSegments(spark, root, name, wants)
    val wantB   = spark.sparkContext.broadcast(wants.map { case (k, v) => k -> v.toSet })
    val neededB = spark.sparkContext.broadcast(needed)
    pruned.flatMap { s =>
      neededB.value.get((s.streamId, s.segId)) match {
        case None => Iterator.empty
        case Some(upTo) =>
          val wantSet = wantB.value(s.streamId)
          codec.decodeGop(s.payload, s.streamId, s.startIndex, upTo.toInt, decoded)
            .filter(f => wantSet.contains(f.index))
      }
    }(frameEnc)
  }

  /** The shared two-phase sparse-read plan (the dynamic-file-pruning
    * pattern; the reference's TaskStream rows): a DISTRIBUTED metadata
    * pass — segment index (payload pruned from the scan) range-joined
    * against the broadcast wanted-row list — reduces to one
    * ((streamId, segId) -> max needed offset) row per covering segment,
    * ≤ |wanted rows|; only that reaches the driver, where its sargable
    * per-column relaxation (streamId ∈ sids ∧ segId ∈ segIds) becomes the
    * `isin` pushed into the payload scan. Callers re-check exact pair
    * membership executor-side against the returned map (the relaxation's
    * cross-product may scan a few extra segments; it must never DECODE
    * them). Serves [[gatherFramesMulti]] and
    * [[H264Ingest.gatherAccessUnits]] — one pruning plan, two payload
    * consumers.
    */
  private[sources] def pruneSegments(spark: SparkSession, root: String,
      name: String, wants: Map[Long, Seq[Long]])
      : (Map[(Long, Long), Long], Dataset[Segment]) = {
    require(wants.nonEmpty && wants.values.forall(_.nonEmpty),
      "sparse gather needs at least one row per requested stream")
    import spark.implicits._
    val want = wants.toSeq
      .flatMap { case (sid, rows) => rows.map(r => (sid, r)) }
      .toDF("__sid", "__want")
    val needed: Map[(Long, Long), Long] = segments(spark, root, name)
      .select(col("streamId"), col("segId"), col("startIndex"), col("numFrames"))
      .join(broadcast(want), col("streamId") === col("__sid") &&
        col("__want") >= col("startIndex") &&
        col("__want") < col("startIndex") + col("numFrames"))
      .groupBy(col("streamId"), col("segId"))
      .agg(max(col("__want") - col("startIndex")).as("__upTo"))
      .as[(Long, Long, Long)].collect()
      .map { case (sid, seg, upTo) => (sid, seg) -> upTo }.toMap
    val sids   = needed.keys.map(_._1).toSeq.distinct
    val segIds = needed.keys.map(_._2).toSeq.distinct
    val pruned = segments(spark, root, name)
      .filter(col("streamId").isin(sids: _*) &&
        col("segId").isin(segIds: _*)) // pushed to parquet scan
    (needed, pruned)
  }

  /** Demux one container's index: top-level box walk (full 14496-12 size
    * grammar — compact, `largesize`, 0 = to-end-of-file), one moov read,
    * sample refs + per-sample frame counts from the stts deltas (our
    * muxer's timescale is 1 unit = 1 frame), and a constant-cost
    * cross-check of sample 0's GOP header against its stts delta so a
    * foreign-timescale file fails loudly instead of silently mis-indexing.
    * Exactly one header walk + one moov read + one GOP-header peek — the
    * reference's single-pass index build (`scanner/engine/ingest.cpp:
    * 175-380`). Runs on the driver (single-file ingest) or inside an
    * executor task (directory ingest).
    */
  private def demuxIndex(fs: org.apache.hadoop.fs.FileSystem, p: Path): IndexedSeq[Sample] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val len = fs.getFileStatus(p).getLen
    val in  = fs.open(p)
    try {
      val hdr = new Array[Byte](8)
      var off = 0L
      var moov: Array[Byte] = null
      while (moov == null && off < len) {
        in.readFully(off, hdr, 0, 8)
        val sz32 = ByteBuffer.wrap(hdr).order(ByteOrder.BIG_ENDIAN).getInt(0)
        val sz: Long =
          if (sz32 == 1) {
            val l8 = new Array[Byte](8)
            in.readFully(off + 8, l8, 0, 8)
            ByteBuffer.wrap(l8).order(ByteOrder.BIG_ENDIAN).getLong(0)
          } else if (sz32 == 0) len - off
          else sz32.toLong
        require(sz >= 8 && off + sz <= len, s"mp4: corrupt box size $sz at $off")
        if (new String(hdr, 4, 4, "US-ASCII") == "moov") {
          require(sz <= Int.MaxValue, s"mp4: moov box too large ($sz bytes)")
          moov = new Array[Byte](sz.toInt); in.readFully(off, moov, 0, sz.toInt)
        } else off += sz
      }
      require(moov != null, s"no moov box in $p")
      val (rs, ns) = Mp4Writer.parseSampleTableWithDurations(moov)
      rs.headOption.foreach { r0 =>
        val hbuf = new Array[Byte](math.min(GopCodec.HeaderBytes, r0.bytes))
        in.readFully(r0.offset, hbuf, 0, hbuf.length)
        val headerN = GopCodec.header(hbuf).frames
        require(headerN == ns.head,
          s"mp4: stts delta ${ns.head} != GOP header frame count $headerN — " +
            "not a 1-unit-per-frame file; re-mux or ingest via frames()")
      }
      val starts = ns.scanLeft(0L)(_ + _)
      rs.iterator.zip(ns).zip(starts).zipWithIndex.map { case (((r, n), st), i) =>
        Sample(i.toLong, st, n, r.offset, r.bytes)
      }.toIndexedSeq
    } finally in.close()
  }

  /** one MP4 sample = one stored GOP, located in its container */
  private final case class Sample(segId: Long, startIndex: Long, numFrames: Int,
      offset: Long, bytes: Int)

  /** MP4 ingest — the container half of the reference's flagship path
    * (`scanner/engine/ingest.cpp:175-380`: demux the container, index the
    * keyframe-aligned sample runs, store segments + index). The ISO-BMFF
    * demux is REAL ([[Mp4Writer.parseSampleTable]]): the driver reads only
    * box headers plus the (small) `moov` box and the first GOP header —
    * the reference's single-pass index build — then each EXECUTOR
    * positioned-reads its own samples' byte ranges ([[FileFleet]] ships
    * the Hadoop conf), so payload bytes never route through the driver
    * and ingest parallelism = #samples. Samples are GOP payloads of any
    * store codec ([[GopCodec.header]] reads their headers).
    */
  def ingestMp4(spark: SparkSession, mp4Path: String, root: String, name: String,
      streamId: Long, mode: CacheMode = CacheMode.Error): StreamDescriptor = {
    val p = new Path(mp4Path)
    val samples = demuxIndex(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    // the segId-ordered sample list parallelizes into contiguous ascending
    // slices, so the payload fetch writes segId-ordered parquet with no
    // sort: each sample's bytes are read exactly once (a global orderBy
    // after the fetch would re-read every sample in its sampling pass —
    // pinned by the spy-filesystem read-count spec)
    val segs = FileFleet.parallelize(spark, samples) { (task, it) =>
      fetchSamples(task, p, streamId, it)
    }
    NamedStorage.write(spark.createDataset(segs)(segEnc).toDF(), root, name, mode)
  }

  /** Distributed multi-file MP4 ingest: a DIRECTORY of containers becomes
    * one stored multi-stream table in one job — each executor task demuxes
    * its files' moov and streams their samples (one segment in memory at a
    * time), so the driver never opens a container at all (the 10k-files
    * twin of [[ingestMp4]], whose per-file driver walk would cost 10k
    * sequential object-store round-trips). streamId = position of the file
    * in the lexicographically sorted listing (deterministic; name files
    * with zero-padded ids to control it). [[FileFleet]] hands each task
    * a contiguous ascending run of files, so parquet files come out
    * stream-then-segId ordered for row-group pruning with no sort.
    */
  def ingestMp4Dir(spark: SparkSession, dirPath: String, root: String, name: String,
      mode: CacheMode = CacheMode.Error): StreamDescriptor = {
    val segs = FileFleet.read(spark, dirPath, ".mp4") { (task, p, sid) =>
      fetchSamples(task, p, sid, demuxIndex(task.fs(p), p).iterator)
    }
    NamedStorage.write(spark.createDataset(segs)(segEnc).toDF(), root, name, mode)
  }

  /** `samples` of container `p` as segments of stream `sid`, read lazily
    * one positioned read at a time (one segment in memory)
    */
  private def fetchSamples(task: FileFleet.Task, p: Path, sid: Long,
      samples: Iterator[Sample]): Iterator[Segment] = {
    lazy val in = task.open(p)
    samples.map { smp =>
      val b = new Array[Byte](smp.bytes)
      in.readFully(smp.offset, b, 0, b.length)
      Segment(sid, smp.segId, smp.startIndex, smp.numFrames, b)
    }
  }

  /** Full `save_mp4` export: stored segments wrapped in a REAL ISO-BMFF
    * container ([[Mp4Writer]] — ftyp/mdat/moov with complete sample
    * tables; one sample per GOP, all sync). The reference does this by
    * shelling to ffmpeg client-side (`python/scannerpy/column.py:283-342`);
    * here the mux is native and only the sample-description fourcc is the
    * stand-in codec's. The payloads stream through the driver once, one
    * segment at a time, into [[writeMp4]] — the same assembly
    * [[exportMp4All]] runs per stream — and `outPath` commits only when
    * the whole file is written ([[FileFleet.writeFile]]).
    */
  def exportMp4(spark: SparkSession, root: String, name: String,
      streamId: Long, outPath: String, fps: Int = 30): Long =
    FileFleet.writeFile(spark, outPath) { (task, file) =>
      segmentsMp4(task, file, fps, streamSegments(spark, root, name, streamId))
    }

  /** Distributed multi-stream `save_mp4`: every stream of the named store
    * exported as its own `stream-<sid>.mp4`, each stream's segments
    * assembled inside one executor task — the driver never touches
    * payload bytes (the reference loops its client per stream,
    * `python/scannerpy/column.py:283-342`; single-stream [[exportMp4]]
    * keeps that shape, this is the 10k-streams path). The files commit
    * through [[FileFleet.write]]: a failed export leaves the previous
    * export as it was, and a successful one deletes the `stream-N.mp4`
    * of streams no longer in the store.
    *
    * @return (streamId, path, bytes) per exported stream (collected —
    *         3 small values per stream)
    */
  def exportMp4All(spark: SparkSession, root: String, name: String,
      outDir: String, fps: Int = 30): Array[(Long, String, Long)] = {
    val byStream = segments(spark, root, name)
      .repartition(col("streamId")).sortWithinPartitions("streamId", "segId").rdd
    FileFleet.write(spark, byStream, outDir, _.matches("stream-\\d+\\.mp4")) { (task, _, segs) =>
      // one run of same-streamId segments per file, each consumed whole
      // before the next run starts
      val it = segs.buffered
      Iterator.continually(it).takeWhile(_.hasNext).map { _ =>
        val sid = it.head.streamId
        val file = s"stream-$sid.mp4"
        (sid, new Path(new Path(outDir), file).toString, segmentsMp4(task, file, fps,
          Iterator.continually(it).takeWhile(i => i.hasNext && i.head.streamId == sid).map(_.next())))
      }
    }
  }

  /** one stream's segments as an MP4 of the store codec's GOPs: frame
    * dims from the first payload's header ([[GopCodec.header]])
    */
  private def segmentsMp4(task: FileFleet.Task, file: String, fps: Int,
      segs: Iterator[Segment]): Long = {
    var shape: GopCodec.Header = null
    writeMp4(task, file, fps, segs.map { s =>
      if (shape == null) shape = GopCodec.header(s.payload)
      (s.payload, s.numFrames)
    })(Mp4Writer.Track(shape.width, shape.height))
  }

  /** The one MP4 assembly every export runs: the `mdat` size must precede
    * the payloads, so `samples` (payload, frame count) spool to a scratch
    * file while the sample table collects, then `file` gets ftyp + mdat
    * (the spool copied back) + moov, with the sample description and sync
    * table `track` gives once every sample has been seen. One payload in
    * memory at a time; 2x write, 1x read of the payload bytes.
    */
  private[sources] def writeMp4(task: FileFleet.Task, file: String, fps: Int,
      samples: Iterator[(Array[Byte], Int)])(track: => Mp4Writer.Track): Long = {
    val metas = Vector.newBuilder[Mp4Writer.SampleMeta]
    task.scratch(s"$file.spool") { spool =>
      samples.foreach { case (p, n) =>
        spool.write(p)
        metas += Mp4Writer.SampleMeta(p.length.toLong, n)
      }
    } { in =>
      val ms = metas.result()
      require(ms.nonEmpty, s"$file: no samples to export")
      val t = track
      task.output(file)(out => Mp4Writer.write(out, ms, t.width, t.height, fps,
        Iterator.continually(in.readNBytes(1 << 20)).takeWhile(_.nonEmpty),
        t.entry, t.sync))
    }
  }

  /** Ordered concatenation of one stream's segments into a single file —
    * the raw-stream twin of [[exportMp4]] (for H.264 stores, whose GOP
    * payloads are self-contained, an Annex-B file). Streams through the
    * driver — never materializes more than one segment — and commits
    * like [[exportMp4]]. Returns the bytes written.
    */
  def exportConcat(spark: SparkSession, root: String, name: String,
      streamId: Long, outPath: String): Long =
    FileFleet.writeFile(spark, outPath) { (task, file) =>
      task.output(file) { out =>
        streamSegments(spark, root, name, streamId)
          .map { s => out.write(s.payload); s.payload.length.toLong }.sum
      }
    }

  /** one stream's segments in segId order, streamed to the driver
    * through `toLocalIterator` (one segment at a time)
    */
  private[sources] def streamSegments(spark: SparkSession, root: String,
      name: String, streamId: Long): Iterator[Segment] = {
    import scala.jdk.CollectionConverters._
    segments(spark, root, name).filter(col("streamId") === streamId)
      .orderBy("segId").toLocalIterator().asScala
  }
}
