package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Distributed ingest of real H.264 Annex-B byte streams: one executor
  * task per file runs [[H264.index]] (NAL walk → access-unit split →
  * keyframe index → SPS/PPS-self-contained demux), then either the
  * per-frame index rows or the keyframe-aligned GOP segments surface as
  * DataFrames. The reference's equivalent ingest path is
  * `scanner/engine/ingest.cpp:175-380` feeding
  * `h264_byte_stream_index_creator.cpp`; here the parallelism unit is
  * the FILE ([[FileFleet]] distributes the directory; each
  * stream's index is sequential by construction — NAL n's slice header
  * needs SPS/PPS state from NALs before it), so a 100 TB corpus of
  * many videos scales horizontally exactly like the reference's
  * per-video ingest jobs.
  *
  * GOP segments pair with [[VideoStore]]'s keyframe-seek model: each
  * segment payload starts with an IDR plus its parameter sets, so a
  * sparse read decodes ([[H264Codec.decode]]) only the covering segments.
  */
object H264Ingest {

  private val frameSchema = Seq("path", "frame", "byte_offset", "byte_size",
    "keyframe", "frame_num", "poc_lsb", "slice_type", "n_slices",
    "width", "height", "profile_idc")

  /** per-frame index rows for every `.h264` file under `dirPath` */
  def indexFiles(spark: SparkSession, dirPath: String): DataFrame = {
    import spark.implicits._
    FileFleet.read(spark, dirPath, ".h264") { (task, p, _) =>
      val ix = H264.index(readWhole(task, p))
      ix.frames.iterator.map(f => (p.toString, f.frame, f.byteOffset, f.byteSize,
        f.keyframe, f.frameNum, f.pocLsb, f.sliceType, f.nSlices,
        ix.width, ix.height, ix.profileIdc))
    }.toDF(frameSchema: _*)
  }

  /** Ingest a directory of `.h264` files into the SAME committed
    * segment-table format [[VideoStore.ingest]] writes — one row per
    * keyframe-aligned GOP, `(streamId, segId)` sorted so parquet
    * row-group stats prune on segId; streamId is the file's position in
    * the sorted listing (the `ingestMp4Dir` convention). The stored
    * payloads are REAL self-contained H264 (parameter sets present at
    * every leading IDR): each segment decodes on its own
    * ([[H264Codec.decode]]), and [[VideoStore.exportConcat]] writes a
    * stream back out as one Annex-B file.
    */
  def ingestH264Dir(spark: SparkSession, dirPath: String, root: String,
      name: String,
      mode: graft.model.CacheMode = graft.model.CacheMode.Error)
      : graft.model.StreamDescriptor =
    ingestDirWith(spark, dirPath, root, name, mode, ".h264",
      bytes => H264.index(bytes))

  /** [[ingestH264Dir]] for directories of real `avc1` MP4 files — the
    * format users actually have. Each executor task demuxes its file
    * with the repo's own ISO-BMFF + AVCC walk ([[H264Mp4.indexMp4]]:
    * avcC parameter sets re-inlined, samples re-framed to Annex-B),
    * then indexes and GOP-segments it exactly like the raw path — so a
    * directory of MP4s and a directory of `.h264` streams produce the
    * SAME stored table.
    */
  def ingestMp4H264Dir(spark: SparkSession, dirPath: String, root: String,
      name: String,
      mode: graft.model.CacheMode = graft.model.CacheMode.Error)
      : graft.model.StreamDescriptor =
    ingestDirWith(spark, dirPath, root, name, mode, ".mp4",
      bytes => H264Mp4.indexMp4(bytes))

  /** Export one stored stream as a real `avc1` MP4 (AVCC samples, avcC
    * parameter sets, stss sync table). Each stored GOP is self-contained,
    * so it indexes on its own and its access units stream into
    * [[VideoStore.writeMp4]] one GOP at a time — the driver never holds
    * the stream — and `outPath` commits like every export. The result is
    * byte-equal to [[H264Mp4.mux]] of the whole concatenated stream, and
    * keeps its refusals (no IDR; an SPS/PPS id redefined mid-stream).
    * Returns bytes written.
    */
  def saveMp4(spark: SparkSession, root: String, name: String,
      streamId: Long, outPath: String, fps: Int = 30): Long =
    FileFleet.writeFile(spark, outPath) { (task, file) =>
      val track = new H264Mp4.Avc1Track
      VideoStore.writeMp4(task, file, fps,
        VideoStore.streamSegments(spark, root, name, streamId)
          .flatMap(s => track.samples(H264.index(s.payload)).map((_, 1))))(track.result)
    }

  /** one whole file, bounded at 2 GiB */
  private def readWhole(task: FileFleet.Task, p: org.apache.hadoop.fs.Path): Array[Byte] = {
    val len = task.fs(p).getFileStatus(p).getLen
    require(len <= Int.MaxValue,
      s"$p is $len bytes; single-stream indexing is bounded " +
        "at 2 GiB — split the stream or extend to a streaming NAL walk")
    val bytes = new Array[Byte](len.toInt)
    task.open(p).readFully(0L, bytes)
    bytes
  }

  /** shared distributed walk of [[ingestH264Dir]]/[[ingestMp4H264Dir]]:
    * one [[FileFleet]] task per run of files, each file read whole,
    * indexed and cut into GOP segments of stream = its listing position
    */
  private def ingestDirWith(spark: SparkSession, dirPath: String,
      root: String, name: String, mode: graft.model.CacheMode, ext: String,
      indexer: Array[Byte] => H264.StreamIndex)
      : graft.model.StreamDescriptor = {
    val segs = FileFleet.read(spark, dirPath, ext) { (task, p, sid) =>
      indexer(readWhole(task, p)).gopSegments.iterator.map { case (g, start, n, payload) =>
        VideoStore.Segment(sid, g.toLong, start, n, payload)
      }
    }
    NamedStorage.write(spark.createDataset(segs)(VideoStore.segEnc).toDF(), root, name, mode)
  }

  /** Sparse access-unit gather over an H264 segment store: for the
    * requested (stream, frame) pairs, read ONLY the covering GOP
    * segments and return each wanted frame's index row (keyframe flag,
    * frame_num, slice count, byte size) by re-indexing just those
    * payloads. Same two-phase plan as [[VideoStore.gatherFramesMulti]]
    * (`decoder_automata` sparse-run semantics): a payload-pruned
    * metadata pass range-joins the broadcast want list down to one row
    * per covering segment, and only that `isin` set reaches the payload
    * scan — so a 10-frame request against a million-GOP store reads
    * ~10 segments, which is the whole point of keyframe alignment.
    * `scanned` (optional) counts segments actually opened, for pruning
    * pins. Decode-free: access-unit structure needs only the NAL walk.
    */
  def gatherAccessUnits(spark: SparkSession, root: String, name: String,
      wants: Map[Long, Seq[Long]],
      scanned: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    import spark.implicits._
    // one pruning plan, two payload consumers: the decode gather and this
    val (needed, pruned) = VideoStore.pruneSegments(spark, root, name, wants)
    val wantB = spark.sparkContext.broadcast(
      wants.map { case (k, v) => k -> v.toSet })
    val neededB = spark.sparkContext.broadcast(needed.keySet)
    pruned
      .flatMap { s =>
        if (!neededB.value((s.streamId, s.segId))) Iterator.empty
        else {
          scanned.foreach(_.add(1L))
          val wantSet = wantB.value(s.streamId)
          H264.index(s.payload).frames.iterator
            .map(f => (s.streamId, s.startIndex + f.frame, f.keyframe,
              f.frameNum, f.nSlices, f.byteSize))
            .filter(t => wantSet.contains(t._2))
        }
      }
      .toDF("streamId", "frame", "keyframe", "frame_num", "n_slices",
        "byte_size")
  }
}
