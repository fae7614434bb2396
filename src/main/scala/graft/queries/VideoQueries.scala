package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders

import graft.model.{CacheMode, FrameElem, FrameType}
import graft.operators.{SequenceOps, StdKernels}
import graft.sources.{FakeVideoCodec, H264GopCodec, VideoStore}

/** Video-pipeline queries — the reference's flagship path (SURVEY.md §7
  * "minimum end-to-end slice": ingest → Range → Histogram → load,
  * mirroring `py_test.py:274-297` + `tests/test_ops.cpp:13-59`).
  *
  * Inputs are deterministic synthetic frames (the codec container has no
  * FFmpeg, FIXTURES.md §4), so these queries carry no DuckDB oracle — the
  * driver records rows-only checks — but the specs in VideoStoreSpec pin
  * the decode/codec semantics exactly.
  */
object VideoQueries {

  private val frameEnc = Encoders.product[FrameElem]

  /** the deterministic test video: 2 streams x 300 frames of 16x24 RGB,
    * store "testvid" */
  private def ensureIngested(s: SparkSession): String =
    Fixtures.dir("videoq-testvid", Fixtures.storeKey(2, 300, 50)(
        StdKernels.syntheticFrame(0L, 0L, 16, 24, 3), FakeVideoCodec)) { d =>
      import s.implicits._
      val frames = (0L until 2L).flatMap(sid =>
        (0 until 300).map(i => StdKernels.syntheticFrame(sid, i.toLong, 16, 24, 3)))
      VideoStore.ingest(frames.toDS(), d, "testvid", gopSize = 50)
    }

  /** Closed-form smooth texture for the flow PROPERTY gates: a sum of
    * incommensurate sinusoids, so gradient energy exists in both axes at
    * every pixel (no aperture ambiguity) and the field is defined on all
    * of ℝ² — a frame translated by (dx, dy) is an EXACT translate of its
    * predecessor, which makes "recovered flow ≈ (dx, dy)" an independent
    * ground truth no estimator constant can leak into.
    */
  private[graft] def flowTex(x: Double, y: Double): Int =
    (127.5 + 55 * math.sin(0.31 * x + 0.17 * y) * math.cos(0.23 * y - 0.11 * x)
      + 45 * math.sin(0.13 * x) * math.sin(0.19 * y)).round.toInt.max(0).min(255)

  private[graft] val FlowH = 48
  private[graft] val FlowW = 64
  private[graft] val FlowFrames = 48
  /** per-stream ground-truth displacement (stream 0 pure-x, stream 1
    * diagonal — both inside the single-scale estimators' range) */
  private[graft] def flowDisp(sid: Long): (Int, Int) =
    if (sid == 0L) (1, 0) else (1, 1)

  /** frame i of the translated-texture stream `sid`: 48x64 gray,
    * flowTex shifted by i*(dx,dy) */
  private def flowFrame(sid: Long, i: Int): FrameElem = {
    val (dx, dy) = flowDisp(sid)
    val data = new Array[Byte](FlowH * FlowW)
    var p = 0
    while (p < data.length) {
      data(p) = flowTex(p % FlowW - i.toLong * dx, p / FlowW - i.toLong * dy).toByte
      p += 1
    }
    FrameElem(sid, i.toLong, FlowH, FlowW, 1, FrameType.U8, data)
  }

  /** the translated-texture fixture: 2 streams x 48 frames, store "flowvid" */
  private def ensureFlowIngested(s: SparkSession): String =
    Fixtures.dir("videoq-flowvid", Fixtures.storeKey(2, FlowFrames, 16)(
        flowFrame(0L, 0), FakeVideoCodec)) { d =>
      import s.implicits._
      val frames = (0L until 2L).flatMap(sid => (0 until FlowFrames).map(flowFrame(sid, _)))
      VideoStore.ingest(frames.toDS(), d, "flowvid", gopSize = 16)
    }

  /** shared body of the two flow PROPERTY gates: store → stencil {-1,0}
    * halo pair fetch → per-pair interior mean flow → |mean − truth| < tol
    * booleans. The DuckDB oracle recomputes the expected all-true relation
    * outright: the truth is the fixture's construction, not the
    * estimator.
    */
  private def flowPropertyGate(s: SparkSession,
      estimator: (FrameElem, FrameElem) => FrameElem, tol: Double): DataFrame = {
    val root = ensureFlowIngested(s)
    val frames = VideoStore.frames(s, root, "flowvid").toDF()
      .select(col("streamId"), col("index"),
        struct(col("height"), col("width"), col("channels"), col("dtype"),
          col("data")).as("f"))
    val paired = SequenceOps
      .stencil(frames, Seq(-1, 0), "f", graft.model.Boundary.NullFill,
        bucketWidth = 1024)
      .filter(element_at(col("window"), 1).isNotNull) // drop t=0 (no prev)
    import s.implicits._
    paired.map { r =>
      val sid = r.getAs[Long]("streamId")
      val t   = r.getAs[Long]("index")
      val w   = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("window"))
      def fe(x: org.apache.spark.sql.Row, idx: Long) = FrameElem(sid, idx,
        x.getInt(0), x.getInt(1), x.getInt(2), x.getByte(3), x.getAs[Array[Byte]](4))
      val flow = estimator(fe(w(0), t - 1), fe(w(1), t))
      val bb = java.nio.ByteBuffer.wrap(flow.data)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      // interior only: the clamped border + window radius bias the edge
      var su = 0.0; var sv = 0.0; var n = 0L
      var y = 10
      while (y < FlowH - 10) {
        var x = 10
        while (x < FlowW - 10) {
          val i = (y * FlowW + x) * 2 * 4
          su += bb.getFloat(i); sv += bb.getFloat(i + 4); n += 1
          x += 1
        }
        y += 1
      }
      val (dx, dy) = flowDisp(sid)
      (sid, t, n, math.abs(su / n - dx) < tol, math.abs(sv / n - dy) < tol)
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaBoolean, Encoders.scalaBoolean))
      .toDF("streamId", "index", "n_interior", "u_ok", "v_ok")
      .orderBy("streamId", "index")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ingest → Range(0,30) → Histogram — the reference's canonical pipeline.
    // Emitted as nonzero (channel, bucket, n) rows: the DuckDB oracle
    // REGENERATES the synthetic source pixels ((sid*31+idx*7+p) & 255)
    // with generate_series and recomputes the histogram — so the gate
    // independently verifies the encode→store→decode→histogram chain
    // (the stand-in codec is lossless), not a frozen digest.
    "video_histogram" -> ((s, _) => {
      val root   = ensureIngested(s)
      val frames = VideoStore.frames(s, root, "testvid").toDF()
      val ranged = SequenceOps.range(frames, 0L, 30L)
      val hists  = StdKernels.histogramOp(ranged.as[FrameElem](frameEnc))
      import s.implicits._
      hists.flatMap { e =>
        val bins = StdKernels.histogramBins(e.payload)
        bins.indices.collect { case i if bins(i) != 0 =>
          (e.streamId, e.index, i / 16, i % 16, bins(i))
        }
      }.toDF("streamId", "index", "channel", "bucket", "n")
        .orderBy("streamId", "index", "channel", "bucket")
    }),

    // full container round-trip IN the driver gate: stored segments →
    // save_mp4 export (real ISO-BMFF mux) → ingestMp4 (real demux,
    // index rebuilt from the moov alone) → decode → histogram. The
    // stand-in codec is lossless, so the digests must equal
    // video_histogram's stream-0 rows — any regression in mux, demux,
    // sample-table math, or executor-side positioned reads flips the hash.
    // Every execution exports and re-ingests, so the row times both.
    "video_roundtrip_histogram" -> ((s, _) => {
      val root = ensureIngested(s)
      val mp4 = root + "/testvid_rt.mp4"
      VideoStore.exportMp4(s, root, "testvid", 0L, mp4)
      VideoStore.ingestMp4(s, mp4, root, "testvid_rt", 0L, CacheMode.Overwrite)
      val frames = VideoStore.frames(s, root, "testvid_rt").toDF()
      val ranged = SequenceOps.range(frames, 0L, 30L)
      val hists  = StdKernels.histogramOp(ranged.as[FrameElem](frameEnc))
      import s.implicits._
      hists.flatMap { e =>
        val bins = StdKernels.histogramBins(e.payload)
        bins.indices.collect { case i if bins(i) != 0 =>
          (e.streamId, e.index, i / 16, i % 16, bins(i))
        }
      }.toDF("streamId", "index", "channel", "bucket", "n")
        .orderBy("streamId", "index", "channel", "bucket")
    }),

    // sparse gather through the keyframe index (BASELINE.md bench target 4);
    // emitted per-PIXEL so the DuckDB oracle regenerates the gathered
    // frames' source pixels from the synthetic definition — decode
    // fidelity checked against pre-ingest truth, not a frozen digest
    "video_sparse_gather" -> ((s, _) => {
      val root = ensureIngested(s)
      val rows = Seq(3L, 77L, 150L, 299L)
      import s.implicits._
      VideoStore.gatherFrames(s, root, "testvid", 0L, rows)
        .flatMap { f =>
          f.data.indices.map(p =>
            (f.streamId, f.index, f.height, f.width, p.toLong, f.data(p) & 0xff))
        }
        .toDF("streamId", "index", "height", "width", "pos", "pixel")
        .orderBy("index", "pos")
    }),

    // stream-config args end-to-end (py_test.py:339-348): one graph over
    // both ingested streams, per-stream resize dims bound by streamId.
    // Emitted per-PIXEL: the DuckDB oracle regenerates the synthetic
    // source and replays the bilinear resize (the 2x/4x scales land the
    // blend weights exactly on 0.5 — integer math, see img_histogram)
    "video_resize_perstream" -> ((s, _) => {
      val root   = ensureIngested(s)
      val frames = VideoStore.frames(s, root, "testvid")
      val ranged = SequenceOps.range(frames.toDF(), 0L, 20L).as[FrameElem](frameEnc)
      val resized = StdKernels.resizeOp(ranged, Map(0L -> ((12, 8)), 1L -> ((6, 4))))
      import s.implicits._
      resized.flatMap(f => f.data.indices.map(p =>
          (f.streamId, f.index, f.height, f.width, p.toLong, f.data(p) & 0xff)))
        .toDF("streamId", "index", "height", "width", "pos", "pixel")
        .orderBy("streamId", "index", "pos")
    }),

    // preview contact sheet: sparse gather through the keyframe index →
    // per-stream resize → 2x3 tile, emitted per grid PIXEL. A bounded
    // per-stream op (6 thumbs/stream), so the tiny per-stream group is
    // fine here — the SCALE path is the sparse decode feeding it.
    // Thumbs are 2x box scale (16x24 -> 8x12) so every bilinear weight
    // is exactly 0.5 and the DuckDB oracle replays the gather + resize +
    // tile layout from the closed-form source (the PNG encoder itself is
    // gated by img_decode's real round-trip oracle).
    "video_thumb_grid" -> ((s, _) => {
      val root = ensureIngested(s)
      val want = Seq(0L, 60L, 120L, 180L, 240L, 299L)
      import s.implicits._
      // ONE multi-stream gather plans and decodes both streams' thumbs —
      // no per-stream driver loop (the N-streams plan is one metadata pass)
      val thumbs = VideoStore.gatherFramesMulti(s, root, "testvid",
        Map(0L -> want, 1L -> want))
      val small = StdKernels.resizeOp(thumbs, Map(0L -> ((12, 8)), 1L -> ((12, 8))))
      small.groupByKey(_.streamId)(Encoders.scalaLong)
        .flatMapSortedGroups(col("index")) { (sid: Long, it: Iterator[FrameElem]) =>
          val grid = StdKernels.tileGrid(it.toSeq, cols = 3)
          grid.data.indices.iterator.map(p =>
            (sid, grid.height, grid.width, p.toLong, grid.data(p) & 0xff))
        }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt,
          Encoders.scalaInt, Encoders.scalaLong, Encoders.scalaInt))
        .toDF("streamId", "grid_h", "grid_w", "pos", "pixel")
        .orderBy("streamId", "pos")
    }),

    // stencil {-1,0} optical-flow (real dense Lucas-Kanade estimator) as
    // a PROPERTY gate:
    // the fixture is a closed-form texture translated by a KNOWN per-
    // stream (dx, dy) each frame, so the interior mean of the recovered
    // field must land within tol of the construction's truth — a relation
    // the DuckDB oracle recomputes outright. The frame-pair fetch still
    // goes through the halo-bucketed stencil, so parallelism is #buckets,
    // not #streams — one multi-TB stream never serializes into one task.
    // tol 0.25: measured worst interior-mean error on this fixture is
    // 0.062 (LK r=6) / 0.038 (Farneback) — 4x headroom, and a broken
    // gradient/SAT/solve anywhere shifts the mean far past it.
    "video_flow" -> ((s, _) =>
      flowPropertyGate(s, (p, c) => StdKernels.opticalFlow(p, c, r = 6),
        tol = 0.25)),

    // Shot detection (docs/scannertools.rst:77-89 `detect_shots`): per-
    // frame histograms -> consecutive L1 histogram distance per stream
    // (the SAME stencil {-1,0} halo plan as the flow queries, but the
    // stencil elements are 48-int bins, not frames — tiny halo traffic)
    // -> per-stream adaptive threshold mean + 3*stddev. A deterministic
    // scene change is synthesized by contrast-crushing frames [100, 200)
    // (v >> 1: all mass moves to the lower half-bins — the synthetic
    // ramp's near-uniform histogram makes an INVERSION invisible to
    // histogram distance, a real shot-detection blind spot worth
    // documenting), so the two true cuts at 100 and 200 must surface per
    // stream. The distance is an exact integer (zip_with/aggregate,
    // codegen'd); doubles appear only in the threshold predicate, never
    // in the output.
    "video_shot_cuts" -> ((s, _) =>
      shotCuts(s).orderBy("streamId", "index")),

    // scene → CLIP extraction (the video-training-data staple: cut the
    // stream into per-scene clips for captioning/sampling): the detected
    // cuts become clip boundaries, closed by lead() over the per-stream
    // cut list — the window runs over CUT rows (a handful per stream),
    // never over frames, so the plan scales with scenes, not footage.
    "video_scene_clips" -> ((s, _) => {
      import org.apache.spark.sql.expressions.Window
      val starts = shotCuts(s).select(col("streamId"), col("index"))
        .union(shotCuts(s).select(col("streamId")).distinct()
          .withColumn("index", lit(0L)))
        .distinct()
      val w = Window.partitionBy(col("streamId")).orderBy(col("index"))
      starts
        .withColumn("clip", row_number().over(w).cast("long") - 1)
        .withColumn("end_index",
          coalesce(lead(col("index"), 1).over(w) - 1, lit(299L)))
        .select(col("streamId"), col("clip"), col("index").as("start_index"),
          col("end_index"),
          (col("end_index") - col("index") + 1).as("n_frames"))
        .orderBy("streamId", "clip")
    }),

    // Detection-family op (the reference's scannertools detect ops are
    // model-backed; detectBlobs is the model-free equivalent with the
    // same frame-in/boxes-out shape): bright-region 4-connected
    // components per frame, one row per box — an embarrassingly parallel
    // flatMap over decoded frames, the same distribution story as every
    // 1->N kernel.
    "video_blob_boxes" -> ((s, _) => {
      val root   = ensureIngested(s)
      import s.implicits._
      val ranged = SequenceOps.range(
        VideoStore.frames(s, root, "testvid").toDF(), 0L, 10L)
        .as[FrameElem](frameEnc)
      ranged.flatMap { f =>
        StdKernels.detectBlobs(f, sigma = 1.0, minArea = 4)
          .zipWithIndex.map { case ((x0, y0, x1, y1, area), bi) =>
            (f.streamId, f.index, bi.toLong, x0, y0, x1, y1, area)
          }
      }.toDF("streamId", "index", "blob", "x0", "y0", "x1", "y1", "area")
        .orderBy("streamId", "index", "blob")
    }),

    // same stencil {-1,0} composition + the SAME property oracle with the
    // FARNEBACK estimator — the reference's actual flow family
    // (test_ops.cpp:63-111 wraps cv::calcOpticalFlowFarneback); plan
    // shape identical to video_flow (halo-bucketed pair fetch,
    // parallelism = stream-length/bucket)
    "video_flow_farneback" -> ((s, _) =>
      flowPropertyGate(s, (p, c) => StdKernels.farnebackFlow(p, c),
        tol = 0.25)),

    // near-dup for VIDEO STREAMS, composed from the library's own parts:
    // per-frame aHash (brightness-robust perceptual token) -> per-stream
    // token sequence in index order -> the SAME minhash/LSH + Jaccard
    // pipeline as text dedup (temporal bigram shingles, so frame ORDER
    // matters, not just the frame set). Fixture semantics the pin freezes:
    // the two ingested streams are perceptual twins by construction
    // (the synthetic generator varies levels, not structure; aHash is
    // level-invariant) -> jac 1.0; a brightness-shifted copy of stream 0
    // (stream 2) pairs slightly below 1.0 (clipping damage); a REVERSED
    // copy of stream 0 (stream 3) shares the frame set but not the
    // sequence, so temporal bigrams exclude it from every pair. At fleet
    // scale the per-stream doc would shard by (stream, window) — the
    // per-stream token string is stream-length bounded.
    "video_dup_pairs" -> ((s, _) => {
      val root = ensureIngested(s)
      val f = VideoStore.frames(s, root, "testvid")
      val shifted = f.filter((fr: FrameElem) => fr.streamId == 0L)
        .map(fr => fr.copy(streamId = 2L,
          data = fr.data.map(b => math.min(255, (b & 0xff) + 3).toByte)))(frameEnc)
      val reversed = f.filter((fr: FrameElem) => fr.streamId == 0L)
        .map(fr => fr.copy(streamId = 3L, index = 299L - fr.index))(frameEnc)
      import s.implicits._
      val docs = f.union(shifted).union(reversed)
        .map(fr => (fr.streamId, fr.index, StdKernels.averageHash(fr)))(
          Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
        .toDF("sid", "idx", "h")
        .groupBy(col("sid"))
        .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("idx"), hex(col("h")).as("tok")))),
          p => p.getField("tok"))).as("text"))
      graft.functions.Dedup.ngramJaccardPairs(docs, "sid", "text")
        .select(col("a"), col("b"), round(col("jac"), 6).as("jac"))
        .filter(col("jac") >= 0.5)
        .orderBy("a", "b")
    }),

    // REAL H264 Annex-B ingest: distributed NAL-walk indexing of
    // spec-compliant byte streams (H264Writer-synthesized: exp-Golomb
    // SPS/PPS, IDR + P slice headers, SEI, emulation-prevention
    // escaping). The pin freezes access-unit splitting (incl. a
    // two-slice frame), keyframe detection, SPS/PPS re-insertion at
    // SPS-less IDRs (visible as byte_size deltas), and the cropped
    // width/height parsed from the SPS tail.
    "video_h264_index" -> ((s, _) => {
      val dir = ensureH264Fixture()
      graft.sources.H264Ingest.indexFiles(s, dir)
        .withColumn("stream",
          regexp_extract(col("path"), "stream(\\d+)", 1).cast("long"))
        .select(col("stream"), col("frame"), col("byte_offset"),
          col("byte_size"), col("keyframe"), col("frame_num"),
          col("n_slices"), col("width"), col("height"))
        .orderBy("stream", "frame")
    }),

    // REAL H.264 pixel round trip through the WHOLE storage layer: gray
    // frames -> I_PCM H264 GOP segments (spec-syntax Annex-B via the
    // pure-JVM codec) -> committed store -> decode -> EVERY PIXEL emitted
    // and verified cell-by-cell against the closed-form pre-ingest truth
    // ([[grayPixel]]) regenerated by the DuckDB oracle with
    // generate_series. Monochrome-in-4:2:0 PCM is lossless, so a
    // regression anywhere in slice syntax, PCM alignment, NAL escaping,
    // or the GOP seam flips specific cells of an INDEPENDENTLY
    // recomputed relation.
    "video_h264_pcm_roundtrip" -> ((s, _) => {
      val root = ensureH264Stores(s)
      import s.implicits._
      VideoStore.frames(s, root, "h264pcm", codec = H264GopCodec.Pcm)
        .flatMap(f => f.data.indices.map(p =>
          (f.streamId, f.index, p.toLong, f.data(p) & 0xff)))
        .toDF("streamId", "index", "pos", "pixel")
        .orderBy("streamId", "index", "pos")
    }),

    // the COMPRESSED tier of the same path, High-profile-shaped: IDR + P
    // frames at QP 12 with Intra_8x8 + the 8x8 transform in the per-MB
    // competition (transform_size_8x8_flag), real temporal prediction
    // (motion search, skip runs) and CABAC entropy coding (cat-5
    // residual contexts) — decoded sequentially-from-keyframe through the
    // store via the Range plan. PROPERTY oracle: every decoded pixel must
    // sit within `tol` of the closed-form pre-ingest truth
    // ([[grayPixel]]) — lossy coding cannot
    // be replayed in SQL, but its error is spec-bounded by the QP-12
    // quantizer step, so the oracle recomputes the expected
    // (n_pixels, 0 violations) relation outright; the `compressed` flag
    // asserts the entropy layer actually compresses (stored GOP bytes <
    // half the raw frame bytes). A decode/encode regression either
    // shifts a pixel past tol (n_err flips) or kills compression.
    "video_h264_store_histogram" -> ((s, _) => {
      val root = ensureH264Stores(s)
      val tol = 8 // measured max |dec-src| on the fixture: 3 at QP 12 (both the CAVLC and the High/I8 tier)
      val frames = VideoStore
        .frames(s, root, "h264hi", codec = H264GopCodec.High).toDF()
      import s.implicits._
      val errs = SequenceOps.range(frames, 0L, 20L).as[FrameElem](frameEnc)
        .map { f =>
          var bad = 0; var p = 0
          while (p < f.data.length) {
            if (math.abs((f.data(p) & 0xff) - grayPixel(f.streamId, f.index, p)) > tol)
              bad += 1
            p += 1
          }
          (f.streamId, f.index, f.data.length.toLong, bad.toLong)
        }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong, Encoders.scalaLong))
        .toDF("streamId", "index", "n_pixels", "n_err_gt_tol")
      val rawBytes = 32L * 48L * 60L // per stream: h*w*frames (U8 gray)
      val sizes = VideoStore.segments(s, root, "h264hi").toDF()
        .groupBy(col("streamId"))
        .agg(sum(length(col("payload"))).as("stored_bytes"))
        .select(col("streamId"), (col("stored_bytes") < lit(rawBytes / 2)).as("compressed"))
      errs.join(sizes, Seq("streamId"))
        .orderBy("streamId", "index")
    }),

    // the FULL real-video chain, every layer the library owns: pixels ->
    // H264 encode (I_PCM GOP chunks) -> real avc1 MP4 mux -> DISTRIBUTED
    // MP4 demux + NAL index + GOP segmentation (ingestMp4H264Dir, one
    // task per file) -> DISTRIBUTED pixel decode (one task per GOP
    // segment, parameter sets self-contained) -> every decoded luma
    // sample. PCM is lossless, so the DuckDB oracle regenerates each one
    // from [[grayPixel]] — this one row gates codec, muxer, demuxer,
    // indexer, and segmenter together, cell by cell.
    "video_h264_mp4_pixels" -> ((s, _) => {
      // the ingest overwrites its store, beside the MP4s it reads, so
      // every execution runs it
      val dir = ensureH264Mp4Fixture()
      graft.sources.H264Ingest.ingestMp4H264Dir(s, dir, dir, "h264mp4",
        CacheMode.Overwrite)
      import s.implicits._
      VideoStore.segments(s, dir, "h264mp4")
        .flatMap { seg =>
          graft.sources.H264Codec.decode(seg.payload).zipWithIndex.flatMap {
            case (yuv, i) => yuv.y.indices.map(p =>
              (seg.streamId, seg.startIndex + i, p.toLong, yuv.y(p) & 0xff))
          }
        }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong, Encoders.scalaInt))
        .toDF("streamId", "index", "pos", "pixel")
        .orderBy("streamId", "index", "pos")
    }),

    // CABAC entropy coding end-to-end through the committed store: the
    // same 96 frames ingest twice per tier of [[cabacTiers]] — once
    // CABAC (arithmetic slice data, §9.3), once CAVLC — and every decoded
    // pixel must MATCH across the two stores, because the quantized-
    // coefficient pipeline is entropy-independent. The oracle recomputes
    // the expected (n_pixels, 0) relation outright: a single flipped bin
    // anywhere in the CABAC engine/contexts desynchronizes the decode and
    // floods n_diff. I frames exercise the I16x16 CABAC path, P frames
    // the skip/mvd/cbp path (gopSize 16 -> IDR + 15 P per GOP).
    "video_h264_cabac_roundtrip" -> ((s, _) => {
      val root = ensureCabacStores(s)
      import s.implicits._
      def pixels(name: String, codec: H264GopCodec, v: String): DataFrame =
        VideoStore.frames(s, root, name, codec = codec)
          .flatMap(f => f.data.indices.map(p => (f.streamId, f.index, p, f.data(p))))
          .toDF("streamId", "index", "pos", v)
      cabacTiers.map { case (tier, a, aCodec, b, bCodec) =>
        pixels(a, aCodec, "va").join(pixels(b, bCodec, "vb"), Seq("streamId", "index", "pos"))
          .groupBy(col("streamId"), col("index"))
          .agg(count(lit(1)).as("n_pixels"),
            sum(when(col("va") =!= col("vb"), 1L).otherwise(0L)).as("n_diff"))
          .withColumn("tier", lit(tier))
      }.reduce(_ unionAll _)
        .orderBy("tier", "streamId", "index")
    }),

    // ingest diagnostics: per-stream GOP structure rollup (frame count,
    // keyframe density, bytes) — the first sanity report a video-corpus
    // ingest prints; one map-side-combining agg over the index rows
    "video_h264_gop_stats" -> ((s, _) => {
      val dir = ensureH264Fixture()
      graft.sources.H264Ingest.indexFiles(s, dir)
        .withColumn("stream",
          regexp_extract(col("path"), "stream(\\d+)", 1).cast("long"))
        .groupBy(col("stream"))
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("keyframe"), 1L).otherwise(0L)).as("n_keyframes"),
          sum(col("byte_size")).as("total_bytes"),
          max(col("n_slices")).as("max_slices"),
          round(avg(col("byte_size")), 2).as("mean_au_bytes"))
        .orderBy("stream")
    })
  )

  /** The shared shot-cut detector of video_shot_cuts and
    * video_scene_clips (one definition so the pinned cut set cannot
    * drift between them): per-frame histograms -> stencil {-1,0} L1
    * distance -> per-stream mean + 3σ adaptive threshold, with the
    * deterministic contrast-crush scene change at frames [100, 200).
    */
  private def shotCuts(s: SparkSession): DataFrame = {
    val root = ensureIngested(s)
    import s.implicits._
    val frames = VideoStore.frames(s, root, "testvid")
      .map(f =>
        if (f.index >= 100 && f.index < 200)
          f.copy(data = f.data.map(b => ((b & 0xff) >> 1).toByte))
        else f)(frameEnc)
    val bins = StdKernels.histogramOp(frames)
      .map(e => (e.streamId, e.index, StdKernels.histogramBins(e.payload)))
      .toDF("streamId", "index", "bins")
    val paired = SequenceOps
      .stencil(bins, Seq(-1, 0), "bins", graft.model.Boundary.NullFill,
        bucketWidth = 1024)
      .filter(element_at(col("window"), 1).isNotNull) // t=0 has no prev
    val d = graft.CacheScope.cache(paired.select(col("streamId"), col("index"),
      aggregate(
        zip_with(element_at(col("window"), 1), element_at(col("window"), 2),
          (a, b) => abs(a - b).cast("long")),
        lit(0L), (acc, x) => acc + x).as("dist")))
    val stats = d.groupBy(col("streamId"))
      .agg(avg(col("dist")).as("mu"), stddev_samp(col("dist")).as("sd"))
    d.join(broadcast(stats), Seq("streamId"))
      .filter(col("dist") > col("mu") + lit(3.0) * col("sd"))
      .select(col("streamId"), col("index"), col("dist"))
  }

  /** The cross-entropy tiers of video_h264_cabac_roundtrip: (tier, CABAC
    * store, its codec, CAVLC store, its codec). Both stores of a tier code
    * the same source with the same analysis, so only the entropy layer
    * differs and the decoded pixels must match.
    */
  private val cabacTiers: Seq[(String, String, H264GopCodec, String, H264GopCodec)] = Seq(
    ("default", "cabacvid", H264GopCodec.Cabac, "cavlcvid", H264GopCodec.Default),
    // transform8x8: the ctxBlockCat-5 residual contexts and the
    // CABAC-coded transform_size_8x8_flag
    ("high", "cabachivid", H264GopCodec.High,
      "cavlchivid", new H264GopCodec(qp = 12, transform8x8 = true)),
    // multi-reference P prediction (2-deep DPB, per-MB ref_idx_l0):
    // reference selection is part of the shared analysis, so te(v)-coded
    // CAVLC and ctxIdxOffset-54 unary CABAC must agree
    ("multiref", "cabacmrvid", new H264GopCodec(qp = 12, cabac = true, multiRef = true),
      "cavlcmrvid", H264GopCodec.MultiRef),
    // B pictures in IBPBP coding order with POC output reordering
    ("bslice", "cabacbfvid", new H264GopCodec(qp = 12, cabac = true, bframes = true),
      "cavlcbfvid", H264GopCodec.BFrames),
    // sub-16x16 partitions: the 16x8/8x16/8x8 competition plus
    // partition-granular mvd/ref contexts
    ("parts", "cabacptvid", new H264GopCodec(qp = 12, cabac = true, parts = true),
      "cavlcptvid", H264GopCodec.Parts),
    // explicit weighted prediction: the slice-header pred_weight_table
    // and the §8.4.2.3.2 reconstruction
    ("wp", "cabacwpvid", new H264GopCodec(qp = 12, cabac = true, weightedPred = true),
      "cavlcwpvid", H264GopCodec.Wp),
    // temporal direct: POC-scaled colocated motion in B direct/skip MBs
    ("tdirect", "cabactdvid",
      new H264GopCodec(qp = 12, cabac = true, bframes = true, tdirect = true),
      "cavlctdvid", H264GopCodec.BFramesTd),
    // intra-in-P: the mid-GOP scene cut of [[cabacFrame]] forces intra
    // MBs inside P slices (P mb_type >= 5 / the Table 9-37 prefix bin)
    ("scenecut", "cabacscvid", H264GopCodec.Cabac, "cavlcscvid", H264GopCodec.Default),
    // adaptive QP: per-MB mb_qp_delta from source-luma activity through
    // dequant and deblock; the QP choice is a pure function of the source
    ("aqp", "cabacaqvid", new H264GopCodec(qp = 12, cabac = true, aqp = true),
      "cavlcaqvid", H264GopCodec.Aqp),
    // §8.3.4 chroma intra prediction: the four intra_chroma_pred_mode
    // values compete on joint Cb+Cr SAD; ue(v) and TU bins signal them
    ("chroma", "cabaccmvid", new H264GopCodec(qp = 12, cabac = true, chromaModes = true),
      "cavlccmvid", H264GopCodec.Chroma),
    // implicit B weighting (weighted_bipred_idc 2) on an I B B P ladder,
    // so the POC-derived bi weights are non-trivial (43/21 and 22/42)
    ("wpimplicit", "cabacwivid",
      new H264GopCodec(qp = 12, cabac = true, bframes = true, wpImplicit = true),
      "cavlcwivid", H264GopCodec.WpImplicit),
    // SPS scaling matrices (explicit, use-default and fall-back-A
    // encodings) weighting every dequant per coefficient position
    ("cqm", "cabaccqvid", new H264GopCodec(qp = 12, cabac = true, cqm = true),
      "cavlccqvid", H264GopCodec.Cqm),
    // ref_pic_list_modification: every P slice moves the older multiRef
    // reference to refIdx 0 via a §8.2.4.3 short-term op
    ("reorder", "cabacrovid",
      new H264GopCodec(qp = 12, cabac = true, multiRef = true, reorder = true),
      "cavlcrovid", H264GopCodec.Reorder),
    // two slices per picture: §7.4.4 cross-slice neighbour unavailability
    // and slice-seam deblocking
    ("slices", "cabacslvid", new H264GopCodec(qp = 12, cabac = true, slicesPerFrame = 2),
      "cavlcslvid", H264GopCodec.Slices2),
    // B partitions: 16x8/8x16/B_8x8 with per-partition L0/L1/Bi selection
    // (Table 7-14/7-18); the mb_type/sub_mb_type trees differ per layer
    ("bparts", "cabacbpvid",
      new H264GopCodec(qp = 12, cabac = true, bframes = true, parts = true),
      "cavlcbpvid", new H264GopCodec(qp = 12, bframes = true, parts = true)))

  /** frame i of a cabac-roundtrip stream: the 16x24 RGB ramp; with `cut`,
    * frames from 24 on come from an unrelated generator stream, a hard
    * content cut mid-GOP */
  private def cabacFrame(sid: Long, i: Int, cut: Boolean): FrameElem =
    if (!cut || i < 24) StdKernels.syntheticFrame(sid, i.toLong, 16, 24, 3)
    else StdKernels.syntheticFrame(sid + 9, i * 31L + 5, 16, 24, 3)
      .copy(streamId = sid, index = i.toLong)

  /** every store of [[cabacTiers]]: 2 streams x 48 frames in GOPs of 16 */
  private def ensureCabacStores(s: SparkSession): String = {
    val stores = cabacTiers.flatMap { case (tier, a, aCodec, b, bCodec) =>
      Seq((a, aCodec, tier == "scenecut"), (b, bCodec, tier == "scenecut")) }
    Fixtures.dir("videoq-cabac", Fixtures.storeKey(2, 48, 16,
        cabacFrame(0L, 24, cut = true).data)(
        cabacFrame(0L, 0, cut = false), stores.map(_._2): _*)) { d =>
      import s.implicits._
      stores.foreach { case (name, codec, cut) =>
        val frames = (0L until 2L).flatMap(sid => (0 until 48).map(cabacFrame(sid, _, cut)))
        VideoStore.ingest(frames.toDS(), d, name, gopSize = 16, codec = codec)
      }
    }
  }

  /** closed-form pixel of the gray fixture — the pre-ingest truth the
    * roundtrip gates' DuckDB oracles regenerate independently */
  private[graft] def grayPixel(sid: Long, i: Long, p: Int): Int = {
    val x = p % 48; val y = p / 48
    (((x + y * 3 + i * 5 + sid * 17) % 200) +
      (if ((x / 8 + y / 8) % 2 == 0) 30 else 0)).toInt
  }

  /** frame i of the gray fixture for the real-H264 stores (2 streams x
    * 60 frames of 32x48 U8): gradient + 8x8 checker, so the CAVLC tier
    * has real AC energy to code */
  private def grayFrame(sid: Long, i: Long): FrameElem =
    FrameElem(sid, i, 32, 48, 1, FrameType.U8,
      Array.tabulate(32 * 48)(p => grayPixel(sid, i, p).toByte))

  /** the gray fixture through both real-H264 tiers: stores "h264pcm"
    * (I_PCM) and "h264hi" (the compressed High tier) */
  private def ensureH264Stores(s: SparkSession): String =
    Fixtures.dir("h264-stores", Fixtures.storeKey(2, 60, 15)(
        grayFrame(0L, 0L), H264GopCodec.Pcm, H264GopCodec.High)) { d =>
      import s.implicits._
      val frames = for (sid <- 0L until 2L; i <- 0L until 60L) yield grayFrame(sid, i)
      Seq("h264pcm" -> H264GopCodec.Pcm, "h264hi" -> H264GopCodec.High).foreach {
        case (name, codec) =>
          VideoStore.ingest(frames.toDS(), d, name, gopSize = 15, codec = codec)
      }
    }

  /** stream `sid` of the gray fixture as a real avc1 MP4: four I_PCM GOP
    * chunks (independent SPS/PPS+IDR every 15 frames, so the indexer
    * splits four keyframe-aligned segments), muxed by the library's own
    * ISO-BMFF writer */
  private def grayMp4(sid: Long): Array[Byte] = {
    import graft.sources.{H264, H264Codec, H264Mp4}
    val annexb = new java.io.ByteArrayOutputStream()
    (0L until 60L).grouped(15).foreach { gop =>
      annexb.write(H264Codec.encode(gop.map { i =>
        val f = grayFrame(sid, i)
        val chroma = f.width / 2 * f.height / 2
        H264Codec.Yuv(f.width, f.height, f.data,
          Array.fill(chroma)(128.toByte), Array.fill(chroma)(128.toByte))
      }, pcm = true))
    }
    val out = new java.io.ByteArrayOutputStream()
    H264Mp4.mux(H264.index(annexb.toByteArray), out)
    out.toByteArray
  }

  /** the gray fixture as one MP4 file per stream */
  private def ensureH264Mp4Fixture(): String =
    Fixtures.dir("h264-mp4", Seq(2, grayMp4(0L))) { d =>
      (0L until 2L).foreach(sid =>
        Files.write(Paths.get(d, f"stream$sid%02d.mp4"), grayMp4(sid)))
    }

  /** A FLEET of identical Annex-B streams for the ingest bench: 48 files
    * of 40 GOPs x (IDR + 5 P), each slice carrying 1500 bytes of
    * deterministic payload — sized so the timed cost is the per-byte NAL
    * scan + per-AU header parse, not file handling.
    */
  private[graft] def ensureH264Fleet(): String = {
    import graft.sources.{H264Writer => W}
    def stream: Array[Byte] = {
      val filler = Array.tabulate(1500)(i => (0x21 + (i * 11) % 180).toByte)
      val s = new java.io.ByteArrayOutputStream(40 * 6 * (1500 + 32))
      s.write(W.nal(3, 7, W.sps(0, 640, 480)))
      s.write(W.nal(3, 8, W.pps(0, 0)))
      (0 until 40).foreach { g =>
        s.write(W.nal(3, 5, W.slice(idr = true, 0, 0, 0, idrPicId = g % 2,
          filler = filler)))
        (1 to 5).foreach { k =>
          s.write(W.nal(2, 1, W.slice(idr = false, 0, k, 2 * k, filler = filler)))
        }
      }
      s.toByteArray
    }
    Fixtures.dir("h264-fleet", Seq(48, stream)) { d =>
      val bytes = stream
      (0 until 48).foreach(f => Files.write(Paths.get(d, f"stream$f%04d.h264"), bytes))
    }
  }

  /** Deterministic Annex-B fixture: two real header-level H264 streams.
    * Stream 0 (64x48): 3 GOPs of IDR+4P; SPS/PPS written ONLY before the
    * first IDR (the indexer must re-insert them at GOPs 1-2), SEI before
    * every IDR, and frame 7 split across two slices. Stream 1 (50x30,
    * frame-cropped SPS): 2 GOPs of IDR+2P with 4-byte start codes on the
    * parameter sets.
    */
  private[graft] def ensureH264Fixture(): String =
    Fixtures.dir("h264-annexb", Seq(2, annexBStream(0))) { d =>
      (0 until 2).foreach(i => Files.write(Paths.get(d, s"stream$i.h264"), annexBStream(i)))
    }

  private def annexBStream(stream: Int): Array[Byte] = {
    import graft.sources.{H264Writer => W}
    def filler(n: Int): Array[Byte] =
      Array.tabulate(n)(i => (0x11 + (i * 7) % 200).toByte)
    val s = new java.io.ByteArrayOutputStream()
    if (stream == 0) {
      s.write(W.nal(3, 7, W.sps(0, 64, 48)))
      s.write(W.nal(3, 8, W.pps(0, 0)))
      (0 until 3).foreach { g =>
        s.write(W.nal(0, 6, filler(5))) // SEI opens the meta sequence
        s.write(W.nal(3, 5, W.slice(idr = true, 0, 0, 0, idrPicId = g,
          filler = filler(40 + g))))
        (1 to 4).foreach { k =>
          val fno = 5 * g + k // global frame index for the fixture
          if (fno == 7) { // two slices, one access unit (GOP 1, frame 2)
            s.write(W.nal(2, 1, W.slice(idr = false, 0, k, 2 * k,
              filler = filler(20))))
            s.write(W.nal(2, 1, W.slice(idr = false, 0, k, 2 * k,
              firstMb = 6, filler = filler(21))))
          } else
            s.write(W.nal(2, 1, W.slice(idr = false, 0, k, 2 * k,
              filler = filler(25 + fno))))
        }
      }
    } else {
      s.write(W.nal(3, 7, W.sps(0, 50, 30), fourByte = true))
      s.write(W.nal(3, 8, W.pps(0, 0), fourByte = true))
      (0 until 2).foreach { g =>
        s.write(W.nal(3, 5, W.slice(idr = true, 0, 0, 0, idrPicId = g,
          filler = filler(30 + g))))
        (1 to 2).foreach { k =>
          s.write(W.nal(2, 1, W.slice(idr = false, 0, k, 2 * k,
            filler = filler(18 + k))))
        }
      }
    }
    s.toByteArray
  }

  /** REAL DuckDB recomputation for the queries whose synthetic source is
    * closed-form ([[StdKernels.syntheticFrame]]: pixel = (sid*31+idx*7+p)
    * mod 256, 16x24x3 HWC): the oracle regenerates the pre-ingest pixels
    * with generate_series and replays the kernel — so these gates verify
    * the whole encode→store→decode path against INDEPENDENT truth. */
  /** The Annex-B fixture's per-access-unit byte layout, RE-DERIVED from
    * the construction arithmetic ([[ensureH264Fixture]] + the
    * [[graft.sources.H264Writer]] field widths) rather than frozen from
    * the indexer's output: Exp-Golomb lengths (ue(v) codes 2·⌊log2(v+1)⌋+1
    * bits), fixed header fields, rbsp stop-bit padding, filler lengths,
    * and the indexer's self-contained-GOP normalization (SPS 7 + PPS 3
    * rbsp bytes re-inserted per GOP with 3-byte start codes). No byte of
    * this fixture contains an emulation-prevention sequence (fillers
    * start at 0x11), so escape bytes contribute zero. A change in slice
    * header layout, NAL framing, or the indexer's AU segmentation shifts
    * these sizes and flips the gate.
    */
  private val h264IndexSized: String =
    """aus AS (
      |  SELECT 0 AS stream, g.range AS g, k.range AS k, 5*g.range + k.range AS frame
      |  FROM range(0,3) g, range(0,5) k
      |  UNION ALL
      |  SELECT 1, g.range, k.range, 3*g.range + k.range
      |  FROM range(0,2) g, range(0,3) k),
      |sized AS (
      |  SELECT stream, g, k, frame,
      |    CASE WHEN k = 0 THEN TRUE ELSE FALSE END AS keyframe,
      |    k AS frame_num,
      |    CASE WHEN stream = 0 AND frame = 7 THEN 2 ELSE 1 END AS n_slices,
      |    CASE WHEN stream = 0 THEN 64 ELSE 50 END AS width,
      |    CASE WHEN stream = 0 THEN 48 ELSE 30 END AS height,
      |    CASE
      |      -- stream 0 IDR AU: SPS(11)+PPS(7) (per-GOP normalization) +
      |      -- SEI(3+1+5) + IDR slice (hdr 25+ue(g) bits, filler 40+g)
      |      WHEN stream = 0 AND k = 0 THEN
      |        18 + 9 +
      |        4 + (25 + 2*CAST(floor(log2(g+1)) AS INT)+1 + 8) // 8 + 40 + g
      |      -- stream 0 frame 7: two slices (firstMb 0/6, fillers 20/21)
      |      WHEN stream = 0 AND frame = 7 THEN
      |        (4 + (1+5+1+8+8+2 + 8) // 8 + 20) +
      |        (4 + (5+5+1+8+8+2 + 8) // 8 + 21)
      |      -- stream 0 P AU: hdr 25 bits, filler 25+frame
      |      WHEN stream = 0 THEN 4 + (25 + 8) // 8 + 25 + frame
      |      -- stream 1 IDR AU: cropped SPS (64 rbsp bits) + PPS (16) +
      |      -- IDR slice (filler 30+g); param sets normalized to 3-byte
      |      -- start codes regardless of the file's 4-byte ones
      |      WHEN stream = 1 AND k = 0 THEN
      |        (3 + 1 + (24+1+5+1+5+3+1+5+3+1+1+1+1+7+1+3+1 + 8) // 8) +
      |        (3 + 1 + (16 + 8) // 8) +
      |        4 + (25 + 2*CAST(floor(log2(g+1)) AS INT)+1 + 8) // 8 + 30 + g
      |      -- stream 1 P AU: filler 18+k
      |      ELSE 4 + (25 + 8) // 8 + 18 + k
      |    END AS byte_size
      |  FROM aus)""".stripMargin

  private val recomputed: Map[String, String] = Map(
    "video_h264_index" ->
      s"""WITH $h264IndexSized
         |SELECT CAST(stream AS BIGINT) AS "stream", CAST(frame AS BIGINT) AS "frame",
         |  CAST(COALESCE(SUM(byte_size) OVER (PARTITION BY stream ORDER BY frame
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS byte_offset,
         |  CAST(byte_size AS BIGINT) AS byte_size,
         |  keyframe, CAST(frame_num AS INT) AS frame_num,
         |  CAST(n_slices AS INT) AS n_slices,
         |  CAST(width AS INT) AS width, CAST(height AS INT) AS height
         |FROM sized ORDER BY 1, 2""".stripMargin,
    "video_h264_gop_stats" ->
      s"""WITH $h264IndexSized
         |SELECT CAST(stream AS BIGINT) AS "stream",
         |  CAST(COUNT(*) AS BIGINT) AS n_frames,
         |  CAST(SUM(CASE WHEN keyframe THEN 1 ELSE 0 END) AS BIGINT) AS n_keyframes,
         |  CAST(SUM(byte_size) AS BIGINT) AS total_bytes,
         |  CAST(MAX(n_slices) AS INT) AS max_slices,
         |  ROUND(AVG(byte_size), 2) AS mean_au_bytes
         |FROM sized GROUP BY 1 ORDER BY 1""".stripMargin,
    // bright-blob boxes replayed end-to-end: grayscale = channel mean of
    // the closed-form ramp, threshold = mean + 1·std (both engines
    // compute the identical IEEE expression on exact integer sums, so
    // the comparison is bit-deterministic), 4-connected components via
    // the recursive min-propagation CTE (the dedup_clusters pattern),
    // boxes filtered at minArea 4, blob rank = (-area, y0, x0, y1, x1)
    "video_blob_boxes" ->
      """WITH RECURSIVE g AS (
        |  SELECT a.range AS sid, b.range AS idx, c.range AS cid,
        |    c.range // 24 AS y, c.range % 24 AS x,
        |    ( (a.range*31 + b.range*7 + c.range*3    ) % 256
        |    + (a.range*31 + b.range*7 + c.range*3 + 1) % 256
        |    + (a.range*31 + b.range*7 + c.range*3 + 2) % 256) // 3 AS v
        |  FROM range(0,2) a, range(0,10) b, range(0,384) c),
        |thr AS (
        |  SELECT sid, idx,
        |    CAST(SUM(v) AS DOUBLE)/384 +
        |    sqrt(greatest(0.0, CAST(SUM(v*v) AS DOUBLE)/384
        |        - (CAST(SUM(v) AS DOUBLE)/384)*(CAST(SUM(v) AS DOUBLE)/384))) AS t
        |  FROM g GROUP BY sid, idx),
        |act AS (
        |  SELECT g.sid, g.idx, g.cid, g.y, g.x,
        |    (g.sid*10 + g.idx)*384 + g.cid AS nid
        |  FROM g JOIN thr ON thr.sid = g.sid AND thr.idx = g.idx
        |  WHERE g.v > thr.t),
        |edges AS (
        |  SELECT p.nid AS a, q.nid AS b FROM act p JOIN act q
        |    ON p.sid = q.sid AND p.idx = q.idx
        |   AND ((abs(p.x - q.x) = 1 AND p.y = q.y) OR (abs(p.y - q.y) = 1 AND p.x = q.x))),
        |reach(id, r) AS (
        |  SELECT nid, nid FROM act
        |  UNION
        |  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id),
        |lab AS (SELECT id, MIN(r) AS root FROM reach GROUP BY id),
        |bx AS (
        |  SELECT act.sid, act.idx, lab.root,
        |    MIN(act.x) AS x0, MIN(act.y) AS y0, MAX(act.x) AS x1, MAX(act.y) AS y1,
        |    COUNT(*) AS area
        |  FROM act JOIN lab ON lab.id = act.nid
        |  GROUP BY 1, 2, 3)
        |SELECT CAST(sid AS BIGINT) AS "streamId", CAST(idx AS BIGINT) AS "index",
        |  CAST(row_number() OVER (PARTITION BY sid, idx
        |    ORDER BY area DESC, y0, x0, y1, x1) - 1 AS BIGINT) AS blob,
        |  CAST(x0 AS INT) AS x0, CAST(y0 AS INT) AS y0,
        |  CAST(x1 AS INT) AS x1, CAST(y1 AS INT) AS y1, CAST(area AS INT) AS area
        |FROM bx WHERE area >= 4
        |ORDER BY 1, 2, 3""".stripMargin,
    "video_histogram" ->
      """WITH px AS (
        |  SELECT a.range AS sid, b.range AS idx, c.range AS p,
        |    (a.range*31 + b.range*7 + c.range) % 256 AS v
        |  FROM range(0,2) a, range(0,30) b, range(0,1152) c)
        |SELECT sid AS "streamId", idx AS "index", CAST(p % 3 AS INT) AS channel,
        |  CAST(v // 16 AS INT) AS bucket, CAST(COUNT(*) AS INT) AS n
        |FROM px GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin,
    // the roundtrip re-ingests STREAM 0 only (export → mp4 → demux)
    "video_roundtrip_histogram" ->
      """WITH px AS (
        |  SELECT 0::BIGINT AS sid, b.range AS idx, c.range AS p,
        |    (b.range*7 + c.range) % 256 AS v
        |  FROM range(0,30) b, range(0,1152) c)
        |SELECT sid AS "streamId", idx AS "index", CAST(p % 3 AS INT) AS channel,
        |  CAST(v // 16 AS INT) AS bucket, CAST(COUNT(*) AS INT) AS n
        |FROM px GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin,
    // per-stream bilinear resize replay (see ImageQueries.oracles for
    // the exact-0.5-weight derivation; stream 0: 16x24 -> 8x12 with
    // src y0 = 2y, stream 1: -> 4x6 with y0 = 4y + 1)
    "video_resize_perstream" ->
      """WITH tgt AS (
        |  SELECT a.range AS sid, b.range AS idx, y.range AS y, x.range AS x, k.range AS k,
        |    CASE WHEN a.range = 0 THEN 2*y.range ELSE 4*y.range + 1 END AS y0,
        |    CASE WHEN a.range = 0 THEN 2*x.range ELSE 4*x.range + 1 END AS x0
        |  FROM range(0,2) a, range(0,20) b, range(0,8) y, range(0,12) x, range(0,3) k
        |  WHERE (a.range = 0) OR (y.range < 4 AND x.range < 6)),
        |v AS (
        |  SELECT sid, idx, y, x, k,
        |    (( (sid*31 + idx*7 + (y0*24 + x0)*3 + k) % 256
        |     + (sid*31 + idx*7 + (y0*24 + x0 + 1)*3 + k) % 256
        |     + (sid*31 + idx*7 + ((y0 + 1)*24 + x0)*3 + k) % 256
        |     + (sid*31 + idx*7 + ((y0 + 1)*24 + x0 + 1)*3 + k) % 256) + 2) // 4 AS px
        |  FROM tgt)
        |SELECT sid AS "streamId", idx AS "index",
        |  CAST(CASE WHEN sid = 0 THEN 8 ELSE 4 END AS INT) AS height,
        |  CAST(CASE WHEN sid = 0 THEN 12 ELSE 6 END AS INT) AS width,
        |  CAST((y * (CASE WHEN sid = 0 THEN 12 ELSE 6 END) + x) * 3 + k AS BIGINT) AS pos,
        |  CAST(px AS INT) AS pixel
        |FROM v ORDER BY 1, 2, 5""".stripMargin,
    // the cross-entropy invariant at ALL FIFTEEN tiers: every frame fully
    // decoded, zero pixel diffs between the CABAC and CAVLC stores
    // ('default' = 4x4-only, 'high' = transform8x8 + cat-5 contexts,
    // 'multiref' = 2-deep DPB + per-MB ref_idx_l0, 'bslice' = IBPBP
    // coding order + POC output reordering — a reorder bug would shear
    // the two stores' frame indexing apart, not just their pixels —
    // 'parts' = sub-16x16 partitions + partition-granular contexts,
    // 'wp' = explicit weighted prediction, 'tdirect' = POC-scaled
    // temporal direct B motion, 'scenecut' = intra-in-P on a mid-GOP
    // content cut, 'aqp' = per-MB mb_qp_delta through dequant+deblock,
    // 'chroma' = §8.3.4 H/V/plane chroma intra modes, 'wpimplicit' =
    // §8.4.2.3.1 POC-derived bi weights on an I B B P ladder,
    // 'cqm' = §8.5.9 scaling matrices weighting every dequant,
    // 'reorder' = §8.2.4.3 ref_pic_list_modification on every P slice,
    // 'slices' = two slices per picture with §7.4.4 seam availability,
    // 'bparts' = Table 7-14/7-18 B partitions with per-part L0/L1/Bi)
    "video_h264_cabac_roundtrip" ->
      """SELECT t.tier, a.range AS "streamId", b.range AS "index",
        |  1152::BIGINT AS n_pixels, 0::BIGINT AS n_diff
        |FROM (SELECT UNNEST(['aqp', 'bparts', 'bslice', 'chroma', 'cqm', 'default', 'high', 'multiref', 'parts', 'reorder', 'scenecut', 'slices', 'tdirect', 'wp', 'wpimplicit']) AS tier) t,
        |  range(0,2) a, range(0,48) b ORDER BY 1, 2, 3""".stripMargin,
    "video_sparse_gather" ->
      """WITH px AS (
        |  SELECT 0::BIGINT AS sid, b.idx, c.range AS p,
        |    (b.idx*7 + c.range) % 256 AS v
        |  FROM (SELECT UNNEST([3, 77, 150, 299]) AS idx) b, range(0,1152) c)
        |SELECT sid AS "streamId", idx AS "index", 16 AS height, 24 AS width,
        |  CAST(p AS BIGINT) AS pos, CAST(v AS INT) AS pixel
        |FROM px ORDER BY 2, 5""".stripMargin,
    // video near-dup replayed END-TO-END: regenerate all four streams'
    // frames (ramp, brightness
    // variant, reversed copy), replay the aHash chain per frame
    // (the img_ahash_pairs derivation), rebuild Spark's hex tokens
    // exactly (to_hex on the two's-complement BIGINT matches Spark's
    // hex: uppercase, no leading zeros), then the SAME minhash-LSH
    // band candidates (Dedup's slot constants, chosen overflow-safe:
    // max a * max xm < 2^63 on both engines) and bigram Jaccard.
    // Exact token strings matter: band keys hash md5(shingle), so any
    // other token representation would re-roll the band collisions.
    "video_dup_pairs" -> videoDupPairsOracle,
    // shot cuts replayed end-to-end:
    // regenerate the crushed ramp, rebuild per-frame histograms, L1
    // consecutive distance, per-stream mean + 3*stddev_samp threshold.
    // The threshold comparison is FP-robust: the nearest distance sits
    // 281 counts from the threshold (measured), vs ~1e-10 cross-engine
    // aggregation-order noise on mu + 3*sd.
    "video_shot_cuts" ->
      s"""WITH $shotCutDistCte
         |SELECT d.sid AS "streamId", d.idx AS "index",
         |  CAST(d.dist AS BIGINT) AS dist
         |FROM d JOIN stats ON stats.sid = d.sid
         |WHERE d.dist > stats.mu + 3.0 * stats.sd
         |ORDER BY 1, 2""".stripMargin,
    // ...and the clip extraction derived from the same recomputed cut
    // set: clip boundaries close by lead() exactly like the query
    "video_scene_clips" ->
      s"""WITH $shotCutDistCte,
         |cuts AS (
         |  SELECT d.sid, d.idx FROM d JOIN stats ON stats.sid = d.sid
         |  WHERE d.dist > stats.mu + 3.0 * stats.sd),
         |starts AS (
         |  SELECT DISTINCT sid, idx FROM (
         |    SELECT sid, idx FROM cuts
         |    UNION ALL SELECT a.range AS sid, 0 AS idx FROM range(0,2) a))
         |SELECT sid AS "streamId",
         |  CAST(ROW_NUMBER() OVER (PARTITION BY sid ORDER BY idx) - 1 AS BIGINT) AS clip,
         |  idx AS start_index,
         |  COALESCE(LEAD(idx) OVER (PARTITION BY sid ORDER BY idx) - 1, 299) AS end_index,
         |  COALESCE(LEAD(idx) OVER (PARTITION BY sid ORDER BY idx) - 1, 299) - idx + 1 AS n_frames
         |FROM starts ORDER BY 1, 2""".stripMargin,
    // flow PROPERTY gates:
    // the fixture is an EXACT translate per frame ([[flowTex]] shifted by
    // i*(dx,dy)), so the expected relation — every interior mean within
    // tol of the construction's displacement — is recomputed outright;
    // 1232 = (48-2*10)*(64-2*10) interior cells, indices 1..47 (t=0 has
    // no predecessor under the {-1,0} stencil)
    "video_flow" -> flowPropertyOracle,
    "video_flow_farneback" -> flowPropertyOracle,
    // the gray fixture is closed-form ([[grayPixel]]: 32x48 U8, gradient
    // + 8x8 checker) and I_PCM is lossless — regenerate every decoded
    // sample; one SQL serves both the store path (pcm_roundtrip) and the
    // mp4 mux→demux path (mp4_pixels), which must agree byte-for-byte
    "video_h264_pcm_roundtrip" -> grayPixelOracle,
    "video_h264_mp4_pixels" -> grayPixelOracle,
    // lossy tier: the property relation (all pixels within tol, streams
    // compressed) is recomputed outright — see the query comment
    "video_h264_store_histogram" ->
      """SELECT a.range AS "streamId", b.range AS "index",
        |  1536::BIGINT AS n_pixels, 0::BIGINT AS n_err_gt_tol,
        |  TRUE AS compressed
        |FROM range(0,2) a, range(0,20) b ORDER BY 1, 2""".stripMargin,
    // gather [0,60,120,180,240,299] -> 2x box resize (exact-0.5 weights,
    // round-half-up == (sum+2)//4) -> 2x3 tile; source pixel =
    // (sid*31 + idx*7 + (y*24+x)*3 + k) % 256 (StdKernels.syntheticFrame)
    "video_thumb_grid" ->
      """WITH cell AS (
        |  SELECT a.range AS sid, t.range AS tn, y.range AS y, x.range AS x, k.range AS k,
        |    CASE t.range WHEN 0 THEN 0 WHEN 1 THEN 60 WHEN 2 THEN 120
        |      WHEN 3 THEN 180 WHEN 4 THEN 240 ELSE 299 END AS idx
        |  FROM range(0,2) a, range(0,6) t, range(0,8) y, range(0,12) x, range(0,3) k),
        |v AS (
        |  SELECT sid, tn, y, x, k,
        |    (( (sid*31 + idx*7 + ((2*y)*24 + 2*x)*3 + k) % 256
        |     + (sid*31 + idx*7 + ((2*y)*24 + 2*x + 1)*3 + k) % 256
        |     + (sid*31 + idx*7 + ((2*y + 1)*24 + 2*x)*3 + k) % 256
        |     + (sid*31 + idx*7 + ((2*y + 1)*24 + 2*x + 1)*3 + k) % 256) + 2) // 4 AS px
        |  FROM cell)
        |SELECT sid AS "streamId", 16 AS grid_h, 36 AS grid_w,
        |  CAST((((tn // 3)*8 + y)*36 + ((tn % 3)*12 + x))*3 + k AS BIGINT) AS pos,
        |  CAST(px AS INT) AS pixel
        |FROM v ORDER BY 1, 4""".stripMargin)

  /** shared oracle of the two lossless H264 roundtrip gates: regenerate
    * all 2 x 60 x 1536 luma samples from the [[grayPixel]] closed form */
  private lazy val grayPixelOracle: String =
    """WITH px AS (
      |  SELECT a.range AS sid, b.range AS idx, c.range AS p,
      |    ((c.range % 48) + (c.range // 48)*3 + b.range*5 + a.range*17) % 200
      |      + CASE WHEN ((c.range % 48) // 8 + (c.range // 48) // 8) % 2 = 0
      |        THEN 30 ELSE 0 END AS v
      |  FROM range(0,2) a, range(0,60) b, range(0,1536) c)
      |SELECT sid AS "streamId", idx AS "index", CAST(p AS BIGINT) AS pos,
      |  CAST(v AS INT) AS pixel
      |FROM px ORDER BY 1, 2, 3""".stripMargin

  /** Full SQL replay of the video near-dup chain (see the
    * video_dup_pairs query comment). The aHash stage mirrors
    * ImageQueries' derivation (grayscale at the 8x8 sample sites,
    * exact-weight bilinear, integer mean threshold); the hash value is
    * assembled from 32-bit halves (DuckDB's `**` is DOUBLE — exact
    * shifts only); minhash/banding reuses Dedup's slot constants
    * verbatim so the md5-driven band collisions match Spark's.
    */
  private lazy val videoDupPairsOracle: String = {
    import graft.functions.Dedup
    val p = Dedup.minhashP
    val consts = (0 until 8).map(i =>
      s"($i, ${Dedup.slotA(i)}, ${Dedup.slotB(i)})").mkString(", ")
    s"""WITH px AS MATERIALIZED (
       |  SELECT s.range AS sid, b.range AS idx, g.range AS sy, x.range AS sx, r.range AS dy,
       |    CASE WHEN s.range = 2
       |      THEN LEAST(255, ((CASE WHEN s.range = 3 THEN 299 - b.range ELSE b.range END)*7
       |        + (((2*g.range + r.range)*24 + 3*x.range + 1)*3 + k.range)) % 256 + 3)
       |      ELSE ((CASE WHEN s.range IN (2,3) THEN 0 ELSE s.range END)*31
       |        + (CASE WHEN s.range = 3 THEN 299 - b.range ELSE b.range END)*7
       |        + (((2*g.range + r.range)*24 + 3*x.range + 1)*3 + k.range)) % 256
       |    END AS v
       |  FROM range(0,4) s, range(0,300) b, range(0,8) g, range(0,8) x, range(0,2) r, range(0,3) k),
       |g1 AS (SELECT sid, idx, sy, sx, dy, SUM(v) // 3 AS gr FROM px GROUP BY 1,2,3,4,5),
       |sm AS (
       |  SELECT sid, idx, sy, sx,
       |    (MAX(CASE WHEN dy = 0 THEN gr END) + MAX(CASE WHEN dy = 1 THEN gr END) + 1) // 2 AS v
       |  FROM g1 GROUP BY 1,2,3,4),
       |tot AS (SELECT sid, idx, SUM(v) AS s FROM sm GROUP BY 1,2),
       |bit AS (
       |  SELECT sm.sid, sm.idx, sy*8 + sx AS cell,
       |    CASE WHEN 64*v >= s THEN 1 ELSE 0 END AS bit
       |  FROM sm JOIN tot USING (sid, idx)),
       |hv AS (
       |  SELECT sid, idx,
       |    to_hex(CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
       |      THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT)) AS tok
       |  FROM (SELECT sid, idx,
       |      CAST(SUM(CASE WHEN cell < 32 THEN bit << (31 - cell) ELSE 0 END) AS HUGEINT)
       |        * 4294967296::HUGEINT
       |      + CAST(SUM(CASE WHEN cell >= 32 THEN bit << (63 - cell) ELSE 0 END) AS HUGEINT) AS u
       |    FROM bit GROUP BY sid, idx)),
       |shg AS (
       |  SELECT DISTINCT a.sid, a.tok || ' ' || b.tok AS s
       |  FROM hv a JOIN hv b ON b.sid = a.sid AND b.idx = a.idx + 1),
       |hx AS (
       |  SELECT sid, s, ('0x' || substr(md5(s), 1, 15))::BIGINT % $p AS xm FROM shg),
       |sig AS (
       |  SELECT sid, k, MIN((a * xm + b) % $p) AS mh
       |  FROM hx CROSS JOIN (VALUES $consts) AS c(k, a, b)
       |  GROUP BY sid, k),
       |bands AS (
       |  SELECT sid, k // 4 AS band,
       |    string_agg(CAST(mh AS VARCHAR), '|' ORDER BY k) AS bk
       |  FROM sig GROUP BY sid, k // 4),
       |cand AS (
       |  SELECT DISTINCT x.sid AS a, y.sid AS b
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.bk = y.bk AND x.sid < y.sid),
       |sizes AS (SELECT sid, COUNT(*) AS n FROM shg GROUP BY sid),
       |inter AS (
       |  SELECT c.a, c.b, COUNT(*) AS i
       |  FROM cand c JOIN shg sa ON sa.sid = c.a JOIN shg sb ON sb.sid = c.b AND sb.s = sa.s
       |  GROUP BY 1, 2)
       |SELECT c.a, c.b,
       |  ROUND(CAST(COALESCE(i.i,0) AS DOUBLE) / (na.n + nb.n - COALESCE(i.i,0)), 6) AS jac
       |FROM cand c LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
       |JOIN sizes na ON na.sid = c.a JOIN sizes nb ON nb.sid = c.b
       |WHERE CAST(COALESCE(i.i,0) AS DOUBLE) / (na.n + nb.n - COALESCE(i.i,0)) >= 0.5
       |ORDER BY 1, 2""".stripMargin
  }

  /** Shared replay of the shot-cut detector's distance relation: the
    * testvid ramp (with the [100,200) contrast crush the QUERY also
    * applies) -> dense 48-bin histograms (LEFT JOIN against a full bin
    * grid so absent buckets count 0 in the L1) -> consecutive L1
    * distance -> per-stream mean/stddev. Ends at `d` (sid, idx, dist)
    * and `stats` (sid, mu, sd).
    */
  private lazy val shotCutDistCte: String =
    """px AS MATERIALIZED (
      |  SELECT a.range AS sid, b.range AS idx,
      |    CAST(c.range % 3 AS INT) AS ch,
      |    CAST(CASE WHEN b.range >= 100 AND b.range < 200
      |      THEN ((a.range*31 + b.range*7 + c.range) % 256) // 2
      |      ELSE (a.range*31 + b.range*7 + c.range) % 256 END // 16 AS INT) AS bucket
      |  FROM range(0,2) a, range(0,300) b, range(0,1152) c),
      |grid AS (
      |  SELECT a.range AS sid, b.range AS idx, ch.range AS ch, bk.range AS bucket
      |  FROM range(0,2) a, range(0,300) b, range(0,3) ch, range(0,16) bk),
      |hist AS MATERIALIZED (
      |  SELECT g.sid, g.idx, g.ch, g.bucket, COUNT(px.sid) AS n
      |  FROM grid g LEFT JOIN px
      |    ON px.sid = g.sid AND px.idx = g.idx AND px.ch = g.ch AND px.bucket = g.bucket
      |  GROUP BY 1, 2, 3, 4),
      |d AS MATERIALIZED (
      |  SELECT cur.sid, cur.idx, SUM(ABS(cur.n - prv.n)) AS dist
      |  FROM hist cur JOIN hist prv
      |    ON prv.sid = cur.sid AND prv.idx = cur.idx - 1
      |    AND prv.ch = cur.ch AND prv.bucket = cur.bucket
      |  WHERE cur.idx >= 1
      |  GROUP BY 1, 2),
      |stats AS (
      |  SELECT sid, AVG(dist) AS mu, STDDEV_SAMP(dist) AS sd FROM d GROUP BY sid)""".stripMargin

  /** shared oracle of the two flow property gates: both estimators must
    * recover the construction's per-stream displacement on the interior */
  private lazy val flowPropertyOracle: String =
    """SELECT a.range AS "streamId", b.range AS "index",
      |  1232::BIGINT AS n_interior, TRUE AS u_ok, TRUE AS v_ok
      |FROM range(0,2) a, range(1,48) b ORDER BY 1, 2""".stripMargin

  /** every video gate's DuckDB oracle, recomputed from the closed-form
    * sources (see [[recomputed]]) */
  val oracles: Map[String, String] = recomputed
}
