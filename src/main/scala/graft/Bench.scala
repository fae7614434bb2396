package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every SparkEntry query and bt_* row on
  * SPARK_GRAFT_SF_DIR, writes the per-row board to SPARK_GRAFT_BENCH_OUT
  * (default target/bench-results.json) and prints one summary JSON line
  * (at most 1 KB) to stdout.
  *
  * - Results are fully materialized through the noop sink: `count()` would
  *   let Catalyst prune the projection, timing the scan instead of the
  *   operator under test.
  * - Every fixture (input tables, video stores, the 10x tier) is built in
  *   an untimed step before the board.
  * - Each row, in name order with the bt_* rows first, runs one untimed
  *   warmup and then SPARK_GRAFT_BENCH_REPS (default 2) timed reps; the
  *   published value is the min of the completed reps.
  * - Every execution runs under a watchdog with one fixed cap. A query
  *   that throws is reported with time -1 and counted as "failed"; one the
  *   watchdog cancels is counted as "aborted" — never as a fast success.
  *
  * Environment: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_SF1_DIR, SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_BENCH_REPS, SPARK_GRAFT_BENCH_OUT. Query names given as
  * arguments select a targeted subset.
  */
object Bench {
  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Session-cumulative task-metric tally: one listener for the whole
    * bench run; each rep reads before/after deltas. Cumulative counters
    * (not per-block scoping) keep the rep loop free of listener
    * add/remove churn; `lastEventAt` supports a quiet-wait drain because
    * the bus is async (same pattern as [[Profiler.profile]]).
    */
  private final class MetricsTally extends SparkListener {
    @volatile var lastEventAt  = System.nanoTime()
    val shuffleRead  = new java.util.concurrent.atomic.AtomicLong
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
    val spill        = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      }
      lastEventAt = System.nanoTime()
    }
    /** wait until the bus has been quiet for 120 ms (capped at 5 s) so
      * the counters include every task of the just-finished action;
      * called OUTSIDE the timed window — drain latency is not engine cost */
    def drain(): Unit = {
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while (System.nanoTime() - lastEventAt < 120L * 1000 * 1000 &&
             System.nanoTime() < deadline) Thread.sleep(20)
    }
  }

  /** Per-rep resource snapshot: deltas between two of these attribute a
    * slow rep to GC, host CPU steal, run-queue depth, CFS throttling,
    * codegen compiles (classes the codegen cache no longer held) or
    * genuine work. */
  private[graft] final case class ResSnap(gcMs: Long, cpuNs: Long, stealTicks: Long,
      shR: Long, shW: Long, spill: Long, load1: Double, throttledNs: Long,
      cgCompiles: Long)
  private def readFirstLine(p: String): Option[String] =
    try Some(java.nio.file.Files.readAllLines(java.nio.file.Paths.get(p)).get(0))
    catch { case _: Throwable => None }
  private def snap(t: MetricsTally): ResSnap = {
    import scala.jdk.CollectionConverters._
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
    val cpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }
    // host-wide steal ticks (USER_HZ=100), field 8 of /proc/stat's cpu line
    val steal = try {
      val f = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (f.length > 8) f(8).toLong else -1L
    } catch { case _: Throwable => -1L }
    // 1-minute host load average: run-queue pressure from other tenants
    val load1 = readFirstLine("/proc/loadavg")
      .flatMap(_.split("\\s+").headOption).flatMap(_.toDoubleOption).getOrElse(-1.0)
    // CFS throttle time (cgroup v1 throttled_time is ns; v2 throttled_usec)
    val throttled = {
      def parse(p: String, key: String, mult: Long): Option[Long] =
        try java.nio.file.Files.readAllLines(java.nio.file.Paths.get(p)).asScala
          .find(_.startsWith(key)).map(_.split("\\s+")(1).toLong * mult)
        catch { case _: Throwable => None }
      parse("/sys/fs/cgroup/cpu/cpu.stat", "throttled_time", 1L)
        .orElse(parse("/sys/fs/cgroup/cpu.stat", "throttled_usec", 1000L))
        .getOrElse(-1L)
    }
    ResSnap(gc, cpu, steal, t.shuffleRead.get, t.shuffleWrite.get, t.spill.get,
      load1, throttled, Profiler.compileCount)
  }

  /** one rep's telemetry as a JSON object string */
  private[graft] def telemetryJson(a: ResSnap, b: ResSnap): String = {
    def mb(x: Long) = f"${x / 1048576.0}%.1f"
    val cpuS   = if (a.cpuNs < 0 || b.cpuNs < 0) "-1" else f"${(b.cpuNs - a.cpuNs) / 1e9}%.2f"
    val stealS = if (a.stealTicks < 0 || b.stealTicks < 0) "-1"
                 else f"${(b.stealTicks - a.stealTicks) / 100.0}%.2f"
    val thrS   = if (a.throttledNs < 0 || b.throttledNs < 0) "-1"
                 else f"${(b.throttledNs - a.throttledNs) / 1e9}%.2f"
    s"""{"gc_ms":${b.gcMs - a.gcMs},"cpu_s":$cpuS,"steal_s":$stealS,""" +
      s""""sh_r_mb":${mb(b.shR - a.shR)},"sh_w_mb":${mb(b.shW - a.shW)},""" +
      s""""spill_mb":${mb(b.spill - a.spill)},"load1":${f"${b.load1}%.2f"},""" +
      s""""cfs_thr_s":$thrS,"cg_compiles":${b.cgCompiles - a.cgCompiles}}"""
  }

  /** BASELINE.md "BENCH targets for the rebuild" as first-class timed
    * entries (prefix bt_), independent of SF dir:
    *  - target 2: Stride/Range/Gather on a 1M-row synthetic Elem table
    *    must be scan-dominated — compare bt_1m_* against bt_1m_scan.
    *  - target 3: stateful kernel over 1M rows / 100 slice groups in the
    *    single-shuffle plan.
    *  - target 4: sparse gather of 100 frames from a 10k-frame stream
    *    through the keyframe index (decode counts pinned by spec; this
    *    times it).
    */
  /** fleet-scale WARC fixture for bt_warc_wet: 48 member-gzip files x
    * 400 deterministic HTML response records (~15 MB of markup), so timed
    * reps pay only the parse + extract
    */
  private def ensureWarcFleet(): String = {
    import java.nio.charset.StandardCharsets.UTF_8
    def file(f: Int): Array[Byte] = {
      val recs = (0 until 400).map { i =>
        val words = (0 until 40)
          .map(w => s"w${(f * 7919 + i * 131 + w * 17) % 9973}").mkString(" ")
        val body = s"<html><head><title>P $f-$i</title><style>a{x:y}</style>" +
          s"</head><body><script>var x=$i;</script><h1>H$i</h1>" +
          s"<p>$words &amp; tail</p><p>$words</p></body></html>"
        sources.Warc.WriteRecord("response", f"urn:uuid:$f%04d-$i%08d",
          Some(s"https://example.org/$f/$i"), "2024-03-01T00:00:00Z",
          body.getBytes(UTF_8), httpResponse = true)
      }
      val out = new java.io.ByteArrayOutputStream()
      sources.Warc.writeGz(out, recs)
      out.toByteArray
    }
    queries.Fixtures.dir("warc-fleet", Seq(48, file(0))) { d =>
      for (f <- 0 until 48)
        java.nio.file.Files.write(java.nio.file.Paths.get(d, f"crawl-$f%03d.warc.gz"), file(f))
    }
  }

  /** pipe-bridge element count (keeps the historical 100k row comparable
    * across rounds) */
  private val PkElems = 100000L

  /** the bt_* decode rows' video stores, one stream of synthetic frames
    * each: store -> (frames, height, width, channels, GOP size, codec) */
  private val BtStores: Map[String, (Int, Int, Int, Int, Int, sources.GopCodec)] = Map(
    "bt10k" -> ((10000, 16, 24, 3, 100, sources.FakeVideoCodec)),
    "btdz10k" -> ((10000, 16, 24, 3, 100, sources.DeflateVideoCodec)),
    "btvga" -> ((512, 480, 640, 1, 16, sources.H264GopCodec.Default)),
    "bthd" -> ((2048, 720, 1280, 1, 16, sources.H264GopCodec.Default)))

  /** the fixture dir holding bt_* store `name`; the encode is distributed,
    * so the HD store's 1.9 GB of raw frames never sit on the driver */
  private def btStore(s: SparkSession, name: String): String = {
    val (n, h, w, c, gop, codec) = BtStores(name)
    queries.Fixtures.dir(s"bench-$name", queries.Fixtures.storeKey(n, gop)(
        operators.StdKernels.syntheticFrame(0L, 0L, h, w, c), codec)) { d =>
      import s.implicits._
      sources.VideoStore.ingest(s.range(0, n, 1, 32)
        .map(i => operators.StdKernels.syntheticFrame(0L, i, h, w, c)), d, name,
        gopSize = gop, codec = codec)
    }
  }

  /** The untimed fixture step, run once before the board: every fixture
    * a selected bt_* row reads is resolved here, outside the watchdog,
    * so no warmup or timed execution encodes anything.
    */
  private def ensureFixtures(s: SparkSession, rows: Set[String]): Unit = {
    if (rows("bt_warc_wet")) ensureWarcFleet()
    if (rows("bt_h264_index")) queries.VideoQueries.ensureH264Fleet()
    Seq("bt_sparse_decode" -> "bt10k", "bt_deflate_decode" -> "btdz10k",
        "bt_h264_decode_vga" -> "btvga", "bt_h264_decode_hd" -> "bthd")
      .foreach { case (row, store) => if (rows(row)) btStore(s, store) }
  }

  private[graft] def benchTargets: Map[String, (SparkSession, String) => DataFrame] = {
    def elemsN(s: SparkSession, n: Long): DataFrame = {
      import org.apache.spark.sql.functions._
      s.range(0, n, 1, 32).select(
        (org.apache.spark.sql.functions.col("id") % 8).as("streamId"),
        (org.apache.spark.sql.functions.col("id") / 8).cast("long").as("index"),
        encode(conv(org.apache.spark.sql.functions.col("id").cast("string"), 10, 16), "UTF-8")
          .as("payload"))
    }
    def elems1m(s: SparkSession): DataFrame = elemsN(s, 1000000L)
    Map(
      "bt_1m_scan" -> ((s, _) => elems1m(s)),
      "bt_1m_stride" -> ((s, _) => operators.SequenceOps.stride(elems1m(s), 8)),
      // the 1M rows finish in tens of ms, where wall time is job-setup +
      // codegen constants and the stride/scan RATIO is noise (measured
      // 1.1x-1.8x across rounds on identical plans); the 10M pair is the
      // one target 2 is judged on — stride is a pure codegen'd
      // filter + integer re-index, so above the floor it must track scan
      "bt_10m_scan" -> ((s, _) => elemsN(s, 10000000L)),
      "bt_10m_stride" -> ((s, _) => operators.SequenceOps.stride(elemsN(s, 10000000L), 8)),
      "bt_1m_ranges" -> ((s, _) =>
        operators.SequenceOps.stridedRanges(elems1m(s), Seq((0L, 50000L), (60000L, 120000L)), 3)),
      "bt_1m_gather" -> ((s, _) =>
        operators.SequenceOps.gather(elems1m(s), (0L until 1000L).map(_ * 97))),
      "bt_1m_state_100slices" -> ((s, _) => {
        val sliced = operators.SequenceOps.slice(elems1m(s),
          operators.SequenceOps.Partitioner.All(1250))
        operators.Kernels.unboundedState(sliced, operators.StdKernels.TestIncrement, sliced = true)
      }),
      // pipe-bridge throughput: 100k elements through 8 forked python3
      // kernels (one per partition) — times fork + protocol + pipe cost
      // against bt_1m_scan-style in-JVM rates; the honest overhead number
      // for the external-kernel surface
      "bt_100k_prockernel" -> ((s, _) => {
        val enc = org.apache.spark.sql.Encoders.product[model.Elem]
        val ds  = elemsN(s, PkElems).repartition(8).as[model.Elem](enc)
        operators.ProcessKernel.run(ds, queries.ProcQueries.wordcountSpec).toDF()
      }),
      // the same elements through the BATCHED frame protocol (256 elems
      // per pipe frame): the delta against bt_100k_prockernel is the
      // per-line pipe cost the batch attribute exists to amortize (at the
      // 100k/8-partition size both rows sit near the ~0.5 s job-setup
      // floor; BENCHNOTES carries the 1M-element protocol attribution)
      "bt_100k_prockernel_batched" -> ((s, _) => {
        val enc = org.apache.spark.sql.Encoders.product[model.Elem]
        val ds  = elemsN(s, PkElems).repartition(8).as[model.Elem](enc)
        operators.ProcessKernel.run(ds,
          queries.ProcQueries.wordcountBatchedSpec(256)).toDF()
      }),
      // crawl-to-text at fleet scale: 48 member-gzip WARC files x 400
      // response records (~15 MB of HTML) through the streaming record
      // parse + the codegen htmlToText chain; one task per file — the
      // WET-conversion scan rate that multiplies by executors at
      // crawl-corpus scale
      "bt_warc_wet" -> ((s, _) => {
        val dir = ensureWarcFleet()
        import org.apache.spark.sql.functions._
        sources.Warc.readDir(s, dir)
          .filter(col("warc_type") === "response" &&
            col("http_content_type").startsWith("text/html"))
          .select(functions.TextFunctions.htmlToText(
            col("body").cast("string")).as("t"))
          .groupBy().agg(count(lit(1)).as("n"),
            sum(length(col("t"))).as("chars"))
      }),
      // WebDataset shard sink + source in one timed pass: 50k two-file
      // samples hash-distributed over 8 writer tasks into byte-budgeted
      // tar shards, then read back one task per shard — the container
      // overhead (512 B header + padding per file) is the honest cost
      // of small-sample shards
      "bt_wds_roundtrip" -> ((s, _) => {
        import org.apache.spark.sql.functions._
        val dir = sys.props("java.io.tmpdir") + "/graft-bench-wds"
        val rows = s.range(0, 50000, 1, 32).select(
          format_string("%08d", col("id")).as("key"),
          explode(map(
            lit("txt"), encode(rpad(conv(col("id").cast("string"), 10, 16), 200, "x"), "UTF-8"),
            lit("json"), encode(concat(lit("{\"i\":"), col("id").cast("string"), lit("}")), "UTF-8")
          )).as(Seq("ext", "payload")))
        sources.TarShard.writeSamples(rows, dir, maxShardBytes = 8L << 20, nWriters = 8)
        sources.TarShard.readDir(s, dir)
          .groupBy().agg(count(lit(1)).as("files"),
            sum(col("payload_len")).as("bytes"))
      }),
      // fleet-scale real-H264 ingest: 48 streams x 240 AUs (~17 MB of
      // Annex-B) through the distributed NAL walk + header parse +
      // keyframe index; one task per file — the per-byte scan rate is
      // the number that holds at video-corpus scale
      "bt_h264_index" -> ((s, _) => {
        val dir = queries.VideoQueries.ensureH264Fleet()
        sources.H264Ingest.indexFiles(s, dir)
          .groupBy().agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"),
            org.apache.spark.sql.functions.sum("byte_size").as("bytes"))
      }),
      // real-H264 pixel throughput: 32 tasks each encode (IDR + 15 P,
      // motion search) then decode 16 frames of 128x128 gray — the
      // distributed codec rate (frames/s = 1024 / wall) that sets the
      // decode-bound ceiling of every real-video pipeline here
      "bt_h264_codec" -> ((s, _) => {
        import s.implicits._
        s.range(0, 32, 1, 32).map { task =>
          val frames = (0 until 16).map { t =>
            sources.H264Codec.Yuv(128, 128,
              Array.tabulate(128 * 128) { p =>
                val x = p % 128; val y = p / 128
                ((x * 3 + y * 7 + t * 2 + task) % 256).toByte
              },
              Array.fill(64 * 64)(128.toByte), Array.fill(64 * 64)(128.toByte))
          }
          val stream = sources.H264Codec.encode(frames, qp = 16)
          val back = sources.H264Codec.decode(stream)
          (back.size.toLong, stream.length.toLong)
        }.toDF("frames", "bytes")
          .groupBy().agg(org.apache.spark.sql.functions.sum("frames").as("frames"),
            org.apache.spark.sql.functions.sum("bytes").as("bytes"))
      }),
      "bt_1m_stencil" -> ((s, _) => stencilStress(s, 1000000L)),
      "bt_10m_stencil" -> ((s, _) => stencilStress(s, 10000000L)),
      // ONE 10M-row stream as-of joined to a sparse snapshot stream: the
      // bucketed plan spreads the fill across index-range buckets — the
      // single-window fallback would put all 10M rows in one task
      "bt_10m_asof" -> ((s, _) => {
        import org.apache.spark.sql.functions._
        val left = s.range(0, 10000000, 1, 32).select(
          lit(0L).as("streamId"), col("id").as("index"), (col("id") % 97).as("v"))
        val right = s.range(0, 10000, 1, 8).select(
          lit(0L).as("streamId"), (col("id") * 1000).as("index"),
          (col("id") * 7).as("snap"))
        operators.SequenceOps.asofJoin(left, right, bucketWidth = 1 << 18)
      }),
      "bt_1m_lsh" -> ((s, _) => lshJoinStress(s, 1000000L)),
      "bt_10m_lsh" -> ((s, _) => lshJoinStress(s, 10000000L)),
      // winnowing at synthetic scale: 1M generated 12-token docs through
      // the let-bound fingerprint chain — pins the HOF-binding win (the
      // unbound formulation ran ~25x slower) as a first-class bench row
      "bt_1m_winnow" -> ((s, _) => {
        import org.apache.spark.sql.functions._
        val docs = s.range(0, 1000000, 1, 32).select(col("id"),
          concat_ws(" ", (0 until 12).map(j =>
            conv(((col("id") + j * 37) % 99991).cast("string"), 10, 16)): _*).as("text"))
        docs.select(col("id"),
          size(functions.TextFunctions.winnowFingerprints(col("text"), 3, 4)).as("n_fp"))
          .agg(sum(col("n_fp")).as("total_fp"), count(lit(1)).as("n"))
      }),
      // Lloyd at synthetic scale: 100k 16-dim vectors, k=16, 3 rounds —
      // pins the broadcast + two-partial-agg round shape as a bench row
      "bt_100k_kmeans" -> ((s, _) => {
        import org.apache.spark.sql.functions._
        val pts = s.range(0, 100000, 1, 32).select(col("id"),
          transform(sequence(lit(1), lit(16)),
            j => pmod(col("id") * 37 + j * 101, lit(997)).cast("float")).as("v"))
        functions.Similarity.kmeansCentroids(pts, "id", "v", k = 16, iters = 3)
      }),
      // substring span removal at synthetic scale: 300k 12-token docs, 6
      // docs sharing each 6-token prefix — prefix windows are cross-doc
      // duplicated (partial cuts), tails unique. Windows shuffle as md5
      // hashes; the cut is a scan-pass HOF — the full Lee et al. pipeline
      // shape as a first-class bench row. NOTE: the interpreted-HOF cut
      // reaches C2 steady state slowly (measured 11->3 s over 4 runs on
      // identical plans); the min-of-reps estimator is what reads true
      "bt_300k_substr_cut" -> ((s, _) => {
        import org.apache.spark.sql.functions._
        val docs = s.range(0, 300000, 1, 32).select(col("id"),
          concat_ws(" ",
            (0 until 6).map(j =>
              conv(((col("id") % 50000) * 13 + j * 7).cast("string"), 10, 16)) ++
            (6 until 12).map(j =>
              conv((col("id") * 37 + j).cast("string"), 10, 16)): _*).as("text"))
        functions.Dedup.removeDuplicatedWindows(docs, "id", "text", 5)
          .agg(sum(col("n_cut")).as("total_cut"), count(lit(1)).as("n"))
      }),
      // TF-IDF retrieval at synthetic scale: 100k 8-token docs in groups
      // of 5 sharing a 6-token prefix (shared bigrams df=5, tails df=1) —
      // the posting self-join runs over ~100k group-local keys, sum(df²)
      // ≈ 2.5M, and every doc finds its 4 group neighbors; exercises the
      // maxDf prune + bounded-heap top-k at a scale where a window rank
      // or unpruned head term would blow up. Early reps ramp down while
      // C2 compiles the tokenize/HOF codegen (same note as the substr-cut
      // row); min-of-reps reports the steady state.
      "bt_100k_tfidf" -> ((s, _) => {
        import org.apache.spark.sql.functions._
        val docs = s.range(0, 100000, 1, 32).select(col("id"),
          concat_ws(" ",
            (0 until 6).map(j =>
              conv(((col("id") / 5) * 31 + j * 7).cast("string"), 10, 16)) ++
            (6 until 8).map(j =>
              conv((col("id") * 97 + j).cast("string"), 10, 16)): _*).as("text"))
        functions.TfIdf.topKNeighbors(docs, "id", "text", k = 4, maxDf = 50L)
          .agg(count(lit(1)).as("n"), sum(col("score")).as("s"))
      }),
      // BM25 retrieval on a ZIPFIAN corpus (rank-frequency ~ 1/r, Heaps
      // vocabulary growth — see ScaleTier.zipfDocuments for why the
      // fixed-vocab documents fixture cannot measure this): 500 fixed
      // query docs against n docs through the fractional df prune
      // (df/N <= 1%). This is the regime where the posting join's 100 TB
      // claim lives: the Zipf head is pruned by the fraction, tail
      // postings are bounded, and the probe cost is sum over query terms
      // of df — ~linear in n (measured at n and 10n; BENCHNOTES carries
      // the ratio).
      "bt_100k_zipf_bm25" -> ((s, _) => {
        import org.apache.spark.sql.functions._
        val n = 100000L
        val docs = tools.ScaleTier.zipfDocuments(s, n)
        val q = docs.select(col("doc_id")).filter(col("doc_id") % (n / 500) === 0)
        functions.TfIdf.bm25TopK(docs, q, "doc_id", "text", k = 5,
          ngram = 1, maxDf = functions.DfBound.Frac(0.01))
          .agg(count(lit(1)).as("n"), sum(col("score")).as("s"))
      }),
      // z-order layout at 1M rows: Morton key + range repartition + sort —
      // the write-time clustering cost (one range exchange by design)
      "bt_1m_zorder" -> ((s, _) => {
        import org.apache.spark.sql.functions._
        val rows = s.range(0, 1000000, 1, 32).select(
          (col("id") * 2654435761L % 1024).as("x"),
          (col("id") * 40503 % 1024).as("y"), col("id"))
        operators.Layout.zorderLayout(rows, Seq("x", "y"), bits = 10, partitions = 32)
      }),
      // the bucketed range join at stress scale: 1M points x 10k
      // half-open intervals (width 150 over a 1M domain, bucket 128 —
      // fan-out <= 3 buckets/interval, ~1.5M matches). The naive theta
      // join would be a 1M x 10k nested loop; this must stay a hash
      // equi-join whose time tracks the MATCH count, not the cross
      // product.
      "bt_1m_rangejoin" -> ((s, _) => {
        import org.apache.spark.sql.functions._
        val points = s.range(0, 1000000L, 1, 32).toDF("p")
        val ivals = s.range(0, 10000L, 1, 32)
          .select(col("id").as("iv"), (col("id") * 100).as("lo"),
            (col("id") * 100 + 150).as("hi"))
        operators.JoinStrategies.bucketedRangeJoin(points, ivals, "p", "lo", "hi", 128L)
          .agg(count(lit(1)).as("n_matches"), countDistinct(col("iv")).as("n_ivals"))
      }),
      // CC scale row: a single 1M-node PATH (diameter 1M — the worst case
      // for label propagation) in 32 range partitions. Step 1's union-find
      // contracts each range to one root, so the rounds run on a 32-root
      // path; DedupSpec pins the round count of a path whose partitions
      // hold no two neighbouring edges, this row times the scale.
      "bt_1m_cc" -> ((s, _) => {
        import org.apache.spark.sql.functions._
        val n = 1000000L
        val nodes = s.range(0, n, 1, 32).toDF("id")
        val chain = s.range(0, n - 1, 1, 32)
          .select(col("id").as("a"), (col("id") + 1).as("b"))
        functions.Dedup.connectedComponents(nodes, chain, "id")
          .agg(count(lit(1)).as("n"), countDistinct(col("cluster")).as("nc"))
      }),
      // PageRank scale row: a 1M-node graph with a power-law-ish in-degree
      // skew (every node links to two pseudo-random targets plus one of 10
      // hubs — hub in-degree ~100k, everyone else ~2) and ~6% dangling
      // nodes. 4 power rounds over 3M edges: per round ONE map-side-
      // combined (long,long) shuffle + the co-partitioned narrow rank
      // join; the fixed-point integer algebra means the timed work is
      // byte-identical across reps and hosts.
      "bt_1m_pagerank" -> ((s, _) => {
        import org.apache.spark.sql.functions._
        val n = 1000000L
        val src = s.range(0, n, 1, 32)
        // drop out-edges for ids ≡ 15 (mod 16) → dangling-mass path live
        val e = src.where(col("id") % 16 =!= 15).select(col("id").as("src"),
            ((col("id") * 2654435761L + 1) % n).as("dst"))
          .unionAll(src.where(col("id") % 16 =!= 15).select(col("id").as("src"),
            ((col("id") * 40503L + 7) % n).as("dst")))
          .unionAll(src.where(col("id") % 16 =!= 15).select(col("id").as("src"),
            (col("id") % 10).as("dst")))
        functions.GraphRank.pageRank(e, iters = 4)
          .agg(count(lit(1)).as("n"), sum(col("rank")).as("mass"),
            max(col("rank")).as("top"))
      }),
      // ANN quality at scale on a CLUSTERABLE fixture: the sf tables'
      // embeddings are near-random unit vectors, so sim_recall_at_k
      // honestly reports ~0 there; this row builds 100k deterministic
      // vectors around 64 separated centers (+ small per-id perturbation)
      // and measures IVF recall@10 vs the exact top-10 over 50 held-out
      // queries — the index ship/no-ship eval on data an index can help.
      "bt_100k_ann_recall" -> ((s, _) => {
        import org.apache.spark.sql.functions._
        def vecs(ids: org.apache.spark.sql.DataFrame, seed: Int) = ids.select(
          col("id").as("vec_id"),
          transform(sequence(lit(0), lit(15)), j =>
            (((col("id") % 64) * 31 + j * 17 + 1) % 7 - lit(3) +
             ((col("id") * 13 + j * 7 + seed) % 5 - lit(2)) * lit(0.45f))
              .cast("float")).as("embedding"))
        val corpus = vecs(s.range(0, 100000L, 1, 32).toDF("id"), seed = 0)
        val queries = vecs(s.range(100000L, 100050L, 1, 1).toDF("id"), seed = 3)
        val anchors = corpus.where(col("vec_id") % 1563 === 0)
        val exact = functions.Similarity.bruteForceTopK(
          corpus, queries, "vec_id", "embedding", 10).select(col("qid"), col("id"))
        val approx = functions.Similarity.ivfTopK(
          corpus, anchors, queries, "vec_id", "embedding", k = 10, nprobe = 2)
          .select(col("qid"), col("id"))
        exact.join(approx, Seq("qid", "id"))
          .agg((count(lit(1)) / lit(500.0)).as("recall_at_10"),
            count(lit(1)).as("n_hits"))
      }),
      // adversarial IVF-COLLAPSE row: 20k vectors that ALL score highest
      // against one of the two anchors (the other anchor is antipodal),
      // i.e. k-means collapse — without the giant-cell cap the within-
      // cell self-join is 20k² = 400M candidate pairs in ONE join key;
      // with maxCellSize=512 the cell sub-splits into ~40 id-hash
      // subcells and candidate volume is bounded by ~|corpus|*cap = 10M.
      // The row times that bound holding under the worst assignment.
      "bt_20k_knn_collapse" -> ((s, _) => {
        import org.apache.spark.sql.functions._
        def vec(idc: org.apache.spark.sql.Column) =
          transform(sequence(lit(0), lit(7)), j =>
            (lit(100.0f) + pmod(idc * 31 + j * 17, lit(7)).cast("float")))
        val corpus = s.range(0, 20000L, 1, 32)
          .select(col("id").as("vec_id"), vec(col("id")).as("embedding"))
        val anchors = s.range(0, 2L, 1, 1).select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(7)), _ =>
            when(col("id") === 0, lit(100.0f)).otherwise(lit(-100.0f)))
            .as("embedding"))
        functions.Similarity.knnGraph(corpus, anchors, "vec_id", "embedding",
            k = 5, maxCellSize = 512)
          .agg(count(lit(1)).as("n"), max(col("score")).as("top"))
      }),
      // triangle scale row: 1M pseudo-random edges over 100k nodes PLUS a
      // degree-50k celebrity hub. Unoriented, wedges at the hub alone are
      // ~1.25e9; the (degree, id) orientation points nearly every hub
      // edge AT the hub, so its out-degree collapses and total wedge
      // volume stays m^1.5-bounded — the row times that property.
      "bt_1m_triangles" -> ((s, _) => {
        import org.apache.spark.sql.functions._
        val n = 100000L
        val rnd = s.range(0, 1000000L, 1, 32).select(
          ((col("id") * 2654435761L + 3) % n).as("src"),
          ((col("id") * 40503L + 17) % n).as("dst"))
        val hub = s.range(0, 50000L, 1, 32)
          .select(lit(n).as("src"), (col("id") * 2 % n).as("dst"))
        functions.GraphStructure.triangleCounts(rnd.unionAll(hub))
          .agg(count(lit(1)).as("nodes_in_tri"),
            sum(col("triangles")).as("tri_incidences"))
      }),
      // co-occurrence scale row: 1M interactions over 100k contexts
      // (~10 items each) + 50 adversarial promiscuous contexts touching
      // 2k items apiece. The degree cap drops the heavy contexts BEFORE
      // the pair self-join; without it those 50 contexts alone would emit
      // 50 * 2k^2 = 200M pairs — the cap keeps pair volume ~cap * |rel|.
      "bt_1m_covisit" -> ((s, _) => {
        import org.apache.spark.sql.functions._
        val normal = s.range(0, 1000000L, 1, 32).select(
          (col("id") / 10).cast("long").as("ctx"),
          ((col("id") * 2654435761L + 11) % 5000).as("item"))
        val heavy = s.range(0, 100000L, 1, 32).select(
          (lit(10000000L) + col("id") % 50).as("ctx"),
          (col("id") % 2000).as("item"))
        functions.GraphStructure.coOccurrenceTopK(
            normal.unionAll(heavy), "ctx", "item", k = 5, maxCtxDegree = 64)
          .agg(count(lit(1)).as("n"), sum(col("n_shared")).as("mass"))
      }),
      "bt_sparse_decode" -> ((s, _) => sources.VideoStore.gatherFrames(s, btStore(s, "bt10k"),
        "bt10k", 0L, (0 until 100).map(i => (i * 97L + 13) % 10000L).distinct.sorted).toDF()),
      // BASELINE target 1 made concrete now that the pixel codec is REAL:
      // full-scan H264 decode at the reference fixture's 640x480
      // (tests/videos.h:32-35). 512 VGA frames in 16-frame GOPs (IDR + 15
      // P, CAVLC, motion-compensated), encoded by the fixture step; the
      // timed run is decode-only through the store — one task
      // per GOP, zero shuffle, the rate multiplies by executors.
      // The 32 ~0.5 MB GOP files bin-pack into ~2 scan partitions
      // (openCost-tuned for I/O); decode is the bottleneck, so the
      // library's decode-aware default (cpuBoundDecode -> one task per
      // GOP here) must spread them — this row pins that AUTO behavior
      // (measured 3.6 s unspread -> 0.75 s spread)
      "bt_h264_decode_vga" -> ((s, _) => sources.VideoStore.frames(s, btStore(s, "btvga"),
        "btvga", codec = sources.H264GopCodec.Default).toDF()),
      // HD decode at fleet shape: 2048 frames of
      // 1280x720 gray in 16-frame GOPs -> 128 GOP segments >> 32 cores,
      // the regime where the file scan's bin-packing SHOULD batch
      // several GOPs per task (the vga row pins the opposite regime,
      // 32 GOPs spread one-per-task via minDecodeTasks). No spread
      // override here — the row proves decode scales when segments
      // outnumber tasks. Output carries its own telemetry: frames
      // decoded (fps = frames / this row's wall) and the distinct scan
      // task count the bin-packer actually produced.
      "bt_h264_decode_hd" -> ((s, _) => {
        import org.apache.spark.sql.functions._
        sources.VideoStore.frames(s, btStore(s, "bthd"), "bthd",
            codec = sources.H264GopCodec.Default).toDF()
          .select(spark_partition_id().as("pid"))
          .groupBy().agg(count(lit(1)).as("frames"),
            countDistinct(col("pid")).as("n_tasks"))
      }),
      // full-stream decode through the REAL-entropy-coding codec (deflate
      // GOPs): 10k frames x 1152 B inflate+delta per task — the measurable
      // proxy for BASELINE target 1 (decode throughput) this container
      // permits; compare against bt_sparse_decode's prune economics
      "bt_deflate_decode" -> ((s, _) => sources.VideoStore.frames(s, btStore(s, "btdz10k"),
        "btdz10k", codec = sources.DeflateVideoCodec).toDF()))
  }

  /** Stencil {-1,0,1} + window-sum over n rows across 8 streams — the
    * explode + single-hash-agg plan at a scale where the shuffle (3n
    * exploded rows) actually exercises the exchange machinery; the 1M/10M
    * pair makes scaling measurable (sub-linear wall growth expected: the
    * plan is one shuffle, no driver round-trips, no skew).
    */
  private def stencilStress(s: SparkSession, n: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = s.range(0, n, 1, 32).select(
      (col("id") % 8).as("streamId"),
      expr("id div 8").as("index"),
      (col("id") * 37 % 1000).as("v"))
    operators.SequenceOps.stencil(base, Seq(-1, 0, 1), "v")
      .select(col("streamId"), col("index"),
        (lit(0L) + element_at(col("window"), 1) + element_at(col("window"), 2)
          + element_at(col("window"), 3)).as("wsum"))
  }

  /** The LSH candidate-generation join at n band-key rows: self-join on
    * (band, key), a<b, distinct — the ONLY shuffle-heavy stage of the
    * MinHash pipeline (signatures are embarrassingly parallel and scale
    * linearly by construction). Keys give ~2-row buckets plus one hot key
    * per band (a fixed ~4000 rows spread over 16 bands) so AQE's skew
    * handling is exercised, not just the uniform path.
    */
  private def lshJoinStress(s: SparkSession, n: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val hotEvery = math.max(n / 4000L, 1L) // fixed ~4000 hot rows at any n
    val keyed = s.range(0, n, 1, 32).select(
      col("id"),
      (expr("id div 2") % 16).cast("int").as("band"),
      when(col("id") % hotEvery === 0, lit(-1L)).otherwise(expr("id div 2")).as("bk"))
    val l = keyed.select(col("band"), col("bk"), col("id").as("a"))
    val r = keyed.select(col("band"), col("bk"), col("id").as("b"))
    l.join(r, Seq("band", "bk"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** Cap on any single execution (warmup, timed rep or profile pass). It
    * sits far above the heaviest row's cost (bt_1m_cc, ~100 s on 4 cores),
    * so it only catches hangs, which are reported as "aborted". */
  private val ExecCapS = 600.0

  /** rows that get one extra untimed per-op attribution pass */
  private val ProfileRows = Set("pipeline_clean_corpus", "dedup_cluster_keep",
    "dedup_clusters", "pq_adc_topk", "sim_tfidf_topk")

  /** The sf1 section: a scale subset re-timed over the 10x tier in the
    * same run, only alongside an sf0.1 board. The retrieval family is not
    * here: the fixture corpus is non-Zipfian (see ScaleTier.zipfDocuments),
    * so its all-pairs similarity densifies quadratically with n; the
    * posting join's scale evidence is bt_100k_zipf_bm25. */
  private val Sf1Rows = Seq("dedup_c4_spans", "dedup_cluster_keep",
    "dedup_clusters", "dedup_containment", "dedup_lsh_pairs",
    "dedup_paragraphs", "dedup_simhash_pairs", "emb_kmeans", "emb_pca",
    "pipeline_incremental_update", "pq_encode", "sem_dedup",
    "txt_boilerplate", "txt_corpus_report", "txt_normalize")
  /** sf1 rows that get the per-op attribution pass */
  private val Sf1ProfileRows = Set("dedup_simhash_pairs", "txt_corpus_report")

  /** per-query result: min/median wall of the completed reps, per-rep
    * (sec, telemetry) with a watchdog-killed partial last, per-op ms,
    * whether the watchdog aborted the row, and the profile pass's (jobs,
    * codegen compiles) when it ran. A row with no completed rep keeps the
    * -1 sentinel: "failed" when it threw, "aborted" when the watchdog
    * cancelled it. */
  private[graft] final case class QueryResult(min: Double, med: Double,
      reps: Seq[(Double, String)], ops: Map[String, Long],
      aborted: Boolean = false, profiled: Option[(Int, Long)] = None) {
    def failed: Boolean = min < 0 && !aborted
  }

  /** what produced a board; stamped into its summary line and file */
  private[graft] final case class RunInfo(sf: String, cpus: Int, reps: Int,
      gitRev: String, artifact: String)

  /** JSON string literal: quotes, backslashes and every control char
    * escaped (exception messages carry newlines and plan fragments) */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  /** The stdout summary line. Every field is a count, a flag or a string
    * clipped to 160 chars, so the line stays under 1 KB whatever the
    * board's size; per-row numbers live only in the board file. `total`
    * sums the published mins of the main board's rows; `failed` counts
    * the main board's failed rows plus `sf1Failed`. */
  private[graft] def summaryLine(results: Seq[(String, QueryResult)],
      skipped: Int, truncated: Boolean, wallS: Double, info: RunInfo,
      sf1Failed: Int): String = {
    def clip(s: String) = jsonStr(if (s.length <= 160) s else "..." + s.takeRight(157))
    val total = results.map(_._2.min).filter(_ >= 0).sum
    s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec",""" +
      s""""n_rows":${results.size},"failed":${results.count(_._2.failed) + sf1Failed},""" +
      s""""aborted":${results.count(_._2.aborted)},"skipped":$skipped,""" +
      s""""truncated":$truncated,"cpus":${info.cpus},"sf":${clip(info.sf)},""" +
      s""""wall_s":${f"$wallS%.1f"},"git_rev":${clip(info.gitRev)},""" +
      s""""artifact":${clip(info.artifact)}}"""
  }

  /** One run's board, kept current after every row: the artifact file is
    * rewritten (marked truncated, rows not yet run listed under
    * "skipped") and so is the summary the shutdown hook prints. A run
    * killed mid-board (sbt's destroy() sends SIGTERM; hooks run) thus
    * still leaves a line and a file that parse. */
  private[graft] final class Board(planned: Seq[String], sf1Planned: Seq[String],
      @volatile var sf1Dir: String, info: RunInfo, startNanos: Long = System.nanoTime()) {
    private val rows  = scala.collection.mutable.ArrayBuffer.empty[(String, QueryResult)]
    private val rows1 = scala.collection.mutable.ArrayBuffer.empty[(String, QueryResult)]
    @volatile private var sf1Error: Option[String] = None
    @volatile private var hookLine = line(truncated = true)
    private val printed = new java.util.concurrent.atomic.AtomicBoolean(false)

    private def wallS: Double = (System.nanoTime() - startNanos) / 1e9
    def hookSummary: String = hookLine
    def record(name: String, qr: QueryResult): Unit = synchronized { rows += ((name, qr)); refresh() }
    def recordSf1(name: String, qr: QueryResult): Unit = synchronized { rows1 += ((name, qr)); refresh() }
    def failSf1(msg: String): Unit = synchronized { sf1Error = Some(msg); refresh() }

    // the sf1 section adds its failed rows, or 1 if the section threw
    private def line(truncated: Boolean): String = synchronized { summaryLine(rows.toSeq,
      if (truncated) planned.size - rows.size else 0, truncated, wallS, info,
      if (sf1Error.isDefined) 1 else rows1.count(_._2.failed)) }
    private def names(rs: Iterable[String]) = rs.map(jsonStr).mkString("[", ",", "]")
    private def section(rs: Seq[(String, QueryResult)], plan: Seq[String],
        truncated: Boolean): String = {
      val done = rs.map(_._1).toSet
      s"""${sectionJson(rs)},"failed":${names(rs.collect { case (k, qr) if qr.failed => k })},""" +
        s""""skipped":${names(if (truncated) plan.filterNot(done) else Nil)}"""
    }
    def fileJson(truncated: Boolean): String = synchronized {
      val res = rows.toSeq
      val total = res.map(_._2.min).filter(_ >= 0).sum
      val sf1Json =
        if (sf1Planned.isEmpty) ""
        else sf1Error match {
          case Some(msg) => s""","sf1":{"dir":${jsonStr(sf1Dir)},"error":${jsonStr(msg)}}"""
          case None =>
            val mins01 = res.toMap
            val ratios = rows1.collect {
              case (k, qr) if qr.min > 0 && mins01.get(k).exists(_.min > 0) =>
                jsonStr(k) + ":" + f"${qr.min / mins01(k).min}%.2f"
            }.mkString("{", ",", "}")
            s""","sf1":{"dir":${jsonStr(sf1Dir)},""" +
              s"""${section(rows1.toSeq, sf1Planned, truncated)},"ratio_vs_sf0.1":$ratios}"""
        }
      s"""{"metric":"total","value":$total,"unit":"sec","n_rows":${res.size},""" +
        s"""${section(res, planned, truncated)},"reps":${info.reps},""" +
        s""""sf":${jsonStr(info.sf)},"cpus":${info.cpus},"wall_s":${f"$wallS%.1f"},""" +
        s""""git_rev":${jsonStr(info.gitRev)},"truncated":$truncated$sf1Json}"""
    }

    private def write(path: java.nio.file.Path, body: String): Unit =
      try {
        if (path.getParent != null) java.nio.file.Files.createDirectories(path.getParent)
        java.nio.file.Files.write(path, (body + "\n").getBytes("UTF-8"))
      } catch { case e: Throwable => System.err.println(s"[bench] write of $path failed: $e") }
    private def refresh(): Unit = {
      hookLine = line(truncated = true)
      write(java.nio.file.Paths.get(info.artifact), fileJson(truncated = true))
    }

    def installHook(): Unit = {
      refresh()
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        if (printed.compareAndSet(false, true)) { println(hookLine); System.out.flush() },
        "graft-bench-emit"))
    }

    /** Final emission: the complete file, plus — for an untargeted run —
      * the committed board copy `BENCH_LOCAL_LATEST_c<cpus>.json`; then
      * the summary line on stdout, which is returned. */
    def finish(commit: Boolean): String = {
      val body = fileJson(truncated = false)
      write(java.nio.file.Paths.get(info.artifact), body)
      val committed = s"BENCH_LOCAL_LATEST_c${info.cpus}.json"
      if (commit) write(java.nio.file.Paths.get(committed), body)
      System.err.println(s"[bench] board written to ${info.artifact}" +
        (if (commit) s" and $committed" else " only (targeted run)"))
      val l = line(truncated = false)
      if (printed.compareAndSet(false, true)) { println(l); System.out.flush() }
      l
    }
  }

  private def gitRev: String =
    try scala.sys.process.Process(Seq("git", "describe", "--always", "--dirty", "--abbrev=12"))
      .!!(scala.sys.process.ProcessLogger(_ => ())).trim
    catch { case _: Throwable => "unknown" }

  def main(args: Array[String]): Unit = {
    val startNanos = System.nanoTime()
    val sfDir  = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // unset: the sf1 section generates its tier as a fixture
    val sf1Env = sys.env.get("SPARK_GRAFT_SF1_DIR")
    val cpus = GraftSession.envCpus
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    require(reps >= 1, s"SPARK_GRAFT_BENCH_REPS must be >= 1, got $reps")
    val out  = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench-results.json")
    val only = args.toSet // optional query-name filter for targeted reruns
    val all  = SparkEntry.queries ++ benchTargets
    // fail loudly on a misspelled filter: a silent empty selection prints
    // total=0 and reads like a (nonsense) clean run
    val unknown = only.diff(all.keySet)
    require(unknown.isEmpty,
      s"unknown bench query name(s): ${unknown.toSeq.sorted.mkString(", ")}; " +
        s"known: ${all.keySet.toSeq.sorted.mkString(", ")}")
    val (bt, rest) = all.toSeq.filter(p => only.isEmpty || only(p._1))
      .sortBy(_._1).partition(_._1.startsWith("bt_"))
    val ordered = bt ++ rest
    val sf1 = if (sfDir.endsWith("sf0.1")) Sf1Rows.filter(n => only.isEmpty || only(n)) else Nil
    val board = new Board(ordered.map(_._1), sf1, sf1Env.getOrElse("(generated)"),
      RunInfo(sfDir, cpus, reps, gitRev, out), startNanos)
    board.installHook()

    val spark = GraftSession.local(cpus.toString, "graft-bench")
    // untimed fixture step: touch every input table (session, classloader
    // and codegen start-up are not billed to whichever row runs first)
    // and build every bt_* fixture
    Seq("lineitem", "orders", "customer", "nation", "region", "supplier",
        "part", "events", "documents", "embeddings").foreach { t =>
      try materialize(spark.read.parquet(s"$sfDir/$t.parquet").limit(1000))
      catch { case _: Throwable => () }
    }
    try ensureFixtures(spark, ordered.map(_._1).toSet)
    catch { case e: Throwable => System.err.println(s"[bench] fixture step failed: $e") }

    val tally = new MetricsTally
    spark.sparkContext.addSparkListener(tally)
    ordered.foreach { case (name, fn) =>
      board.record(name, timeOne(spark, tally, name, fn, sfDir, reps, ProfileRows(name)))
    }
    if (sf1.nonEmpty) try {
      // drop the sf0.1 board's session-shared relations (memoized
      // TermIndex) before the 10x tier brings in its own corpus
      CacheScope.releaseShared(blocking = true)
      val sf1Dir = sf1Env.getOrElse(sf1Tier(spark))
      board.sf1Dir = sf1Dir
      sf1.foreach { name =>
        board.recordSf1(name, timeOne(spark, tally, name, SparkEntry.queries(name),
          sf1Dir, reps, Sf1ProfileRows(name), tag = "sf1 "))
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] sf1 section failed: $e")
      board.failSf1(e.toString)
    }
    board.finish(commit = only.isEmpty)
    spark.stop()
  }

  /** The 10x tier (50k documents, 20k embeddings), keyed by the first
    * rows ScaleTier writes (it is xxhash64-keyed per id, so a prefix
    * probe sees any change to the generator). */
  private def sf1Tier(spark: SparkSession): String = {
    import tools.ScaleTier.{documents, embeddings}
    queries.Fixtures.dir("sf1", Seq(50000, 20000,
        documents(spark, 8).collect().mkString, embeddings(spark, 8).collect().mkString)) { d =>
      documents(spark, 50000L).write.parquet(s"$d/documents.parquet")
      embeddings(spark, 20000L).write.parquet(s"$d/embeddings.parquet")
    }
  }

  /** accumulated timed+warmup wall since the last settle GC (see
    * timeOne) — main is single-threaded */
  private var unGcWall = 0.0

  /** one row of the board: an untimed warmup, then `reps` timed reps,
    * then the optional profile pass — each execution under the watchdog */
  private def timeOne(spark: SparkSession, tally: MetricsTally,
      name: String, fn: (SparkSession, String) => DataFrame,
      dir: String, reps: Int, profile: Boolean, tag: String = ""): QueryResult = {
    val sc = spark.sparkContext
    var aborted = false
    // every execution of this row lives in a job group the watchdog can
    // cancel, so one hung rep cannot stall the rest of the board
    def capped(body: => Unit): Boolean = {
      val group = s"graft-bench-$name"
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      sc.setJobGroup(group, s"bench $name", interruptOnCancel = true)
      val watchdog = new java.util.Timer("graft-bench-watchdog", true)
      watchdog.schedule(new java.util.TimerTask {
        def run(): Unit = {
          System.err.println(f"[bench] $tag$name WATCHDOG fired at $ExecCapS%.0fs — cancelling job group")
          fired.set(true)
          sc.cancelJobGroup(group)
        }
      }, (ExecCapS * 1000).toLong)
      try { body; !fired.get }
      catch { case e: Throwable =>
        if (!fired.get) System.err.println(s"bench query $name failed: $e")
        false
      } finally {
        watchdog.cancel(); sc.clearJobGroup()
        if (fired.get) aborted = true
      }
    }
    // one execution: (wall s, telemetry json, completed)
    def run(): (Double, String, Boolean) = {
      val pre = snap(tally)
      val t0 = System.nanoTime()
      val ok = capped(materialize(fn(spark, dir)))
      val sec = (System.nanoTime() - t0) / 1e9
      unGcWall += sec
      // drain the async bus (untimed) so the rep's shuffle counters are
      // complete, then snapshot BEFORE release so cleanup cost is
      // excluded from the rep's telemetry
      tally.drain()
      val post = snap(tally)
      // library ops register their reused self-join relations (signatures,
      // band keys) in CacheScope; release them per execution — both so
      // hundreds of queries in one session don't accumulate storage memory
      // and so every rep pays the query's full cost (honest isolation)
      CacheScope.release(blocking = true)
      (sec, telemetryJson(pre, post), ok)
    }
    // a watchdog-killed partial's wall is a lower bound, not a
    // measurement: it stays in the telemetry but never enters min/median
    val timed = scala.collection.mutable.ArrayBuffer.empty[(Double, String)]
    var killed = Seq.empty[(Double, String)]
    def execute(isTimed: Boolean): Unit = {
      val (sec, tel, ok) = run()
      if (aborted) killed = Seq((sec, tel))
      else if (ok && isTimed) timed += ((sec, tel))
    }
    // one UNTIMED warm-up execution: the first 1-2 runs of a query pay
    // plan compile + Janino codegen + C2 JIT of the generated classes —
    // measured 2-3x the steady state on sub-second queries. The reps skip
    // the Janino part only while the row's classes fit the codegen cache
    // (GraftSession.CodegenCacheEntries); each rep's cg_compiles shows it.
    execute(isTimed = false)
    // settle the JVM before the reps: collecting prior rows' garbage lets
    // the ContextCleaner reclaim their broadcast/shuffle state, which the
    // reps would otherwise absorb (seq_stencil_sum: 3.1-6.2 s in the suite
    // vs 0.87 s alone). A full GC costs 0.3-1 s, so it runs once ~3 s of
    // un-collected work has accumulated, not before every row.
    if (unGcWall > 3.0) { System.gc(); unGcWall = 0.0 }
    var i = 0
    while (i < reps && !aborted) { execute(isTimed = true); i += 1 }
    val times = timed.map(_._1).toSeq
    // Headline value = MIN of the completed reps: this host's steal
    // bursts put 3x-6x outliers on random reps of an unchanged plan, and
    // a rep's wall is true_cost + steal_delay, so min is the consistent
    // estimator of engine cost. The true median rides alongside.
    val sec = if (times.isEmpty) -1.0 else times.min
    val med =
      if (times.isEmpty) -1.0
      else {
        val s = times.sorted
        if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
      }
    System.err.println(
      f"[bench] $tag$name reps=${times.map(t => f"$t%.3f").mkString(",")} min=$sec%.3f median=$med%.3f" +
        (if (aborted) " ABORTED" else ""))
    timed.foreach { case (t, tel) => System.err.println(f"[bench]   rep $t%.3f s $tel") }
    killed.foreach { case (t, tel) =>
      System.err.println(f"[bench]   rep $t%.3f s (KILLED partial) $tel") }
    // per-op attribution for the configured heavy set: ONE extra untimed
    // profiled run, task time broken down by the library op that spent it
    var ops = Map.empty[String, Long]
    var profiled = Option.empty[(Int, Long)]
    if (profile && times.nonEmpty && !aborted) {
      capped {
        val (_, prof) = Profiler.profile(spark) { materialize(fn(spark, dir)) }
        ops = prof.byOp
        profiled = Some((prof.jobs, prof.codegenCompiles))
        System.err.println(s"[bench] $tag$name op breakdown: " + ops.toSeq
          .sortBy(-_._2).map { case (o, ms) => s"$o=${ms}ms" }.mkString(" ") +
          s" jobs=${prof.jobs} cg_compiles=${prof.codegenCompiles}")
      }
      CacheScope.release(blocking = true); System.gc()
    }
    QueryResult(sec, med, timed.toSeq ++ killed, ops, aborted, profiled)
  }

  /** the per-section JSON fields shared by the sf0.1 and sf1 sections:
    * min/median/per-rep wall + per-rep resource telemetry + per-op
    * attribution with the profile pass's jobs and codegen compiles (the
    * sh_r/w_mb telemetry is the per-query shuffle volume
    * the 100 TB extrapolation needs; per-rep walls make a steal-burst run
    * self-diagnosing — one rep 3-6x the others on an unchanged plan is a
    * de-schedule, not a regression) */
  private def sectionJson(results: Seq[(String, QueryResult)]): String = {
    def obj(f: QueryResult => Option[String]) =
      results.flatMap { case (k, qr) => f(qr).map(v => jsonStr(k) + ":" + v) }
        .mkString("{", ",", "}")
    val qs     = obj(qr => Some(qr.min.toString))
    val meds   = obj(qr => Some(qr.med.toString))
    val perRep = obj(qr => Some(qr.reps.map(t => f"${t._1}%.4f").mkString("[", ",", "]")))
    val perTel = obj(qr => Some(qr.reps.map(_._2).mkString("[", ",", "]")))
    val perOps = obj(qr => if (qr.ops.isEmpty) None else Some(
      qr.ops.toSeq.sortBy(-_._2).map { case (o, ms) =>
        jsonStr(o.stripPrefix("graft:")) + ":" + ms }.mkString("{", ",", "}")))
    val perProf = obj(_.profiled.map { case (jobs, cg) =>
      s"""{"jobs":$jobs,"cg_compiles":$cg}""" })
    // rows the watchdog cancelled: distinct from "failed" (a thrown plan)
    // so a consumer can tell "hung" from "broken"
    val aborted = results.collect { case (k, qr) if qr.aborted => jsonStr(k) }
      .mkString("[", ",", "]")
    // sub-second rows whose min lacks corroboration — the second-lowest
    // rep disagrees with the min by >25% — are FLAGGED: cross-round
    // comparisons should discount any row listed here
    val lowconf = results.collect {
      case (k, qr) if qr.min > 0 && qr.min < 1.0 && qr.reps.size >= 2 && {
        val s = qr.reps.map(_._1).sorted
        (s(1) - s(0)) / s(0) > 0.25
      } => jsonStr(k)
    }.mkString("[", ",", "]")
    s""""queries":$qs,"queries_median":$meds,"queries_reps":$perRep,"queries_telemetry":$perTel,"queries_ops_ms":$perOps,"queries_profile":$perProf,"aborted":$aborted,"queries_lowconf":$lowconf"""
  }
}
