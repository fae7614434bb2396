package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

import graft.{CacheScope, Client}
import graft.functions.{Dedup, GraphRank, TfIdf}
import graft.model.{CacheMode, Elem, FrameElem}
import graft.operators.StdKernels
import graft.sources.{GopCodec, H264GopCodec, VideoStore}

/** The result of one op: items it completed, a check of its output
  * (`inject` corrupts the output first, to show the check is live), and
  * layer counts that only the traced run reads. */
final case class Done(items: Long, check: Boolean => Option[String],
    stats: () => Map[String, Double] = () => Map.empty)

/** How an op calls graft. Untraced, every call goes straight to the public
  * API. Traced, each call is a span, a call that returns a lazy Dataset is
  * forced inside its own span, and codec and kernels are timed wrappers. */
final class Tr(val spark: SparkSession, val traced: Boolean) {
  private val held = mutable.ArrayBuffer.empty[Dataset[_]]
  val codec: GopCodec =
    if (traced) new Trace.TracedCodec(H264GopCodec.Default) else H264GopCodec.Default
  /** graft's public decode counter; passed only when tracing */
  val decoded: Option[LongAccumulator] =
    if (traced) Some(spark.sparkContext.longAccumulator("perfbench.decoded")) else None

  def call[T](name: String)(body: => T): T =
    if (traced) Trace.driver(spark.sparkContext, name)(body) else body

  def force[T](name: String, ds: Dataset[T]): Dataset[T] =
    if (!traced) ds
    else Trace.driver(spark.sparkContext, name + ".force") {
      ds.persist(StorageLevel.MEMORY_ONLY); ds.count(); held += ds; ds
    }

  def histogramOp(ds: Dataset[FrameElem]): Dataset[Elem] =
    if (!traced) StdKernels.histogramOp(ds) else Tr.tracedHistogram(ds)

  def resizeOp(ds: Dataset[FrameElem], perStream: Map[Long, (Int, Int)]): Dataset[FrameElem] =
    if (!traced) StdKernels.resizeOp(ds, perStream) else Tr.tracedResize(ds, perStream)

  /** drop what the op cached: forced spans and graft's own op caches */
  def release(): Unit = {
    held.foreach(_.unpersist(true)); held.clear()
    decoded.foreach(_.reset())
    CacheScope.release(blocking = true)
  }
}

object Tr {
  private val elemEnc  = Encoders.product[Elem]
  private val frameEnc = Encoders.product[FrameElem]
  // same per-row work as StdKernels.histogramOp / resizeOp, with each
  // kernel call timed
  def tracedHistogram(ds: Dataset[FrameElem]): Dataset[Elem] =
    ds.map(f => Elem(f.streamId, f.index,
      Trace.exec[Array[Byte]]("kernel.histogram", _ => 1L, _ => 0L)(StdKernels.histogram(f))))(elemEnc)
  def tracedResize(ds: Dataset[FrameElem], perStream: Map[Long, (Int, Int)]): Dataset[FrameElem] =
    ds.map { f =>
      val (w, h) = perStream(f.streamId)
      Trace.exec[FrameElem]("kernel.resize", _ => 1L, _ => 0L)(StdKernels.resize(f, h, w))
    }(frameEnc)
}

/** One workload: a kind of op, repeated in a closed loop. */
trait Workload {
  def name: String
  /** the encoded stores this workload reads, if any */
  def video: Option[Fixtures.VideoSpec]
  def warmupOps: Int
  /** open the inputs in a fresh session; called once per set-up round */
  def open(tr: Tr): Unit
  /** untimed: make op `n`'s inputs; the returned thunk is the timed op */
  def op(n: Long): () => Done
  /** telemetry the result line may carry, e.g. the fixture's PSNR */
  def info: Map[String, Double] = Map.empty
  /** remove what the ops wrote */
  def close(): Unit = ()
}

object Workloads {
  val names = Seq("video_scan", "frame_gather", "transcode", "corpus_dedup")

  def apply(name: String, seed: Long, tiny: Boolean, state: File): Workload = name match {
    case "video_scan" => new VideoScan(seed, state,
      if (tiny) Fixtures.VideoSpec(2, 8, 32, 48, 4, perStreamStores = true)
      else Fixtures.VideoSpec(4, 96, 352, 480, 16, perStreamStores = true))
    case "frame_gather" => new FrameGather(seed, state,
      if (tiny) Fixtures.VideoSpec(4, 16, 32, 32, 4, perStreamStores = false)
      else Fixtures.VideoSpec(32, 32, 48, 64, 4, perStreamStores = false),
      want = if (tiny) 4 else 6)
    case "transcode" => new Transcode(seed, state,
      if (tiny) Fixtures.VideoSpec(2, 8, 32, 48, 4, perStreamStores = true)
      else Fixtures.VideoSpec(4, 16, 144, 192, 8, perStreamStores = true))
    case "corpus_dedup" =>
      if (tiny) new CorpusDedup(seed, docs = 60, clusters = 6, pool = 2)
      else new CorpusDedup(seed, docs = 150, clusters = 15, pool = 8)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (expected one of ${names.mkString(", ")})")
  }

  private def rowFrames(rows: Array[Row]): Seq[(Long, Long, Array[Byte])] =
    rows.toSeq.map(r => (r.getAs[Long]("streamId"), r.getAs[Long]("index"), r.getAs[Array[Byte]]("payload")))

  private def bins(payload: Array[Byte]): Array[Int] = {
    val bb = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Array.fill(payload.length / 4)(bb.getInt())
  }

  /** Shared by the video workloads: a fixture opened in each session. */
  abstract class VideoWorkload(val seed: Long, state: File, spec: Fixtures.VideoSpec)
      extends Workload {
    def video: Option[Fixtures.VideoSpec] = Some(spec)
    protected lazy val fixDir: File = Fixtures.dir(state, name, spec)
    protected lazy val root: String = new File(fixDir, "stores").getAbsolutePath
    protected lazy val work: String =
      new File(state, s"work/$name-${ProcessHandle.current().pid()}").getAbsolutePath
    protected var tr: Tr = _
    protected var manifest: Fixtures.Manifest = _
    def open(t: Tr): Unit = {
      tr = t
      manifest = Fixtures.open(t.spark, fixDir, spec)
    }
    /** a seeded order over the streams; op n reads stream order(n mod S) */
    protected lazy val order: IndexedSeq[Long] =
      new scala.util.Random(Gen.mix(seed)).shuffle((0 until spec.streams).map(_.toLong))
    override def info: Map[String, Double] =
      Map("fixture_build_s" -> manifest.buildS, "fixture_psnr_db" -> manifest.psnr)
    override def close(): Unit = Fixtures.deleteRecursively(new File(work))
  }

  /** Scanner's canonical graph over one whole stream per op:
    * frames → histogram → `Client.run` into a committed sink. */
  final class VideoScan(seed: Long, state: File, spec: Fixtures.VideoSpec)
      extends VideoWorkload(seed, state, spec) {
    val name = "video_scan"
    val warmupOps = 1
    def op(n: Long): () => Done = {
      val sid = order((n % spec.streams).toInt)
      () => {
        val cl = Client(tr.spark, work)
        val frames = tr.force("store.frames", tr.call("store.frames")(
          VideoStore.frames(tr.spark, root, s"s$sid", tr.decoded, tr.codec)))
        val hist = tr.force("kernel.histogramOp", tr.histogramOp(frames))
        tr.call("client.run")(cl.run(hist.toDF(), "histograms", CacheMode.Overwrite))
        Done(spec.frames, inject => {
          val got = rowFrames(cl.stream("histograms").collect())
            .map { case (s, i, p) => (s, i) -> bins(p) }.toMap
          if (inject && got.nonEmpty) got.head._2(0) += 1
          val want = (0 until spec.frames).map(i => (sid, i.toLong)).toSet
          if (got.keySet != want) Some(s"histogram rows ${got.size} do not match stream $sid")
          else got.collectFirst {
            case ((s, i), b) if (0 until 3).exists(c => b.slice(c * 16, c * 16 + 16).sum != spec.h * spec.w) =>
              s"histogram $s/$i does not sum to h*w per channel"
            case ((s, i), b) if !java.util.Arrays.equals(b, manifest.hist(s, i)) =>
              s"histogram $s/$i differs from the reference decode"
          }
        }, () => tr.decoded.map(a => Map("decoded" -> a.sum.toDouble,
          "returned" -> spec.frames.toDouble, "psnr_db" -> manifest.psnr)).getOrElse(Map.empty))
      }
    }
  }

  /** Interactive sparse reads: a few random frames across many streams,
    * planned through the keyframe index and collected to the client. */
  final class FrameGather(seed: Long, state: File, spec: Fixtures.VideoSpec, want: Int)
      extends VideoWorkload(seed, state, spec) {
    val name = "frame_gather"
    val warmupOps = 4
    def op(n: Long): () => Done = {
      val r = new java.util.Random(Gen.mix(seed * 31L + n))
      val picks = mutable.LinkedHashSet.empty[(Long, Long)]
      while (picks.size < want) picks += ((r.nextInt(spec.streams).toLong, r.nextInt(spec.frames).toLong))
      val wants = picks.toSeq.groupBy(_._1).map { case (s, ps) => s -> ps.map(_._2) }
      () => {
        val ds = tr.call("store.gatherFrames")(
          VideoStore.gatherFramesMulti(tr.spark, root, "all", wants, tr.decoded, tr.codec))
        val got = tr.call("client.collect")(ds.collect())
        Done(got.length, inject => {
          val frames = if (inject) got.drop(1) else got
          val keys = frames.map(f => (f.streamId, f.index))
          if (keys.length != picks.size || keys.toSet != picks.toSet)
            Some(s"gather returned ${keys.length} frames, not the ${picks.size} requested")
          else frames.collectFirst {
            case f if Fixtures.hash(f.data) != manifest.hash(f.streamId, f.index) =>
              s"frame ${f.streamId}/${f.index} differs from the reference decode"
          }
        }, () => tr.decoded.map(a => Map("decoded" -> a.sum.toDouble,
          "returned" -> got.length.toDouble, "psnr_db" -> manifest.psnr)).getOrElse(Map.empty))
      }
    }
  }

  /** Decode a stream, resize it to half size, and store it re-encoded. */
  final class Transcode(seed: Long, state: File, spec: Fixtures.VideoSpec)
      extends VideoWorkload(seed, state, spec) {
    val name = "transcode"
    val warmupOps = 1
    private val (oh, ow) = (spec.h / 2, spec.w / 2)
    /** expected output: the source frames 2x2 box-averaged, which is what a
      * bilinear half-size resize samples */
    private lazy val truth: Map[Long, Seq[Array[Byte]]] = (0 until spec.streams).map { s =>
      s.toLong -> Fixtures.source(spec, s.toLong).map(f => half(f.data))
    }.toMap
    private def half(d: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](oh * ow * 3)
      for (y <- 0 until oh; x <- 0 until ow; c <- 0 until 3) {
        def px(yy: Int, xx: Int) = d(((2 * y + yy) * spec.w + 2 * x + xx) * 3 + c) & 0xff
        out((y * ow + x) * 3 + c) = ((px(0, 0) + px(0, 1) + px(1, 0) + px(1, 1) + 2) / 4).toByte
      }
      out
    }
    /** well below the ~28 dB measured (lossy 4:2:0 twice), far above the
      * <10 dB of a corrupted frame */
    val psnrFloor = 22.0

    def op(n: Long): () => Done = {
      val sid = order((n % spec.streams).toInt)
      () => {
        val frames = tr.force("store.frames", tr.call("store.frames")(
          VideoStore.frames(tr.spark, root, s"s$sid", tr.decoded, tr.codec)))
        val small = tr.force("kernel.resizeOp", tr.resizeOp(frames, Map(sid -> (ow, oh))))
        tr.call("store.ingest")(VideoStore.ingest(small, work, "transcoded", spec.gop,
          CacheMode.Overwrite, codec = tr.codec))
        var psnrs = Seq.empty[Double]
        Done(spec.frames, inject => {
          val codec = H264GopCodec.Default
          val out = VideoStore.segments(tr.spark, work, "transcoded").collect()
            .flatMap(s => codec.decodeGop(s.payload, s.streamId, s.startIndex)).sortBy(_.index)
          if (inject && out.nonEmpty) java.util.Arrays.fill(out.head.data, 0.toByte)
          psnrs = out.toSeq.map(f => Fixtures.psnr(f.data, truth(sid)(f.index.toInt)))
          if (out.map(_.index).toSeq != (0L until spec.frames) || out.exists(_.streamId != sid))
            Some(s"transcoded stream holds ${out.length} frames, expected ${spec.frames}")
          else if (out.exists(f => f.height != oh || f.width != ow))
            Some(s"transcoded frames are not ${ow}x$oh")
          else psnrs.zipWithIndex.collectFirst { case (p, i) if p < psnrFloor =>
            f"transcoded frame $i: PSNR $p%.1f dB < $psnrFloor dB" }
        }, () => Map("psnr_db" -> psnrs.sum / math.max(1, psnrs.size)) ++
          tr.decoded.map(a => Map("decoded" -> a.sum.toDouble,
            "returned" -> spec.frames.toDouble)).getOrElse(Map.empty))
      }
    }
  }

  /** One text shard per op: LSH candidates → connected components → keep
    * one doc per cluster → TF-IDF top-k neighbours → PageRank over them. */
  final class CorpusDedup(seed: Long, docs: Int, clusters: Int, pool: Int) extends Workload {
    val name = "corpus_dedup"
    val video: Option[Fixtures.VideoSpec] = None
    val warmupOps = 1
    /** the PageRank fixed-point unit (GraphRank.pageRank's default) */
    private val scale = 1000000000000L
    private val shards = (0 until pool).map(i =>
      Gen.shard(seed, i.toLong, docs, clusters, variants = 2, words = 40, edits = 1))
    private var tr: Tr = _
    def open(t: Tr): Unit = { tr = t }

    def op(n: Long): () => Done = {
      val sh = shards((n % pool).toInt)
      val spark = tr.spark
      import spark.implicits._
      // an RDD-backed input, like a scanned shard: a local Seq would become a
      // LocalRelation, which the optimizer evaluates on the driver at plan time
      val docsDf = spark.sparkContext.parallelize(sh.ids.zip(sh.texts).toSeq, 1).toDF("id", "text")
      () => {
        val pairs = tr.force("dedup.lshCandidatePairs", tr.call("dedup.lshCandidatePairs")(
          Dedup.lshCandidatePairs(docsDf, "id", "text", 64, 4)))
        val (labels, rounds) = tr.call("dedup.connectedComponents")(
          Dedup.connectedComponentsWithStats(docsDf, pairs, "id"))
        val lab = tr.call("dedup.connectedComponents.collect")(labels.collect())
        // each stage's small result is collected and handed on as a fresh
        // input, as a pipeline writing stage outputs would: one lazy plan over
        // all five stages makes Spark re-describe every cached layer on each
        // query (measured ~20 s per 300-doc op on a 4-core VM)
        val keep = lab.iterator.filter(r => r.getLong(0) == r.getLong(1)).map(_.getLong(0)).toSet
        val kept = tr.call("dedup.keepOne")(spark.sparkContext
          .parallelize(sh.ids.zip(sh.texts).filter(d => keep(d._1)).toSeq, 1).toDF("doc", "text"))
        val nbrs = tr.call("sim.topKNeighbors")(
          TfIdf.topKNeighbors(kept, "doc", "text", 5).select("doc", "id").as[(Long, Long)].collect())
        val ranks = tr.call("graph.pageRank")(GraphRank.pageRank(
          spark.sparkContext.parallelize(nbrs.toSeq, 1).toDF("src", "dst")).collect())
        Done(docs, inject => {
          val got = lab.map(r => r.getLong(0) -> r.getLong(1)).toMap
          val labels = if (inject) got.map { case (id, _) => id -> id } else got
          val mass = ranks.map(_.getLong(1)).sum * (if (inject) 2 else 1)
          val truth = sh.ids.zip(sh.cluster).toMap
          val comp = components(pairs.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))))
          val recovered = sh.ids.count(id => labels.get(id).contains(truth(id))).toDouble / docs
          if (labels.keySet != truth.keySet) Some(s"${labels.size} labels for $docs docs")
          else labels.collectFirst { case (id, c) if c != comp(id) =>
            s"doc $id labelled $c, but its component in the candidate graph is ${comp(id)}" }
          .orElse(if (recovered < 0.95) Some(f"only $recovered%.3f of docs carry their planted cluster")
            else None)
          .orElse(if (ranks.nonEmpty && math.abs(mass.toDouble / scale - 1.0) <= 1e-6) None
            else Some(s"PageRank mass ${mass.toDouble / scale} over ${ranks.length} nodes is not 1"))
        }, () => {
          val cand = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
          val truth = sh.ids.zip(sh.cluster).toMap
          Map("candidates" -> cand.length.toDouble,
            "true_candidates" -> cand.count { case (a, b) => truth(a) == truth(b) }.toDouble,
            "cc_rounds" -> rounds.toDouble)
        })
      }
    }

    /** connected components of a pair graph, each labelled by its smallest
      * id (union-find; roots are always their component's minimum) */
    private def components(pairs: Seq[(Long, Long)]): Long => Long = {
      val parent = mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      find
    }
  }
}
