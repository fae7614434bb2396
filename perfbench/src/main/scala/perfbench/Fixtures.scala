package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions.col

import graft.model.{CacheMode, FrameElem}
import graft.sources.{H264GopCodec, NamedStorage, VideoStore}

/** Encoded video stores, built once per parameter set in a process of their
  * own, so a run that builds them and a run that reuses them start their
  * measured process in the same state. The stores do not depend on the
  * seed (encoding is slow: a store per seed would cost every run of a seed
  * sweep seconds of encoding); the seed picks what each op reads.
  *
  * A manifest, written last, records the reference decode of every frame
  * and a fingerprint of the encoder. Opening a fixture re-encodes the
  * fingerprint clip, counts segments and re-decodes a probe frame, so a
  * store written by another encoder, or half written, is refused instead
  * of silently reused.
  */
object Fixtures {

  /** the scenes' own seed: fixed, so a store serves every run seed */
  val SceneSeed = 1L

  final case class VideoSpec(streams: Int, frames: Int, h: Int, w: Int, gop: Int,
      perStreamStores: Boolean) {
    def key: String = s"${streams}s${frames}f${h}x${w}g$gop" + (if (perStreamStores) "p" else "m")
    /** store name -> the streams it holds */
    def stores: Seq[(String, Seq[Long])] =
      if (perStreamStores) (0 until streams).map(i => s"s$i" -> Seq(i.toLong))
      else Seq("all" -> (0 until streams).map(_.toLong))
  }

  final class Mismatch(msg: String) extends RuntimeException(msg)

  final case class Manifest(props: java.util.Properties) {
    def get(k: String): String = Option(props.getProperty(k))
      .getOrElse(throw new Mismatch(s"manifest lacks $k"))
    def hash(s: Long, i: Long): Long = get(s"hash.$s.$i").toLong
    def hist(s: Long, i: Long): Array[Int] = get(s"hist.$s.$i").split(',').map(_.toInt)
    def psnr: Double = get("psnr_db").toDouble
    def buildS: Double = get("build_s").toDouble
  }

  def dir(state: File, workload: String, spec: VideoSpec): File =
    new File(state, s"fixtures/$workload-${spec.key}")

  private def manifestFile(d: File) = new File(d, "manifest.properties")

  def load(d: File): Option[Manifest] = {
    val f = manifestFile(d)
    if (!f.isFile) None
    else {
      val p = new java.util.Properties()
      val in = Files.newBufferedReader(f.toPath, UTF_8)
      try p.load(in) finally in.close()
      Some(Manifest(p))
    }
  }

  /** stable 64-bit content hash */
  def hash(bytes: Array[Byte]): Long = {
    val a = scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x5eed)
    val b = scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x0b5e55ed)
    (a.toLong << 32) ^ (b.toLong & 0xffffffffL)
  }

  /** 16-bin per-channel histogram, computed here independently of graft */
  def histogram(f: FrameElem): Array[Int] = {
    val bins = new Array[Int](48)
    var p = 0
    while (p < f.data.length) { bins((p % 3) * 16 + ((f.data(p) & 0xff) >> 4)) += 1; p += 1 }
    bins
  }

  def psnr(a: Array[Byte], b: Array[Byte]): Double = {
    require(a.length == b.length, s"size ${a.length} != ${b.length}")
    var se = 0.0; var i = 0
    while (i < a.length) { val d = (a(i) & 0xff) - (b(i) & 0xff); se += d * d; i += 1 }
    if (se == 0) 99.0 else 10 * math.log10(255.0 * 255.0 * a.length / se)
  }

  def source(spec: VideoSpec, sid: Long): Seq[FrameElem] = {
    val sc = new Gen.Scene(SceneSeed, sid, spec.h, spec.w)
    (0 until spec.frames).map(i => sc.frame(i.toLong))
  }

  /** hash of the encoder's output for a fixed two-frame 16x16 clip (one
    * intra, one inter frame): changes when the encoder's output does, and
    * costs little even before the JIT has compiled the encoder */
  private def fingerprint(): String = {
    val sc = new Gen.Scene(SceneSeed, 0L, 16, 16)
    hash(H264GopCodec.Default.encodeGop((0 until 2).map(i => sc.frame(i.toLong)))).toString
  }

  /** Build the stores and write the manifest last (atomic rename). */
  def build(spark: SparkSession, d: File, spec: VideoSpec): Unit = {
    val t0 = System.nanoTime()
    deleteRecursively(d)
    d.mkdirs()
    val root = new File(d, "stores").getAbsolutePath
    val codec = H264GopCodec.Default
    val p = new java.util.Properties()
    var psnrSum = 0.0; var nFrames = 0
    spec.stores.foreach { case (name, sids) =>
      val src = sids.flatMap(s => source(spec, s))
      VideoStore.ingest(spark.createDataset(src)(Encoders.product[FrameElem]), root, name,
        spec.gop, CacheMode.Overwrite, codec = codec)
      val bySrc = src.map(f => (f.streamId, f.index) -> f).toMap
      VideoStore.segments(spark, root, name).collect().foreach { s =>
        codec.decodeGop(s.payload, s.streamId, s.startIndex).foreach { f =>
          p.setProperty(s"hash.${f.streamId}.${f.index}", hash(f.data).toString)
          p.setProperty(s"hist.${f.streamId}.${f.index}", histogram(f).mkString(","))
          psnrSum += psnr(f.data, bySrc((f.streamId, f.index)).data); nFrames += 1
        }
      }
    }
    require(nFrames == spec.streams * spec.frames,
      s"fixture decoded $nFrames frames, expected ${spec.streams * spec.frames}")
    p.setProperty("psnr_db", (psnrSum / nFrames).toString)
    p.setProperty("build_s", ((System.nanoTime() - t0) / 1e9).toString)
    p.setProperty("spec", spec.key)
    p.setProperty("fingerprint", fingerprint())
    val tmp = new File(d, "manifest.tmp")
    val out = Files.newBufferedWriter(tmp.toPath, UTF_8)
    try p.store(out, "perfbench fixture manifest") finally out.close()
    Files.move(tmp.toPath, manifestFile(d).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Open a built fixture: the encoder must still produce the recorded
    * fingerprint, every store must hold its segment count, and the first
    * frame of the first store must decode to the manifest's frame. */
  def open(spark: SparkSession, d: File, spec: VideoSpec): Manifest = {
    val m = load(d).getOrElse(throw new Mismatch(s"no fixture manifest in $d"))
    if (m.get("spec") != spec.key)
      throw new Mismatch(s"fixture in $d is for ${m.get("spec")}, not ${spec.key}")
    if (m.get("fingerprint") != fingerprint())
      throw new Mismatch(s"fixture in $d was written by a different encoder")
    val root = new File(d, "stores").getAbsolutePath
    val segsPerStream = (spec.frames + spec.gop - 1) / spec.gop
    spec.stores.foreach { case (name, sids) =>
      val n = NamedStorage.len(spark, root, name)
      if (n != sids.size * segsPerStream)
        throw new Mismatch(s"fixture store $name holds $n segments, not ${sids.size * segsPerStream}")
    }
    val (name, sids) = spec.stores.head
    val seg = VideoStore.segments(spark, root, name)
      .filter(col("streamId") === sids.head && col("segId") === 0L).collect()
    val first = seg.headOption.toSeq.flatMap(s =>
      H264GopCodec.Default.decodeGop(s.payload, s.streamId, s.startIndex, upTo = 0))
    if (first.size != 1 || hash(first.head.data) != m.hash(sids.head, 0L))
      throw new Mismatch(s"fixture frame ${sids.head}/0 of $name decodes differently")
    m
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
