package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.FrameElem
import graft.operators.StdKernels

/** Image-column queries — the reference's `ColumnType.Image`
  * (`scanner/metadata.proto:30-47`: JPEG/PNG/BMP groups) realized as
  * Spark's `binaryFile` source feeding the same frame-kernel pipeline as
  * video. Files are opaque binary rows `(path, content)`; filename carries
  * (streamId, index); decode is a distributed map into `FrameElem`.
  *
  * Inputs are PNGs generated once from the deterministic synthetic frames
  * (no image corpus ships in the test data), so these are rows-only checks
  * like the video queries; ImageEncoder round-trip semantics are pinned by
  * KernelsSpec.
  */
object ImageQueries {

  private val frameEnc = Encoders.product[FrameElem]

  /** 2 streams x 20 PNGs of the ramp frames (`img_`, the decode/
    * histogram/aHash inputs) and of the hash-pixel texture frames (`tex_`,
    * the pHash inputs — see StdKernels.texturedFrame for why the ramp is
    * pathological for spectral hashing)
    */
  private def ensureImages(): String = {
    def png(prefix: String, sid: Long, i: Int): Array[Byte] = StdKernels.encodePng(
      if (prefix == "img") StdKernels.syntheticFrame(sid, i.toLong, 16, 24, 3)
      else StdKernels.texturedFrame(sid, i.toLong, 16, 24, 3))
    Fixtures.dir("images", Seq(2, 20, png("img", 0L, 0), png("tex", 0L, 0))) { d =>
      for (prefix <- Seq("img", "tex"); sid <- 0L until 2L; i <- 0 until 20)
        Files.write(Paths.get(d, s"${prefix}_${sid}_$i.png"), png(prefix, sid, i))
    }
  }

  /** binaryFile rows decoded to frames, keyed by filename-borne ids;
    * `prefix` selects the ramp (`img`) or texture (`tex`) set
    */
  private def frames(s: SparkSession, dir: String, prefix: String = "img") = {
    val bin = s.read.format("binaryFile").load(s"$dir/${prefix}_*.png")
      .select(col("path"), col("content"))
    bin.as[(String, Array[Byte])](Encoders.tuple(Encoders.STRING, Encoders.BINARY))
      .map { case (path, bytes) =>
        val name  = path.split('/').last.stripSuffix(".png")
        val parts = name.split('_') // <prefix>_<sid>_<idx>
        StdKernels.decodeImage(parts(1).toLong, parts(2).toLong, bytes)
      }(frameEnc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // image files -> dims + content hash (the Image column scan itself)
    // emitted per-PIXEL: the DuckDB oracle regenerates the ramp source,
    // so the gate verifies the PNG encode -> file -> decode roundtrip
    // against independent truth (PNG is lossless by spec)
    "img_decode" -> ((s, _) => {
      val root = ensureImages()
      import s.implicits._
      frames(s, root)
        .flatMap(f => f.data.indices.map(p =>
          (f.streamId, f.index, f.height, f.width, p.toLong, f.data(p) & 0xff)))
        .toDF("streamId", "index", "height", "width", "pos", "pixel")
        .orderBy("streamId", "index", "pos")
    }),

    // image column feeding the SAME kernel pipeline as video frames:
    // decode -> per-stream resize config -> histogram. Emitted as nonzero
    // (channel, bucket, n) rows: the DuckDB oracle regenerates the ramp
    // pixels, replays the bilinear resize (2x/4x scales land the weights
    // exactly on 0.5, so the blend reduces to exact integer math) and
    // rebuilds the histogram — PNG encode/decode + resize + histogram
    // verified against independent truth
    "img_histogram" -> ((s, _) => {
      val root    = ensureImages()
      val resized = StdKernels.resizeOp(frames(s, root),
        Map(0L -> ((12, 8)), 1L -> ((6, 4))))
      import s.implicits._
      StdKernels.histogramOp(resized).flatMap { e =>
        val bins = StdKernels.histogramBins(e.payload)
        bins.indices.collect { case i if bins(i) != 0 =>
          (e.streamId, e.index, i / 16, i % 16, bins(i))
        }
      }.toDF("streamId", "index", "channel", "bucket", "n")
        .orderBy("streamId", "index", "channel", "bucket")
    }),

    // perceptual near-dup for IMAGES: aHash fingerprints + banded Hamming
    // pairs (4x16-bit bands, pigeonhole-complete for hamming <= 3) — the
    // multimodal analog of SimHash text dedup. Inputs: the 40 PNGs plus a
    // brightness-shifted variant of each (+3, clipped), which aHash maps
    // to (near-)identical bits because thresholding is mean-relative.
    "img_ahash_pairs" -> ((s, _) =>
      hashPairs(s, StdKernels.averageHash,
        b => math.min(255, (b & 0xff) + 3).toByte)),

    // DCT perceptual near-dup (pHash): same banded-Hamming core, stronger
    // fingerprint — inputs are the TEXTURE PNGs (the ramp's periodic
    // spectrum is pathological for DCT hashing, see texturedFrame), the
    // variants contrast-scaled (x0.92) AND brightness-shifted (+5), the
    // photometric edit pair pHash is built for. 8x8-bit bands (complete
    // for Hamming < 8): resize rounding on 16x24 textures leaves variant
    // pairs at Hamming <= 4 while distinct textures sit >= 10 — the
    // narrower 4x16 banding of aHash would miss real variant pairs here.
    "img_phash_pairs" -> ((s, _) =>
      hashPairs(s, StdKernels.perceptualHash,
        b => math.min(255, math.round((b & 0xff) * 0.92).toInt + 5).toByte,
        prefix = "tex", bitsPerBand = 8, maxHamming = 7)),

    // image DEDUP CLUSTERS: the pHash near-dup pairs fed through the
    // same distributed connected-components core as text dedup — one
    // cluster id per image, cluster sizes, min-id keeper flags. The
    // multimodal half of the dedup story: identical plan skeleton
    // (banded candidates -> CC -> argmin keeper), different fingerprint.
    "img_dedup_clusters" -> ((s, _) => {
      val pairs = hashPairs(s, StdKernels.perceptualHash,
        b => math.min(255, math.round((b & 0xff) * 0.92).toInt + 5).toByte,
        prefix = "tex", bitsPerBand = 8, maxHamming = 7)
      val root = ensureImages()
      import s.implicits._
      val ids = frames(s, root, "tex")
        .flatMap(f => Seq(f.streamId * 1000L + f.index,
          f.streamId * 1000L + f.index + 100))(Encoders.scalaLong)
        .toDF("id")
      val cc = graft.functions.Dedup.connectedComponents(
        ids, pairs.select(col("a"), col("b")), "id")
      val sizes = cc.groupBy(col("cluster"))
        .agg(count(lit(1)).as("cluster_size"), min(col("id")).as("keeper_id"))
      cc.join(sizes, Seq("cluster"))
        .select(col("id"), col("cluster"), col("cluster_size"),
          (col("id") === col("keeper_id")).as("keeper"))
        .orderBy("id")
    }),

    // Blur/quality filtering (variance of Laplacian, Pech-Pacheco 2000):
    // each texture image scored sharp AND through a 3x3 box blur — the
    // data-quality gate that drops defocused/low-detail images from a
    // multimodal corpus. The pin freezes both scores (4 dp); the
    // invariant blur_detected (= blurred score strictly below sharp)
    // must hold for EVERY image, so a regression in either the kernel or
    // the blur shows as a hash mismatch, not a silent drift.
    "img_blur_scores" -> ((s, _) => {
      val root = ensureImages()
      import s.implicits._
      frames(s, root, "tex").map { f =>
        val sharp = StdKernels.laplacianVariance(f)
        val blur  = StdKernels.laplacianVariance(StdKernels.blur(f, 1))
        (f.streamId, f.index,
          math.round(sharp * 10000) / 10000.0,
          math.round(blur * 10000) / 10000.0,
          blur < sharp)
      }.toDF("streamId", "index", "lap_sharp", "lap_blur", "blur_detected")
        .orderBy("streamId", "index")
    })
  )

  /** the shared near-dup body of both perceptual-hash queries: base PNGs
    * plus a per-byte photometric variant (index + 100), the 64-bit hash
    * split into 64/bitsPerBand bands (one id/banding convention — a
    * change here changes BOTH queries together), candidates through the
    * common bandedHammingPairs core.
    */
  private def hashPairs(s: SparkSession, hashFn: FrameElem => Long,
      variantByte: Byte => Byte, prefix: String = "img",
      bitsPerBand: Int = 16, maxHamming: Int = 3): DataFrame = {
    val nBands = 64 / bitsPerBand
    val mask   = (1L << bitsPerBand) - 1
    val root = ensureImages()
    val base = frames(s, root, prefix)
    val variants = base.map(f => f.copy(index = f.index + 100,
      data = f.data.map(variantByte)))(frameEnc)
    val keyed = graft.CacheScope.cache(base.union(variants)
      .map(f => (f.streamId * 1000L + f.index, hashFn(f)))(
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .toDF("id", "h")
      .select(col("id"), array((0 until nBands).map(b =>
        shiftright(col("h"), b * bitsPerBand).bitwiseAND(lit(mask))): _*).as("bands"))
      ) // cached: hashing feeds both sides of the candidate join
    graft.functions.Dedup.bandedHammingPairs(keyed, maxHamming)
      .orderBy("a", "b")
  }

  /** REAL DuckDB recomputation where the PNG source is closed-form:
    * ramp pixels (sid*31+idx*7+p) mod 256, texture pixels
    * bits 24..31 of (sid*1000003+idx*40503+p)*2654435761 (64-bit wrap —
    * only the low 32 bits of the product matter for those bits, so BIGINT
    * arithmetic never overflows). img_ahash_pairs replays the
    * whole aHash chain in SQL — PNG-decoded ramp + clamped variant,
    * grayscale (channel mean with per-channel mod-256 wrap), bilinear
    * 8x8 downsample at exact weights (16->8 rows is (a+b+1)//2; 24->8
    * cols lands on x0=3x+1 with weight 0), the integer-exact mean
    * threshold (64v >= sum), and pairwise Hamming <= 3 (the 4x16
    * banding is COMPLETE at that radius by pigeonhole, so candidates =
    * all qualifying pairs). The DCT queries ([[phashChain]]) replay
    * the whole pHash chain is replayed the same way —
    * the 16x24 -> 32x32 bilinear upsample's weights are exact eighths/
    * quarters so the resample is INTEGER arithmetic ((v32+16)//32), and
    * the DCT-II cosine sums are safe at double precision because the
    * textured fixture separates every AC coefficient from the median by
    * >= 0.0497 (measured over all 80 images) while cross-engine FP
    * disagreement (StrictMath.cos + fixed summation order vs libm cos +
    * DuckDB's aggregation order) is bounded near 1e-8 — six orders of
    * headroom. Cluster labels replay through the same recursive
    * min-propagation CTE as the text dedup_clusters oracle.
    */
  /** the shared pHash replay (texture pixels -> photometric variant ->
    * grayscale -> exact-integer 32x32 bilinear -> DCT-II -> median
    * threshold -> 63-bit pairwise Hamming), ending at the `ham` relation
    * of all (a, b, hamming) pairs with a < b. MATERIALIZED hints keep
    * DuckDB from inlining the pixel CTE into the 4-way resample join
    * (the inlined plan re-derives 368k pixels per corner and explodes).
    * The always-0 DC bit is excluded from both sides: it can never
    * differ, so Hamming counts are unchanged.
    */
  private val phashChain: String =
    """px AS MATERIALIZED (
      |  SELECT a.range AS sid, b.range AS bidx, v.range AS var, c.range AS p,
      |    CASE WHEN v.range = 1
      |      THEN LEAST(255, CAST(FLOOR(((((a.range*1000003 + b.range*40503 + c.range) * 2654435761) % 4294967296) // 16777216) * 0.92 + 0.5) AS BIGINT) + 5)
      |      ELSE (((a.range*1000003 + b.range*40503 + c.range) * 2654435761) % 4294967296) // 16777216
      |    END AS val
      |  FROM range(0,2) a, range(0,20) b, range(0,2) v, range(0,1152) c),
      |g AS MATERIALIZED (
      |  SELECT sid, bidx, var, (p//3)//24 AS y, (p//3)%24 AS x, SUM(val)//3 AS gv
      |  FROM px GROUP BY 1,2,3,4,5),
      |coords AS MATERIALIZED ( -- 32x32 target -> 16x24 source: wy quarters, wx eighths
      |  SELECT ty.range AS y, tx.range AS x,
      |    GREATEST(0, 2*ty.range - 1) // 4 AS y0,
      |    LEAST(15, GREATEST(0, 2*ty.range - 1) // 4 + 1) AS y1,
      |    GREATEST(0, 2*ty.range - 1) % 4 AS wy,
      |    GREATEST(0, 6*tx.range - 1) // 8 AS x0,
      |    LEAST(23, GREATEST(0, 6*tx.range - 1) // 8 + 1) AS x1,
      |    GREATEST(0, 6*tx.range - 1) % 8 AS wx
      |  FROM range(0,32) ty, range(0,32) tx),
      |rs AS MATERIALIZED ( -- exact-integer bilinear: v = v32/32, round = (v32+16)//32
      |  SELECT p00.sid, p00.bidx, p00.var, c.y, c.x,
      |    ((p00.gv*(8-c.wx) + p01.gv*c.wx)*(4-c.wy)
      |     + (p10.gv*(8-c.wx) + p11.gv*c.wx)*c.wy + 16) // 32 AS gv
      |  FROM coords c
      |  JOIN g p00 ON p00.y = c.y0 AND p00.x = c.x0
      |  JOIN g p01 ON p01.sid=p00.sid AND p01.bidx=p00.bidx AND p01.var=p00.var AND p01.y = c.y0 AND p01.x = c.x1
      |  JOIN g p10 ON p10.sid=p00.sid AND p10.bidx=p00.bidx AND p10.var=p00.var AND p10.y = c.y1 AND p10.x = c.x0
      |  JOIN g p11 ON p11.sid=p00.sid AND p11.bidx=p00.bidx AND p11.var=p00.var AND p11.y = c.y1 AND p11.x = c.x1),
      |dct AS MATERIALIZED (
      |  SELECT r.sid, r.bidx, r.var, f.v, f.u,
      |    SUM(r.gv * COS(PI()*(2*r.x+1)*f.u/64.0) * COS(PI()*(2*r.y+1)*f.v/64.0)) AS coef
      |  FROM rs r, (SELECT fv.range AS v, fu.range AS u FROM range(0,8) fv, range(0,8) fu) f
      |  GROUP BY 1,2,3,4,5),
      |med AS MATERIALIZED ( -- exact element median of the 63 ACs (odd count)
      |  SELECT sid, bidx, var, MEDIAN(coef) AS med
      |  FROM dct WHERE NOT (v = 0 AND u = 0) GROUP BY 1,2,3),
      |bit AS MATERIALIZED (
      |  SELECT d.sid*1000 + d.bidx + CASE WHEN d.var = 1 THEN 100 ELSE 0 END AS img,
      |    d.v*8 + d.u AS cell, CASE WHEN d.coef > m.med THEN 1 ELSE 0 END AS bit
      |  FROM dct d JOIN med m ON m.sid=d.sid AND m.bidx=d.bidx AND m.var=d.var
      |  WHERE NOT (d.v = 0 AND d.u = 0)),
      |ham AS (
      |  SELECT x.img AS a, y.img AS b,
      |    SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS hamming
      |  FROM bit x JOIN bit y ON x.cell = y.cell AND x.img < y.img
      |  GROUP BY 1, 2)""".stripMargin

  val oracles: Map[String, String] = Map(
    // DCT pHash near-dup pairs: the full chain replayed, 8x8-bit banding
    // complete for Hamming <= 7 so candidates = all qualifying pairs
    "img_phash_pairs" ->
      s"""WITH $phashChain
         |SELECT a, b, CAST(hamming AS BIGINT) AS hamming
         |FROM ham WHERE hamming <= 7 ORDER BY 1, 2""".stripMargin,
    // pHash pairs -> connected components (recursive min-propagation,
    // the dedup_clusters oracle pattern) -> sizes + min-id keeper
    "img_dedup_clusters" ->
      s"""WITH RECURSIVE $phashChain,
         |prs AS (SELECT a, b FROM ham WHERE hamming <= 7),
         |edges AS (SELECT a, b FROM prs UNION ALL SELECT b AS a, a AS b FROM prs),
         |nodes AS (SELECT DISTINCT img AS id FROM bit),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id),
         |lab AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
         |sz AS (SELECT cluster, COUNT(*) AS cluster_size, MIN(id) AS keeper_id
         |  FROM lab GROUP BY cluster)
         |SELECT lab.id, lab.cluster, sz.cluster_size,
         |  lab.id = sz.keeper_id AS keeper
         |FROM lab JOIN sz USING (cluster) ORDER BY id""".stripMargin,
    "img_ahash_pairs" ->
      """WITH imgs AS (
        |  SELECT a.range AS sid, b.range AS bidx, v.range = 1 AS var,
        |    a.range*1000 + b.range + CASE WHEN v.range = 1 THEN 100 ELSE 0 END AS img
        |  FROM range(0,2) a, range(0,20) b, range(0,2) v),
        |g AS ( -- grayscale at the 8x8 sample sites: rows 2y/2y+1, col 3x+1
        |  SELECT img, sy.range AS sy, sx.range AS sx, r.range AS dy,
        |    CASE WHEN var THEN
        |      (least(255, (sid*31 + bidx*7 + (((2*sy.range + r.range)*24 + 3*sx.range + 1)*3)) % 256 + 3)
        |     + least(255, (sid*31 + bidx*7 + (((2*sy.range + r.range)*24 + 3*sx.range + 1)*3 + 1)) % 256 + 3)
        |     + least(255, (sid*31 + bidx*7 + (((2*sy.range + r.range)*24 + 3*sx.range + 1)*3 + 2)) % 256 + 3)) // 3
        |    ELSE
        |      ( ((sid*31 + bidx*7 + (((2*sy.range + r.range)*24 + 3*sx.range + 1)*3)) % 256)
        |      + ((sid*31 + bidx*7 + (((2*sy.range + r.range)*24 + 3*sx.range + 1)*3 + 1)) % 256)
        |      + ((sid*31 + bidx*7 + (((2*sy.range + r.range)*24 + 3*sx.range + 1)*3 + 2)) % 256)) // 3
        |    END AS gr
        |  FROM imgs, range(0,8) sy, range(0,8) sx, range(0,2) r),
        |sm AS ( -- bilinear 2x rows (round-half-up), col weight 0
        |  SELECT img, sy, sx,
        |    (max(CASE WHEN dy = 0 THEN gr END) +
        |     max(CASE WHEN dy = 1 THEN gr END) + 1) // 2 AS v
        |  FROM g GROUP BY img, sy, sx),
        |tot AS (SELECT img, SUM(v) AS s FROM sm GROUP BY img),
        |bit AS (
        |  SELECT sm.img, sy*8 + sx AS cell,
        |    CASE WHEN 64*v >= s THEN 1 ELSE 0 END AS bit
        |  FROM sm JOIN tot USING (img)),
        |ham AS (
        |  SELECT x.img AS a, y.img AS b,
        |    SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS hamming
        |  FROM bit x JOIN bit y ON x.cell = y.cell AND x.img < y.img
        |  GROUP BY 1, 2)
        |SELECT a, b, CAST(hamming AS BIGINT) AS hamming
        |FROM ham WHERE hamming <= 3 ORDER BY 1, 2""".stripMargin,
    // PNG roundtrip fidelity: decoded pixels equal the ramp definition
    "img_decode" ->
      """WITH px AS (
        |  SELECT a.range AS sid, b.range AS idx, c.range AS p,
        |    (a.range*31 + b.range*7 + c.range) % 256 AS v
        |  FROM range(0,2) a, range(0,20) b, range(0,1152) c)
        |SELECT sid AS "streamId", idx AS "index", 16 AS height, 24 AS width,
        |  CAST(p AS BIGINT) AS pos, CAST(v AS INT) AS pixel
        |FROM px ORDER BY 1, 2, 5""".stripMargin,
    // bilinear at exact 2x (stream 0: 16x24 -> 8x12, src y0 = 2y, wy = .5)
    // and 4x (stream 1: -> 4x6, y0 = 4y+1, wy = .5): the 4-neighbor blend
    // is (p00+p01+p10+p11 + 2) // 4 exactly (round-half-up)
    "img_histogram" ->
      """WITH tgt AS (
        |  SELECT a.range AS sid, b.range AS idx, y.range AS y, x.range AS x, k.range AS k,
        |    CASE WHEN a.range = 0 THEN 2*y.range ELSE 4*y.range + 1 END AS y0,
        |    CASE WHEN a.range = 0 THEN 2*x.range ELSE 4*x.range + 1 END AS x0
        |  FROM range(0,2) a, range(0,20) b, range(0,8) y, range(0,12) x, range(0,3) k
        |  WHERE (a.range = 0) OR (y.range < 4 AND x.range < 6)),
        |v AS (
        |  SELECT sid, idx, k,
        |    (( (sid*31 + idx*7 + (y0*24 + x0)*3 + k) % 256
        |     + (sid*31 + idx*7 + (y0*24 + x0 + 1)*3 + k) % 256
        |     + (sid*31 + idx*7 + ((y0 + 1)*24 + x0)*3 + k) % 256
        |     + (sid*31 + idx*7 + ((y0 + 1)*24 + x0 + 1)*3 + k) % 256) + 2) // 4 AS px
        |  FROM tgt)
        |SELECT sid AS "streamId", idx AS "index", CAST(k AS INT) AS channel,
        |  CAST(px // 16 AS INT) AS bucket, CAST(COUNT(*) AS INT) AS n
        |FROM v GROUP BY 1,2,3,4 ORDER BY 1,2,3,4""".stripMargin,
    // texture pixels -> channel-mean grayscale (// 3) -> [sharp | r=1 box
    // blur (interior only, // 9)] -> 4-neighbor Laplacian over the
    // interior -> population variance (integer sums exact below 2^53,
    // then the same double divisions) -> round-half-up at 4 dp
    "img_blur_scores" ->
      """WITH px AS (
        |  SELECT a.range AS sid, b.range AS idx, c.range AS p,
        |    (((a.range*1000003 + b.range*40503 + c.range) * 2654435761) % 4294967296) // 16777216 AS v
        |  FROM range(0,2) a, range(0,20) b, range(0,1152) c),
        |cell AS (
        |  SELECT sid, idx, (p // 3) // 24 AS y, (p // 3) % 24 AS x, p % 3 AS k, v FROM px),
        |blurred AS (
        |  SELECT c0.sid, c0.idx, c0.y, c0.x, c0.k,
        |    CASE WHEN c0.y BETWEEN 1 AND 14 AND c0.x BETWEEN 1 AND 22 THEN
        |      (SELECT SUM(c1.v) // 9 FROM cell c1
        |       WHERE c1.sid = c0.sid AND c1.idx = c0.idx AND c1.k = c0.k
        |         AND c1.y BETWEEN c0.y - 1 AND c0.y + 1 AND c1.x BETWEEN c0.x - 1 AND c0.x + 1)
        |    ELSE c0.v END AS v
        |  FROM cell c0),
        |gs AS (SELECT sid, idx, y, x, SUM(v) // 3 AS g FROM cell GROUP BY sid, idx, y, x),
        |gb AS (SELECT sid, idx, y, x, SUM(v) // 3 AS g FROM blurred GROUP BY sid, idx, y, x),
        |laps AS (
        |  SELECT g0.sid, g0.idx, 4*g0.g - gu.g - gd.g - gl.g - gr.g AS lap
        |  FROM gs g0
        |  JOIN gs gu ON gu.sid=g0.sid AND gu.idx=g0.idx AND gu.y=g0.y-1 AND gu.x=g0.x
        |  JOIN gs gd ON gd.sid=g0.sid AND gd.idx=g0.idx AND gd.y=g0.y+1 AND gd.x=g0.x
        |  JOIN gs gl ON gl.sid=g0.sid AND gl.idx=g0.idx AND gl.y=g0.y AND gl.x=g0.x-1
        |  JOIN gs gr ON gr.sid=g0.sid AND gr.idx=g0.idx AND gr.y=g0.y AND gr.x=g0.x+1
        |  WHERE g0.y BETWEEN 1 AND 14 AND g0.x BETWEEN 1 AND 22),
        |lapb AS (
        |  SELECT g0.sid, g0.idx, 4*g0.g - gu.g - gd.g - gl.g - gr.g AS lap
        |  FROM gb g0
        |  JOIN gb gu ON gu.sid=g0.sid AND gu.idx=g0.idx AND gu.y=g0.y-1 AND gu.x=g0.x
        |  JOIN gb gd ON gd.sid=g0.sid AND gd.idx=g0.idx AND gd.y=g0.y+1 AND gd.x=g0.x
        |  JOIN gb gl ON gl.sid=g0.sid AND gl.idx=g0.idx AND gl.y=g0.y AND gl.x=g0.x-1
        |  JOIN gb gr ON gr.sid=g0.sid AND gr.idx=g0.idx AND gr.y=g0.y AND gr.x=g0.x+1
        |  WHERE g0.y BETWEEN 1 AND 14 AND g0.x BETWEEN 1 AND 22),
        |vs AS (
        |  SELECT sid, idx,
        |    CAST(SUM(lap*lap) AS DOUBLE)/COUNT(*) - (CAST(SUM(lap) AS DOUBLE)/COUNT(*))*(CAST(SUM(lap) AS DOUBLE)/COUNT(*)) AS var
        |  FROM laps GROUP BY sid, idx),
        |vb AS (
        |  SELECT sid, idx,
        |    CAST(SUM(lap*lap) AS DOUBLE)/COUNT(*) - (CAST(SUM(lap) AS DOUBLE)/COUNT(*))*(CAST(SUM(lap) AS DOUBLE)/COUNT(*)) AS var
        |  FROM lapb GROUP BY sid, idx)
        |SELECT vs.sid AS "streamId", vs.idx AS "index",
        |  FLOOR(vs.var*10000 + 0.5)/10000 AS lap_sharp,
        |  FLOOR(vb.var*10000 + 0.5)/10000 AS lap_blur,
        |  vb.var < vs.var AS blur_detected
        |FROM vs JOIN vb ON vb.sid = vs.sid AND vb.idx = vs.idx
        |ORDER BY 1, 2""".stripMargin)
}
