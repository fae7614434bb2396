package perfbench

import graft.model.{FrameElem, FrameType}

/** Seeded input generators. The program under test only ever sees what
  * these produce; the benchmark keeps the generator-side truth (source
  * frames, planted duplicate clusters) to check results against.
  */
object Gen {

  /** splitmix64: a cheap, well-mixed hash for deterministic generation */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A synthetic RGB scene with real motion: a textured background that
    * pans by whole pixels per frame (so P-frames code it with motion
    * vectors) and a few textured rectangles moving at their own speeds.
    */
  final class Scene(seed: Long, val streamId: Long, val h: Int, val w: Int)
      extends Serializable {
    private val r = new java.util.Random(mix(seed * 1000003L + streamId))
    private val panX = r.nextInt(5) - 2
    private val panY = r.nextInt(3) - 1
    private val tint = Array.fill(3)(r.nextInt(64))
    private final case class Obj(x0: Int, y0: Int, vx: Int, vy: Int,
        ow: Int, oh: Int, rgb: Array[Int])
    private val objs = Array.fill(3) {
      val ow = w / 6 + r.nextInt(w / 4); val oh = h / 6 + r.nextInt(h / 4)
      Obj(r.nextInt(w), r.nextInt(h), r.nextInt(7) - 3, r.nextInt(5) - 2,
        ow, oh, Array.fill(3)(r.nextInt(256)))
    }

    def frame(index: Long): FrameElem = {
      val data = new Array[Byte](h * w * 3)
      val t = index.toInt
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val bx = x + panX * t; val by = y + panY * t
          // smooth diagonal ramps plus a fine texture tied to the scene, not
          // the screen, so panning moves it as a whole
          val tex = ((bx * 7) ^ (by * 13)) & 15
          var rr = 40 + tint(0) + ((bx + by) & 127) + tex
          var gg = 60 + tint(1) + ((2 * bx - by) & 63) + tex
          var bb = 80 + tint(2) + ((bx - 2 * by) & 63) + (tex >> 1)
          var k = 0
          while (k < objs.length) {
            val o = objs(k)
            val ox = Math.floorMod(o.x0 + o.vx * t, w + o.ow) - o.ow
            val oy = Math.floorMod(o.y0 + o.vy * t, h + o.oh) - o.oh
            if (x >= ox && x < ox + o.ow && y >= oy && y < oy + o.oh) {
              val ot = ((x - ox) * 5 + (y - oy) * 3) & 31
              rr = o.rgb(0) + ot - 16; gg = o.rgb(1) + ot - 16; bb = o.rgb(2) - ot + 16
            }
            k += 1
          }
          val p = (y * w + x) * 3
          data(p) = clip(rr); data(p + 1) = clip(gg); data(p + 2) = clip(bb)
          x += 1
        }
        y += 1
      }
      FrameElem(streamId, index, h, w, 3, FrameType.U8, data)
    }

    private def clip(v: Int): Byte = (if (v < 0) 0 else if (v > 255) 255 else v).toByte
  }

  /** one generated text shard: docs plus the planted cluster of each doc
    * (`cluster(i)` = id of the cluster's base doc, or the doc's own id) */
  final case class Shard(ids: Array[Long], texts: Array[String], cluster: Array[Long])

  /** A text shard with planted near-duplicate clusters. Words follow a
    * Zipf-like law over a fixed vocabulary, so frequent bigrams give the
    * TF-IDF neighbour graph real structure. Each cluster is a base doc and
    * `variants` copies with `edits` random word substitutions each —
    * close enough that MinHash LSH recovers them with near certainty, far
    * from every unrelated doc.
    */
  def shard(seed: Long, shardNo: Long, docs: Int, clusters: Int, variants: Int,
      words: Int, edits: Int, vocab: Int = 3000): Shard = {
    val r = new java.util.Random(mix(seed * 7919L + shardNo))
    // inverse-CDF sampling of rank ~ 1/(rank + 10)
    val cdf = {
      val wts = Array.tabulate(vocab)(i => 1.0 / (i + 10))
      val s = wts.sum; var acc = 0.0
      wts.map { x => acc += x / s; acc }
    }
    def word(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(vocab - 1, if (i >= 0) i else -i - 1)
    }
    def name(i: Int): String = {
      val sb = new StringBuilder("w")
      var v = i
      do { sb.append(('a' + v % 26).toChar); v /= 26 } while (v > 0)
      sb.toString
    }
    val texts = new Array[String](docs)
    val cluster = new Array[Long](docs)
    // ids are a seeded permutation, so cluster members are not adjacent
    val perm = (0 until docs).toArray
    for (i <- docs - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val ids = perm.map(p => shardNo * 1000000L + p)
    var d = 0
    for (_ <- 0 until clusters) {
      val base = Array.fill(words)(word())
      val baseId = ids(d)
      texts(d) = base.map(name).mkString(" "); cluster(d) = baseId; d += 1
      for (_ <- 0 until variants) {
        val v = base.clone()
        for (_ <- 0 until edits) v(r.nextInt(words)) = word()
        texts(d) = v.map(name).mkString(" "); cluster(d) = baseId; d += 1
      }
    }
    while (d < docs) {
      texts(d) = Array.fill(words)(word()).map(name).mkString(" ")
      cluster(d) = ids(d); d += 1
    }
    // a cluster is labelled by its smallest member id, like the CC output
    val minOf = ids.indices.groupBy(cluster(_)).map { case (c, is) => c -> is.map(ids(_)).min }
    Shard(ids, texts, cluster.map(minOf))
  }
}
