package graft

import graft.functions.GraphStructure

class GraphStructureSpec extends SparkSpec {
  import spark.implicits._

  private def topk(rel: Seq[(Long, Long)], k: Int, cap: Int = 1000): Seq[(Long, Long, Long, Long)] =
    GraphStructure.coOccurrenceTopK(rel.toDF("ctx", "item"), "ctx", "item", k, cap)
      .orderBy("item", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  test("coOccurrenceTopK counts shared contexts, ranks by (count desc, id asc)") {
    // ctx1: {1,2,3}, ctx2: {1,2}, ctx3: {1,3} -> (1,2)=2, (1,3)=2, (2,3)=1
    val rel = Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 1L), (20L, 2L), (30L, 1L), (30L, 3L))
    assert(topk(rel, 2) == Seq(
      (1L, 1L, 2L, 2L), (1L, 2L, 3L, 2L), // item 1: ties broken toward smaller id
      (2L, 1L, 1L, 2L), (2L, 2L, 3L, 1L),
      (3L, 1L, 1L, 2L), (3L, 2L, 2L, 1L)))
  }

  test("coOccurrenceTopK: duplicate interaction rows do not double-count") {
    val once = topk(Seq((10L, 1L), (10L, 2L)), 1)
    val dup = topk(Seq((10L, 1L), (10L, 1L), (10L, 2L)), 1)
    assert(once == dup && once == Seq((1L, 1L, 2L, 1L), (2L, 1L, 1L, 1L)))
  }

  test("coOccurrenceTopK: promiscuous contexts are dropped before the pair join") {
    // ctx 99 touches 4 items; with cap 3 it contributes nothing
    val rel = Seq((99L, 1L), (99L, 2L), (99L, 3L), (99L, 4L), (10L, 1L), (10L, 2L))
    assert(topk(rel, 5, cap = 3) == Seq((1L, 1L, 2L, 1L), (2L, 1L, 1L, 1L)))
  }

  private def tri(edges: Seq[(Long, Long)]): Map[Long, Long] =
    GraphStructure.triangleCounts(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** brute-force reference: count triples with all three edges present */
  private def refTri(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct.toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val ts = for {
      a <- nodes; b <- nodes if b > a && und((a, b))
      c <- nodes if c > b && und((a, c)) && und((b, c))
    } yield (a, b, c)
    ts.flatMap(t => Seq(t._1, t._2, t._3)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
  }

  test("triangleCounts: K4 puts every node in 3 triangles") {
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if b > a) yield (a, b)
    assert(tri(k4) == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("triangleCounts: triangle-free graphs yield no rows") {
    assert(tri(Seq((0L, 1L), (1L, 2L), (2L, 3L))).isEmpty) // path
    assert(tri((1L to 9L).map(i => (0L, i))).isEmpty)      // star
  }

  test("triangleCounts: direction, duplicates, and self-loops are normalized away") {
    val messy = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 0L), (0L, 0L), (2L, 1L))
    assert(tri(messy) == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  test("triangleCounts matches brute force on a skewed pseudo-random graph") {
    // hub 0 connects to everyone (worst case without degree orientation)
    // plus a pseudo-random sparse layer
    val n = 60L
    val hub = (1L until n).map(i => (0L, i))
    val rnd = (0L until 3 * n).map(i => ((i * 7919) % n, (i * i * 131 + 7) % n))
    val edges = hub ++ rnd
    assert(tri(edges) == refTri(edges))
  }

  /** JVM replay of the md5 neighbor choice */
  private def refChoice(start: Long, step: Int, cur: Long, nbrs: Seq[Long]): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$start,$step,$cur".getBytes("UTF-8"))
    val h = d.take(4).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
    nbrs((h % nbrs.size).toInt)
  }

  private def walks(edges: Seq[(Long, Long)], steps: Int, maxDeg: Int = 1024,
      bcastBytes: Long = graft.functions.GraphStructure.WalkBcastBytes): Seq[(Long, Long, Long)] =
    graft.functions.GraphStructure.walks(edges.toDF("src", "dst"), steps, maxDeg,
      "src", "dst", bcastBytes)
      .orderBy("start", "step")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("randomWalks replays the md5-indexed choice over sorted capped adjacency") {
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 0L), (2L, 0L), (3L, 1L))
    val adj = edges.distinct.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val got = walks(edges, steps = 3)
    val wantRows = adj.keySet.union(edges.map(_._2).toSet).toSeq.sorted.flatMap { s =>
      val rows = collection.mutable.Buffer((s, 0L, s))
      var cur = s
      var t = 1
      while (t <= 3 && adj.contains(cur)) {
        cur = refChoice(s, t, cur, adj(cur)); rows += ((s, t.toLong, cur)); t += 1
      }
      rows
    }
    assert(got == wantRows)
  }

  test("randomWalks: every hop is a real edge; walks stop at sinks") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L)) // 3 is a sink
    val eset = edges.toSet
    val w = walks(edges, steps = 5)
    val byWalk = w.groupBy(_._1)
    byWalk.foreach { case (s, rows) =>
      val path = rows.sortBy(_._2).map(_._3)
      assert(path.head == s)
      path.sliding(2).foreach {
        case Seq(a, b) => assert(eset((a, b)), s"hop ($a,$b) not an edge")
        case _ =>
      }
      // a walk either runs all 5 steps or its last node is the sink
      assert(rows.size == 6 || path.last == 3L, s"walk $s: $path")
    }
    assert(byWalk(3L) == Seq((3L, 0L, 3L))) // sink start: step-0 row only
  }

  test("randomWalks is deterministic across runs and partitionings") {
    val edges = (0L until 100L).flatMap(i => Seq((i, (i * 13 + 1) % 100L), (i, (i * 7 + 3) % 100L)))
    assert(walks(edges, 4) == walks(edges, 4))
  }

  test("randomWalks: broadcast-adjacency gate off reproduces the shuffled-join walks exactly") {
    val edges = (0L until 100L).flatMap(i => Seq((i, (i * 13 + 1) % 100L), (i, (i * 7 + 3) % 100L)))
    // default gate: this small adjacency broadcasts; a negative cap
    // keeps the hop join unhinted
    val bcast = walks(edges, 4)
    val shuffled = walks(edges, 4, bcastBytes = -1L)
    assert(bcast == shuffled, "broadcast vs shuffled hop joins diverged")
  }

  test("randomWalks degree cap restricts choices to the first sorted neighbors") {
    val edges = (1L to 9L).map(i => (0L, i)) :+ ((1L, 0L))
    val w = walks(edges, steps = 1, maxDeg = 3)
    val hop0 = w.filter(r => r._1 == 0L && r._2 == 1L).map(_._3)
    assert(hop0.forall(n => n >= 1L && n <= 3L), s"capped choice escaped: $hop0")
    assert(hop0 == Seq(refChoice(0L, 1, 0L, Seq(1L, 2L, 3L))))
  }

  test("walkSkipGrams: window pairs with multiplicity, no self-step pairs") {
    // two hand walks: (s=0) 0,1,2,1 and (s=9) 9,1
    val walks = Seq(
      (0L, 0L, 0L), (0L, 1L, 1L), (0L, 2L, 2L), (0L, 3L, 1L),
      (9L, 0L, 9L), (9L, 1L, 1L)).toDF("start", "step", "node")
    val got = graft.functions.GraphStructure.walkSkipGrams(walks, window = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // window 1 on walk 0: (0,1),(1,0),(1,2),(2,1),(2,1),(1,2); walk 9: (9,1),(1,9)
    assert(got == Map(
      (0L, 1L) -> 1L, (1L, 0L) -> 1L,
      (1L, 2L) -> 2L, (2L, 1L) -> 2L,
      (9L, 1L) -> 1L, (1L, 9L) -> 1L))
  }

  test("covisitPmi: exact counts, pinned formula, popularity normalized out") {
    // contexts 1..6: niche pair (1,2) co-occur in 2 of their 2 appearances;
    // popular pair (8,9) co-occur in 2 but each appears in 6
    val rel = (1L to 6L).flatMap(c => Seq((c, 8L), (c, 9L)).filter(_ => true)) ++
      Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L))
    val got = graft.functions.GraphStructure.covisitPmi(
        rel.toDF("ctx", "item"), "ctx", "item", minShared = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    def pmi(cab: Long, ca: Long, cb: Long, n: Long): Double =
      BigDecimal(math.log((cab.toDouble * n) / (ca.toDouble * cb.toDouble)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val n = 6L // kept contexts
    assert(got((1L, 2L)) == ((2L, pmi(2, 2, 2, n))))
    assert(got((8L, 9L)) == ((6L, pmi(6, 6, 6, n))))
    // same counts, different popularity -> niche pair scores higher
    assert(got((1L, 2L))._2 > got((8L, 9L))._2)
  }

  test("projectItemGraph applies the shared-context threshold") {
    // items 1,2 share two contexts; 1,3 and 2,3 share one
    val rel = Seq((10L, 1L), (10L, 2L), (20L, 1L), (20L, 2L), (30L, 1L), (30L, 3L), (40L, 2L), (40L, 3L))
    val g = GraphStructure.projectItemGraph(rel.toDF("ctx", "item"), "ctx", "item", minShared = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(g == Set((1L, 2L)))
  }
}
