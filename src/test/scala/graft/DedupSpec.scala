package graft

import graft.functions.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def labelsOf(nodes: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(
      nodes.toDF("doc_id"), pairs.toDF("a", "b"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("duplicatedWindowStats counts cross-doc duplicated token windows (hand-computed)") {
    // n=3 windows:
    //   doc 0 "a b c d"   -> {a b c, b c d}
    //   doc 1 "a b c e"   -> {a b c, b c e}
    //   doc 2 "x y z w"   -> {x y z, y z w}
    //   doc 3 "q r"       -> too short, dropped
    //   doc 4 "b c d b c d" -> {b c d, c d b, d b c, b c d(dup within doc -> distinct)}
    // cross-doc duplicated windows: "a b c" (docs 0,1), "b c d" (docs 0,4)
    val docs = Seq(
      (0L, "a b c d"), (1L, "a b c e"), (2L, "x y z w"),
      (3L, "q r"), (4L, "b c d b c d")).toDF("doc_id", "text")
    val got = Dedup.duplicatedWindowStats(docs, "doc_id", "text", 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, 2L, 2L, 1.0),       // both windows shared
      (1L, 2L, 1L, 0.5),       // "a b c" shared, "b c e" unique
      (2L, 2L, 0L, 0.0),       // nothing shared
      (4L, 3L, 1L, 0.333333))) // distinct{b c d, c d b, d b c}; "b c d" shared
  }

  test("removeDuplicatedWindows cuts every occurrence of every cross-doc window (hand-computed)") {
    import org.apache.spark.sql.functions.col
    // docs 1,2 share the 5-token window "a b c d e"; docs 3,4 share
    // "p q r s t" (doc 3 is NOTHING BUT that window -> fully cut);
    // doc 5 has no cross-doc window and passes through with n_cut=0
    val docs = Seq(
      (1L, "a b c d e f g"), (2L, "x y a b c d e z"),
      (3L, "p q r s t"), (4L, "p q r s t u v w"),
      (5L, "h i j k l m")).toDF("doc_id", "text")
    val got = Dedup.removeDuplicatedWindows(docs, "doc_id", "text", 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "f g", 7L, 5L),
      (2L, "x y z", 8L, 5L),
      (3L, "", 5L, 5L),
      (4L, "u v w", 8L, 5L),
      (5L, "h i j k l m", 6L, 0L)))

    // THE property (Lee et al.'s cleanup invariant): re-running the stats
    // on the cleaned corpus finds ZERO duplicated windows of the same width
    val re = Dedup.duplicatedWindowStats(
      Dedup.removeDuplicatedWindows(docs, "doc_id", "text", 5)
        .select(col("doc_id"), col("clean_text").as("text")),
      "doc_id", "text", 5)
    assert(re.agg(org.apache.spark.sql.functions.sum("n_dup")).head.getLong(0) == 0L,
      "a duplicated window survived the removal pass")
  }

  test("removeDuplicatedWindowsKeepOne keeps exactly the (doc,pos)-minimal occurrence") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "a b c d e f g"), (2L, "x y a b c d e z"),
      (3L, "p q r s t"), (4L, "p q r s t u v w"),
      (5L, "h i j k l m")).toDF("doc_id", "text")
    val got = Dedup.removeDuplicatedWindowsKeepOne(docs, "doc_id", "text", 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    // keepers: "a b c d e" at (1,1) -> doc 1 intact, doc 2 cut;
    //          "p q r s t" at (3,1) -> doc 3 intact, doc 4 cut
    assert(got == Seq(
      (1L, "a b c d e f g", 7L, 0L),
      (2L, "x y z", 8L, 5L),
      (3L, "p q r s t", 5L, 0L),
      (4L, "u v w", 8L, 5L),
      (5L, "h i j k l m", 6L, 0L)))

    // keep-one invariant: NO window is duplicated across docs afterwards
    // (the single kept copy lives in exactly one doc)
    val re = Dedup.duplicatedWindowStats(
      Dedup.removeDuplicatedWindowsKeepOne(docs, "doc_id", "text", 5)
        .select(col("doc_id"), col("clean_text").as("text")),
      "doc_id", "text", 5)
    assert(re.agg(org.apache.spark.sql.functions.sum("n_dup")).head.getLong(0) == 0L)
  }

  test("connectedComponents converges on a long chain (pointer jumping)") {
    // diameter-29 chain would exceed naive propagation rounds; path
    // compression converges well within maxIters
    val nodes = (0L until 30L)
    val chain = (0L until 29L).map(i => (i, i + 1))
    val got   = labelsOf(nodes, chain)
    assert(got.size == 30)
    assert(got.values.forall(_ == 0L))
  }

  test("connectedComponents round count is logarithmic in chain diameter") {
    // adversarial envelope pin: a PATH of 2^14 = 16384 nodes whose edge
    // (a, a + 1) sits in input partition a % 8, so no two neighbouring
    // edges share a partition and step 1's union-find merges nothing:
    // the whole path (diameter 16383) is the contracted remainder, and
    // every round runs on it. At the spec session's 4 loop partitions
    // such a path settles in 4 rounds for d from 1023 to 131071 (6 with
    // shuffled ids), the bound connectedComponentsWithStats states — far
    // under the ~16k a propagate-only loop would need.
    val n = 16384L
    val edges = spark.sparkContext.parallelize(0 until 8, 8)
      .flatMap(p => (p.toLong until n - 1 by 8).map(a => (a, a + 1)))
    val (labels, rounds) = Dedup.connectedComponentsWithStats(
      spark.range(0, n).toDF("id"), edges.toDF("a", "b"), "id")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    CacheScope.release()
    assert(got.length == n && got.forall(_._2 == 0L))
    assert(rounds <= 6, s"a path at 4 loop partitions settles in at most 6 rounds, got $rounds")
    assert(rounds >= 3, s"a $n-node path cannot settle in $rounds rounds " +
      "— the round counter is broken")
  }

  test("connectedComponents: a graph in one input partition is finished by step 1") {
    // one partition of edges: the partition-local union-find sees the whole
    // graph, so no contraction round runs
    val chain = spark.sparkContext.parallelize((0L until 99L).map(i => (i, i + 1)), 1)
    val (labels, rounds) = Dedup.connectedComponentsWithStats(
      (0L until 120L).toDF("doc_id"), chain.toDF("a", "b"), "doc_id")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    CacheScope.release()
    assert(rounds == 0)
    assert(got == (0L until 120L).map(i => i -> (if (i < 100) 0L else i)).toMap)
  }

  test("connectedComponents labels exactly the given nodes; foreign edges drop") {
    // edge (99, 7): 99 is not a node -> edge ignored, no phantom row;
    // node 1 < its neighbor 7 keeps its own id as the cluster label
    val got = labelsOf(Seq(1L, 7L, 8L), Seq((1L, 7L), (99L, 7L)))
    assert(got == Map(1L -> 1L, 7L -> 1L, 8L -> 8L))
  }

  test("connectedComponents: disjoint clusters get distinct minimal labels") {
    val got = labelsOf(0L until 8L, Seq((0L, 1L), (1L, 2L), (4L, 5L), (6L, 7L)))
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L,
      4L -> 4L, 5L -> 4L, 6L -> 6L, 7L -> 6L))
  }

  test("connectedComponents handles BinaryType ids (distributed dict, no reference-equality trap)") {
    import org.apache.spark.sql.functions._
    // 8-byte big-endian binary ids: numeric order == binary order, so the
    // expected min-id labels are the binary images of the long labels.
    // The driver-side dict would key a HashMap on Array[Byte] (reference
    // equality — every lookup misses); binary ids must take the
    // distributed dict instead and still label correctly.
    def b(c: org.apache.spark.sql.Column) = unhex(lpad(hex(c), 16, "0"))
    val nodes = Seq(1L, 7L, 8L).toDF("v").select(b(col("v")).as("doc_id"))
    val pairs = Seq((1L, 7L)).toDF("va", "vb")
      .select(b(col("va")).as("a"), b(col("vb")).as("b"))
    val got = Dedup.connectedComponents(nodes, pairs, "doc_id")
      .collect()
      .map(r => (BigInt(r.getAs[Array[Byte]](0)).toLong,
        BigInt(r.getAs[Array[Byte]](1)).toLong))
      .toMap
    CacheScope.release()
    assert(got == Map(1L -> 1L, 7L -> 1L, 8L -> 8L))
  }

  test("connectedComponents with a reliable checkpoint dir: same labels, checkpoint files written") {
    // the cluster-safe mode VERDICT asked for: per-round lineage truncation
    // goes through sc.checkpoint (survives executor loss), not local blocks
    val dir = tempDir("graft-cc-ck").toString
    val got = Dedup.connectedComponents(
      (0L until 30L).toDF("doc_id"),
      (0L until 29L).map(i => (i, i + 1)).toDF("a", "b"),
      "doc_id", checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 30 && got.values.forall(_ == 0L))
    def files(p: java.io.File): Iterator[java.io.File] =
      Option(p.listFiles).iterator.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Iterator.single(f))
    assert(files(new java.io.File(dir)).nonEmpty,
      "reliable checkpoint mode must actually write to the checkpoint dir")
  }

  /** a random graph over ids 0..nNodes-1 with edges reaching past them
    * (foreign), self-loops, duplicated and mirrored edges
    */
  private def randomGraph(seed: Long, nNodes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val base = Seq.fill(nNodes * 3 / 4)(
      (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes + nNodes / 10).toLong))
    val chain = (0L until 20L).map(i => (100L + i, 101L + i)) // one long component
    val loops = Seq.fill(5)(rnd.nextInt(nNodes).toLong).map(x => (x, x))
    val edges = base ++ chain ++ loops
    rnd.shuffle(edges ++ edges.take(15) ++ edges.takeRight(15).map(_.swap))
  }

  /** driver-side union-find oracle: smallest id (under `lt`) per component
    * of the edges whose both endpoints are nodes
    */
  private def oracle[T](nodes: Seq[T], edges: Seq[(T, T)], lt: (T, T) => Boolean): Map[T, T] = {
    val idx = nodes.zipWithIndex.toMap
    val parent = Array.tabulate(nodes.size)(identity)
    def find(i: Int): Int = if (parent(i) == i) i else { parent(i) = find(parent(i)); parent(i) }
    edges.foreach { case (a, b) =>
      for (i <- idx.get(a); j <- idx.get(b)) parent(find(i)) = find(j) }
    val low = nodes.groupBy(x => find(idx(x))).map { case (r, xs) =>
      r -> xs.reduce((x, y) => if (lt(y, x)) y else x) }
    nodes.map(x => x -> low(find(idx(x)))).toMap
  }

  test("connectedComponents labels do not depend on the input partitioning (1, 3 and 8 partitions)") {
    val nodes = 0L until 400L
    val edges = randomGraph(7L, 400)
    val want = oracle[Long](nodes, edges, _ < _)
    val runs = Seq(1, 3, 8).map { p =>
      val (df, rounds) = Dedup.connectedComponentsWithStats(nodes.toDF("doc_id"),
        spark.sparkContext.parallelize(edges, p).toDF("a", "b"), "doc_id")
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      CacheScope.release()
      assert(got == want, s"$p input partitions: labels differ from the union-find oracle")
      (p, rounds)
    }
    assert(runs.head._2 == 0, s"one input partition must need no round: $runs")
    assert(runs.tail.forall(_._2 >= 1), s"a split graph must run rounds: $runs")
  }

  test("connectedComponents matches a driver union-find on random graphs: long, string and binary ids") {
    import org.apache.spark.sql.types._
    // Spark orders strings by UTF-8 bytes and binary by unsigned bytes;
    // these ids are chosen so that Java's String.compareTo and signed byte
    // order disagree with it
    val utf8 = (s: String) => s.getBytes("UTF-8")
    def unsignedLt(x: Array[Byte], y: Array[Byte]): Boolean = {
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n && x(i) == y(i)) i += 1
      if (i < n) (x(i) & 0xff) < (y(i) & 0xff) else x.length < y.length
    }
    val str = (i: Long) => (if (i % 3 == 0) "\uFFFF" else "\uD83D\uDE00") + f"$i%05d"
    val bin = (i: Long) => Array(((i * 37) % 256).toByte, (i % 7).toByte)
    for (seed <- 1L to 3L) {
      val nodes = (0L until 150L).filter(_ % 11 != 5) // holes: their edges are foreign
      val edges = randomGraph(seed, 150)

      val wantL = oracle[Long](nodes, edges, _ < _)
      val gotL = Dedup.connectedComponents(nodes.toDF("doc_id"),
        spark.sparkContext.parallelize(edges, 4).toDF("a", "b"), "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      CacheScope.release()
      assert(gotL == wantL, s"long ids, seed $seed")

      val wantS = oracle[String](nodes.map(str), edges.map { case (a, b) => (str(a), str(b)) },
        (x, y) => unsignedLt(utf8(x), utf8(y)))
      assert(wantS != oracle[String](nodes.map(str),
        edges.map { case (a, b) => (str(a), str(b)) }, _.compareTo(_) < 0),
        "the string case must tell Spark's order from String.compareTo")
      val gotS = Dedup.connectedComponents(nodes.map(str).toDF("doc_id"),
        spark.sparkContext.parallelize(edges.map { case (a, b) => (str(a), str(b)) }, 4)
          .toDF("a", "b"), "doc_id")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      CacheScope.release()
      assert(gotS == wantS, s"string ids, seed $seed")

      val key = (x: Array[Byte]) => x.toSeq
      val wantB = oracle[Seq[Byte]](nodes.map(i => key(bin(i))),
        edges.map { case (a, b) => (key(bin(a)), key(bin(b))) },
        (x, y) => unsignedLt(x.toArray, y.toArray))
      val binSchema = StructType(Seq(StructField("a", BinaryType), StructField("b", BinaryType)))
      val gotB = Dedup.connectedComponents(
        spark.createDataFrame(spark.sparkContext.parallelize(nodes.map(i =>
          org.apache.spark.sql.Row(bin(i))), 3),
          StructType(Seq(StructField("doc_id", BinaryType)))),
        spark.createDataFrame(spark.sparkContext.parallelize(edges.map { case (a, b) =>
          org.apache.spark.sql.Row(bin(a), bin(b)) }, 4), binSchema),
        "doc_id")
        .collect().map(r => key(r.getAs[Array[Byte]](0)) -> key(r.getAs[Array[Byte]](1))).toMap
      CacheScope.release()
      assert(gotB == wantB, s"binary ids, seed $seed")
    }
  }

  test("winnowPairs: a shared run of w+k-1 tokens guarantees a shared fingerprint") {
    val shared = "alpha beta gamma delta epsilon zeta" // 6 tokens = w+k-1 for k=3, w=4
    val docs = Seq(
      (0L, s"one two $shared three"),
      (1L, s"$shared nine ten eleven"),
      (2L, "completely different words here entirely now")).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs, "doc_id", "text", k = 3, w = 4, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("incremental probe flags shard-vs-corpus collisions only, never within-shard") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "an entirely different corpus document about engines")).toDF("doc_id", "text")
    // 10 and 11 duplicate EACH OTHER and doc 0; 12 is novel
    val shard = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "the quick brown fox jumps over the lazy dog"),
      (12L, "totally novel shard content with fresh phrasing")).toDF("doc_id", "text")
    val table = "graft_lsh_idx_spec"
    graft.functions.Dedup.lshWriteBandIndex(corpus, "doc_id", "text", 8, 4, table)
    val hits = graft.functions.Dedup
      .lshProbeBandIndex(spark.table(table), shard, "doc_id", "text", 8, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    spark.sql(s"DROP TABLE $table")
    // within-shard pair (10, 11) is NOT the probe's job; both hit corpus doc 0
    assert(hits == Seq((10L, 0L), (11L, 0L)))
  }

  test("dedupParagraphs keeps the first (doc,pos) occurrence corpus-wide (hand-computed)") {
    // para "B" is corpus-wide boilerplate (first seen doc 0 pos 1);
    // doc 1 repeats its own first para "X" within-doc; doc 2 is clean.
    val docs = Seq(
      (0L, "A\nB\nC"),
      (1L, "X\nB\nX\nY"),
      (2L, "P\nQ")).toDF("doc_id", "text")
    val got = Dedup.dedupParagraphs(docs, "doc_id", "text", "\n")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, "A\nB\nC", 3L, 0L),  // keeper of B; nothing dropped
      (1L, "X\nY", 4L, 2L),     // loses its B copy AND its own X repeat
      (2L, "P\nQ", 2L, 0L)))
  }

  test("dedupParagraphs emits empty text for a doc whose every paragraph is dropped") {
    val docs = Seq((0L, "A\nB"), (1L, "B\nA")).toDF("doc_id", "text")
    val got = Dedup.dedupParagraphs(docs, "doc_id", "text", "\n")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq((0L, "A\nB", 0L), (1L, "", 2L)))
  }

  test("boilerplateRemove drops EVERY occurrence of a per-source frequent line (hand-computed)") {
    // line "F" appears in 3 distinct docs of src0 -> boilerplate, every
    // copy dies (incl. doc 0's double). Line "R" repeats across only 2
    // docs -> content, survives everywhere (dedupParagraphs would cut
    // the second copy). Doc 4 has "F" too, but in src1 where it's
    // unique — per-source keying keeps it.
    val docs = Seq(
      (0L, "s0", "F\nA\nF"),
      (1L, "s0", "F\nR"),
      (2L, "s0", "B\nF\nR"),
      (3L, "s0", "C"),
      (4L, "s1", "F\nD")).toDF("doc_id", "source", "text")
    val got = Dedup.boilerplateRemove(docs, "doc_id", "source", "text", minDocs = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, "A", 3L, 2L),
      (1L, "R", 2L, 1L),
      (2L, "B\nR", 3L, 1L),
      (3L, "C", 1L, 0L),
      (4L, "F\nD", 2L, 0L)))
  }

  test("line ops render an empty doc as ZERO lines (split-empty guard)") {
    // Spark's split("") is [""] — one phantom line the oracles' token
    // renderings never produce; the splitLines guard must zero it in all
    // three line ops
    val docs = Seq((0L, "s0", ""), (1L, "s0", "A\nB"), (2L, "s0", "A\nC"),
      (3L, "s0", "A")).toDF("doc_id", "source", "text")
    val bp = Dedup.boilerplateRemove(docs, "doc_id", "source", "text", minDocs = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(bp.head == ((0L, "", 0L))) // empty doc: zero lines, not one
    val dp = Dedup.dedupParagraphs(docs.select($"doc_id", $"text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).toSeq
    assert(dp.head == ((0L, 0L)))
  }

  test("ngramContainmentPairs: subset doc scores overlap 1.0 where Jaccard dilutes") {
    // doc 1 is a strict prefix of doc 0: its 6 2-shingles are all among
    // doc 0's 7, and (checked against the deterministic md5 minhash) the
    // pair shares a band, so it surfaces as a candidate.
    val docs = Seq(
      (0L, "a b c d e f g h"),
      (1L, "a b c d e f g")).toDF("doc_id", "text")
    val ovl = Dedup.ngramContainmentPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    assert(ovl == Seq((0L, 1L, 6L, 7L, 6L, 1.0)))
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
      .collect().map(r => r.getDouble(4)).head
    assert(jac < 1.0) // 6/7 — the union-diluted view of the same pair
  }

  test("c4SpanDedup drops lines covered by non-keeper duplicated 3-line spans (hand-computed)") {
    // doc 1 & 2 open with the same 3 lines (span ABC; keeper (1,0)), so
    // doc 2 loses lines 0-2; doc 3 is the same 3 lines looping — spans
    // PQR/QRP/RPQ each recur, keepers are positions 0/1/2, every later
    // occurrence's cover unions to lines 3-8; doc 4 is below span width.
    val docs = Seq(
      (1L, "A\nB\nC\nD\nE"),
      (2L, "A\nB\nC\nX\nY"),
      (3L, "P\nQ\nR\nP\nQ\nR\nP\nQ\nR"),
      (4L, "Z\nW")).toDF("doc_id", "text")
    val got = Dedup.c4SpanDedup(docs, "doc_id", "text", "\n", 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "A\nB\nC\nD\nE", 5L, 0L), // keeper of ABC; nothing dropped
      (2L, "X\nY", 5L, 3L),          // non-keeper ABC covers lines 0-2
      (3L, "P\nQ\nR", 9L, 6L),       // one loop survives, the rest dies
      (4L, "Z\nW", 2L, 0L)))         // too short for any span
  }

  test("c4SpanDedup keeps a repeated sentence whose flanking context differs") {
    // "B" recurs in both docs but no 3-line SPAN recurs — C4's unit is
    // the span, so nothing is dropped (contrast dedupParagraphs, which
    // would kill the second B).
    val docs = Seq(
      (1L, "A\nB\nC"),
      (2L, "X\nB\nY")).toDF("doc_id", "text")
    val got = Dedup.c4SpanDedup(docs, "doc_id", "text", "\n", 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, "A\nB\nC", 0L), (2L, "X\nB\nY", 0L)))
  }

  test("winnowFingerprints: short docs (grams < w) keep their single overall min") {
    import graft.functions.TextFunctions
    // 4 tokens -> 2 trigram hashes < w=4 windows -> exactly one fingerprint
    val fps = Seq((0L, "a b c d")).toDF("doc_id", "text")
      .select(TextFunctions.winnowFingerprints(org.apache.spark.sql.functions.col("text"), 3, 4))
      .collect()(0).getSeq[Long](0)
    assert(fps.length == 1)
  }

  test("cluster-keyed split: every member of a near-dup cluster lands in the SAME split") {
    // the leakage-safe-split invariant: assignment is a pure function of
    // the cluster label, so clusters can never straddle train/test
    import org.apache.spark.sql.functions.{col, md5, when, lit}
    import graft.functions.{TextFunctions => TF}
    val docs = ((1L to 6L).map(i => (i, s"unique text $i right here")) ++
      Seq((10L, "a b c d e f g h"), (11L, "a b c d e f g h"),
        (12L, "a b c d e f g h"))).toDF("doc_id", "text")
    val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text", 8, 4)
    val hk = TF.rollingHash(md5(col("cluster").cast("string"))) % 1000000
    val split = Dedup.connectedComponents(docs.select("doc_id"), pairs, "doc_id")
      .select(col("id"), col("cluster"),
        when(hk < 900000, lit("train")).when(hk < 950000, lit("val"))
          .otherwise(lit("test")).as("split"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    CacheScope.release()
    val byCluster = split.groupBy(_._2)
    // the identical-text trio is one cluster with one split value
    val dupCluster = split.find(_._1 == 10L).get._2
    assert(byCluster(dupCluster).map(_._1).toSet === Set(10L, 11L, 12L))
    byCluster.values.foreach(ms => assert(ms.map(_._3).toSet.size === 1))
  }

  test("ngramContamination: witness min + distinct hit count, short/clean docs emit nothing") {
    // bench 10/20 both contain "p q r s"; train 1 shares it (hits both
    // witnesses -> n_hits 2, contaminated_by 10), train 4 repeats the
    // gram but distinct-per-doc keeps one hit per witness, train 2 is
    // clean, train 5 is too short for any 4-gram
    val bench = Seq((10L, "p q r s t"), (20L, "z p q r s")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "x p q r s y"),
      (2L, "a b c d e"),
      (4L, "p q r s w p q r s"),
      (5L, "p q r")).toDF("doc_id", "text")
    val got = Dedup.ngramContamination(train, bench, "doc_id", "text", n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, 10L, 2L), (4L, 10L, 2L)))
  }

  test("a repeated LSH -> CC -> TF-IDF top-k -> PageRank chain recompiles none of its generated classes") {
    // the chain generates more classes than Spark's default codegen cache
    // holds (100); GraftSession's cache size must keep all of them, so a
    // repeat run on the same input is served from the cache
    import org.apache.spark.metrics.source.CodegenMetrics
    import graft.functions.{GraphRank, TfIdf}
    val rnd = new java.util.Random(11)
    // 12 planted clusters x 4 variants of 30 words, one word changed each
    val docs = (0 until 12).flatMap { c =>
      val base = Array.fill(30)(s"w${rnd.nextInt(400)}")
      (0 until 4).map { v =>
        val words = base.clone(); words(rnd.nextInt(30)) = s"v$c$v"
        ((c * 4 + v).toLong, words.mkString(" "))
      }
    }
    def chain(): (Int, Int) = {
      // RDD-backed inputs, as a scanned shard would be
      def rddDf(rows: Seq[(Long, String)], names: String*) =
        spark.sparkContext.parallelize(rows, 1).toDF(names: _*)
      val docsDf = rddDf(docs, "id", "text")
      val pairs = Dedup.lshCandidatePairs(docsDf, "id", "text", 64, 4)
      pairs.collect()
      val (labels, _) = Dedup.connectedComponentsWithStats(docsDf, pairs, "id")
      val lab = labels.collect()
      val keep = lab.filter(r => r.getLong(0) == r.getLong(1)).map(_.getLong(0)).toSet
      val kept = rddDf(docs.filter(d => keep(d._1)), "doc", "text")
      val nbrs = TfIdf.topKNeighbors(kept, "doc", "text", 5)
        .select("doc", "id").as[(Long, Long)].collect()
      val ranks = GraphRank.pageRank(
        spark.sparkContext.parallelize(nbrs.toSeq, 1).toDF("src", "dst")).collect()
      CacheScope.release(blocking = true)
      (keep.size, ranks.length)
    }
    val first = chain()
    assert(first._1 == 12, s"expected the 12 planted clusters, got ${first._1}")
    def repeatCompiles(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      assert(chain() == first)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    // AQE takes a top-k join's broadcast side from whichever input stage
    // finishes first, so a repeat can meet a plan variant not compiled yet
    // (2-8 classes); each variant compiles once, and a later repeat then
    // compiles nothing. Evicted classes would instead be recompiled on
    // every repeat: ~130 of them with Spark's default cache.
    val compiles = scala.collection.mutable.ArrayBuffer(repeatCompiles())
    while (compiles.last > 0 && compiles.size < 6) compiles += repeatCompiles()
    assert(compiles.last == 0L && compiles.max < 20,
      s"repeat runs compiled ${compiles.mkString(", ")} generated classes")
  }
}
