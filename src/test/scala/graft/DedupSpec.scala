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
    // adversarial envelope pin: a PATH of 4^7 = 16384 nodes (diameter
    // 16383, nothing for the duplicate-subgraph prune to drop). With one
    // edge-hop propagation + two pointer jumps per round, resolved label
    // distance grows ~4x per round, so convergence must land near
    // log4(diameter) = 7 rounds (+1 confirming round) — far under the
    // ~16k a propagate-only loop would need, and within default maxIters.
    val n = 16384L
    val (labels, rounds) = Dedup.connectedComponentsWithStats(
      spark.range(0, n).toDF("id"),
      spark.range(0, n - 1).select(
        org.apache.spark.sql.functions.col("id").as("a"),
        (org.apache.spark.sql.functions.col("id") + 1).as("b")),
      "id")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    CacheScope.release()
    assert(got.length == n && got.forall(_._2 == 0L))
    assert(rounds <= 10, s"expected ~log4($n)+1 rounds, got $rounds")
    assert(rounds >= 6, s"a $n-node path cannot resolve in $rounds rounds " +
      "— the round counter is broken")
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

  test("edge-count gate: past maxLocalEdges the distributed loop runs — identical labels AND rounds") {
    val nodes = (0L until 60L).toDF("doc_id")
    val chain = (0L until 59L).map(i => (i, i + 1)).toDF("a", "b")
    def run(localEdgeLimit: Long): (Map[Long, Long], Int) = {
      val (df, rounds) = Dedup.ccWithStats(nodes, chain, "doc_id", 20, None,
        localEdgeLimit)
      val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      CacheScope.release()
      (m, rounds)
    }
    val (mLocal, rLocal) = run(graft.functions.GraphRank.maxLocalEdges) // P==1 local loop
    val (mDist, rDist) = run(0L) // force the distributed loop at P==1
    assert(mLocal == mDist, "gate changed the labels")
    assert(rLocal == rDist, "gate changed the round count — the local " +
      "loop no longer replays the distributed recurrence")
    assert(mLocal.size == 60 && mLocal.values.forall(_ == 0L))
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
}
