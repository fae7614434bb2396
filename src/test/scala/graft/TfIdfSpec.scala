package graft

import graft.functions.TfIdf

class TfIdfSpec extends SparkSpec {
  import spark.implicits._

  // bigrams: d1={a b, b c}, d2={a b, b d}, d3={x y, y z}; only "a b" is
  // shared, so d1<->d2 is the single pair and d3 emits nothing
  private val corpus = Seq(
    (1L, "a b c"), (2L, "a b d"), (3L, "x y z")
  ).toDF("doc_id", "text")

  test("cosine matches the closed-form TF-IDF similarity") {
    val rows = TfIdf.topKNeighbors(corpus, "doc_id", "text", k = 3)
      .orderBy("doc_id", "rank").collect()
    CacheScope.release()
    // sim(d1,d2) = ln(3/2)^2 / (ln(3/2)^2 + ln(3)^2), both norms equal
    val l15sq = math.pow(math.log(3.0 / 2.0), 2)
    val l3sq  = math.pow(math.log(3.0), 2)
    val want  = BigDecimal(l15sq / (l15sq + l3sq))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 2L, 1L), (2L, 1L, 1L)))
    rows.foreach(r => assert(math.abs(r.getDouble(3) - want) < 1e-9))
  }

  test("fractional df bound resolves against the indexed-doc count") {
    import graft.functions.DfBound
    // floor semantics, floored at 1, absolute pass-through
    assert(DfBound.Frac(0.1).resolve(500) == 50L)
    assert(DfBound.Frac(0.1).resolve(509) == 50L)
    assert(DfBound.Frac(0.1).resolve(3) == 1L)   // floor(0.3) -> floored at 1
    assert(DfBound.Frac(0.75).resolve(4) == 3L)
    assert(DfBound.Abs(50L).resolve(1000000) == 50L)
    intercept[IllegalArgumentException] { DfBound.Frac(0.0) }
    intercept[IllegalArgumentException] { DfBound.Frac(1.5) }
    // a fraction that resolves to the same threshold as an absolute cap
    // yields the identical result set (N=3 indexed docs, 0.75 -> 2)
    val frac = TfIdf.topKNeighbors(corpus, "doc_id", "text", k = 3,
      maxDf = DfBound.Frac(0.75)).orderBy("doc_id", "rank").collect().toSeq
    CacheScope.release()
    val abs = TfIdf.topKNeighbors(corpus, "doc_id", "text", k = 3,
      maxDf = 2L).orderBy("doc_id", "rank").collect().toSeq
    CacheScope.release()
    assert(frac == abs && frac.nonEmpty)
  }

  test("maxDf stop-term prune drops the only shared term") {
    // df("a b") = 2 > maxDf = 1, so no pairs survive anywhere
    val out = TfIdf.topKNeighbors(corpus, "doc_id", "text", k = 3, maxDf = 1L)
    assert(out.count() == 0)
    CacheScope.release()
  }

  test("bm25 matches the closed-form score and excludes the query doc") {
    // query d1 (bigrams "a b", "b c"): d2 shares only "a b" (df=2, tf=1,
    // len=2, avglen=2 -> length norm is exactly 1)
    val qs   = Seq(Tuple1(1L)).toDF("doc_id")
    val rows = TfIdf.bm25TopK(corpus, qs, "doc_id", "text", k = 3)
      .orderBy("doc_id", "rank").collect()
    CacheScope.release()
    val idf  = math.log(1.0 + (3.0 - 2 + 0.5) / (2 + 0.5))
    val want = BigDecimal(idf * (1 * 2.2) / (1 + 1.2 * (0.25 + 0.75 * 1.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 2L)).map { case (q, i) => (q, i, 1L) })
    assert(math.abs(rows.head.getDouble(3) - want) < 1e-9)
  }

  test("bm25 tf saturation: doubled term count scores higher but sublinearly") {
    // d2 and d3 both match query term "a b"; d3 has it twice in the same
    // length-4 doc, so it outranks d2 — by less than 2x (k1 saturation)
    val c = Seq((1L, "a b z w"), (2L, "a b p q"), (3L, "a b a b"),
      (4L, "m n o r")).toDF("doc_id", "text")
    val rows = TfIdf.bm25TopK(c, Seq(Tuple1(1L)).toDF("doc_id"),
      "doc_id", "text", k = 3).orderBy("doc_id", "rank").collect()
    CacheScope.release()
    val byId = rows.map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(rows.head.getLong(1) == 3L)
    assert(byId(3L) > byId(2L) && byId(3L) < 2 * byId(2L))
  }

  test("IDF corpus size counts indexed docs only (>= 1 n-gram)") {
    // a 1-token doc produces no bigrams: it is not in the index, so
    // N = 3, and the d1<->d2 score matches the 3-doc closed form exactly
    // (under the old N = raw row count it would use ln(4/2)/ln(4))
    val c = corpus.unionByName(Seq((9L, "solo")).toDF("doc_id", "text"))
    val rows = TfIdf.topKNeighbors(c, "doc_id", "text", k = 3)
      .orderBy("doc_id", "rank").collect()
    CacheScope.release()
    val l15sq = math.pow(math.log(3.0 / 2.0), 2)
    val l3sq  = math.pow(math.log(3.0), 2)
    val want  = BigDecimal(l15sq / (l15sq + l3sq))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L), (2L, 1L)))
    rows.foreach(r => assert(math.abs(r.getDouble(3) - want) < 1e-9))
  }

  test("one retrieval call = one corpus scan (spy-FS open count)") {
    val dir = tempDir("graft-tfidf-spy")
    corpus.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    spark.sparkContext.hadoopConfiguration
      .set("fs.spy.impl", classOf[SpyFileSystem].getName)
    // baseline: file opens for ONE full-column scan (schema inference +
    // footer + data reads — identical fixed costs on both sides)
    SpyFileSystem.reset()
    spark.read.parquet(s"spy://$dir")
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text")))).collect()
    val oneScan = SpyFileSystem.opens.get()
    // the retrieval call: terms build + N derivation + the full pair
    // pipeline must together touch the corpus once (the old separate
    // docs.count() action made this ~2x the one-scan open count)
    SpyFileSystem.reset()
    TfIdf.topKNeighbors(spark.read.parquet(s"spy://$dir"),
      "doc_id", "text", k = 2).collect()
    CacheScope.release()
    val used = SpyFileSystem.opens.get()
    assert(used <= oneScan,
      s"retrieval opened the corpus parquet $used times vs $oneScan for one scan")
  }

  test("tfidfQueryTopK matches topKNeighbors for the query subset") {
    // the query-restricted posting join must reproduce the self-join's
    // scores and ranks exactly for any query doc — only the cost differs
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c e"), (3L, "b c d e"),
      (4L, "x y z w"), (5L, "x y q w")).toDF("doc_id", "text")
    val q = Seq(Tuple1(1L), Tuple1(4L)).toDF("doc_id")
    val full = TfIdf.topKNeighbors(docs, "doc_id", "text", k = 3)
      .filter(org.apache.spark.sql.functions.col("doc_id").isin(1L, 4L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    CacheScope.release()
    val restricted = TfIdf.tfidfQueryTopK(docs, q, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    CacheScope.release()
    assert(restricted == full)
  }

  test("rrfFuse sums reciprocal ranks with smaller-id tie-break (hand-computed)") {
    import graft.functions.Similarity
    // q1: ranker A = [1,2,3], ranker B = [2,1,4]. Docs 1 and 2 both sum
    // 1/61+1/62 (tie -> id order); 3 and 4 both get 1/63 (tie again).
    val ra = Seq((10L, 1L, 1L), (10L, 2L, 2L), (10L, 3L, 3L))
      .toDF("qid", "id", "rank")
    val rb = Seq((10L, 2L, 1L), (10L, 1L, 2L), (10L, 4L, 3L))
      .toDF("qid", "id", "rank")
    val got = Similarity.rrfFuse(Seq(ra, rb), k = 4)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val both = BigDecimal(1.0 / 61 + 1.0 / 62)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val one = BigDecimal(1.0 / 63)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq((1L, 1L, both), (2L, 2L, both), (3L, 3L, one), (4L, 4L, one)))
  }

  test("a repeated topKNeighbors on one input compiles no generated class") {
    // the norms joins have a fixed strategy and build side, so a repeat on
    // the same input meets the same plan and is served from the codegen
    // cache; a join side left to AQE flipped between runs and recompiled
    val rnd = new java.util.Random(5)
    val docs = (0 until 40).map(i =>
      (i.toLong, Seq.fill(20)(s"w${rnd.nextInt(60)}").mkString(" ")))
    def run(): Seq[(Long, Long)] = {
      val df = spark.sparkContext.parallelize(docs, 1).toDF("doc", "text")
      val got = TfIdf.topKNeighbors(df, "doc", "text", 3)
        .select("doc", "id").as[(Long, Long)].collect().toSeq.sorted
      CacheScope.release(blocking = true)
      got
    }
    val want = run()
    val compiles = (1 to 6).map { _ =>
      val (got, prof) = Profiler.profile(spark)(run())
      assert(got == want)
      prof.codegenCompiles
    }
    assert(compiles.forall(_ == 0L), s"repeats compiled $compiles generated classes")
  }

  test("k bounds the neighbor list with smaller-id tie-break") {
    // three identical docs (plus one outlier so idf > 0): every pair among
    // 1-3 scores 1.0, k=2 keeps the two smallest neighbor ids; the
    // outlier shares no term and emits nothing
    val same = ((1L to 3L).map(i => (i, "p q r")) :+ (4L, "x y z"))
      .toDF("doc_id", "text")
    val rows = TfIdf.topKNeighbors(same, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    CacheScope.release()
    assert(rows == Seq((1L, 2L), (1L, 3L), (2L, 1L), (2L, 3L),
      (3L, 1L), (3L, 2L)))
  }
}
