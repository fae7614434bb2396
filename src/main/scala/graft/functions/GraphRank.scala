package graft.functions

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.CacheScope

/** Link-graph centrality for corpus curation — the rank signal web-scale
  * pipelines weight crawl hosts and co-visitation items with (CCNet-style
  * corpora keep "high-rank" hosts; recommender curation ranks items by
  * random-walk mass).
  *
  * Both operators run in EXACT FIXED-POINT INTEGER arithmetic: scores are
  * longs scaled by `scale`, every per-edge share is an integer division,
  * and every reduction is a sum of longs — associative, order-independent,
  * overflow-checked. That makes ranks bit-identical across partitionings,
  * re-runs, executor counts, AND engines (the DuckDB oracle replays the
  * same recurrence to the same bits), where a floating-point PageRank
  * drifts in the low mantissa bits with every shuffle reordering. At
  * 100 TB, reproducible curation decisions are the difference between an
  * auditable corpus and one that changes under re-execution.
  *
  * Scale shape: compact (long, long) pair RDDs under ONE
  * HashPartitioner for the whole loop, so the per-round rank lookup join
  * is narrow and the main shuffle per PageRank round is the map-side-
  * combined contribution reduction. Rounds are fixed-count (no convergence
  * test) and fully LAZY: the per-round scalar (dangling mass / L1 total)
  * is replicated through a two-hop tiny shuffle instead of a driver fold,
  * so the whole iteration materializes under ONE driver job at the end —
  * no per-round driver barrier at any executor count.
  */
object GraphRank {

  /** Edge bound for the P == 1 partition-local fast paths of PageRank
    * and HITS: one task holds the whole edge array, so the node-count
    * partitioner sizing alone must not imply the heap bound. Past it the
    * distributed loop runs (same recurrence, same bits).
    *
    * Why both loops stay: measured on 4 cores at sf0.1, min of 3 reps,
    * with the distributed loop forced at P == 1, the fast path is still
    * faster on every row but one:
    * {{{
    *   row               fast path (s)   distributed only (s)
    *   graph_pagerank        2.59            4.15
    *   graph_ppr             2.67            3.99
    *   graph_hits            2.49            5.22
    *   graph_report          5.33            5.05 (flat)
    * }}}
    * The fast paths can go once the distributed loop is cheap at small P.
    */
  private[graft] val maxLocalEdges = 5000000L

  /** drain a unique-key (Long, Long) iterator into a primitive LongMap —
    * the lookup side of the narrow per-round joins below (r16: cogroup
    * joins of co-partitioned unique-key relations paid CompactBuffer +
    * boxed-Option allocation per row for what is a plain map lookup)
    */
  private def lookupOf(it: Iterator[(Long, Long)])
      : scala.collection.mutable.LongMap[Long] = {
    val m = new scala.collection.mutable.LongMap[Long]()
    it.foreach { case (k, v) => m.update(k, v) }
    m
  }

  /** Lazily replicate a per-round global Long sum to every partition of
    * the loop partitioner, WITHOUT a driver action: per-partition partial
    * sums collapse to one record through a single-key shuffle, which fans
    * back out as exactly one (p, sum) record per partition (Int keys
    * 0..P-1 under HashPartitioner(P) land on their own index). The
    * consuming round `zipPartitions` it in. This is what keeps a
    * fixed-count power iteration one driver job end-to-end: the scalar a
    * round needs (dangling mass, L1 total) stays inside the DAG instead
    * of bouncing off the driver — per-round driver barriers are pure
    * latency at small scale and a scheduling bottleneck at 1000
    * executors. Cost: 2 tiny stages of P+1 records per round.
    */
  private def replicatedSum[T](rdd: RDD[T], part: HashPartitioner)
      (f: T => Long): RDD[(Int, Long)] = {
    rdd.mapPartitions { it =>
        var s = 0L; it.foreach(t => s += f(t)); Iterator.single((0, s))
      }
      .reduceByKey(new HashPartitioner(1), _ + _)
      .flatMap { case (_, s) =>
        Iterator.range(0, part.numPartitions).map(p => (p, s)) }
      .partitionBy(part)
  }

  /** Exact fixed-point PageRank over a directed edge list.
    *
    * @param edges relation with long columns `src`, `dst` (parallel edges
    *              are collapsed; self-loops count like any edge)
    * @param iters fixed iteration count (power iteration; ~log(N)/log(1/d)
    *              rounds reach link-curation stability — 8 is the usual
    *              crawl-ranking setting)
    * @param scale fixed-point unit: returned ranks sum to ~`scale`
    *              (truncation leaks a few units per round, deterministically)
    * @param dampPct damping factor as an integer percentage (85 = the
    *                classic 0.85)
    * @return (node LONG, rank LONG) — rank is the stationary-mass share
    *         times `scale`; recover a probability as rank/scale.
    *
    * Recurrence (all integer ops, `/` = truncating division on nonneg):
    * {{{
    *   base    = scale / N
    *   share_e = rank(src_e) / outdeg(src_e)
    *   dm      = sum of rank over outdeg-0 nodes       (dangling mass)
    *   rank'   = ((100-d)*base + d*(sum_in share + dm/N)) / 100
    * }}}
    */
  def pageRank(edges: DataFrame, iters: Int = 8,
      scale: Long = 1000000000000L, dampPct: Int = 85): DataFrame =
    prCore(edges, None, None, iters, scale, dampPct)

  /** Weighted PageRank: out-mass splits proportionally to integer edge
    * weights instead of uniformly — the host-graph ranker as actually
    * run (link multiplicity / interaction counts as weights). Parallel
    * (src, dst) rows SUM their weights; `share_e = rank·w_e / W(src)`
    * with W = total out-weight (truncating division, exact). All-ones
    * weights reproduce [[pageRank]] bit for bit, since rank·1/W is the
    * uniform split.
    *
    * @param weightCol positive integer weight column; rows with
    *                  weight <= 0 or null are dropped
    */
  def pageRankWeighted(edges: DataFrame, weightCol: String, iters: Int = 8,
      scale: Long = 1000000000000L, dampPct: Int = 85): DataFrame =
    prCore(edges, Some(weightCol), None, iters, scale, dampPct)

  /** Personalized PageRank (random walk with restart): identical
    * recurrence except the teleport mass — both the (100-d) restart and
    * the dangling redistribution — lands uniformly on the SEED set
    * instead of all nodes. The curation use: rank items/hosts by
    * random-walk proximity to a trusted or topical seed set ("related
    * items", "hosts reachable from curated domains"). Uniform
    * [[pageRank]] is exactly this with seeds = all nodes.
    *
    * @param seeds relation whose FIRST column holds seed node ids; ids
    *              absent from the graph are ignored (a seed with no
    *              edges anywhere contributes nothing reachable)
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int = 8,
      scale: Long = 1000000000000L, dampPct: Int = 85): DataFrame =
    prCore(edges, None, Some(seeds), iters, scale, dampPct)

  /** the full combination: weighted shares AND seeded teleport — rank by
    * random-walk-with-restart proximity where hop probability follows
    * edge multiplicity (the "related to these items, weighted by how
    * often people actually co-interact" ranker). Same loop, same
    * envelopes as the two specializations.
    */
  def personalizedPageRankWeighted(edges: DataFrame, weightCol: String,
      seeds: DataFrame, iters: Int = 8,
      scale: Long = 1000000000000L, dampPct: Int = 85): DataFrame =
    prCore(edges, Some(weightCol), Some(seeds), iters, scale, dampPct)

  /** the PageRank family's one loop; `localEdgeLimit` bounds the P == 1
    * fast path (0 forces the distributed loop)
    */
  private[graft] def prCore(edges: DataFrame, weightColOpt: Option[String],
      seedsOpt: Option[DataFrame], iters: Int,
      scale: Long, dampPct: Int, localEdgeLimit: Long = maxLocalEdges): DataFrame = {
    require(iters >= 1, s"iters $iters must be >= 1")
    require(dampPct >= 0 && dampPct <= 100, s"dampPct $dampPct out of [0,100]")
    // overflow envelope: d*(incoming + dm/|S|) <= 100 * 2*scale must fit a long
    require(scale >= 1000 && scale <= 1000000000000000L,
      s"scale $scale out of [1e3, 1e15]")
    val spark = edges.sparkSession

    val e = CacheScope.cache(weightColOpt match {
      case None => edges
        .select(col("src").cast(LongType), col("dst").cast(LongType))
        .where(col("src").isNotNull && col("dst").isNotNull)
        .distinct()
        .select(col("src"), col("dst"), lit(1L).as("w"))
      case Some(wc) => edges
        .select(col("src").cast(LongType), col("dst").cast(LongType),
          col(wc).cast(LongType).as("w"))
        .where(col("src").isNotNull && col("dst").isNotNull && col("w") > 0)
        .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    })
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
    // out-WEIGHT per node (plain out-degree when unweighted) and the
    // number of out-edges, whose sum sizes the fast path below
    val deg = e.groupBy(col("src").as("id"))
      .agg(sum(col("w")).as("outdeg"), count(lit(1)).as("nout"))
    val seedFlag = seedsOpt match {
      case None => nodes.select(col("id"), lit(true).as("seed"))
      case Some(sd) =>
        val s0 = sd.select(sd.columns.head)
        val sids = s0.select(col(s0.columns.head).cast(LongType).as("id"))
          .where(col(s0.columns.head).isNotNull).distinct()
        nodes.join(sids.withColumn("seed", lit(true)), Seq("id"), "left")
          .select(col("id"), coalesce(col("seed"), lit(false)).as("seed"))
    }
    val nodeDeg = seedFlag.join(deg, Seq("id"), "left")
      .select(col("id"), coalesce(col("outdeg"), lit(0L)).as("outdeg"), col("seed"),
        coalesce(col("nout"), lit(0L)).as("nout"))

    // one partitioner for the whole loop, sized to the graph (not the
    // session default): every round is a driver-synchronous stage chain,
    // and scheduling empty partitions is pure latency on small graphs
    val degRows = nodeDeg.rdd
    val degPairs: RDD[(Long, (Long, Boolean))] = degRows
      .map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2))))
    // (nodes, seeds, edges) in one job
    val (n, nSeeds, nEdges) = degRows
      .map(r => (1L, if (r.getBoolean(2)) 1L else 0L, r.getLong(3)))
      .fold((0L, 0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
    require(n > 0, "pageRank over an empty edge relation")
    require(nSeeds > 0, "personalizedPageRank: no seed id appears in the graph")
    val part = new HashPartitioner(math.max(1,
      math.min(spark.sessionState.conf.numShufflePartitions,
        math.ceil(n / 50000.0).toInt)))
    val degR = degPairs.partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK_SER)
    val edgesR: RDD[(Long, (Long, Long))] = e.rdd
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK_SER)
    // per-edge share is rank*w/W: pin the overflow envelope to the data
    val maxW = if (weightColOpt.isEmpty) 1L
               else edgesR.map(_._2._2).fold(0L)(math.max)
    require(maxW <= Long.MaxValue / (2 * scale + 1),
      s"max edge weight $maxW overflows the rank*weight envelope at scale $scale")

    val base = scale / nSeeds // teleport mass per seed node
    val damp = dampPct.toLong
    var ranks: RDD[(Long, Long)] = degR
      .mapValues { case (_, seed) => if (seed) base else 0L }

    // The whole power iteration is LAZY — zero driver jobs inside the
    // loop. The dangling-mass scalar each round needs used to be a
    // driver-side fold (one job + one persist/unpersist pair per round:
    // at sf0.1 that driver round-latency was the graph family's dominant
    // wall cost, and at 1000 executors a per-round driver barrier is the
    // scheduling bottleneck); it now rides [[replicatedSum]] — a
    // two-hop tiny shuffle that lands the scalar next to every partition,
    // zipped into the round's rank update. Per-round recomputation is
    // bounded: each round's narrow chain starts at the PREVIOUS round's
    // shuffle outputs (incoming + the scalar fan-out), which Spark
    // materializes and reuses across the two stages that read `joined` —
    // no persist sites, no lineage blowup, ONE job at the end.
    // SMALL-GRAPH FAST PATH: the partitioner is sized to the data, so
    // P == 1 means the whole graph fits one partition — where the
    // distributed round structure is pure overhead (measured: each
    // 1-task shuffle stage costs ~60-100 ms of scheduler latency, and
    // the narrow-stage alternative pays repeated serialized-cache reads).
    // The identical recurrence runs partition-locally over primitive-long
    // maps in ONE narrow task: same integer algebra, same evaluation
    // order per round (dangling fold, truncating shares, teleport), so
    // ranks land bit-identical — the oracle gates and the recurrence-
    // replay specs verify exactly that. At P > 1 the loop below is
    // untouched.
    // defensive edge-count gate: P == 1 bounds NODES at 50k, but a dense
    // graph could hold O(n²) edges — past the bound the distributed loop
    // runs (same recurrence, same bits). The edge count rides the node
    // fold above, so the gate runs no job of its own.
    val localLoop = part.numPartitions == 1 && nEdges <= localEdgeLimit
    if (localLoop) {
      val itersL = iters
      ranks = degR.zipPartitions(edgesR, preservesPartitioning = true) { (itD, itE) =>
        val ow = new scala.collection.mutable.LongMap[Long]()
        val seed = new scala.collection.mutable.LongMap[Boolean]()
        val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
        itD.foreach { case (id, (o, s)) =>
          ids += id; ow.update(id, o); seed.update(id, s) }
        val edgeArr = itE.toArray // (src, (dst, w))
        var rk = new scala.collection.mutable.LongMap[Long](ids.length)
        ids.foreach(id => rk.update(id, if (seed(id)) base else 0L))
        var t = 0
        while (t < itersL) {
          var dm = 0L
          ids.foreach { id => if (ow(id) == 0L) dm += rk(id) }
          val inc = new scala.collection.mutable.LongMap[Long]()
          edgeArr.foreach { case (src, (dst, w)) =>
            val o = ow(src)
            if (o != 0L) {
              val sh = rk(src) * w / o
              inc.update(dst, inc.getOrElse(dst, 0L) + sh)
            }
          }
          val dShare = dm / nSeeds
          val next = new scala.collection.mutable.LongMap[Long](ids.length)
          ids.foreach { id =>
            val teleport = if (seed(id)) (100L - damp) * base + damp * dShare else 0L
            next.update(id, (teleport + damp * inc.getOrElse(id, 0L)) / 100L)
          }
          rk = next
          t += 1
        }
        ids.iterator.map(id => (id, rk(id)))
      }
    } else {
      var it = 0
      while (it < iters) {
        // Per-round joins as zipPartitions over primitive LongMaps (r16,
        // guide §1.2 step 2 + §5): all operand pairs are co-partitioned on
        // `part` with unique lookup keys, so the cogroup-based join/
        // leftOuterJoin machinery only added CompactBuffer/boxed-Option
        // allocation per row. Shuffle count and bytes per round unchanged
        // (the scalar fan-out + the map-side-combined incoming reduction);
        // values identical (same lookups, same integer algebra).
        val joined = degR.zipPartitions(ranks, preservesPartitioning = true) {
          (itD, itR) =>
            val rk = lookupOf(itR) // ranks covers every id, every round
            itD.map { case (id, ds) => (id, (rk(id), ds)) }
        }
        val dmRep = replicatedSum(joined, part) {
          case (_, (rank, (ow, _))) => if (ow == 0L) rank else 0L }
        // per-edge shares rank*w/W at the src partition (narrow: joined and
        // edgesR co-partitioned), then the round's main shuffle: the map-
        // side-combined sum of incoming shares keyed by dst
        val srcRank = joined
          .flatMapValues { case (rank, (ow, _)) => if (ow == 0L) None else Some((rank, ow)) }
        // srcRank's keys ⊆ the id set (dangling srcs dropped — a missing
        // lookup skips the edge, the old inner join's behavior). NOT
        // partitioning-preserving: the output re-keys src → dst, so the
        // reduceByKey below must plant its real shuffle.
        val incoming = edgesR.zipPartitions(srcRank, preservesPartitioning = false) {
            (itE, itS) =>
              val s = new scala.collection.mutable.LongMap[(Long, Long)]()
              itS.foreach { case (k, v) => s.update(k, v) }
              itE.flatMap { case (src, (dst, w)) =>
                val v = s.getOrNull(src)
                if (v == null) Iterator.empty
                else Iterator.single((dst, v._1 * w / v._2))
              }
          }
          .reduceByKey(part, _ + _)
        ranks = degR.zipPartitions(incoming, dmRep, preservesPartitioning = true) {
          (itN, itI, itD) =>
            val inc = lookupOf(itI) // unique keys post-reduce
            val dShare = (if (itD.hasNext) itD.next()._2 else 0L) / nSeeds
            itN.map { case (id, (_, seed)) =>
              val teleport = if (seed) (100L - damp) * base + damp * dShare else 0L
              (id, (teleport + damp * inc.getOrElse(id, 0L)) / 100L)
            }
        }
        it += 1
      }
    }
    ranks = ranks.persist(StorageLevel.MEMORY_AND_DISK_SER)
    ranks.count() // the ONE action: materializes every round
    degR.unpersist(blocking = false)
    edgesR.unpersist(blocking = false)
    CacheScope.registerRdd(ranks)
    e.unpersist(blocking = false)

    spark.createDataFrame(
      ranks.map { case (id, r) => Row(id, r) },
      StructType(Seq(StructField("node", LongType, nullable = false),
        StructField("rank", LongType, nullable = false))))
  }

  /** Exact fixed-point HITS (Kleinberg hubs-and-authorities) over a
    * directed edge list: authorities collect from hubs, hubs from the
    * UPDATED authorities, both L1-normalised to `scale` each round
    * (the one place 64 bits can't hold the multiply, so the normalising
    * `raw * scale / total` runs through BigInt per NODE — never per edge;
    * the oracle replays it as HUGEINT).
    *
    * @return (node LONG, hub LONG, auth LONG), each column summing to
    *         ~`scale` (minus deterministic truncation)
    */
  def hits(edges: DataFrame, iters: Int = 8, scale: Long = 1000000000L): DataFrame =
    hitsLoop(edges, iters, scale, maxLocalEdges)

  /** [[hits]] with the P == 1 fast path's edge bound as an argument */
  private[graft] def hitsLoop(edges: DataFrame, iters: Int, scale: Long,
      localEdgeLimit: Long): DataFrame = {
    require(iters >= 1, s"iters $iters must be >= 1")
    require(scale >= 1000 && scale <= 1000000000000L, s"scale $scale out of [1e3, 1e12]")
    val spark = edges.sparkSession

    val e = CacheScope.cache(edges
      .select(col("src").cast(LongType), col("dst").cast(LongType))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
    val nodePairs: RDD[(Long, Unit)] = nodes.rdd.map(r => (r.getLong(0), ()))
    val n = nodePairs.count()
    require(n > 0, "hits over an empty edge relation")
    // overflow envelope: round 1 starts UN-normalised (every hub = scale),
    // so a raw sum can reach |E|*scale — and after normalisation every
    // later round is bounded by the same product. Refuse loudly instead
    // of wrapping (the oracle's HUGEINT sums would silently diverge).
    val nEdges = e.count()
    require(nEdges <= Long.MaxValue / scale,
      s"hits: $nEdges edges at scale $scale overflows the raw-sum envelope; lower scale")
    val part = new HashPartitioner(math.max(1,
      math.min(spark.sessionState.conf.numShufflePartitions,
        math.ceil(n / 50000.0).toInt)))
    val nodesR = nodePairs.partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK_SER)
    val bySrc: RDD[(Long, Long)] = e.rdd.map(r => (r.getLong(0), r.getLong(1)))
      .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK_SER)
    val byDst: RDD[(Long, Long)] = e.rdd.map(r => (r.getLong(1), r.getLong(0)))
      .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK_SER)

    val sc = BigInt(scale)
    // raw collected sums -> L1-normalised scores on every node. LAZY, like
    // the PageRank loop: the L1 total used to be a driver fold (TWO jobs
    // per HITS round); it now rides [[replicatedSum]] and zips into the
    // normalising map. `raw` ends at a reduceByKey, so its shuffle output
    // is materialized once and reused by both consumers (the total's
    // partial-sum stage and the scores join) without a persist site.
    def normalise(raw: RDD[(Long, Long)]): RDD[(Long, Long)] = {
      val totRep = replicatedSum(raw, part)(_._2)
      // LongMap lookup instead of leftOuterJoin (r16): raw has unique keys
      // ⊆ the node set and is co-partitioned with nodesR — same values,
      // none of the cogroup/Option allocation
      nodesR.zipPartitions(raw, totRep, preservesPartitioning = true) {
        (itN, itR, itT) =>
          val m = lookupOf(itR)
          val total = if (itT.hasNext) itT.next()._2 else 0L
          itN.map { case (id, _) =>
            (id, if (total == 0L) 0L
                 else (BigInt(m.getOrElse(id, 0L)) * sc / total).toLong)
          }
      }
    }

    var hub: RDD[(Long, Long)] = nodesR.mapValues(_ => scale)
    var auth: RDD[(Long, Long)] = hub
    // the P == 1 branch persists the one (hub, auth) pair RDD and derives
    // hub/auth as cheap narrow mapValues over it — re-persisting those
    // derivations would triple-cache the same data
    var persistHalves = true
    // SMALL-GRAPH FAST PATH (same rationale and bit-identity argument as
    // the pageRank loop's): at P == 1 the full hubs/authorities iteration
    // runs partition-locally in ONE narrow task — identical collect sums,
    // identical per-node BigInt normalisation. P > 1 untouched. Gated on
    // the edge count too (nEdges is already computed for the overflow
    // envelope): a dense 50k-node graph falls back to the distributed loop.
    if (part.numPartitions == 1 && nEdges <= localEdgeLimit) {
      val itersL = iters
      val ha = nodesR.zipPartitions(bySrc, byDst, preservesPartitioning = true) {
        (itN, itS, itD) =>
          val ids = itN.map(_._1).toArray
          val srcE = itS.toArray // (src, dst)
          val dstE = itD.toArray // (dst, src)
          def normaliseL(raw: scala.collection.mutable.LongMap[Long])
              : scala.collection.mutable.LongMap[Long] = {
            var total = 0L
            raw.foreach { case (_, v) => total += v }
            val out = new scala.collection.mutable.LongMap[Long](ids.length)
            ids.foreach { id =>
              val r = raw.getOrElse(id, 0L)
              out.update(id, if (total == 0L) 0L else (BigInt(r) * sc / total).toLong)
            }
            out
          }
          var hubL = new scala.collection.mutable.LongMap[Long](ids.length)
          ids.foreach(id => hubL.update(id, scale))
          var authL = hubL
          var t = 0
          while (t < itersL) {
            val rawAuth = new scala.collection.mutable.LongMap[Long]()
            srcE.foreach { case (src, dst) =>
              rawAuth.update(dst, rawAuth.getOrElse(dst, 0L) + hubL(src)) }
            authL = normaliseL(rawAuth)
            val rawHub = new scala.collection.mutable.LongMap[Long]()
            dstE.foreach { case (dst, src) =>
              rawHub.update(src, rawHub.getOrElse(src, 0L) + authL(dst)) }
            hubL = normaliseL(rawHub)
            t += 1
          }
          val h = hubL; val a = authL
          ids.iterator.map(id => (id, (h(id), a(id))))
      }.persist(StorageLevel.MEMORY_AND_DISK_SER)
      hub = ha.mapValues(_._1)
      auth = ha.mapValues(_._2)
      persistHalves = false
      CacheScope.registerRdd(ha)
    } else {
      var it = 0
      while (it < iters) {
        // edge-side score lookups as narrow LongMap zips (hub/auth cover
        // every node each round, so the lookups always hit); NOT
        // partitioning-preserving — the outputs re-key src ↔ dst and the
        // reduceByKey must plant its real shuffle
        val rawAuth = bySrc.zipPartitions(hub, preservesPartitioning = false) {
            (itE, itH) =>
              val h = lookupOf(itH)
              itE.map { case (src, dst) => (dst, h(src)) }
          }
          .reduceByKey(part, _ + _)
        auth = normalise(rawAuth)
        val rawHub = byDst.zipPartitions(auth, preservesPartitioning = false) {
            (itE, itA) =>
              val a = lookupOf(itA)
              itE.map { case (dst, src) => (src, a(dst)) }
          }
          .reduceByKey(part, _ + _)
        hub = normalise(rawHub)
        it += 1
      }
    }
    if (persistHalves) {
      // P > 1: hub's final half-round computes THROUGH auth's chain (auth
      // feeds rawHub), so the one count materializes BOTH persists
      hub = hub.persist(StorageLevel.MEMORY_AND_DISK_SER)
      auth = auth.persist(StorageLevel.MEMORY_AND_DISK_SER)
      CacheScope.registerRdd(hub)
      CacheScope.registerRdd(auth)
    }
    // the ONE action: materializes the loop (P > 1) or the persisted ha
    // pair RDD (P == 1, where hub/auth are narrow mapValues over it)
    hub.count()
    bySrc.unpersist(blocking = false)
    byDst.unpersist(blocking = false)
    nodesR.unpersist(blocking = false)
    e.unpersist(blocking = false)

    val joined = hub.join(auth).map { case (id, (h, a)) => Row(id, h, a) }
    spark.createDataFrame(joined,
      StructType(Seq(StructField("node", LongType, nullable = false),
        StructField("hub", LongType, nullable = false),
        StructField("auth", LongType, nullable = false))))
  }
}
