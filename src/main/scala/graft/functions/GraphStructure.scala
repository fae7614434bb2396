package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.CacheScope

/** Structural link-graph operators for corpus/recommender curation:
  * co-occurrence neighbor ranking (the item-item similarity signal
  * co-visitation recommenders and "related documents" curation run on)
  * and degree-oriented triangle counting (the local-clustering signal
  * that separates organic communities from spam link farms).
  *
  * Everything here is exact integer counting over DataFrame joins and
  * aggregations — no iteration, no floating point — so results are
  * bit-identical across engines and the DuckDB oracles replay the same
  * relational algebra directly.
  */
object GraphStructure {

  /** shared prelude of every co-occurrence op: distinct (ctx, item)
    * interactions with promiscuous contexts (more than `maxCtxDegree`
    * distinct items) dropped BEFORE any pair join, cached because every
    * caller reads it at least twice (self-join sides, count relations)
    */
  private def prunedPairs(rel: DataFrame, ctxCol: String, itemCol: String,
      maxCtxDegree: Int): DataFrame = {
    require(maxCtxDegree >= 2, s"maxCtxDegree $maxCtxDegree must be >= 2")
    // cached: `kept` (the degree filter) and the semi-join left side both
    // read it — uncached, the upstream scan + distinct evaluated twice
    val pairs = CacheScope.cache(rel
      .select(col(ctxCol).cast(LongType).as("ctx"), col(itemCol).cast(LongType).as("item"))
      .where(col("ctx").isNotNull && col("item").isNotNull)
      .distinct())
    val kept = pairs.groupBy(col("ctx"))
      .agg(count(lit(1)).as("d"))
      .where(col("d") <= maxCtxDegree)
      .select(col("ctx"))
    CacheScope.cache(pairs.join(kept, Seq("ctx"), "left_semi"))
  }

  /** Top-k co-occurring items per item: two items co-occur once per
    * shared context (user, session, document — any grouping key).
    *
    * Scale shape: the ONLY superlinear danger in co-occurrence is the
    * per-context pair fan-out (a context with d items emits d(d-1)
    * pairs), so contexts with more than `maxCtxDegree` distinct items
    * are dropped BEFORE the self-join — the standard recsys prune
    * (promiscuous contexts carry ~no similarity signal; a crawler that
    * touched every page says nothing about page affinity). With the cap,
    * pair volume is <= cap * |relation| and the plan is: one exchange of
    * the (ctx, item) relation, a co-partitioned self-join (one shuffled
    * relation reused on both sides), a map-side-combined count, and the
    * bounded sorted-slice top-k — no window, no all-pairs.
    *
    * @param rel          relation with a context column and an item column
    * @param maxCtxDegree contexts with more distinct items are dropped
    * @param k            neighbors kept per item
    * @return (item, rank, other, n_shared) — rank 1..k by
    *         (n_shared desc, other asc); items with no surviving
    *         neighbor are absent
    */
  def coOccurrenceTopK(rel: DataFrame, ctxCol: String, itemCol: String,
      k: Int, maxCtxDegree: Int = 1000): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    val p = prunedPairs(rel, ctxCol, itemCol, maxCtxDegree)
    val co = p.as("a").join(p.as("b"), Seq("ctx"))
      .where(col("a.item") =!= col("b.item"))
      .groupBy(col("a.item").as("item"), col("b.item").as("other"))
      .agg(count(lit(1)).as("n_shared"))
    // bounded-heap top-k (the Similarity.TopKAgg pattern): the
    // aggregation state per item is k rows, never the full distinct
    // neighbor list — a popular item's neighbor count is bounded only
    // by maxCtxDegree x its context count, which collect_list would
    // materialize in one row. Ordering matches the aggregator's
    // (score desc, id asc) = (n_shared desc, other asc).
    // n_shared (a BIGINT count) rides TopKAgg's double-typed score and
    // casts back to long: exact only below 2^53 — unreachable here
    // (n_shared <= the pruned context count per pair, and maxCtxDegree
    // bounds pair emission), but a reuse with unbounded counts must not
    // inherit this silently.
    Similarity.rankTopK(
        co.select(col("item").as("qid"), col("other").as("id"),
          col("n_shared").cast("double").as("score")), k)
      .select(col("qid").as("item"), col("rank"), col("id").as("other"),
        col("score").cast("long").as("n_shared"))
  }

  /** Undirected item-item projection of a bipartite (ctx, item)
    * relation: one edge per item pair sharing at least `minShared`
    * contexts (after the same promiscuous-context prune as
    * [[coOccurrenceTopK]]). Canonical (a < b) edge orientation.
    */
  def projectItemGraph(rel: DataFrame, ctxCol: String, itemCol: String,
      minShared: Long, maxCtxDegree: Int = 1000): DataFrame = {
    require(minShared >= 1, s"minShared $minShared must be >= 1")
    val p = prunedPairs(rel, ctxCol, itemCol, maxCtxDegree)
    p.as("x").join(p.as("y"), Seq("ctx"))
      .where(col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("a"), col("y.item").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .select(col("a"), col("b"))
  }

  /** Deterministic random walks — the training-corpus generator for
    * graph-embedding pipelines (DeepWalk/node2vec-style): one walk per
    * node, each step choosing a neighbor by a content hash instead of an
    * RNG, so the corpus is bit-identical across partitionings, re-runs,
    * and engines (the oracle replays the same md5-indexed choice), and
    * regenerating a shard never perturbs the others.
    *
    * Choice rule at step t from node c on walk started at s:
    * `idx = int(first 8 hex chars of md5("s,t,c")) % |nbrs(c)|` over the
    * sorted (and degree-capped) neighbor list — independent per walk and
    * per step, stable under graph growth elsewhere.
    *
    * Scale shape: the adjacency relation (node -> sorted neighbor array,
    * first `maxDegree` kept — the cap bounds hub rows the same way the
    * co-occurrence prune does) is built once and cached; each step is ONE
    * equi-join of the (start, cur) frontier against it. Walks ending at a
    * sink stop (the join drops them) — no dangling special-casing.
    *
    * @return (start, step, node): step 0 is the start itself; a walk
    *         contributes `steps+1` rows unless it hits a sink early
    */
  def randomWalks(edges: DataFrame, steps: Int, maxDegree: Int = 1024,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    walks(edges, steps, maxDegree, srcCol, dstCol, WalkBcastBytes)

  /** the broadcast cap of the walks' adjacency, in measured cached bytes */
  private[graft] val WalkBcastBytes = 64L << 20

  /** [[randomWalks]] with the adjacency broadcast when its cached size is
    * at most `bcastBytes` (a spec passes -1 to force the shuffled join)
    */
  private[graft] def walks(edges: DataFrame, steps: Int, maxDegree: Int,
      srcCol: String, dstCol: String, bcastBytes: Long): DataFrame = {
    require(steps >= 1 && steps <= 64, s"steps $steps out of [1, 64]")
    require(maxDegree >= 1, s"maxDegree $maxDegree must be >= 1")
    // NOT cached (measured, round 15): caching this pre-distinct relation
    // grew the row's cpu_s ~60% — the cache write + InMemory scans cost
    // more than the two cheap re-derivations it saved, and it blocks the
    // exchange reuse between the adjacency agg and the node-set distinct
    val e = edges
      .select(col(srcCol).cast(LongType).as("src"), col(dstCol).cast(LongType).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val adj = CacheScope.cache(e.distinct()
      .groupBy(col("src").as("cur"))
      .agg(slice(sort_array(collect_set(col("dst"))), 1, maxDegree).as("nbrs")))
    // DATA-adaptive broadcast of the adjacency (r16, guide §3.1): the
    // cached relation's pre-materialization size ESTIMATE derives from the
    // raw upstream scan, so the planner sort-merge-joined every step —
    // one frontier exchange + sort per hop. When the adjacency is small,
    // hint it broadcast and every hop becomes a narrow BroadcastHashJoin —
    // zero per-step exchanges. The gate is the cache's MEASURED size: one
    // count materializes it (the first hop would have to anyway), after
    // which the cached relation's statistics report the bytes it holds
    // rather than an estimate. Large graphs keep the shuffled join; the
    // gate is data size, never core count.
    adj.count()
    val adjBytes = adj.select("*").queryExecution.optimizedPlan.stats.sizeInBytes
    val adjSide = if (adjBytes <= bcastBytes) broadcast(adj) else adj
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()

    // NOT taken (r16, measured): repartitioning the frontier to spread
    // the step chain across cores. The hops run in AQE-coalesced
    // single-task stages at fixture scale, but the explicit exchange +
    // 32-block step caches measured ~80% WORSE on a calm host
    // (graph_walks 2.7 → 5.0 s) — per-stage scheduling overhead swamps
    // the per-step md5 work at this node count, and at real scale the
    // node set is large enough that AQE keeps it parallel on its own.
    var frontier = nodes.select(col("id").as("start"), col("id").as("cur"))
    val out = collection.mutable.Buffer(
      frontier.select(col("start"), lit(0L).as("step"), col("cur").as("node")))
    for (t <- 1 to steps) {
      val h = conv(substring(md5(
          concat_ws(",", col("start"), lit(t.toLong), col("cur"))), 1, 8), 16, 10)
        .cast(LongType)
      // each step is read twice (its output rows + the next hop) — cache
      // keeps the unioned plan linear in steps instead of quadratic
      frontier = CacheScope.cache(frontier.join(adjSide, Seq("cur"))
        .select(col("start"),
          element_at(col("nbrs"), (h % size(col("nbrs")) + 1).cast("int")).as("cur")))
      out += frontier.select(col("start"), lit(t.toLong).as("step"), col("cur").as("node"))
    }
    out.reduce(_ unionByName _)
  }

  /** Pointwise mutual information over co-occurring item pairs:
    * `pmi(a,b) = ln(P(a,b)/(P(a)P(b))) = ln(c_ab·n / (c_a·c_b))` with
    * counts over the degree-capped context relation — the association
    * measure that separates "genuinely related" from "both merely
    * popular" (raw co-occurrence counts rank popular×popular pairs
    * first; PMI normalizes the popularity out). Counts are exact
    * integers; the one FP step is the final ln, rounded to the house
    * 6-dp grid so both engines land on the same value (the quotient is
    * computed in a PINNED operation order: (c_ab·n) / (c_a·c_b), each
    * factor a deterministic IEEE double product).
    *
    * @return (item_a, item_b, n_shared, pmi) for canonical a < b pairs
    *         with at least `minShared` shared contexts
    */
  def covisitPmi(rel: DataFrame, ctxCol: String, itemCol: String,
      minShared: Long, maxCtxDegree: Int = 1000): DataFrame = {
    require(minShared >= 1, s"minShared $minShared must be >= 1")
    val p = prunedPairs(rel, ctxCol, itemCol, maxCtxDegree)
    val nCtx = p.agg(countDistinct(col("ctx")).as("n_ctx")) // 1-row broadcast
    val ci = p.groupBy(col("item")).agg(count(lit(1)).as("c"))
    val cab = p.as("x").join(p.as("y"), Seq("ctx"))
      .where(col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("item_a"), col("y.item").as("item_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    cab
      .join(ci.select(col("item").as("item_a"), col("c").as("ca")), Seq("item_a"))
      .join(ci.select(col("item").as("item_b"), col("c").as("cb")), Seq("item_b"))
      .crossJoin(nCtx)
      .select(col("item_a"), col("item_b"), col("n_shared"),
        round(log((col("n_shared").cast("double") * col("n_ctx")) /
          (col("ca").cast("double") * col("cb").cast("double"))), 6).as("pmi"))
  }

  /** Skip-gram (center, context) pair extraction over a walk corpus —
    * the step between [[randomWalks]] and embedding training: every
    * ordered pair of nodes within `window` hops on the same walk, with
    * corpus-wide multiplicity. One cached walk relation, one
    * start-keyed self-join (fan-out bounded by walk length × window),
    * one map-side-combined count.
    *
    * @param walks relation with columns (start, step, node) as
    *              [[randomWalks]] returns
    * @return (center, context, n) — n = co-occurrence multiplicity
    */
  def walkSkipGrams(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window $window must be >= 1")
    val w = CacheScope.cache(
      walks.select(col("start"), col("step").cast(LongType).as("step"),
        col("node").cast(LongType).as("node")))
    w.as("a").join(w.as("b"),
        col("a.start") === col("b.start") && col("a.step") =!= col("b.step") &&
        abs(col("a.step") - col("b.step")) <= window)
      .groupBy(col("a.node").as("center"), col("b.node").as("context"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-node triangle counts over an undirected simple graph.
    *
    * Input edges are symmetrized/deduplicated and self-loops dropped, so
    * any edge-list convention works. The enumeration is the classic
    * degree-ordered orientation (Schank & Wagner's forward algorithm):
    * orient every edge from the lower-(degree, id) endpoint to the
    * higher, list triangles as wedge (a->b, a->c) + closing oriented
    * edge (b->c). Each triangle is produced exactly once, and — the
    * scale property — every oriented out-degree is O(sqrt(m)), so the
    * wedge join's fan-out is bounded by m^1.5 TOTAL regardless of skew:
    * a celebrity node with degree 10^6 has out-degree ~sqrt(2m) after
    * orientation because nearly all its edges point AT it. Without the
    * orientation, wedges at that node alone would be 10^12.
    *
    * Plan: degree agg, one broadcast-or-shuffle join to attach endpoint
    * degrees, the wedge self-join on the oriented source, and the
    * closing equi-join on (b, c) — all hash equi-joins, counts exact.
    *
    * @return (node, triangles) for every node in >= 1 triangle
    */
  def triangleCounts(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val raw = edges
      .select(col(srcCol).cast(LongType).as("u"), col(dstCol).cast(LongType).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
    // und feeds the degree agg (twice, via the union) and the degree
    // attach; oriented feeds the wedge self-join on BOTH sides plus the
    // closing-edge probe — cache each once so an expensive upstream (e.g.
    // a projected item graph) is computed once, not 3x
    val und = CacheScope.cache(raw
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct())
    val deg = und.select(col("a").as("id")).unionAll(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // orient by (deg, id): lower endpoint -> higher endpoint
    val withDeg = und
      .join(deg.withColumnRenamed("id", "a").withColumnRenamed("deg", "da"), Seq("a"))
      .join(deg.withColumnRenamed("id", "b").withColumnRenamed("deg", "db"), Seq("b"))
    val ka = struct(col("da").as("d"), col("a").as("i"))
    val kb = struct(col("db").as("d"), col("b").as("i"))
    val oriented = CacheScope.cache(withDeg
      .select(when(ka < kb, col("a")).otherwise(col("b")).as("src"),
        when(ka < kb, kb).otherwise(ka).as("dstKey"))
      .select(col("src"), col("dstKey.i").as("dst"), col("dstKey")))
    // wedges at src, ordered by the dst rank key so each unordered wedge
    // appears once; the closing edge's orientation is then forced
    val tri = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dstKey") < col("e2.dstKey"))
      .select(col("e1.src").as("ta"), col("e1.dst").as("tb"), col("e2.dst").as("tc"))
      .join(oriented.as("e3"),
        col("tb") === col("e3.src") && col("tc") === col("e3.dst"), "left_semi")
    tri.select(explode(array(col("ta"), col("tb"), col("tc"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
  }
}
