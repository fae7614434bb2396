package graft

import scala.reflect.ClassTag

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateMode, Final, Partial}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types.{ArrayType, DecimalType}

/** Plan-shape regression pins for the scale properties the engine claims
  * (SURVEY.md §4): these are the properties a reviewer checks with
  * .explain — pinned here so a refactor can't silently reintroduce a
  * scale-killer (global window rank, lost pushdown, missed broadcast,
  * all-pairs join, text crossing a shuffle). Each test is named after the
  * query whose plan it plans (without running it, unless stated) and the
  * property that plan must keep. Run after any plan-affecting change:
  * {{{ sbt "testOnly graft.PlanSpec" }}}
  */
class PlanSpec extends SparkSpec {

  // fixed SF: these pins encode the sf0.001 plan shapes (broadcast
  // thresholds and AQE decisions are size-dependent, so honoring
  // SPARK_GRAFT_SF_DIR would make the suite fail spuriously after a
  // perf run exported sf0.1)
  private val sfDir = "/root/testdata/sf0.001"

  /** A planned query: every physical operator Spark would run, including
    * the plans of subqueries, of the cached relations it scans and of
    * finished query stages, each operator once.
    */
  private final class Plan(root: SparkPlan) {
    val nodes: Seq[SparkPlan] = {
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
      val out = Seq.newBuilder[SparkPlan]
      def walk(p: SparkPlan): Unit = if (seen.add(p)) {
        out += p
        (p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
          case q: QueryStageExec        => Seq(q.plan)
          case r: ReusedExchangeExec    => Seq(r.child)
          case _                        => p.children ++ p.subqueries
        }).foreach(walk)
      }
      walk(root)
      out.result()
    }
    lazy val text: String = root.toString

    /** operators of type T */
    def of[T <: SparkPlan](implicit t: ClassTag[T]): Seq[T] = nodes.collect { case x: T => x }
    def joins: Seq[BaseJoinExec] = of[BaseJoinExec]
    /** the nested-loop and cartesian joins, which compare every pair of rows */
    def pairwise: Seq[String] = joins.collect {
      case j @ (_: BroadcastNestedLoopJoinExec | _: CartesianProductExec) => j.nodeName
    }
    def hashShuffles: Seq[ShuffleExchangeExec] =
      of[ShuffleExchangeExec].filter(_.outputPartitioning.isInstanceOf[HashPartitioning])
    def broadcasts: Seq[BroadcastExchangeExec] = of[BroadcastExchangeExec]
    /** hash shuffles and broadcasts whose rows carry `column` (the output
      * sort's range exchange is not counted: it moves the result) */
    def moving(column: String): Seq[SparkPlan] =
      (hashShuffles.map(e => e -> e.child) ++ broadcasts.map(b => b -> b.child))
        .collect { case (e, child) if cols(child).contains(column) => e }
    def aggs: Seq[BaseAggregateExec] = of[BaseAggregateExec]
    def aggsOf(fn: String): Seq[BaseAggregateExec] =
      aggs.filter(_.aggregateExpressions.exists(_.aggregateFunction.prettyName == fn))
    def scans: Seq[FileSourceScanExec] = of[FileSourceScanExec]
    def cachedScans: Seq[InMemoryTableScanExec] = of[InMemoryTableScanExec]
    def windows: Seq[WindowExec] = of[WindowExec]
  }

  /** Plans `name` after releasing the caches earlier queries left: Spark
    * substitutes any cached relation with the same result, so a cache
    * left by another query would change which relations this plan
    * computes itself.
    */
  private def query(name: String, sf: String = sfDir): Plan = {
    CacheScope.release()
    new Plan(SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
  }
  private def under(p: SparkPlan): Plan = new Plan(p)

  private def names(es: Seq[Expression]): Seq[String] = es.flatMap(_.references.map(_.name))
  private def cols(p: SparkPlan): Seq[String] = p.output.map(_.name)
  private def keys(e: ShuffleExchangeExec): Seq[String] = e.outputPartitioning match {
    case h: HashPartitioning => names(h.expressions)
    case _                   => Nil
  }
  private def keys(a: BaseAggregateExec): Seq[String] = names(a.groupingExpressions)
  private def keys(j: BaseJoinExec): (Seq[String], Seq[String]) = (names(j.leftKeys), names(j.rightKeys))
  private def modes(a: BaseAggregateExec): Set[AggregateMode] = a.aggregateExpressions.map(_.mode).toSet
  /** the aggregate runs as a map-side partial plus a final merge */
  private def combines(as: Seq[BaseAggregateExec]): Boolean =
    as.exists(a => modes(a).contains(Partial)) && as.exists(a => modes(a).contains(Final))
  private def table(s: FileSourceScanExec): String =
    s.tableIdentifier.map(_.table).getOrElse(s.relation.location.rootPaths.head.getName)
  /** the build side of a hash or nested-loop join (the right side of any other) */
  private def built(j: BaseJoinExec): SparkPlan = j match {
    case h: HashJoin                    => if (h.buildSide == BuildRight) h.right else h.left
    case n: BroadcastNestedLoopJoinExec => if (n.buildSide == BuildRight) n.right else n.left
    case other                          => other.right
  }
  private def streamed(j: BaseJoinExec): SparkPlan = if (built(j) eq j.left) j.right else j.left
  /** the operator below row-local projections and filters */
  private def belowRowOps(p: SparkPlan): SparkPlan = p match {
    case pr: ProjectExec => belowRowOps(pr.child)
    case f: FilterExec   => belowRowOps(f.child)
    case other           => other
  }
  private def topK(p: Plan): Seq[BaseAggregateExec] = p.aggsOf("topkagg")
  private def equiOn(key: String*)(j: BaseJoinExec): Boolean = keys(j) == (key, key)

  /** the rebuild shape of the span/line removers: the cleaned text is cut
    * row by row after ONE left join of the documents scan with the per-doc
    * drop lists, so the text never leaves the scan's task */
  private def assertRebuiltOverScan(p: Plan): Unit = {
    val rebuild = p.joins.headOption.getOrElse(fail("no rebuild join"))
    assert(rebuild.joinType == LeftOuter && equiOn("doc_id")(rebuild),
      s"the rebuild must be a left join on doc_id, got ${rebuild.nodeName} ${rebuild.joinType}")
    assert(belowRowOps(streamed(rebuild)).isInstanceOf[FileSourceScanExec],
      "the rebuild's text side must stream straight from the documents scan")
  }

  // ------------------------------------------------------ sequence ops

  test("sampler predicates push into the parquet scan; columns prune") {
    val p = query("seq_stride").text
    // the filter must appear ON the FileScan line (its DataFilters), not
    // merely in some Filter operator above an unpruned scan
    val scanLines = p.linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(scanLines.nonEmpty)
    assert(scanLines.exists(l => l.contains("% 8")),
      "stride filter should reach the scan's DataFilters")
    assert(scanLines.exists(_.contains("[event_id")) && !p.contains("value#"),
      "scan should read only event_id/event_type")
  }

  test("seq_stencil_sum: halo stencil moves rows through ONE shuffle keyed on (stream, bucket), no window") {
    val p = query("seq_stencil_sum")
    val rowShuffles = p.hashShuffles.filter(e => cols(e.child).contains("index"))
    assert(rowShuffles.size == 1,
      s"a stateful op must move its rows through exactly one shuffle, got ${rowShuffles.size}")
    val groups = p.of[MapGroupsExec]
    assert(groups.size == 1 && keys(rowShuffles.head).size == 2 &&
        groups.head.groupingAttributes.map(_.name) == keys(rowShuffles.head),
      "the stencil shuffle must be keyed on (stream, bucket) and feed the sorted-group pass")
    assert(p.windows.isEmpty, "the halo stencil must not plan a per-stream window")
  }

  test("seq_asof: bucketed as-of fills in a (stream, bucket) window; the per-stream carry sees no rows") {
    val p = query("seq_asof")
    val rowShuffles = p.hashShuffles.filter(e => cols(e.child).contains("index"))
    assert(rowShuffles.map(keys) == Seq(Seq("streamId", "__bkt")),
      "a stateful op must move its rows through exactly one shuffle, keyed on (stream, bucket)")
    val (fill, carry) = p.windows.partition(w => names(w.partitionSpec) == Seq("streamId", "__bkt"))
    assert(fill.size == 1, "the fill window must be partitioned by (stream, bucket)")
    assert(carry.forall(w => !cols(w.child).contains("index")),
      "the per-stream carry window must run over per-bucket summaries, never over rows")
  }

  test("seq_gather: join-free gather — native gather_lookup in the scan, no join, no shuffle") {
    val p = query("seq_gather")
    assert(p.joins.isEmpty, "gather must not join against the index list")
    assert(p.hashShuffles.isEmpty && p.broadcasts.isEmpty, "gather must not move rows")
    assert(p.scans.exists(_.dataFilters.exists(_.exists(_.isInstanceOf[graft.plans.GatherLookup]))),
      "the native gather_lookup filter must reach the scan's DataFilters")
  }

  // -------------------------------------------------- relational joins

  test("star-join query broadcasts its dimension tables") {
    val p = query("q5_nation_revenue")
    assert(p.of[BroadcastHashJoinExec].size >= 3,
      "customer/supplier/nation should broadcast")
  }

  test("star-join FACT side goes sort-merge when it outgrows the broadcast threshold (100x-representative)") {
    // At fixture scale every relation fits the 10 MB broadcast threshold,
    // so an sf0.001 plan can't demonstrate the big-fact shape. Model the
    // production fact/dimension divide by pinning the threshold to 256 KB at
    // sf0.1 (lineitem 10.8 MB, orders 2.7 MB above it; every dimension
    // below): lineitem⋈orders must plan sort-merge, dimensions must still
    // broadcast — the same ratio a 1000-executor cluster sees at 100 TB.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (256L << 10).toString)
      val p = query("q5_nation_revenue", java.nio.file.Paths.get(sfDir).resolveSibling("sf0.1").toString)
      assert(p.of[SortMergeJoinExec].map(keys) == Seq((Seq("l_orderkey"), Seq("o_orderkey"))),
        "lineitem⋈orders must be a shuffle join once the fact side exceeds the threshold")
      assert(p.of[BroadcastHashJoinExec].size >= 3,
        "dimensions must still broadcast at the representative threshold")
      val broadcastScans = p.broadcasts.flatMap(b => under(b.child).scans.map(table)).toSet
      assert(Set("customer.parquet", "supplier.parquet", "nation.parquet").subsetOf(broadcastScans),
        "no dimension may shuffle: each dimension scan must sit under a broadcast")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bloom semi-join filters the fact scan BEFORE the join exchange, UDF-free") {
    val p = query("q_bloom_semi_join").text
    // the probe is the native codegen expression, not a Scala UDF (a UDF
    // here would break the whole-stage span on every fact row), and it
    // must sit in a Filter on the fact branch (pre-shuffle), not after
    // the join
    val joinAt  = p.indexOf("Join")
    val probeAt = p.indexOf("bloom_might_contain")
    assert(!p.contains("ScalaUDF") && !p.contains("UDF("),
      "bloom probe must be the native expression, not a Scala UDF")
    assert(probeAt >= 0, "native bloom_might_contain probe missing from the plan")
    assert(joinAt >= 0 && probeAt > joinAt,
      "bloom prefilter should appear below (after) the join operator in the tree printout")
  }

  test("q_events_range_join: the point-in-interval join is a bucket-keyed equi-join, never nested-loop or cartesian") {
    val p = query("q_events_range_join")
    assert(p.pairwise.isEmpty,
      "the range join must not be planned as a BroadcastNestedLoopJoin/CartesianProduct")
    assert(p.joins.map(keys) == Seq((Seq("__bk"), Seq("__bk"))),
      "the range join must be ONE hash equi-join on the 6h bucket key")
    assert(p.joins.head.condition.nonEmpty, "exact containment must remain as the post-filter")
  }

  test("q_events_funnel: steps are filtered per-user min-aggregates chained by user-keyed equi-joins, no window") {
    val p = query("q_events_funnel")
    assert(p.joins.nonEmpty && p.joins.forall(equiOn("user_id")),
      "funnel steps must chain by user_id equi-joins")
    val mins = p.aggsOf("min")
    assert(mins.nonEmpty && mins.forall(a => keys(a) == Seq("user_id")),
      "each step's first time must be a per-user min aggregate (<= |users| rows)")
    assert(p.windows.isEmpty, "the funnel must not sort users through a window")
  }

  test("layout_zorder: the z-order key is a native integer expression in the scan pass; one aggregate shuffle") {
    val p = query("layout_zorder")
    assert(p.joins.isEmpty, "z-ordering must not join")
    assert(p.hashShuffles.size == 1, "the bucket rollup must be the only shuffle")
    assert(!p.text.contains("UDF"), "the bit interleave must be a native expression, not a UDF")
    val zKey = p.of[ProjectExec].filter(_.projectList.exists(_.sql.contains("shiftleft")))
    assert(zKey.nonEmpty && zKey.forall(z => under(z.child).of[Exchange].isEmpty),
      "the z-order key must be computed in the scan pass, before any exchange")
  }

  // --------------------------------------------------------- similarity

  test("similarity top-k plans as partial aggregation, never a per-query window") {
    val p = query("sim_topk")
    assert(p.windows.isEmpty, "top-k must not rank via a global window")
    assert(combines(topK(p)) && topK(p).forall(_.isInstanceOf[ObjectHashAggregateExec]),
      "bounded-heap top-k must be an ObjectHashAggregate with a map-side partial")
    assert(p.broadcasts.nonEmpty, "the query vectors must broadcast")
  }

  test("vec_dot appears as the native expression in the similarity plan") {
    val p = query("sim_topk").text
    assert(p.contains("vec_dot"), "native expression should replace the HOF fold")
  }

  test("sim_rand_proj_topk: the projection folds into the scan side of sim_topk's broadcast + heap top-k shape") {
    def shape(p: Plan): Seq[String] =
      p.nodes.filterNot(n => n.isInstanceOf[ProjectExec] || n.isInstanceOf[FilterExec]).map(_.nodeName)
    assert(shape(query("sim_rand_proj_topk")) == shape(query("sim_topk")),
      "projected search must keep exactly sim_topk's operators: the projection may only add projections")
  }

  test("IVF top-k plans with heap aggregates and broadcasts, never a window") {
    val p = query("sim_ivf_topk")
    assert(p.windows.isEmpty,
      "assignment argmax and top-k selection must not rank via windows")
    assert(combines(topK(p)) && topK(p).forall(_.isInstanceOf[ObjectHashAggregateExec]),
      "bounded-heap top-k must be an ObjectHashAggregate with a map-side partial")
    assert(p.aggsOf("max").exists(a => modes(a).contains(Partial)),
      "the argmax cell assignment must be a partial aggregate")
    assert(p.joins.exists(equiOn("cell")), "candidates must come from a cell equi-join")
    assert(p.of[BroadcastNestedLoopJoinExec].nonEmpty || p.of[BroadcastHashJoinExec].nonEmpty,
      "anchors and probe lists should broadcast")
  }

  test("sim_ivf_kmeans: the trained centroids broadcast; search stays a cell equi-join + heap top-k, no all-pairs") {
    val p = query("sim_ivf_kmeans")
    assert(p.broadcasts.exists(b => cols(b.child).containsSlice(Seq("cid", "cv")) &&
        under(b.child).aggsOf("vecmeanagg").nonEmpty),
      "the k-means rounds must feed a broadcast centroid relation")
    assert(p.of[BroadcastNestedLoopJoinExec].forall(j => cols(built(j)).contains("cid")),
      "nested-loop joins may only pair vectors with broadcast centroids, never vectors with vectors")
    assert(p.joins.exists(equiOn("cell")), "search candidates must come from a cell equi-join")
    assert(combines(topK(p)) && p.windows.isEmpty, "search must end in a bounded-heap top-k, no window")
  }

  test("persisted-IVF probe plan has no assignment aggregation — the index is an input") {
    val p = query("sim_ivf_persisted").text
    assert(p.contains("graft_ivf_idx"),
      "probe should scan the persisted bucketed index table")
    // the build half's argmax (max(cand) + first(v)) must NOT rerun at
    // probe time; the only aggregate left is the bounded-heap top-k
    assert(!p.contains("max(cand"), "assignment argmax reran in the probe plan")
    assert(!p.contains("first(v"), "assignment vector carry reran in the probe plan")
    assert(p.contains("Broadcast"), "anchors/probe list must broadcast")
  }

  test("sim_knn_graph: candidates are a (cell, subcell) self-join of the cached assignment, no broadcast probe") {
    val p = query("sim_knn_graph")
    val cand = p.joins.filter(j => keys(j)._1.contains("cell") && keys(j)._1.contains("__sc"))
    assert(cand.size == 1, "candidates must come from ONE (cell, subcell) equi-join")
    assert(!cand.head.isInstanceOf[BroadcastHashJoinExec] && !cand.head.isInstanceOf[BroadcastNestedLoopJoinExec],
      "queries are the corpus: the candidate join must not broadcast a probe side")
    val sides = cand.head.children.map(c => under(c).cachedScans.map(_.relation.cacheBuilder).toSet)
    assert(sides.forall(_.nonEmpty) && sides.reduce(_ intersect _).nonEmpty,
      "both sides of the candidate join must scan the same cached assignment")
    assert(combines(topK(p)), "neighbors must be selected by the bounded-heap top-k")
  }

  test("sem_dedup: broadcast centroid assignment, within-cell equi-join for pairs, the drop set carries bare ids") {
    val p = query("sem_dedup")
    assert(p.of[BroadcastNestedLoopJoinExec].nonEmpty &&
        p.of[BroadcastNestedLoopJoinExec].forall(j => cols(built(j)).contains("cid")),
      "assignment must pair vectors only with the broadcast centroids")
    assert(p.joins.exists(j => keys(j)._1.contains("cell") && j.condition.exists(_.sql.contains("vec_dot"))),
      "near-duplicate pairs must come from a within-cell equi-join")
    assert(p.hashShuffles.exists(e => cols(e.child) == Seq("id")),
      "the drop set must shuffle bare ids")
  }

  test("pq_adc_topk: codes equi-join the broadcast per-query LUT; exact decimal (qid, id) sums; heap top-k") {
    val p = query("pq_adc_topk")
    val lut = p.joins.filter(equiOn("sub", "code"))
    assert(lut.size == 1, "PQ codes must equi-join the look-up table on (sub, code)")
    assert(lut.head.isInstanceOf[BroadcastHashJoinExec] && cols(built(lut.head)).contains("qid"),
      "the per-query LUT must be the broadcast side")
    assert(!streamed(lut.head).output.exists(_.dataType.isInstanceOf[ArrayType]),
      "no vector column may reach the LUT join: the corpus is scanned dim-wide only to encode")
    val sums = p.aggsOf("sum").filter(a => keys(a) == Seq("qid", "id"))
    assert(combines(sums), "the distance sum per (qid, id) must combine map-side")
    assert(sums.forall(_.aggregateExpressions.forall(_.aggregateFunction.dataType.isInstanceOf[DecimalType])),
      "the ADC sum must be exact decimal")
    assert(combines(topK(p)), "bounded-heap top-k expected")
  }

  test("emb_rand_proj: the sign matrix is a plan literal in the scan projection; no join, no exchange") {
    val p = query("emb_rand_proj")
    assert(p.joins.isEmpty && p.hashShuffles.isEmpty && p.broadcasts.isEmpty,
      "projection must run in the scan pass: zero exchanges before the output sort")
    assert(p.nodes.flatMap(_.expressions).exists(_.exists {
        case l: Literal => l.dataType.isInstanceOf[ArrayType]
        case _          => false
      }), "the ±1 sign matrix must be a literal in the plan")
    assert(!Seq("xxhash64", "hash(", "md5(", "rand(").exists(p.text.contains),
      "no per-row hashing: the signs are fixed at plan time")
  }

  test("kmeans round broadcasts the centroid relation; corpus side stays hash-aggregated") {
    val p = query("emb_kmeans")
    assert(p.broadcasts.nonEmpty &&
        p.of[BroadcastNestedLoopJoinExec].forall(j => cols(built(j)).contains("cv")),
      "each assignment must broadcast the centroid relation")
    assert(p.windows.isEmpty, "no window in the Lloyd round")
    assert(p.aggsOf("min").exists(a => modes(a).contains(Partial)) &&
        p.aggsOf("vecmeanagg").exists(a => modes(a).contains(Partial)),
      "argmin and centroid means must be map-side partial aggregates")
    assert(p.hashShuffles.flatMap(keys).toSet.subsetOf(Set("id", "cid")),
      "the corpus may only shuffle into the per-vector argmin and per-centroid means")
  }

  test("emb_outliers: centroids and thresholds are per-group aggregates joined back on the group key; nothing pairwise") {
    val p = query("emb_outliers")
    assert(p.pairwise.isEmpty && p.windows.isEmpty, "outliers must compare nothing pairwise and use no window")
    assert(p.joins.nonEmpty && p.joins.forall(equiOn("label")),
      "centroids and thresholds must join back on the group key")
    val centroid = p.aggsOf("sum").filter(a => keys(a) == Seq("label", "pos"))
    assert(combines(centroid) &&
        centroid.forall(_.aggregateExpressions.filter(_.aggregateFunction.prettyName == "sum")
          .forall(_.aggregateFunction.dataType.isInstanceOf[DecimalType])),
      "centroids must be an exact decimal (group, pos) aggregate with a map-side partial")
    val pct = p.aggsOf("percentile")
    assert(pct.nonEmpty && pct.forall(a => keys(a) == Seq("label")),
      "thresholds must be one per-group percentile aggregate")
  }

  // ---------------------------------------------------- text retrieval

  test("sim_tfidf_topk: the posting self-join runs after the df stop-term prune; heap top-k, no window") {
    val p = query("sim_tfidf_topk")
    val postings = p.joins.filter(j => equiOn("t")(j) && j.condition.nonEmpty)
    assert(postings.nonEmpty, "pairs must come from a posting-list self-join on the term")
    assert(postings.forall(j => under(j).of[FilterExec].exists(f => names(Seq(f.condition)).contains("df"))),
      "the posting self-join must read weights already pruned at df <= maxDf")
    assert(combines(topK(p)) && p.windows.isEmpty, "ranking must be the bounded-heap top-k, no window")
  }

  /** every term-keyed join is either query-side (a qid side) or the df
    * prune — never a corpus posting self-join */
  private def assertQuerySidePostings(p: Plan): Unit = {
    val termJoins = p.joins.filter(j => keys(j)._1 == Seq("t"))
    assert(termJoins.nonEmpty, "ranking must join query terms to postings")
    assert(termJoins.forall(j => j.children.exists(c => cols(c).exists(Set("qid", "df")))),
      "every term join must be query-side or the df prune: no corpus posting self-join")
  }

  test("sim_bm25_topk: query terms equi-join pruned postings; avglen is a 1-row broadcast; heap top-k") {
    val p = query("sim_bm25_topk")
    assertQuerySidePostings(p)
    assert(p.broadcasts.exists(b => cols(b.child) == Seq("avglen") &&
        under(b.child).aggs.headOption.exists(_.groupingExpressions.isEmpty)),
      "avglen must be a 1-row global aggregate broadcast")
    assert(combines(topK(p)) && p.windows.isEmpty, "ranking must be the bounded-heap top-k, no window")
  }

  test("sim_hybrid_rrf: both legs are query-side posting joins; one (qid, id) fusion aggregate re-ranks the legs' top-k") {
    val p = query("sim_hybrid_rrf")
    assertQuerySidePostings(p)
    val unions = p.of[UnionExec]
    assert(unions.size == 1 && unions.head.children.forall(leg => topK(under(leg)).nonEmpty),
      "the fusion input must be one union of per-ranker top-k legs")
    assert(p.aggsOf("sum").exists(a => keys(a) == Seq("qid", "id") && under(a).of[UnionExec].nonEmpty),
      "the fusion must be one hash aggregate per (qid, id) over the legs' rows")
    assert(topK(p).exists(a => under(a).of[UnionExec].nonEmpty), "the fused scores must be re-ranked by the heap top-k")
  }

  test("NB classifier plan: model join + broadcast constants, no window anywhere") {
    val p = query("txt_nb_classify")
    assert(p.joins.exists(equiOn("t")), "the token stream must equi-join the vocabulary-bounded model")
    assert(p.broadcasts.nonEmpty, "the |C|-row class-stats relation should broadcast")
    assert(p.aggsOf("min").exists(a => keys(a) == Seq("id") && modes(a).contains(Partial)),
      "the per-doc argmax must be a map-side partial min(struct)")
    assert(p.windows.isEmpty, "priors/argmax must not plant a window")
  }

  // ------------------------------------------------------ dedup / text

  test("dedup_lsh_pairs: candidates come from ONE band-key self-join of the cached signatures; no all-pairs") {
    val p = query("dedup_lsh_pairs")
    assert(p.pairwise.isEmpty, "LSH must not compare all pairs")
    assert(p.joins.size == 1 && equiOn("band", "bk")(p.joins.head),
      "candidate pairs must come from one (band, bucket) equi-join")
    val sides = p.joins.head.children.map(c => under(c).cachedScans.map(_.relation.cacheBuilder).toSet)
    assert(sides.forall(_.nonEmpty) && sides.reduce(_ intersect _).nonEmpty,
      "both sides of the band join must scan the same cached signature relation")
  }

  test("dedup_containment: the same band-key self-join and cached shingles as LSH pairs; no extra shuffle") {
    val p = query("dedup_containment")
    assert(p.pairwise.isEmpty, "containment must not compare all pairs")
    assert(p.joins.count(equiOn("band", "bk")) == 1, "candidates must come from the band-key self-join")
    val reuse = p.cachedScans.groupBy(_.relation.cacheBuilder).values
      .filter(_.exists(s => s.relation.output.exists(_.name == "__sh")))
    assert(reuse.exists(_.size >= 3),
      "one cached shingle relation must feed the banding and both set joins")
    assert(p.hashShuffles.size == query("dedup_lsh_pairs").hashShuffles.size,
      "the overlap math must add no shuffle to the Jaccard candidate plan")
  }

  test("dedup_substring: window hashes join by equi-join; raw text never crosses an exchange") {
    val p = query("dedup_substring")
    assert(p.joins.exists(equiOn("wh")), "duplicate windows must be found by an equi-join on the md5 window hash")
    assert(p.joins.forall(_.leftKeys.nonEmpty), "every join must be an equi-join")
    assert(p.moving("text").map(_.nodeName).isEmpty, "raw text must never cross an exchange")
  }

  test("dedup_substring_removed: windows move as (hash, position); starts collect per doc; the cut rebuilds over the scan") {
    val p = query("dedup_substring_removed")
    assert(p.moving("text").map(_.nodeName).isEmpty, "windows must cross exchanges as hashes and positions, never text")
    assert(p.aggsOf("collect_list").exists(a => keys(a) == Seq("doc_id")),
      "each doc's duplicate start positions must collect per doc")
    assertRebuiltOverScan(p)
  }

  test("dedup_c4_spans: spans move as (md5, pos); keeper is one partial min agg; drop sets collect per doc") {
    val p = query("dedup_c4_spans")
    assert(p.moving("text").map(_.nodeName).isEmpty, "spans must cross exchanges as (md5, pos) only, never text")
    val keeper = p.aggsOf("min").filter(a => keys(a) == Seq("sh"))
    assert(combines(keeper) && keeper.count(a => modes(a).contains(Final)) == 1,
      "the keeper must be ONE min-struct aggregate per span hash with a map-side partial")
    assert(p.aggsOf("collect_set").exists(a => keys(a) == Seq("doc_id")),
      "each doc's drop set must collect per doc")
    assertRebuiltOverScan(p)
  }

  test("txt_boilerplate: lines move as (source, md5, pos); per-source df combines map-side; rebuild over the scan") {
    val p = query("txt_boilerplate")
    assert(p.moving("text").map(_.nodeName).isEmpty, "lines must cross exchanges as (source, md5, pos) only, never text")
    assert(combines(p.aggsOf("count").filter(a => keys(a) == Seq("source", "ph"))),
      "the per-source line document frequency must combine map-side")
    assert(p.aggsOf("collect_list").exists(a => keys(a) == Seq("doc_id")),
      "each doc's drop list must collect per doc")
    assertRebuiltOverScan(p)
  }

  test("dedup_winnow_pairs: narrow fingerprint explode; ONE fingerprint equi-join + pair count; no all-pairs") {
    val p = query("dedup_winnow_pairs")
    assert(p.pairwise.isEmpty, "winnowing must not compare all pairs")
    assert(p.joins.size == 1 && equiOn("fp")(p.joins.head), "pairs must come from ONE fingerprint equi-join")
    assert(combines(p.aggsOf("count").filter(a => keys(a) == Seq("a", "b"))),
      "shared fingerprints must be counted per pair with a map-side partial")
    assert(p.cachedScans.nonEmpty &&
        p.cachedScans.forall(s => under(s.relation.cachedPlan).of[Exchange].isEmpty),
      "the fingerprint explode must be narrow: no exchange before the join")
  }

  test("incremental-dedup probe plan never recomputes corpus signatures") {
    val p = query("dedup_incremental").text
    assert(p.contains("graft_lsh_idx"),
      "probe should scan the persisted bucketed band index")
    // only the NEW shard reads raw text: exactly one documents.parquet scan
    assert("documents\\.parquet".r.findAllIn(p).size == 1,
      "corpus side must come from the index table, not a re-banding of raw docs")
  }

  test("pipeline_incremental_update: the base corpus is read only as hashes and as the index table; only the delta is banded") {
    val p = query("pipeline_incremental_update")
    assert(p.scans.exists(table(_).startsWith("graft_lsh_idx")),
      "the probe must read the persisted bucketed index table")
    val signatures = p.aggs.filter(a => modes(a).contains(Final) && keys(a) == Seq("doc_id") &&
      a.aggregateExpressions.size > 1 && a.aggregateExpressions.forall(_.aggregateFunction.prettyName == "min"))
    assert(signatures.size == 1, s"only the delta may be min-hashed, got ${signatures.size} signature aggregates")
    assert(p.hashShuffles.forall(e => !cols(e.child).contains("text")),
      "the base corpus must be diffed as (id, md5) rows: text must not shuffle")
  }

  test("txt_training_mix: quality gate and sampler run in the scan; only the dedup agg, semi-join and rollup shuffle") {
    val p = query("txt_training_mix")
    val docScans = p.scans.filter(table(_) == "documents.parquet")
    assert(docScans.nonEmpty && docScans.forall(_.dataFilters.nonEmpty),
      "the quality gate and the sampler must be fused into the scan's DataFilters")
    assert(p.joins.map(_.joinType) == Seq(LeftSemi), "the dedup survivors must apply as one semi-join")
    assert(p.hashShuffles.flatMap(keys).toSet.subsetOf(Set("fp", "doc_id", "source")),
      "only the dedup aggregate, the semi-join and the source rollup may shuffle")
  }

  test("sequence packing is ONE shuffle into (group, shard) groups") {
    val df = queries.TextQueries.queries("txt_pack")(spark, sfDir)
    df.collect() // AQE finalizes stages only on execution
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p                        => p.toString
    }
    // one hash exchange for the (group, shard) pass; the trailing range
    // exchange is the oracle query's display orderBy, not the operator
    assert(finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      "the ordered pack pass must cost exactly one hash-partition shuffle")
    assert(!finalPlan.contains("Window "), "packing must not serialize through a global window")
  }

  test("txt_chunk: sequence + slice explode inside the scan projection; zero exchanges before the output sort") {
    val p = query("txt_chunk")
    assert(p.of[GenerateExec].nonEmpty, "chunks must be exploded in the scan pass")
    assert(p.joins.isEmpty && p.hashShuffles.isEmpty && p.broadcasts.isEmpty,
      "chunking must not exchange rows before the output sort")
    assert(p.of[ShuffleExchangeExec].forall(_.outputPartitioning.isInstanceOf[RangePartitioning]),
      "the only exchange may be the output sort's range exchange")
  }

  test("txt_perplexity: ONE cached bigram explode feeds counts and scoring; V and terciles are 1-row broadcasts") {
    val p = query("txt_perplexity")
    val bigrams = p.cachedScans.filter(_.relation.output.exists(_.name == "t")).groupBy(_.relation.cacheBuilder)
    assert(bigrams.size == 1, s"the bigram explode must be cached once, got ${bigrams.size} relations")
    assert(bigrams.values.head.size >= 3, "the cached bigrams must feed the count aggregates and the scoring joins")
    val oneRow = p.broadcasts.filter(b => under(b.child).aggs.headOption.exists(_.groupingExpressions.isEmpty))
    assert(Seq(Seq("v"), Seq("t1", "t2")).forall(c => oneRow.exists(b => cols(b.child) == c)),
      "the smoothing V and the tercile thresholds must be 1-row broadcasts")
    assert(p.aggs.exists(a => keys(a) == Seq("id")) && p.windows.isEmpty,
      "per-doc scores must be a hash aggregate, no window")
  }

  test("txt_decontaminate: distinct (doc, gram) sides, ONE gram equi-join, per-doc witness agg; text never moves") {
    val p = query("txt_decontaminate")
    assert(p.pairwise.isEmpty, "decontamination must never compare corpus x corpus")
    assert(p.joins.size == 1 && equiOn("g")(p.joins.head), "hits must come from ONE equi-join on the gram")
    assert(p.joins.head.children.forall(c => under(c).aggs.headOption.exists(a =>
        a.aggregateExpressions.isEmpty && keys(a).contains("g"))),
      "both join sides must be distinct (doc, gram) relations")
    assert(combines(p.aggs.filter(a => keys(a) == Seq("__tid") && a.aggregateExpressions.nonEmpty)),
      "the per-doc witness aggregate must combine map-side")
    assert(p.moving("text").map(_.nodeName).isEmpty, "text must never cross an exchange")
  }

  test("txt_decontaminate_bloom: the native bloom probe gates corpus grams before their distinct exchange") {
    val p = query("txt_decontaminate_bloom")
    val grams = p.hashShuffles.filter(e => keys(e) == Seq("__tid", "g"))
    assert(grams.size == 1, "the corpus grams must shuffle once, into the (doc, gram) distinct")
    val probes = under(grams.head.child).of[FilterExec]
      .filter(_.condition.exists(_.isInstanceOf[graft.plans.BloomMightContain]))
    assert(probes.nonEmpty, "the bloom probe must filter the corpus grams BEFORE their exchange")
    assert(!p.text.contains("UDF") &&
        probes.forall(f => !f.condition.exists(_.isInstanceOf[CodegenFallback])),
      "the probe must be the native codegen expression, not a UDF or an interpreted fallback")
  }

  test("txt_source_overlap: banded candidates + two (doc_id, source) provenance joins; the matrix agg combines map-side") {
    val p = query("txt_source_overlap")
    assert(p.joins.count(equiOn("band", "bk")) == 1, "candidates must come from the band-key self-join")
    val provenance = p.joins.filter(j => cols(built(j)).exists(_.startsWith("src_")))
    assert(provenance.size == 2 && provenance.forall(j => under(built(j)).scans.forall(s => cols(s) == Seq("doc_id", "source"))),
      "each pair side must pick up its source from a (doc_id, source) scan")
    assert(combines(p.aggsOf("count").filter(a => keys(a) == Seq("source_x", "source_y"))),
      "the n_sources² matrix aggregate must combine map-side")
  }

  test("proc_kernel_wordcount: the pipe bridge reads the scan with no exchange in between; the only sort is the output's") {
    val p = query("proc_kernel_wordcount")
    val bridge = p.of[MapPartitionsExec]
    assert(bridge.size == 1 && under(bridge.head.child).of[Exchange].isEmpty,
      "a stateless external kernel must run narrow, directly on the scan")
    assert(p.of[SortExec].map(_.global) == Seq(true), "the only sort must be the output order-by")
  }

  // ------------------------------------------------------------- graphs

  test("graph_covisit_topk: promiscuous contexts are pruned by a left-semi before the ctx pair self-join; heap top-k") {
    val p = query("graph_covisit_topk")
    assert(p.pairwise.isEmpty && p.windows.isEmpty, "co-occurrence must not compare all pairs or use a window")
    val pairs = p.joins.filter(j => j.joinType == Inner && equiOn("ctx")(j))
    assert(pairs.size == 1, "item pairs must come from ONE ctx-keyed self-join")
    assert(under(pairs.head).joins.exists(j => j.joinType == LeftSemi && equiOn("ctx")(j)),
      "the degree prune must run as a left-semi BEFORE the pair self-join")
    assert(combines(p.aggsOf("count").filter(a => keys(a) == Seq("item", "item"))),
      "pair counts must combine map-side")
    assert(combines(topK(p)), "top-k must be the bounded aggregate")
  }

  test("graph_triangles: every join is an equi-join, never nested-loop or cartesian") {
    val p = query("graph_triangles")
    assert(p.pairwise.isEmpty,
      "no triangle join may be planned as a BroadcastNestedLoopJoin/CartesianProduct")
    assert(p.joins.nonEmpty && p.joins.forall(_.leftKeys.nonEmpty), "every join must be an equi-join")
    assert(p.joins.exists(j => j.joinType == LeftSemi && j.leftKeys.size == 2),
      "the closing edge must be a left-semi on (b, c)")
  }
}
