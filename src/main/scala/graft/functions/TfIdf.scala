package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TF-IDF document vectors + top-k cosine neighbors via an inverted-index
  * self-join — the classic sparse-retrieval analogue of the dense ANN ops
  * in [[Similarity]] (near-duplicate detection and semantic clustering
  * both lean on it when no embedding model is in the loop).
  *
  * Scale shape: everything flows through the term (inverted-index) key
  * space, never corpus x corpus. Pair-generation cost is sum(df^2) over
  * surviving terms, so the `maxDf` stop-term prune is THE dial: dropping
  * terms that appear in too many docs bounds each posting list. The
  * bound is a [[DfBound]] — by DEFAULT a corpus FRACTION (df/N) resolved
  * from the [[TermIndex]]'s indexed-doc count, because an absolute count
  * silently changes meaning as the corpus grows (a df=50 cap that prunes
  * stop-terms at 5k docs deletes the discriminative mid-frequency band
  * at 50M docs, and on the sf1 bench tier the fixed cap turned the
  * posting-join shuffle superlinear: 15.7x bytes for 10x docs). An
  * absolute count stays available (`DfBound.Abs`, or just a `Long` via
  * the implicit lift) for fixed-vocabulary corpora.
  * Weights use n-gram terms (default bigrams): unigram spaces are
  * tiny/undiscriminative on real corpora's head tokens, and every term
  * with df=1 still contributes to the norm while generating zero pairs.
  * The dot products ride ONE equi-join + one hash agg; per-doc top-k is
  * the bounded-heap aggregate (k rows per partition x group cross the
  * shuffle — no window rank).
  *
  * Reference analogue: scanner has no retrieval op; this extends the
  * pipeline suite the same way the dense `sim_*` family does.
  */
object TfIdf {

  /** The one tokenize+count pass every retrieval op builds on: the cached
    * (id, t, n) term relation and the indexed-doc count derived from it
    * (the counting action is also what materializes the cache — one
    * corpus scan, never a separate docs.count()). Build it ONCE and pass
    * it to the `*Indexed` variants when several rankers share a corpus
    * (hybrid retrieval); the convenience overloads build a private one.
    */
  final case class TermIndex(terms: DataFrame, nDocs: Long)

  def buildTermIndex(docs: DataFrame, idCol: String, textCol: String,
      ngram: Int = 2, attrTag: String = "tfidf-index"): TermIndex =
    indexTerms(docs, idCol, textCol, ngram, graft.CacheScope.cache(_), attrTag)

  /** the tokenize+count pass, persisted in the given cache tier, and the
    * indexed-doc count action (profiled under `attrTag`) that fills it */
  private def indexTerms(docs: DataFrame, idCol: String, textCol: String,
      ngram: Int, persist: DataFrame => DataFrame, attrTag: String): TermIndex = {
    val terms = persist(
      docs.select(col(idCol).as("id"),
          explode(TextFunctions.shingles(col(textCol), ngram)).as("t"))
        .groupBy(col("id"), col("t")).agg(count(lit(1)).as("n")))
    val nDocs = graft.Profiler.attributed(docs.sparkSession, attrTag) {
      terms.select(countDistinct(col("id"))).head.getLong(0)
    }
    TermIndex(terms, nDocs)
  }

  private val indexMemo =
    new java.util.concurrent.ConcurrentHashMap[String, TermIndex]()
  locally { graft.CacheScope.onReleaseShared(() => indexMemo.clear()) }

  /** Session-memoized [[buildTermIndex]]: one tokenize+count pass and ONE
    * indexed-doc-count action per (corpusKey, ngram) per session, shared
    * by every ranker probing that corpus. This is how a retrieval stack
    * is actually deployed — the index is built once and queried many
    * times; rebuilding an identical index per ranking call re-scans the
    * corpus for nothing (three rebuilds of the same sf0.1 index cost ~27 s
    * of one bench board's wall). The caller owns key
    * correctness: `corpusKey` must uniquely name the corpus SNAPSHOT
    * (e.g. the table path — never reuse a key across changed data). The
    * cached terms live in [[graft.CacheScope]]'s shared tier; corpus
    * boundaries call `CacheScope.releaseShared()`.
    */
  def memoTermIndex(docs: => DataFrame, idCol: String, textCol: String,
      ngram: Int, corpusKey: String): TermIndex =
    indexMemo.computeIfAbsent(s"$corpusKey|$idCol|$textCol|ngram=$ngram", _ =>
      indexTerms(docs, idCol, textCol, ngram, graft.CacheScope.cacheShared(_),
        "term-index(shared)"))

  /** The shared TF-IDF weight chain off a prebuilt index: cached
    * (id, t, w) weights (stop-term pruned at `maxDf`, IDF over the
    * indexed-doc count) and the positive-norm relation (id, nrm). One
    * definition so no ranker's weights can drift from another's.
    *
    * For the corpus self-join the weights cache is REPARTITIONED by term
    * before persisting: AQE's partition coalescing shrinks the small
    * weight relation to ONE partition, and a posting join whose probe
    * side streams that cache runs the ENTIRE sum(df²) pair fan-out of
    * sim_tfidf_topk in one task (profiled: a single 24 s task writing the
    * 141 MB pair partial-agg exchange while 31 cores idled). Clustering
    * the cache by `t` spreads each posting list's probe across the
    * session's shuffle partitions; the exchange it adds moves only the
    * (small) weight relation once.
    *
    * Not taken: dictionary-encoding `t` to a dense long join key. The
    * dictionary's RDD-backed build hides the relation's size statistics,
    * which turned the broadcast posting join into a sort-merge join and
    * doubled the single-task cache scans: sim_tfidf_topk went from 15.7
    * to 28.4 s.
    */
  private def tfidfWeightsFrom(idx: TermIndex, maxDf: DfBound,
      clusterByTerm: Boolean = false): (DataFrame, DataFrame) = {
    // document frequency, stop-term pruned: df > resolved-bound terms are
    // dropped from weights AND norms (the oracle replays the same
    // convention, including the floor(frac*N) resolution)
    val dfRel = idx.terms.groupBy(col("t")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf.resolve(idx.nDocs))
    val shufP = idx.terms.sparkSession.sessionState.conf.numShufflePartitions
    val flat = idx.terms.join(dfRel, Seq("t"))
      .select(col("id"), col("t"),
        (col("n").cast("double")
          * log(lit(idx.nDocs).cast("double") / col("df").cast("double"))).as("w"))
    // clusterByTerm only for the corpus SELF-join consumer (see above);
    // numShufflePartitions is the session's scale dial, not a core-count
    // constant. The query-side rankers stay unclustered: their probe
    // volume is linear and the extra exchange measured as a pure loss
    // there (sim_hybrid_rrf 3.8 → 5.0 s when applied blanket).
    val w = graft.CacheScope.cache(
      if (clusterByTerm) flat.repartition(shufP, col("t")) else flat)
    val norms = w.groupBy(col("id")).agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
      .filter(col("nrm") > 0d)
    (w, norms)
  }

  /** Top-k TF-IDF cosine neighbors per doc: (idCol, id, rank, score),
    * score rounded at 6 dp BEFORE ranking (both engines rank the rounded
    * grid, so cross-engine double noise at ~1e-15 can't flip a rank), ties
    * toward the smaller neighbor id. Docs with no surviving terms (or a
    * zero vector after pruning) emit no rows.
    *
    * IDF corpus size N = number of INDEXED docs (those with >= 1 n-gram
    * term) — the standard IR convention; see [[buildTermIndex]] for the
    * one-corpus-scan derivation.
    */
  def topKNeighbors(docs: DataFrame, idCol: String, textCol: String,
      k: Int, ngram: Int = 2, maxDf: DfBound = DfBound.Default): DataFrame =
    topKNeighborsIndexed(
      buildTermIndex(docs, idCol, textCol, ngram, "tfidf-index"),
      idCol, k, maxDf)

  /** [[topKNeighbors]] off a prebuilt (possibly session-shared) index */
  def topKNeighborsIndexed(idx: TermIndex, idCol: String,
      k: Int, maxDf: DfBound = DfBound.Default): DataFrame = {
    val (w, norms) = tfidfWeightsFrom(idx, maxDf, clusterByTerm = true)
    // inverted index: postings self-join per term, halved by id order,
    // then one hash agg accumulates the sparse dot products. The build
    // side takes SHUFFLE_HASH: its per-partition build is one partition
    // of the (small) weight relation, and skipping the sort-merge sorts
    // of the two posting exchanges measured faster. (An expression-level
    // pair expansion — group postings per term, explode i<j pairs via
    // nested transform — was tried and measured 2.7x WORSE: interpreted
    // HOF lambdas per pair lose to the codegen'd join; see
    // OPTIMIZATION_r16.md.)
    val dots = w.select(col("t"), col("id").as("ai"), col("w").as("wa"))
      .join(w.select(col("t"), col("id").as("bi"), col("w").as("wb"))
        .hint("shuffle_hash"), Seq("t"))
      .filter(col("ai") < col("bi"))
      .groupBy(col("ai"), col("bi")).agg(sum(col("wa") * col("wb")).as("dot"))
    val sims = dots
      .join(norms.select(col("id").as("ai"), col("nrm").as("na")), Seq("ai"))
      .join(norms.select(col("id").as("bi"), col("nrm").as("nb")), Seq("bi"))
      .select(col("ai"), col("bi"),
        round(col("dot") / (col("na") * col("nb")), 6).as("score"))
    val mirrored = sims.select(col("ai").as("qid"), col("bi").as("id"), col("score"))
      .unionByName(sims.select(col("bi").as("qid"), col("ai").as("id"), col("score")))
    Similarity.rankTopK(mirrored, k)
      .withColumnRenamed("qid", idCol)
  }

  /** TF-IDF cosine top-k for a designated QUERY set only, off a shared
    * [[TermIndex]] — the sparse "dense leg" of hybrid retrieval. Same
    * weights, norms, rounding, and tie-breaks as [[topKNeighbors]]
    * (identical scores for any query doc), but the posting join is
    * query-side restricted: cost = sum over query terms of df (linear in
    * the corpus, like BM25), never the corpus self-join's sum(df²).
    * Output (idCol, id, rank, score).
    */
  def tfidfQueryTopKIndexed(idx: TermIndex, queryIds: DataFrame,
      idCol: String, k: Int, maxDf: DfBound = DfBound.Default): DataFrame = {
    val (w, norms) = tfidfWeightsFrom(idx, maxDf)
    val wq = w.join(queryIds.select(col(idCol).as("qid")), col("id") === col("qid"))
      .select(col("qid"), col("t"), col("w").as("wq"))
    val dots = wq.join(w.select(col("t"), col("id"), col("w").as("wd")), Seq("t"))
      .filter(col("id") =!= col("qid"))
      .groupBy(col("qid"), col("id")).agg(sum(col("wq") * col("wd")).as("dot"))
    val scored = dots
      .join(norms.select(col("id").as("qid"), col("nrm").as("nq")), Seq("qid"))
      .join(norms, Seq("id"))
      .select(col("qid"), col("id"),
        round(col("dot") / (col("nq") * col("nrm")), 6).as("score"))
    Similarity.rankTopK(scored, k).withColumnRenamed("qid", idCol)
  }

  /** convenience: build a private index for a one-off call */
  def tfidfQueryTopK(docs: DataFrame, queryIds: DataFrame, idCol: String,
      textCol: String, k: Int, ngram: Int = 2, maxDf: DfBound = DfBound.Default): DataFrame =
    tfidfQueryTopKIndexed(
      buildTermIndex(docs, idCol, textCol, ngram, "tfidf-q-index"),
      queryIds, idCol, k, maxDf)

  /** Per-document keyword extraction: the k highest-TF-IDF terms of each
    * doc (the tagging/labeling staple). Reuses the shared weight chain;
    * the per-doc top-k is a sorted-slice over the doc's OWN collected
    * terms — bounded by document length, so no window rank and no
    * corpus-wide state. Ties break toward the lexicographically smaller
    * term; weights round at 6 dp. Output (idCol, rank, term, w).
    */
  def topTerms(docs: DataFrame, idCol: String, textCol: String, k: Int,
      ngram: Int = 1, maxDf: DfBound = DfBound.Default): DataFrame = {
    val (w, _) = tfidfWeightsFrom(
      buildTermIndex(docs, idCol, textCol, ngram, "tfidf-terms"), maxDf)
    // rank on the ROUNDED weight (house convention: both engines rank the
    // 6-dp grid, so 1-ulp libm ln differences can't flip a rank); the
    // negation of an already-rounded double is exact
    w.select(col("id"), struct((round(col("w"), 6) * -1).as("nw"), col("t")).as("c"))
      .groupBy(col("id"))
      .agg(slice(sort_array(collect_list(col("c"))), 1, k).as("top"))
      .select(col("id").as(idCol), posexplode(col("top")))
      .select(col(idCol), (col("pos") + 1).cast("long").as("rank"),
        col("col.t").as("term"), (col("col.nw") * -1).as("w"))
  }

  /** BM25 top-k retrieval (Robertson/Sparck Jones; the lexical ranking
    * standard) off a shared [[TermIndex]]: score every corpus doc against
    * each query doc's distinct terms and keep the k best. Query terms
    * equi-join the postings (cost = sum over query terms of df, bounded
    * by `maxDf`), one hash agg sums the per-term contributions, and the
    * bounded-heap aggregate ranks.
    * The per-(doc, term) score is the standard saturation form
    * idf * tf*(k1+1) / (tf + k1*(0.25 + 0.75*len/avglen)) with
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (always positive), length
    * in n-gram terms. Scores round at 6 dp BEFORE ranking (cross-engine
    * rank stability), ties toward the smaller id, self-matches excluded.
    */
  def bm25TopKIndexed(idx: TermIndex, queryIds: DataFrame, idCol: String,
      k: Int, maxDf: DfBound = DfBound.Default, k1: Double = 1.2): DataFrame = {
    val terms = idx.terms
    val nDocs = idx.nDocs
    val lens = terms.groupBy(col("id")).agg(sum(col("n")).as("len"))
    // 1-row exact scalar: avg length = sum(long)/count, no FP-order noise
    val stats = lens.agg(
      (sum(col("len")).cast("double") / count(lit(1))).as("avglen"))
    val dfRel = terms.groupBy(col("t")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf.resolve(nDocs))
    val qTerms = terms.join(queryIds.select(col(idCol).as("qid")),
        col("id") === col("qid"), "inner")
      .select(col("qid"), col("t")).distinct()
    val scored = qTerms
      .join(dfRel, Seq("t"))
      .join(terms, Seq("t"))
      .filter(col("id") =!= col("qid"))
      .join(lens, Seq("id"))
      .crossJoin(broadcast(stats))
      .groupBy(col("qid"), col("id"))
      .agg(sum(
        log(lit(1.0) + (lit(nDocs.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * (col("n") * lit(k1 + 1))
          / (col("n") + lit(k1) * (lit(0.25) + lit(0.75) * col("len") / col("avglen"))))
        .as("s"))
      .select(col("qid"), col("id"), round(col("s"), 6).as("score"))
    Similarity.rankTopK(scored, k).withColumnRenamed("qid", idCol)
  }

  /** convenience: build a private index for a one-off call */
  def bm25TopK(docs: DataFrame, queryIds: DataFrame, idCol: String,
      textCol: String, k: Int, ngram: Int = 2, maxDf: DfBound = DfBound.Default,
      k1: Double = 1.2): DataFrame =
    bm25TopKIndexed(buildTermIndex(docs, idCol, textCol, ngram, "bm25-index"),
      queryIds, idCol, k, maxDf, k1)
}

/** Stop-term document-frequency bound (see [[TfIdf]]'s scaladoc for why
  * the default is fractional). Resolution happens driver-side against the
  * already-computed indexed-doc count — a scalar, never an extra action —
  * and both engines (Spark and the DuckDB oracle) replay the identical
  * `floor(frac * N)` IEEE-double arithmetic, so the threshold is
  * bit-reproducible cross-engine.
  */
sealed trait DfBound { def resolve(nDocs: Long): Long }
object DfBound {
  /** fixed absolute cap — for fixed-vocabulary / synthetic corpora where
    * df genuinely does not grow with N */
  final case class Abs(n: Long) extends DfBound {
    def resolve(nDocs: Long): Long = n
  }
  /** corpus-fraction cap: terms in more than `frac` of the indexed docs
    * are stop-terms; floors at 1 so a tiny corpus still has a prune */
  final case class Frac(frac: Double) extends DfBound {
    require(frac > 0 && frac <= 1, s"df fraction must be in (0,1]: $frac")
    def resolve(nDocs: Long): Long =
      math.max(1L, math.floor(frac * nDocs).toLong)
  }
  /** default: drop terms present in more than 75% of docs — the classic
    * "appears almost everywhere" stop-term band, scale-invariant */
  val Default: DfBound = Frac(0.75)
  /** absolute call sites keep reading `maxDf = 50L` */
  implicit def fromLong(n: Long): DfBound = Abs(n)
  implicit def fromInt(n: Int): DfBound = Abs(n.toLong)
}
