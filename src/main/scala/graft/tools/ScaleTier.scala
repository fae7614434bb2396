package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generates a larger `documents` + `embeddings` tier with the SAME
  * generative process as the driver's testdata (token-sampled text from
  * the fixed 31-word vocab, ~0.16% exact-dup rate, 5-lang / 20-source
  * mix; 64-dim unit vectors with weak 10-label structure) so bench
  * timings at 10x measure *scaling*, not a distribution shift.
  *
  * Why not union 10 remapped copies of sf0.1: exact copies put every doc
  * in a 10-clique (LSH bucket membership x10 => candidate pairs x100 —
  * superlinear by construction), while salting copies apart distorts the
  * quality/stopword profile. Re-running the generative process at n x 10
  * keeps every collision statistic scaling the way real corpus growth
  * does.
  *
  * All randomness is xxhash64 of (id, salt) — deterministic, seedable,
  * and fully distributed (no driver-side generation; scales to any
  * factor).
  *
  * Usage: {{{ sbt "runMain graft.tools.ScaleTier <outDir> <factor>" }}}
  */
object ScaleTier {

  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  /** uniform int in [0, m) keyed on (id, salt) */
  private def h(id: org.apache.spark.sql.Column, salt: String, m: Int) =
    pmod(xxhash64(id, lit(salt)), lit(m.toLong)).cast("int")

  def documents(s: SparkSession, n: Long): DataFrame = {
    val vocab = array(Vocab.map(lit): _*)
    val base = s.range(0, n, 1, 32).select(col("id").as("doc_id"))
      // ~1-in-625 docs are exact copies of their predecessor — the
      // sf0.1 corpus has 8 dup texts in 5000 docs (same rate)
      .withColumn("cs",
        when(h(col("doc_id"), "dup", 625) === 0 && col("doc_id") > 0,
          col("doc_id") - 1).otherwise(col("doc_id")))
    val withText = base.select(col("doc_id"),
      concat_ws(" ", transform(
        sequence(lit(1), lit(10) + h(col("cs"), "ntok", 90)),
        j => element_at(vocab, h(col("cs") * 131 + j.cast("long"), "tok",
          Vocab.size) + 1))).as("text"),
      h(col("cs"), "lang", 100).as("lr"),
      concat(lit("src"), h(col("cs"), "src", 20)).as("source"))
    withText.select(col("doc_id"), col("text"),
      when(col("lr") < 41, "en").when(col("lr") < 56, "de")
        .when(col("lr") < 71, "zh").when(col("lr") < 86, "fr")
        .otherwise("es").as("lang"),
      col("source"), length(col("text")).cast("long").as("n_chars"))
  }

  def embeddings(s: SparkSession, n: Long): DataFrame = {
    val dim = 64
    val raw = s.range(0, n, 1, 32).select(col("id").as("vec_id"),
      h(col("id"), "label", 10).as("label"))
      // approx-gaussian coordinate: mean of 3 uniforms, plus a small
      // per-label bias (the sf0.1 label centroids have norm ~0.07)
      .withColumn("rv", transform(sequence(lit(1), lit(dim)), j => {
        val u = (1 to 3).map(k =>
          (h(col("vec_id") * 997 + j.cast("long"), s"g$k", 2001) - 1000)
            / lit(1000.0)).reduce(_ + _) / 3.0
        val bias = (h(col("label").cast("long") * 63 + j.cast("long"),
          "bias", 2001) - 1000) / lit(1000.0) * 0.045
        u + bias
      }))
    // separate projection so the norm doesn't re-evaluate the transform
    raw.withColumn("nrm",
        sqrt(aggregate(col("rv"), lit(0.0), (acc, x) => acc + x * x)))
      .select(col("vec_id"),
        transform(col("rv"), x => (x / col("nrm")).cast("float"))
          .as("embedding"),
        col("label"))
  }

  /** A ZIPFIAN document tier — rank-frequency ~ 1/(r ln V) over a
    * vocabulary that grows with sqrt(n) (Heaps-ish), all xxhash64-keyed.
    *
    * Why it exists: the fixed-31-word `documents` fixture is non-Zipfian —
    * EVERY bigram sits at ~5.7% document frequency (measured sf0.1:
    * median df 285/5000, max 338; sf1: median 2690/50000), so no df prune
    * of any kind can bound an inverted-index join on it without emptying
    * it; its all-pairs similarity is dense BY CONSTRUCTION. Real corpora
    * have Zipf heads (pruned by a df fraction) and long tails (bounded
    * postings), which is the regime the retrieval family's 100 TB story
    * lives in — this generator provides that regime at bench scale.
    *
    * Token rank r = floor(V^u) for u ~ U(0,1]: P(rank <= r) = ln r/ln V,
    * i.e. P(rank = r) ~ 1/(r ln V) — the classic Zipf(1) law.
    */
  def zipfDocuments(s: SparkSession, n: Long): DataFrame = {
    val v = math.max(1000L, (8.0 * math.sqrt(n.toDouble)).toLong)
    s.range(0, n, 1, 32).select(col("id").as("doc_id"),
      concat_ws(" ", transform(
        sequence(lit(1), lit(20) + h(col("id"), "znt", 80)),
        j => concat(lit("w"), floor(pow(lit(v.toDouble),
          (h(col("id") * 131 + j.cast("long"), "ztok", 1000000) + 1)
            / lit(1000000.0))).cast("long")))).as("text"))
  }

  def main(args: Array[String]): Unit = {
    val Array(outDir, factorS) = args
    val factor = factorS.toInt
    val s = graft.GraftSession.local(
      graft.GraftSession.envCpus.toString, "graft-scale-tier")
    documents(s, 5000L * factor).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
    embeddings(s, 2000L * factor).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")
    println(s"== wrote ${5000L * factor} docs + ${2000L * factor} vecs to $outDir")
    s.stop()
  }
}
