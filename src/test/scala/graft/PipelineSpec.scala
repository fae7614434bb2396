package graft

import org.apache.spark.sql.functions._

/** End-to-end corpus-cleaning pipeline (`pipeline_clean_corpus`): each
  * stage's drop decision pinned on a hand-built corpus where every doc's
  * fate is deterministic by construction (the near-dup pair differs only
  * in trailing whitespace, so its minhash signatures are IDENTICAL — no
  * LSH banding luck involved).
  */
class PipelineSpec extends SparkSpec {

  // distinct per-doc vocabularies so no accidental cross-doc 5-gram dups
  private val base   = (0 until 23).map(i => s"u$i").patch(5, Seq("the"), 0)
    .patch(11, Seq("of"), 0).mkString(" ")     // 25 tokens, 2 stopwords
  private val noStop = (0 until 30).map(i => s"v$i").mkString(" ")
  private val shared = (0 until 22).map(i => s"s$i").mkString(" ")
  private val d5     = shared + " " + (0 until 8).map(i => s"w$i").mkString(" ") + " the"
  private val d6     = ((0 until 12).map(i => s"x$i") ++ Seq("the") ++
    (12 until 24).map(i => s"x$i") ++ Seq("and")).mkString(" ") + " " + shared

  test("every stage's drop decision lands on the designed doc") {
    val dir = tempDir("graft-pipeline").toString
    import spark.implicits._
    Seq(
      (1L, base),        // survives untouched
      (2L, base),        // exact dup of 1 -> exact-dedup drop
      (3L, base + "  "), // same tokens, different bytes -> near-dup drop
      (4L, noStop),      // stop_ratio 0 -> quality drop
      (5L, d5),          // loses the shared 22-token span -> 9 left -> drop
      (6L, d6)           // loses the span but keeps 26 -> survives, n_cut=22
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")

    val out = SparkEntry.queries("pipeline_clean_corpus")(spark, dir)
      .select("doc_id", "n_tokens_out", "n_cut", "stop_ratio").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    CacheScope.release()

    assert(out.toSeq == Seq(
      (1L, 25L, 0L, 0.08),
      (6L, 26L, 22L, 0.076923)))
  }

  test("paragraph-dedup pre-stage: every stage-0 fate lands on the designed doc") {
    // 32-token docs render as 4 8-token paragraphs. Designed fates:
    //  - doc 0: rendering injects the boilerplate para at position 0
    //    ((0*17+0)%11==0) and repeats raw para 0 at position 3
    //    ((0*13+3)%7==3); doc 0 OWNS the boilerplate keeper (0,0) so
    //    nothing drops (28 tokens: BP + 3 paras)
    //  - doc 11: boilerplate at position 0 too ((11*17)%11==0) — loses it
    //    to doc 0's keeper -> n_paras_cut=1, 24 tokens
    //  - doc 2: its paragraph 2 is byte-identical to doc 1's paragraph 1
    //    -> keeper (1,1) wins -> doc 2 drops it, n_paras_cut=1
    //  - doc 3: exact raw copy of doc 1 -> EVERY paragraph duplicates
    //    doc 1's -> clean text empty -> dies at the token gate (stage 0
    //    kills whole-doc dups before exact dedup even sees them)
    //  - doc 1: untouched by rendering, owns all its keepers -> intact
    val dir = tempDir("graft-pipeline-pd").toString
    import spark.implicits._
    def toks(p: String) = {
      val a = (0 until 32).map(i => s"$p$i").toArray
      a(10) = "the"; a(20) = "of"; a
    }
    val a = toks("a"); val b = toks("b"); val c = toks("c")
    val d = (0 until 32).map(i => s"d$i").toArray
    d(5) = "of"
    for (i <- 0 until 8) d(16 + i) = c(8 + i) // doc 2 para 2 == doc 1 para 1
    Seq(
      (0L, a.mkString(" ")),
      (1L, c.mkString(" ")),
      (2L, d.mkString(" ")),
      (3L, c.mkString(" ")),
      (11L, b.mkString(" "))
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")

    val out = SparkEntry.queries("pipeline_clean_corpus_pd")(spark, dir)
      .select("doc_id", "n_tokens_out", "n_cut", "n_paras_cut", "stop_ratio").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    CacheScope.release()

    assert(out.toSeq == Seq(
      (0L, 28L, 0L, 0L, 0.107143),  // keeps its own boilerplate copy
      (1L, 32L, 0L, 0L, 0.0625),
      (2L, 24L, 0L, 1L, 0.041667),  // lost the para doc 1 owns
      (11L, 24L, 0L, 1L, 0.083333)  // lost the boilerplate to doc 0
    ))
  }

  test("surviving text is the span-cut, PII-redacted original") {
    val dir = tempDir("graft-pipeline2").toString
    import spark.implicits._
    // doc 8 shares doc 7's 22-token span and carries an email; both keep
    // >= 20 tokens after the cut, so both survive with the span gone
    val t7 = shared + " " + (0 until 22).map(i => s"p$i").patch(3, Seq("the"), 0).mkString(" ")
    val t8 = (0 until 22).map(i => s"q$i").patch(7, Seq("a"), 0).mkString(" ") +
      " bob@example.com " + shared
    Seq((7L, t7), (8L, t8)).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")

    val got = SparkEntry.queries("pipeline_clean_corpus")(spark, dir)
      .select("doc_id", "clean_digest").as[(Long, String)].collect().toMap
    CacheScope.release()

    def md5s(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val exp7 = (0 until 22).map(i => s"p$i").patch(3, Seq("the"), 0).mkString(" ")
    val exp8 = (0 until 22).map(i => s"q$i").patch(7, Seq("a"), 0).mkString(" ") + " <EMAIL>"
    assert(got == Map(7L -> md5s(exp7), 8L -> md5s(exp8)))
  }
}
