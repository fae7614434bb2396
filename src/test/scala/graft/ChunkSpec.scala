package graft

/** txt_chunk boundary behavior: width 32, stride 24 — chunk counts at the
  * exact fence posts, 8-token overlap between neighbors, and lossless
  * reconstruction from the stride-unique portions.
  */
class ChunkSpec extends SparkSpec {

  private def toks(n: Int) = (0 until n).map(i => s"t$i").mkString(" ")

  test("fence-post chunk counts and overlap reconstruction") {
    val dir = tempDir("graft-chunk").toString
    import spark.implicits._
    Seq(
      (1L, toks(10)),  // n < w            -> 1 chunk of 10
      (2L, toks(32)),  // n = w            -> 1 chunk of 32
      (3L, toks(33)),  // n = w+1          -> 2 chunks: 32, 9 (8 overlap + 1 new)
      (4L, toks(56)),  // n = w+s          -> 2 chunks: 32, 32 (exact clip)
      (5L, toks(57)),  // n = w+s+1        -> 3 chunks: 32, 32, 9
      (6L, toks(99))   // ceil(67/24)+1    -> 4 chunks: 32, 32, 32, 27
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")

    val rows = SparkEntry.queries("txt_chunk")(spark, dir)
      .as[(Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap

    assert(rows.view.mapValues(_.map(_._3).toSeq).toMap == Map(
      1L -> Seq(10L), 2L -> Seq(32L), 3L -> Seq(32L, 9L),
      4L -> Seq(32L, 32L), 5L -> Seq(32L, 32L, 9L),
      6L -> Seq(32L, 32L, 32L, 27L)))

    // neighbors overlap by exactly w - s = 8 tokens; dropping each
    // chunk's first 8 tokens (after the first chunk) reconstructs the doc
    for ((id, cs) <- rows) {
      val texts = cs.map(_._4.split(" ").toSeq).toSeq
      texts.sliding(2).foreach {
        case Seq(a, b) => assert(a.takeRight(8) == b.take(8))
        case _         =>
      }
      val rebuilt = texts.head ++ texts.tail.flatMap(_.drop(8))
      assert(rebuilt == toks(rebuilt.size).split(" ").toSeq && rebuilt.size >= 10)
      assert(rebuilt == (0 until rebuilt.size).map(i => s"t$i"))
    }
  }
}
