package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

/** txt_temperature_mix quota/threshold arithmetic on a hand-built skewed
  * corpus (9 docs of lang aa, 1 of bb): alpha=0.5 weights give quotas
  * (3, 1) at budget 5, i.e. per-million thresholds (333333, 1000000) —
  * the rare language is kept wholesale, the head language subsampled.
  * Membership is re-derived in the test from the same public rolling-hash
  * column (pinned independently by the txt_rollhash oracle).
  */
class TemperatureMixSpec extends SparkSpec {

  test("alpha=0.5 quotas: rare language kept wholesale, head language thinned") {
    val dir = tempDir("graft-tmix").toString
    import spark.implicits._
    val rows = (1L to 9L).map(i => (i, s"text $i", "aa")) :+ ((10L, "text ten", "bb"))
    rows.toDF("doc_id", "text", "lang").write.parquet(s"$dir/documents.parquet")

    val got = SparkEntry.queries("txt_temperature_mix")(spark, dir)
      .as[(Long, String)].collect().toSet

    // w = (sqrt(9), sqrt(1)) = (3, 1); sw = 4; N = 10/2 = 5
    // quota_aa = floor(5*3/4) = 3 -> th = floor(3e6/9) = 333333
    // quota_bb = floor(5*1/4) = 1 -> th = floor(1e6/1) = 1000000 (all kept)
    val hk = rows.toDF("doc_id", "text", "lang")
      .select(col("doc_id"),
        (TF.rollingHash(md5(col("doc_id").cast("string"))) % 1000000).as("hk"))
      .as[(Long, Long)].collect().toMap
    val expected = ((1L to 9L).filter(i => hk(i) < 333333L).map(i => (i, "aa")) :+
      ((10L, "bb"))).toSet
    assert(got == expected)
    assert(got.contains((10L, "bb")))
  }
}
