package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Upstream schema-drift tolerance for the events fact table.
  *
  * The driver's testdata generator has shipped `events.ts` under three
  * different parquet encodings across regenerations — TIMESTAMP(NANOS)
  * (surfaced as nano-long via `nanosAsLong`), TIMESTAMP(MICROS)
  * adjusted-to-UTC, and TIMESTAMP(MICROS) NTZ — and the round-7 switch
  * broke the three event-time queries. [[GraftSession.tsToNanos]] is the
  * guard; this spec pins it: the same logical data written in all three
  * encodings must produce identical results from every event-time query.
  */
class SchemaDriftSpec extends SparkSpec {

  private val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

  /** sf0.001 events with ts normalized to nano-long — the reference data. */
  private lazy val canonical: DataFrame =
    GraftSession.tsToNanos(spark.read.parquet(s"$sfDir/events.parquet"))

  /** Write `canonical` re-encoded as `<variant dir>/events.parquet`. */
  private def writeVariant(encode: DataFrame => DataFrame): String = {
    val dir = tempDir("graft-drift").toString
    // TIMESTAMP_MICROS (not the INT96 legacy default) matches the driver's
    // writer; NTZ columns are always written as isAdjustedToUTC=false
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try encode(canonical).write.mode("overwrite").parquet(s"$dir/events.parquet")
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    dir
  }

  private lazy val variants: Map[String, String] = Map(
    "int64-nanos" -> writeVariant(identity),
    "timestamp-micros-utc" -> writeVariant(
      _.withColumn("ts", timestamp_micros((col("ts") / 1000L).cast("long")))),
    "timestamp-ntz-micros" -> writeVariant(
      _.withColumn("ts",
        timestamp_micros((col("ts") / 1000L).cast("long")).cast("timestamp_ntz"))))

  private val eventQueries =
    Seq("q_events_sessionize", "q_events_hourly", "q_events_weekday", "q_events_median")

  test("written variants read back with the three distinct ts types") {
    import org.apache.spark.sql.types._
    def tsType(dir: String) =
      spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    assert(tsType(variants("int64-nanos")) == LongType)
    assert(tsType(variants("timestamp-micros-utc")) == TimestampType)
    assert(tsType(variants("timestamp-ntz-micros")) == TimestampNTZType)
  }

  for (q <- eventQueries)
    test(s"$q is invariant across ts encodings") {
      val results = variants.map { case (name, dir) =>
        name -> SparkEntry.queries(q)(spark, dir).collect().map(_.toString).toSeq
      }
      val (refName, refRows) = results.head
      assert(refRows.nonEmpty, s"$q returned no rows on $refName")
      for ((name, rows) <- results.tail)
        assert(rows == refRows, s"$q: $name differs from $refName")
    }

  test("tsToNanos rejects an unrelated ts type instead of mis-reading it") {
    import spark.implicits._
    val bad = Seq(("x", "2024-01-01")).toDF("event_id", "ts")
    val e = intercept[IllegalArgumentException](GraftSession.tsToNanos(bad))
    assert(e.getMessage.contains("events.ts"))
  }

  // ---- embeddings vector-dtype drift (the same lesson, applied to the
  // other generated fact table): a regeneration widening `embedding` to
  // array<double> must not break the native-float similarity paths.
  // Similarity.canonicalVectors is the guard in SimQueries' loader.

  private lazy val embVariants: Map[String, String] = {
    val canonical = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def write(encode: DataFrame => DataFrame): String = {
      val dir = tempDir("graft-edrift").toString
      encode(canonical).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    }
    Map(
      "array-float" -> write(identity),
      "array-double" -> write(
        _.withColumn("embedding", col("embedding").cast("array<double>"))))
  }

  for (q <- Seq("sim_topk", "sim_assign", "emb_quantize"))
    test(s"$q is invariant across embedding element types") {
      val results = embVariants.map { case (name, dir) =>
        name -> SparkEntry.queries(q)(spark, dir).collect().map(_.toString).toSeq
      }
      CacheScope.release()
      val (refName, refRows) = results.head
      assert(refRows.nonEmpty, s"$q returned no rows on $refName")
      for ((name, rows) <- results.tail)
        assert(rows == refRows, s"$q: $name differs from $refName")
    }

  test("canonicalVectors rejects a non-array vector column") {
    import spark.implicits._
    val bad = Seq((1L, "oops")).toDF("vec_id", "embedding")
    val e = intercept[RuntimeException](
      graft.functions.Similarity.canonicalVectors(bad, "embedding"))
    assert(e.getMessage.contains("embedding"))
  }
}
