package graft

import graft.model.{CacheMode, FrameElem}
import graft.operators.{SequenceOps, StdKernels}
import org.apache.spark.sql.Encoders

/** SURVEY.md §7 "minimum end-to-end slice" through the user-facing facade:
  * ingest video → Range(0,30) → Histogram → named sink → load() returns 30
  * histograms of 3×16 int32 — mirroring `py_test.py:274-297` +
  * `tests/test_ops.cpp:13-59`.
  */
class ClientSpec extends SparkSpec {
  import spark.implicits._

  private val frameEnc = Encoders.product[FrameElem]

  test("tutorial flow: ingest -> sample -> histogram -> sink -> load") {
    val cl = Client(spark, tempDir("graft-client").toString)

    val frames = (0 until 120).map(i => StdKernels.syntheticFrame(0L, i.toLong, 8, 12, 3))
    cl.ingestFrames("vid", frames.toDS(), gopSize = 40)
    assert(cl.committed("vid"))

    val sampled = SequenceOps.range(cl.frames("vid").toDF(), 0L, 30L)
    val hists   = StdKernels.histogramOp(sampled.as[FrameElem](frameEnc))
    val d       = cl.run(hists.toDF(), "hists", CacheMode.Overwrite)
    assert(d.committed && d.rows == 30L)

    val rows = cl.load("hists").toSeq
    assert(rows.size == 30)
    rows.foreach { r =>
      val payload = r.getAs[Array[Byte]]("payload")
      assert(payload.length == 192) // 3 channels x 16 bins x int32
      val bb = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val bins = Seq.fill(48)(bb.getInt)
      // each channel's bins sum to H*W
      assert(bins.grouped(16).map(_.sum).toSeq == Seq(96, 96, 96))
    }

    // CacheMode.Error refuses re-run into the same sink
    intercept[graft.sources.NamedStorage.StreamExistsException] {
      cl.run(hists.toDF(), "hists", CacheMode.Error)
    }

    // export the ingested stream (save_mp4 analog)
    val out = cl.storageRoot + "/vid.fvc"
    assert(cl.export("vid", 0L, out) > 0)
  }

  test("stream reads with the schema recorded at commit: no job, same schema as inference") {
    import org.apache.spark.sql.functions._
    import graft.sources.NamedStorage
    val cl = Client(spark, tempDir("graft-client-schema").toString)
    // non-nullable top-level and nested fields: inference reads them all
    // back as nullable, and the recorded schema must do the same
    val df = spark.range(0, 10, 1, 2).select(col("id").as("streamId"),
      col("id").as("index"), array(col("id"), lit(7L)).as("arr"),
      struct(col("id").as("a"), lit("x").as("b")).as("st"),
      col("id").cast("string").cast("binary").as("payload"))
    cl.run(df, "s")
    val inferred = spark.read.parquet(s"${cl.storageRoot}/s/data").schema
    var got: org.apache.spark.sql.DataFrame = null
    assert(jobsStarted { got = cl.stream("s") } == 0)
    assert(got.schema == inferred, s"${got.schema.treeString} vs ${inferred.treeString}")
    assert(got.orderBy("index").collect().map(_.getLong(0)).toSeq == (0L until 10L))

    // a descriptor committed without a schema still reads, by inference
    val desc = java.nio.file.Paths.get(cl.storageRoot, "s", "descriptor.json")
    java.nio.file.Files.deleteIfExists(desc.resolveSibling(".descriptor.json.crc"))
    java.nio.file.Files.write(desc, NamedStorage.toJson(
      NamedStorage.descriptor(spark, cl.storageRoot, "s")).getBytes("UTF-8"))
    assert(jobsStarted { got = cl.stream("s") } > 0)
    assert(got.schema == inferred)
  }
}
