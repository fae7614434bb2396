package graft

import graft.model.{CacheMode, StreamDescriptor}
import graft.sources.NamedStorage

class NamedStorageSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    tempDir("graft-storage").toString

  private def sampleDf(n: Int) =
    (0 until n).map(i => (0L, i.toLong, Array[Byte](i.toByte)))
      .toDF("streamId", "index", "payload")

  test("write/read round-trip with descriptor") {
    val root = freshRoot()
    val d = NamedStorage.write(sampleDf(10), root, "s1")
    assert(d == StreamDescriptor("s1", committed = true, Seq("streamId", "index", "payload"), 10L))
    assert(NamedStorage.exists(spark, root, "s1"))
    assert(NamedStorage.committed(spark, root, "s1"))
    assert(NamedStorage.len(spark, root, "s1") == 10L)
    val back = NamedStorage.read(spark, root, "s1")
    assert(back.count() == 10)
    assert(back.columns.toSeq == Seq("streamId", "index", "payload"))
  }

  test("CacheMode.Error refuses existing; Ignore skips; Overwrite replaces") {
    val root = freshRoot()
    NamedStorage.write(sampleDf(5), root, "s")
    intercept[NamedStorage.StreamExistsException] {
      NamedStorage.write(sampleDf(7), root, "s", CacheMode.Error)
    }
    val ignored = NamedStorage.write(sampleDf(7), root, "s", CacheMode.Ignore)
    assert(ignored.rows == 5L)
    val over = NamedStorage.write(sampleDf(7), root, "s", CacheMode.Overwrite)
    assert(over.rows == 7L)
    assert(NamedStorage.read(spark, root, "s").count() == 7)
  }

  test("uncommitted stream (no descriptor) is not readable") {
    val root = freshRoot()
    // simulate a crash mid-write: data present, descriptor never written
    sampleDf(3).write.parquet(s"$root/broken/data")
    assert(NamedStorage.exists(spark, root, "broken"))
    assert(!NamedStorage.committed(spark, root, "broken"))
    intercept[NamedStorage.UncommittedStreamException] {
      NamedStorage.read(spark, root, "broken")
    }
    // Overwrite-mode write repairs it
    val d = NamedStorage.write(sampleDf(4), root, "broken", CacheMode.Overwrite)
    assert(d.rows == 4L)
  }

  test("load returns ordered rows, optionally index-filtered") {
    val root = freshRoot()
    NamedStorage.write(sampleDf(20).orderBy(org.apache.spark.sql.functions.rand(7)), root, "ld")
    val all = NamedStorage.load(spark, root, "ld").toSeq
    assert(all.map(_.getLong(1)) == (0L until 20L))
    val some = NamedStorage.load(spark, root, "ld", Some(Seq(3L, 11L, 17L))).toSeq
    assert(some.map(_.getLong(1)) == Seq(3L, 11L, 17L))
  }

  test("multi-output graph: one upstream feeds two committed sinks (py_test.py:220-271)") {
    import org.apache.spark.sql.functions._
    val root = freshRoot()
    // one graph, two outputs — persist the shared upstream so both sinks
    // consume one computation (the reference runs the DAG once for all
    // sink columns)
    val upstream = sampleDf(25).withColumn("plen", length(col("payload"))).persist()
    val d1 = NamedStorage.write(upstream.select("streamId", "index", "payload"), root, "out_payload")
    val d2 = NamedStorage.write(upstream.select("streamId", "index", "plen"), root, "out_len")
    assert(d1.committed && d2.committed && d1.rows == 25L && d2.rows == 25L)
    assert(NamedStorage.read(spark, root, "out_len").columns.toSeq ==
      Seq("streamId", "index", "plen"))
    upstream.unpersist()
  }

  test("descriptor JSON codec round-trips") {
    val d = StreamDescriptor("a \"quoted\" name", committed = false, Seq("x", "y"), 42L)
    assert(NamedStorage.fromJson(NamedStorage.toJson(d)) == d)
    val empty = StreamDescriptor("e", committed = true, Seq.empty, 0L)
    assert(NamedStorage.fromJson(NamedStorage.toJson(empty)) == empty)
    val inplace = StreamDescriptor("ip", committed = true, Seq("c"), 7L, Some("/ext/path"))
    assert(NamedStorage.fromJson(NamedStorage.toJson(inplace)) == inplace)
  }

  test("inplace registration indexes external data without copying (ingest.cpp:382-546)") {
    val root = freshRoot()
    val ext  = freshRoot() + "/external-data"
    sampleDf(12).write.parquet(ext)
    val d = NamedStorage.registerInplace(spark, root, "ip", ext)
    assert(d.committed && d.rows == 12L && d.location.contains(ext))
    // no data copied under the stream dir — just the descriptor
    assert(!new java.io.File(s"$root/ip/data").exists())
    assert(NamedStorage.read(spark, root, "ip").count() == 12)
    // deleting the registration leaves the external data untouched
    NamedStorage.delete(spark, root, "ip")
    assert(!NamedStorage.exists(spark, root, "ip"))
    assert(spark.read.parquet(ext).count() == 12)
  }

  test("write of a shuffle-free DataFrame starts exactly 1 job: the row count comes from the write") {
    val root = freshRoot()
    val df = sampleDf(50)
    var d: StreamDescriptor = null
    assert(jobsStarted { d = NamedStorage.write(df, root, "one") } == 1)
    assert(d.rows == 50L)
  }

  test("a retried write task commits the rows read back, counted once") {
    import org.apache.spark.TaskContext
    val root = freshRoot()
    // the shared session allows 2 attempts per task: partition 0's first
    // attempt writes part of its rows, then throws
    val flaky = sampleDf(100).repartition(2).mapPartitions { it =>
      val tc = TaskContext.get()
      val failing = tc.partitionId() == 0 && tc.attemptNumber() == 0
      it.zipWithIndex.map { case (r, i) =>
        if (failing && i == 10) throw new RuntimeException("injected failure, attempt 0")
        r
      }
    }(org.apache.spark.sql.Encoders.row(sampleDf(0).schema))
    val d = NamedStorage.write(flaky, root, "retried")
    val back = NamedStorage.read(spark, root, "retried")
    assert(d.rows == back.count() && d.rows == 100L)
    assert(NamedStorage.len(spark, root, "retried") == 100L)
    assert(back.select("index").distinct().count() == 100L)
  }

  test("an empty DataFrame commits rows = 0 and reads back with its columns") {
    val root = freshRoot()
    val d = NamedStorage.write(sampleDf(0), root, "empty")
    assert(d.committed && d.rows == 0L)
    val back = NamedStorage.read(spark, root, "empty")
    assert(back.columns.toSeq == Seq("streamId", "index", "payload"))
    assert(back.count() == 0L)
  }
}
