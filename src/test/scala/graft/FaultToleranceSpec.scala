package graft

import org.apache.spark.{SparkException, TaskContext}
import org.apache.spark.sql.{DataFrame, Encoders}

import graft.model.CacheMode
import graft.sources.NamedStorage

/** Fault-tolerance analog of the reference's worker-kill test
  * (`tests/py_test.py:922-1010`, BASELINE.md row 12): a job must complete
  * despite task-attempt failures, and the commit protocol must leave
  * (a) exactly-once visible output after a successful retry and
  * (b) an unreadable, repairable stream after a permanent failure.
  * Spark supplies retries (local[4,2] in the shared test session);
  * NamedStorage supplies commit-last visibility.
  */
class FaultToleranceSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    tempDir("graft-fault").toString

  private def sampleDf(n: Int): DataFrame =
    (0 until n).map(i => (0L, i.toLong, Array[Byte](i.toByte)))
      .toDF("streamId", "index", "payload")

  /** inject a failure into partition 0 for attempts < failAttempts */
  private def flaky(df: DataFrame, failAttempts: Int): DataFrame = {
    val enc = Encoders.product[(Long, Long, Array[Byte])]
    df.as[(Long, Long, Array[Byte])](enc)
      .mapPartitions { it =>
        val tc = TaskContext.get()
        if (tc.partitionId() == 0 && tc.attemptNumber() < failAttempts)
          throw new RuntimeException(s"injected failure, attempt ${tc.attemptNumber()}")
        it
      }(enc)
      .toDF("streamId", "index", "payload")
  }

  test("write completes despite a task failure; retry leaves exactly-once output") {
    val root = freshRoot()
    val d = NamedStorage.write(flaky(sampleDf(100), failAttempts = 1), root, "ft")
    assert(d.committed && d.rows == 100L)
    val back = NamedStorage.read(spark, root, "ft")
    assert(back.count() == 100)
    // no duplicate or lost rows from the failed attempt
    assert(back.select("index").distinct().count() == 100)
  }

  test("permanent failure leaves an uncommitted, unreadable stream; Overwrite repairs") {
    val root = freshRoot()
    intercept[SparkException] {
      // fails on every allowed attempt (maxTaskFailures=2) -> job aborts
      NamedStorage.write(flaky(sampleDf(50), failAttempts = 99), root, "crash")
    }
    assert(!NamedStorage.committed(spark, root, "crash"))
    intercept[NamedStorage.UncommittedStreamException] {
      NamedStorage.read(spark, root, "crash")
    }
    // CacheMode.Overwrite repairs the remains into a committed stream
    val d = NamedStorage.write(sampleDf(50), root, "crash", CacheMode.Overwrite)
    assert(d.committed && d.rows == 50L)
    assert(NamedStorage.read(spark, root, "crash").count() == 50)
  }

  test("stateful kernel results are identical under task retry (determinism)") {
    def run(df: DataFrame): Seq[(Long, Long)] = operators.Kernels
      .unboundedState(df, operators.StdKernels.TestIncrement)
      .orderBy("index").collect()
      .map(r => (r.getAs[Long]("index"),
        operators.StdKernels.decodeI64(r.getAs[Array[Byte]]("payload"))))
      .toSeq
    val src = sampleDf(200)
    assert(run(flaky(src, failAttempts = 1)) == run(src))
  }

  test("halo stencil and bucketed as-of join survive task retry with identical results") {
    val src = sampleDf(500)
    def stencilRun(df: DataFrame): Seq[(Long, Seq[Long])] = operators.SequenceOps
      .stencil(df, Seq(-1, 0, 1), "payload", bucketWidth = 64)
      .orderBy("index").collect()
      .map(r => (r.getAs[Long]("index"),
        r.getSeq[Array[Byte]](r.fieldIndex("window")).map(b => b(0).toLong)))
      .toSeq
    assert(stencilRun(flaky(src, failAttempts = 1)) == stencilRun(src))

    val right = Seq((0L, 5L, "a"), (0L, 170L, "b")).toDF("streamId", "index", "rv")
    def asofRun(df: DataFrame): Seq[(Long, String)] = operators.SequenceOps
      .asofJoin(df.withColumnRenamed("payload", "lp"), right, bucketWidth = 64)
      .orderBy("index").collect()
      .map(r => (r.getAs[Long]("index"), r.getAs[String]("rv")))
      .toSeq
    assert(asofRun(flaky(src, failAttempts = 1)) == asofRun(src))
  }
}
