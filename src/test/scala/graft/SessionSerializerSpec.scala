package graft

import org.apache.spark.HashPartitioner

/** A record that points at itself. */
final class CyclicNode { var next: CyclicNode = _ }

/** A mutable value two fields of one record can share. */
final class SharedBox(var v: Int)

/** Shuffles one cyclic record through a [[GraftSession.local]] session.
  * Forked by [[SessionSerializerSpec]]: the task that serializes the
  * record overflows its stack in Kryo, and Spark ends the JVM for a fatal
  * task error, so this cannot run inside the suite's JVM.
  */
object CyclicRecordProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("2", "graft-cyclic-probe")
    println("CYCLIC-PROBE shuffling")
    val n = spark.sparkContext.parallelize(0 until 2, 2)
      .map { i => val c = new CyclicNode; c.next = c; (i, c) }
      .partitionBy(new HashPartitioner(2)).count()
    println(s"CYCLIC-PROBE completed $n")
    spark.stop()
  }
}

/** The session-wide serializer contract of [[GraftSession]]: Kryo without
  * reference tracking, for user records as much as for the library's.
  */
class SessionSerializerSpec extends SparkSpec {

  test("a record holding one object twice arrives holding two copies after a shuffle") {
    val (a, b) = spark.sparkContext.parallelize(Seq(1), 1)
      .map { i => val s = new SharedBox(i); (i, (s, s)) }
      .partitionBy(new HashPartitioner(2)).values.collect().head
    assert(a.v == 1 && b.v == 1)
    assert(!(a eq b), "without reference tracking a shared object must be written once per reference")
  }

  test("a cyclic record fails its job with StackOverflowError and ends a local-mode JVM") {
    val r = ForkedJvm.run("graft.CyclicRecordProbe", timeoutSeconds = 180)
    assert(r.exited, "the cyclic-record probe did not finish within 180 s:\n" + r.tail)
    val reached   = r.output.contains("CYCLIC-PROBE shuffling")
    val completed = r.output.contains("CYCLIC-PROBE completed")
    val overflow  = r.output.contains("java.lang.StackOverflowError")
    assert(reached, "the probe never reached its job:\n" + r.tail)
    assert(!completed, "a cyclic record must not serialize while reference tracking is off")
    // 50 is Spark's exit code for an uncaught (fatal) exception
    assert(r.exitCode == 50 && overflow,
      s"expected Spark's uncaught-exception exit (50) after a StackOverflowError, got ${r.exitCode}:\n" + r.tail)
  }
}
