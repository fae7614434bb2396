package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, forked by sbt). */
object TestSpark {
  // 2 attempts per task so fault-injection specs can exercise retries
  lazy val spark: SparkSession = GraftSession.local("4", "graft-test", maxTaskFailures = 2)
}

/** Temp directories that live as long as the suite: each one made by
  * [[tempDir]] is deleted, with its contents, after the suite's tests.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    made.add(d)
    d
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally made.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
}

abstract class SparkSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = TestSpark.spark

  /** The number of Spark jobs `body` starts. `body` runs under its own job
    * group; the status store fills from the listener bus in submission
    * order, so once a marker job submitted after `body` is listed, every
    * job of `body` is too.
    */
  def jobsStarted(body: => Any): Int = {
    val sc = spark.sparkContext
    def inGroup(g: String)(f: => Any): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    inGroup(group)(body)
    inGroup(s"$group-marker")(sc.parallelize(Seq(0), 1).count())
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(s"$group-marker").isEmpty) {
      assert(System.nanoTime() < deadline, "marker job never reached the status store")
      Thread.sleep(5)
    }
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}
