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
}
