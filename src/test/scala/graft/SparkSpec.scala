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

/** Runs a main class of this classpath in its own JVM: for checks that
  * need a second SparkContext, or that end the JVM they run in.
  */
object ForkedJvm {
  final case class Result(exited: Boolean, exitCode: Int, output: String) {
    def tail: String = output.linesIterator.toSeq.takeRight(40).mkString("\n")
  }

  def run(mainClass: String, timeoutSeconds: Int,
      env: Map[String, String] = Map.empty): Result = {
    import scala.jdk.CollectionConverters._
    val javaBin = java.nio.file.Paths.get(sys.props("java.home"), "bin", "java").toString
    // forward this JVM's --add-opens set (Spark-on-JDK17 module opens,
    // injected by build.sbt's javaOptions); both spellings occur:
    // "--add-opens p=ALL-UNNAMED" (two args) and "--add-opens=p=ALL-UNNAMED"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toVector
    val opens = jvmArgs.zipWithIndex.flatMap {
      case (a, i) if a == "--add-opens" && i + 1 < jvmArgs.length =>
        Seq(a, jvmArgs(i + 1))
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Nil
    }
    val cmd = Seq(javaBin) ++ opens ++
      Seq("-cp", sys.props("java.class.path"), "-Xmx1536m", mainClass)
    val pb = new ProcessBuilder(cmd: _*)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    pb.redirectErrorStream(true)
    val proc = pb.start()
    // drain stdout on a separate thread: a blocking readAllBytes on THIS
    // thread would make the waitFor timeout unreachable if the child hangs
    val outBuf = new java.io.ByteArrayOutputStream
    val drain = new Thread(() => proc.getInputStream.transferTo(outBuf), s"$mainClass-drain")
    drain.setDaemon(true)
    drain.start()
    val exited = proc.waitFor(timeoutSeconds.toLong, java.util.concurrent.TimeUnit.SECONDS)
    if (!exited) proc.destroyForcibly()
    drain.join(5000)
    Result(exited, if (exited) proc.exitValue() else -1,
      outBuf.toString(java.nio.charset.StandardCharsets.UTF_8))
  }
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
