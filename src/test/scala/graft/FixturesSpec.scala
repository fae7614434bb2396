package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Fixtures

/** The one fixture rule: reuse by the digest of what the current code
  * writes, promote by one atomic rename, leave nothing torn behind. Each
  * `new Fixtures(root)` stands in for a fresh process (an empty per-JVM
  * memo) over the same fixture root.
  */
class FixturesSpec extends AnyFunSuite with TempDirs {

  private def write(d: String, file: String, body: String): Unit =
    Files.write(Paths.get(d, file), body.getBytes(UTF_8))
  private def read(d: String, file: String): String =
    new String(Files.readAllBytes(Paths.get(d, file)), UTF_8)

  test("same key: the build runs once, in this JVM and in the next") {
    val root = tempDir("graft-fixtures").toFile
    val builds = new AtomicInteger
    val probes = new AtomicInteger
    def key = { probes.incrementAndGet(); Seq(3, "probe".getBytes(UTF_8)) }
    def build(d: String): Unit = { builds.incrementAndGet(); write(d, "a", "x") }
    val f = new Fixtures(root)
    val d1 = f.dir("fx", key)(build)
    assert(f.dir("fx", key)(build) == d1)
    assert(probes.get == 1, "a resolved name must not re-run its probe")
    assert(new Fixtures(root).dir("fx", key)(build) == d1)
    assert(builds.get == 1)
    assert(read(d1, "a") == "x")
    assert(new File(d1).getName.matches("fx-[0-9a-f]{16}"))
  }

  test("a changed probe rebuilds and deletes the old dir, and only the name's own") {
    val root = tempDir("graft-fixtures").toFile
    val builds = new AtomicInteger
    def build(body: String)(d: String): Unit = { builds.incrementAndGet(); write(d, "a", body) }
    val other = new Fixtures(root).dir("fx-other", Seq(1))(build("o"))
    val old = new Fixtures(root).dir("fx", Seq("v1".getBytes(UTF_8)))(build("1"))
    val neu = new Fixtures(root).dir("fx", Seq("v2".getBytes(UTF_8)))(build("2"))
    assert(builds.get == 3)
    assert(neu != old && !new File(old).exists())
    assert(read(neu, "a") == "2")
    assert(read(other, "a") == "o")
    assert(root.list().toSet == Set(new File(other).getName, new File(neu).getName))
  }

  test("a build that throws after writing part of its files leaves nothing; the next call builds") {
    val root = tempDir("graft-fixtures").toFile
    val f = new Fixtures(root)
    val crash = intercept[IllegalStateException] {
      f.dir("torn", Seq(2)) { d =>
        write(d, "crawl-00", "first")
        throw new IllegalStateException("crashed before crawl-01")
      }
    }
    assert(crash.getMessage.contains("crawl-01"))
    assert(root.list().isEmpty, s"left behind: ${root.list().mkString(", ")}")
    val d = f.dir("torn", Seq(2)) { d =>
      write(d, "crawl-00", "first"); write(d, "crawl-01", "second")
    }
    assert(read(d, "crawl-00") == "first" && read(d, "crawl-01") == "second")
    assert(root.list().toSeq == Seq(new File(d).getName))
  }

  test("two builders racing on one key both get the same complete dir") {
    val root = tempDir("graft-fixtures").toFile
    val bothBuilding = new CyclicBarrier(2)
    def racer(): String = new Fixtures(root).dir("race", Seq(7)) { d =>
      bothBuilding.await(10, TimeUnit.SECONDS)
      write(d, "a", "x"); write(d, "b", "y")
    }
    val other = new java.util.concurrent.FutureTask[String](() => racer())
    new Thread(other, "fixture-racer").start()
    val mine = racer()
    assert(other.get(20, TimeUnit.SECONDS) == mine)
    assert(read(mine, "a") == "x" && read(mine, "b") == "y")
    assert(root.list().toSeq == Seq(new File(mine).getName))
  }
}
