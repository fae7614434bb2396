package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The bench's output contract: whatever the board's size, the stdout
  * summary line — printed at the end of a run or by the shutdown hook of a
  * killed one — is at most 1 KB, parses as JSON and carries the board's
  * total and row counts; the per-row board goes to the artifact file.
  */
class BenchContractSpec extends AnyFunSuite with TempDirs {
  import Bench.{Board, QueryResult, RunInfo}

  private val om = new ObjectMapper()
  private val nRows = 233

  /** 233 synthetic rows with long names: every 17th failed, every 29th
    * aborted (one with a completed rep, the rest without) */
  private val rows: Seq[(String, QueryResult)] = (0 until nRows).map { i =>
    val name = f"bt_synthetic_row_with_a_deliberately_long_descriptive_name_$i%03d_" + "x" * 40
    val tel = """{"gc_ms":1,"cpu_s":0.50,"steal_s":0.00}"""
    val qr =
      if (i % 29 == 0) QueryResult(if (i == 0) 1.5 else -1.0, -1.0, Seq((600.0, tel)), Map.empty, aborted = true)
      else if (i % 17 == 0) QueryResult(-1.0, -1.0, Nil, Map.empty)
      else QueryResult(0.125 * (i % 40 + 1), 0.2, Seq((0.125 * (i % 40 + 1), tel), (0.3, tel)),
        if (i % 50 == 1) Map("graft:cc-round" -> 120L) else Map.empty)
    name -> qr
  }
  private def publishedTotal(rs: Seq[(String, QueryResult)]) = rs.map(_._2.min).filter(_ >= 0).sum

  private def withBoard[T](sf: String = "/root/testdata/sf0.1")(f: (Board, java.nio.file.Path) => T): T = {
    val dir = tempDir("graft-bench-contract")
    val artifact = dir.resolve("bench-results.json")
    try f(new Board(rows.map(_._1), Seq("dedup_clusters"), dir.resolve("sf1").toString,
        RunInfo(sf, 4, 2, "0123456789ab", artifact.toString)), artifact)
    finally {
      java.nio.file.Files.deleteIfExists(artifact)
      java.nio.file.Files.deleteIfExists(dir)
    }
  }

  private def parseSummary(line: String): JsonNode = {
    assert(!line.contains('\n'))
    assert(line.getBytes("UTF-8").length <= 1024, s"summary is ${line.length} bytes")
    om.readTree(line)
  }

  private def assertCounts(j: JsonNode, rs: Seq[(String, QueryResult)]): Unit = {
    assert(j.get("metric").asText == "total")
    assert(math.abs(j.get("value").asDouble - publishedTotal(rs)) < 1e-3)
    assert(j.get("n_rows").asInt == rs.size)
    assert(j.get("failed").asInt == rs.count(_._2.failed))
    assert(j.get("aborted").asInt == rs.count(_._2.aborted))
    assert(j.get("cpus").isInt && j.get("cpus").asInt == 4)
  }

  test("final path: 233 rows give a summary line under 1 KB that round-trips the counts") {
    withBoard() { (board, artifact) =>
      rows.foreach { case (n, qr) => board.record(n, qr) }
      val j = parseSummary(board.finish(commit = false))
      assertCounts(j, rows)
      assert(rows.count(_._2.failed) == 13 && rows.count(_._2.aborted) == 9)
      assert(!j.get("truncated").asBoolean && j.get("skipped").asInt == 0)
      assert(j.get("artifact").asText == artifact.toString)
      // the per-row board lives in the file, complete
      val f = om.readTree(artifact.toFile)
      assert(f.get("queries").size == nRows)
      assert(f.get("failed").size == 13 && f.get("aborted").size == 9)
      assert(!f.get("truncated").asBoolean && f.get("skipped").size == 0)
      assert(f.get("sf1").get("skipped").size == 0)
    }
  }

  test("shutdown-hook path: a run killed mid-board leaves a truncated line and file") {
    withBoard() { (board, artifact) =>
      assert(parseSummary(board.hookSummary).get("skipped").asInt == nRows)
      val done = rows.take(200)
      done.foreach { case (n, qr) => board.record(n, qr) }
      val j = parseSummary(board.hookSummary)
      assertCounts(j, done)
      assert(j.get("truncated").asBoolean && j.get("skipped").asInt == nRows - 200)
      val f = om.readTree(artifact.toFile)
      assert(f.get("truncated").asBoolean)
      assert(f.get("queries").size == 200 && f.get("skipped").size == nRows - 200)
      assert(f.get("sf1").get("skipped").size == 1)
    }
  }

  test("long paths are clipped so the line stays under 1 KB") {
    withBoard(sf = "/data/" + "very-long-directory-name/" * 80 + "sf0.1") { (board, _) =>
      rows.foreach { case (n, qr) => board.record(n, qr) }
      val j = parseSummary(board.hookSummary)
      assertCounts(j, rows)
      assert(j.get("sf").asText.endsWith("sf0.1"))
    }
  }

  test("sf1 failures count in the summary line's failed: each failed row, or 1 if the section threw") {
    val ok = QueryResult(2.0, 2.0, Seq((2.0, "{}")), Map.empty)
    val bad = QueryResult(-1.0, -1.0, Nil, Map.empty)
    withBoard() { (board, artifact) =>
      rows.foreach { case (n, qr) => board.record(n, qr) }
      board.recordSf1("dedup_clusters", bad)
      board.recordSf1("txt_normalize", ok)
      val j = parseSummary(board.finish(commit = false))
      assert(j.get("failed").asInt == 13 + 1)
      assert(om.readTree(artifact.toFile).get("sf1").get("failed").size == 1)
    }
    withBoard() { (board, _) =>
      rows.foreach { case (n, qr) => board.record(n, qr) }
      board.failSf1("java.lang.IllegalStateException: tier generation failed")
      assert(parseSummary(board.hookSummary).get("failed").asInt == 13 + 1)
      assert(parseSummary(board.finish(commit = false)).get("failed").asInt == 13 + 1)
    }
  }

  test("per-rep telemetry and the profile rows carry codegen compiles") {
    val a = Bench.ResSnap(0L, 0L, 0L, 0L, 0L, 0L, 0.5, 0L, cgCompiles = 40L)
    val tel = om.readTree(Bench.telemetryJson(a, a.copy(cgCompiles = 47L)))
    assert(tel.get("cg_compiles").asLong == 7L)
    val profiled = QueryResult(2.0, 2.0, Seq((2.0, "{}")), Map("(final)" -> 9L),
      profiled = Some((65, 0L)))
    withBoard() { (board, artifact) =>
      rows.foreach { case (n, qr) => board.record(n, qr) }
      board.record("dedup_clusters", profiled)
      parseSummary(board.finish(commit = false))
      val row = om.readTree(artifact.toFile).get("queries_profile").get("dedup_clusters")
      assert(row.get("jobs").asInt == 65 && row.get("cg_compiles").asLong == 0L)
    }
  }

  test("SPARK_GRAFT_CPUS parses to a positive Int or fails naming the variable") {
    assert(GraftSession.parseCpus(None) == Runtime.getRuntime.availableProcessors)
    assert(GraftSession.parseCpus(Some("4")) == 4)
    Seq("", "four", "0", "-2", "4.5").foreach { bad =>
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"))
    }
  }
}
