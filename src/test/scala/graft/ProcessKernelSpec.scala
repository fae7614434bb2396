package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.model.Elem
import graft.operators.ProcessKernel

/** External-process kernel bridge — parity with the reference's
  * forked-interpreter Python kernels (`scanner/engine/python_kernel.cpp`,
  * `python/scannerpy/kernel.py:81-117`): a real python3 stdlib kernel with
  * per-stream state reset, a POSIX awk kernel (the bridge is
  * language-agnostic), and the failure modes the host enforces (1→1 rate,
  * nonzero exit, explicit kernel error).
  */
class ProcessKernelSpec extends SparkSpec {
  import ProcessKernel.Spec

  private val elemEnc = org.apache.spark.sql.Encoders.product[Elem]

  private def elems(n: Int, streams: Int): org.apache.spark.sql.Dataset[Elem] = {
    val rows = for (s <- 0 until streams; i <- 0 until n)
      yield Elem(s.toLong, i.toLong, s"text-$s-$i".getBytes(UTF_8))
    spark.createDataset(rows)(elemEnc)
  }

  private lazy val pyKernel: String = {
    val script =
      """import sys, base64
        |count = 0
        |for line in sys.stdin:
        |    parts = line.rstrip("\n").split("\t")
        |    if parts[0] == "init":
        |        pass
        |    elif parts[0] == "stream":
        |        count = 0  # new_stream = state reset (kernel.h:182-191)
        |    elif parts[0] == "elem":
        |        data = b"" if parts[3] == "-" else base64.b64decode(parts[3])
        |        count += 1
        |        out = data.decode().upper() + ":" + str(count)
        |        sys.stdout.write("out\t" + base64.b64encode(out.encode()).decode() + "\n")
        |        sys.stdout.flush()
        |""".stripMargin
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_pk_upper.py")
    Files.write(p, script.getBytes(UTF_8))
    p.toString
  }

  test("python3 stateful kernel: uppercase + per-stream counter, reset at stream boundary") {
    val out = ProcessKernel
      .run(elems(4, 2), Spec(Seq("python3", pyKernel), stateful = true))
      .collect()
      .map(e => (e.streamId, e.index) -> new String(e.payload, UTF_8))
      .toMap
    assert(out.size === 8)
    assert(out((0L, 0L)) === "TEXT-0-0:1")
    assert(out((0L, 3L)) === "TEXT-0-3:4")
    // state reset when stream 1 begins — counter restarts at 1
    assert(out((1L, 0L)) === "TEXT-1-0:1")
    assert(out((1L, 3L)) === "TEXT-1-3:4")
  }

  test("awk identity kernel: bridge is language-agnostic; stateless path adds no shuffle") {
    val ds = elems(16, 1).repartition(4)
    val res = ProcessKernel.run(ds,
      Spec(Seq("awk", "-F\t", "$1==\"elem\"{print \"out\\t\" $4; fflush()}")))
    val plan = res.queryExecution.executedPlan.toString
    // narrow: the only exchange allowed is the repartition WE asked for above
    assert(plan.split("Exchange").length - 1 <= 1, plan)
    val got = res.collect().map(e => (e.index, new String(e.payload, UTF_8))).toMap
    assert(got.size === 16)
    assert(got(7L) === "text-0-7")
  }

  test("null payloads round-trip as NullElement ('-')") {
    val ds = spark.createDataset(Seq(
      Elem(0L, 0L, "a".getBytes(UTF_8)), Elem(0L, 1L, null)))(elemEnc)
    val got = ProcessKernel.run(ds.coalesce(1),
      Spec(Seq("awk", "-F\t", "$1==\"elem\"{print \"out\\t\" $4; fflush()}")))
      .collect().sortBy(_.index)
    assert(new String(got(0).payload, UTF_8) === "a")
    assert(got(1).payload === null)
  }

  private def messageChain(t: Throwable): String = {
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
  }

  test("nonzero child exit fails the task with the stderr tail") {
    val t = intercept[Throwable] {
      ProcessKernel.run(elems(3, 1).coalesce(1),
        Spec(Seq("sh", "-c", "read x; echo boom >&2; exit 3"))).collect()
    }
    val msg = messageChain(t)
    assert(msg.contains("exited 3") || msg.contains("stdin failed"), msg)
    assert(msg.contains("boom"), msg)
  }

  test("1-to-1 rate violation (child drops elements) is detected") {
    val t = intercept[Throwable] {
      ProcessKernel.run(elems(4, 1).coalesce(1),
        Spec(Seq("awk", "-F\t",
          "$1==\"elem\"{n++; if(n%2==1){print \"out\\t\" $4; fflush()}}"))).collect()
    }
    assert(messageChain(t).contains("1-to-1"), messageChain(t))
  }

  test("explicit kernel error line aborts with the decoded message") {
    // "YmFkIGVsZW0=" = b64("bad elem")
    val t = intercept[Throwable] {
      ProcessKernel.run(elems(2, 1).coalesce(1),
        Spec(Seq("awk", "-F\t", "$1==\"elem\"{print \"err\\tYmFkIGVsZW0=\"; exit 0}")))
        .collect()
    }
    assert(messageChain(t).contains("bad elem"), messageChain(t))
  }

  test("a crashing child is healed by Spark's task retry (exactly-once output)") {
    // the child exits 7 on its FIRST launch (marker file absent), then
    // behaves: attempt 0 fails, the retry (maxTaskFailures=2 in the test
    // session) forks a fresh child and succeeds — process death is just a
    // task failure, the same recovery story as any executor fault
    val marker = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_pk_crash_${System.nanoTime()}")
    val script = "if [ ! -e " + marker + " ]; then touch " + marker +
      "; echo first-launch-crash >&2; exit 7; fi; " +
      "exec awk -F'\t' '$1==\"elem\"{print \"out\\t\" $4; fflush()}'"
    val got = ProcessKernel.run(elems(6, 1).coalesce(1),
      Spec(Seq("sh", "-c", script)))
      .collect().map(e => (e.index, new String(e.payload, UTF_8))).toMap
    assert(got.size === 6, "retry must deliver the full partition exactly once")
    assert(got(4L) === "text-0-4")
    Files.deleteIfExists(marker)
  }

  test("stateless bridge composes with Structured Streaming micro-batches") {
    // the stateless path is a narrow mapPartitions, so it runs inside
    // each micro-batch unchanged — a fresh child per partition per batch
    // (the reference has no streaming surface at all; this is strictly
    // additive parity)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[Elem] = elemEnc
    val in  = MemoryStream[Elem]
    val out = ProcessKernel.run(in.toDS(),
      Spec(Seq("awk", "-F\t", "$1==\"elem\"{print \"out\\t\" $4; fflush()}")))
    val q = out.writeStream.format("memory")
      .queryName("pk_stream_" + System.nanoTime())
      .outputMode(OutputMode.Append())
      .option("checkpointLocation",
        tempDir("graft-pk-ck").toString)
      .start()
    try {
      in.addData(Seq(Elem(0L, 0L, "a".getBytes(UTF_8)), Elem(0L, 1L, "b".getBytes(UTF_8))))
      q.processAllAvailable()
      in.addData(Seq(Elem(1L, 0L, "c".getBytes(UTF_8))))
      q.processAllAvailable()
      val got = spark.table(q.name).collect()
        .map(r => (r.getLong(0), r.getLong(1), new String(r.getAs[Array[Byte]](2), UTF_8)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(got === Seq((0L, 0L, "a"), (0L, 1L, "b"), (1L, 0L, "c")))
    } finally q.stop()
  }

  test("shipFiles materializes kernel bytes where the fork happens ({{name}} substitution)") {
    // the script travels as task-closure bytes; {{upper.sh}} resolves to
    // an executor-local content-hashed path — no driver-written tmp path
    // is assumed to exist where the child forks (cluster-correctness)
    val script = "#!/bin/sh\nexec awk -F'\t' '$1==\"elem\"{print \"out\\t\" $4; fflush()}'\n"
    val got = ProcessKernel.run(elems(4, 1).repartition(2),
      Spec(Seq("sh", "{{upper.sh}}"),
        shipFiles = Map("upper.sh" -> script.getBytes(UTF_8))))
      .collect().map(e => (e.index, new String(e.payload, UTF_8))).toMap
    assert(got.size === 4)
    assert(got(2L) === "text-0-2")
  }

  test("malformed protocol lines fail with the diagnostic path, not a raw decode crash") {
    // bare "out" (no tab) → bad-protocol message, not a Base64 exception
    val t1 = intercept[Throwable] {
      ProcessKernel.run(elems(2, 1).coalesce(1),
        Spec(Seq("awk", "-F\t", "$1==\"elem\"{print \"out\"; fflush()}"))).collect()
    }
    assert(messageChain(t1).contains("bad protocol line"), messageChain(t1))
    // "err\t-" (null message) → "(no message)", not an NPE
    val t2 = intercept[Throwable] {
      ProcessKernel.run(elems(2, 1).coalesce(1),
        Spec(Seq("awk", "-F\t", "$1==\"elem\"{print \"err\\t-\"; exit 0}"))).collect()
    }
    assert(messageChain(t2).contains("no message"), messageChain(t2))
  }

  test("batched frames: parity with the per-element protocol across stream boundaries") {
    // same word-count kernel in both protocols over multi-stream input
    // whose stream sizes (5) don't divide the batch (3): frames must
    // flush at stream boundaries and on partial fill, and outputs must
    // map back to the right (streamId, index) keys
    val ds = elems(5, 3)
    val unbatched = ProcessKernel.run(ds,
      graft.queries.ProcQueries.wordcountSpec.copy(stateful = true))
      .collect().map(e => (e.streamId, e.index) -> new String(e.payload, UTF_8)).toMap
    val batched = ProcessKernel.run(ds,
      graft.queries.ProcQueries.wordcountBatchedSpec(batch = 3).copy(stateful = true))
      .collect().map(e => (e.streamId, e.index) -> new String(e.payload, UTF_8)).toMap
    assert(batched.size === 15)
    assert(batched === unbatched)
  }

  test("batched frames: an awk kernel answers with mixed out/outs frames") {
    // child answers the first element of each frame with a bare `out`
    // and the rest as one `outs` — the host maps payloads to inputs in
    // feed order regardless of framing
    val script =
      """$1=="elems"{
        |  n=$3;
        |  printf "out\t%s\n", $5;
        |  if (n > 1) {
        |    printf "outs\t%d", n-1;
        |    for (i=2; i<=n; i++) printf "\t%s", $(4+2*i-1);
        |    printf "\n";
        |  }
        |  fflush();
        |}""".stripMargin.replace("\n", " ")
    val got = ProcessKernel.run(elems(7, 1).coalesce(1),
      Spec(Seq("awk", "-F\t", script), batch = 4))
      .collect().map(e => (e.index, new String(e.payload, UTF_8))).toMap
    assert(got.size === 7)
    (0 until 7).foreach(i => assert(got(i.toLong) === s"text-0-$i"))
  }

  test("batched frames: a count-mismatched outs frame is a protocol failure") {
    // child declares 3 payloads but carries 2 → loud diagnostic
    val t = intercept[Throwable] {
      ProcessKernel.run(elems(4, 1).coalesce(1),
        Spec(Seq("awk", "-F\t",
          "$1==\"elems\"{print \"outs\\t3\\t\" $5 \"\\t\" $7; fflush()}"), batch = 4))
        .collect()
    }
    assert(messageChain(t).contains("outs frame"), messageChain(t))
  }

  test("init args and per-stream configs reach the child") {
    val script =
      """import sys, base64
        |init = ""
        |cfg = ""
        |for line in sys.stdin:
        |    parts = line.rstrip("\n").split("\t")
        |    if parts[0] == "init":
        |        init = base64.b64decode(parts[1]).decode()
        |    elif parts[0] == "stream":
        |        cfg = base64.b64decode(parts[2]).decode() if parts[2] != "-" else ""
        |    elif parts[0] == "elem":
        |        out = init + "/" + cfg
        |        sys.stdout.write("out\t" + base64.b64encode(out.encode()).decode() + "\n")
        |        sys.stdout.flush()
        |""".stripMargin
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_pk_args.py")
    Files.write(p, script.getBytes(UTF_8))
    val got = ProcessKernel.run(elems(1, 2),
      Spec(Seq("python3", p.toString),
        initArgs = "radius=7".getBytes(UTF_8),
        streamConfigs = Map(0L -> "w=64".getBytes(UTF_8), 1L -> "w=128".getBytes(UTF_8)),
        stateful = true))
      .collect().map(e => e.streamId -> new String(e.payload, UTF_8)).toMap
    assert(got(0L) === "radius=7/w=64")
    assert(got(1L) === "radius=7/w=128")
  }
}
