package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.model.Elem
import graft.operators.StdKernels
import graft.streaming.StreamingOps

/** Structured-Streaming semantics of the stateful kernels: the same
  * StatefulKernel contract as batch (`scanner/api/op.h:95-103`), state in
  * the state store across micro-batches, replay idempotence, out-of-order
  * buffering. Driven through MemoryStream micro-batches.
  */
class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  private def checkpoint(): String =
    tempDir("graft-stream-ck").toString

  private def runBatches(batches: Seq[Seq[Elem]],
      maxPending: Int = 10000): Seq[(Long, Long, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    val in  = MemoryStream[Elem]
    val out = StreamingOps.unboundedState(in.toDS(), StdKernels.TestIncrement, maxPending)
    val q = out.writeStream
      .format("memory")
      .queryName("counts_" + System.nanoTime())
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      spark.table(q.name).as[Elem].collect()
        .map(e => (e.streamId, e.index, StdKernels.decodeI64(e.payload)))
        .sortBy(t => (t._1, t._2)).toSeq
    } finally q.stop()
  }

  private def runCoVisit(batches: Seq[Seq[(Long, String)]]): Map[(Long, Long), Long] = {
    implicit val sqlCtx = spark.sqlContext
    val in  = MemoryStream[(Long, String)]
    val out = StreamingOps.streamingCoVisitation(
      in.toDF().toDF("user_id", "props"), "user_id", "props")
    val q = out.writeStream.format("memory")
      .queryName("scv_" + System.nanoTime())
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      spark.table(q.name).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    } finally q.stop()
  }

  test("streaming co-visitation: multiplicity folds across micro-batches, split-invariant") {
    val rows = Seq(
      (1L, """{"k": 10}"""), (1L, """{"k": 10}"""), (1L, """{"k": 11}"""),
      (2L, """{"k": 10}"""), (2L, """{"x": 1}"""), (3L, "{}"))
    val want = Map((1L, 10L) -> 2L, (1L, 11L) -> 1L, (2L, 10L) -> 1L)
    assert(runCoVisit(Seq(rows)) == want)
    assert(runCoVisit(rows.map(Seq(_))) == want) // one event per micro-batch
  }

  private def elem(sid: Long, i: Long): Elem = Elem(sid, i, Array[Byte](i.toByte))

  test("unbounded state persists across micro-batches, per stream") {
    val got = runBatches(Seq(
      Seq(elem(0, 0), elem(0, 1), elem(1, 0)),
      Seq(elem(0, 2), elem(1, 1), elem(1, 2))))
    // counter == index for dense in-order delivery, per stream
    assert(got == Seq((0L, 0L, 0L), (0L, 1L, 1L), (0L, 2L, 2L),
      (1L, 0L, 0L), (1L, 1L, 1L), (1L, 2L, 2L)))
  }

  test("out-of-order elements are buffered and drained in index order") {
    val got = runBatches(Seq(
      Seq(elem(0, 0), elem(0, 2), elem(0, 3)), // 2,3 ahead of cursor -> buffered
      Seq(elem(0, 1)),                          // fills the gap -> 1,2,3 all emit
      Seq(elem(0, 4))))
    assert(got == Seq((0L, 0L, 0L), (0L, 1L, 1L), (0L, 2L, 2L), (0L, 3L, 3L), (0L, 4L, 4L)))
  }

  test("out-of-order stream result is batch-identical (pending-buffer drain end-to-end)") {
    // scrambled delivery across micro-batches, two interleaved streams, a
    // gap held open for two batches — must equal the one-shot batch run of
    // the SAME kernel over the in-order data
    val scrambled = Seq(
      Seq(elem(0, 3), elem(1, 0), elem(0, 0)),
      Seq(elem(0, 2), elem(1, 2)),              // stream 0 still missing 1
      Seq(elem(1, 1), elem(0, 1)),              // gaps fill -> both drain
      Seq(elem(0, 4)))
    val streamed = runBatches(scrambled)
    val batchIn  = scrambled.flatten.sortBy(e => (e.streamId, e.index)).toDS()
    val batch = graft.operators.Kernels
      .unboundedState(batchIn.toDF(), StdKernels.TestIncrement)
      .as[Elem].collect()
      .map(e => (e.streamId, e.index, StdKernels.decodeI64(e.payload)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("duplicates behind the cursor are dropped (idempotent replay)") {
    val got = runBatches(Seq(
      Seq(elem(0, 0), elem(0, 1)),
      Seq(elem(0, 0), elem(0, 1), elem(0, 2)))) // batch replays 0,1
    assert(got == Seq((0L, 0L, 0L), (0L, 1L, 1L), (0L, 2L, 2L)))
  }

  test("pending buffer is bounded: a gap that never fills fails loudly, in-bound reorder still drains") {
    // in-bound: 3 ahead-of-cursor elements under maxPending=3 drain
    // batch-identically once the gap fills
    val ok = runBatches(Seq(
      Seq(elem(0, 0), elem(0, 2), elem(0, 3), elem(0, 4)), // 3 buffered
      Seq(elem(0, 1))), maxPending = 3)
    assert(ok == Seq((0L, 0L, 0L), (0L, 1L, 1L), (0L, 2L, 2L),
      (0L, 3L, 3L), (0L, 4L, 4L)))
    // breach: a 4th ahead-of-cursor element while index 1 never arrives
    // must FAIL the query (unbounded state growth + silent stall otherwise)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runBatches(Seq(
        Seq(elem(0, 0), elem(0, 2), elem(0, 3), elem(0, 4)),
        Seq(elem(0, 5))), maxPending = 3)
    }
    def causes(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
    assert(causes(ex).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("maxPending")))
  }

  test("streamingDedup keeps first arrival per fingerprint across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in  = MemoryStream[(Long, String)]
    val out = StreamingOps.streamingDedup(
      in.toDF().toDF("doc_id", "text"), "text")
    val q = out.writeStream
      .format("memory")
      .queryName("dedup_" + System.nanoTime())
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      in.addData((0L, "alpha"), (1L, "beta"), (2L, "alpha"))
      q.processAllAvailable()
      // cross-batch duplicate ("beta") must drop via state, not batch-local
      // dedup; new text ("gamma") passes
      in.addData((3L, "beta"), (4L, "gamma"))
      q.processAllAvailable()
      val ids = spark.table(q.name).select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(0L, 1L, 4L))
    } finally q.stop()
  }

  test("sessionize state transitions: burst grows, gap closes, timeout flushes") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import StreamingOps.{ClosedSession, SessionState}
    val f = StreamingOps.sessionizeFunc(gapMs = 1000L)
    def state(s: Option[SessionState], timedOut: Boolean) =
      TestGroupState.create[SessionState](
        s.map(Optional.of[SessionState]).getOrElse(Optional.empty[SessionState]()),
        GroupStateTimeout.ProcessingTimeTimeout(), 0L, Optional.empty[Long](), timedOut)

    // burst within the gap: nothing closes, state carries (start, last, n)
    val s1 = state(None, timedOut = false)
    assert(f(7L, Iterator((7L, 0L), (7L, 500L)), s1).isEmpty)
    assert(s1.get == SessionState(0L, 500L, 2L))

    // next event past the gap: previous session closes, new one opens
    val s2 = state(Some(SessionState(0L, 500L, 2L)), timedOut = false)
    assert(f(7L, Iterator((7L, 5000L)), s2).toSeq == Seq(ClosedSession(7L, 0L, 500L, 2L)))
    assert(s2.get == SessionState(5000L, 5000L, 1L))

    // processing-time timeout fires: dangling session flushes, state removed
    val s3 = state(Some(SessionState(5000L, 5000L, 1L)), timedOut = true)
    assert(f(7L, Iterator.empty, s3).toSeq == Seq(ClosedSession(7L, 5000L, 5000L, 1L)))
    assert(s3.isRemoved)
  }

  test("event-time sessionize: nano gap algebra, watermark timeout arming and flush") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import StreamingOps.{ClosedSession, SessionState}
    val f = StreamingOps.sessionizeEventTimeFunc(gapMs = 1000L) // gap = 1e9 ns
    def state(s: Option[SessionState], timedOut: Boolean, wm: Long = 0L) =
      TestGroupState.create[SessionState](
        s.map(Optional.of[SessionState]).getOrElse(Optional.empty[SessionState]()),
        GroupStateTimeout.EventTimeTimeout(), 0L, Optional.of[Long](wm), timedOut)
    def ev(ns: Long) = (7L, ns, new java.sql.Timestamp(ns / 1000000L))

    // burst inside the NANO gap joins; timeout armed at last/1e6 + gapMs
    val s1 = state(None, timedOut = false)
    assert(f(7L, Iterator(ev(0L), ev(900000000L)), s1).isEmpty)
    assert(s1.get == SessionState(0L, 900000000L, 2L))
    assert(s1.getTimeoutTimestampMs.get == 900L + 1000L)

    // a nano-gap breach closes the session in-stream
    val s2 = state(Some(SessionState(0L, 900000000L, 2L)), timedOut = false)
    assert(f(7L, Iterator(ev(3000000000L)), s2).toSeq ==
      Seq(ClosedSession(7L, 0L, 900000000L, 2L)))

    // watermark-driven timeout flushes the dangling session and clears state
    val s3 = state(Some(SessionState(3000000000L, 3000000000L, 1L)),
      timedOut = true, wm = 10000L)
    assert(f(7L, Iterator.empty, s3).toSeq ==
      Seq(ClosedSession(7L, 3000000000L, 3000000000L, 1L)))
    assert(s3.isRemoved)

    // LATE (watermark-admitted) in-gap event joins WITHOUT rewinding
    // `last` — the timeout stays armed at the true session end
    val s4 = state(Some(SessionState(2000000000L, 3000000000L, 2L)), timedOut = false)
    assert(f(7L, Iterator(ev(2500000000L)), s4).isEmpty)
    assert(s4.get == SessionState(2000000000L, 3000000000L, 3L))
    assert(s4.getTimeoutTimestampMs.get == 3000L + 1000L)

    // late event within the gap BEFORE start extends the session backward
    val s5 = state(Some(SessionState(2000000000L, 3000000000L, 2L)), timedOut = false)
    assert(f(7L, Iterator(ev(1500000000L)), s5).isEmpty)
    assert(s5.get == SessionState(1500000000L, 3000000000L, 3L))

    // far-past straggler (beyond the gap before start): immediately-closed
    // singleton; the open session is untouched
    val s6 = state(Some(SessionState(2000000000L, 3000000000L, 2L)), timedOut = false)
    assert(f(7L, Iterator(ev(100000000L)), s6).toSeq ==
      Seq(ClosedSession(7L, 100000000L, 100000000L, 1L)))
    assert(s6.get == SessionState(2000000000L, 3000000000L, 2L))

    // TWO far-past stragglers within the gap of each other fold into ONE
    // closed session (the batch sorted-fold answer), not two singletons;
    // a third beyond the straggler gap starts a second straggler session
    val s7 = state(Some(SessionState(9000000000L, 9000000000L, 1L)), timedOut = false)
    assert(f(7L, Iterator(ev(100000000L), ev(600000000L), ev(4000000000L)), s7).toSeq ==
      Seq(ClosedSession(7L, 100000000L, 600000000L, 2L),
          ClosedSession(7L, 4000000000L, 4000000000L, 1L)))
    assert(s7.get == SessionState(9000000000L, 9000000000L, 1L))

    // a straggler chain followed by an in-gap event: the chain closes,
    // the in-gap event joins the open session (no cross-contamination)
    val s8 = state(Some(SessionState(5000000000L, 6000000000L, 2L)), timedOut = false)
    assert(f(7L, Iterator(ev(1000000000L), ev(1500000000L), ev(4500000000L)), s8).toSeq ==
      Seq(ClosedSession(7L, 1000000000L, 1500000000L, 2L)))
    assert(s8.get == SessionState(4500000000L, 6000000000L, 3L))

    // BRIDGING event: within gap of BOTH the straggler chain's last
    // element and the open session — the batch sorted-fold over
    // {3.6, 4.3, 5, 6} s (all gaps <= 1 s) is ONE session, so the chain
    // must fold in (not close as a spurious singleton)
    val s9 = state(Some(SessionState(5000000000L, 6000000000L, 2L)), timedOut = false)
    assert(f(7L, Iterator(ev(3600000000L), ev(4300000000L)), s9).isEmpty)
    assert(s9.get == SessionState(3600000000L, 6000000000L, 4L))
  }

  test("streamingDecontaminate: stateless per-witness rows match the batch op across micro-batch splits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val bench = Seq((10L, "p q r s t"), (20L, "z p q r s")).toDF("doc_id", "text")
    val arriving = Seq(
      (1L, "x p q r s y"),       // shares "p q r s" with 10 AND 20
      (2L, "a b c d e"),         // clean
      (4L, "p q r s w p q r s")) // repeated gram counts once per witness
    val in = MemoryStream[(Long, String)]
    val out = StreamingOps.streamingDecontaminate(
      in.toDF().toDF("doc_id", "text"), bench, "doc_id", "text", n = 4)
    val q = out.writeStream.format("memory")
      .queryName("sdc_spec_" + System.nanoTime())
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      // split mid-stream: the op is stateless, so batch boundaries are
      // invisible in the drained sink
      in.addData(arriving.take(1)); q.processAllAvailable()
      in.addData(arriving.drop(1)); q.processAllAvailable()
      val got = spark.table(q.name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(got === Seq((1L, 10L, 1L), (1L, 20L, 1L), (4L, 10L, 1L), (4L, 20L, 1L)))
      // min/sum over a doc's rows reproduces the batch op's rollup
      val rolled = got.groupBy(_._1).map { case (id, rs) =>
        (id, rs.map(_._2).min, rs.map(_._3).sum) }.toSeq.sortBy(_._1)
      val batch = graft.functions.Dedup.ngramContamination(
        arriving.toDF("doc_id", "text"), bench, "doc_id", "text", n = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      assert(rolled === batch)
    } finally q.stop()
  }

  test("live sessionize: cross-batch out-of-order delivery matches the batch fold; beyond-watermark events drop and are counted") {
    // the r8 ask: the pinned stream_sessionize gate replays in order, so
    // this pins the semantics it cannot express — events shuffled across
    // micro-batches (including a late-but-admitted arrival) produce the
    // batch sorted-fold sessions over the ACCEPTED set, and an event
    // beyond the lateness bound is dropped pre-state with the drop
    // visible in numRowsDroppedByWatermark
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val df = in.toDF().toDF("user_id", "ts_ns", "ts")
    val out = StreamingOps.sessionizeEventTime(df, gapMs = 60000L, "10 seconds")
    val q = out.writeStream
      .format("memory")
      .queryName("sess_late_" + System.nanoTime())
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      def ev(sec: Long) = (1L, sec * 1000000000L, new java.sql.Timestamp(sec * 1000L))
      // batch 1: OUT OF ORDER within the batch; watermark after = 150-10 = 140
      in.addData(Seq(ev(150), ev(130)))
      q.processAllAvailable()
      // batch 2: 145 is LATE (behind max seen) but watermark-admitted —
      // joins the open session; 50 is beyond the bound (< 140) — dropped
      in.addData(Seq(ev(145), ev(50)))
      q.processAllAvailable()
      // batch 3/4: gap-closing events (300 closes [130,150], 400 closes [300])
      in.addData(Seq(ev(300)))
      q.processAllAvailable()
      in.addData(Seq(ev(400)))
      q.processAllAvailable()
      val got = spark.table(q.name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._2).toSeq
      // the batch sorted-fold over the accepted set {130,145,150,300}:
      // [130..150] n=3 (145 joined despite arriving after 150), then [300]
      val ns = 1000000000L
      assert(got == Seq((1L, 130 * ns, 150 * ns, 3L), (1L, 300 * ns, 300 * ns, 1L)),
        got.toString)
      // the beyond-bound event is visible as a watermark drop, not a
      // silent absence
      val dropped = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(dropped === 1L, s"expected exactly one watermark-dropped row, got $dropped")
    } finally q.stop()
  }

  test("batch/stream parity: hourly windows over the events parquet match exactly") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val dir   = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val batch = spark.read.parquet(s"$dir/events.parquet")
    // tsToNanos inside agg (not on `batch`): the streaming side below reuses
    // batch.schema for its parquet source, which must match the file's raw
    // encoding, and the normalization itself is plan-only so it applies to
    // streaming DataFrames identically
    def agg(df: org.apache.spark.sql.DataFrame) = GraftSession.tsToNanos(df)
      .withColumn("tts", GraftSession.nanosToTimestamp(col("ts")))
      .groupBy(window(col("tts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    val expected = agg(batch).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).sorted.toSeq

    // FileStreamSource requires a directory; stage the single parquet file
    val stageDir = tempDir("graft-stream-src")
    Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      stageDir.resolve("events.parquet"))
    val stream = spark.readStream.schema(batch.schema).parquet(stageDir.toString)
    val q = agg(stream).writeStream
      .format("memory")
      .queryName("parity_" + System.nanoTime())
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", checkpoint())
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(120000), "AvailableNow query did not terminate in 120 s")
      val got = spark.table(q.name).collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).sorted.toSeq
      assert(got == expected)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("watermark drops events later than the lateness bound") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val df = in.toDF().toDF("ts", "event_type")
    val out = StreamingOps.windowedEventCounts(df, "10 seconds", "1 minute")
    val q = out.writeStream
      .format("memory")
      .queryName("late_" + System.nanoTime())
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
      in.addData(Seq((ts(5), "a")))
      q.processAllAvailable()
      in.addData(Seq((ts(600), "b"))) // watermark jumps to ~590s
      q.processAllAvailable()
      in.addData(Seq((ts(10), "a")))  // late beyond the bound -> dropped
      q.processAllAvailable()
      in.addData(Seq((ts(1200), "c"))) // close remaining windows
      q.processAllAvailable()
      val rows = spark.table(q.name).collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      // window [0,60) holds ONE "a": the late second event never counted
      assert(rows.contains((0L, "a", 1L)))
      assert(!rows.contains((0L, "a", 2L)))
    } finally q.stop()
  }

  test("windowed event counts aggregate under watermark (batch-plan twin)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val df = in.toDF().toDF("ts", "event_type")
    val out = StreamingOps.windowedEventCounts(df, "10 seconds", "1 minute")
    val q = out.writeStream
      .format("memory")
      .queryName("wincounts_" + System.nanoTime())
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
      in.addData(Seq((ts(5), "a"), (ts(10), "a"), (ts(70), "b")))
      q.processAllAvailable()
      // advance watermark far enough to close the first two windows
      in.addData(Seq((ts(300), "c")))
      q.processAllAvailable()
      val rows = spark.table(q.name).collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(rows == Seq((0L, "a", 2L), (60L, "b", 1L)))
    } finally q.stop()
  }

  test("streamingDedup state survives a query restart from the checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val in  = MemoryStream[(Long, String)]
    val ck  = checkpoint()
    val out = StreamingOps.streamingDedup(in.toDF().toDF("doc_id", "text"), "text")
    // memory sink refuses checkpoint recovery; foreachBatch supports it
    // (at-least-once side effects, so the assertion dedupes by id)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def start() = out.writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select("doc_id").collect().foreach(r => seen.add(r.getLong(0))); ()
      }
      .option("checkpointLocation", ck).start()
    val q1 = start()
    try {
      in.addData((0L, "alpha"), (1L, "beta"))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the same checkpoint: the fingerprint state must carry —
    // a replayed duplicate drops, a new text passes
    val q2 = start()
    try {
      in.addData((2L, "alpha"), (3L, "gamma"))
      q2.processAllAvailable()
      val ids = seen.toArray(Array.empty[java.lang.Long]).map(_.toLong).distinct.sorted.toSeq
      assert(ids == Seq(0L, 1L, 3L),
        "doc 2 duplicates pre-restart state and must drop after recovery")
    } finally q2.stop()
  }

  test("streamingBandPairs finds cross-batch band collisions within the join window") {
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp((1000 + sec) * 1000L)
    val in = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val out = StreamingOps.streamingBandPairs(
      in.toDF().toDF("id", "band", "ts"),
      "id", "band", "ts", watermark = "10 seconds", joinWindow = "30 SECONDS")
    val q = out.writeStream
      .format("memory")
      .queryName("bands_" + System.nanoTime())
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      in.addData((0L, 7L, ts(0)), (1L, 9L, ts(1)))
      q.processAllAvailable()
      // doc 2 collides with doc 0's band from the PREVIOUS micro-batch
      // (state store), doc 3's band is unique, doc 4 shares doc 1's band
      in.addData((2L, 7L, ts(5)), (3L, 11L, ts(6)), (4L, 9L, ts(8)))
      q.processAllAvailable()
      val pairs = spark.table(q.name).select("a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(pairs == Seq((0L, 2L), (1L, 4L)))
    } finally q.stop()
  }

  test("streamingNearDupPairs end-to-end matches batch LSH candidates + Jaccard for in-window docs") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // near-dup families sharing most 2-gram shingles, plus unique docs —
    // replayed over three micro-batches, all within the join window
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog today"),
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different text about spark partitions and shuffles"),
      (3L, "totally unrelated words concerning parquet file readers"),
      (4L, "the quick brown fox jumps over the lazy dog today"),
      (5L, "spark partitions and shuffles make completely different text"))
    def ts(sec: Long) = new java.sql.Timestamp((1000 + sec) * 1000L)
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = StreamingOps.streamingNearDupPairs(
      in.toDF().toDF("doc_id", "text", "ts"),
      "doc_id", "text", "ts", watermark = "10 seconds", joinWindow = "5 MINUTES")
    val q = out.writeStream
      .format("memory")
      .queryName("ndp_" + System.nanoTime())
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      val batches = corpus.grouped(2).toSeq
      batches.zipWithIndex.foreach { case (b, i) =>
        in.addData(b.map { case (id, t) => (id, t, ts(i * 3)) })
        q.processAllAvailable()
      }
      val streamed = spark.table(q.name)
        .select("a", "b", "inter", "uni", "jac")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .sortBy(t => (t._1, t._2)).toSeq
      // batch truth over the same corpus: LSH candidates scored by exact
      // Jaccard (the composed pipeline this op streams)
      val docs = corpus.toDF("doc_id", "text")
      val batch = graft.functions.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 8, 4)
        .select(col("a"), col("b"), col("inter"), col("uni"),
          org.apache.spark.sql.functions.round(col("jac"), 6).as("jac"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(streamed.nonEmpty, "expected near-dup candidates in the stream")
      assert(streamed == batch,
        s"streaming pairs $streamed differ from batch pipeline $batch")
      // exactly one emission per pair (the first-shared-band stateless dedup)
      assert(streamed.map(t => (t._1, t._2)).distinct.length == streamed.length)
    } finally q.stop()
  }

  test("streamingNearDupPairs excludes near-dup docs arriving outside the join window") {
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp((1000 + sec) * 1000L)
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = StreamingOps.streamingNearDupPairs(
      in.toDF().toDF("doc_id", "text", "ts"),
      "doc_id", "text", "ts", watermark = "5 seconds", joinWindow = "10 SECONDS")
    val q = out.writeStream
      .format("memory")
      .queryName("ndpw_" + System.nanoTime())
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      val dup = "the quick brown fox jumps over the lazy dog"
      in.addData((0L, dup, ts(0)), (1L, dup, ts(5)))
      q.processAllAvailable()
      in.addData((2L, dup, ts(100))) // identical text, outside the horizon
      q.processAllAvailable()
      val pairs = spark.table(q.name).select("a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(pairs == Seq((0L, 1L)),
        "only the in-window pair may emit; the late twin is beyond the state horizon")
    } finally q.stop()
  }

  test("streamingBandPairs join window excludes far-apart arrivals on a shared band") {
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp((1000 + sec) * 1000L)
    val in = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val out = StreamingOps.streamingBandPairs(
      in.toDF().toDF("id", "band", "ts"),
      "id", "band", "ts", watermark = "5 seconds", joinWindow = "10 SECONDS")
    val q = out.writeStream
      .format("memory")
      .queryName("bandw_" + System.nanoTime())
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      in.addData((0L, 7L, ts(0)), (1L, 7L, ts(5)))
      q.processAllAvailable()
      in.addData((2L, 7L, ts(100))) // same band, outside the 10 s horizon
      q.processAllAvailable()
      val pairs = spark.table(q.name).select("a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(pairs == Seq((0L, 1L)))
    } finally q.stop()
  }

  test("streamingCleanCorpus: dedup state crosses batches, index hits drop, gate filters, window flushes") {
    import graft.functions.Dedup
    import org.apache.spark.sql.functions.{col, explode, size}
    implicit val sqlCtx = spark.sqlContext
    // ~23-token texts with exactly one stopword (ratio ~0.043, inside the
    // [0.02, 0.2] gate); C is the corpus doc the index knows about
    val textC = "the quick brown fox jumps over lazy dog while autumn winds carry " +
      "scattered leaves across quiet village roads during early morning hours today"
    val textD = "a silver river flows gently past ancient stone bridges where travelers " +
      "rest beneath tall willow trees sharing stories about distant mountain journeys tonight"
    val textE = "of copper kettles humming softly workshop artisans shape delicate glass " +
      "ornaments while winter snow gathers slowly outside wooden window frames this evening now"
    val corpus = Seq((0L, textC)).toDF("doc_id", "text")
    val index = corpus
      .withColumn("__sh", Dedup.shingleSet(col("text")))
      .filter(size(col("__sh")) >= 1)
      .select(col("doc_id").as("id"),
        explode(Dedup.bandKeyStructs(col("__sh"), 8, 4)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bk").as("bk"))
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = StreamingOps.streamingCleanCorpus(
      in.toDF().toDF("doc_id", "text", "ts"), index,
      "doc_id", "text", "ts", watermark = "10 seconds", windowLen = "1 minute")
    val q = out.writeStream
      .format("memory")
      .queryName("scc_" + System.nanoTime())
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      val t0 = new java.sql.Timestamp(60L * 1000)
      // batch 1: first copy of D survives; 3-token doc rides the sentinel
      // band (no index match) but fails the token gate
      in.addData(Seq((10L, textD, t0), (14L, "short text here", t0)))
      q.processAllAvailable()
      // batch 2: 11 re-sends D (exact-dup state from batch 1 must drop it),
      // 12 duplicates the CORPUS doc (every band hits the static index),
      // 13 is novel and clean
      in.addData(Seq((11L, textD, t0), (12L, textC, t0), (13L, textE, t0)))
      q.processAllAvailable()
      assert(spark.table(q.name).isEmpty,
        "window [60s,120s) must not emit before the watermark passes its end")
      // watermark flush: far-future sentinel closes the window
      in.addData(Seq((-1L, "flush", new java.sql.Timestamp(3600L * 1000))))
      q.processAllAvailable()
      val got = spark.table(q.name)
        .select("win_start", "id", "n_tokens")
        .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2)))
        .sortBy(_._2).toSeq
      assert(got == Seq((60000L, 10L, 23L), (60000L, 13L, 23L)),
        s"survivors must be exactly first-D and novel-E, got $got")
    } finally {
      q.stop()
      CacheScope.release()
    }
  }

  test("streamingCleanCorpus keeper is feed-partitioning invariant (min-id per window/fp)") {
    import graft.functions.Dedup
    import org.apache.spark.sql.functions.{col, explode, size}
    implicit val sqlCtx = spark.sqlContext
    val base = "alpha river flows gently past the ancient stone bridges where travelers " +
      "rest beneath tall willow trees sharing stories about distant mountain journeys"
    // 12 docs: ids 3..14, where ids {5, 9, 13} share one text (dup group)
    // and the rest are unique — keeper must be id 5 under ANY feed order
    val docs = (3L to 14L).map { id =>
      val text = if (id == 5 || id == 9 || id == 13) base
                 else base.replace("alpha", s"tok$id")
      (id, text, new java.sql.Timestamp(60L * 1000))
    }
    val corpus = Seq((0L, "completely unrelated corpus text about turbines and engines " +
      "spinning through the industrial night while workers watch gauges and dials"))
      .toDF("doc_id", "text")
    val index = corpus
      .withColumn("__sh", Dedup.shingleSet(col("text")))
      .filter(size(col("__sh")) >= 1)
      .select(col("doc_id").as("id"),
        explode(Dedup.bandKeyStructs(col("__sh"), 8, 4)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bk").as("bk"))

    def run(feed: Seq[(Long, String, java.sql.Timestamp)], parts: Int): Seq[(Long, Long)] = {
      val in = MemoryStream[(Long, String, java.sql.Timestamp)](spark, parts)
      val out = StreamingOps.streamingCleanCorpus(
        in.toDF().toDF("doc_id", "text", "ts"), index,
        "doc_id", "text", "ts", watermark = "10 seconds", windowLen = "1 minute")
      val q = out.writeStream.format("memory")
        .queryName("sccsplit_" + System.nanoTime())
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", checkpoint())
        .start()
      try {
        in.addData(feed)
        q.processAllAvailable()
        in.addData(Seq((-1L, "flush", new java.sql.Timestamp(3600L * 1000))))
        q.processAllAvailable()
        in.addData(Seq((-2L, "flush", new java.sql.Timestamp(7200L * 1000))))
        q.processAllAvailable()
        spark.table(q.name).filter(col("id") >= 0)
          .select("id", "n_tokens")
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      } finally { q.stop(); CacheScope.release() }
    }

    val ordered = run(docs, parts = 1)
    val reversedMultiPart = run(docs.reverse, parts = 4)
    val shuffledMultiPart = run(new scala.util.Random(7).shuffle(docs), parts = 3)
    assert(ordered.nonEmpty)
    assert(ordered.map(_._1).contains(5L), s"keeper must be min-id 5, got $ordered")
    assert(!ordered.map(_._1).exists(Set(9L, 13L)), "duplicate ids 9/13 must drop")
    assert(reversedMultiPart == ordered,
      s"reversed 4-partition feed diverged: $reversedMultiPart vs $ordered")
    assert(shuffledMultiPart == ordered,
      s"shuffled 3-partition feed diverged: $shuffledMultiPart vs $ordered")
  }

  test("streamingIndexProbe: arriving docs hit the persisted corpus index, one row per pair") {
    import graft.functions.Dedup
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "an entirely different corpus document about engines"))
      .toDF("doc_id", "text")
    val table = "graft_lsh_idx_stream_spec"
    Dedup.lshWriteBandIndex(corpus, "doc_id", "text", 8, 4, table)
    val in = MemoryStream[(Long, String)]
    val out = StreamingOps.streamingIndexProbe(
      in.toDF().toDF("doc_id", "text"), spark.table(table), "doc_id", "text")
    val q = out.writeStream
      .format("memory")
      .queryName("idxprobe_" + System.nanoTime())
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint())
      .start()
    try {
      // doc 10 duplicates corpus doc 0 — identical text collides in EVERY
      // band, so the first-shared-band dedup must still emit exactly one row
      in.addData((10L, "the quick brown fox jumps over the lazy dog"),
        (11L, "totally novel shard content with fresh phrasing"))
      q.processAllAvailable()
      in.addData((12L, "an entirely different corpus document about engines"))
      q.processAllAvailable()
      val hits = spark.table(q.name).select("id", "dup_of")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(hits == Seq((10L, 0L), (12L, 1L)))
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE $table")
      CacheScope.release()
    }
  }

  test("a bounded stream_* gate deletes its checkpoint directory") {
    val dir = tempDir("graft-stream-docs").toString
    (1L to 40L).map(i => (i, s"doc $i shares the words alpha beta gamma ${i % 7}"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    def checkpoints(): Set[String] = tmp.listFiles().map(_.getName)
      .filter(_.matches("graft-.+-ck.*")).toSet
    val before = checkpoints()
    queries.StreamQueries.queries("stream_decontaminate")(spark, dir).count()
    val left = checkpoints() -- before
    assert(left.isEmpty, s"streaming gate left checkpoints behind: $left")
  }
}
