package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Entry point of the harness JVM (run.py launches it):
  *
  *   fixture --workload W --seed N --state DIR --slots K [--tiny]
  *   run     --workload W --seed N --seconds S --trace 0|1 --state DIR
  *           --slots K [--tiny] [--inject-fault]
  *
  * `run` prints telemetry lines and, last, the result line. Exit codes:
  * 0 ran (the result says whether outputs were correct), 2 usage,
  * 3 fixture missing or stale.
  */
object Main {
  final case class Args(cmd: String, workload: String, seed: Long, seconds: Double,
      trace: Boolean, state: File, tiny: Boolean, inject: Boolean,
      slots: Int)

  def parse(a: Array[String]): Args = {
    val kv = a.drop(1).sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val flags = a.filter(_.startsWith("--")).map(_.drop(2)).toSet
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(a.headOption.getOrElse(""), need("workload"), need("seed").toLong,
      kv.get("seconds").map(_.toDouble).getOrElse(10.0), kv.get("trace").contains("1"),
      new File(need("state")), flags("tiny"), flags("inject-fault"),
      need("slots").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch {
      case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2)
    }
    val code = a.cmd match {
      case "fixture" => fixture(a)
      case "run"     => Runner.run(a)
      case c         => System.err.println(s"unknown command '$c'"); 2
    }
    sys.exit(code)
  }

  def session(slots: Int): SparkSession = GraftSession.local(slots.toString, "perfbench")

  /** (Re)build the workload's fixture; run.py asks for it when the
    * measured run finds the fixture missing or stale. */
  private def fixture(a: Args): Int = {
    val w = Workloads(a.workload, a.seed, a.tiny, a.state)
    w.video.foreach { spec =>
      val d = Fixtures.dir(a.state, w.name, spec)
      System.err.println(s"perfbench: building fixture $d")
      val spark = session(a.slots)
      try Fixtures.build(spark, d, spec) finally spark.stop()
    }
    0
  }
}

/** Process and host counters, read at the edges of the timed window. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  /** CPU ms of the JIT compiler threads, from /proc/self/task (run.py keeps
    * their number fixed, so none exits and takes its count along) */
  def jitCpuMs: Double =
    Option(new File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
      // a thread that exits while the tasks are listed has no stat to read
      try {
        val stat = new String(Files.readAllBytes(new File(t, "stat").toPath), UTF_8)
        val close = stat.lastIndexOf(')')
        if (!stat.substring(stat.indexOf('(') + 1, close).contains("CompilerThre")) 0L
        else {
          val f = stat.substring(close + 2).split(' ') // f(0) is field 3, state
          f(11).toLong + f(12).toLong                   // utime + stime, in ticks
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum * 10.0 // USER_HZ = 100
  /** CPU time of the program's work: every thread but the JIT compiler's.
    * Compiling Spark's driver code takes ~half the process CPU in a short
    * window and varies from run to run; CPU time, unlike wall time, does not
    * grow when the host steals cycles from this VM. */
  def workCpuMs: Double = cpuNs / 1e6 - jitCpuMs
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  /** (steal, total) jiffies from the aggregate line of /proc/stat */
  def stealTotal: (Long, Long) = try {
    val f = Files.readAllLines(new File("/proc/stat").toPath, UTF_8).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  } catch { case _: Exception => (0L, 0L) }
  def loadavg: Double = try {
    new String(Files.readAllBytes(new File("/proc/loadavg").toPath), UTF_8).split(" ")(0).toDouble
  } catch { case _: Exception => 0.0 }
  /** peak resident set (VmHWM) in MB */
  def peakRssMb: Double = try {
    Files.readAllLines(new File("/proc/self/status").toPath, UTF_8).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  } catch { case _: Exception => 0.0 }
}

object Runner {
  /** set-up is repeated and its median reported, so one slow round (the
    * first, cold JVM) does not decide `setup_s` */
  val SetupRounds = 3

  /** linear-interpolated percentile of a sorted sample */
  def pct(sorted: IndexedSeq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val x = q * (sorted.size - 1); val i = x.toInt
      if (i + 1 >= sorted.size) sorted.last else sorted(i) + (x - i) * (sorted(i + 1) - sorted(i))
    }

  def run(a: Main.Args): Int = {
    val w = Workloads(a.workload, a.seed, a.tiny, a.state)
    var spark: SparkSession = null
    var tr: Tr = null
    var n = 0L
    var attempted = 0L; var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    val opStats = mutable.ArrayBuffer.empty[Map[String, Double]]
    val setupParts = mutable.ArrayBuffer.empty[Seq[Double]]

    /** one op: untimed input, timed call, untimed check and clean-up;
      * every op, warm-up ones included, counts as attempted. Returns the
      * call's wall ms, its process CPU ms (checks excluded), items and
      * whether the check passed. */
    def runOp(timed: Boolean): (Double, Double, Long, Boolean) = {
      val id = n; n += 1
      val thunk = w.op(id)
      val sc = tr.spark.sparkContext
      if (tr.traced) {
        Trace.op = id
        sc.setLocalProperty(Trace.OpProp, id.toString)
        sc.setJobGroup(s"perfbench-op-$id", s"op $id", interruptOnCancel = false)
      }
      val c0 = Host.workCpuMs
      val t0 = System.nanoTime(); val t0us = Trace.nowUs
      val res = try Right(thunk()) catch { case e: Exception => Left(e.toString) }
      val ms = (System.nanoTime() - t0) / 1e6
      val cpu = Host.workCpuMs - c0
      if (tr.traced) {
        Trace.opSpan(id, s"op.${w.name}", t0us, Trace.nowUs)
        // the check's own Spark jobs are not the op's
        sc.setLocalProperty(Trace.OpProp, null)
        sc.clearJobGroup()
      }
      val err = res.fold(Some(_), d => try d.check(a.inject) catch { case e: Exception => Some(e.toString) })
      if (tr.traced && timed) res.foreach(d => opStats += d.stats())
      tr.release()
      attempted += 1
      err.foreach { e => failed += 1; if (errors.size < 5) errors += s"op $id: $e" }
      (ms, cpu, res.map(_.items).getOrElse(0L), err.isEmpty)
    }

    // set-up rounds: a fresh session, the inputs opened, warm-up ops
    val setupWall = mutable.ArrayBuffer.empty[Double]
    val setups = try (0 until SetupRounds).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime(); val c0 = Host.workCpuMs
      spark = Main.session(a.slots)
      tr = new Tr(spark, a.trace)
      val t1 = System.nanoTime()
      w.open(tr)
      setupParts += Seq(t1 - t0, System.nanoTime() - t1).map(x => math.rint(x / 1e7) / 100)
      (0 until (if (a.tiny) 1 else w.warmupOps)).foreach(_ => runOp(timed = false))
      setupWall += (System.nanoTime() - t0) / 1e9
      (Host.workCpuMs - c0) / 1e3
    } catch {
      case e: Fixtures.Mismatch =>
        System.err.println(s"perfbench: fixture refused: ${e.getMessage}")
        if (spark != null) spark.stop()
        return 3
    }

    val listener = if (a.trace) Some(new Trace.Listener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val firstTimed = n
    val lat = mutable.ArrayBuffer.empty[Double]
    val opCpu = mutable.ArrayBuffer.empty[Double]
    var items = 0L
    // every window starts from a collected heap, so whether an old-generation
    // collection lands inside it does not depend on what set-up left behind
    System.gc()
    val gc0 = Host.gcMs; val jit0 = Host.jitMs; val st0 = Host.stealTotal
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < a.seconds * 1e9 || lat.isEmpty) {
      val (ms, cpu, k, ok) = runOp(timed = true)
      opCpu += cpu
      lat += ms
      if (ok) items += k
      listener.foreach(_.drain(spark.sparkContext, s"perfbench-op-${n - 1}"))
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    val cpuMs = opCpu.sum
    val gcMs = (Host.gcMs - gc0).toDouble; val jitMs = (Host.jitMs - jit0).toDouble
    val st1 = Host.stealTotal
    val stealPct = if (st1._2 > st0._2) 100.0 * (st1._1 - st0._1) / (st1._2 - st0._2) else 0.0
    val load = Host.loadavg
    val sorted = lat.sorted.toIndexedSeq
    val itemsPerS = items / windowS
    val timedOps = (firstTimed until n).toSet

    val host = Seq("jvm.gc_ms" -> gcMs, "jvm.jit_ms_timed" -> jitMs,
      "host.steal_pct" -> stealPct, "host.loadavg" -> load)
    val metrics: Seq[(String, Double, String)] = listener match {
      case None => Seq(
        ("setup_s", pct(setups.sorted, 0.5), "s"),
        ("cpu_ms_per_item", if (items > 0) cpuMs / items else 0.0, "ms"),
        ("peak_rss_mb", Host.peakRssMb, "MB"))
      case Some(l) =>
        val an = new Trace.Analysis(l, timedOps)
        writeTrace(a, w.name, an)
        Layers.metrics(an, timedOps.size, opStats.toSeq, itemsPerS) ++
          host.map { case (k, v) => (k, v, Layers.unit(k)) }
    }

    // wall-time figures: what a user waits for, but on a shared VM they swing
    // with the CPU the hypervisor steals, so they are reported, not gated
    val telemetry = Seq("workload" -> Json.str(w.name), "seed" -> a.seed.toString,
      "items_per_s" -> Json.num(itemsPerS), "op_p50_ms" -> Json.num(pct(sorted, 0.5)),
      "op_p90_ms" -> Json.num(pct(sorted, 0.9)),
      "ops" -> lat.size.toString, "setup_cpu_s" -> setups.map(Json.num).mkString("[", ",", "]"),
      "setup_wall_s" -> setupWall.map(Json.num).mkString("[", ",", "]"),
      "setup_session_open_s" -> setupParts.map(_.map(Json.num).mkString("[", ",", "]")).mkString("[", ",", "]"),
      "window_s" -> Json.num(windowS), "items" -> items.toString,
      "op_ms" -> lat.map(x => Json.num(math.rint(x * 10) / 10)).mkString("[", ",", "]"),
      "op_cpu_ms" -> opCpu.map(x => Json.num(math.rint(x))).mkString("[", ",", "]"),
      "slots" -> a.slots.toString) ++
      host.map { case (k, v) => k -> Json.num(v) } ++
      w.info.toSeq.map { case (k, v) => k -> Json.num(v) } ++
      Seq("errors" -> errors.map(Json.str).mkString("[", ",", "]"))
    println("perfbench telemetry " + Json.obj(telemetry))
    spark.stop()
    w.close()
    val result = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    println(result)
    0
  }

  private def writeTrace(a: Main.Args, name: String, an: Trace.Analysis): Unit = {
    val d = new File(a.state, "traces"); d.mkdirs()
    val base = s"$name-seed${a.seed}"
    val nodes = an.nodes
    Files.write(new File(d, s"$base.trace.json").toPath, Trace.chromeTrace(nodes).getBytes(UTF_8))
    val ops = math.max(1, an.allSpans.count(_.id.startsWith("op")))
    val rows = Trace.selfTimes(nodes).map { case (nm, c, tot, self) =>
      f"$nm%-34s $c%7d ${tot / ops}%12.2f ${self / ops}%12.2f" }
    Files.write(new File(d, s"$base.selftime.txt").toPath,
      (f"${"span"}%-34s ${"count"}%7s ${"ms/op"}%12s ${"self ms/op"}%12s" +: rows)
        .mkString("", "\n", "\n").getBytes(UTF_8))
    System.err.println(s"perfbench: trace written to ${d.getPath}/$base.{trace.json,selftime.txt}")
  }
}

/** The traced run's per-layer metrics, each a mean per timed op unless
  * its name says otherwise. */
object Layers {
  val units: Map[String, String] = Map(
    "codec.decode_frames" -> "count", "codec.decode_ms" -> "ms",
    "codec.encode_frames" -> "count", "codec.encode_ms" -> "ms",
    "codec.bytes_per_frame" -> "B", "codec.psnr_db" -> "dB",
    "store.plan_ms" -> "ms", "store.segments_read" -> "count",
    "store.segments_needed" -> "count", "store.decoded_per_returned" -> "ratio",
    "store.write_ms" -> "ms", "store.write_mb" -> "MB",
    "kernel.calls" -> "count", "kernel.ms" -> "ms",
    "dedup.lsh_ms" -> "ms", "dedup.candidate_pairs" -> "count",
    "dedup.pair_precision" -> "ratio", "dedup.cc_ms" -> "ms", "dedup.cc_rounds" -> "count",
    "dedup.cc_loop" -> "count", "sim.topk_ms" -> "ms", "graph.pagerank_ms" -> "ms",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.task_run_ms" -> "ms", "spark.task_cpu_ms" -> "ms",
    "spark.scheduler_delay_ms" -> "ms", "spark.driver_idle_ms" -> "ms",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_fetch_wait_ms" -> "ms",
    "spark.spill_mb" -> "MB",
    "jvm.gc_ms" -> "ms", "jvm.jit_ms_timed" -> "ms", "host.steal_pct" -> "%",
    "host.loadavg" -> "count", "trace.items_per_s" -> "1/s", "trace.span_coverage_pct" -> "%")
  def unit(k: String): String = units(k)

  def metrics(an: Trace.Analysis, ops: Int, stats: Seq[Map[String, Double]],
      itemsPerS: Double): Seq[(String, Double, String)] = {
    val n = math.max(1, ops).toDouble
    def sum(k: String) = stats.flatMap(_.get(k)).sum
    def mean(k: String) = { val v = stats.flatMap(_.get(k)); if (v.isEmpty) 0.0 else v.sum / v.size }
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val decode = (s: String) => s == "codec.decode"
    val encode = (s: String) => s == "codec.encode"
    val kernel = (s: String) => s.startsWith("kernel.")
    val codecBytes = an.execBytes(decode) + an.execBytes(encode)
    val codecFrames = an.execFrames(decode) + an.execFrames(encode)
    // write-side tasks: everything under the sink calls, minus the codec
    // and kernel time spent inside those same tasks
    val writeTop = Set("client.run", "store.ingest")
    val writeTasks = an.tasksUnder(writeTop)
    val writeExec = writeTasks.flatMap(t => an.execByTask.getOrElse("t" + t.taskId, Nil))
      .map(_.durUs).sum / 1000.0
    val readTasks = an.tasksUnder(Set("store.frames.force", "client.collect"))
    val ccTasks = an.tasksUnder(_.startsWith("dedup.connectedComponents"))
    val ccLoop = if (ccTasks.isEmpty) 0.0
      else if (ccTasks.exists(_.accumulables.contains("ccLocalRounds"))) 1.0 else 2.0
    val tasks = an.tasks.map(_._1)
    val v = Seq(
      "codec.decode_frames" -> an.execFrames(decode) / n,
      "codec.decode_ms" -> an.execMs(decode) / n,
      "codec.encode_frames" -> an.execFrames(encode) / n,
      "codec.encode_ms" -> an.execMs(encode) / n,
      "codec.bytes_per_frame" -> ratio(codecBytes.toDouble, codecFrames.toDouble),
      "codec.psnr_db" -> mean("psnr_db"),
      "store.plan_ms" -> an.driverMs(Set("store.frames", "store.gatherFrames")) / n,
      "store.segments_read" -> readTasks.map(_.recordsRead).sum / n,
      "store.segments_needed" -> an.execCount(decode) / n,
      "store.decoded_per_returned" -> ratio(sum("decoded"), sum("returned")),
      "store.write_ms" -> (writeTasks.map(_.runMs).sum - writeExec) / n,
      "store.write_mb" -> writeTasks.map(_.bytesWritten).sum / 1e6 / n,
      "kernel.calls" -> an.execCount(kernel) / n,
      "kernel.ms" -> an.execMs(kernel) / n,
      "dedup.lsh_ms" -> an.driverMs(_.startsWith("dedup.lshCandidatePairs")) / n,
      "dedup.candidate_pairs" -> sum("candidates") / n,
      "dedup.pair_precision" -> ratio(sum("true_candidates"), sum("candidates")),
      "dedup.cc_ms" -> an.driverMs(_.startsWith("dedup.connectedComponents")) / n,
      "dedup.cc_rounds" -> mean("cc_rounds"),
      "dedup.cc_loop" -> ccLoop,
      "sim.topk_ms" -> an.driverMs(_.startsWith("sim.topKNeighbors")) / n,
      "graph.pagerank_ms" -> an.driverMs(_.startsWith("graph.pageRank")) / n,
      "spark.jobs_per_op" -> an.jobs.size / n,
      "spark.stages_per_op" -> an.stages.size / n,
      "spark.tasks_per_op" -> tasks.size / n,
      "spark.task_run_ms" -> tasks.map(_.runMs).sum / n,
      "spark.task_cpu_ms" -> tasks.map(_.cpuMs).sum / n,
      "spark.scheduler_delay_ms" -> tasks.map(_.schedDelayMs).sum / n,
      "spark.driver_idle_ms" -> an.driverIdleMs / n,
      "spark.shuffle_write_mb" -> tasks.map(_.shuffleWriteB).sum / 1e6 / n,
      "spark.shuffle_fetch_wait_ms" -> tasks.map(_.fetchWaitMs).sum / n,
      "spark.spill_mb" -> tasks.map(_.spillB).sum / 1e6 / n,
      "trace.items_per_s" -> itemsPerS,
      "trace.span_coverage_pct" -> an.coveragePct)
    v.map { case (k, x) => (k, x, units(k)) }
  }
}
