package graft

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Profiler-equivalent of the reference's per-worker timeline profiler
  * (`scanner/engine/master.cpp` profiler dump, `python/scannerpy/profiler.py`)
  * — SURVEY.md §4/Phase 4: Spark's listener bus replaces the hand-rolled
  * trace. Collects per-stage task counts, run times, and shuffle/spill
  * volumes for everything executed inside a `profile { }` block.
  *
  * The Spark UI remains the interactive view; this gives the reference's
  * programmatic `job.profiler()` surface (totals a test can assert on and
  * a pipeline can log at 100 TB without a UI).
  */
object Profiler {

  final case class StageProfile(
      stageId: Int,
      name: String,
      numTasks: Int,
      taskTimeMs: Long,
      maxTaskTimeMs: Long,
      shuffleReadBytes: Long,
      shuffleWriteBytes: Long,
      spillBytes: Long,
      op: String = "(final)",
      submittedMs: Long = 0L,
      completedMs: Long = 0L)

  /** What one profiled block executed.
    *
    * @param jobs            Spark jobs started in the block's job group
    * @param codegenCompiles generated classes compiled while the block ran:
    *   the exact change in Spark's compilation count
    *   (`CodegenMetrics.METRIC_COMPILATION_TIME`), i.e. misses of the
    *   codegen cache. The count is JVM-wide: it includes compiles of any
    *   other work running in this JVM meanwhile and, in local mode, the
    *   executors' own; executors in other JVMs are not counted. 0 on a
    *   re-run means the query's generated classes all stayed cached.
    */
  final case class Profile(stages: Seq[StageProfile],
      byOp: Map[String, Long] = Map.empty,
      jobs: Int = 0,
      codegenCompiles: Long = 0L) {
    def totalTaskTimeMs: Long    = stages.map(_.taskTimeMs).sum
    def totalShuffleRead: Long   = stages.map(_.shuffleReadBytes).sum
    def totalShuffleWrite: Long  = stages.map(_.shuffleWriteBytes).sum
    def numStages: Int           = stages.size
    def render: String =
      f"jobs=$jobs stages=$numStages taskTime=${totalTaskTimeMs}ms " +
        f"shuffleR=$totalShuffleRead shuffleW=$totalShuffleWrite " +
        f"codegenCompiles=$codegenCompiles\n" +
        byOp.toSeq.sortBy(-_._2).map { case (op, ms) =>
          f"  op $op%-24s $ms%7dms" }.mkString("\n") + "\n" +
        stages.sortBy(-_.taskTimeMs).map(s =>
          f"  stage ${s.stageId}%4d ${s.numTasks}%4d tasks ${s.taskTimeMs}%7dms " +
            f"(max ${s.maxTaskTimeMs}ms) shR=${s.shuffleReadBytes} shW=${s.shuffleWriteBytes}" +
            f" spill=${s.spillBytes}  ${s.name.take(60)}").mkString("\n")
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    } + "\""

  /** Write a Chrome trace-event file for a [[Profile]] — the reference's
    * `profiler.write_trace(path)` surface (`python/scannerpy/profiler.py`
    * chrome://tracing dump, `docs/guide/profiling.rst`): one complete
    * ("X") event per stage, grouped onto one trace row (tid) per
    * attributed op, with task/shuffle/spill totals in `args`. Timestamps
    * are stage submission/completion wall-clock, rebased to the earliest
    * stage so the trace starts at t=0. Open in chrome://tracing or
    * https://ui.perfetto.dev.
    */
  def writeTrace(profile: Profile, path: String): Unit = {
    // a StageInfo can lack a submission time (never-started attempt) —
    // such stages have no place on a timeline, drop them rather than
    // emitting epoch-length garbage spans (and guard the empty min)
    val stages = profile.stages.filter(s => s.completedMs > 0 && s.submittedMs > 0)
    val t0 = if (stages.isEmpty) 0L else stages.map(_.submittedMs).min
    val tids = stages.map(_.op).distinct.zipWithIndex.toMap
    val sb = new StringBuilder("[\n")
    val events =
      tids.toSeq.sortBy(_._2).map { case (op, tid) =>
        s"""{"name":"thread_name","ph":"M","pid":0,"tid":$tid,""" +
          s""""args":{"name":${jsonStr(op)}}}"""
      } ++
      stages.map { s =>
        val ts  = math.max(0L, s.submittedMs - t0) * 1000 // chrome wants micros
        val dur = math.max(1L, s.completedMs - s.submittedMs) * 1000
        s"""{"name":${jsonStr(s"stage ${s.stageId}: ${s.name.takeWhile(_ != '\n').take(80)}")},""" +
          s""""cat":"stage","ph":"X","ts":$ts,"dur":$dur,"pid":0,"tid":${tids(s.op)},""" +
          s""""args":{"tasks":${s.numTasks},"taskTimeMs":${s.taskTimeMs},""" +
          s""""shuffleReadBytes":${s.shuffleReadBytes},"shuffleWriteBytes":${s.shuffleWriteBytes},""" +
          s""""spillBytes":${s.spillBytes}}}"""
      }
    sb.append(events.mkString(",\n")).append("\n]\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Generated classes compiled in this JVM so far: every codegen cache
    * miss compiles once and records one compile-time sample. */
  private[graft] def compileCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Run `body` with its Spark jobs labeled as library op `op` — the
    * attribution seam the reference's per-op profiler totals map to
    * (`python/scannerpy/profiler.py` op timelines). Library operators
    * wrap their INTERNAL driver-synchronous actions (a CC round, a
    * k-means iteration, an index build) so [[profile]] can break a
    * query's task time down by the op that spent it; anything not inside
    * an `attributed` block lands in the "(final)" bucket (the composed
    * query's own action). Restores the caller's description on exit, so
    * nesting attributes to the innermost op.
    */
  def attributed[T](spark: SparkSession, op: String)(body: => T): T = {
    val sc    = spark.sparkContext
    val saved = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", s"graft:$op")
    try body
    finally sc.setLocalProperty("spark.job.description", saved)
  }

  /** Run `body`, return (result, profile of the stages it executed).
    * Scoping: the block runs under a unique job group; only stages of jobs
    * in that group are reported, so concurrent work in a shared session
    * stays out of the profile. Metrics are keyed by (stageId, attempt) so
    * a retried stage (fetch failure on a real cluster) reports each
    * attempt separately instead of double-counting combined totals.
    */
  def profile[T](spark: SparkSession)(body: => T): (T, Profile) = {
    type Key = (Int, Int) // (stageId, attemptNumber)
    val taskTime  = mutable.Map.empty[Key, Long].withDefaultValue(0L)
    val taskMax   = mutable.Map.empty[Key, Long].withDefaultValue(0L)
    val taskCount = mutable.Map.empty[Key, Int].withDefaultValue(0)
    val spill     = mutable.Map.empty[Key, Long].withDefaultValue(0L)
    val done      = mutable.LinkedHashMap.empty[Key, SparkListenerStageCompleted]
    val myStages  = mutable.Set.empty[Int]
    var jobs      = 0
    val stageOp   = mutable.Map.empty[Int, String]
    val groupId   = s"graft-profile-${java.util.UUID.randomUUID()}"
    @volatile var lastEventAt = System.nanoTime()
    val listener = new SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        synchronized {
          if (j.properties != null &&
              groupId == j.properties.getProperty("spark.jobGroup.id")) {
            jobs += 1
            myStages ++= j.stageIds
            // stages of a job launched inside Profiler.attributed carry
            // the op label in the job description; everything else is the
            // composed query's own ("final") action
            val desc = j.properties.getProperty("spark.job.description")
            val op = if (desc != null && desc.startsWith("graft:")) desc
                     else "(final)"
            j.stageIds.foreach(sid => stageOp(sid) = op)
          }
          lastEventAt = System.nanoTime()
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
        val key = (t.stageId, t.stageAttemptId)
        val m   = t.taskMetrics
        if (m != null) {
          taskTime(key) += m.executorRunTime
          taskMax(key) = math.max(taskMax(key), m.executorRunTime)
          spill(key) += m.diskBytesSpilled + m.memoryBytesSpilled
        }
        taskCount(key) += 1
        lastEventAt = System.nanoTime()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        synchronized {
          done((s.stageInfo.stageId, s.stageInfo.attemptNumber())) = s
          lastEventAt = System.nanoTime()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    // save the caller's job group so profiling is transparent to e.g.
    // cancellation-by-group; restored (not cleared) on exit
    val savedGroup = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
    val savedDesc  = spark.sparkContext.getLocalProperty("spark.job.description")
    spark.sparkContext.setJobGroup(groupId, "graft profiled block", false)
    try {
      val compiles0 = compileCount
      val result = body
      val compiles = compileCount - compiles0
      // the listener bus is async (and not public API): wait until it has
      // been quiet for 300 ms, capped at 10 s
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (System.nanoTime() - lastEventAt < 300L * 1000 * 1000 &&
             System.nanoTime() < deadline) Thread.sleep(50)
      val (stages, byOp, nJobs) = listener.synchronized {
        val st = done.collect { case (key @ (sid, _), s) if myStages.contains(sid) =>
          StageProfile(
            sid, s.stageInfo.name, taskCount(key), taskTime(key), taskMax(key),
            s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead,
            s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten,
            spill(key),
            op = stageOp.getOrElse(sid, "(final)"),
            submittedMs = s.stageInfo.submissionTime.getOrElse(0L),
            completedMs = s.stageInfo.completionTime.getOrElse(0L))
        }.toSeq
        val ops = st.groupBy(p => stageOp.getOrElse(p.stageId, "(final)"))
          .map { case (op, ss) => op -> ss.map(_.taskTimeMs).sum }
        (st, ops, jobs)
      }
      (result, Profile(stages, byOp, nJobs, compiles))
    } finally {
      if (savedGroup != null) spark.sparkContext.setJobGroup(savedGroup,
        if (savedDesc != null) savedDesc else "", false)
      else spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
