package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler._
import org.apache.spark.util.LongAccumulator

import graft.model.FrameElem
import graft.sources.GopCodec

/** The traced run's in-memory span recorder. Spans are recorded at the
  * benchmark's calls into each layer: driver-side around every public
  * graft call, executor-side inside the codec and kernel wrappers, and
  * Spark jobs, stages and tasks from a listener. All spans of one op share
  * its op id, which reaches executor code through a Spark local property.
  * Nothing here is installed in untraced runs.
  */
object Trace {
  val OpProp   = "perfbench.op"
  val SpanProp = "perfbench.span"

  /** `parent` is a span id: "op<n>" op, "d<n>" driver call, "t<attempt>" task */
  final case class Span(name: String, id: String, parent: String, op: Long,
      startUs: Long, endUs: Long, thread: String, frames: Long = 0, bytes: Long = 0) {
    def durUs: Long = endUs - startUs
  }

  val spans = new ConcurrentLinkedQueue[Span]()
  private val seq = new AtomicLong()
  private val originNs = System.nanoTime()
  private val originUs = System.currentTimeMillis() * 1000L
  /** epoch microseconds on the monotonic clock, comparable with Spark's
    * millisecond event times */
  def nowUs: Long = originUs + (System.nanoTime() - originNs) / 1000L

  @volatile var op: Long = -1L
  private val stack = new ThreadLocal[List[String]] { override def initialValue() = Nil }

  def opSpan(n: Long, name: String, startUs: Long, endUs: Long): Unit =
    spans.add(Span(name, s"op$n", "", n, startUs, endUs, "driver"))

  /** time a driver-side call; Spark jobs it starts point back at it */
  def driver[T](sc: SparkContext, name: String)(body: => T): T = {
    val id = "d" + seq.incrementAndGet()
    val outer = stack.get
    val parent = outer.headOption.getOrElse(s"op$op")
    stack.set(id :: outer)
    val saved = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id)
    val t0 = nowUs
    try body
    finally {
      val t1 = nowUs
      sc.setLocalProperty(SpanProp, saved)
      stack.set(outer)
      spans.add(Span(name, id, parent, op, t0, t1, "driver"))
    }
  }

  /** time executor-side work inside the current task of a traced op */
  def exec[T](name: String, frames: T => Long, bytes: T => Long)(body: => T): T = {
    val tc = TaskContext.get()
    val opId = if (tc == null) null else tc.getLocalProperty(OpProp)
    if (opId == null) body
    else {
      val t0 = nowUs
      val out = body
      val t1 = nowUs
      spans.add(Span(name, "e" + seq.incrementAndGet(), "t" + tc.taskAttemptId(),
        opId.toLong, t0, t1, s"executor thread ${Thread.currentThread().getId}", frames(out), bytes(out)))
      out
    }
  }

  /** A [[GopCodec]] that times each call. It forwards `cpuBoundDecode`,
    * so `VideoStore.frames` plans the same decode parallelism as with the
    * bare codec. Decoded frames are materialised inside the span so the
    * span covers the whole decode, colour conversion included.
    */
  final class TracedCodec(inner: GopCodec) extends GopCodec {
    override def cpuBoundDecode: Boolean = inner.cpuBoundDecode
    override def encodeGop(frames: Seq[FrameElem]): Array[Byte] =
      exec[Array[Byte]]("codec.encode", _ => frames.size.toLong, _.length.toLong)(
        inner.encodeGop(frames))
    override def decodeGop(payload: Array[Byte], streamId: Long, startIndex: Long,
        upTo: Int, decoded: Option[LongAccumulator]): Iterator[FrameElem] =
      exec[Array[FrameElem]]("codec.decode", _.length.toLong, _ => payload.length.toLong)(
        inner.decodeGop(payload, streamId, startIndex, upTo, decoded).toArray).iterator
  }

  // ------------------------------------------------------- Spark listener

  final case class JobRec(jobId: Int, op: Long, span: String, startUs: Long,
      var endUs: Long = -1L)
  final case class StageRec(stageId: Int, attempt: Int, startUs: Long, endUs: Long, tasks: Int)
  final case class TaskRec(taskId: Long, stageId: Int, launchUs: Long, finishUs: Long,
      runMs: Long, cpuMs: Double, schedDelayMs: Long, shuffleWriteB: Long,
      fetchWaitMs: Long, spillB: Long, recordsRead: Long, bytesWritten: Long,
      accumulables: Seq[String])

  /** Records jobs, stages and tasks of traced ops. Reads only public
    * listener events; per-op counts are read after [[drain]]. */
  final class Listener extends SparkListener {
    val jobs   = new ConcurrentHashMap[Int, JobRec]()
    val stageJob = new ConcurrentHashMap[Int, Int]()
    val stages = new ConcurrentLinkedQueue[StageRec]()
    val tasks  = new ConcurrentLinkedQueue[TaskRec]()

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val p = j.properties
      def prop(k: String) = if (p == null) null else p.getProperty(k)
      val op = Option(prop(OpProp)).map(_.toLong).getOrElse(-1L)
      jobs.put(j.jobId, JobRec(j.jobId, op, Option(prop(SpanProp)).getOrElse(""), j.time * 1000L))
      j.stageIds.foreach(s => stageJob.putIfAbsent(s, j.jobId))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobs.get(j.jobId)).foreach(_.endUs = j.time * 1000L)
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      stages.add(StageRec(i.stageId, i.attemptNumber(),
        i.submissionTime.getOrElse(0L) * 1000L, i.completionTime.getOrElse(0L) * 1000L,
        i.numTasks))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics; val i = t.taskInfo
      if (m != null) {
        val wall = i.finishTime - i.launchTime
        val sched = math.max(0L, wall - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - i.gettingResultTime)
        tasks.add(TaskRec(i.taskId, t.stageId, i.launchTime * 1000L, i.finishTime * 1000L,
          m.executorRunTime, m.executorCpuTime / 1e6, sched,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.fetchWaitTime,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, i.accumulables.flatMap(_.name).toSeq))
      }
    }

    /** Wait until the listener has seen the end of every job the group
      * started. The bus delivers a job's task ends before its job end, so
      * after this the op's task records are complete. */
    def drain(sc: SparkContext, group: String, capMs: Long = 10000L): Boolean = {
      val ids = sc.statusTracker.getJobIdsForGroup(group)
      val deadline = System.nanoTime() + capMs * 1000000L
      def done = ids.forall(id => Option(jobs.get(id)).exists(_.endUs >= 0))
      while (!done && System.nanoTime() < deadline) Thread.sleep(1)
      done
    }
  }

  // ------------------------------------------------------------- analysis

  private def unionUs(ivs: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** every span of the run, Spark's included, as one uniform list */
  final case class Node(name: String, id: String, parent: String, op: Long,
      startUs: Long, endUs: Long, lane: String, args: Map[String, Double])

  /** The per-op view: spans, jobs and tasks of each traced op. */
  final class Analysis(l: Listener, ops: Set[Long]) {
    val allSpans: Seq[Span] = spans.asScala.toSeq.filter(s => ops.contains(s.op))
    val jobs: Seq[JobRec] = l.jobs.values.asScala.toSeq.filter(j => ops.contains(j.op))
    private val jobOf: Map[Int, JobRec] = jobs.map(j => j.jobId -> j).toMap
    private def jobOfStage(s: Int): Option[JobRec] =
      Option(l.stageJob.get(s)).flatMap(j => jobOf.get(j))
    val tasks: Seq[(TaskRec, JobRec)] =
      l.tasks.asScala.toSeq.flatMap(t => jobOfStage(t.stageId).map(t -> _))
    val stages: Seq[(StageRec, JobRec)] =
      l.stages.asScala.toSeq.flatMap(s => jobOfStage(s.stageId).map(s -> _))
    val execByTask: Map[String, Seq[Span]] =
      allSpans.filter(_.parent.startsWith("t")).groupBy(_.parent)
    private val spanName: Map[String, String] = allSpans.map(s => s.id -> s.name).toMap
    /** the top-level driver span (a direct child of the op) above span `id` */
    private val parentOf: Map[String, String] = allSpans.map(s => s.id -> s.parent).toMap
    def topName(id: String): String = {
      var cur = id
      while (parentOf.get(cur).exists(!_.startsWith("op"))) cur = parentOf(cur)
      spanName.getOrElse(cur, "")
    }

    def execMs(names: String => Boolean): Double =
      allSpans.filter(s => s.parent.startsWith("t") && names(s.name)).map(_.durUs).sum / 1000.0
    def execCount(names: String => Boolean): Long =
      allSpans.count(s => s.parent.startsWith("t") && names(s.name)).toLong
    def execFrames(names: String => Boolean): Long =
      allSpans.filter(s => s.parent.startsWith("t") && names(s.name)).map(_.frames).sum
    def execBytes(names: String => Boolean): Long =
      allSpans.filter(s => s.parent.startsWith("t") && names(s.name)).map(_.bytes).sum
    def driverMs(names: String => Boolean): Double =
      allSpans.filter(s => s.id.startsWith("d") && names(s.name)).map(_.durUs).sum / 1000.0
    /** tasks of jobs started under a top-level driver span matching `names` */
    def tasksUnder(names: String => Boolean): Seq[TaskRec] =
      tasks.collect { case (t, j) if names(topName(j.span)) => t }

    /** op wall time with no Spark job running, summed over ops */
    def driverIdleMs: Double = allSpans.filter(_.id.startsWith("op")).map { o =>
      val js = jobs.filter(_.op == o.op).map(j => (j.startUs, if (j.endUs < 0) o.endUs else j.endUs))
      (o.durUs - unionUs(js, o.startUs, o.endUs)) / 1000.0
    }.sum

    /** share of op wall time covered by the op's top-level named spans */
    def coveragePct: Double = {
      val opsS = allSpans.filter(_.id.startsWith("op"))
      val wall = opsS.map(_.durUs).sum
      val covered = opsS.map { o =>
        unionUs(allSpans.filter(_.parent == o.id).map(s => (s.startUs, s.endUs)), o.startUs, o.endUs)
      }.sum
      if (wall == 0) 0.0 else 100.0 * covered / wall
    }

    /** all spans, Spark's included, for the Chrome trace and self times */
    def nodes: Seq[Node] = {
      val d = allSpans.map(s => Node(s.name, s.id, s.parent, s.op, s.startUs, s.endUs,
        if (s.parent.startsWith("t")) s.thread else "driver",
        Map("frames" -> s.frames.toDouble, "bytes" -> s.bytes.toDouble)))
      val j = jobs.map(j => Node("spark.job", s"j${j.jobId}", j.span, j.op, j.startUs,
        math.max(j.startUs, j.endUs), "spark.jobs", Map.empty))
      val st = stages.map { case (s, j) => Node(s"spark.stage", s"s${s.stageId}.${s.attempt}",
        s"j${j.jobId}", j.op, s.startUs, s.endUs, "spark.stages",
        Map("tasks" -> s.tasks.toDouble)) }
      val stageKey = stages.map { case (s, _) => s.stageId -> s"s${s.stageId}.${s.attempt}" }.toMap
      val tk = tasks.map { case (t, j) => Node("spark.task", s"t${t.taskId}",
        stageKey.getOrElse(t.stageId, s"j${j.jobId}"), j.op, t.launchUs, t.finishUs,
        "spark.tasks", Map("runMs" -> t.runMs.toDouble, "cpuMs" -> t.cpuMs)) }
      d ++ j ++ st ++ tk
    }
  }

  /** self time = duration minus the part of it that child spans cover */
  def selfTimes(nodes: Seq[Node]): Seq[(String, Int, Double, Double)] = {
    val kids = nodes.groupBy(_.parent)
    nodes.groupBy(_.name).toSeq.map { case (name, ns) =>
      val total = ns.map(n => n.endUs - n.startUs).sum
      val self = ns.map { n =>
        val ch = kids.getOrElse(n.id, Nil).map(c => (c.startUs, c.endUs))
        (n.endUs - n.startUs) - unionUs(ch, n.startUs, n.endUs)
      }.sum
      (name, ns.size, total / 1000.0, self / 1000.0)
    }.sortBy(-_._4)
  }

  /** Chrome trace-event JSON: one row per driver thread, Spark lane and
    * executor thread; open in chrome://tracing or ui.perfetto.dev */
  def chromeTrace(nodes: Seq[Node]): String = {
    val t0 = if (nodes.isEmpty) 0L else nodes.map(_.startUs).min
    // tasks overlap on one lane; give each a free row so none hide another
    val rows = mutable.ArrayBuffer.empty[Long]
    val taskRow = nodes.filter(_.lane == "spark.tasks").sortBy(_.startUs).map { n =>
      val free = rows.indexWhere(_ <= n.startUs)
      val r = if (free >= 0) free else { rows += 0L; rows.size - 1 }
      rows(r) = n.endUs
      n.id -> r
    }.toMap
    val lanes = nodes.map(_.lane).distinct.sorted.zipWithIndex.toMap
    val ev = nodes.map { n =>
      val tid = if (n.lane == "spark.tasks") 1000 + taskRow(n.id) else lanes(n.lane)
      val args = (Seq("op" -> n.op.toString, "parent" -> Json.str(n.parent)) ++
        n.args.toSeq.map { case (k, v) => k -> Json.num(v) })
        .map { case (k, v) => s"${Json.str(k)}:$v" }.mkString(",")
      s"""{"name":${Json.str(n.name)},"ph":"X","pid":1,"tid":$tid,""" +
        s""""ts":${n.startUs - t0},"dur":${math.max(1L, n.endUs - n.startUs)},"args":{$args}}"""
    }
    val meta = lanes.toSeq.map { case (l, tid) =>
      s"""{"name":"thread_name","ph":"M","pid":1,"tid":$tid,"args":{"name":${Json.str(l)}}}"""
    } ++ taskRow.values.toSeq.distinct.sorted.map(r =>
      s"""{"name":"thread_name","ph":"M","pid":1,"tid":${1000 + r},"args":{"name":"spark task slot $r"}}""")
    (meta ++ ev).mkString("[\n", ",\n", "\n]\n")
  }
}
