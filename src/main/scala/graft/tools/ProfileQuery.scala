package graft.tools

import graft.{CacheScope, GraftSession, Profiler, SparkEntry}

/** Stage-level profile of one named query at a given SF dir: warmup run,
  * then a profiled run printing its jobs, codegen compiles, per-stage
  * task time / shuffle volume and the per-op attribution — the drill-down
  * for any bench row whose telemetry looks off. After the warmup, a
  * nonzero compile count means the query's generated classes did not
  * stay in the codegen cache (or its plan changed between the runs).
  *
  * {{{ sbt "runMain graft.tools.ProfileQuery <sfDir> <query>" }}}
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, name) = args.take(2)
    val spark = GraftSession.local(
      GraftSession.envCpus.toString, "graft-profile")
    // bt_* stress rows are profile-able too — they are where the scale
    // questions live
    val fn = SparkEntry.queries.getOrElse(name, graft.Bench.benchTargets(name))
    def run(): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    run(); CacheScope.release(blocking = true); System.gc() // warmup
    val (_, prof) = Profiler.profile(spark) { run() }
    CacheScope.release()
    println(prof.render)
    // chrome://tracing / ui.perfetto.dev timeline of the profiled run —
    // the reference's profiler.write_trace(path) surface
    val trace = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft-trace-$name.json").toString
    Profiler.writeTrace(prof, trace)
    println(s"trace: $trace")
    spark.stop()
  }
}
