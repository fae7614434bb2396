package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}

/** Dump `.explain("formatted")` for named queries to files — the
  * before/after plan evidence an optimization round commits under
  * plans/r{N}/ (one `<query>_<tag>.txt` per query).
  *
  * {{{ sbt "runMain graft.tools.ExplainDump <sfDir> <outDir> <tag> <q1> [q2 ...]" }}}
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: ExplainDump <sfDir> <outDir> <tag> <query> [query ...]")
    val Array(sfDir, outDir, tag) = args.take(3)
    val names = args.drop(3).toSeq
    val all = SparkEntry.queries ++ graft.Bench.benchTargets
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    Files.createDirectories(Paths.get(outDir))
    val spark = GraftSession.local(
      GraftSession.envCpus.toString, "graft-explain")
    names.foreach { name =>
      val df = all(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${name}_$tag.txt"), plan.getBytes(UTF_8))
      println(s"[explain] wrote $outDir/${name}_$tag.txt")
      graft.CacheScope.release()
    }
    spark.stop()
  }
}
