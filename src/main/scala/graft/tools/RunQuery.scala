package graft.tools

import graft.{GraftSession, SparkEntry, Verify}

/** Dev-loop single-query runner: Verify's dump (parquet + oracle_sql.json)
  * restricted to the named queries, so `tools/check_oracle.py` can gate one
  * new query in seconds instead of re-running the whole suite.
  *
  * {{{ sbt "runMain graft.tools.RunQuery <sfDir> <outDir> <q1> [q2 ...]" }}}
  */
object RunQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: RunQuery <sfDir> <outDir> <query> [query ...]")
    val sfDir  = args(0)
    val outDir = args(1)
    val names  = args.drop(2).toSeq
    // bt_* stress rows dump too (rows-only — they carry no oracle)
    val all = SparkEntry.queries ++ graft.Bench.benchTargets
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession.local(GraftSession.envCpus.toString, "graft-runquery")
    val (qNames, btNames) = names.partition(SparkEntry.queries.contains)
    btNames.foreach { name =>
      all(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      graft.CacheScope.release()
    }
    Verify.dump(spark, sfDir, outDir, qNames)
    spark.stop()
  }
}
