package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(GraftSession.envCpus.toString, "graft-verify")
    dump(spark, sfDir, outDir, SparkEntry.queries.keys.toSeq)
    spark.stop()
  }

  /** Write each named query's result under `outDir/<name>`, the matching
    * subset of oracle SQL as `outDir/oracle_sql.json`, and every query
    * that threw as `outDir/failed.json` (name -> message) — shared by the
    * full driver gate above and the dev-loop [[graft.tools.RunQuery]] so
    * the dump format and JSON escaping can never drift between them.
    * Each result directory is deleted before its query runs, so a stale
    * result from an earlier run never stands in for a failed query.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    names.foreach { name =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$outDir/$name"))
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = String.valueOf(e.getMessage)
      }
      CacheScope.release() // scope library-op caches to the query
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def json(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      json(SparkEntry.oracleSql.filter(kv => names.contains(kv._1))))
    Files.writeString(Paths.get(s"$outDir/failed.json"), json(failed))
  }
}
