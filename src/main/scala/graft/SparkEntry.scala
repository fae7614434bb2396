package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (+ the
    * training-data-pipeline extensions). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.SeqQueries.queries ++
      graft.queries.RelQueries.queries ++
      graft.queries.TextQueries.queries ++
      graft.queries.SimQueries.queries ++
      graft.queries.VideoQueries.queries ++
      graft.queries.ImageQueries.queries ++
      graft.queries.AudioQueries.queries ++
      graft.queries.FileSourceQueries.queries ++
      graft.queries.StreamQueries.queries ++
      graft.queries.ProcQueries.queries ++
      graft.queries.GraphQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.SeqQueries.oracles ++
      graft.queries.RelQueries.oracles ++
      graft.queries.TextQueries.oracles ++
      graft.queries.SimQueries.oracles ++
      graft.queries.VideoQueries.oracles ++
      graft.queries.ImageQueries.oracles ++
      graft.queries.AudioQueries.oracles ++
      graft.queries.FileSourceQueries.oracles ++
      graft.queries.StreamQueries.oracles ++
      graft.queries.ProcQueries.oracles ++
      graft.queries.GraphQueries.oracles
}
