package graft

import org.apache.spark.sql.SparkSession

/** Standard session factory: one place for the configs every entry point
  * (Verify, Bench, Smoke, tests) must share.
  *
  * - `nanosAsLong`: the driver-generated `events.parquet` stores
  *   TIMESTAMP(NANOS), which Spark 4 rejects unless read as long (nanos).
  * - shuffle partitions sized to local cores (not the 200 default), AQE on
  *   so the 100 TB plan shape (skew-join, partition coalescing) is what we
  *   test locally.
  * - Kryo for RDD shuffle/cache serialization: DataFrame paths are
  *   Tungsten either way, but the connected-components label loop shuffles
  *   RDD[(Long, Long)] every round — JavaSerializer there costs ~10x the
  *   bytes-on-wire CPU and dominates old-gen churn (the bt_1m_cc GC/CPU
  *   swings); Kryo writes the pair as two varints.
  * - Kryo reference tracking is off: it is per-record bookkeeping that the
  *   library's RDD loops (primitive tuples, acyclic broadcasts) never need
  *   (measured on bt_1m_cc). This is a contract for the WHOLE session, not
  *   only for graft's own loops — every shuffled RDD record, serialized
  *   cache block and broadcast goes through the same serializer, user jobs
  *   included. Records must be acyclic: a cyclic object graph overflows
  *   the stack of the task that serializes it, a fatal error on which
  *   Spark ends the executor — in local mode, the whole JVM. An object
  *   reachable twice from one record is written twice, so the reader gets
  *   two copies, and a mutation through one copy is not seen through the
  *   other.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS` as the core count every main passes to [[local]];
    * defaults to this host's available processors and fails fast, naming
    * the variable, on a non-integer or non-positive value.
    */
  def envCpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(v: Option[String]): Int = v match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(s) => s.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  /** Size of Spark's JVM-wide cache of compiled generated classes. It is
    * a static SQL conf; the cache is sized once, at the JVM's first
    * generated class, from the session active then. One corpus_dedup op
    * (LSH pairs, connected components, TF-IDF top-k, PageRank) generates
    * about 154 distinct classes, more than Spark's default of 100: the LRU
    * then evicts each op's classes before the next op, and every op
    * recompiles ~141 of them in Janino, ~26% of its CPU. At 1000 a
    * repeated op reuses them all, and Metaspace stays at ~148 MB either
    * way. `Profiler.Profile.codegenCompiles` shows whether a query's
    * classes still miss the cache.
    */
  private val CodegenCacheEntries = 1000

  /** Session confs that keep generated code cacheable across queries.
    * Whole-stage classes are named without their codegen stage id: AQE
    * numbers a query's stages in the order they are planned, which varies
    * from run to run, and an id in the class name made an unchanged
    * pipeline a new class (a cache miss) whenever its number moved.
    * Without the id, identical pipelines in different stages also share
    * one class: the dedup chain of DedupSpec compiles 128 classes on its
    * first run instead of 156.
    */
  private val codegenConfs = Map(
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.sql.codegen.useIdInClassName" -> "false")

  /** The confs of every session, [[local]] and [[localCluster]] alike, so
    * a multi-JVM run serializes and plans exactly as the specs and the
    * benches do.
    */
  private def sessionConfs(shufflePartitions: String): Map[String, String] =
    codegenConfs ++ Map(
      "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer",
      "spark.kryo.referenceTracking" -> "false",
      "spark.sql.shuffle.partitions" -> shufflePartitions,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** `maxTaskFailures > 1` enables task retries in local mode
    * (`local[N,F]`), matching cluster behavior where a task attempt can
    * fail and be re-run — required by the fault-tolerance specs.
    */
  def local(cores: String, appName: String = "graft", maxTaskFailures: Int = 1): SparkSession = {
    val master =
      if (maxTaskFailures > 1) s"local[$cores,$maxTaskFailures]" else s"local[$cores]"
    val s = SparkSession.builder()
      .master(master)
      .withExtensions(graft.plans.GraftExtensions)
      .appName(appName)
      .config(sessionConfs(cores))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** REAL multi-executor session: `local-cluster[workers, cores, memMb]`
    * spawns separate executor JVMs (Spark's standalone master/worker in
    * miniature), so closure/kernel serialization, broadcasts, shuffle
    * files, and block fetches all cross process boundaries exactly as on
    * a cluster — the execution-model evidence `local[N]` cannot give.
    * The executor classpath mirrors the driver's (same machine), which is
    * how our compiled classes reach the worker JVMs without packaging a
    * jar per run.
    */
  def localCluster(workers: Int, cores: Int, memMb: Int,
      appName: String = "graft-cluster",
      extraConfs: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local-cluster[$workers,$cores,$memMb]")
      .withExtensions(graft.plans.GraftExtensions)
      .appName(appName)
      .config(sessionConfs((workers * cores).toString))
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
    extraConfs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Nanosecond-long → microsecond timestamp, for tables read with
    * nanosAsLong (events.ts).
    */
  def nanosToTimestamp(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    timestamp_micros((c / 1000L).cast("long"))
  }

  /** Normalize an event table's `ts` column to epoch NANOSECONDS as LONG,
    * whatever physical encoding the parquet writer chose. The driver's
    * testdata has shipped `events.ts` as parquet TIMESTAMP(NANOS) (which
    * `nanosAsLong` surfaces as a nano-long), as TIMESTAMP(MICROS)
    * adjusted-to-UTC (Spark `TimestampType`), and as TIMESTAMP(MICROS)
    * NTZ (`TimestampNTZType`) across regenerations; all engine event-time
    * arithmetic (session gaps, hourly buckets, calendar fns) is written
    * against nano-longs, so every events reader funnels through here.
    *
    * NTZ wall-clock is interpreted as UTC: the session timezone is pinned
    * to UTC in [[local]]/[[localCluster]], so `cast(ts as timestamp)` is a
    * pure relabel, and `unix_micros` then yields the same epoch the DuckDB
    * oracle's `epoch_ns(ts)` computes on the naive value.
    */
  def tsToNanos(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType => df // TIMESTAMP(NANOS) parquet read via nanosAsLong
      case TimestampType | TimestampNTZType =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other =>
        throw new IllegalArgumentException(
          s"events.ts: expected long/timestamp/timestamp_ntz, got $other")
    }
  }
}
