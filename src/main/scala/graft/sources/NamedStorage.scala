package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.CommandResult
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ResultQueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.types.StructType
import java.nio.charset.StandardCharsets.UTF_8

import graft.model.{CacheMode, StreamDescriptor}

/** Named-stream storage: the rebuild of the reference's table/column store
  * (`NamedStorage`/`NamedVideoStorage`, `python/scannerpy/storage.py:187-248`;
  * `TableDescriptor`, `scanner/metadata.proto:120-128`).
  *
  * Layout under a root directory (any Hadoop filesystem — posix, HDFS, s3a,
  * gcs — which is how the reference gets S3/GCS via storehouse):
  *
  * {{{
  *   <root>/<name>/data/            parquet files (the column data)
  *   <root>/<name>/descriptor.json  StreamDescriptor, written LAST
  * }}}
  *
  * Commit semantics (reference "committed" flag, `metadata.proto:127`,
  * `python/scannerpy/storage.py:150-158`): the descriptor is written only
  * after the parquet write succeeds, so a crash mid-write leaves a stream
  * that `committed()` reports false and `read` refuses — the same
  * append-once/atomic-visibility contract as the reference, without a
  * metastore dependency.
  */
object NamedStorage {

  final class UncommittedStreamException(name: String)
    extends RuntimeException(s"stream '$name' exists but is not committed")
  final class StreamExistsException(name: String)
    extends RuntimeException(s"stream '$name' already exists (CacheMode.Error)")

  private def dir(root: String, name: String)  = new Path(root, name)
  private[sources] def dataDir(root: String, name: String) = new Path(dir(root, name), "data")
  private def descPath(root: String, name: String) = new Path(dir(root, name), "descriptor.json")

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** minimal JSON codec for StreamDescriptor — no library dependencies */
  private[graft] def toJson(d: StreamDescriptor): String = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    s"""{"name":${q(d.name)},"committed":${d.committed},""" +
      s""""columns":[${d.columns.map(q).mkString(",")}],"rows":${d.rows}""" +
      d.location.map(l => s""","location":${q(l)}""").getOrElse("") + "}"
  }

  private[graft] def fromJson(s: String): StreamDescriptor = {
    def str(k: String) =
      s""""$k"\\s*:\\s*"((?:[^"\\\\]|\\\\.)*)"""".r.findFirstMatchIn(s)
        .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
        .getOrElse(sys.error(s"missing $k in descriptor: $s"))
    def lng(k: String) =
      s""""$k"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
        .getOrElse(sys.error(s"missing $k in descriptor: $s"))
    def bool(k: String) =
      s""""$k"\\s*:\\s*(true|false)""".r.findFirstMatchIn(s).map(_.group(1).toBoolean)
        .getOrElse(sys.error(s"missing $k in descriptor: $s"))
    val cols = """"columns"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(s)
      .map(_.group(1)).getOrElse(sys.error(s"missing columns in: $s"))
    val colList =
      if (cols.trim.isEmpty) Seq.empty[String]
      else """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(cols).map(_.group(1)).toSeq
    val location =
      s""""location"\\s*:\\s*"((?:[^"\\\\]|\\\\.)*)"""".r.findFirstMatchIn(s)
        .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
    StreamDescriptor(str("name"), bool("committed"), colList, lng("rows"), location)
  }

  def exists(spark: SparkSession, root: String, name: String): Boolean = {
    val p = dir(root, name)
    fs(spark, p).exists(p)
  }

  def committed(spark: SparkSession, root: String, name: String): Boolean = {
    val p = descPath(root, name)
    val f = fs(spark, p)
    f.exists(p) && descriptor(spark, root, name).committed
  }

  def descriptor(spark: SparkSession, root: String, name: String): StreamDescriptor = {
    val p = descPath(root, name)
    val f = fs(spark, p)
    // size from the file status, then readFully: available()/single read()
    // may return 0 or partial counts on non-posix Hadoop filesystems
    val size  = f.getFileStatus(p).getLen.toInt
    val bytes = new Array[Byte](size)
    val in    = f.open(p)
    try in.readFully(0L, bytes) finally in.close()
    fromJson(new String(bytes, UTF_8))
  }

  /** reference `len()` (`storage.py:170-173`) without scanning data */
  def len(spark: SparkSession, root: String, name: String): Long =
    descriptor(spark, root, name).rows

  def delete(spark: SparkSession, root: String, name: String): Unit = {
    val p = dir(root, name)
    fs(spark, p).delete(p, true)
    ()
  }

  /** Write a DataFrame as a committed named stream. `options` pass through
    * to the parquet writer (e.g. "compression" -> zstd — the storage-codec
    * half of the reference's per-column compression hints,
    * `python/scannerpy/op.py:57-102`).
    */
  def write(df: DataFrame, root: String, name: String,
      mode: CacheMode = CacheMode.Error,
      options: Map[String, String] = Map.empty): StreamDescriptor = {
    val spark = df.sparkSession
    mode match {
      case CacheMode.Error if exists(spark, root, name) =>
        throw new StreamExistsException(name)
      case CacheMode.Ignore if committed(spark, root, name) =>
        return descriptor(spark, root, name)
      case _ => ()
    }
    delete(spark, root, name)

    // the write command's own `numOutputRows` is the row count: its stats
    // tracker sums one result per COMMITTED task, so a retried task counts
    // once, and no re-read of the written parquet is needed
    val write = DataSource(spark, "parquet",
        options = options + ("path" -> dataDir(root, name).toString))
      .planForWriting(SaveMode.Overwrite, df.queryExecution.analyzed)
    val qe = spark.sessionState.executePlan(write)
    qe.assertCommandExecuted()
    // adaptive execution wraps the write command in its final result stage
    def writeExec(p: SparkPlan): DataWritingCommandExec = p match {
      case a: AdaptiveSparkPlanExec => writeExec(a.executedPlan)
      case r: ResultQueryStageExec  => writeExec(r.plan)
      case w: DataWritingCommandExec => w
    }
    val rows = writeExec(qe.commandExecuted.asInstanceOf[CommandResult].commandPhysicalPlan)
      .metrics("numOutputRows").value

    val d = StreamDescriptor(name, committed = true, df.columns.toSeq, rows)
    val p = descPath(root, name)
    val out = fs(spark, p).create(p, true)
    try out.write(toJson(d).getBytes(UTF_8)) finally out.close()
    d
  }

  /** Read a committed named stream; refuses uncommitted remains. Inplace
    * streams read from their external `location`.
    */
  def read(spark: SparkSession, root: String, name: String): DataFrame =
    read(spark, root, name, None)

  /** `schema`, when the caller knows it, replaces parquet schema inference
    * (a footer-merging job per read)
    */
  private[graft] def read(spark: SparkSession, root: String, name: String,
      schema: Option[StructType]): DataFrame = {
    if (!committed(spark, root, name)) throw new UncommittedStreamException(name)
    val d = descriptor(spark, root, name)
    schema.fold(spark.read)(spark.read.schema)
      .parquet(d.location.getOrElse(dataDir(root, name).toString))
  }

  /** Inplace registration — the reference's inplace ingest
    * (`ingest.cpp:382-546`): index existing data as a committed stream
    * WITHOUT copying it. Only the descriptor is written; `delete` on the
    * stream later removes the registration, never the external data.
    */
  def registerInplace(spark: SparkSession, root: String, name: String,
      dataPath: String, mode: CacheMode = CacheMode.Error): StreamDescriptor = {
    mode match {
      case CacheMode.Error if exists(spark, root, name) =>
        throw new StreamExistsException(name)
      case CacheMode.Ignore if committed(spark, root, name) =>
        return descriptor(spark, root, name)
      case _ => ()
    }
    delete(spark, root, name)
    val df   = spark.read.parquet(dataPath) // validates readability + schema
    val rows = df.count()                   // parquet-footer metadata count
    val d = StreamDescriptor(name, committed = true, df.columns.toSeq, rows, Some(dataPath))
    val p = descPath(root, name)
    val out = fs(spark, p).create(p, true)
    try out.write(toJson(d).getBytes(UTF_8)) finally out.close()
    d
  }

  /** reference `Column.load(rows)` (`python/scannerpy/column.py:214-281`):
    * ordered client-side retrieval, optionally of selected indices only.
    * The row filter is pushed to the parquet scan; ordering happens on the
    * (small) collected slice, never as a cluster-wide sort.
    */
  def load(spark: SparkSession, root: String, name: String,
      rows: Option[Seq[Long]] = None): Iterator[org.apache.spark.sql.Row] = {
    val df = read(spark, root, name)
    val filtered = rows match {
      case Some(rs) => df.filter(org.apache.spark.sql.functions.col("index").isin(rs: _*))
      case None     => df
    }
    import scala.jdk.CollectionConverters._
    filtered.orderBy("streamId", "index").toLocalIterator().asScala
  }
}
