package graft.sources

import java.io.Closeable

import scala.reflect.ClassTag
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** The one file-fleet reader behind every directory source (WARC, tar
  * shards, MP4 and H.264 ingest) — the reference's one-ingest-job-per-file
  * shape (`scanner/engine/ingest.cpp:175-380`) over any Hadoop filesystem.
  * It owns the four decisions each source used to make on its own:
  *
  *  - listing: the files directly under the directory whose names end
  *    with one of the extensions, sorted; none is an error naming both;
  *  - the Hadoop conf: the session's configuration ships once as a
  *    broadcast and is rebuilt once per task, so `spark.hadoop.*`
  *    settings (object-store credentials, endpoints) hold executor-side;
  *  - ordering: the sorted (path, fileId) list is parallelized into
  *    min(defaultParallelism, n) slices, which are contiguous and
  *    ascending — output written straight from the tasks is in fileId
  *    order with no sampling job and no shuffle;
  *  - closing: every stream a task opens through [[Task]] is closed
  *    exactly once — when its file's iterator is exhausted, or on task
  *    exit (limit/take early exit, failure) if that comes first;
  *    close-time errors are swallowed.
  */
private[graft] object FileFleet {

  /** One task's file handles: the rebuilt conf plus the streams opened
    * for the file being read, each closed exactly once.
    */
  final class Task private[FileFleet] (conf: Configuration) {
    private val opened = scala.collection.mutable.ArrayBuffer.empty[Closeable]

    def fs(p: Path): FileSystem = p.getFileSystem(conf)

    def open(p: Path): FSDataInputStream = {
      val in = fs(p).open(p)
      opened += in
      in
    }

    /** `outer` owns `inner` from now on (closing it closes `inner`), so
      * it is closed in `inner`'s place
      */
    def wrap[C <: Closeable](inner: Closeable, outer: C): C = {
      opened(opened.indexOf(inner)) = outer
      outer
    }

    def closeAll(): Unit = {
      opened.foreach(c => try c.close() catch { case NonFatal(_) => () })
      opened.clear()
    }

    /** `it`, closing every tracked stream once it is exhausted */
    def closing[T](it: Iterator[T]): Iterator[T] = new Iterator[T] {
      def hasNext: Boolean = { val h = it.hasNext; if (!h) closeAll(); h }
      def next(): T = it.next()
    }
  }

  /** sorted paths of the files under `dirPath` ending with one of `exts`
    * (case-insensitive)
    */
  private def list(spark: SparkSession, dirPath: String, exts: String*): IndexedSeq[String] = {
    val dir = new Path(dirPath)
    val files = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(dir).map(_.getPath)
      .filter(p => exts.exists(p.getName.toLowerCase.endsWith))
      .map(_.toString).sorted.toIndexedSeq
    require(files.nonEmpty, s"no ${exts.mkString("/")} files under $dirPath")
    files
  }

  def shipConf(spark: SparkSession): Broadcast[Array[(String, String)]] = {
    import scala.jdk.CollectionConverters._
    spark.sparkContext.broadcast(spark.sparkContext.hadoopConfiguration.iterator()
      .asScala.map(e => (e.getKey, e.getValue)).toArray)
  }

  def conf(shipped: Broadcast[Array[(String, String)]]): Configuration = {
    val c = new Configuration(false)
    shipped.value.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** `items` in order over min(defaultParallelism, n) contiguous slices;
    * `f` maps one slice with its [[Task]]
    */
  def parallelize[A: ClassTag, T: ClassTag](spark: SparkSession, items: IndexedSeq[A])(
      f: (Task, Iterator[A]) => Iterator[T]): RDD[T] = {
    val shipped = shipConf(spark)
    val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism, items.size))
    spark.sparkContext.parallelize(items, slices).mapPartitions { it =>
      val task = new Task(conf(shipped))
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => task.closeAll()))
      task.closing(f(task, it))
    }
  }

  /** `f(task, path, fileId)` over every listed file, fileId = position in
    * the sorted listing; the output is in (fileId, f's order)
    */
  def read[T: ClassTag](spark: SparkSession, dirPath: String, exts: String*)(
      f: (Task, Path, Long) => Iterator[T]): RDD[T] = {
    val files = list(spark, dirPath, exts: _*).zipWithIndex
    parallelize(spark, files) { (task, it) =>
      it.flatMap { case (p, id) => task.closing(f(task, new Path(p), id.toLong)) }
    }
  }
}
