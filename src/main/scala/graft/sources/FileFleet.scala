package graft.sources

import java.io.{Closeable, InputStream, OutputStream}

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** The one file fleet behind every directory source (WARC, tar shards,
  * MP4 and H.264 ingest) and every file writer (tar shards, MP4 and
  * concatenated-stream exports) — the reference's one-ingest-job-per-file
  * shape (`scanner/engine/ingest.cpp:175-380`) over any Hadoop filesystem.
  * It owns the decisions each source and sink used to make on its own:
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
  *  - closing: every stream a task opens or creates through [[Task]] is
  *    closed exactly once — when its file's iterator is exhausted or its
  *    output is finished, or on task exit (limit/take early exit,
  *    failure) if that comes first; close-time errors on that exit path
  *    are swallowed;
  *  - committing ([[commit]]): writers fill one job temp dir
  *    `<outDir>/_tmp-<uuid>` under attempt-unique names and report the
  *    files they finished; only after the whole write succeeds does the
  *    driver promote exactly those files (colliding names deleted first,
  *    then the renames, then the stale outputs the writer owns), and the
  *    temp dir is deleted whether the write succeeded or not — the shape
  *    of Hadoop's FileOutputCommitter, and the reference's commit-last
  *    rule (`committed`, `scanner/metadata.proto:127`). A failed write
  *    leaves the prior output as it was.
  */
private[graft] object FileFleet {

  /** One task's file handles: the rebuilt conf, the streams opened or
    * created for the file at hand (each closed exactly once) and, in a
    * write, the job temp dir plus the files finished there.
    */
  final class Task private[FileFleet] (conf: Configuration, tmp: Option[Path]) {
    private val opened = ArrayBuffer.empty[Closeable]
    private[FileFleet] val finished = ArrayBuffer.empty[(String, String)]

    def fs(p: Path): FileSystem = p.getFileSystem(conf)

    private def track[C <: Closeable](c: C): C = { opened += c; c }

    def open(p: Path): FSDataInputStream = track(fs(p).open(p))

    /** close `c` now (an error propagates); it is closed exactly once */
    private def close(c: Closeable): Unit = { opened -= c; c.close() }

    /** a new attempt-unique file in the job temp dir */
    private def create(name: String): (Path, OutputStream) = {
      val attempt = Option(TaskContext.get()).map(_.taskAttemptId()).getOrElse(0L)
      val p = new Path(tmp.get, s"a$attempt-$name")
      (p, track(fs(p).create(p, false)))
    }

    /** Write output file `name`: `f` fills an attempt-unique file in the
      * job temp dir, which is closed and reported finished — it commits
      * as `name` once the whole write succeeds
      */
    def output[R](name: String)(f: OutputStream => R): R = {
      val (p, out) = create(name)
      val r = f(out)
      close(out)
      finished += ((p.toString, name))
      r
    }

    /** a scratch file in the job temp dir: `fill` writes it, `use` reads
      * it back, then it is deleted (it never commits)
      */
    def scratch[R](name: String)(fill: OutputStream => Unit)(use: InputStream => R): R = {
      val (p, out) = create(name)
      fill(out)
      close(out)
      val in = open(p)
      try use(in) finally { close(in); fs(p).delete(p, false) }
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

  private def shipConf(spark: SparkSession): Broadcast[Array[(String, String)]] = {
    import scala.jdk.CollectionConverters._
    spark.sparkContext.broadcast(spark.sparkContext.hadoopConfiguration.iterator()
      .asScala.map(e => (e.getKey, e.getValue)).toArray)
  }

  /** a [[Task]] for the running Spark task over the shipped conf, its
    * streams closed when the task ends
    */
  private def task(shipped: Broadcast[Array[(String, String)]], tmp: Option[Path]): Task = {
    val c = new Configuration(false)
    shipped.value.foreach { case (k, v) => c.set(k, v) }
    val task = new Task(c, tmp)
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => task.closeAll()))
    task
  }

  /** `items` in order over min(defaultParallelism, n) contiguous slices;
    * `f` maps one slice with its [[Task]]
    */
  def parallelize[A: ClassTag, T: ClassTag](spark: SparkSession, items: IndexedSeq[A])(
      f: (Task, Iterator[A]) => Iterator[T]): RDD[T] = {
    val shipped = shipConf(spark)
    val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism, items.size))
    spark.sparkContext.parallelize(items, slices).mapPartitions { it =>
      val t = task(shipped, None)
      t.closing(f(t, it))
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

  // ------------------------------------------------------------ write half

  /** The commit rule of every file graft writes. `write` runs against the
    * job temp dir `<outDir>/_tmp-<uuid>` and returns its result plus the
    * (temp path, name) pairs it finished; after it succeeds those files,
    * and only those, are promoted into `outDir`: colliding names are
    * deleted first (`rename` refuses an existing target on most
    * filesystems, by returning false), then every rename, then the
    * outputs the writer `owns` that this write did not produce. The temp
    * dir, with any file of a failed or losing attempt, is deleted either
    * way. The promote itself is not atomic as a whole, but its window no
    * longer spans the (arbitrarily long) write.
    */
  private def commit[R](spark: SparkSession, outDir: Path, owns: String => Boolean)(
      write: Path => (R, Seq[(String, String)])): R = {
    val fs = outDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(outDir, s"_tmp-${java.util.UUID.randomUUID()}")
    try {
      fs.mkdirs(tmp)
      val (r, done) = write(tmp)
      val fresh = done.map(_._2).toSet
      done.foreach { case (_, n) => fs.delete(new Path(outDir, n), false) }
      done.foreach { case (t, n) =>
        require(fs.rename(new Path(t), new Path(outDir, n)), s"commit failed: $t -> $outDir/$n")
      }
      fs.listStatus(outDir).map(_.getPath)
        .filter(p => owns(p.getName) && !fresh(p.getName))
        .foreach(fs.delete(_, false))
      r
    } finally fs.delete(tmp, true)
  }

  /** Distributed write into `outDir`: `f(task, partitionId, rows)` maps
    * each partition of `rdd`, writing its files through
    * [[Task.output]]; the files of the successful attempts commit once
    * the job succeeds ([[commit]]). Returns every result of `f`.
    */
  def write[A, R: ClassTag](spark: SparkSession, rdd: RDD[A], outDir: String,
      owns: String => Boolean)(f: (Task, Int, Iterator[A]) => Iterator[R]): Array[R] = {
    val shipped = shipConf(spark)
    commit(spark, new Path(outDir), owns) { tmp =>
      val parts = rdd.mapPartitionsWithIndex { (pid, rows) =>
        val t = task(shipped, Some(tmp))
        Iterator.single((f(t, pid, rows).toArray, t.finished.toArray))
      }.collect()
      (parts.flatMap(_._1), parts.flatMap(_._2).toSeq)
    }
  }

  /** Driver-side write of the one file `outPath` (a client path, like the
    * reference's `save_mp4`): `f(task, name)` writes it as
    * `task.output(name)`, under the same commit rule
    */
  def writeFile[R](spark: SparkSession, outPath: String)(f: (Task, String) => R): R = {
    val p = new Path(outPath)
    commit(spark, p.getParent, _ => false) { tmp =>
      val t = new Task(spark.sparkContext.hadoopConfiguration, Some(tmp))
      try (f(t, p.getName), t.finished.toSeq) finally t.closeAll()
    }
  }
}
