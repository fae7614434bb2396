package graft

import java.io.{FilterOutputStream, OutputStream}
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FSInputStream, Path, PositionedReadable, RawLocalFileSystem, Seekable}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A `spy://` Hadoop filesystem over the local disk that counts positioned
  * reads — lets specs assert HOW MANY read round-trips an access pattern
  * costs (the thing that dominates latency on an object store), not just
  * that the bytes came back right.
  */
object SpyFileSystem {
  /** total positioned-read calls (readFully/read-at-offset) on spy:// files */
  val positionedReads = new AtomicLong(0)
  /** total file opens on spy:// files — each scan task opens its input at
    * least once, so a query that scans a source twice roughly doubles
    * this (the "how many corpus scans" signal for a parquet input) */
  val opens = new AtomicLong(0)
  /** stream closes on spy:// files (close is idempotent upstream, so a
    * double-close counts twice — leak specs assert closes >= opens) */
  val closes = new AtomicLong(0)
  /** files created on spy:// and closes of those created streams */
  val creates = new AtomicLong(0)
  val createdCloses = new AtomicLong(0)
  def reset(): Unit = Seq(positionedReads, opens, closes, creates, createdCloses).foreach(_.set(0))
}

class SpyFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "spy"
  override def getUri: java.net.URI = java.net.URI.create("spy:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    // missing files already throw FileNotFoundException in super.open
    SpyFileSystem.opens.incrementAndGet()
    new FSDataInputStream(new CountingStream(super.open(f, bufferSize)))
  }

  // RawLocalFileSystem implements both create entry points directly
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted(super.create(f, overwrite, bufferSize, replication, blockSize, progress))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))

  private def counted(inner: FSDataOutputStream): FSDataOutputStream = {
    SpyFileSystem.creates.incrementAndGet()
    new FSDataOutputStream(new CountingOut(inner), null)
  }

  /** counts closes of a created stream (write-through otherwise) */
  private class CountingOut(inner: OutputStream) extends FilterOutputStream(inner) {
    override def write(b: Array[Byte], off: Int, len: Int): Unit = inner.write(b, off, len)
    override def close(): Unit = {
      SpyFileSystem.createdCloses.incrementAndGet()
      inner.close()
    }
  }

  /** delegates everything, counts the positioned-read entry points */
  private class CountingStream(inner: FSDataInputStream)
      extends FSInputStream with Seekable with PositionedReadable {
    override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = {
      SpyFileSystem.positionedReads.incrementAndGet()
      inner.read(pos, b, off, len)
    }
    override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
      SpyFileSystem.positionedReads.incrementAndGet()
      inner.readFully(pos, b, off, len)
    }
    override def readFully(pos: Long, b: Array[Byte]): Unit =
      readFully(pos, b, 0, b.length)
    override def read(): Int = inner.read()
    override def read(b: Array[Byte], off: Int, len: Int): Int = inner.read(b, off, len)
    override def seek(pos: Long): Unit = inner.seek(pos)
    override def getPos: Long = inner.getPos
    override def seekToNewSource(targetPos: Long): Boolean = inner.seekToNewSource(targetPos)
    override def close(): Unit = {
      SpyFileSystem.closes.incrementAndGet()
      inner.close(); super.close()
    }
    override def available(): Int = inner.available()
  }
}
