package graft.sources

import java.io.{BufferedInputStream, EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** WebDataset-style tar shards — the de-facto container for multimodal
  * training corpora (image+caption+metadata samples shipped as POSIX tar
  * files, consumed sequentially at train time). The convention (public:
  * webdataset/webdataset docs) is: a SAMPLE is the group of adjacent tar
  * entries sharing a basename key (`000123.jpg`, `000123.txt`,
  * `000123.json` → key `000123`), a SHARD is one tar file of complete
  * samples, and a corpus is many shards read in parallel — the same
  * file-level parallelism as the WARC and H264 ingests here.
  *
  * Everything is pure-JVM POSIX ustar (512-byte headers, octal size
  * field, checksum = sum of header bytes with the checksum field
  * blanked, two zero blocks at end); no tar dependency. The reader
  * VERIFIES each header checksum and fails loudly on corruption —
  * training jobs must never silently truncate a corpus.
  *
  * Scale shape: [[writeSamples]] is a distributed SINK — each writer
  * task rolls its partition's samples into byte-budgeted shards (rolling
  * only at sample boundaries, so a sample never splits across shards);
  * [[readDir]] is a distributed SOURCE — one task per shard streams
  * entries off the Hadoop FS open. Shard count scales with writers;
  * no shuffle beyond the explicit partitioning the caller chooses.
  */
object TarShard {

  private val BLOCK = 512

  // ------------------------------------------------------------------ tar

  private def octal(v: Long, width: Int): Array[Byte] = {
    val s = java.lang.Long.toOctalString(v)
    require(s.length < width, s"value $v overflows $width-byte octal tar field")
    (("0" * (width - 1 - s.length)) + s + "\u0000").getBytes(US_ASCII)
  }

  /** one ustar header block for a regular file */
  private def header(name: String, size: Long): Array[Byte] = {
    val nameB = name.getBytes(UTF_8)
    require(nameB.length <= 100,
      s"tar entry name longer than 100 bytes: '$name' (use shorter sample keys)")
    val h = new Array[Byte](BLOCK)
    System.arraycopy(nameB, 0, h, 0, nameB.length)
    System.arraycopy(octal(420, 8), 0, h, 100, 8)       // mode 0644
    System.arraycopy(octal(0, 8), 0, h, 108, 8)         // uid
    System.arraycopy(octal(0, 8), 0, h, 116, 8)         // gid
    System.arraycopy(octal(size, 12), 0, h, 124, 12)    // size
    System.arraycopy(octal(0, 12), 0, h, 136, 12)       // mtime (deterministic)
    h(156) = '0'                                        // typeflag: regular file
    System.arraycopy("ustar\u000000".getBytes(US_ASCII), 0, h, 257, 8)
    val chk = java.lang.Long.toOctalString(checksum(h))
    val chkField = ("0" * (6 - chk.length)) + chk + "\u0000 "
    System.arraycopy(chkField.getBytes(US_ASCII), 0, h, 148, 8)
    h
  }

  /** the header's checksum: the sum of its bytes, the checksum field
    * counted as spaces
    */
  private def checksum(h: Array[Byte]): Long = {
    var sum = 8L * ' '
    var i = 0
    while (i < BLOCK) { sum += h(i) & 0xff; i += 1 }
    i = 148
    while (i < 156) { sum -= h(i) & 0xff; i += 1 }
    sum
  }

  /** append one entry (header + padded payload) */
  def writeEntry(out: OutputStream, name: String, payload: Array[Byte]): Unit = {
    out.write(header(name, payload.length.toLong))
    out.write(payload)
    val pad = (BLOCK - (payload.length % BLOCK)) % BLOCK
    if (pad > 0) out.write(new Array[Byte](pad))
  }

  /** terminate the archive: two zero blocks */
  def finish(out: OutputStream): Unit = out.write(new Array[Byte](2 * BLOCK))

  /** streaming entry iterator; verifies every header checksum */
  def entries(in: InputStream): Iterator[(String, Array[Byte])] =
    new Iterator[(String, Array[Byte])] {
      private val buf = new BufferedInputStream(in, 1 << 16)
      private var nextE: (String, Array[Byte]) = null
      private var done = false

      /** `b` filled from the stream; a short read is a truncated tar */
      private def fill(b: Array[Byte], what: => String): Array[Byte] = {
        var off = 0
        while (off < b.length) {
          val r = buf.read(b, off, b.length - off)
          if (r < 0) throw new EOFException(
            s"truncated tar: $what cut at $off of ${b.length} bytes")
          off += r
        }
        b
      }

      private def advance(): Unit = {
        val h = fill(new Array[Byte](BLOCK), "header block")
        if (h.forall(_ == 0)) { done = true; return } // first zero block ends
        val stored = new String(h, 148, 8, US_ASCII)
          .takeWhile(c => c >= '0' && c <= '7')
        require(stored.nonEmpty && java.lang.Long.parseLong(stored, 8) == checksum(h),
          "tar header checksum mismatch — corrupt shard")
        require(h(156) == '0' || h(156) == 0,
          s"unsupported tar entry type '${h(156).toChar}' (regular files only)")
        val name = new String(h, 0, 100, UTF_8).takeWhile(_ != 0)
        val sizeStr = new String(h, 124, 12, US_ASCII)
          .takeWhile(c => c >= '0' && c <= '7')
        val size = java.lang.Long.parseLong(sizeStr, 8)
        require(size <= Int.MaxValue - 8, s"tar entry over 2 GiB: $name")
        val payload = fill(new Array[Byte](size.toInt), s"entry '$name'")
        fill(new Array[Byte](((BLOCK - (size % BLOCK)) % BLOCK).toInt), s"padding of '$name'")
        nextE = (name, payload)
      }

      override def hasNext: Boolean = {
        if (nextE == null && !done) advance()
        nextE != null
      }
      override def next(): (String, Array[Byte]) = {
        if (!hasNext) throw new NoSuchElementException("end of tar")
        val e = nextE; nextE = null; e
      }
    }

  /** WebDataset sample key: basename up to the FIRST dot; extension is
    * the rest (`000123.seg.json` → key `000123`, ext `seg.json`)
    */
  def splitKey(name: String): (String, String) = {
    val base = name.substring(name.lastIndexOf('/') + 1)
    val dot = base.indexOf('.')
    if (dot < 0) (base, "") else (base.substring(0, dot), base.substring(dot + 1))
  }

  // ----------------------------------------------------------- distributed

  /** Distributed shard SINK: `df` must have columns (key: string,
    * ext: string, payload: binary). Rows are hash-distributed over
    * `nWriters` tasks BY KEY (a sample's files always land in one task),
    * ordered (key, ext) within the task, and rolled into
    * `shard-<writer>-<seq>.tar` files of at most ~`maxShardBytes` of
    * payload — rolling only between samples. The shards commit through
    * [[FileFleet.write]]: a failed job leaves the prior shards as they
    * were, and a successful one deletes the stale `shard-*.tar` a prior
    * run with more writers left (which [[readDir]] would read back).
    * Returns the shard count.
    */
  def writeSamples(df: DataFrame, outDir: String, maxShardBytes: Long = 1L << 30,
      nWriters: Int = 0): Long = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    val writers = if (nWriters > 0) nWriters
      else spark.sparkContext.defaultParallelism
    val rows = df.select(col("key").cast("string"), col("ext").cast("string"),
        col("payload").cast("binary"))
      .repartition(writers, col("key"))
      .sortWithinPartitions("key", "ext")
      .as[(String, String, Array[Byte])](
        org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.BINARY))
      .rdd
    FileFleet.write(spark, rows, outDir, n => n.startsWith("shard-") && n.endsWith(".tar")) {
      (task, pid, part) =>
        val it = part.buffered
        var seq = 0
        while (it.hasNext) {
          task.output(f"shard-$pid%04d-$seq%04d.tar") { out =>
            var written = 0L
            var key: String = null
            while (it.hasNext && (written < maxShardBytes || it.head._1 == key)) {
              val (k, ext, payload) = it.next()
              writeEntry(out, if (ext.isEmpty) k else s"$k.$ext", payload)
              written += payload.length.toLong + BLOCK
              key = k
            }
            finish(out)
          }
          seq += 1
        }
        Iterator.single(seq.toLong)
    }.sum
  }

  /** Distributed shard SOURCE: one task per `shard-*.tar` under `dirPath`,
    * entries streamed off the FS open; one row per FILE —
    * (shard, entry_idx, key, ext, payload). Samples reassemble with a
    * groupBy(key) (or stay per-file for file-level transforms); at train
    * scale the reader is sequential I/O per shard, the WebDataset
    * access pattern.
    */
  def readDir(spark: SparkSession, dirPath: String,
      keepPayloads: Boolean = true): DataFrame = {
    import spark.implicits._
    FileFleet.read(spark, dirPath, ".tar") { (task, p, _) =>
      entries(task.open(p)).zipWithIndex.map { case ((name, payload), idx) =>
        val (key, ext) = splitKey(name)
        (p.getName, idx.toLong, key, ext, payload.length.toLong,
          if (keepPayloads) payload else Array.emptyByteArray)
      }
    }.toDF("shard", "entry_idx", "key", "ext", "payload_len", "payload")
  }
}
