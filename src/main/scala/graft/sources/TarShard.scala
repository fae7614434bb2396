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
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)      // chksum blanked for sum
    h(156) = '0'                                        // typeflag: regular file
    System.arraycopy("ustar\u000000".getBytes(US_ASCII), 0, h, 257, 8)
    var sum = 0L
    var i = 0
    while (i < BLOCK) { sum += h(i) & 0xff; i += 1 }
    val chk = java.lang.Long.toOctalString(sum)
    val chkField = ("0" * (6 - chk.length)) + chk + "\u0000 "
    System.arraycopy(chkField.getBytes(US_ASCII), 0, h, 148, 8)
    h
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

      private def readBlock(): Array[Byte] = {
        val b = new Array[Byte](BLOCK)
        var off = 0
        while (off < BLOCK) {
          val r = buf.read(b, off, BLOCK - off)
          if (r < 0) throw new EOFException(
            s"truncated tar: header block cut at $off bytes")
          off += r
        }
        b
      }

      private def advance(): Unit = {
        val h = readBlock()
        if (h.forall(_ == 0)) { done = true; return } // first zero block ends
        // checksum: sum with chksum field as spaces
        var sum = 0L
        var i = 0
        while (i < BLOCK) {
          sum += (if (i >= 148 && i < 156) ' '.toLong else (h(i) & 0xff).toLong)
          i += 1
        }
        val stored = new String(h, 148, 8, US_ASCII)
          .takeWhile(c => c >= '0' && c <= '7')
        require(stored.nonEmpty && java.lang.Long.parseLong(stored, 8) == sum,
          "tar header checksum mismatch — corrupt shard")
        require(h(156) == '0' || h(156) == 0,
          s"unsupported tar entry type '${h(156).toChar}' (regular files only)")
        val name = new String(h, 0, 100, UTF_8).takeWhile(_ != 0)
        val sizeStr = new String(h, 124, 12, US_ASCII)
          .takeWhile(c => c >= '0' && c <= '7')
        val size = java.lang.Long.parseLong(sizeStr, 8)
        require(size <= Int.MaxValue - 8, s"tar entry over 2 GiB: $name")
        val payload = new Array[Byte](size.toInt)
        var off = 0
        while (off < payload.length) {
          val r = buf.read(payload, off, payload.length - off)
          if (r < 0) throw new EOFException(
            s"truncated tar: entry '$name' cut at $off of $size bytes")
          off += r
        }
        val pad = ((BLOCK - (size % BLOCK)) % BLOCK).toInt
        var skipped = 0L
        while (skipped < pad) {
          val r = buf.skip(pad - skipped)
          if (r <= 0) throw new EOFException("truncated tar: padding missing")
          skipped += r
        }
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
    * payload — rolling only between samples. Returns the shard count.
    */
  def writeSamples(df: DataFrame, outDir: String, maxShardBytes: Long = 1L << 30,
      nWriters: Int = 0): Long = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    val shipped = FileFleet.shipConf(spark)
    val writers = if (nWriters > 0) nWriters
      else spark.sparkContext.defaultParallelism
    // Write into a temporary subdirectory and PROMOTE (rename + stale
    // delete) only after the job succeeds: deleting stale shard-*.tar up
    // front would (a) destroy prior output on a failed job and (b) eat
    // the input of a lazy lineage that READS shards from outDir and
    // writes back to the same dir. readDir never globs subdirectories,
    // so an orphaned _tmp dir from a crashed run is inert.
    val tmpName = s"_tmp-shards-${java.util.UUID.randomUUID().toString.take(8)}"
    val tmpDirStr = s"$outDir/$tmpName"
    val counts = df.select(col("key").cast("string"), col("ext").cast("string"),
        col("payload").cast("binary"))
      .repartition(writers, col("key"))
      .sortWithinPartitions("key", "ext")
      .as[(String, String, Array[Byte])](
        org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.BINARY))
      .rdd.mapPartitionsWithIndex { (pid, rows) =>
        val dir = new org.apache.hadoop.fs.Path(tmpDirStr)
        val fs = dir.getFileSystem(FileFleet.conf(shipped))
        fs.mkdirs(dir)
        var seq = 0
        var out: OutputStream = null
        var written = 0L
        var nShards = 0L
        var curKey: String = null
        def roll(): Unit = {
          if (out != null) { finish(out); out.close() }
          out = fs.create(new org.apache.hadoop.fs.Path(dir,
            f"shard-$pid%04d-$seq%04d.tar"), true)
          seq += 1; nShards += 1; written = 0L
        }
        rows.foreach { case (key, ext, payload) =>
          val atBoundary = curKey == null || key != curKey
          if (out == null || (atBoundary && written >= maxShardBytes)) roll()
          curKey = key
          val name = if (ext.isEmpty) key else s"$key.$ext"
          writeEntry(out, name, payload)
          written += payload.length.toLong + BLOCK
        }
        if (out != null) { finish(out); out.close() }
        Iterator.single(nShards)
      }.sum().toLong
    // the job succeeded: promote. Stale shards (a prior run with
    // different parallelism/volume leaves extra shard-*.tar readDir
    // would glob in) are deleted only now, then the fresh set renames
    // into place and the tmp dir goes away. Note the overwrite is NOT
    // atomic as a whole — a crash inside this window can mix old/new —
    // but the window no longer spans the (arbitrarily long) write job.
    locally {
      val dir = new org.apache.hadoop.fs.Path(outDir)
      val tmp = new org.apache.hadoop.fs.Path(tmpDirStr)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val fresh =
        if (fs.exists(tmp)) fs.listStatus(tmp).map(_.getPath)
          .filter(p => p.getName.startsWith("shard-") && p.getName.endsWith(".tar"))
        else Array.empty[org.apache.hadoop.fs.Path]
      val freshNames = fresh.map(_.getName).toSet
      val stale =
        if (fs.exists(dir)) fs.listStatus(dir).map(_.getPath)
          .filter { p =>
            val n = p.getName
            n.startsWith("shard-") && n.endsWith(".tar")
          }
        else Array.empty[org.apache.hadoop.fs.Path]
      // colliding names must go first (FileSystem.rename refuses an
      // existing target on most impls — by returning FALSE, not
      // throwing); non-colliding stale shards are deleted only AFTER
      // every rename succeeded, so a failed promote never leaves the
      // fresh set stranded in tmp for the recursive delete below
      stale.filter(p => freshNames(p.getName)).foreach(p => fs.delete(p, false))
      fresh.foreach { p =>
        val dst = new org.apache.hadoop.fs.Path(dir, p.getName)
        require(fs.rename(p, dst), s"tar-shard promote failed: $p -> $dst")
      }
      stale.filterNot(p => freshNames(p.getName)).foreach(p => fs.delete(p, false))
      if (fs.exists(tmp)) fs.delete(tmp, true)
    }
    counts
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
