package graft.queries

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

import scala.util.control.NonFatal

import org.apache.commons.io.FileUtils

import graft.model.FrameElem
import graft.operators.StdKernels
import graft.sources.GopCodec

/** Generated inputs (video stores, file sets, tables) that queries, specs
  * and bench rows reuse across runs, under one reuse rule: a fixture lives
  * at `<root>/<name>-<digest(key)>`, and its key is the build's parameters
  * plus a small probe of what the current code writes. A change to the
  * code that wrote the bytes changes the key, so the next call rebuilds
  * instead of reading bytes an older build wrote.
  *
  * A build writes into a sibling temp dir that one atomic rename promotes;
  * a build that throws leaves nothing behind, a concurrent loser deletes
  * its own copy, and a successful build deletes the name's older dirs.
  * Each name resolves once per JVM (`resolved`), so repeated executions
  * pay a map lookup. A name identifies one fixture: its key must depend
  * on the code alone, never on a caller's arguments.
  */
private[graft] class Fixtures(root: File) {

  private val resolved = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** the directory of fixture `name`, built by `build(tempDir)` unless a
    * directory for the same key already exists */
  def dir(name: String, key: => Seq[Any])(build: String => Unit): String =
    Option(resolved.get(name)).getOrElse(synchronized {
      Option(resolved.get(name)).getOrElse {
        val path = resolve(name, key, build)
        resolved.put(name, path)
        path
      }
    })

  private def resolve(name: String, key: Seq[Any], build: String => Unit): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    key.foreach { part =>
      val b = part match {
        case a: Array[Byte] => a
        case x => String.valueOf(x).getBytes(UTF_8)
      }
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    val digest = md.digest().take(8).map(b => f"$b%02x").mkString
    val fin = new File(root, s"$name-$digest")
    if (!fin.isDirectory) {
      Files.createDirectories(root.toPath)
      val tmp = Files.createTempDirectory(root.toPath, s".$name-$digest-").toFile
      val t0 = System.nanoTime()
      try {
        build(tmp.getPath)
        Files.move(tmp.toPath, fin.toPath, StandardCopyOption.ATOMIC_MOVE)
        System.err.println(f"[fixture] $name built in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      } catch {
        // a concurrent builder of the same key promoted its copy first
        case NonFatal(_) if fin.isDirectory => ()
      } finally FileUtils.deleteQuietly(tmp)
      val mine = java.util.regex.Pattern.quote(name) + "-[0-9a-f]{16}(-.*)?"
      Option(root.listFiles()).toSeq.flatten
        .filter(f => f != fin && f.getName.stripPrefix(".").matches(mine))
        .foreach(FileUtils.deleteQuietly)
    }
    fin.getPath
  }
}

private[graft] object Fixtures
    extends Fixtures(new File(sys.props("java.io.tmpdir"), "graft-fixtures")) {

  /** four frames of 32x32 RGB: two macroblock rows and enough pictures
    * for B-frame reordering, so multi-slice, multi-reference and B-frame
    * coding all reach a store codec's output */
  private lazy val probeClip: Seq[FrameElem] =
    (0 until 4).map(i => StdKernels.syntheticFrame(0L, i.toLong, 32, 32, 3))

  /** key of a video store fixture: its parameters, its first source frame
    * and each store codec's output on the probe clip */
  def storeKey(params: Any*)(first: FrameElem, codecs: GopCodec*): Seq[Any] =
    params ++ Seq(first.height, first.width, first.channels, first.data) ++
      codecs.map(_.encodeGop(probeClip))
}
