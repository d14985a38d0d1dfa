package graft.fsops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import java.time.format.DateTimeFormatter
import java.time.{ZoneOffset, ZonedDateTime}

/** Hadoop FileSystem choreography: the reference concentrates its
  * transactional value in driver-side FS moves
  * (reference: src/main/scala/com/adidas/analytics/util/HadoopLoadHelper.scala,
  * util/DFSWrapper.scala). This is the equivalent surface: list, move,
  * delete, exclusive publication of small files and timestamped dir
  * naming. The backup/install/restore choreography built on `move` lives
  * in one place, `graft.io.AtomicWriter.install`.
  */
class FsOps(conf: Configuration) {

  def fs(path: Path): FileSystem = path.getFileSystem(conf)

  def exists(p: String): Boolean = { val pp = new Path(p); fs(pp).exists(pp) }

  def mkdirs(p: String): Unit = { val pp = new Path(p); fs(pp).mkdirs(pp) }

  def deleteAll(p: String): Unit = {
    val pp = new Path(p)
    val f = fs(pp)
    if (f.exists(pp)) f.delete(pp, true)
  }

  /** Immediate children (names) of a directory. */
  def ls(p: String): Seq[String] = {
    val pp = new Path(p)
    val f = fs(pp)
    if (!f.exists(pp)) Seq.empty
    else f.listStatus(pp).toSeq.map(_.getPath.getName)
  }

  def listFilesRecursive(p: String): Seq[String] = {
    val pp = new Path(p)
    val f = fs(pp)
    if (!f.exists(pp)) return Seq.empty
    val it = f.listFiles(pp, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) buf += it.next().getPath.toString
    buf.toSeq
  }

  /** Move src dir/file to dest (dest parent created). Fails if dest exists. */
  def move(src: String, dest: String): Unit = {
    val s = new Path(src); val d = new Path(dest)
    val f = fs(s)
    if (!f.exists(d.getParent)) f.mkdirs(d.getParent)
    if (!f.rename(s, d))
      throw new java.io.IOException(s"rename failed: $src -> $dest")
  }

  def writeFile(p: String, content: String): Unit = {
    val pp = new Path(p)
    val out = fs(pp).create(pp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** Atomic, exclusive publication of one small file (a commit, a
    * pointer): `content` is written whole into a hidden writer-private
    * `.….tmp` staging name, then published at `p` only if `p` is
    * absent. Three outcomes: `true`, the file is visible with this
    * content; `false`, another writer published `p` first (the race was
    * lost); a throw, nothing was published. No path leaves a visible
    * empty or partial file.
    *
    * Exclusivity is per scheme. HDFS rename is atomic and refuses an
    * existing destination. A raw local FS's POSIX rename REPLACES it
    * (observed: two racing bootstrap polls both cleared the exists-check
    * and both "won" the same version by clobber), so on `file:` the
    * staged file is published by HARD LINK creation, which POSIX defines
    * as atomic fail-if-exists. Local mounts without hard links
    * (some NFS/SMB/FAT/overlay configs) fall back to exists-check +
    * rename — racy on raw POSIX but functional.
    */
  def publishExclusive(p: String, content: String): Boolean = {
    val pp = new Path(p)
    val f = fs(pp)
    if (!f.exists(pp.getParent)) f.mkdirs(pp.getParent)
    val tmp = new Path(pp.getParent, "." + pp.getName + "." +
      java.util.UUID.randomUUID.toString.take(8) + ".tmp")
    // drop the staging name once it is redundant. Never throws: after a
    // successful link a throw would report an unpublished commit that
    // is visible, and a leftover hidden `.tmp` is invisible to readers
    def tidy(): Unit =
      try f.delete(tmp, false)
      catch { case scala.util.control.NonFatal(_) => }
    def renameIfAbsent(): Boolean = {
      val renamed = !f.exists(pp) &&
        (try f.rename(tmp, pp)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException |
              _: java.nio.file.FileAlreadyExistsException => false
        })
      if (!renamed) tidy()
      renamed
    }
    try {
      val out = f.create(tmp, false) // private name: never contended
      try out.write(content.getBytes("UTF-8")) finally out.close()
      if (f.getScheme != "file") renameIfAbsent()
      else
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(pp.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          tidy()
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => tidy(); false
          case _: UnsupportedOperationException |
              _: java.nio.file.FileSystemException => renameIfAbsent()
        }
    } catch {
      case e: Throwable =>
        if (f.exists(tmp)) f.delete(tmp, false)
        throw e
    }
  }

  def readFile(p: String): String = {
    val pp = new Path(p)
    val in = fs(pp).open(pp)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Timestamped sibling dir name, reference's ordered-version scheme
    * (reference: HadoopLoadHelper.scala:14-27).
    */
  def timestampedDir(base: String): String =
    base + "_" + ZonedDateTime.now(ZoneOffset.UTC)
      .format(DateTimeFormatter.ofPattern("yyyyMMddHHmmssSSS"))
}
