package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException => HFileExists, FileContext, FileSystem, Options, Path => HPath}

/** The storage seam for the snapshot-table / catalog / index layers
  * (SURVEY.md §7.4): every path operation the commit protocol needs —
  * atomic publish, create-exclusive claim, list, delete, rename, stat —
  * behind one trait, so the same `TableOps`/`Catalog`/index code runs
  * against a local filesystem in tests and against HDFS/S3A (any Hadoop
  * `FileSystem`) on a cluster. Reference contrast: terrier's storage layer is process-local by
  * design (storage/data_table.h); a Spark-native engine's table state must
  * live on the cluster's shared store, so the seam is load-bearing, not
  * cosmetic.
  *
  * Paths are plain strings ('/'-joined); which implementation to use is
  * decided once per root by [[TableIO.forPath]] — a URI scheme selects the
  * Hadoop stack, a bare path the straight java.nio one.
  *
  * Commit-protocol contract every implementation must honor:
  *   - `atomicWrite` publishes all-or-nothing: a concurrent reader sees the
  *     old bytes or the new bytes, never a torn file;
  *   - `createExclusive` succeeds for exactly ONE caller per path (the OCC
  *     claim primitive) and durably stores the given token bytes;
  *   - `list`/`exists` reflect completed writes (read-after-write).
  * HDFS meets all three natively (rename and create-no-overwrite are atomic
  * namenode operations). S3A caveat (documented, standard): plain S3 rename
  * is copy+delete and create is last-writer-wins, so on S3 the claim
  * primitive must be backed by S3 conditional writes (If-None-Match) or an
  * external lock (the Iceberg/Delta commit-service pattern); HDFS-backed
  * and consistent stores need nothing extra.
  */
trait TableIO {
  def exists(path: String): Boolean
  def isDirectory(path: String): Boolean
  def readBytes(path: String): Array[Byte]
  /** Write-then-rename publish: readers see old or new, never torn. */
  def atomicWrite(path: String, bytes: Array[Byte]): Unit
  /** Atomic create-new with content; returns false (writing nothing) if the
    * path already exists — the one-winner-per-version claim primitive. */
  def createExclusive(path: String, bytes: Array[Byte]): Boolean
  /** Child NAMES (not paths) of `dir`; empty if the dir doesn't exist. */
  def list(dir: String): Seq[String]
  def deleteIfExists(path: String): Boolean
  /** Delete a file or directory tree; returns deleted `.parquet` count. */
  def deleteRecursively(path: String): Int
  def size(path: String): Long
  def mtimeMs(path: String): Long
  def mkdirs(path: String): Unit
  /** Move a file or directory to `dst` (parent dirs created); fails if
    * `dst` already exists. */
  def rename(src: String, dst: String): Unit

  /** Children of `dir` as full paths. */
  final def listPaths(dir: String): Seq[String] = list(dir).map(n => s"$dir/$n")
}

object TableIO {
  /** A URI scheme (file://, hdfs://, s3a://…) selects the Hadoop stack;
    * a bare filesystem path the straight java.nio implementation. */
  def forPath(root: String, conf: => Configuration): TableIO =
    if (root.matches("^[A-Za-z][A-Za-z0-9+.-]*:.*")) new HadoopIO(conf)
    else LocalIO
}

/** java.nio implementation — the single-box / unit-test path. */
object LocalIO extends TableIO {
  private def p(s: String): Path = Paths.get(s)

  def exists(path: String): Boolean = Files.exists(p(path))
  def isDirectory(path: String): Boolean = Files.isDirectory(p(path))
  def readBytes(path: String): Array[Byte] = Files.readAllBytes(p(path))

  def atomicWrite(path: String, bytes: Array[Byte]): Unit = {
    val target = p(path)
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(s".${target.getFileName}.tmp")
    Files.write(tmp, bytes)
    try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def createExclusive(path: String, bytes: Array[Byte]): Boolean = {
    val target = p(path)
    Files.createDirectories(target.getParent)
    // publish the claim atomically WITH its token: a CREATE_NEW + write
    // sequence could crash between the two, leaving an empty-token claim
    // that recovery misclassifies as foreign and permanently wedges the
    // version. Fully write a private temp file first, then hard-link it
    // into place — createLink is atomic and fails if the target exists.
    val tmp = target.resolveSibling(
      s".${target.getFileName}.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    Files.write(tmp, bytes)
    try { Files.createLink(target, tmp); true }
    catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: UnsupportedOperationException =>
        // no hard links on this FS: the historical CREATE_NEW write
        try {
          val ch = Files.newByteChannel(target,
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          try ch.write(java.nio.ByteBuffer.wrap(bytes)) finally ch.close()
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } finally Files.deleteIfExists(tmp)
  }

  def list(dir: String): Seq[String] = {
    val d = p(dir)
    if (!Files.exists(d)) return Seq.empty
    val st = Files.list(d)
    try { import scala.jdk.CollectionConverters._
      st.iterator().asScala.map(_.getFileName.toString).toSeq }
    finally st.close()
  }

  def deleteIfExists(path: String): Boolean = Files.deleteIfExists(p(path))

  def deleteRecursively(path: String): Int = {
    def go(q: Path): Int = {
      var parquet = 0
      if (Files.isDirectory(q)) {
        val st = Files.list(q)
        try { import scala.jdk.CollectionConverters._
          st.iterator().asScala.foreach(parquet += go(_)) }
        finally st.close()
      } else if (q.getFileName.toString.endsWith(".parquet")) parquet = 1
      Files.delete(q)
      parquet
    }
    if (Files.exists(p(path))) go(p(path)) else 0
  }

  def size(path: String): Long = Files.size(p(path))
  def mtimeMs(path: String): Long = Files.getLastModifiedTime(p(path)).toMillis
  def mkdirs(path: String): Unit = Files.createDirectories(p(path))

  def rename(src: String, dst: String): Unit = {
    Files.createDirectories(p(dst).getParent)
    Files.move(p(src), p(dst))
  }
}

/** Hadoop `FileSystem` implementation — HDFS, S3A, GCS, ABFS, or file://
  * through the Hadoop local FS (the cluster deployment path). One instance
  * per Configuration; `FileSystem.get` caches per-scheme clients internally. */
final class HadoopIO(conf: Configuration) extends TableIO {
  private def fs(p: HPath): FileSystem = p.getFileSystem(conf)
  private def hp(s: String): HPath = new HPath(s)

  def exists(path: String): Boolean = fs(hp(path)).exists(hp(path))
  def isDirectory(path: String): Boolean = {
    val p = hp(path); val f = fs(p)
    f.exists(p) && f.getFileStatus(p).isDirectory
  }

  def readBytes(path: String): Array[Byte] = {
    val p = hp(path); val f = fs(p)
    val in = f.open(p)
    try {
      val len = f.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }

  def atomicWrite(path: String, bytes: Array[Byte]): Unit = {
    val target = hp(path)
    val f = fs(target)
    f.mkdirs(target.getParent)
    val tmp = new HPath(target.getParent, s".${target.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(bytes) finally out.close()
    // FileContext rename OVERWRITE is the atomic-replace primitive on HDFS
    // (a namenode op); on stores without it the FileSystem fallback below
    // is delete+rename — last-writer-wins, still never torn, because the
    // tmp file was written fully before either rename
    try FileContext.getFileContext(target.toUri, conf)
      .rename(tmp, target, Options.Rename.OVERWRITE)
    catch { case _: UnsupportedOperationException | _: java.io.IOException =>
      if (f.exists(target)) f.delete(target, false)
      if (!f.rename(tmp, target))
        throw new java.io.IOException(s"rename $tmp -> $target failed")
    }
  }

  def createExclusive(path: String, bytes: Array[Byte]): Boolean = {
    val p = hp(path); val f = fs(p)
    f.mkdirs(p.getParent)
    if (f.exists(p)) return false
    // publish atomically WITH the token (see LocalIO.createExclusive): a
    // create(false) + write could crash mid-write and leave a partial
    // claim that recovery misclassifies. Fully write a private temp file,
    // then rename-without-overwrite — on HDFS a single namenode op that
    // fails (returns false) when the destination already exists.
    val tmp = new HPath(p.getParent,
      s".${p.getName}.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    val out = f.create(tmp, true)
    try out.write(bytes) finally out.close()
    try {
      try f.rename(tmp, p)
      catch {
        case _: HFileExists => false
        case _: org.apache.hadoop.fs.ParentNotDirectoryException => false
        case _: java.io.IOException if f.exists(p) => false
      }
    } finally { if (f.exists(tmp)) f.delete(tmp, false) }
  }

  def list(dir: String): Seq[String] = {
    val p = hp(dir); val f = fs(p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).map(_.getPath.getName).toSeq
  }

  def deleteIfExists(path: String): Boolean = {
    val p = hp(path); val f = fs(p)
    f.exists(p) && f.delete(p, false)
  }

  def deleteRecursively(path: String): Int = {
    val p = hp(path); val f = fs(p)
    if (!f.exists(p)) return 0
    var parquet = 0
    // listFiles(recursive) yields the path itself when it is a plain file,
    // so the count covers both cases without a separate stat
    val it = f.listFiles(p, true)
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) parquet += 1
    }
    f.delete(p, true)
    parquet
  }

  def size(path: String): Long = fs(hp(path)).getFileStatus(hp(path)).getLen
  def mtimeMs(path: String): Long =
    fs(hp(path)).getFileStatus(hp(path)).getModificationTime
  def mkdirs(path: String): Unit = { fs(hp(path)).mkdirs(hp(path)); () }

  def rename(src: String, dst: String): Unit = {
    val d = hp(dst); val f = fs(d)
    f.mkdirs(d.getParent)
    if (f.exists(d) || !f.rename(hp(src), d))
      throw new java.io.IOException(s"rename $src -> $dst failed")
  }
}
