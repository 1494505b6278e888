package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import graft.checkpoint.Manifest
import graft.io.TableIO

/** Fault injection at the index layer's storage seam: while [[run]] is
  * active for `root`, every mutating [[TableIO]] operation under `root` is
  * counted, and the one `fail` selects throws
  * [[FaultInjection.InjectedFault]] before it touches storage — the crash
  * state a process killed at that operation leaves. Reads are not failed:
  * they change nothing on disk, so a crash at a read leaves the same files
  * as a crash at the next mutating operation. Runs on distinct roots may
  * overlap. */
object FaultInjection {
  final class InjectedFault(op: String, path: String)
    extends RuntimeException(s"injected fault: $op $path")

  /** Selects the failing operation: (1-based count, op name, path). */
  type Fail = (Int, String, String) => Boolean

  val never: Fail = (_, _, _) => false

  private val active = new ConcurrentHashMap[String, (Fail, AtomicInteger)]()

  /** Runs `body` under `fail`; returns the number of mutating operations
    * attempted under `root` and whether a fault was injected. */
  def run(root: String, fail: Fail)(body: => Any): (Int, Boolean) = {
    Manifest.wrapIO = new Faulty(_)
    val n = new AtomicInteger(0)
    active.put(s"$root/", (fail, n))
    try {
      try { body; (n.get, false) }
      catch { case _: InjectedFault => (n.get, true) }
    } finally active.remove(s"$root/")
  }

  private final class Faulty(io: TableIO) extends TableIO {
    private def mutate[T](op: String, path: String)(f: => T): T = {
      active.forEach { (root, fn) =>
        if (path.startsWith(root) && fn._1(fn._2.incrementAndGet(), op, path))
          throw new InjectedFault(op, path)
      }
      f
    }
    def exists(path: String): Boolean = io.exists(path)
    def isDirectory(path: String): Boolean = io.isDirectory(path)
    def readBytes(path: String): Array[Byte] = io.readBytes(path)
    def list(dir: String): Seq[String] = io.list(dir)
    def size(path: String): Long = io.size(path)
    def mtimeMs(path: String): Long = io.mtimeMs(path)
    def atomicWrite(path: String, bytes: Array[Byte]): Unit =
      mutate("atomicWrite", path)(io.atomicWrite(path, bytes))
    def createExclusive(path: String, bytes: Array[Byte]): Boolean =
      mutate("createExclusive", path)(io.createExclusive(path, bytes))
    def deleteIfExists(path: String): Boolean =
      mutate("deleteIfExists", path)(io.deleteIfExists(path))
    def deleteRecursively(path: String): Int =
      mutate("deleteRecursively", path)(io.deleteRecursively(path))
    def mkdirs(path: String): Unit = mutate("mkdirs", path)(io.mkdirs(path))
    def rename(src: String, dst: String): Unit =
      mutate("rename", src)(io.rename(src, dst))
  }
}
