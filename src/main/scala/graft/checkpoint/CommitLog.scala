package graft.checkpoint

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.io.TableIO

/** Thrown when another writer holds the version a commit tried to claim
  * (a write-write conflict under optimistic concurrency): reread the
  * state and retry the operation. */
final class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

/** The one commit discipline of tables, the catalog and indexes (SURVEY.md
  * §4.4; the reference makes a transaction durable with one COMMIT record
  * in its WAL, log_serializer_task.cpp).
  *
  * Versions are numbered. Version N is committed the moment
  * `TableIO.createExclusive` creates its claim file, `claimPath(N)`, with
  * N's full bytes: one atomic step, so no version is ever in doubt.
  * Exactly one writer wins each version; every other gets a
  * [[ConcurrentCommitException]]. The commit then rewrites `mirror`, a
  * cache readers start from: by default it holds the version number, and
  * [[latest]] rolls forward past a mirror write a crash lost.
  *
  * Claims are JSON objects. A multi-table transaction (`Catalog.tx`) needs
  * all of its claims before any becomes visible, so it claims each version
  * [[claimPending pending]]: the claim holds the staged bytes plus a
  * `"pending"` field naming the transaction. Roll-forward stops at a
  * pending claim, and a writer that loses its version to one fails at once,
  * naming the transaction. [[publish]] turns the pending field into a
  * `"txn"` field, so a committed version still names the transaction that
  * wrote it; [[release]] deletes a pending claim (a roll-back).
  */
final class CommitLog(io: TableIO, what: String, val claimPath: Long => String,
    mirror: String,
    mirrorOf: (Long, Array[Byte]) => Array[Byte] = (v, _) => v.toString.getBytes("UTF-8")) {
  import CommitLog.mapper

  /** Claim version `v` with `bytes` and point the mirror at it. */
  def commit(v: Long, bytes: Array[Byte]): Unit = {
    claim(v, bytes)
    io.atomicWrite(mirror, mirrorOf(v, bytes))
  }

  /** Claim version `v` for transaction `txn` without making it visible. */
  def claimPending(v: Long, bytes: Array[Byte], txn: String): Unit = {
    val n = mapper.readTree(bytes).asInstanceOf[ObjectNode]
    n.put("pending", txn)
    claim(v, CommitLog.print(n))
  }

  /** Make `txn`'s pending claim of `v` visible; a no-op once it is. */
  def publish(v: Long, txn: String): Unit =
    if (holder(v).contains((txn, true))) {
      val n = mapper.readTree(io.readBytes(claimPath(v))).asInstanceOf[ObjectNode]
      n.remove("pending")
      n.put("txn", txn)
      val bytes = CommitLog.print(n)
      io.atomicWrite(claimPath(v), bytes)
      io.atomicWrite(mirror, mirrorOf(v, bytes))
    }

  /** Delete `txn`'s pending claim of `v`; any other claim is left alone. */
  def release(v: Long, txn: String): Unit =
    if (holder(v).contains((txn, true))) io.deleteIfExists(claimPath(v))

  /** Who claimed `v`: the transaction it names ("" for a plain commit) and
    * whether the claim is still pending; None when `v` is unclaimed. */
  def holder(v: Long): Option[(String, Boolean)] = bytesAt(v).map { b =>
    val n = if (b.isEmpty) null else mapper.readTree(b)
    def field(k: String) = Option(n).flatMap(x => Option(x.get(k))).map(_.asText())
    field("pending").map(_ -> true).orElse(field("txn").map(_ -> false))
      .getOrElse("" -> false)
  }

  /** The last version of the unbroken run of committed claims after
    * `known`. */
  def rollForward(known: Long): Long = {
    var v = known
    while (holder(v + 1).exists(!_._2)) v += 1
    v
  }

  /** The latest committed version of a log whose mirror holds the version
    * number; -1 before the first commit. */
  def latest(): Long = rollForward(
    if (io.exists(mirror)) new String(io.readBytes(mirror), "UTF-8").trim.toLong
    else -1L)

  private def claim(v: Long, bytes: Array[Byte]): Unit =
    if (!io.createExclusive(claimPath(v), bytes))
      throw new ConcurrentCommitException(holder(v) match {
        case Some((txn, true)) => s"$what: version $v is held by multi-table " +
          s"transaction $txn, which has not published it — if no writer is " +
          "running that transaction, Catalog.recover() resolves it; retry after"
        case _ => s"$what: version $v was committed by another writer — " +
          "reread and retry the operation"
      })

  /** The claim of `v`, unless it is absent (or was released since). */
  private def bytesAt(v: Long): Option[Array[Byte]] =
    if (!io.exists(claimPath(v))) None
    else try Some(io.readBytes(claimPath(v)))
    catch { case _: java.io.IOException => None }
}

object CommitLog {
  private val mapper = new ObjectMapper()
  private def print(n: ObjectNode): Array[Byte] =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(n)
}
