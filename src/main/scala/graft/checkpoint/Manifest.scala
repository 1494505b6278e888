package graft.checkpoint

import scala.collection.immutable.ListMap
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.io.TableIO

final case class StageRecord(
    stage: String,
    status: String, // "complete"
    inputFingerprint: String,
    rows: Long,
    wallMs: Long,
    extra: Map[String, String])

/** The records of one committed manifest version, and the directories its
  * commit made obsolete. */
final case class Snapshot(version: Long, records: ListMap[String, StageRecord],
    drop: Set[String] = Set.empty)

/** Versioned commit log of an index directory (SURVEY.md §4.4, §7.6).
  *
  * Records carry lineage: input fingerprint, rows, wall ms, and the
  * directories the record owns (extras named `dir` or `*Dir`, relative to
  * the index directory). Restart = read the manifest, skip completed
  * stages whose input fingerprint matches.
  *
  * Crash safety is one discipline for every mutation — a build stage, an
  * append, a refresh, a compaction:
  *   - it first writes only immutable or freshly named files;
  *   - it then publishes ALL of its records in ONE [[commit]] on the
  *     [[CommitLog]] that tables and the catalog also commit through: the
  *     claim `commits/v{N+1}` holds the full manifest bytes, and
  *     `manifest.json` mirrors them. Exactly one writer wins each version;
  *     the loser gets a [[ConcurrentCommitException]], so no record is ever
  *     dropped. [[snapshot]] rolls forward past a lost mirror write;
  *   - a crash before the claim leaves files that a retry overwrites; a
  *     retry after it is a no-op, matched by fingerprint.
  * The reference makes a transaction durable the same way: one commit
  * record in its WAL (log_serializer_task.cpp), not a chain of step
  * records.
  *
  * A commit deletes the directories its base named and the new version no
  * longer does; it records them, and the next commit carries over any
  * still on disk (a dir it names again excepted), which finishes a
  * deletion a crash interrupted; [[finishDrop]] is the same rule for a
  * retry that finds its work committed and so commits nothing. A
  * superseded claim keeps its file (it still locks its version number)
  * but not its bytes, so the log costs one manifest plus an empty file per
  * version on disk.
  */
final class Manifest(val indexDir: String) {
  private val io = Manifest.io(indexDir)
  private val mirror = s"$indexDir/manifest.json"
  private val log = new CommitLog(io, s"index $indexDir",
    v => s"$indexDir/commits/v$v", mirror, (_, bytes) => bytes)

  /** The latest committed version. */
  def snapshot(): Snapshot = {
    val m = if (io.exists(mirror)) Manifest.parse(indexDir, io.readBytes(mirror))
      else Snapshot(0L, ListMap.empty)
    val v = log.rollForward(m.version)
    if (v == m.version) m
    else {
      val bytes = io.readBytes(log.claimPath(v))
      // emptied by a newer commit since the scan above: look again
      if (bytes.isEmpty) snapshot() else Manifest.parse(indexDir, bytes)
    }
  }

  def read(): ListMap[String, StageRecord] = snapshot().records

  def isComplete(stage: String, inputFingerprint: String): Boolean =
    get(stage).exists(r =>
      r.status == "complete" && r.inputFingerprint == inputFingerprint)

  def get(stage: String): Option[StageRecord] = read().get(stage)

  /** Publish `records` — the complete record set — as the version after
    * `base`, then delete every directory `base` names and `records` no
    * longer do. Throws [[ConcurrentCommitException]] when another
    * writer committed that version first. */
  def commit(base: Snapshot, records: ListMap[String, StageRecord]): Snapshot = {
    // the dirs base names, plus those base's own commit failed to delete
    val old = Manifest.dirs(base.records) ++
      base.drop.filter(d => io.exists(s"$indexDir/$d"))
    val next = Snapshot(base.version + 1, records, Manifest.obsolete(old, records))
    log.commit(next.version, Manifest.serialize(next))
    if (base.version > 0)
      io.atomicWrite(log.claimPath(base.version), Array.emptyByteArray)
    next.drop.foreach(d => io.deleteRecursively(s"$indexDir/$d"))
    next
  }

  /** Delete what the latest commit dropped and a crash left on disk — the
    * retry-side half of the carry-over in [[commit]]: a retry that finds
    * its work committed commits nothing, so no next commit would. */
  def finishDrop(): Unit = snapshot().drop.map(d => s"$indexDir/$d")
    .filter(io.exists).foreach(io.deleteRecursively)

  /** Commit `recs` on top of the latest version, keeping its other records. */
  def commit(recs: StageRecord*): Snapshot = {
    val base = snapshot()
    commit(base, base.records ++ recs.map(r => r.stage -> r))
  }
}

object Manifest {
  /** Manifest layout version: 2 = commit log + named directories. */
  private val Layout = 2
  private val mapper = new ObjectMapper()

  /** Wraps the storage of every index directory; tests substitute a
    * fault-injecting [[TableIO]] here. */
  @volatile private[graft] var wrapIO: TableIO => TableIO = identity

  /** The storage of an index directory: every file operation of the index
    * layer goes through it (a URI selects the Hadoop stack). */
  def io(indexDir: String): TableIO = wrapIO(TableIO.forPath(indexDir,
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())))

  /** True when `indexDir` holds a manifest of an older layout. */
  def olderFormat(indexDir: String): Boolean = {
    val io = Manifest.io(indexDir)
    val mirror = s"$indexDir/manifest.json"
    io.exists(mirror) && layout(mapper.readTree(io.readBytes(mirror))) != Layout
  }

  private def layout(root: JsonNode): Int =
    Option(root.get("version")).map(_.asInt()).getOrElse(0)

  private def isDir(key: String) = key == "dir" || key.endsWith("Dir")

  /** Directories records own, relative to their index directory. */
  private def dirs(records: ListMap[String, StageRecord]): Set[String] =
    records.values.flatMap(_.extra.collect { case (k, v) if isDir(k) => v }).toSet

  /** `r` with the directories it owns moved under `root` — a sub-index
    * record adopted by the index containing it. */
  def relocate(r: StageRecord, root: String): StageRecord =
    r.copy(extra = r.extra.map { case (k, v) =>
      k -> (if (isDir(k)) s"$root/$v" else v) })

  /** Which of `old` to delete under `records`: each directory they do not
    * name, widened to its topmost ancestor holding nothing they name (a
    * whole sub-index, not just its named parts). */
  private def obsolete(old: Set[String],
      records: ListMap[String, StageRecord]): Set[String] = {
    val keep = dirs(records)
    def live(p: String) = keep.exists(q =>
      q == p || q.startsWith(s"$p/") || p.startsWith(s"$q/"))
    old.filterNot(live).map { p =>
      val parts = p.split('/')
      (1 to parts.length).map(parts.take(_).mkString("/")).find(!live(_)).get
    }
  }

  private def serialize(s: Snapshot): Array[Byte] = {
    val root = mapper.createObjectNode()
    root.put("version", Layout)
    root.put("commit", s.version)
    val stages = root.putObject("stages")
    s.records.foreach { case (name, r) =>
      val n = stages.putObject(name)
      n.put("status", r.status)
      n.put("inputFingerprint", r.inputFingerprint)
      n.put("rows", r.rows)
      n.put("wallMs", r.wallMs)
      val e = n.putObject("extra")
      r.extra.toSeq.sortBy(_._1).foreach { case (k, v) => e.put(k, v) }
    }
    val drop = root.putArray("drop")
    s.drop.toSeq.sorted.foreach(d => drop.add(d))
    mapper.writeValueAsBytes(root)
  }

  private def parse(indexDir: String, bytes: Array[Byte]): Snapshot = {
    val root = mapper.readTree(bytes)
    if (layout(root) != Layout)
      throw new IllegalStateException(s"index at $indexDir was written by an " +
        "older index format; rebuild this index")
    def fields(n: JsonNode): Seq[String] = {
      val b = Seq.newBuilder[String]
      n.fieldNames().forEachRemaining(k => b += k)
      b.result()
    }
    val stages = root.get("stages")
    val drop = root.get("drop")
    Snapshot(root.get("commit").asLong(), ListMap.from(fields(stages).map { name =>
      val n = stages.get(name)
      val e = n.get("extra")
      name -> StageRecord(name, n.get("status").asText(),
        n.get("inputFingerprint").asText(), n.get("rows").asLong(),
        n.get("wallMs").asLong(), fields(e).map(k => k -> e.get(k).asText()).toMap)
    }), (0 until drop.size()).map(drop.get(_).asText()).toSet)
  }
}
