package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.ListMap
import com.fasterxml.jackson.databind.ObjectMapper
import graft.checkpoint.{CommitLog, ConcurrentCommitException}
import graft.io.TableIO

/** Catalog-level snapshots: MULTI-TABLE atomic transactions over TableOps
  * tables — the cross-table half of the reference's transaction surface
  * (transaction_manager.h: one txn timestamp spans every table it touches;
  * the TPC-C NewOrder writes warehouse+district+orders+lineitem as one
  * unit).
  *
  * Model (the Iceberg/Nessie multi-table-commit design): a CATALOG version
  * is a JSON map tableName → tableVersion, committed on the same
  * [[graft.checkpoint.CommitLog]] as table manifests (`cat-vN.json` is the
  * claim, `current` its mirror). A multi-table transaction stages every
  * table's work through the per-table Transaction machinery, then commits
  * with the smallest extension of that log:
  *
  *   1. write an INTENT record: the transaction id and the version it will
  *      claim in each table;
  *   2. CLAIM every table's version with its staged manifest, marked
  *      pending with the txn id — all-or-nothing: a conflict releases the
  *      claims already taken, deletes the intent and rethrows, and nothing
  *      is visible anywhere. Readers and roll-forward stop at a pending
  *      version, and a single-table writer that meets one fails at once;
  *   3. PUBLISH every claim (drop the pending mark; the manifest keeps the
  *      txn id);
  *   4. flip the catalog — retried past concurrent register() flips,
  *      merging per-entry with max() so a mapping never regresses;
  *   5. delete the intent.
  *
  * The pending claims hold the redo content, so a crash at ANY point leaves
  * a state `recover()` resolves exactly: if every intended version is
  * claimed by this txn, roll FORWARD (publish, flip, drop the intent);
  * otherwise roll BACK (delete only the pending claims carrying this txn id,
  * drop the intent). A foreign writer's commit at an intended version
  * carries no such id, so recovery never adopts it.
  *
  * Declared visibility boundary (not an accident): per-table commits are
  * individually durable, so a reader going DIRECTLY to a table (plain
  * TableOps.read) can observe table A's new version while the catalog
  * still maps the pre-transaction snapshot — per-table read-committed, the
  * same two-level reality Iceberg has between a table's metadata files and
  * the catalog that names the current one. Cross-table atomicity is a
  * property of catalog-resolved reads.
  *
  * `recover()` is an administrative operation: run it when no writer that
  * could own the surviving intents is still alive (the standard recovery
  * contract — a WAL replay makes the same assumption).
  *
  * Lifecycle caveat: TableOps.expire() reasons about per-table history
  * only; expiring a table version an OLD catalog snapshot still maps
  * breaks readAt() for that snapshot (the standard Iceberg caveat —
  * snapshot expiration bounds catalog time travel). Keep at least as many
  * table versions as the catalog history you want replayable. */
final class Catalog(spark: SparkSession, root: String, io: TableIO) {

  def this(spark: SparkSession, root: String) =
    this(spark, root, TableIO.forPath(root, spark.sessionState.newHadoopConf()))

  /** The underlying per-table store (shared layout: catalog tables are
    * ordinary TableOps tables plus a `_catalog/` namespace). */
  val tables = new TableOps(spark, root, io)

  private val mapper = new ObjectMapper()
  private def catDir: String = s"$root/_catalog"
  private def catPath(v: Long): String = s"$catDir/cat-v$v.json"
  private val log = new CommitLog(io, s"catalog $root", catPath, s"$catDir/current")
  private def intentPath(id: String): String = s"$catDir/intents/$id.json"

  def currentCatalogVersion: Long = log.latest()

  private def readCat(v: Long): ListMap[String, Long] = {
    val p = catPath(v)
    require(io.exists(p), s"no catalog version $v under $root")
    val n = mapper.readTree(io.readBytes(p))
    var m = ListMap.empty[String, Long]
    val it = n.get("tables").fieldNames()
    while (it.hasNext) { val k = it.next(); m += k -> n.get("tables").get(k).asLong() }
    m
  }

  private def serializeCat(v: Long, m: Map[String, Long]): Array[Byte] = {
    val node = mapper.createObjectNode()
    node.put("version", v)
    val t = node.putObject("tables")
    m.foreach { case (k, tv) => t.put(k, tv) }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node)
  }

  private def commitCat(v: Long, m: Map[String, Long]): Unit =
    log.commit(v, serializeCat(v, m))

  /** Snapshot a table's CURRENT version into the catalog (CREATE/REGISTER).
    * Returns the new catalog version. */
  def register(table: String): Long = {
    val tv = tables.currentVersion(table)
    require(tv >= 0, s"table $table does not exist under $root")
    val cv = currentCatalogVersion
    val base = if (cv >= 0) readCat(cv) else ListMap.empty[String, Long]
    val next = cv + 1
    commitCat(next, base + (table -> tv))
    next
  }

  /** Remove a table from the catalog's namespace (a new catalog snapshot
    * without it); the table itself and its history are untouched —
    * dropping the data is TableOps.dropTable's job, after unregistering. */
  def unregister(table: String): Long = {
    val cv = currentCatalogVersion
    require(cv >= 0, s"catalog is empty under $root")
    val base = readCat(cv)
    require(base.contains(table), s"table $table is not in the catalog")
    val next = cv + 1
    commitCat(next, base - table)
    next
  }

  /** Tables the CURRENT catalog snapshot maps, with their versions. */
  def listTables(): Map[String, Long] = {
    val cv = currentCatalogVersion
    if (cv < 0) Map.empty else readCat(cv)
  }

  def tableVersion(table: String): Long = {
    val cv = currentCatalogVersion
    require(cv >= 0, s"catalog is empty under $root")
    readCat(cv).getOrElse(table,
      throw new IllegalArgumentException(s"table $table is not in the catalog"))
  }

  /** Catalog-resolved read: the version the CURRENT catalog snapshot maps,
    * regardless of per-table pointers — the atomic cross-table view. */
  def read(table: String): DataFrame =
    tables.readVersion(table, tableVersion(table))

  /** Catalog time travel: the whole multi-table state as of catalog
    * version `cv`. */
  def readAt(cv: Long, table: String): DataFrame = {
    val m = readCat(cv)
    tables.readVersion(table, m.getOrElse(table,
      throw new IllegalArgumentException(
        s"table $table is not in catalog version $cv")))
  }

  /** A multi-table transaction: per-table staging through the existing
    * Transaction machinery (insert/update/delete/merge/addColumn/
    * dropColumn all compose), committed under ONE catalog flip. */
  final class MultiTx private[Catalog] () {
    private[Catalog] var txs = ListMap.empty[String, tables.Transaction]

    /** The staging handle for `table` (opened lazily; the table must be
      * registered in the catalog so the flip can cover it). */
    def on(table: String): tables.Transaction = txs.getOrElse(table, {
      tableVersion(table) // must be catalog-managed
      val t = tables.begin(table)
      txs += table -> t
      t
    })

    def rollback(): Nothing = throw new TableOps.TransactionAborted("catalog")

    /** Tables with staged work, in first-touch order. */
    def stagedTables: Seq[String] = txs.keys.toSeq
  }

  /** Run `body` as ONE atomic multi-table transaction; returns the new
    * catalog version. Any exception out of the body aborts: nothing is
    * committed anywhere and staged files are vacuumable orphans. A claim
    * conflict (another writer committed one of the target table versions
    * first) also aborts cleanly — own claims released, intent deleted —
    * and throws ConcurrentCommitException: rerun the whole transaction
    * against the new state. Once every claim is held the transaction can
    * no longer fail short of a crash, and a crash from there is rolled
    * FORWARD by recover() from the pending claims. */
  def tx(body: MultiTx => Unit): Long = {
    val t = beginMulti()
    body(t)
    commitMulti(t)
  }

  /** Session-style begin (the SQL front door's `BEGIN CATALOG`): stage
    * per-table work on the returned handle, then [[commitMulti]] — the
    * exact commit path [[tx]] uses. An abandoned handle commits nothing
    * (staged files are vacuumable orphans). */
  def beginMulti(): MultiTx = {
    require(currentCatalogVersion >= 0,
      s"catalog is empty under $root — register tables first")
    new MultiTx()
  }

  /** Commit a [[beginMulti]] handle: intent → pending claims → publishes →
    * one catalog flip (the [[tx]] protocol, steps 1-5). */
  def commitMulti(t: MultiTx): Long = {
    require(t.txs.nonEmpty, "transaction touched no tables")
    val txnId = java.util.UUID.randomUUID.toString
    val versions = t.txs.map { case (name, tr) => name -> tr.stagedVersion }
    val node = mapper.createObjectNode()
    node.put("txnId", txnId)
    val tn = node.putObject("tables")
    versions.foreach { case (name, v) => tn.put(name, v) }
    io.atomicWrite(intentPath(txnId),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
    try t.txs.foreach { case (name, tr) => tables.claimStaged(name, tr, txnId) }
    catch { case e: ConcurrentCommitException =>
      rollBack(txnId, versions)
      throw e
    }
    rollForward(txnId, versions)
  }

  private def rollForward(txnId: String, versions: ListMap[String, Long]): Long = {
    versions.foreach { case (t, v) => tables.log(t).publish(v, txnId) }
    val cv = flipCatalog(versions)
    io.deleteIfExists(intentPath(txnId))
    cv
  }

  private def rollBack(txnId: String, versions: ListMap[String, Long]): Unit = {
    versions.foreach { case (t, v) => tables.log(t).release(v, txnId) }
    io.deleteIfExists(intentPath(txnId))
  }

  /** Advance the catalog to cover `intended`, retrying past concurrent
    * register()/unregister() flips (the per-table commits already won, so
    * the flip MUST land). Per-entry max() merge: a mapping never moves
    * backward, even if a later register() published a newer version of one
    * of the tables while we were committing. */
  private def flipCatalog(intended: Map[String, Long]): Long = {
    while (true) {
      val cv = currentCatalogVersion
      val cur = readCat(cv)
      if (intended.forall { case (k, v) => cur.get(k).exists(_ >= v) })
        return cv // already covered (recovery rerun, or raced past us)
      val merged = cur ++ intended.map { case (k, v) =>
        k -> math.max(cur.getOrElse(k, -1L), v)
      }
      try { commitCat(cv + 1, merged); return cv + 1 }
      catch { case _: ConcurrentCommitException => () /* retry */ }
    }
    -1L // unreachable
  }

  /** Catalog-history expiration (the catalog twin of TableOps.expire):
    * drop every catalog snapshot older than the newest `keepVersions`.
    * Table manifests and data are NOT touched — run TableOps.expire per
    * table afterwards, keeping at least the table
    * versions the kept catalog window still maps (see the lifecycle
    * caveat above). Returns the expired-snapshot count. */
  def expireCatalog(keepVersions: Int): Int = {
    require(keepVersions >= 1, "must keep at least the current snapshot")
    val cur = currentCatalogVersion
    require(cur >= 0, s"catalog is empty under $root")
    val keepFrom = math.max(0L, cur - keepVersions + 1)
    var n = 0
    (0L until keepFrom).foreach { v =>
      if (io.deleteIfExists(catPath(v))) n += 1
    }
    n
  }

  /** Resolve every surviving intent record (crash recovery; run with no
    * live writer that could own them — see the class doc): roll FORWARD
    * when this txn claimed every version it intended (pending or already
    * published), else roll BACK. Idempotent: a crash during recovery
    * re-resolves to the same outcome. Returns (rolledForward, rolledBack). */
  def recover(): (Int, Int) = {
    var forward = 0
    var back = 0
    io.list(s"$catDir/intents").filter(_.endsWith(".json")).foreach { name =>
      val n = mapper.readTree(io.readBytes(s"$catDir/intents/$name"))
      val txnId = n.get("txnId").asText()
      var versions = ListMap.empty[String, Long]
      n.get("tables").fieldNames().forEachRemaining(k =>
        versions += k -> n.get("tables").get(k).asLong())
      if (versions.forall { case (t, v) =>
          tables.log(t).holder(v).exists(_._1 == txnId) }) {
        rollForward(txnId, versions); forward += 1
      } else {
        rollBack(txnId, versions); back += 1
      }
    }
    (forward, back)
  }
}
