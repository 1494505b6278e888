package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SQL front door over the managed-table surface — entry-point-A parity
  * with the reference's statement session (TrafficCop::ParseQuery,
  * src/traffic_cop/traffic_cop.cpp:248-258: every statement class arrives
  * as a SQL string and is dispatched to the engine). SELECT was already
  * reachable through spark.sql (q60/q61); this class closes the rest:
  * DML (INSERT/UPDATE/DELETE/MERGE), DDL (CREATE TABLE AS / ALTER ADD+DROP
  * COLUMN / TRUNCATE / DROP TABLE / CREATE+DROP VIEW) and transaction
  * control (BEGIN/COMMIT/ROLLBACK) against TableOps snapshot tables.
  *
  * Division of labor, deliberately Spark-first: everything EXPRESSION-
  * shaped (predicates, set-expressions, VALUES rows, subqueries) is handed
  * to Spark's own parser via expr()/spark.sql — this class only recognizes
  * the statement SKELETON and dispatches to the snapshot layer, exactly
  * the role the reference's traffic cop plays above its binder. Statement
  * grammar (case-insensitive, one statement per call):
  *
  *   CREATE TABLE t AS <select>
  *   INSERT INTO t <select>            | INSERT INTO t VALUES (...), (...)
  *   UPDATE t SET c1 = e1[, c2 = e2 …] WHERE <cond>
  *   DELETE FROM t WHERE <cond>
  *   MERGE INTO t USING (<select>) ON k
  *     [WHEN MATCHED THEN UPDATE SET c1[, c2 …]]
  *     WHEN NOT MATCHED THEN INSERT ALL
  *   ALTER TABLE t ADD COLUMN c DEFAULT <expr> | ALTER TABLE t DROP COLUMN c
  *   TRUNCATE TABLE t | DROP TABLE t
  *   COMPACT TABLE t [SORT BY c1[, c2 …] [ZORDER]]
  *   EXPIRE TABLE t KEEP n | VACUUM TABLE t [MIN AGE ms]
  *   CHANGES t FROM v1 TO v2      (net row diff between snapshots)
  *   SHOW TABLES | DESCRIBE t | SHOW HISTORY t
  *   CREATE [OR REPLACE] VIEW v AS <select> | DROP VIEW v
  *   CREATE [OR REPLACE] FUNCTION f(params) RETURNS type RETURN <expr>
  *   DROP FUNCTION f
  *   CREATE [OR REPLACE] TRIGGER tr AFTER INSERT|UPDATE|DELETE ON t
  *     EXECUTE <statement>
  *   DROP TRIGGER tr
  *   CREATE SEARCH INDEX idx ON t [WITH POSITIONS] | DROP SEARCH INDEX idx
  *   REFRESH SEARCH INDEX idx       | SEARCH idx 'text' [TOP k]
  *   SEARCH idx 'pre*' [TOP k]          (wildcard: lexicon expansion)
  *   SEARCH idx '+must term -not' [TOP k]   (boolean retrieval)
  *   SEARCH idx PHRASE 'text' [TOP k]   (needs WITH POSITIONS)
  *   SEARCH idx 'text' WHERE <pred> [TOP k]   (attribute-filtered;
  *                                  composes with 'pre*' and +/- forms)
  *   COMPACT SEARCH INDEX idx           (reclaim tombstones)
  *   SEARCH idx 'text' FACET col        (full-match-set counts)
  *   BEGIN | BEGIN CATALOG | COMMIT | ROLLBACK
  *   <select>  (managed tables referenced by name resolve to their
  *              current snapshot; inside a transaction, to its
  *              read-your-writes state; `t VERSION AS OF n` reads the
  *              historical snapshot — Delta's time-travel syntax)
  *
  * Transactions are the single-table TableOps.tx surface (the reference's
  * Begin/Commit/Abort): BEGIN opens a lazy transaction bound to the first
  * table a DML statement touches; COMMIT publishes ONE version; ROLLBACK
  * (or a failed statement) discards the staged state. A CATALOG-backed
  * session (constructed with a [[Catalog]]) additionally supports
  * `BEGIN CATALOG`: DML may touch ANY registered table, reads follow the
  * per-table staged state, and COMMIT runs the full multi-table protocol
  * (intent → claims → publishes → ONE catalog flip) — the reference's
  * one-timestamp-spans-every-table transaction model, SQL-reachable.
  * Without a catalog, a plain BEGIN stays bound to one table and says so
  * loudly on a second.
  *
  * Functions are Spark's native SQL UDFs with the definition PERSISTED in
  * the table store (the PL/pgSQL CREATE FUNCTION role — embryonic in the
  * reference, README.md:29); any session's SELECT re-registers referenced
  * stored functions on demand. Triggers are statement-level AFTER triggers,
  * EXECUTED here (the reference only parses them, postgresparser.cpp:1236):
  * after each standalone DML commits, the matching triggers' statements run
  * as further front-door statements in name order, with INSERT's new rows
  * visible as an `inserted` transition view. Declared boundaries: triggers
  * do not fire for DML staged inside BEGIN…COMMIT (the reference never
  * fires them at all), no OLD transition table, and trigger cascades cap
  * at depth 8 (a cycle fails the originating statement).
  *
  * Search indexes are the reference's CREATE INDEX + maintained-index
  * surface (it creates BwTree/hash indexes via DDL and updates them inside
  * every compiled DML pipeline — builtins.h:229-231 IndexInsert/
  * IndexDelete): CREATE SEARCH INDEX registers a full-text index over a
  * managed table ([[graft.index.TableIndexer]]); every standalone DML
  * commit (and every COMMIT of a bound transaction) synchronously
  * refreshes the table's indexes BEFORE triggers fire, so SEARCH — and any
  * trigger statement — always reads the just-committed snapshot. */
final class GraftSql(spark: SparkSession, val ops: TableOps,
    catalog: Option[Catalog] = None) {

  // the catalog's store and this session's must be the SAME instance: a
  // multi-table transaction's staged handles are the store's Transaction
  // objects, and two stores over one root would race their caches
  require(catalog.forall(_.tables eq ops),
    "GraftSql catalog must wrap the session's own TableOps instance")

  /** A catalog-backed SQL session (`BEGIN CATALOG` enabled). */
  def this(spark: SparkSession, catalog: Catalog) =
    this(spark, catalog.tables, Some(catalog))

  /** (table, staged transaction) while inside BEGIN…COMMIT. */
  private var active: Option[(String, ops.Transaction)] = None

  /** Stable path for the catalog's inner types (null when the session has
    * no catalog — only ever dereferenced behind a BEGIN CATALOG guard). */
  private val cat: Catalog = catalog.orNull

  /** The open multi-table (catalog) transaction, if any — per-table
    * staging handles live inside it, keyed by table. */
  private var activeMulti: Option[cat.MultiTx] = None

  def inTransaction: Boolean = active.isDefined || activeMulti.isDefined

  /** The multi-tx staging handle for `table` (typed to THIS session's
    * store — sound because the constructor pins `catalog.tables eq ops`). */
  private def multiOn(table: String): ops.Transaction =
    activeMulti.get.on(table).asInstanceOf[ops.Transaction]

  private def multiTables: Seq[String] =
    activeMulti.get.stagedTables

  private val CreateTableAs =
    """(?is)^\s*CREATE\s+TABLE\s+(\w+)\s+AS\s+(.*)$""".r
  private val InsertSelect =
    """(?is)^\s*INSERT\s+INTO\s+(\w+)\s+(SELECT\b.*|WITH\b.*)$""".r
  private val InsertValues =
    """(?is)^\s*INSERT\s+INTO\s+(\w+)\s+VALUES\s+(.*)$""".r
  // the SET/WHERE boundary is found by a quote-aware scan (not the regex):
  // a SET expression may contain the word WHERE inside a string literal
  private val Update =
    """(?is)^\s*UPDATE\s+(\w+)\s+SET\s+(.*)$""".r
  private val Delete =
    """(?is)^\s*DELETE\s+FROM\s+(\w+)\s+WHERE\s+(.*)$""".r
  private val Merge =
    ("""(?is)^\s*MERGE\s+INTO\s+(\w+)\s+USING\s+\((.*)\)\s+ON\s+(\w+)\s*""" +
      """(?:WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+([\w\s,]*?)\s*)?""" +
      """WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+ALL\s*$""").r
  private val AlterAdd =
    """(?is)^\s*ALTER\s+TABLE\s+(\w+)\s+ADD\s+COLUMN\s+(\w+)\s+DEFAULT\s+(.*)$""".r
  private val AlterDrop =
    """(?is)^\s*ALTER\s+TABLE\s+(\w+)\s+DROP\s+COLUMN\s+(\w+)\s*$""".r
  private val Truncate = """(?is)^\s*TRUNCATE\s+TABLE\s+(\w+)\s*$""".r
  private val DropTable = """(?is)^\s*DROP\s+TABLE\s+(\w+)\s*$""".r
  private val CreateView =
    """(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(\w+)\s+AS\s+(.*)$""".r
  private val DropView = """(?is)^\s*DROP\s+VIEW\s+(\w+)\s*$""".r
  private val CreateFunction =
    """(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?FUNCTION\s+(\w+)\s*(\(.*)$""".r
  private val DropFunction = """(?is)^\s*DROP\s+FUNCTION\s+(\w+)\s*$""".r
  private val CreateTrigger =
    ("""(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?TRIGGER\s+(\w+)\s+AFTER\s+""" +
      """(INSERT|UPDATE|DELETE)\s+ON\s+(\w+)\s+EXECUTE\s+(.*)$""").r
  private val DropTrigger = """(?is)^\s*DROP\s+TRIGGER\s+(\w+)\s*$""".r
  private val CreateSearchIndex =
    """(?is)^\s*CREATE\s+SEARCH\s+INDEX\s+(\w+)\s+ON\s+(\w+)(\s+WITH\s+POSITIONS)?\s*$""".r
  private val DropSearchIndex =
    """(?is)^\s*DROP\s+SEARCH\s+INDEX\s+(\w+)\s*$""".r
  private val RefreshSearchIndex =
    """(?is)^\s*REFRESH\s+SEARCH\s+INDEX\s+(\w+)\s*$""".r
  private val CompactSearchIndex =
    """(?is)^\s*COMPACT\s+SEARCH\s+INDEX\s+(\w+)\s*$""".r
  private val Search =
    """(?is)^\s*SEARCH\s+(\w+)\s+'([^']*)'(?:\s+TOP\s+(\d+))?\s*$""".r
  private val SearchPhrase =
    """(?is)^\s*SEARCH\s+(\w+)\s+PHRASE\s+'([^']*)'(?:\s+TOP\s+(\d+))?\s*$""".r
  private val SearchPhraseWhere =
    """(?is)^\s*SEARCH\s+\w+\s+PHRASE\s+'[^']*'\s+WHERE\s+.*$""".r
  private val SearchWhere =
    """(?is)^\s*SEARCH\s+(\w+)\s+'([^']*)'\s+WHERE\s+(.+?)(?:\s+TOP\s+(\d+))?\s*$""".r
  private val SearchFacet =
    """(?is)^\s*SEARCH\s+(\w+)\s+'([^']*)'\s+FACET\s+(\w+)\s*$""".r
  private val CompactTableStmt =
    """(?is)^\s*COMPACT\s+TABLE\s+(\w+)(?:\s+SORT\s+BY\s+([\w\s,]+?))?(\s+ZORDER)?\s*$""".r
  private val ExpireTableStmt =
    """(?is)^\s*EXPIRE\s+TABLE\s+(\w+)\s+KEEP\s+(\d+)\s*$""".r
  private val VacuumTableStmt =
    """(?is)^\s*VACUUM\s+TABLE\s+(\w+)(?:\s+MIN\s+AGE\s+(\d+))?\s*$""".r
  private val ChangesStmt =
    """(?is)^\s*CHANGES\s+(\w+)\s+FROM\s+(\d+)\s+TO\s+(\d+)\s*$""".r
  private val ShowTables = """(?is)^\s*SHOW\s+TABLES\s*$""".r
  private val Describe = """(?is)^\s*DESCRIBE\s+(\w+)\s*$""".r
  private val ShowHistory = """(?is)^\s*SHOW\s+HISTORY\s+(\w+)\s*$""".r
  private val Begin = """(?is)^\s*BEGIN\s*$""".r
  private val BeginCatalog = """(?is)^\s*BEGIN\s+CATALOG\s*$""".r
  private val Commit = """(?is)^\s*COMMIT\s*$""".r
  private val Rollback = """(?is)^\s*ROLLBACK\s*$""".r

  /** Execute one statement. SELECTs return their result; DML/DDL return a
    * one-row (statement, table, version) acknowledgment (version -1 while
    * the effect is staged inside an open transaction). */
  def exec(sql: String): DataFrame = sql match {
    case BeginCatalog() => // before Begin: both start with BEGIN
      require(!inTransaction, "already in a transaction")
      if (cat == null) throw new IllegalStateException(
        "BEGIN CATALOG needs a catalog-backed session — construct " +
          "GraftSql with a Catalog")
      activeMulti = Some(cat.beginMulti())
      ack("BEGIN CATALOG", "", -1L)
    case Begin() =>
      require(!inTransaction, "already in a transaction")
      active = Some((null, null)) // bound lazily by the first DML statement
      ack("BEGIN", "", -1L)
    case Commit() if activeMulti.isDefined =>
      val mtx = activeMulti.get
      val tables = multiTables
      activeMulti = None
      val cv =
        if (tables.isEmpty) -1L // empty transaction: nothing staged
        else cat.commitMulti(mtx)
      tables.foreach(refreshSearchIndexes)
      ack("COMMIT", tables.mkString(","), cv)
    case Commit() =>
      val (table, tx) = activeTx("COMMIT")
      active = None
      val v = if (table == null) -1L // empty transaction: nothing staged
        else ops.commitStaged(table, tx)
      if (table != null) refreshSearchIndexes(table)
      ack("COMMIT", Option(table).getOrElse(""), v)
    case Rollback() if activeMulti.isDefined =>
      activeMulti = None // staged files become vacuumable orphans
      ack("ROLLBACK", "", -1L)
    case Rollback() =>
      activeTx("ROLLBACK")
      active = None // staged files become vacuumable orphans
      ack("ROLLBACK", "", -1L)

    case CreateTableAs(table, select) =>
      // catalog-object DDL commits immediately at store level — allowing
      // it mid-transaction would silently escape the transaction's
      // atomicity, so it is rejected instead (ALTER is the one DDL the
      // staging machinery makes genuinely transactional)
      noTx("CREATE TABLE")
      ack("CREATE TABLE", table, ops.create(table, runSelect(select)))
    case InsertSelect(table, select) =>
      // SQL INSERT matches the select list to the table POSITIONALLY.
      // Evaluated ONCE: the plan pins the pre-insert snapshot's files, so
      // the trigger transition view sees exactly the inserted rows even
      // when the select reads the target table itself.
      lazy val rows = {
        val cols = tableColumns(table)
        val df = runSelect(select)
        require(df.columns.length == cols.length,
          s"INSERT select list has ${df.columns.length} columns; " +
            s"$table has ${cols.length}")
        df.toDF(cols: _*)
      }
      dml(table, "INSERT", tx => tx.insert(rows), () => ops.insert(table, rows),
        () => Some(rows))
    case InsertValues(table, values) =>
      val cols = tableColumns(table)
      lazy val rows = spark.sql(s"SELECT * FROM VALUES $values").toDF(cols: _*)
      dml(table, "INSERT", tx => tx.insert(rows), () => ops.insert(table, rows),
        () => Some(rows))
    case Update(table, body) =>
      val wi = indexOfTopLevelWord(body, "WHERE")
      require(wi >= 0, s"UPDATE $table needs a top-level WHERE clause")
      val sets = body.substring(0, wi).trim
      val cond = body.substring(wi + "WHERE".length).trim
      val pairs = splitTopLevel(sets).map { a =>
        val i = a.indexOf('=')
        require(i > 0, s"malformed SET assignment: $a")
        (a.substring(0, i).trim, expr(a.substring(i + 1).trim))
      }
      require(pairs.nonEmpty, "UPDATE needs at least one assignment")
      val c = expr(cond)
      dml(table, "UPDATE",
        tx => tx.updateSet(c, pairs), // one scan+rewrite pass, SQL
        // simultaneous-assignment semantics (values see the pre-update row)
        () =>
          if (pairs.size == 1) ops.update(table, c, pairs.head._1, pairs.head._2)
          // several assignments publish as ONE version via a transaction
          else ops.tx(table)(tx => tx.updateSet(c, pairs)))
    case Delete(table, cond) =>
      dml(table, "DELETE", tx => tx.delete(expr(cond)),
        () => ops.delete(table, expr(cond)))
    case Merge(table, select, key, setList) =>
      val setCols =
        if (setList == null) Seq.empty
        else splitTopLevel(setList).map(_.trim).filter(_.nonEmpty)
      dml(table, "MERGE", tx => tx.merge(runSelect(select), key, setCols),
        () => ops.merge(table, runSelect(select), key, setCols))

    case AlterAdd(table, name, default) =>
      dml(table, "ALTER", tx => tx.addColumn(name, default),
        () => ops.addColumn(table, name, default))
    case AlterDrop(table, name) =>
      dml(table, "ALTER", tx => tx.dropColumn(name),
        () => ops.dropColumn(table, name))
    case Truncate(table) =>
      noTx("TRUNCATE")
      val tv = ops.truncate(table)
      refreshSearchIndexes(table)
      ack("TRUNCATE", table, tv)
    case DropTable(table) =>
      noTx("DROP TABLE")
      // TableOps cascades search-index deletion — the session caches must
      // follow, or a recreated same-named table + index could be served by
      // a stale cached Searcher (its syncedVersion is typically v0 both
      // times, so the version key alone cannot tell them apart)
      ops.searchIndexesFor(table).foreach { case (n, _) =>
        searchers.remove(n).foreach(_._2.close())
        indexers.remove(n)
      }
      ops.dropTable(table); ack("DROP TABLE", table, -1L)
    case CompactTableStmt(table, sortBy, zorder) =>
      noTx("COMPACT TABLE")
      val cols =
        if (sortBy == null) Seq.empty[String]
        else splitTopLevel(sortBy).map(_.trim).filter(_.nonEmpty)
      require(zorder == null || cols.nonEmpty,
        "COMPACT TABLE … ZORDER needs SORT BY columns (the Z-order dims)")
      val tv = ops.compactTable(table, sortBy = cols, zorder = zorder != null)
      ack("COMPACT TABLE", table, tv)
    case ExpireTableStmt(table, keep) =>
      noTx("EXPIRE TABLE")
      val (vs, fs) = ops.expire(table, keep.toInt)
      ack(s"EXPIRE TABLE ($vs snapshots, $fs files)", table,
        ops.currentVersion(table))
    case VacuumTableStmt(table, age) =>
      noTx("VACUUM TABLE")
      val n = ops.vacuum(table,
        if (age == null) TableOps.DefaultVacuumAgeMs else age.toLong)
      ack(s"VACUUM ($n files)", table, ops.currentVersion(table))
    case ChangesStmt(table, fromV, toV) =>
      // read-only over committed snapshots — legal inside a transaction too
      ops.changes(table, fromV.toLong, toV.toLong)
    case ShowTables() => {
      import spark.implicits._
      ops.listTables().sorted
        .map(t => (t, ops.currentVersion(t)))
        .toDF("table", "version")
    }
    case Describe(table) => {
      import spark.implicits._
      ops.read(table).schema.fields.toSeq
        .map(f => (f.name, f.dataType.simpleString))
        .toDF("col_name", "data_type")
    }
    case ShowHistory(table) => {
      import spark.implicits._
      val cur = ops.currentVersion(table)
      require(cur >= 0, s"table $table does not exist")
      // versions that survived expire(): a manifest on disk = readable
      (0L to cur).filter(v => ops.manifestExistsAt(table, v))
        .map(v => (v, ops.dataFiles(table, v).size.toLong))
        .toDF("version", "data_files")
    }
    case CreateView(replace, name, select) =>
      noTx("CREATE VIEW") // store-level DDL: immediate, so not in a tx
      val table = referencedManagedTables(select).headOption.getOrElse(
        throw new IllegalArgumentException(
          s"view $name references no managed table"))
      ops.createView(name, table, select, replace = replace != null)
      ack("CREATE VIEW", name, -1L)
    case DropView(name) =>
      noTx("DROP VIEW")
      ops.dropView(name); ack("DROP VIEW", name, -1L)
    case CreateFunction(replace, name, definition) =>
      noTx("CREATE FUNCTION")
      ops.createFunction(name, definition, replace = replace != null)
      ack("CREATE FUNCTION", name, -1L)
    case DropFunction(name) =>
      noTx("DROP FUNCTION")
      ops.dropFunction(name); ack("DROP FUNCTION", name, -1L)
    case CreateTrigger(replace, name, event, table, statement) =>
      noTx("CREATE TRIGGER")
      ops.createTrigger(name, table, event, statement,
        replace = replace != null)
      ack("CREATE TRIGGER", name, -1L)
    case DropTrigger(name) =>
      noTx("DROP TRIGGER")
      ops.dropTrigger(name); ack("DROP TRIGGER", name, -1L)

    case CreateSearchIndex(name, table, positions) =>
      noTx("CREATE SEARCH INDEX")
      val dir = ops.createSearchIndex(name, table)
      indexerFor(name, dir).create(table, positions = positions != null)
      ack("CREATE SEARCH INDEX", name, -1L)
    case DropSearchIndex(name) =>
      searchers.remove(name).foreach(_._2.close())
      indexers.remove(name)
      ops.dropSearchIndex(name)
      ack("DROP SEARCH INDEX", name, -1L)
    case RefreshSearchIndex(name) =>
      noTx("REFRESH SEARCH INDEX")
      val (table, dir) = ops.searchIndexMeta(name)
      indexerFor(name, dir).refresh(table)
      ack("REFRESH SEARCH INDEX", name, -1L)
    case CompactSearchIndex(name) =>
      // reclaim tombstones: rebuild of the live snapshot adopted in one
      // manifest commit (TableIndexer.compact — results bit-identical)
      noTx("COMPACT SEARCH INDEX")
      val (table, dir) = ops.searchIndexMeta(name)
      indexerFor(name, dir).compact(table)
      // the rebuild renumbers docIds at an UNCHANGED synced version, so
      // the version-keyed searcher cache must be dropped explicitly —
      // a stale searcher would join old docIds against the new docs table
      searchers.remove(name).foreach(_._2.close())
      ack("COMPACT SEARCH INDEX", name, -1L)
    case SearchPhrase(name, text, k) => // before Search: both begin SEARCH
      searchPhrase(name, text, if (k == null) 10 else k.toInt)
    case SearchPhraseWhere() =>
      // declared boundary, rejected here so it cannot fall through to the
      // SELECT path and die with an unrelated parse error
      throw new IllegalArgumentException(
        "PHRASE does not compose with WHERE — filter the phrase results " +
          "by joining SEARCH output to the table, or use term search")
    case SearchFacet(name, text, facetCol) =>
      searchFacet(name, text, facetCol)
    case SearchWhere(name, text, pred, k) =>
      searchWhere(name, text, pred, if (k == null) 10 else k.toInt)
    case Search(name, text, k) =>
      search(name, text, if (k == null) 10 else k.toInt)

    case select =>
      statsOnlyAgg(select).getOrElse(runSelect(select))
  }

  // --- metadata-only aggregates -------------------------------------------
  // `SELECT count(*) / min(c) / max(c) FROM t` (no WHERE/GROUP BY) over a
  // managed table is answered from MANIFEST stats alone — zero Spark scan,
  // zero file opens (Iceberg's metadata-only scan; Spark's own parquet
  // aggregate pushdown still opens every footer). Strictly exact or
  // declined: count needs per-file row counts on every file; min/max needs
  // exact-typed bounds (integers/decimals) — anything else, any
  // schema-evolution fill, or an open transaction falls through to the
  // normal scan path. The served plan is a LocalRelation (GraftSqlSpec
  // pins: no FileSourceScan in the executed plan, values == scan twin).
  private val AggOverTable =
    """(?is)^\s*SELECT\s+(.+?)\s+FROM\s+(\w+)\s*$""".r
  private val CountItem =
    """(?i)^COUNT\s*\(\s*\*\s*\)(?:\s+AS\s+(\w+))?$""".r
  private val MinMaxItem =
    """(?i)^(MIN|MAX)\s*\(\s*(\w+)\s*\)(?:\s+AS\s+(\w+))?$""".r

  private def statsOnlyAgg(select: String): Option[DataFrame] = {
    if (inTransaction) return None // read-your-writes state isn't on disk
    val (items, table) = select match {
      case AggOverTable(list, t) if ops.listTables().contains(t) =>
        (splitTopLevel(list), t)
      case _ => return None
    }
    if (items.isEmpty) return None
    val exprs = items.map {
      case CountItem(alias) =>
        val n = ops.rowCountFromStats(table).getOrElse(return None)
        s"CAST($n AS BIGINT) AS ${if (alias != null) alias else "`count(1)`"}"
      case MinMaxItem(fn, col, alias) =>
        val (mn, mx, typ) = ops.minMaxFromStats(table, col)
          .getOrElse(return None)
        val bound = if (fn.equalsIgnoreCase("MIN")) mn else mx
        val v = bound.map(b => s"CAST('$b' AS $typ)")
          .getOrElse(s"CAST(NULL AS $typ)")
        val name = if (alias != null) alias
          else s"`${fn.toLowerCase}($col)`"
        s"$v AS $name"
      case _ => return None
    }
    Some(spark.sql(s"SELECT ${exprs.mkString(", ")}"))
  }

  private def ack(stmt: String, table: String, version: Long): DataFrame = {
    import spark.implicits._
    Seq((stmt, table, version)).toDF("statement", "table", "version")
  }

  private def activeTx(what: String): (String, ops.Transaction) =
    active.getOrElse(throw new IllegalStateException(s"$what outside a transaction"))

  private def noTx(what: String): Unit =
    require(!inTransaction, s"$what is not allowed inside a transaction")

  /** Route a DML statement: staged into the open transaction (bound to its
    * first table, triggers deferred out — declared boundary) or committed
    * standalone, in which case matching AFTER triggers fire. */
  private def dml(table: String, stmt: String,
      staged: ops.Transaction => Unit, standalone: () => Long,
      transition: () => Option[DataFrame] = () => None): DataFrame =
    if (activeMulti.isDefined) {
      // catalog transaction: any registered table may be touched; the
      // handle is opened on first touch and commits under ONE catalog flip
      staged(multiOn(table))
      ack(stmt, table, -1L)
    } else active match {
      case Some((bound, tx0)) =>
        val tx = if (bound == null) {
          val t = ops.begin(table)
          active = Some((table, t))
          t
        } else {
          require(bound == table, s"transaction is bound to table $bound; " +
            s"use Catalog.tx for cross-table atomicity")
          tx0
        }
        staged(tx)
        ack(stmt, table, -1L)
      case None =>
        val v = standalone()
        // index maintenance BEFORE triggers (the reference updates its
        // indexes inside the DML pipeline itself, builtins.h:229-231 —
        // so a trigger's statements already see the maintained index)
        refreshSearchIndexes(table)
        fireTriggers(table, stmt, transition)
        ack(stmt, table, v)
    }

  // --- SEARCH INDEX serving: a TableIndexer per registered index, and a
  // Searcher cached per (index, synced table version) — a refresh changes
  // the stats/tombstones, so the next SEARCH gets a fresh Searcher and
  // the superseded one is close()d (releases persisted blocks/broadcasts)
  private val indexers =
    scala.collection.mutable.Map.empty[String, graft.index.TableIndexer]
  private val searchers =
    scala.collection.mutable.Map.empty[String, (Long, graft.query.Searcher)]

  private def indexerFor(name: String, dir: String): graft.index.TableIndexer =
    indexers.getOrElseUpdate(name, {
      // build parallelism sized from manifest row counts (metadata-only):
      // a small table's lifecycle is ~40 scheduler-bound stages — 8-way
      // tasks, not task-spam; a big corpus takes the session's full width
      val rows = ops.searchIndexMeta(name) match {
        case (table, _) => ops.rowCountFromStats(table).getOrElse(Long.MaxValue)
      }
      val full = spark.sparkContext.defaultParallelism
      val parts = math.min(full.toLong, math.max(8L, rows / 5000L)).toInt
      new graft.index.TableIndexer(spark, ops,
        graft.index.IndexConfig(indexDir = dir, buildPartitions = parts))
    })

  /** Synchronous maintenance after a standalone DML commit (or COMMIT of
    * a bound transaction): every search index on `table` refreshes to the
    * just-committed snapshot. */
  private def refreshSearchIndexes(table: String): Unit =
    ops.searchIndexesFor(table).foreach { case (name, dir) =>
      indexerFor(name, dir).refresh(table)
    }

  /** `SEARCH idx 'text' TOP k`: BM25 top-k through the maintained index —
    * (repo, path, commit, score), score DESC then index docId ASC (the
    * engine-wide tie-break). A query of exactly one token ending in `*`
    * is a WILDCARD query: it expands against the index's lexicon and
    * scores as the OR of the expanded terms
    * ([[graft.query.Searcher.searchPrefix]] — hard expansion cap, loud
    * on overflow). Mixed term/wildcard queries are not accepted (their
    * scoring semantics would be ambiguous — Lucene makes the same split
    * between TermQuery and MultiTermQuery). */
  def search(name: String, query: String, k: Int): DataFrame = {
    val (_, searcher) = searcherFor(name)
    val top = GraftSql.wildcardPrefix(query) match {
      case Some(p) => searcher.searchPrefix(p, k)
      case None =>
        require(!query.contains("*"),
          s"wildcard must be a single trailing-'*' token, got: '$query'")
        if (GraftSql.hasBooleanOps(query)) searcher.searchBoolean(query, k)
        else searcher.searchWAND(query, k)
    }
    serveTop(name, top, k)
  }

  /** `SEARCH idx 'text' FACET col`: counts of the FULL match set (every
    * table row whose indexed content contains ≥ 1 query term — not the
    * top-k) grouped by a column of the indexed table, (col, n) ordered by
    * col — the search-aggregation surface (Lucene faceting). Fully
    * distributed: postings-driven match set joined back through the
    * index's docs table; no driver-side doc set. */
  def searchFacet(name: String, query: String, facetCol: String): DataFrame = {
    GraftSql.requirePlainQuery(query, "FACET")
    val (ti, searcher) = searcherFor(name)
    val (table, _) = ops.searchIndexMeta(name)
    val matches = searcher.scoreAll(query).toDF().select(col("docId"))
    matches
      .join(spark.read.parquet(ti.cfg.docsPath)
        .select(col("docId"), col("repo"), col("path"), col("commit")), "docId")
      .join(ops.read(table), Seq("repo", "path", "commit"))
      .groupBy(col(facetCol)).agg(count(lit(1)).as("n"))
      .orderBy(col(facetCol))
  }

  /** `SEARCH idx PHRASE 'text' TOP k`: exact-phrase BM25 through the
    * maintained positional sidecar ([[graft.query.Searcher.searchPhrase]]
    * — the phrase scores as one synthetic term); same output shape and
    * tie-break as [[search]]. Requires the index to have been created
    * WITH POSITIONS. */
  def searchPhrase(name: String, query: String, k: Int): DataFrame = {
    val (_, searcher) = searcherFor(name)
    serveTop(name, searcher.searchPhrase(query, k), k)
  }

  /** `SEARCH idx 'text' WHERE <pred> TOP k`: attribute-filtered BM25 —
    * `pred` is any Spark SQL boolean expression over the indexed TABLE's
    * columns, evaluated on the current snapshot (== the synced snapshot:
    * DML refreshes synchronously) and keyed back to docIds through the
    * index's docs table. Scores are those of the UNFILTERED index
    * (Lucene FilteredQuery semantics — comparable across filters); only
    * membership is restricted ([[graft.query.Searcher.searchWhere]]). */
  def searchWhere(name: String, query: String, pred: String,
      k: Int): DataFrame = {
    val (ti, searcher) = searcherFor(name)
    val (table, _) = ops.searchIndexMeta(name)
    val allowed = ops.read(table).filter(pred)
      .select(col("repo"), col("path"), col("commit"))
      .join(spark.read.parquet(ti.cfg.docsPath),
        Seq("repo", "path", "commit"))
      .select(col("docId"))
    // wildcard and boolean forms compose with the filter: the expansion /
    // membership joins restrict docs, the allow-set restricts further,
    // scores stay those of the unfiltered index in every combination
    val top = GraftSql.wildcardPrefix(query) match {
      case Some(p) =>
        val terms = searcher.expandPrefix(p)
        if (terms.isEmpty) Array.empty[graft.model.ScoredDoc]
        else searcher.searchWhere(terms.mkString(" "), k, allowed)
      case None =>
        require(!query.contains("*"),
          s"wildcard must be a single trailing-'*' token, got: '$query'")
        if (GraftSql.hasBooleanOps(query))
          searcher.searchBoolean(query, k, allowed)
        else searcher.searchWhere(query, k, allowed)
    }
    serveTop(name, top, k)
  }

  private def searcherFor(name: String)
      : (graft.index.TableIndexer, graft.query.Searcher) = {
    val (_, dir) = ops.searchIndexMeta(name)
    val ti = indexerFor(name, dir)
    val synced = ti.syncedVersion
    val searcher = searchers.get(name) match {
      case Some((v, s0)) if v == synced => s0
      case prev =>
        prev.foreach(_._2.close())
        val s0 = new graft.query.Searcher(spark, ti.cfg)
        searchers(name) = (synced, s0)
        s0
    }
    (ti, searcher)
  }

  private def serveTop(name: String,
      top: Array[graft.model.ScoredDoc], k: Int): DataFrame = {
    val (_, dir) = ops.searchIndexMeta(name)
    val ti = indexerFor(name, dir)
    val sp = spark
    import sp.implicits._
    val scored = sp.createDataset(top.toSeq).toDF()
    val rows = scored
      .join(sp.read.parquet(ti.cfg.docsPath)
        .select(col("docId"), col("repo"), col("path"), col("commit")), "docId")
      .orderBy(col("score").desc, col("docId").asc)
      .select(col("repo"), col("path"), col("commit"), col("score"))
      .limit(k).collect()
    sp.createDataFrame(sp.sparkContext.parallelize(rows.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("repo",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("commit",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType))))
  }

  /** Run every AFTER trigger on (table, event) as a front-door statement,
    * name-ordered; INSERT's new rows visible as the `inserted` view. */
  private var triggerDepth = 0
  private def fireTriggers(table: String, event: String,
      transition: () => Option[DataFrame]): Unit = {
    if (!Seq("INSERT", "UPDATE", "DELETE").contains(event)) return
    val triggers = ops.triggersFor(table, event)
    if (triggers.isEmpty) return
    require(triggerDepth < 8,
      s"trigger cascade exceeded depth 8 at $event on $table (cycle?)")
    triggerDepth += 1
    try {
      val tv = transition()
      // save/restore any outer `inserted` view: a cascading trigger whose
      // statement inserts into another triggered table re-binds the name
      // mid-cascade, and without the restore a LATER trigger of the OUTER
      // event would read the inner table's rows or fail with not-found
      val prior: Option[DataFrame] =
        if (tv.isDefined && spark.catalog.tableExists("inserted"))
          Some(spark.table("inserted"))
        else None
      tv.foreach(_.createOrReplaceTempView("inserted"))
      try triggers.foreach { case (_, statement) => exec(statement) }
      finally if (tv.isDefined) prior match {
        case Some(p) => p.createOrReplaceTempView("inserted")
        case None => spark.catalog.dropTempView("inserted")
      }
    } finally triggerDepth -= 1
  }

  private def tableColumns(table: String): Seq[String] = active match {
    case Some((bound, tx)) if bound == table => tx.read().columns.toSeq
    case _ => ops.read(table).columns.toSeq
  }

  /** Run a SELECT with every referenced managed table registered as a temp
    * view of its current snapshot (or the transaction's working state),
    * and every referenced stored function re-registered into the session. */
  private val VersionAsOf =
    """(?i)\b(\w+)\s+VERSION\s+AS\s+OF\s+(\d+)\b""".r

  private def runSelect(select: String): DataFrame = {
    // time travel (Delta syntax): `t VERSION AS OF n` resolves to that
    // committed snapshot via a dedicated temp view; the bare name (if it
    // also appears) still resolves to the current/tx state below
    var sql2 = select
    VersionAsOf.findAllMatchIn(select).toSeq.foreach { m =>
      val (t0, v) = (m.group(1), m.group(2).toLong)
      if (ops.listTables().exists(_.equalsIgnoreCase(t0))) {
        val alias = s"${t0}__asof_$v"
        ops.readVersion(t0, v).createOrReplaceTempView(alias)
        sql2 = VersionAsOf.replaceAllIn(sql2, mm =>
          scala.util.matching.Regex.quoteReplacement(
            if (mm.group(1).equalsIgnoreCase(t0) && mm.group(2).toLong == v)
              alias else mm.matched))
      }
    }
    referencedManagedTables(sql2).foreach { t =>
      val df = activeMulti match {
        case Some(mtx) if mtx.stagedTables.contains(t) =>
          multiOn(t).read() // catalog-tx read-your-writes
        case _ => active match {
          case Some((bound, tx)) if bound == t => tx.read()
          case _ => ops.read(t)
        }
      }
      df.createOrReplaceTempView(t)
    }
    val words = """\b\w+\b""".r.findAllIn(sql2).map(_.toLowerCase).toSet
    ops.listFunctions().filter(f => words.contains(f.toLowerCase))
      .foreach(ops.registerFunction)
    spark.sql(sql2)
  }

  /** Managed tables the statement references by name (conservative word
    * scan — registering an unused table is harmless; temp-view shadowing
    * follows the statement's own names). */
  private def referencedManagedTables(sql: String): Seq[String] = {
    val words = """\b\w+\b""".r.findAllIn(sql).toSeq.map(_.toLowerCase).toSet
    ops.listTables().filter(t => words.contains(t.toLowerCase))
  }

  /** Split on commas at paren/quote depth zero (SET lists, column lists). */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var inStr = false
    var start = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      // inside a string literal, skip a backslash-escaped character
      // (Spark SQL literals support \'): the char after \ can never
      // open/close the literal. A doubled '' reads as close+reopen, which
      // keeps the in-string state correct across it.
      if (inStr) { if (c == '\\') i += 1 else if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ => ()
      }
      i += 1
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Index of the first occurrence of word `kw` at TOP LEVEL — outside
    * string literals (quote-aware incl. \-escapes and '' doubling) and
    * outside parentheses — with word boundaries; -1 when absent. */
  private def indexOfTopLevelWord(s: String, kw: String): Int = {
    def wordChar(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    var depth = 0
    var inStr = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\\') i += 1 else if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 && s.regionMatches(true, i, kw, 0, kw.length) &&
              (i == 0 || !wordChar(s.charAt(i - 1))) &&
              (i + kw.length == s.length || !wordChar(s.charAt(i + kw.length))))
            return i
      }
      i += 1
    }
    -1
  }
}

object GraftSql {
  /** Some(prefix) when the SEARCH text is exactly one token ending in `*`
    * (the wildcard form `pre*`); None for plain term queries. Prefix
    * character validation happens downstream in
    * [[graft.query.Searcher.expandPrefix]]. */
  def wildcardPrefix(query: String): Option[String] = {
    val q = query.trim
    if (q.length >= 2 && q.endsWith("*") && !q.dropRight(1).exists(_.isWhitespace)
        && !q.dropRight(1).contains("*"))
      Some(q.dropRight(1))
    else None
  }

  /** True when any whitespace word carries a `+`/`-` boolean-role prefix
    * with a non-empty body — routes SEARCH to boolean retrieval. */
  def hasBooleanOps(query: String): Boolean =
    query.split("\\s+").exists(w =>
      w.length > 1 && (w.startsWith("+") || w.startsWith("-")))

  /** Reject wildcard/boolean operators where only plain term queries are
    * implemented (FACET): the tokenizer would silently strip `*`/`+`/`-`
    * and count the residue's match set — a wrong answer is worse than a
    * loud unsupported-combination error. (WHERE composes with both forms
    * and does not use this.) */
  private[sources] def requirePlainQuery(query: String, ctx: String): Unit =
    require(wildcardPrefix(query).isEmpty && !hasBooleanOps(query) &&
        !query.contains("*"),
      s"wildcard/boolean query operators are not supported with $ctx — " +
        s"got: '$query'")
}
