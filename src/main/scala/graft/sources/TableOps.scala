package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap
import com.fasterxml.jackson.databind.ObjectMapper
import graft.io.TableIO

/** Snapshot-style managed parquet tables with FILE-LEVEL commits: create /
  * insert / delete / update / MERGE upsert / lazy ALTER ADD+DROP COLUMN /
  * multi-operation transactions (tx) / idempotent streaming ingest /
  * bin-pack + sort-clustered compaction / expire + vacuum lifecycle /
  * named views — all as atomic manifest swaps over immutable data files.
  *
  * Reference parity (SURVEY.md §2.1 Insert/Update/Delete,
  * logical_operators.h:718,929,995; the fork's lazy schema change,
  * DESIGN.md:21-76): terrier mutates MVCC version chains under WAL; the
  * Spark-native equivalent is the Iceberg commit model — a table version is
  * a MANIFEST listing immutable parquet files, and every mutation writes
  * only the files it must, then atomically repoints a `current` marker:
  *
  *   - insert appends the new rows' files and lists old + new (no rewrite);
  *   - delete/update rewrite ONLY the files containing matches — candidate
  *     files are found by a predicate-pushdown scan over each group, where
  *     the parquet footer min/max stats skip non-matching files without
  *     reading their data (the same file-pruning role Iceberg's manifest
  *     stats play);
  *   - ALTER ADD/DROP COLUMN write only a new manifest (schema delta):
  *     defaults are filled on read, dropped columns projected away on read,
  *     and any file touched by a later rewrite materializes the evolved
  *     layout (migration-on-write).
  *
  * At 100 TB this is the difference between an INSERT costing O(new rows)
  * and O(table). Readers resolve `current` at read time, so concurrent
  * readers never observe a torn table; old manifests stay readable (time
  * travel). Crash-safety: data files are written before their manifest and
  * the manifest before the pointer move, so a crash at any point leaves at
  * worst orphaned data dirs, never a torn or inconsistent table.
  *
  * Storage: every path operation goes through the [[graft.io.TableIO]] seam
  * (SURVEY.md §7.4) — java.nio on a bare local root, the Hadoop
  * `FileSystem` stack (HDFS / S3A / file://) on a URI root — so the same
  * commit protocol runs in tests and on a 1000-executor cluster's shared
  * store. The data files themselves are written by Spark's own parquet
  * writer, which already speaks any Hadoop scheme.
  *
  * Manifests are Jackson-serialized (never string-interpolated), so column
  * names / default expressions containing quotes or backslashes round-trip.
  */
final class TableOps(spark: SparkSession, root: String, val io: TableIO) {

  def this(spark: SparkSession, root: String) =
    this(spark, root, TableIO.forPath(root, spark.sessionState.newHadoopConf()))

  /** A set of files sharing a write-time schema, plus the defaults for
    * columns added since they were written (filled on read, in order), plus
    * per-file column statistics (path → FileStats) recorded at write time —
    * the Iceberg manifest-entry lower/upper-bounds role: mutations and
    * point lookups prune candidate files from METADATA before any scan.
    * Files from pre-stats manifests simply have no entry (conservative:
    * always candidates).
    *
    * `schemaJson` is the group's write-time Spark schema (Iceberg manifests
    * carry the schema for the same reason): internal reads supply it to the
    * parquet reader, so no read ever pays a schema-inference Spark job —
    * at small-transaction scale those inference jobs used to dominate
    * mutation latency (4 of the 7 jobs in one UPDATE). Absent on
    * pre-schema manifests → the reader infers as before. */
  private case class Group(paths: Seq[String], fills: ListMap[String, String],
      stats: Map[String, FileStats] = Map.empty,
      schemaJson: Option[String] = None)

  /** columns = the version's logical projection (drops = absence);
    * props = commit-carried key/value metadata (e.g. per-source ingest
    * watermarks for idempotent streaming writes), inherited by later
    * versions until overwritten. */
  private case class VersionManifest(columns: Seq[String], groups: Seq[Group],
      props: Map[String, String] = Map.empty)

  private val mapper = new ObjectMapper()

  private def currentMarker(table: String): String = s"$root/$table/current"

  private def manifestPath(table: String, v: Long): String =
    s"$root/$table/manifest-v$v.json"

  def currentVersion(table: String): Long = {
    val m = currentMarker(table)
    var v =
      if (io.exists(m)) new String(io.readBytes(m), "UTF-8").trim.toLong
      else -1L
    // roll forward past a crash between claim+manifest and the pointer
    // move: claim + manifest together mean the commit is durable — the
    // pointer is only a cache of "highest committed"
    while (io.exists(claimPath(table, v + 1)) &&
        io.exists(manifestPath(table, v + 1))) v += 1
    v
  }

  private def claimPath(table: String, v: Long): String =
    s"$root/$table/commits/v$v"

  /** Optimistic-concurrency claim (the Iceberg catalog-CAS analogue):
    * exactly ONE writer wins each version number via an atomic create-new
    * claim file; the loser gets a ConcurrentCommitException and must
    * recompute against the new current version (its orphaned uuid data dirs
    * are harmless). The claim stores `token` (a transaction identity) so
    * crash recovery can tell WHOSE claim it is — see Catalog.recover. */
  private[sources] def claimVersion(table: String, v: Long,
      token: String = ""): Unit = {
    val claim = claimPath(table, v)
    if (!io.createExclusive(claim, token.getBytes("UTF-8"))) {
      // The claim may belong to (a) a writer that already committed, (b) a
      // LIVE writer between claim and manifest, or (c) a crashed writer.
      // (b) and (c) are indistinguishable from a single observation, so
      // re-check with backoff before reporting: a live winner lands its
      // manifest within the wait, and we must never instruct the operator
      // to delete a claim a live writer still holds (that would let two
      // writers claim the same version — a silently lost update).
      var waitMs = 20L
      var waited = 0L
      while (!io.exists(manifestPath(table, v)) && waited < 1000L) {
        Thread.sleep(waitMs); waited += waitMs; waitMs *= 2
      }
      if (io.exists(manifestPath(table, v)))
        throw new TableOps.ConcurrentCommitException(
          s"table $table: version $v was committed by another writer — " +
            "reread the table and retry the operation")
      else {
        val ageMs = System.currentTimeMillis - io.mtimeMs(claim)
        throw new TableOps.ConcurrentCommitException(
          s"table $table: version $v has a claim with no manifest after " +
            s"${waited} ms of re-checking (claim age ${ageMs} ms) — POSSIBLY " +
            "an in-flight writer mid-commit. Verify no writer is active " +
            s"(or that the claim is older than the longest plausible " +
            s"commit) before removing $claim to recover")
      }
    }
  }

  /** The token a claim was created with ("" for plain single-op commits);
    * None if no claim exists. */
  private[sources] def claimToken(table: String, v: Long): Option[String] = {
    val c = claimPath(table, v)
    if (io.exists(c)) Some(new String(io.readBytes(c), "UTF-8")) else None
  }

  /** Release a claim we hold (crash-recovery rollback of a multi-table
    * transaction that never published this version's manifest). Guarded by
    * token identity so a foreign writer's claim is never touched. */
  private[sources] def releaseClaim(table: String, v: Long, token: String): Unit =
    if (claimToken(table, v).contains(token) &&
        !io.exists(manifestPath(table, v)))
      io.deleteIfExists(claimPath(table, v))

  private[sources] def manifestExistsAt(table: String, v: Long): Boolean =
    io.exists(manifestPath(table, v))

  /** The publish half of a commit: manifest, then pointer. Only call while
    * holding the version's claim. */
  private[sources] def finishCommit(table: String, v: Long,
      m: VersionManifest): Unit = {
    io.atomicWrite(manifestPath(table, v), serializeManifest(v, m))
    io.atomicWrite(currentMarker(table), v.toString.getBytes("UTF-8"))
  }

  /** Claim, then manifest, then pointer — a crash after the claim+manifest
    * is rolled forward by currentVersion(); a crash between claim and
    * manifest leaves an in-doubt claim that subsequent commits surface with
    * a recovery instruction rather than silently losing either write. */
  private def commitVersion(table: String, v: Long, m: VersionManifest,
      token: String = ""): Unit = {
    claimVersion(table, v, token)
    finishCommit(table, v, m)
  }

  private def serializeManifest(v: Long, m: VersionManifest): Array[Byte] = {
    // merge groups with identical fills AND write schema so the manifest
    // grows with distinct schema states, not with every insert
    var merged = ListMap.empty[(ListMap[String, String], Option[String]),
      (Seq[String], Map[String, FileStats])]
    m.groups.foreach { g =>
      if (g.paths.nonEmpty) {
        val key = (g.fills, g.schemaJson)
        val (ps, st) = merged.getOrElse(key, (Seq.empty[String], Map.empty[String, FileStats]))
        merged = merged.updated(key, (ps ++ g.paths, st ++ g.stats))
      }
    }
    val rootNode = mapper.createObjectNode()
    rootNode.put("version", v)
    val cols = rootNode.putArray("columns")
    m.columns.foreach(cols.add)
    val groups = rootNode.putArray("groups")
    merged.foreach { case ((fills, schemaJson), (paths, stats)) =>
      val g = groups.addObject()
      val p = g.putArray("paths")
      paths.foreach(p.add)
      val f = g.putObject("fills")
      fills.foreach { case (c, sql) => f.put(c, sql) }
      schemaJson.foreach(g.put("schema", _))
      val liveStats = stats.filter { case (path, _) => paths.contains(path) }
      if (liveStats.nonEmpty) {
        val st = g.putObject("stats")
        liveStats.foreach { case (path, fs) =>
          val fo = st.putObject(path)
          fo.put("rows", fs.rows)
          val co = fo.putObject("cols")
          fs.cols.foreach { case (c, cs) =>
            val o = co.putObject(c)
            o.put("t", cs.typ)
            cs.min.foreach(o.put("mn", _))
            cs.max.foreach(o.put("mx", _))
            o.put("n", cs.nulls)
          }
        }
      }
    }
    if (m.props.nonEmpty) {
      val pr = rootNode.putObject("props")
      m.props.foreach { case (k, value) => pr.put(k, value) }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(rootNode)
  }

  /** Serialized manifest a staged transaction would publish — the catalog's
    * multi-table intent record embeds these bytes so recovery can ROLL
    * FORWARD an interrupted commit (redo content, not just version ids). */
  private[sources] def stagedManifestBytes(t: Transaction): Array[Byte] = {
    require(t.work.groups.nonEmpty, "transaction would leave the table with " +
      "no files (delete of every row is expressed as create of the empty state)")
    serializeManifest(t.next, t.work)
  }

  /** Publish pre-serialized manifest bytes (catalog crash recovery — the
    * caller must hold the version's claim). */
  private[sources] def publishManifestBytes(table: String, v: Long,
      bytes: Array[Byte]): Unit = {
    io.atomicWrite(manifestPath(table, v), bytes)
    io.atomicWrite(currentMarker(table), v.toString.getBytes("UTF-8"))
  }

  /** A committed version's props (empty map when absent). */
  private[sources] def versionProps(table: String, v: Long): Map[String, String] =
    readManifest(table, v).props

  private def readManifest(table: String, v: Long): VersionManifest = {
    val p = manifestPath(table, v)
    require(io.exists(p), s"no manifest for $table v$v under $root")
    val n = mapper.readTree(io.readBytes(p))
    val columns = (0 until n.get("columns").size())
      .map(i => n.get("columns").get(i).asText())
    val groups = (0 until n.get("groups").size()).map { i =>
      val g = n.get("groups").get(i)
      val paths = (0 until g.get("paths").size())
        .map(j => g.get("paths").get(j).asText())
      var fills = ListMap.empty[String, String]
      val it = g.get("fills").fieldNames()
      while (it.hasNext) { val k = it.next(); fills += k -> g.get("fills").get(k).asText() }
      var stats = Map.empty[String, FileStats]
      if (g.has("stats")) {
        val sIt = g.get("stats").fieldNames()
        while (sIt.hasNext) {
          val path = sIt.next()
          val fo = g.get("stats").get(path)
          var cols = Map.empty[String, ColStats]
          val cIt = fo.get("cols").fieldNames()
          while (cIt.hasNext) {
            val c = cIt.next()
            val o = fo.get("cols").get(c)
            cols += c -> ColStats(o.get("t").asText(),
              if (o.has("mn")) Some(o.get("mn").asText()) else None,
              if (o.has("mx")) Some(o.get("mx").asText()) else None,
              o.get("n").asLong())
          }
          stats += path -> FileStats(fo.get("rows").asLong(), cols)
        }
      }
      val schema = if (g.has("schema")) Some(g.get("schema").asText()) else None
      Group(paths, fills, stats, schema)
    }
    var props = Map.empty[String, String]
    if (n.has("props")) {
      val it = n.get("props").fieldNames()
      while (it.hasNext) { val k = it.next(); props += k -> n.get("props").get(k).asText() }
    }
    VersionManifest(columns, groups, props)
  }

  /** Write `df` as immutable files under a fresh uuid dir; returns the
    * relative part-file paths for the manifest plus per-file column stats
    * (one aggregation pass over ONLY the just-written files — O(new data),
    * the price of metadata-only mutation planning forever after; partial
    * aggregation keys on the file name, so the pass is map-side cheap). */
  private def writeData(table: String, v: Long, df: DataFrame,
      bloomCols: Seq[String] = Nil): (Seq[String], Map[String, FileStats], Option[String]) = {
    val sub = s"data/v$v-${java.util.UUID.randomUUID.toString.take(8)}"
    val dir = s"$root/$table/$sub"
    var w = df.write.mode(SaveMode.Overwrite)
    val bc = bloomCols.filter(df.columns.contains)
    if (bc.nonEmpty) {
      // parquet's writer builds the blooms inline — no extra Spark job;
      // adaptive sizing right-sizes the bitset to each row group's ndv
      w = w.option("parquet.bloom.filter.adaptive.enabled", "true")
      bc.foreach(c => w = w.option(s"parquet.bloom.filter.enabled#$c", "true"))
    }
    w.parquet(dir)
    val all = io.list(dir).filter(_.endsWith(".parquet")).sorted
      .map(name => s"$sub/$name")
    if (all.isEmpty) return (all, Map.empty, None)
    val st = collectStats(dir, sub)
    // Zero-row part files (a shuffle partition that matched nothing —
    // common under full-file rewrites and range-clustered writes) are
    // DROPPED from the commit: at scale, repeated DML would otherwise
    // accumulate empty files that every future scan, mutation plan, and
    // stats read must open. A fully-empty write keeps ONE empty file so
    // the empty-table state stays representable (readVersion requires at
    // least one data file per group).
    val (nonzero, _) = all.partition(p => st.get(p).exists(_.rows > 0))
    val files = if (nonzero.nonEmpty) nonzero else all.take(1)
    (all diff files).foreach(p => io.deleteIfExists(s"$root/$table/$p"))
    (files, st.filter(kv => files.contains(kv._1)), Some(df.schema.json))
  }

  /** Per-file min/max/null-count for every stats-eligible column of a
    * freshly written dir (see [[FileStats]]). */
  /** Per-file column stats for a freshly written dir, read from the parquet
    * FOOTERS the writer already produced — metadata-only driver work (one
    * footer open per file, ~ms), where a Spark aggregation job per write
    * used to dominate small-transaction latency. Decodes each primitive +
    * logical type to the SAME canonical encodings [[StatsPruner]] compares
    * (see [[FileStats]]). Anything it cannot decode safely is simply
    * omitted — an absent bound is never-pruned, always correct:
    *   - float/double bounds are SKIPPED: parquet writers may record
    *     NaN-free min/max for columns containing NaN, which Spark orders
    *     ABOVE every number — trusting them could prune a file that
    *     matches (null counts are still kept);
    *   - INT96 timestamps carry no usable stats;
    *   - string bounds go through the Iceberg-style 64-char truncation
    *     (min truncates down, max bumps up), and multi-row-group string
    *     bounds reduce in parquet's unsigned-byte order. */
  private def collectStats(dir: String, sub: String): Map[String, FileStats] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()

    /** (spark simpleString, decode-to-comparable, compare, encode-canonical)
      * for a primitive column; None = not stats-eligible. */
    def domainOf(pt: org.apache.parquet.schema.PrimitiveType):
        Option[(String, Any => Option[Any], (Any, Any) => Int,
          (Any, Boolean) => Option[String])] = {
      val ann = pt.getLogicalTypeAnnotation
      def longDom(typ: String, scale: Long => Long = identity) = Some((typ,
        (v: Any) => Some(scale(v.asInstanceOf[Number].longValue())),
        (a: Any, b: Any) => java.lang.Long.compare(
          a.asInstanceOf[Long], b.asInstanceOf[Long]),
        (v: Any, _: Boolean) => Some(v.toString)))
      def decDom(d: DecimalLogicalTypeAnnotation) = {
        val typ = s"decimal(${d.getPrecision},${d.getScale})"
        val dec = (v: Any) => Some(v match {
          case b: Binary => new java.math.BigDecimal(
            new java.math.BigInteger(b.getBytes), d.getScale): Any
          case n: Number =>
            java.math.BigDecimal.valueOf(n.longValue(), d.getScale): Any
        })
        Some((typ, dec,
          (a: Any, b: Any) => a.asInstanceOf[java.math.BigDecimal]
            .compareTo(b.asInstanceOf[java.math.BigDecimal]),
          (v: Any, _: Boolean) =>
            Some(v.asInstanceOf[java.math.BigDecimal].toPlainString)))
      }
      (pt.getPrimitiveTypeName, ann) match {
        case (_, d: DecimalLogicalTypeAnnotation) => decDom(d)
        case (PrimitiveTypeName.INT32, i: IntLogicalTypeAnnotation) =>
          longDom(i.getBitWidth match {
            case 8 => "tinyint"; case 16 => "smallint"; case _ => "int" })
        case (PrimitiveTypeName.INT32, _: DateLogicalTypeAnnotation) =>
          longDom("date")
        case (PrimitiveTypeName.INT32, null) => longDom("int")
        case (PrimitiveTypeName.INT64, t: TimestampLogicalTypeAnnotation) =>
          val toMicros: Long => Long = t.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MILLIS => _ * 1000L
            case LogicalTypeAnnotation.TimeUnit.MICROS => identity
            case _ => return None // nanos — not a Spark output type
          }
          longDom(if (t.isAdjustedToUTC) "timestamp" else "timestamp_ntz",
            toMicros)
        case (PrimitiveTypeName.INT64, _) => longDom("bigint")
        case (PrimitiveTypeName.BOOLEAN, _) => Some(("boolean",
          v => Some(v.asInstanceOf[Boolean]),
          (a, b) => java.lang.Boolean.compare(
            a.asInstanceOf[Boolean], b.asInstanceOf[Boolean]),
          (v, _) => Some(v.toString)))
        case (PrimitiveTypeName.BINARY, _: StringLogicalTypeAnnotation) =>
          Some(("string", v => Some(v.asInstanceOf[Binary]),
            (a, b) => a.asInstanceOf[Binary].compareTo(b.asInstanceOf[Binary]),
            (v, isMin) => encodeStringBound(
              v.asInstanceOf[Binary].toStringUsingUTF8, isMin)))
        // float/double: null counts only (NaN hazard — see scaladoc)
        case (PrimitiveTypeName.FLOAT, _) => Some(("float",
          _ => None, (_, _) => 0, (_, _) => None))
        case (PrimitiveTypeName.DOUBLE, _) => Some(("double",
          _ => None, (_, _) => 0, (_, _) => None))
        case _ => None // INT96 timestamps, nested, etc.
      }
    }

    /** One row group's contribution to a column: null count, and bounds
      * when the row group has non-null values AND they decode (None bounds
      * with hasVals = legitimately unbounded, e.g. float/double). */
    case class Rg(nulls: Long, hasVals: Boolean, mn: Option[Any], mx: Option[Any])

    io.list(dir).filter(_.endsWith(".parquet")).sorted.map { name =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/$name"), conf))
      val (rows, cols) = try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val nRows = blocks.map(_.getRowCount).sum
        val colChunks = blocks.flatMap(b =>
          b.getColumns.asScala.filter(_.getPath.size == 1)
            .map(c => (b.getRowCount, c)))
          .groupBy(_._2.getPath.toDotString)
        val stats = colChunks.flatMap { case (colName, chunks) =>
          for {
            (typ, dec, cmp, enc) <- domainOf(chunks.head._2.getPrimitiveType)
            rgs <- scala.util.Try(chunks.map { case (rgRows, c) =>
              val st = c.getStatistics
              require(st != null && st.isNumNullsSet) // else Try → drop col
              if (!st.hasNonNullValue) {
                require(st.getNumNulls >= rgRows) // no values ⇒ all NULL
                Rg(st.getNumNulls, hasVals = false, None, None)
              } else Rg(st.getNumNulls, hasVals = true,
                dec(st.genericGetMin), dec(st.genericGetMax))
            }).toOption
          } yield {
            val valRgs = rgs.filter(_.hasVals)
            // a bound survives only if EVERY value-bearing row group has it
            val mn = if (valRgs.nonEmpty && valRgs.forall(_.mn.isDefined))
              Some(valRgs.flatMap(_.mn).reduce((a, b) =>
                if (cmp(a, b) <= 0) a else b)) else None
            val mx = if (valRgs.nonEmpty && valRgs.forall(_.mx.isDefined))
              Some(valRgs.flatMap(_.mx).reduce((a, b) =>
                if (cmp(a, b) >= 0) a else b)) else None
            colName -> ColStats(typ, mn.flatMap(enc(_, true)),
              mx.flatMap(enc(_, false)), rgs.map(_.nulls).sum)
          }
        }
        (nRows, stats)
      } finally reader.close()
      s"$sub/$name" -> FileStats(rows, cols)
    }.toMap
  }

  /** Iceberg-style string-bound truncation to 64 chars: a min truncates
    * downward for free (a prefix sorts <= the original); a max must be
    * truncated AND bumped past every string it prefixes — if no char can
    * be bumped, there is no finite bound (None). */
  private def encodeStringBound(s: String, isMin: Boolean): Option[String] = {
    val Cap = 64
    if (s.length <= Cap) Some(s)
    else if (isMin) Some(s.substring(0, Cap))
    else {
      val arr = s.substring(0, Cap).toCharArray
      var i = arr.length - 1
      while (i >= 0 && arr(i) == Char.MaxValue) i -= 1
      if (i < 0) None
      else Some(new String(arr, 0, i) + (arr(i) + 1).toChar)
    }
  }

  /** Row count of the current version from MANIFEST stats alone (no Spark
    * job); None when any file predates per-file stats. */
  def rowCountFromStats(table: String): Option[Long] = {
    val v = currentVersion(table)
    rowsOfFilesFromStats(table, v, dataFiles(table, v).toSet)
  }

  /** Total rows of `paths` in version `v` from MANIFEST stats alone (no
    * Spark job); None when any of them predates per-file stats.
    * TableIndexer.refresh uses it to skip an empty-batch append without
    * running an isEmpty job. */
  def rowsOfFilesFromStats(table: String, v: Long,
      paths: Set[String]): Option[Long] = {
    val m = readManifest(table, v)
    val per = m.groups.flatMap(g =>
      g.paths.filter(paths.contains).map(g.stats.get))
    if (per.exists(_.isEmpty)) None
    else Some(per.flatten.map(_.rows).sum)
  }

  private def isExactStatsType(typ: String): Boolean =
    Set("tinyint", "smallint", "int", "bigint").contains(typ) ||
      typ.startsWith("decimal")

  /** Exact MIN/MAX of an integer/decimal column from MANIFEST stats alone
    * (no Spark job, no file opens — the Iceberg metadata-only scan,
    * [[graft.sources.GraftSql]] serves `SELECT min(c) FROM t` with it).
    * Restricted to types whose canonical stats encodings are exact
    * attained values: integers and decimals (string bounds are truncated,
    * float/double bounds are dropped at write time for NaN safety — both
    * fall through to a scan). Returns
    *   - None — unanswerable from metadata: missing/ineligible stats, or a
    *     schema-evolution fill covers the column (the constant default is
    *     not in file stats);
    *   - Some((None, None, typ)) — every row is NULL (SQL MIN/MAX = NULL);
    *   - Some((Some(min), Some(max), typ)) — canonical bounds + the Spark
    *     type to cast them back to. */
  def minMaxFromStats(table: String, column: String)
      : Option[(Option[String], Option[String], String)] = {
    val m = readManifest(table, currentVersion(table))
    if (!m.columns.contains(column)) return None
    var mn: java.math.BigDecimal = null
    var mx: java.math.BigDecimal = null
    var mnS: String = null
    var mxS: String = null
    var typ: String = null
    for (g <- m.groups) {
      if (g.fills.contains(column)) return None
      for (p <- g.paths) {
        val fs = g.stats.getOrElse(p, return None)
        // a zero-row file (e.g. a mutation rewrote every row away)
        // contributes nothing — its stats carry no column entries at all
        if (fs.rows > 0) {
          val cs = fs.cols.getOrElse(column, return None)
          if (!isExactStatsType(cs.typ)) return None
          typ = cs.typ
          if (cs.nulls < fs.rows) { // an all-NULL file contributes nothing
            (cs.min, cs.max) match {
              case (Some(a), Some(b)) =>
                val ba = new java.math.BigDecimal(a)
                val bb = new java.math.BigDecimal(b)
                if (mn == null || ba.compareTo(mn) < 0) { mn = ba; mnS = a }
                if (mx == null || bb.compareTo(mx) > 0) { mx = bb; mxS = b }
              case _ => return None // a populated file without bounds
            }
          }
        }
      }
    }
    if (typ == null) None // no file carries the column (empty table)
    else Some((Option(mnS), Option(mxS), typ))
  }

  /** Relative data-file paths of version `v`, manifest order — the
    * file-granularity commit diff surface: copy-on-write means the set
    * difference between two versions' file lists IS the change set
    * (TableIndexer keys its incremental index maintenance on it, the way
    * Iceberg incremental scans diff manifest entries). */
  def dataFiles(table: String, v: Long): Seq[String] =
    readManifest(table, v).groups.flatMap(_.paths)

  /** Read only `paths` (a subset of version `v`'s files) resolved to that
    * version's read schema — fills applied, columns ordered. Files are
    * immutable once committed, so this is exact for any still-un-expired
    * version. Returns None when the subset is empty. */
  def readFilesOf(table: String, v: Long, paths: Set[String]): Option[DataFrame] = {
    val m = readManifest(table, v)
    val parts = m.groups.flatMap { g =>
      val kept = g.paths.filter(paths.contains)
      if (kept.isEmpty) None
      else Some(readGroup(table, g.copy(paths = kept), m.columns))
    }
    parts.reduceOption(_.unionByName(_))
  }

  /** Net row-level changes between committed snapshots `fromV` → `toV`
    * (Iceberg's incremental-read / changelog role; the reference engine
    * exposes its MVCC deltas only internally). Copy-on-write makes the
    * manifest file-diff the change surface: files only in `toV` hold
    * candidate inserts, files only in `fromV` candidate deletes — and the
    * multiset identity (unchanged ⊎ removed) ∖ (unchanged ⊎ added) =
    * removed ∖ added means netting the two candidate sets with EXCEPT ALL
    * yields exactly the snapshot-level row diff while reading ONLY the
    * changed files (pinned): an UPDATE's carried-along rewritten rows
    * cancel out, a true update surfaces as delete(old) + insert(new).
    * Cost is O(changed data), never O(table) — the shape an incremental
    * consumer needs at 100 TB. Rows are tagged `_change_type`
    * ('insert' / 'delete'); multiset semantics, no ordering guarantee.
    *
    * Declared boundary: both versions must share the column set — a
    * consumer crossing an ALTER re-syncs from the snapshot instead (the
    * usual CDC contract for schema breaks). */
  def changes(table: String, fromV: Long, toV: Long): DataFrame = {
    require(fromV >= 0 && toV >= fromV,
      s"changes($table): need 0 <= fromV <= toV, got $fromV..$toV")
    val mFrom = readManifest(table, fromV)
    val mTo = readManifest(table, toV)
    require(mFrom.columns == mTo.columns,
      s"changes($table): column set changed between v$fromV and v$toV " +
        "(schema evolution) — re-read the snapshot instead")
    val before = mFrom.groups.flatMap(_.paths).toSet
    val after = mTo.groups.flatMap(_.paths).toSet
    def emptyFrame = readVersion(table, toV).limit(0)
    val removedRows = readFilesOf(table, fromV, before -- after).getOrElse(emptyFrame)
    val addedRows = readFilesOf(table, toV, after -- before).getOrElse(emptyFrame)
    addedRows.exceptAll(removedRows).withColumn("_change_type", lit("insert"))
      .unionByName(
        removedRows.exceptAll(addedRows).withColumn("_change_type", lit("delete")))
  }

  /** Read one group's files with its manifest-carried write schema (no
    * schema-inference job); pre-schema manifests fall back to inference. */
  private def readGroup(table: String, g: Group, columns: Seq[String]): DataFrame = {
    var df = groupReader(g).parquet(g.paths.map(p => s"$root/$table/$p"): _*)
    g.fills.foreach { case (c, sql) => df = df.withColumn(c, expr(sql)) }
    df.select(columns.map(col): _*)
  }

  /** Read one group through a [[GraftFileIndex]]: Spark's scan planning
    * hands its pushed-down filters to the index, which prunes files from
    * manifest stats + blooms at PLANNING time — so ANY plan over the
    * table (front-door SELECT, view, join input) skips non-matching files,
    * not just the explicit scanWhere path. Pre-schema manifests fall back
    * to the plain reader (no stats to prune with anyway). */
  private def readGroupIndexed(table: String, g: Group, columns: Seq[String],
      bloomCols: Seq[String]): DataFrame = g.schemaJson match {
    case Some(j) =>
      import org.apache.spark.sql.execution.datasources.HadoopFsRelation
      import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      val schema = org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      val idx = new GraftFileIndex(spark, s"$root/$table", g.paths, g.stats,
        schema, bloomCols, fileStatusCache)
      lastFileIndexes :+= idx
      val rel = HadoopFsRelation(idx, new org.apache.spark.sql.types.StructType(),
        schema, None, new ParquetFileFormat(), Map.empty[String, String])(spark)
      var df = spark.baseRelationToDataFrame(rel)
      g.fills.foreach { case (c, sql) => df = df.withColumn(c, expr(sql)) }
      df.select(columns.map(col): _*)
    case None => readGroup(table, g, columns)
  }

  /** The file indexes backing the most recent readVersion call — spec
    * observability for planning-time pruning counts. */
  @volatile private[graft] var lastFileIndexes: Seq[GraftFileIndex] = Nil

  /** Committed data files are immutable → their FileStatus entries are
    * shared across every read of this store (see [[GraftFileIndex]]).
    * Invalidated per table on dropTable/expire/vacuum. */
  private val fileStatusCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.hadoop.fs.FileStatus]()

  /** (table, version) → its assembled read plan. Version content is
    * immutable, so the plan is reusable verbatim; the cache keeps a
    * read-modify-write loop (the TPC-C shape) from re-assembling
    * relations and re-listing directories on every statement. */
  private val readPlanCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), (DataFrame, Seq[GraftFileIndex])]()

  private def invalidateReadCaches(table: String): Unit = {
    val prefix = s"$root/$table/"
    fileStatusCache.keySet.removeIf(_.startsWith(prefix))
    readPlanCache.keySet.removeIf(_._1 == table)
  }

  /** Distinct `__file` values of `df` in ONE shuffle-free job: dedupe
    * per partition (the per-partition set is bounded by the candidate file
    * count, which already fits on the driver), then again driver-side —
    * the distinct().collect() it replaces paid a shuffle plus a second
    * AQE job per mutation. */
  private def collectAffectedFiles(df: DataFrame): Set[String] = {
    import org.apache.spark.sql.Encoders
    df.select(col("__file")).as(Encoders.STRING)
      .mapPartitions(it => it.toSet.iterator)(Encoders.STRING)
      .collect().toSet
  }

  private def groupReader(g: Group): org.apache.spark.sql.DataFrameReader =
    g.schemaJson match {
      case Some(j) => spark.read.schema(
        org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      case None => spark.read
    }

  /** Tables under this root (dirs with at least one committed version). */
  def listTables(): Seq[String] = {
    if (!io.exists(root)) Seq.empty
    else io.list(root).filter(n => io.isDirectory(s"$root/$n"))
      .filterNot(_.startsWith("_"))
      .filterNot(_.startsWith("."))
      .filter(t => currentVersion(t) >= 0)
      .sorted
  }

  /** DROP TABLE: remove the table's whole directory — manifests, claims,
    * stats, data, staging. Irreversible (time travel included); views over
    * the table are left dangling and fail on read with "does not exist",
    * the standard late-binding-view behavior. */
  def dropTable(table: String): Unit = {
    require(io.exists(s"$root/$table") && currentVersion(table) >= 0,
      s"table $table does not exist under $root")
    io.deleteRecursively(s"$root/$table")
    // search indexes physically depend on the table's files — cascade
    searchIndexesFor(table).foreach { case (n, _) => dropSearchIndex(n) }
    invalidateReadCaches(table)
  }

  /** TRUNCATE: one commit to the empty state with the current schema —
    * rows gone, history kept (old snapshots still read; expire() reclaims
    * them). The O(1) path for "delete every row", vs delete(lit(true))
    * which the no-empty-manifest guard rejects by design. */
  def truncate(table: String): Long = {
    val v = currentVersion(table)
    require(v >= 0, s"table $table does not exist under $root")
    val next = v + 1
    val m = readManifest(table, v)
    val empty = readVersion(table, v).limit(0).coalesce(1)
    val (files, st, sch) = writeData(table, next, empty, bloomColsOf(m))
    commitVersion(table, next,
      m.copy(groups = Seq(Group(files, ListMap.empty, st, sch))))
    next
  }

  def create(table: String, df: DataFrame): Long = create(table, df, Map.empty)

  /** CREATE TABLE with initial properties (e.g. `bloom.cols` — see
    * [[setBloomColumns]]), honored by this first write already. */
  def create(table: String, df: DataFrame, props: Map[String, String]): Long = {
    val v = currentVersion(table) + 1
    val m0 = VersionManifest(df.columns.toSeq, Nil, props)
    val (files, st, sch) = writeData(table, v, df, bloomColsOf(m0))
    commitVersion(table, v,
      m0.copy(groups = Seq(Group(files, ListMap.empty, st, sch))))
    v
  }

  /** Columns whose writes embed a parquet bloom filter per row group —
    * the table's `bloom.cols` property (see [[BloomPruner]]). */
  private def bloomColsOf(m: VersionManifest): Seq[String] =
    m.props.get("bloom.cols")
      .map(_.split(",").iterator.map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)

  /** Declare the bloom-indexed columns (props-only commit — existing files
    * are untouched; every later insert/update/merge/compact write embeds
    * blooms for these columns, so compactTable() backfills the whole
    * table). Equality lookups on these columns prune candidate files via
    * driver-side bloom probes — the secondary-index role for keys range
    * stats cannot separate (reference bwtree_index.h). */
  def setBloomColumns(table: String, cols: Seq[String]): Long = {
    val v = currentVersion(table)
    require(v >= 0, s"table $table does not exist under $root")
    val next = v + 1
    val m = readManifest(table, v)
    commitVersion(table, next,
      m.copy(props = m.props + ("bloom.cols" -> cols.mkString(","))))
    next
  }

  def read(table: String): DataFrame = {
    val v = currentVersion(table)
    require(v >= 0, s"table $table does not exist under $root")
    readVersion(table, v)
  }

  /** Read a historical snapshot (time travel). Schema deltas resolve
    * lazily: base files are read as written, added columns are filled from
    * their default expressions, dropped columns are projected away — no
    * data was rewritten at ALTER time. */
  def readVersion(table: String, v: Long): DataFrame = {
    val hit = readPlanCache.get((table, v))
    if (hit != null) { lastFileIndexes = hit._2; return hit._1 }
    val m = readManifest(table, v)
    require(m.groups.nonEmpty, s"$table v$v has no data files")
    lastFileIndexes = Nil
    val bc = bloomColsOf(m)
    val df = m.groups.map(readGroupIndexed(table, _, m.columns, bc))
      .reduce(_.unionByName(_))
    if (readPlanCache.size > 256) readPlanCache.clear()
    readPlanCache.put((table, v), (df, lastFileIndexes))
    df
  }

  /** INSERT: write ONLY the new rows' files; the new manifest lists
    * old + new (an O(new rows) commit, never an O(table) rewrite). */
  def insert(table: String, rows: DataFrame): Long = {
    val v = currentVersion(table)
    require(v >= 0, s"table $table does not exist under $root")
    val next = v + 1
    commitVersion(table, next, applyInsert(table, next, readManifest(table, v), rows))
    next
  }

  /** Idempotent INSERT for exactly-once streaming ingest (the Delta-style
    * txn appId/version discipline): each ingest source carries a
    * monotonically increasing batch version (Structured Streaming's
    * batchId); the committed manifest records the highest applied version
    * per source in its props, IN THE SAME atomic commit as the data — so
    * a replayed batch (foreachBatch re-delivers after any failure) is
    * detected against the manifest and skipped, never double-inserted.
    * Returns the table version holding the batch (current version if the
    * batch was already applied). */
  def insertIdempotent(table: String, rows: DataFrame, sourceId: String,
      batchVersion: Long): Long = {
    val v = currentVersion(table)
    require(v >= 0, s"table $table does not exist under $root")
    val m = readManifest(table, v)
    val key = s"ingest.$sourceId"
    if (m.props.get(key).exists(_.toLong >= batchVersion)) return v // replay
    val next = v + 1
    val m2 = applyInsert(table, next, m, rows)
    commitVersion(table, next,
      m2.copy(props = m2.props + (key -> batchVersion.toString)))
    next
  }

  /** DELETE WHERE cond: rewrite only the files containing matches. */
  def delete(table: String, cond: Column): Long =
    mutate(table, cond, df => df.filter(!coalesce(cond, lit(false))))

  /** UPDATE SET col = value WHERE cond: rewrite only matching files. */
  def update(table: String, cond: Column, setCol: String, value: Column): Long =
    mutate(table, cond, df => df.withColumn(setCol,
      when(coalesce(cond, lit(false)), value).otherwise(col(setCol))))

  /** Cast `df` to the table's current READ schema, in manifest column order
    * — the SQL column-type contract for INSERT/UPDATE/MERGE (incoming
    * values adopt the column's type, not the other way round). Also a
    * storage invariant: serializeManifest merges all no-fills files into
    * one group read by a single parquet scan, so every write MUST land on
    * the group's physical schema — a decimal file merged among double files
    * would have its unscaled integers silently read as doubles. */
  private def conform(table: String, m: VersionManifest, df: DataFrame): DataFrame =
    if (m.groups.isEmpty) df.select(m.columns.map(col): _*)
    else {
      val target = m.groups.map(readGroup(table, _, m.columns))
        .reduce(_.unionByName(_)).schema
      df.select(target.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)
    }

  private def applyInsert(table: String, next: Long, m: VersionManifest,
      rows: DataFrame): VersionManifest = {
    val (files, st, sch) = writeData(table, next, conform(table, m, rows), bloomColsOf(m))
    val hasRows = files.exists(p => st.get(p).exists(_.rows > 0))
    if (!hasRows && m.groups.nonEmpty) {
      // inserting zero rows (e.g. an empty streaming batch) must not grow
      // the manifest — the commit still happens, with unchanged content
      files.foreach(p => io.deleteIfExists(s"$root/$table/$p"))
      m
    } else m.copy(groups = m.groups :+ Group(files, ListMap.empty, st, sch))
  }

  /** Observability for plan pins (specs assert metadata pruning fired):
    * after any mutate/merge/scanWhere planning pass, how many files the
    * manifest stats kept as candidates vs pruned without any job. */
  @volatile private[graft] var lastPlanCandidates: Int = -1
  @volatile private[graft] var lastPlanPruned: Int = -1
  @volatile private[graft] var lastBloomPruned: Int = -1

  /** Resolve a user predicate against the table's schema into an ANALYZED
    * Catalyst expression (EqualTo/LessThan/... over AttributeReferences) —
    * what [[StatsPruner]] pattern-matches on. Spark 4 Columns are lazy
    * unresolved-function ASTs, so this runs the analyzer over a filter on
    * `probe` (plan-only — no job). None = cannot resolve: no pruning. */
  private def resolvePredicate(probe: DataFrame, cond: Column)
      : Option[org.apache.spark.sql.catalyst.expressions.Expression] =
    scala.util.Try(probe.filter(cond).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }).toOption.flatten

  /** Split a group's files into (candidates, metadata-pruned) for `cond`
    * using the manifest's per-file stats — no Spark job, no file opens. */
  private def pruneByStats(g: Group,
      cond: Option[org.apache.spark.sql.catalyst.expressions.Expression])
      : (Seq[String], Seq[String]) = cond match {
    case None => (g.paths, Seq.empty)
    case Some(e) =>
      g.paths.partition(p =>
        g.stats.get(p).forall(fs => StatsPruner.mayMatch(e, fs)))
  }

  /** Partition stats-surviving candidates into (kept, bloom-pruned) via
    * driver-side parquet bloom probes — active only when the table
    * declares `bloom.cols` AND the predicate has equality-shaped conjuncts
    * (=, IN, OR-of-=) on them (see [[BloomPruner]]). Cost: one footer +
    * bitset read per candidate, metadata I/O that replaces a data scan of
    * the file — and the probes run CONCURRENTLY on the shared pool, so a
    * many-file table pays the latency of one footer read, not their sum. */
  private def bloomPartition(table: String, m: VersionManifest,
      cands: Seq[String],
      resolved: Option[org.apache.spark.sql.catalyst.expressions.Expression])
      : (Seq[String], Seq[String]) = {
    val bc = bloomColsOf(m)
    if (bc.isEmpty || cands.isEmpty) return (cands, Nil)
    // a clause can refute a file only when EVERY disjunct is bloom-checkable
    val cnf = resolved.toSeq.flatMap(BloomPruner.cnfProbes)
      .filter(clause => clause.nonEmpty && clause.forall(p => bc.contains(p.col)))
    if (cnf.isEmpty) (cands, Nil)
    else bloomProbeAll(cands,
      (p, conf) => BloomPruner.mayContain(s"$root/$table/$p", cnf, conf))
  }

  /** Probe every candidate concurrently (bounded by the shared pool);
    * returns (may-contain, provably-absent). `probe` must be thread-safe —
    * BloomPruner opens an independent reader per call. */
  private def bloomProbeAll(cands: Seq[String],
      probe: (String, org.apache.hadoop.conf.Configuration) => Boolean)
      : (Seq[String], Seq[String]) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val conf = spark.sessionState.newHadoopConf()
    implicit val ec: scala.concurrent.ExecutionContext = TableOps.groupScanPool
    val fs = cands.map(p => Future((p, probe(p, conf))))
    val results = Await.result(Future.sequence(fs), Duration.Inf)
    val (kept, pruned) = results.partition(_._2)
    (kept.map(_._1), pruned.map(_._1))
  }

  /** Copy-on-write at FILE granularity against an arbitrary working
    * manifest, planned in two metadata-first steps: (1) the manifest's
    * per-file stats prune every file whose [min,max] ranges cannot satisfy
    * `cond` — no I/O at all, the Iceberg manifest-stats role; (2) a
    * pushdown scan over ONLY the surviving candidates finds the files with
    * actual matches (parquet footers prune row groups). Only those files
    * are rewritten — with the current schema materialized
    * (migration-on-write) — and every untouched file is carried as-is,
    * stats included. A fully-pruned group costs zero Spark jobs. */
  private def applyMutate(table: String, next: Long, m: VersionManifest,
      cond: Column, rewrite: DataFrame => DataFrame): VersionManifest = {
    var kept = Seq.empty[Group]
    var hitDfs = Seq.empty[DataFrame]
    val resolved = m.groups.headOption.flatMap(g0 =>
      resolvePredicate(readGroup(table, g0, m.columns), cond))
    val planned = m.groups.map { g =>
      val (cands0, pruned) = pruneByStats(g, resolved)
      val (cands, bloomed) = bloomPartition(table, m, cands0, resolved)
      (g, cands, pruned ++ bloomed, bloomed.size)
    }
    lastPlanCandidates = planned.map(_._2.size).sum
    lastPlanPruned = planned.map(_._3.size).sum
    lastBloomPruned = planned.map(_._4).sum
    // the affected-file detection is one blocking Spark action per schema
    // group — submit them CONCURRENTLY (the cluster interleaves the jobs),
    // then fold results back in deterministic group order
    import scala.concurrent.{Await, Future}
    val affectedF = planned.map { case (g, cands, _, _) =>
      if (cands.isEmpty) Future.successful(Set.empty[String])
      else Future {
        var df = groupReader(g).parquet(cands.map(p => s"$root/$table/$p"): _*)
          .withColumn("__file", input_file_name())
        g.fills.foreach { case (c, sql) => df = df.withColumn(c, expr(sql)) }
        collectAffectedFiles(df.filter(coalesce(cond, lit(false))))
      }(TableOps.groupScanPool)
    }
    planned.zip(affectedF).foreach { case ((g, cands, pruned, _), aF) =>
      if (pruned.nonEmpty)
        kept :+= g.copy(paths = pruned, stats = g.stats.filter(s => pruned.contains(s._1)))
      if (cands.nonEmpty) {
        val affected =
          Await.result(aF, scala.concurrent.duration.Duration.Inf)
        val (hit, unhit) = cands.partition(p => affected.exists(_.endsWith(p)))
        if (unhit.nonEmpty)
          kept :+= g.copy(paths = unhit, stats = g.stats.filter(s => unhit.contains(s._1)))
        if (hit.nonEmpty) hitDfs :+= readGroup(table, g.copy(paths = hit), m.columns)
      }
    }
    val groups =
      if (hitDfs.isEmpty) kept
      else {
        val rewritten =
          conform(table, m, rewrite(hitDfs.reduce(_.unionByName(_))))
        val (files, st, sch) = writeData(table, next, rewritten, bloomColsOf(m))
        val hasRows = files.exists(p => st.get(p).exists(_.rows > 0))
        if (hasRows) kept :+ Group(files, ListMap.empty, st, sch)
        else if (kept.isEmpty && files.nonEmpty)
          // a full-table delete: ONE empty file represents the empty state
          kept :+ Group(files, ListMap.empty, st, sch)
        else {
          // the rewrite kept nothing and other files remain — an empty
          // group would only add a useless file open to every future read
          files.foreach(p => io.deleteIfExists(s"$root/$table/$p"))
          kept
        }
      }
    m.copy(groups = groups)
  }

  /** Metadata-pruned point/range read (the managed-table IndexScan path,
    * reference index_iterator.cpp / bwtree_index.h: a selective predicate
    * reaches only the blocks whose key range can match): files are chosen
    * from the manifest's per-file stats with NO file opens, then the
    * pushdown scan reads only those (parquet footers prune row groups
    * inside). On a table clustered by compactTable(sortBy/zorder) on the
    * predicate columns this touches O(1) files regardless of table size —
    * the spec pins it via df.inputFiles. */
  def scanWhere(table: String, cond: Column): DataFrame = {
    val v = currentVersion(table)
    require(v >= 0, s"table $table does not exist under $root")
    val m = readManifest(table, v)
    var nCand = 0
    var nPruned = 0
    var nBloom = 0
    val resolved = m.groups.headOption.flatMap(g0 =>
      resolvePredicate(readGroup(table, g0, m.columns), cond))
    val dfs = m.groups.flatMap { g =>
      val (cands0, pruned) = pruneByStats(g, resolved)
      val (cands, bloomed) = bloomPartition(table, m, cands0, resolved)
      nCand += cands.size; nPruned += pruned.size + bloomed.size
      nBloom += bloomed.size
      if (cands.isEmpty) None
      else Some(readGroup(table, g.copy(paths = cands), m.columns))
    }
    lastPlanCandidates = nCand; lastPlanPruned = nPruned
    lastBloomPruned = nBloom
    val base =
      if (dfs.isEmpty) readVersion(table, v).limit(0)
      else dfs.reduce(_.unionByName(_))
    base.filter(cond)
  }

  private def mutate(table: String, cond: Column,
      rewrite: DataFrame => DataFrame): Long = {
    val v = currentVersion(table)
    require(v >= 0, s"table $table does not exist under $root")
    val next = v + 1
    val m2 = applyMutate(table, next, readManifest(table, v), cond, rewrite)
    require(m2.groups.nonEmpty, s"mutation would leave $table with no files " +
      "(delete of every row is expressed as create of the empty state)")
    commitVersion(table, next, m2)
    next
  }

  /** A multi-operation atomic transaction over one table — the reference's
    * Begin/Commit/Abort surface (transaction_manager.h:50-92: a txn spans
    * arbitrarily many operations; abort rolls all of them back via version
    * chains). Spark-native equivalent: every operation inside the
    * transaction writes its data files eagerly (staged under the target
    * version's uuid dirs) but edits only an IN-MEMORY working manifest;
    * commit publishes the final manifest as ONE optimistic-concurrency
    * version — readers see all of the transaction's effects or none.
    * Abort (any exception out of the body, or rollback()) publishes
    * nothing: the staged files are unreferenced orphans, invisible to
    * every reader and reclaimed by vacuum() — exactly the crash story of
    * single operations, extended to the whole sequence. Operations inside
    * the transaction see their predecessors' effects (read-your-writes),
    * so insert→update→delete compose with sequential semantics. */
  final class Transaction private[TableOps] (table: String, base: Long) {
    private[TableOps] val next: Long = base + 1
    private[TableOps] var work: VersionManifest = readManifest(table, base)

    /** The version this transaction will publish on commit (for the
      * catalog's multi-table intent record). */
    private[sources] def stagedVersion: Long = next

    /** Stamp commit-carried metadata (e.g. the catalog transaction id used
      * by crash recovery to verify WHOSE commit landed at a version). */
    private[sources] def setProp(k: String, v: String): Unit =
      work = work.copy(props = work.props + (k -> v))

    def insert(rows: DataFrame): Unit =
      work = applyInsert(table, next, work, rows)

    def update(cond: Column, setCol: String, value: Column): Unit =
      updateSet(cond, Seq(setCol -> value))

    /** Multi-assignment UPDATE: every (column, value) applies under ONE
      * candidate-scan + rewrite pass (SQL UPDATE t SET a=..., b=...).
      * Values see the PRE-update row, per SQL semantics. */
    def updateSet(cond: Column, sets: Seq[(String, Column)]): Unit =
      work = applyMutate(table, next, work, cond, df =>
        df.select(work.columns.map { c =>
          sets.find(_._1 == c) match {
            case Some((_, v)) =>
              when(coalesce(cond, lit(false)), v).otherwise(col(c)).as(c)
            case None => col(c)
          }
        }: _*))

    def delete(cond: Column): Unit =
      work = applyMutate(table, next, work, cond,
        df => df.filter(!coalesce(cond, lit(false))))

    /** MERGE inside the transaction (see TableOps.merge): upsert staged
      * against the working state, published with the rest of the tx. */
    def merge(source: DataFrame, key: String, setCols: Seq[String]): Unit =
      work = applyMerge(table, next, work, source, key, setCols)

    /** Lazy ALTERs inside the transaction — DDL composes with DML in one
      * atomic commit (add a column, backfill it with update(), publish
      * both together). */
    def addColumn(name: String, defaultSql: String): Unit =
      work = applyAddColumn(work, name, defaultSql)

    def dropColumn(name: String): Unit =
      work = applyDropColumn(work, name)

    /** The transaction's current working state (uncommitted read-your-writes
      * view; other readers cannot see it). */
    def read(): DataFrame = {
      require(work.groups.nonEmpty, s"transaction state of $table is empty")
      work.groups.map(readGroup(table, _, work.columns)).reduce(_.unionByName(_))
    }

    /** Explicit abort: unwinds tx() without committing. */
    def rollback(): Nothing = throw new TableOps.TransactionAborted(table)
  }

  /** Run `body` as one atomic transaction; returns the committed version.
    * Any exception (including rollback()) aborts — no version is published
    * and the table is unchanged. The commit itself is the same OCC claim as
    * single operations: a concurrent committed writer makes the whole
    * transaction fail with ConcurrentCommitException (retry = rerun tx()).
    * Scope: ONE table — for atomicity ACROSS tables use Catalog.tx, which
    * stages several of these transactions and publishes them under one
    * catalog-pointer flip (the Iceberg/Nessie multi-table-commit model). */
  def tx(table: String)(body: Transaction => Unit): Long = {
    val t = begin(table)
    body(t)
    commitStaged(table, t)
  }

  /** Open a transaction without committing — the staging half of tx(),
    * exposed package-privately so Catalog.tx can stage several tables and
    * commit them under one catalog flip. */
  private[sources] def begin(table: String): Transaction = {
    val v = currentVersion(table)
    require(v >= 0, s"table $table does not exist under $root")
    new Transaction(table, v)
  }

  /** Publish a staged transaction as one OCC version (the commit half of
    * tx()); returns the committed version. */
  private[sources] def commitStaged(table: String, t: Transaction,
      token: String = ""): Long = {
    require(t.work.groups.nonEmpty, s"transaction would leave $table with " +
      "no files (delete of every row is expressed as create of the empty state)")
    commitVersion(table, t.next, t.work, token)
    t.next
  }

  /** MERGE INTO target USING source ON target.key = source.key
    * WHEN MATCHED THEN UPDATE SET (setCols from source)
    * WHEN NOT MATCHED THEN INSERT (all columns from source)
    * — the keyed-upsert shape every incremental ingest runs (reference
    * plans Insert/InsertSelect + Update with index maintenance,
    * logical_operators.h:718,801,995; the modern surface is SQL MERGE).
    *
    * Copy-on-write at file granularity, like update()/delete(): a semi-join
    * scan per group finds the files holding matched keys (footer min/max
    * prunes the rest); ONLY those files are rewritten, with matched rows
    * taking the source's setCols; unmatched source rows are appended from
    * an anti-join against the full target. One atomic commit covers both
    * halves. `source` must be key-unique (the SQL MERGE cardinality rule —
    * enforced, since duplicate matches would write nondeterministically)
    * and must carry every target column (for the insert half). */
  def merge(table: String, source: DataFrame, key: String,
      setCols: Seq[String]): Long = {
    val v = currentVersion(table)
    require(v >= 0, s"table $table does not exist under $root")
    val next = v + 1
    val m2 = applyMerge(table, next, readManifest(table, v), source, key, setCols)
    require(m2.groups.nonEmpty, s"merge would leave $table with no files")
    commitVersion(table, next, m2)
    next
  }

  private def applyMerge(table: String, next: Long, m: VersionManifest,
      source: DataFrame, key: String, setCols: Seq[String]): VersionManifest = {
    require(m.columns.contains(key), s"no key column $key in $table")
    require(setCols.forall(m.columns.contains),
      s"setCols ${setCols.filterNot(m.columns.contains)} not in $table")
    require(!setCols.contains(key), "cannot update the merge key itself")
    val src = source.select(m.columns.map(col): _*)
    // ONE pass over the source yields the MERGE cardinality check (the SQL
    // rule: duplicate keys would write nondeterministically) AND the key
    // range that drives manifest-stats file pruning — the former used to
    // be its own source-wide groupBy job
    val kc = col(key)
    val summary = src.agg(count(lit(1)).as("__n"),
      countDistinct(kc).as("__d"),
      coalesce(sum(kc.isNull.cast("long")), lit(0L)).as("__nn"),
      min(kc).as("__mn"), max(kc).as("__mx")).head()
    val srcN = summary.getAs[Long]("__n")
    require(srcN - summary.getAs[Long]("__nn") == summary.getAs[Long]("__d") &&
      summary.getAs[Long]("__nn") <= 1,
      s"merge source has duplicate $key values (SQL MERGE cardinality rule)")
    // candidate pruning: only files whose key range overlaps the source's
    // can hold matches (conservative — lit() failures just disable it)
    val keyRange: Option[Column] =
      (Option(summary.getAs[Any]("__mn")), Option(summary.getAs[Any]("__mx"))) match {
        case (Some(lo), Some(hi)) =>
          scala.util.Try(kc >= lit(lo) && kc <= lit(hi)).toOption
        case _ => None
      }
    val srcKeys = src.select(col(key))
    var kept = Seq.empty[Group]
    var hitDfs = Seq.empty[DataFrame]
    // insert-only merge (no setCols): a matched row is a no-op, so skip
    // the matched-file scan entirely — no file is rewritten, only the
    // anti-join insert half runs
    val resolvedRange = for {
      r <- keyRange
      g0 <- m.groups.headOption
      e <- resolvePredicate(readGroup(table, g0, m.columns), r)
    } yield e
    // bloom pruning, MERGE shape: with a bloom on the key column and a
    // SMALL source batch (the streaming-upsert norm), collect the distinct
    // source keys and keep only files whose blooms may hold ANY of them —
    // range stats can't separate interleaved keys, blooms can. Bounded:
    // skipped beyond 256 keys (probe cost grows with keys x candidates).
    val keyProbes: Seq[BloomPruner.Probe] =
      if (setCols.isEmpty || !bloomColsOf(m).contains(key) ||
          summary.getAs[Long]("__d") > 256L) Nil
      else {
        val dt = src.schema(key).dataType
        val vals = srcKeys.distinct().collect().map(_.get(0)).filter(_ != null)
        val ps = vals.flatMap(v => BloomPruner.probeExternal(key, v, dt))
        if (ps.length == vals.length) ps.toSeq else Nil // partial = unsafe
      }
    if (setCols.isEmpty) {
      kept = m.groups
      lastPlanCandidates = 0; lastPlanPruned = 0
    } else {
      // the key set is ONE disjunction clause: a file is a candidate if
      // any source key may be in it
      val keyCnf = if (keyProbes.isEmpty) Nil else Seq(keyProbes)
      val planned = m.groups.map { g =>
        val (cands0, pruned0) = pruneByStats(g, resolvedRange)
        val (cands, bloomed) =
          if (keyCnf.isEmpty) (cands0, Seq.empty[String])
          else bloomProbeAll(cands0,
            (p, conf) => BloomPruner.mayContain(s"$root/$table/$p", keyCnf, conf))
        (g, cands, pruned0 ++ bloomed, bloomed.size)
      }
      lastPlanCandidates = planned.map(_._2.size).sum
      lastPlanPruned = planned.map(_._3.size).sum
      lastBloomPruned = planned.map(_._4).sum
      // concurrent per-group matched-file detection, like applyMutate
      import scala.concurrent.{Await, Future}
      val affectedF = planned.map { case (g, cands, _, _) =>
        if (cands.isEmpty) Future.successful(Set.empty[String])
        else Future {
          var df = groupReader(g).parquet(cands.map(p => s"$root/$table/$p"): _*)
            .withColumn("__file", input_file_name())
          g.fills.foreach { case (c, sql) => df = df.withColumn(c, expr(sql)) }
          collectAffectedFiles(df.join(srcKeys, Seq(key), "left_semi"))
        }(TableOps.groupScanPool)
      }
      planned.zip(affectedF).foreach { case ((g, cands, pruned, _), aF) =>
        if (pruned.nonEmpty)
          kept :+= g.copy(paths = pruned, stats = g.stats.filter(s => pruned.contains(s._1)))
        if (cands.nonEmpty) {
          val affected =
            Await.result(aF, scala.concurrent.duration.Duration.Inf)
          val (hit, unhit) = cands.partition(p => affected.exists(_.endsWith(p)))
          if (unhit.nonEmpty)
            kept :+= g.copy(paths = unhit, stats = g.stats.filter(s => unhit.contains(s._1)))
          if (hit.nonEmpty) hitDfs :+= readGroup(table, g.copy(paths = hit), m.columns)
        }
      }
    }
    // matched rows: source values for setCols, keyed by an explicit marker
    // (NOT coalesce — a legitimately-NULL source value must win)
    val marked = src.select(col(key) +: setCols.map(c =>
      col(c).as(s"__src_$c")) :+ lit(true).as("__matched"): _*)
    val updated = hitDfs.reduceOption(_.unionByName(_)).map { hits =>
      hits.join(marked, Seq(key), "left").select(m.columns.map { c =>
        if (setCols.contains(c))
          when(col("__matched"), col(s"__src_$c")).otherwise(col(c)).as(c)
        else col(c)
      }: _*)
    }
    // unmatched source rows = anti-join vs the FULL current target
    val target = m.groups.map(readGroup(table, _, m.columns))
      .reduce(_.unionByName(_))
    val inserts = src.join(target.select(col(key)), Seq(key), "left_anti")
      .select(m.columns.map(col): _*)
    val toWrite = updated.map(_.unionByName(inserts)).getOrElse(inserts)
    val (files, st, sch) = writeData(table, next, conform(table, m, toWrite), bloomColsOf(m))
    val groups =
      if (files.nonEmpty) kept :+ Group(files, ListMap.empty, st, sch) else kept
    m.copy(groups = groups)
  }

  /** Table-file compaction — the missing half of the O(new rows) insert
    * story (the reference's background block compactor,
    * /root/reference/src/storage/block_compactor.cpp, folds hot blocks into
    * cold contiguous blocks; Iceberg ships the same as rewrite_data_files):
    * every insert appends a small file-group, and at 100 TB the accumulated
    * small files — not the data volume — kill scan planning. compactTable
    * bin-packs all files SMALLER than `targetFileBytes` into consolidated
    * files (materializing the current schema — migration-on-write) and
    * commits them as one new version; files already at target size are
    * carried by reference, untouched. Older versions keep their manifests
    * and files, so time travel is intact; expire() reclaims the superseded
    * small files. coalesce (not repartition): bin-packing needs no shuffle —
    * each output task drains a run of input files, the Iceberg binpack
    * strategy.
    *
    * `sortBy` (opt-in, Iceberg's "sort" rewrite strategy) range-partitions
    * and sorts the packed rows instead: output files get DISJOINT min/max
    * ranges on the sort columns, so parquet footer stats actually prune —
    * every later file-level mutate/merge/scan with a predicate on those
    * columns touches only the files whose range matches. Costs one shuffle
    * (the point of doing it at compaction time, once, instead of per
    * query).
    *
    * `zorder = true` (with ≥2 numeric sortBy columns — Delta's OPTIMIZE
    * ZORDER BY) clusters on the Z-value instead: each column is min/max
    * normalized to `bits` bits and the bits INTERLEAVED into one key, so
    * every output file covers a bounded range in EVERY listed dimension —
    * footer stats then prune for predicates on any of them, where a
    * lexicographic sort only ever prunes on its leading column. Per-column
    * bits = min(16, 63 / dims), so every interleaved position stays below
    * the Long sign bit however many columns are listed (4 cols → 15 bits,
    * 5 → 12): bit dims*bits-1 < 63 keeps the key order-safe under signed
    * range partitioning. The interleave is a pure Catalyst expression fold
    * (codegen'd, no UDF). Returns the new version (or the current one if
    * there was nothing to compact). */
  def compactTable(table: String, targetFileBytes: Long = 128L * 1024 * 1024,
      sortBy: Seq[String] = Nil, zorder: Boolean = false): Long = {
    val v = currentVersion(table)
    require(v >= 0, s"table $table does not exist under $root")
    val m = readManifest(table, v)
    var carried = Seq.empty[Group]
    var small = Seq.empty[Group]
    var smallBytes = 0L
    var nSmall = 0
    m.groups.foreach { g =>
      // bin-packing rewrites only sub-target files; CLUSTERING (sortBy)
      // rewrites everything — a file already at target size is still in
      // the wrong order (Delta's OPTIMIZE ZORDER rewrites all files)
      val (big, sm) =
        if (sortBy.nonEmpty) (Seq.empty[String], g.paths)
        else g.paths.partition(p => io.size(s"$root/$table/$p") >= targetFileBytes)
      if (big.nonEmpty) carried :+= g.copy(paths = big, stats = g.stats.filter(s => big.contains(s._1)))
      if (sm.nonEmpty) {
        small :+= g.copy(paths = sm, stats = g.stats.filter(s => sm.contains(s._1)))
        smallBytes += sm.map(p => io.size(s"$root/$table/$p")).sum
        nSmall += sm.size
      }
    }
    if (nSmall <= 1 && sortBy.isEmpty) return v // nothing to bin-pack
    if (small.isEmpty) return v
    val next = v + 1
    val byBytes = math.max(1L, (smallBytes + targetFileBytes - 1) / targetFileBytes)
    // plain bin-packing never SPLITS (capped at the input file count);
    // sort/z-order clustering may legitimately split one jumbled file
    // into many range files
    val nOut = (if (sortBy.isEmpty) byBytes.min(nSmall.toLong) else byBytes).toInt
    val unioned = small.map(readGroup(table, _, m.columns))
      .reduce(_.unionByName(_))
    val packed =
      if (sortBy.isEmpty) unioned.coalesce(nOut)
      else if (!zorder) unioned.repartitionByRange(nOut, sortBy.map(col): _*)
        .sortWithinPartitions(sortBy.map(col): _*)
      else {
        require(sortBy.size >= 2, "zorder needs >= 2 columns (use plain sortBy for 1)")
        // per-column min/max in one pass, then normalize + interleave
        val aggs = sortBy.flatMap(c => Seq(
          min(col(c).cast("double")).as(s"${c}__mn"),
          max(col(c).cast("double")).as(s"${c}__mx")))
        val r = unioned.agg(aggs.head, aggs.tail: _*).head()
        // bounded so bit (bits*dims - 1) stays below the Long sign bit —
        // 16-bit resolution through 3 columns, degrading gracefully after
        val bits = math.min(16, 63 / sortBy.size)
        val normed = sortBy.map { c =>
          // boxed reads: an all-NULL or non-castable column has null
          // min/max — it carries no order information, z-bits 0 (same as
          // a constant column), rather than an unboxing NPE
          val mn = Option(r.getAs[java.lang.Double](s"${c}__mn")).map(_.doubleValue)
          val mx = Option(r.getAs[java.lang.Double](s"${c}__mx")).map(_.doubleValue)
          (mn, mx) match {
            case (Some(lo), Some(hi)) if hi > lo =>
              ((col(c).cast("double") - lit(lo)) / lit(hi - lo) * lit((1 << bits) - 1))
                .cast("long")
            case _ => lit(0L)
          }
        }
        // interleave: bit i of column j lands at position i*dims + j
        val zkey = (0 until bits).flatMap(i => normed.zipWithIndex.map {
          case (n, j) => shiftleft(shiftright(n, i).bitwiseAND(lit(1L)),
            i * sortBy.size + j)
        }).reduce(_ + _)
        unioned.withColumn("__zkey", zkey)
          .repartitionByRange(nOut, col("__zkey"))
          .sortWithinPartitions(col("__zkey"))
          .drop("__zkey")
      }
    val (files, st, sch) = writeData(table, next, packed, bloomColsOf(m))
    // a clustered rewrite of an empty table can produce zero part files
    // with nothing carried — committing that would publish a manifest
    // readVersion rejects, so leave the table at the current version
    if (files.isEmpty && carried.isEmpty) return v
    commitVersion(table, next, m.copy(groups =
      if (files.nonEmpty) carried :+ Group(files, ListMap.empty, st, sch) else carried))
    next
  }

  /** ALTER TABLE ADD COLUMN with LAZY migration — the reference fork's
    * headline feature (DESIGN.md:21-76): only a new manifest is written;
    * readers fill the default on the fly; rewrites materialize it. */
  def addColumn(table: String, name: String, defaultSql: String): Long = {
    val v = currentVersion(table)
    require(v >= 0, s"table $table does not exist under $root")
    val next = v + 1
    commitVersion(table, next,
      applyAddColumn(readManifest(table, v), name, defaultSql))
    next
  }

  // copy (not a fresh VersionManifest): props — e.g. recorded ingest batch
  // watermarks — must survive a schema change, or a post-ALTER streaming
  // replay would double-insert
  private def applyAddColumn(m: VersionManifest, name: String,
      defaultSql: String): VersionManifest = {
    require(!m.columns.contains(name), s"column $name already exists")
    m.copy(columns = m.columns :+ name,
      groups = m.groups.map(g => g.copy(fills = g.fills + (name -> defaultSql))))
  }

  /** ANALYZE TABLE: per-column statistics — row count, null count, exact
    * NDV, numeric min/max — the same per-column stat set the reference's
    * optimizer keeps (stats_calculator.cpp: HLL-backed ndv, min/max,
    * null fraction feeding its cost model). Computed in ONE aggregation
    * pass over the current snapshot, returned as a DataFrame AND persisted
    * as stats-vN.json next to the manifest so the optimizer (or a human)
    * reads them without a rescan; Spark's own CBO twin
    * (`ANALYZE TABLE ... FOR ALL COLUMNS` + spark.sql.cbo.enabled) is
    * exercised in StatsSpec. */
  def analyze(table: String): DataFrame = {
    val v = currentVersion(table)
    require(v >= 0, s"table $table does not exist under $root")
    val df = read(table)
    val numeric = df.schema.fields.filter(f => f.dataType match {
      case _: org.apache.spark.sql.types.NumericType => true
      case _ => false
    }).map(_.name).toSet
    val aggs = df.schema.fields.flatMap { f =>
      val c = col(f.name)
      // coalesce: sum() over zero rows is NULL — an empty (or all-pruned)
      // table must yield 0 null-counts, not an unboxing NPE
      Seq(coalesce(sum(c.isNull.cast("long")), lit(0L)).as(s"${f.name}__nulls"),
        countDistinct(c).as(s"${f.name}__ndv")) ++
        (if (numeric(f.name))
          Seq(min(c).cast("double").as(s"${f.name}__min"),
            max(c).cast("double").as(s"${f.name}__max"))
        else Seq.empty)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    def g(n: String): Long = row.getAs[Long](n)
    val statRows = df.schema.fields.map { f =>
      (f.name, g(s"${f.name}__nulls"), g(s"${f.name}__ndv"),
        if (numeric(f.name)) Option(row.getAs[java.lang.Double](s"${f.name}__min"))
          .map(_.doubleValue) else None,
        if (numeric(f.name)) Option(row.getAs[java.lang.Double](s"${f.name}__max"))
          .map(_.doubleValue) else None)
    }.sortBy(_._1)
    val node = mapper.createObjectNode()
    node.put("version", v)
    val cols = node.putArray("columns")
    statRows.foreach { case (name, nulls, ndv, mn, mx) =>
      val o = cols.addObject()
      o.put("name", name); o.put("nulls", nulls); o.put("ndv", ndv)
      mn.foreach(o.put("min", _)); mx.foreach(o.put("max", _))
    }
    io.atomicWrite(s"$root/$table/stats-v$v.json",
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
    import spark.implicits._
    statRows.toSeq
      .toDF("col_name", "n_nulls", "ndv", "min_num", "max_num")
      .orderBy(col("col_name"))
  }

  /** ALTER TABLE DROP COLUMN with LAZY semantics (the fork's symmetric
    * delta, alter_plan_node.h:165 DropColumnCmd): only a new manifest is
    * written — the column vanishes from the logical projection; data files
    * keep it physically until their next rewrite; older snapshots (time
    * travel) still expose it. */
  def dropColumn(table: String, name: String): Long = {
    val v = currentVersion(table)
    require(v >= 0, s"table $table does not exist under $root")
    val next = v + 1
    commitVersion(table, next, applyDropColumn(readManifest(table, v), name))
    next
  }

  private def applyDropColumn(m: VersionManifest, name: String): VersionManifest = {
    require(m.columns.contains(name), s"no column $name — cannot drop")
    m.copy(columns = m.columns.filterNot(_ == name),
      groups = m.groups.map(g => g.copy(fills = g.fills - name)))
  }

  /** Snapshot expiration — the lifecycle half of the commit model (the
    * reference GCs version chains in garbage_collector.cpp; Iceberg's
    * expire_snapshots): drop every version older than the newest
    * `keepVersions`, delete their manifests / claims / stats, then delete
    * the data files those EXPIRED manifests referenced and no kept manifest
    * still does. Time travel inside the kept window stays exact (files are
    * refcounted across manifests, so a file shared with a kept version
    * survives); reads of expired versions fail with "no manifest". Files
    * referenced by NO manifest at all (in-flight or crashed writers) are
    * deliberately NOT expire's business — only vacuum(), with its age
    * guard, touches them — so expire is safe to run concurrently with a
    * writer. Returns (expiredVersions, deletedFiles). */
  def expire(table: String, keepVersions: Int): (Int, Int) = {
    invalidateReadCaches(table) // cached plans may reference expired files
    require(keepVersions >= 1, "must keep at least the current version")
    val current = currentVersion(table)
    require(current >= 0, s"table $table does not exist under $root")
    val keepFrom = math.max(0L, current - keepVersions + 1)
    val kept = (keepFrom to current).filter(v => io.exists(manifestPath(table, v)))
    val referenced: Set[String] =
      kept.flatMap(v => readManifest(table, v).groups.flatMap(_.paths)).toSet
    // files owned by the expiring window: referenced by an expired manifest,
    // by no kept one (read these BEFORE deleting the manifests)
    val expiring = (0L until keepFrom)
      .filter(v => io.exists(manifestPath(table, v)))
    val toDelete: Set[String] = expiring
      .flatMap(v => readManifest(table, v).groups.flatMap(_.paths))
      .toSet -- referenced
    var expired = 0
    (0L until keepFrom).foreach { v =>
      if (io.deleteIfExists(manifestPath(table, v))) expired += 1
      io.deleteIfExists(claimPath(table, v))
      io.deleteIfExists(s"$root/$table/stats-v$v.json")
    }
    var deleted = 0
    toDelete.foreach { rel =>
      if (io.deleteIfExists(s"$root/$table/$rel")) deleted += 1
    }
    // sweep writer dirs the deletions emptied of expired-owned content:
    // remaining entries that are neither referenced nor parquet (Spark
    // _SUCCESS markers, crashed _temporary dirs) go with the dir
    toDelete.map(rel => rel.substring(0, rel.lastIndexOf('/'))).foreach { relDir =>
      val sub = s"$root/$table/$relDir"
      if (io.exists(sub)) {
        val entries = io.list(sub)
        val liveContent = entries.exists(n =>
          referenced.contains(s"$relDir/$n") || n.endsWith(".parquet"))
        if (!liveContent) io.deleteRecursively(sub)
      }
    }
    (expired, deleted)
  }

  /** Orphan-file vacuum: delete data files referenced by NO manifest at all
    * — the uuid dirs left by crashed, aborted-transaction or OCC-losing
    * writers (acknowledged harmless for correctness, unbounded for
    * storage). An in-flight writer's files are also not yet referenced —
    * the standard Iceberg remove_orphan_files hazard — so `minAgeMs`
    * defaults to the production-safe 24 h (TableOps.DefaultVacuumAgeMs):
    * only dirs whose every file is older than the longest plausible commit
    * are swept. Tests and single-writer maintenance windows pass 0L
    * explicitly. Returns deleted parquet-file count. */
  def vacuum(table: String, minAgeMs: Long = TableOps.DefaultVacuumAgeMs): Int = {
    invalidateReadCaches(table) // orphan sweeps may remove cached statuses
    require(currentVersion(table) >= 0, s"table $table does not exist under $root")
    val referenced: Set[String] = io.list(s"$root/$table")
      .filter(_.matches("manifest-v\\d+\\.json"))
      .flatMap { name =>
        val v = name.stripPrefix("manifest-v").stripSuffix(".json").toLong
        readManifest(table, v).groups.flatMap(_.paths)
      }.toSet
    var deleted = 0
    val now = System.currentTimeMillis
    val dataRoot = s"$root/$table/data"
    if (io.exists(dataRoot)) {
      io.list(dataRoot).filter(n => io.isDirectory(s"$dataRoot/$n")).foreach { name =>
        val sub = s"$dataRoot/$name"
        val rel = s"data/$name"
        val files = io.list(sub)
        val anyReferenced = files.exists(f => referenced.contains(s"$rel/$f"))
        // age check walks the whole subtree, so a fresh file inside a
        // nested _temporary dir also holds the sweep back
        def ageOk(p: String): Boolean =
          if (io.isDirectory(p)) io.listPaths(p).forall(ageOk)
          else now - io.mtimeMs(p) >= minAgeMs
        if (!anyReferenced && files.nonEmpty &&
            files.forall(f => ageOk(s"$sub/$f")))
          deleted += io.deleteRecursively(sub)
      }
    }
    deleted
  }

  // --- named views (reference create_view_plan_node.h /
  // drop_view_plan_node.h, SURVEY.md §2.11): a view is a stored SQL text
  // over a managed table, resolved against the table's CURRENT version at
  // read time (so a view automatically sees later inserts — the standard
  // late-binding view semantics). Stored as Jackson JSON under the root's
  // _views/ namespace; create/drop never touch table manifests, so
  // existing snapshots are unaffected by definition.

  private def viewPath(name: String): String = s"$root/_views/$name.json"

  /** CREATE [OR REPLACE] VIEW name AS <sql>, where <sql> references the
    * managed table by its table name. */
  def createView(name: String, table: String, sql: String,
      replace: Boolean = false): Unit = {
    require(currentVersion(table) >= 0, s"table $table does not exist under $root")
    require(replace || !io.exists(viewPath(name)),
      s"view $name already exists (use replace = true)")
    val node = mapper.createObjectNode()
    node.put("table", table)
    node.put("sql", sql)
    io.atomicWrite(viewPath(name),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
  }

  /** Resolve a view: read the CURRENT table snapshot, register it under the
    * table name, run the stored SQL. The registration lasts only until the
    * SQL is analyzed: then a session temp view of that name that the caller
    * had is restored, or the one made here is dropped. */
  def readView(name: String): DataFrame = {
    val p = viewPath(name)
    require(io.exists(p), s"view $name does not exist under $root")
    val n = mapper.readTree(io.readBytes(p))
    val table = n.get("table").asText()
    val catalog = spark.sessionState.catalog
    val callers = catalog.getRawTempView(table)
    read(table).createOrReplaceTempView(table)
    // spark.sql analyzes eagerly: the returned plan no longer names the view
    try spark.sql(n.get("sql").asText())
    finally callers match {
      case Some(v) => catalog.createTempView(table, v, overrideIfExists = true)
      case None => catalog.dropTempView(table)
    }
  }

  def dropView(name: String): Unit = {
    require(io.exists(viewPath(name)), s"view $name does not exist under $root")
    io.deleteIfExists(viewPath(name))
    ()
  }

  def viewExists(name: String): Boolean = io.exists(viewPath(name))

  // --- stored SQL functions (reference: PL/pgSQL CREATE FUNCTION,
  // embryonic there — README.md:29, udf_test.cpp; SURVEY.md §2.10 row 45).
  // Spark-first: the body is Spark's own native SQL-UDF form (CREATE
  // FUNCTION name(params) RETURNS type RETURN expr — parsed, resolved, and
  // codegen'd by Catalyst like any built-in), so this layer adds only the
  // PERSISTENCE the reference's catalog would: the definition text lives
  // under the root's _functions/ namespace and any later session
  // re-registers it on demand.

  private def functionPath(name: String): String =
    s"$root/_functions/$name.json"

  /** Persist `CREATE FUNCTION name <definition>` where definition is
    * everything after the name: "(params) RETURNS type RETURN body". */
  def createFunction(name: String, definition: String,
      replace: Boolean = false): Unit = {
    require(replace || !io.exists(functionPath(name)),
      s"function $name already exists (use replace = true)")
    val node = mapper.createObjectNode()
    node.put("definition", definition)
    io.atomicWrite(functionPath(name),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
    registerFunction(name)
  }

  /** Register a stored function into THIS session (idempotent). */
  def registerFunction(name: String): Unit = {
    val p = functionPath(name)
    require(io.exists(p), s"function $name does not exist under $root")
    val defn = mapper.readTree(io.readBytes(p)).get("definition").asText()
    spark.sql(s"CREATE OR REPLACE TEMPORARY FUNCTION $name $defn")
    ()
  }

  def dropFunction(name: String): Unit = {
    require(io.exists(functionPath(name)),
      s"function $name does not exist under $root")
    io.deleteIfExists(functionPath(name))
    try spark.sql(s"DROP TEMPORARY FUNCTION IF EXISTS $name")
    catch { case _: Exception => () } // session registration is best-effort
    ()
  }

  def functionExists(name: String): Boolean = io.exists(functionPath(name))

  def listFunctions(): Seq[String] = listStored("_functions")

  // --- triggers (reference: CREATE TRIGGER is PARSE-ONLY there —
  // postgresparser.cpp:1236-1298 builds the node, nothing executes it;
  // SURVEY.md §2 row 56). This layer both persists AND executes:
  // statement-level AFTER triggers on INSERT/UPDATE/DELETE, fired by the
  // SQL front door ([[GraftSql]]) after each standalone (auto-commit) DML
  // statement; INSERT triggers see the new rows as an `inserted`
  // transition view (SQL Server's inserted / postgres's REFERENCING NEW
  // TABLE). Declared boundaries, stated in GraftSql's doc: no firing
  // inside an explicit BEGIN…COMMIT, no OLD transition table.

  private def triggerPath(name: String): String = s"$root/_triggers/$name.json"

  def createTrigger(name: String, table: String, event: String,
      statement: String, replace: Boolean = false): Unit = {
    val ev = event.toUpperCase
    require(Seq("INSERT", "UPDATE", "DELETE").contains(ev),
      s"unsupported trigger event $event")
    require(currentVersion(table) >= 0,
      s"table $table does not exist under $root")
    require(replace || !io.exists(triggerPath(name)),
      s"trigger $name already exists (use replace = true)")
    val node = mapper.createObjectNode()
    node.put("table", table)
    node.put("event", ev)
    node.put("statement", statement)
    io.atomicWrite(triggerPath(name),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
  }

  def dropTrigger(name: String): Unit = {
    require(io.exists(triggerPath(name)),
      s"trigger $name does not exist under $root")
    io.deleteIfExists(triggerPath(name))
    ()
  }

  def triggerExists(name: String): Boolean = io.exists(triggerPath(name))

  def listTriggers(): Seq[String] = listStored("_triggers")

  /** (name, statement) of every trigger on (table, event), name-ordered —
    * the deterministic firing order. */
  def triggersFor(table: String, event: String): Seq[(String, String)] =
    listStored("_triggers").sorted.flatMap { n =>
      val t = mapper.readTree(io.readBytes(triggerPath(n)))
      if (t.get("table").asText() == table &&
          t.get("event").asText() == event.toUpperCase)
        Some((n, t.get("statement").asText()))
      else None
    }

  private def listStored(ns: String): Seq[String] = {
    val dir = s"$root/$ns"
    if (!io.exists(dir)) Seq.empty
    else io.list(dir).filter(_.endsWith(".json")).map(_.stripSuffix(".json"))
  }

  // --- search-index registry (CREATE SEARCH INDEX): name -> (table,
  // index dir), persisted like functions/triggers so any session finds
  // them. The index CONTENT lives under the returned dir and is built/
  // maintained by graft.index.TableIndexer (kept out of this class: the
  // registry is the only coupling, mirroring how the reference's catalog
  // records index oids while the storage layer owns the BwTrees).
  private def searchIndexPath(name: String): String =
    s"$root/_search/$name.json"

  /** Register a search index over `table`; returns the index directory
    * (under the store: `_search/<name>.idx`). */
  def createSearchIndex(name: String, table: String,
      replace: Boolean = false): String = {
    require(currentVersion(table) >= 0,
      s"table $table does not exist under $root")
    require(replace || !io.exists(searchIndexPath(name)),
      s"search index $name already exists (use replace = true)")
    val dir = s"$root/_search/$name.idx"
    val node = mapper.createObjectNode()
    node.put("table", table)
    node.put("dir", dir)
    io.atomicWrite(searchIndexPath(name),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
    dir
  }

  def dropSearchIndex(name: String): Unit = {
    searchIndexMeta(name) // existence check
    io.deleteIfExists(searchIndexPath(name))
    io.deleteRecursively(s"$root/_search/$name.idx")
  }

  /** (table, indexDir) of a registered search index. */
  def searchIndexMeta(name: String): (String, String) = {
    require(io.exists(searchIndexPath(name)),
      s"search index $name does not exist under $root")
    val n = mapper.readTree(io.readBytes(searchIndexPath(name)))
    (n.get("table").asText(), n.get("dir").asText())
  }

  def listSearchIndexes(): Seq[String] = listStored("_search")

  /** (name, indexDir) of every search index on `table`, name-ordered —
    * the deterministic maintenance order after a DML commit. */
  def searchIndexesFor(table: String): Seq[(String, String)] =
    listStored("_search").sorted.flatMap { n =>
      val t = mapper.readTree(io.readBytes(searchIndexPath(n)))
      if (t.get("table").asText() == table) Some((n, t.get("dir").asText()))
      else None
    }
}

object TableOps {
  /** Thrown when another writer committed the version this operation tried
    * to claim (write-write conflict under optimistic concurrency). */
  final class ConcurrentCommitException(msg: String)
    extends RuntimeException(msg)

  /** Thrown by Transaction.rollback() — unwinds tx() without committing. */
  final class TransactionAborted(table: String)
    extends RuntimeException(s"transaction on $table rolled back")

  /** Default orphan age below which vacuum() will not sweep: longer than
    * any plausible in-flight commit, so the default orientation is safe
    * against a live writer (tests pass 0L explicitly). */
  val DefaultVacuumAgeMs: Long = 24L * 3600 * 1000

  /** Pool for CONCURRENT per-schema-group affected-file scans during
    * mutations (each scan is a driver-blocking Spark action; submitting
    * them from one thread serializes cluster time group-by-group). Shared,
    * daemon, bounded: job submission is cheap — the cluster schedules the
    * actual work — so a small pool suffices. */
  private[sources] lazy val groupScanPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(8,
        (r: Runnable) => {
          val t = new Thread(r, "graft-group-scan")
          t.setDaemon(true)
          t
        }))
}
