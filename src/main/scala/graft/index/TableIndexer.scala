package graft.index

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.CodeTokenizer
import graft.checkpoint.{Manifest, Snapshot, StageRecord}
import graft.model.{CorpusStats, SourceFile}
import graft.query.Searcher
import graft.sources.TableOps

/** Maintained full-text search index over a MANAGED table — the
  * reference's index-maintenance-on-DML role (it updates BwTree/hash
  * indexes inside every Insert/Update/Delete: builtins `IndexInsert/
  * IndexInsertUnique/IndexDelete`, src/include/execution/ast/builtins.h:
  * 229-231, applied by the compiled DML pipelines) re-expressed for a
  * snapshot table store: maintenance is SNAPSHOT-INCREMENTAL, driven by
  * the commit diff rather than per-row hooks.
  *
  * The table store is copy-on-write at file granularity, so the set
  * difference between two versions' manifest file lists IS the change set
  * (the Iceberg incremental-scan observation):
  *
  *   - files ADDED since the last sync → their rows are new documents,
  *     appended as one segment ([[IndexBuilder.append]] — docIds dense
  *     after the existing corpus, vocabulary extended, blocks rebased);
  *   - files REMOVED since the last sync → every row they held left this
  *     table version (deleted, updated, or rewritten by compaction); their
  *     docIds become TOMBSTONES (the Lucene live-docs-bitset role): the
  *     postings stay on disk, scoring skips them.
  *
  * A row REWRITTEN by an update/compaction appears on both sides — its old
  * docId dies, its current content re-enters with a fresh docId — so the
  * live doc set always mirrors the table snapshot exactly.
  *
  * Scoring stays EXACTLY equal to a from-scratch build of the live
  * snapshot (same scores, not just same ranks): alongside the tombstones
  * the refresh records the dead docs' per-term df (re-tokenizing just the
  * removed files) and their token total, and the Searcher scores with
  * df_live / N_live / avgdl_live. Spec-pinned by TableIndexerSpec.
  *
  * Crash safety: [[refresh]] and [[compact]] write fresh files first and
  * publish all of their records in ONE manifest commit
  * ([[graft.checkpoint.Manifest]]) — a refresh commits its segment,
  * tombstones and synced version together, a compaction adopts its
  * rebuild — so the index always mirrors exactly one table version.
  *
  * Contract: the table carries the corpus columns (repo, path, commit,
  * lang, content) and (repo, path, commit) is unique per snapshot — the
  * same key-uniqueness contract as the builder itself (docIds are dense
  * ranks of the unique key).
  *
  * Scale notes: a refresh touches only the changed files (append cost =
  * O(new rows), tombstone cost = O(removed rows) + one docs-table join
  * pruned to docId < base); nothing re-reads the unchanged corpus. The
  * tombstone set is serving-bounded ([[Searcher.TombstonesMaxDocs]]);
  * past it, [[compact]] rebuilds from the live snapshot and resets the
  * index to the single-segment, zero-tombstone layout.
  */
final class TableIndexer(spark: SparkSession, ops: TableOps,
    val cfg: IndexConfig) {
  import spark.implicits._

  private def manifest = new Manifest(cfg.indexDir)

  private def toCorpus(df: DataFrame) =
    df.select($"repo", $"path", $"commit", $"lang", $"content").as[SourceFile]

  private def syncRecord(table: String, v: Long) =
    StageRecord("tableSync", "complete", s"$table:v$v", v, 0L,
      Map("table" -> table, "version" -> v.toString))

  /** The table version the index currently mirrors. */
  def syncedVersion: Long = syncedIn(manifest.snapshot())

  private def syncedIn(s: Snapshot): Long =
    s.records.get("tableSync").map(_.extra("version").toLong).getOrElse(-1L)

  /** Build the index from the table's current snapshot and record the
    * synced version. `positions = true` also builds the positional
    * sidecar ([[PositionalIndex]] — phrase queries); refreshes then keep
    * it maintained alongside the main index. */
  def create(table: String, positions: Boolean = false): CorpusStats = {
    val v = ops.currentVersion(table)
    require(v >= 0, s"table $table does not exist")
    val st = IndexBuilder.build(spark, toCorpus(ops.readVersion(table, v)),
      cfg, fingerprint = s"table:$table:v$v")
    if (positions)
      PositionalIndex.build(spark, toCorpus(ops.readVersion(table, v)),
        cfg, fingerprint = s"table:$table:v$v")
    manifest.commit(syncRecord(table, v))
    st
  }

  /** Advance the index to the table's current snapshot: one segment append
    * for the added files' rows (main index + positional sidecar),
    * tombstones + df corrections for the removed files' rows. All of it is
    * written to fresh files first and published in ONE manifest commit
    * together with the new synced version: a crash before it leaves files
    * the retry overwrites, and a retry after it finds nothing to do. */
  def refresh(table: String): CorpusStats = {
    val base = manifest.snapshot()
    val synced = syncedIn(base)
    require(synced >= 0, s"index at ${cfg.indexDir} is not synced to a table" +
      " — call create() first")
    val cur = ops.currentVersion(table)
    if (cur == synced) return IndexBuilder.stats(cfg)
    require(cur > synced, s"table $table moved backwards ($synced -> $cur)")

    val oldFiles = ops.dataFiles(table, synced).toSet
    val newFiles = ops.dataFiles(table, cur).toSet
    val removed = oldFiles -- newFiles
    val added = newFiles -- oldFiles
    var next = base.records

    // docIds below docBase are pre-append — the only ones a removed key
    // may refer to (its re-indexed twin, if any, gets an id >= docBase)
    val docBase = IndexBuilder.stats(cfg).numDocs

    // skip an empty batch: an added file can hold zero rows (TRUNCATE's
    // empty-state commit) — appending an empty segment is pointless. The
    // manifest's exact per-file row stats answer it without a Spark job;
    // a stats-less legacy file falls back to the isEmpty job.
    val addedRows = ops.rowsOfFilesFromStats(table, cur, added)
    ops.readFilesOf(table, cur, added)
      .filterNot(df => addedRows.map(_ == 0L).getOrElse(df.isEmpty))
      .foreach { df =>
      val seg = IndexBuilder.segments(base.records.keys)
      IndexBuilder.stageAppend(spark, toCorpus(df), cfg,
          s"table:$table:v$synced-v$cur", base).foreach { recs =>
        next ++= recs.map(r => r.stage -> r)
        // positional sidecar (when built): the batch's position rows land
        // as the same segment, resolved against the just-written docs rows
        // with `docBase` as the docId floor — a key REWRITTEN by an update
        // maps only to its fresh id, never its dead twin — and against the
        // staged lexicon, the only one holding the batch's new terms.
        // Deletes need no positional bookkeeping: phrase df/tf are computed
        // live and tombstoned docs are skipped at query time.
        next.get("positions").foreach { pos =>
          next += "positions" -> PositionalIndex.stageAppend(spark,
            toCorpus(df), cfg, cfg.paths(next), docBase, seg, pos)
        }
      }
    }

    if (removed.nonEmpty) {
      val prev = base.records.get("tombstones")
      val prevDead: DataFrame = prev match {
        case Some(r) => spark.read.schema(IndexSchema.tombstones)
          .parquet(cfg.path(r.extra("dir")))
        case None => Seq.empty[Long].toDF("docId")
      }
      val removedRows = ops.readFilesOf(table, synced, removed).get
        .select($"repo", $"path", $"commit", $"content")
      // the removed keys' pre-append docIds, minus already-dead ones
      // (a key compacted/updated in an earlier refresh left a dead docId
      // behind — only the live one dies now, and only it may subtract df)
      val newlyDead = spark.read.schema(IndexSchema.docs).parquet(cfg.docsPath)
        .filter($"docId" < docBase)
        .join(removedRows.select($"repo", $"path", $"commit"),
          Seq("repo", "path", "commit"))
        .join(prevDead, Seq("docId"), "left_anti")
        .select($"docId", $"dl", $"repo", $"path", $"commit")
        .persist()
      val agg = newlyDead.agg(
        count($"docId").as("n"), coalesce(sum($"dl"), lit(0L)).as("tok")).head()
      val (nNew, tokNew) = (agg.getLong(0), agg.getLong(1))
      val totalDead = prev.map(_.rows).getOrElse(0L) + nNew
      val totalTok =
        prev.flatMap(_.extra.get("deadTokens")).map(_.toLong).getOrElse(0L) +
          tokNew
      require(totalDead <= Searcher.TombstonesMaxDocs,
        s"$totalDead tombstones exceed the serving bound — compact() first")

      // df of the dead docs: re-tokenize just the removed rows (their
      // content IS the indexed content — files are immutable and every
      // rewrite re-indexes), distinct terms per doc, count docs per term
      val unicode = cfg.unicodeFold
      val deadTerms = removedRows
        .join(newlyDead.select($"repo", $"path", $"commit"),
          Seq("repo", "path", "commit"), "left_semi")
        .select($"content").as[String]
        .flatMap(c => CodeTokenizer.tokenize(c, unicode).distinct)
        .toDF("term")
        .groupBy($"term").agg(count(lit(1)).as("delta"))
      // a removed row was indexed before this refresh: its terms are all
      // in the committed lexicon
      val terms = spark.read.schema(IndexSchema.lexicon)
        .parquet(cfg.paths(base.records).lexicon).select($"term", $"termId")
      val newDelta = deadTerms.join(terms, "term")
        .select($"termId", $"delta")
      val prevDelta: DataFrame = prev match {
        case Some(r) => spark.read.schema(IndexSchema.dfdelta)
          .parquet(cfg.path(r.extra("dfDir")))
        case None => Seq.empty[(Int, Long)].toDF("termId", "delta")
      }
      // fresh dirs named by the version this refresh commits: a retry
      // overwrites them, the commit drops the previous pair
      val tsDir = s"tombstones-v${base.version + 1}"
      val dfDir = s"dfdelta-v${base.version + 1}"
      prevDead.union(newlyDead.select($"docId"))
        .write.mode("overwrite").parquet(cfg.path(tsDir))
      prevDelta.union(newDelta)
        .groupBy($"termId").agg(sum($"delta").as("delta"))
        .write.mode("overwrite").parquet(cfg.path(dfDir))
      newlyDead.unpersist()
      next += "tombstones" -> StageRecord("tombstones", "complete",
        s"$table:v$cur", totalDead, 0L,
        Map("deadTokens" -> totalTok.toString, "dir" -> tsDir,
          "dfDir" -> dfDir))
    }

    manifest.commit(base, next + ("tableSync" -> syncRecord(table, cur)))
    // drop cached plans rooted under the index dir: a Searcher left open
    // across this refresh re-materializes its persisted reads from its
    // ORIGINAL file listing, and a later (fresh) Searcher's identical-path
    // reads would be cache-substituted with that stale data
    spark.catalog.refreshByPath(cfg.indexDir)
    IndexBuilder.stats(cfg)
  }

  /** Reclaim deletes: rebuild the whole index from the table's live
    * snapshot — fresh dense docIds, single segment, zero tombstones. The
    * rebuild is a stage-checkpointed sub-index under the index directory
    * (`rebuild-vN`, N = the version its adoption commits); ONE manifest
    * commit adopts it and drops every directory of the old index. A crash
    * before the commit leaves the old index serving, and a retry resumes
    * the rebuild. The role of a Lucene merge that drops deleted docs;
    * segment-merge WITHOUT delete reclaim is [[IndexBuilder.compact]]. */
  def compact(table: String): CorpusStats = {
    val base = manifest.snapshot()
    val v = ops.currentVersion(table)
    require(v >= 0, s"table $table does not exist")
    val root = s"rebuild-v${base.version + 1}"
    val subCfg = cfg.copy(indexDir = cfg.path(root))
    val fp = s"table:$table:v$v:rebuild"
    IndexBuilder.build(spark, toCorpus(ops.readVersion(table, v)), subCfg, fp)
    // a maintained positional sidecar is rebuilt fresh with the index
    // (single range-sorted layout again, dead rows dropped)
    if (base.records.contains("positions"))
      PositionalIndex.build(spark, toCorpus(ops.readVersion(table, v)),
        subCfg, fp)
    val adopted = new Manifest(subCfg.indexDir).read().values
      .map(Manifest.relocate(_, root))
    manifest.commit(base, ListMap.from(
      (adopted ++ Seq(syncRecord(table, v))).map(r => r.stage -> r)))
    spark.catalog.refreshByPath(cfg.indexDir)
    IndexBuilder.stats(cfg)
  }
}
