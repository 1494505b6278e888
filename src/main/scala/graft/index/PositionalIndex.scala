package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.CodeTokenizer
import graft.checkpoint.{Manifest, StageRecord}
import graft.codec.VByte
import graft.model.SourceFile

/** One positional posting: every occurrence position of `termId` in
  * `docId`. `posBytes` = VByte stream of the 0-based positions as
  * first-absolute + deltas (deltas ≥ 1 — positions are strictly
  * increasing); `tf` = the position count; `dl` carried so phrase scoring
  * never joins the docs table. The Lucene .pos-file shape, one row per
  * (term, doc) instead of block-packed: position payloads are
  * per-occurrence (not per-posting), so row overhead is already a small
  * fraction and the row layout keeps the reader a plain pushed-down
  * parquet scan. */
final case class PosPostingRow(
    termId: Int,
    docId: Long,
    tf: Int,
    dl: Int,
    posBytes: Array[Byte])

/** Opt-in positional sidecar of a built index (phrase / proximity queries).
  *
  * The main build keeps its content-read-once contract and its forward
  * schema; positions are a SEPARATE pass over the corpus, built only for
  * deployments that serve phrase queries (Lucene's optional positions the
  * same way: an index without them cannot run PhraseQuery). The sidecar
  * reuses the main index's keymap (docIds) and vocab (termIds), so phrase
  * and bag-of-words queries agree on every id.
  *
  * Layout: range-partitioned + sorted on (termId, docId) — the same
  * file-level IndexScan discipline as the postings layout: a phrase's
  * terms resolve to O(1) parquet files via footer min/max
  * ([[graft.query.Searcher.searchPhrase]] prunes with them).
  *
  * Scale shape (100 TB): tokenize runs in place (content never shuffled);
  * the only wide exchanges move (term, docId, positions) rows bounded by
  * token count — the keymap join ships 3 short strings + positions per
  * doc-term, the vocab join is AQE-broadcast for all but web-scale
  * vocabularies, and the final range exchange moves the packed bytes once.
  * Resumable: the `positions` manifest record skips a completed build with
  * a matching fingerprint (the same stage discipline as build()).
  *
  * Maintenance: the sidecar follows the main index's segment model.
  * [[append]] adds main segment N's documents as `possegN-` part files
  * inside the same positions dir (the layout stays a union of
  * range-sorted runs — file-level footer pruning holds per file), and
  * [[graft.index.TableIndexer.refresh]] publishes them in the same
  * manifest commit as the main append. Deletes need NO positional
  * bookkeeping: searchPhrase computes phrase df and tf live from the
  * position rows and skips the MAIN index's tombstones, so phrase scores
  * after any incremental cycle equal a from-scratch rebuild of the live
  * snapshot exactly (PhraseSpec pins it). compact() rebuilds the sidecar
  * fresh alongside the main index, dropping dead rows.
  */
object PositionalIndex {

  /** (termId, docId, tf, dl, posBytes) rows for `corpus`, docIds resolved
    * against the index's docs table restricted to `docId >= baseDocId` —
    * for an appended batch the floor is the append's docId base, so a key
    * REWRITTEN by an update (its old docId just died as a tombstone) maps
    * only to its fresh id, never to the dead twin. */
  private def positionRows(spark: SparkSession, corpus: Dataset[SourceFile],
      cfg: IndexConfig, baseDocId: Long) = {
    import spark.implicits._
    val uniFold = cfg.unicodeFold
    val perTerm = corpus.flatMap { sf =>
      val (poss, dl) = CodeTokenizer.termPositions(sf.content, uniFold)
      poss.iterator.map { case (term, ps) =>
        val out = scala.collection.mutable.ArrayBuilder.make[Byte]
        var prev = 0
        var j = 0
        while (j < ps.length) {
          VByte.encode((ps(j) - prev).toLong, out); prev = ps(j); j += 1
        }
        (sf.repo, sf.path, sf.commit, term, ps.length, dl, out.result())
      }
    }.toDF("repo", "path", "commit", "term", "tf", "dl", "posBytes")
    perTerm
      .join(spark.read.schema(IndexSchema.docs).parquet(cfg.docsPath)
          .filter($"docId" >= baseDocId)
          .select($"docId", $"repo", $"path", $"commit"),
        Seq("repo", "path", "commit"))
      .join(spark.read.schema(IndexSchema.vocab).parquet(cfg.vocabPath)
          .select($"termId", $"term"),
        "term") // AQE broadcasts the vocab when small
      .select($"termId", $"docId", $"tf", $"dl", $"posBytes")
  }

  /** Write position rows range-partitioned and sorted on (termId, docId)
    * into `parts` files at `out`; returns the row count. */
  private def write(spark: SparkSession, rows0: DataFrame, parts: Int,
      out: String): Long = {
    import spark.implicits._
    // persist before a multi-partition range exchange: its sampling job
    // would otherwise run the tokenize + two joins lineage TWICE (the
    // writeRanked one-pass fix; a 1-partition exchange samples nothing,
    // so the persist would be pure churn there)
    val rows = if (parts > 1)
      rows0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else rows0
    try {
      rows
        .repartitionByRange(parts, $"termId", $"docId")
        .sortWithinPartitions($"termId", $"docId")
        .write.mode("overwrite").parquet(out)
    } finally { if (parts > 1) rows.unpersist(); () }
    // single-partition regime: count from the file footers driver-side
    if (parts == 1) IndexBuilder.parquetRowCount(spark, out)
    else spark.read.schema(IndexSchema.positions).parquet(out).count()
  }

  /** Build (or reuse) the positional sidecar. Returns the row count. */
  def build(spark: SparkSession, corpus: Dataset[SourceFile],
      cfg: IndexConfig, fingerprint: String = ""): Long = {
    import spark.implicits._
    val manifest = new Manifest(cfg.indexDir)
    require(manifest.get("postings").nonEmpty,
      s"positional sidecar needs the main index built at ${cfg.indexDir}")
    val fp = s"v${IndexBuilder.FormatVersion}:positions:" +
      (if (fingerprint.nonEmpty) fingerprint else "corpus")
    if (manifest.isComplete("positions", fp))
      return manifest.get("positions").get.rows

    val t0 = System.nanoTime()
    // scale-adaptive range sizing (IndexBuilder.sizedParts): position rows
    // are ~4 B/token (VByte deltas + row overhead); the main index is
    // already built, so its token total is in the manifest
    val toks = scala.util.Try(IndexBuilder.stats(cfg).totalTokens)
      .getOrElse(Long.MaxValue / 8)
    val n = write(spark, positionRows(spark, corpus, cfg, baseDocId = 0L),
      IndexBuilder.sizedParts(toks * 4L, cfg.rangeTargetBytes,
        IndexBuilder.partitions(spark, cfg)), cfg.positionsPath)
    manifest.commit(StageRecord("positions", "complete", fp, n,
      (System.nanoTime() - t0) / 1000000,
      Map("dir" -> cfg.dir("positions"),
        "segments" -> IndexBuilder.segments(manifest.read().keys).toString)))
    n
  }

  /** Append one batch's position rows as a new positional segment — the
    * sidecar half of [[IndexBuilder.append]]: call it AFTER the main append
    * committed with the same `fingerprint` (the batch's final docIds and any
    * new termIds come from that append's docs and vocabulary rows).
    * `baseDocId` = the main append's docId base (corpus size before the
    * append). A no-op when the sidecar already covers that segment.
    * Returns the number of position rows added. */
  def append(spark: SparkSession, batch: Dataset[SourceFile],
      cfg: IndexConfig, fingerprint: String, baseDocId: Long): Long = {
    val manifest = new Manifest(cfg.indexDir)
    val base = manifest.snapshot()
    val pos = base.records.getOrElse("positions", throw new IllegalStateException(
      s"no positional sidecar at ${cfg.indexDir} — build() it first"))
    val fp = s"v${IndexBuilder.FormatVersion}:$fingerprint"
    val seg = base.records.collectFirst {
      case (k, r) if k.startsWith("append-") && r.inputFingerprint == fp =>
        k.stripPrefix("append-").toInt
    }.getOrElse(throw new IllegalStateException(
      s"no committed append with fingerprint '$fingerprint' at ${cfg.indexDir}"))
    if (pos.extra("segments").toInt > seg) return 0L
    val rec = stageAppend(spark, batch, cfg, baseDocId, seg, pos)
    manifest.commit(base, base.records + ("positions" -> rec))
    spark.catalog.refreshByPath(cfg.indexDir)
    rec.rows - pos.rows
  }

  /** Write main segment `seg`'s position rows into the positions dir as
    * `possegN-` part-files (replacing a crashed attempt's) and return the
    * `positions` record to commit with it. */
  private[index] def stageAppend(spark: SparkSession, batch: Dataset[SourceFile],
      cfg: IndexConfig, baseDocId: Long, seg: Int, pos: StageRecord): StageRecord = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val io = Manifest.io(cfg.indexDir)
    val prefix = s"posseg$seg"
    val live = cfg.positionsPath
    IndexBuilder.dropParts(io, live, prefix)
    val stage = cfg.path(s"segments/seg$seg/merge/positions")
    // size the segment's range exchange from the batch's estimated bytes
    // (positions are a fraction of content size; the cap keeps the old
    // core-derived behavior when the estimate is unusable)
    val n = write(spark, positionRows(spark, batch, cfg, baseDocId),
      IndexBuilder.sizedParts(IndexBuilder.planBytes(batch.toDF()),
        cfg.rangeTargetBytes, IndexBuilder.partitions(spark, cfg)), stage)
    IndexBuilder.moveParts(io, stage, live, prefix)
    io.deleteRecursively(stage)
    // re-list cached plans rooted here now that the posseg files exist: a
    // live Searcher's persisted positional reads pin the pre-append file
    // listing and would otherwise be substituted — minus this segment —
    // into later phrase queries
    spark.catalog.refreshByPath(cfg.indexDir)
    pos.copy(rows = pos.rows + n, wallMs = (System.nanoTime() - t0) / 1000000,
      extra = pos.extra + ("segments" -> (seg + 1).toString))
  }

  /** Decode a posBytes stream back to absolute positions. */
  def decodePositions(bytes: Array[Byte], tf: Int): Array[Int] = {
    val out = new Array[Int](tf)
    val pos = Array(0)
    var prev = 0
    var i = 0
    while (i < tf) {
      prev += VByte.decode(bytes, pos).toInt
      out(i) = prev
      i += 1
    }
    out
  }
}
