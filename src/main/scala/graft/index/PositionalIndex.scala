package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.CodeTokenizer
import graft.checkpoint.{Manifest, StageRecord}
import graft.codec.{PostingCodec, VByte}
import graft.model.SourceFile

/** The positions of one posting block: `(termId, firstDocId)` names the
  * postings block it belongs to (the pair is unique per index), and
  * `posBytes` concatenates the position streams of that block's postings in
  * the block's docId order. Each stream is the VByte encoding of the
  * posting's 0-based positions, first absolute then deltas (≥ 1: positions
  * strictly increase), and holds exactly the posting's tf values. The row
  * carries no docIds, tfs or doc lengths: the postings block holds the
  * first two, the docs table (the Searcher's norms) the third. */
final case class PosBlockRow(
    termId: Int,
    firstDocId: Long,
    posBytes: Array[Byte])

/** Opt-in positional sidecar of a built index (phrase / proximity queries).
  *
  * The main build keeps its content-read-once contract; positions are a
  * SEPARATE pass over the corpus, built only for deployments that serve
  * phrase queries (Lucene's optional positions the same way: an index
  * without them cannot run PhraseQuery). The sidecar resolves docIds
  * through the main index's docs table and termIds through its lexicon,
  * so phrase and bag-of-words queries agree on every id.
  *
  * Layout: one row per postings block ([[PosBlockRow]]) — Lucene's `.pos`
  * file addressed by the `.doc` file's blocks. The writer takes the block
  * boundaries from the written postings blocks (joined on (termId, docId)),
  * so the two structures are cut by one definition, the postings encoder's,
  * whichever build, segment append or compaction wrote the blocks; a block
  * without a position stream for every posting, or with a stream whose
  * length differs from the posting's tf, fails the write. Files are
  * range-partitioned and sorted on (termId, firstDocId), the postings
  * layout's file-level IndexScan discipline: a phrase's terms resolve to
  * O(1) parquet files via footer min/max
  * ([[graft.query.Searcher.searchPhrase]] prunes with them).
  *
  * Scale shape (100 TB): tokenize runs in place (content never shuffled);
  * the wide exchanges move (term, docId, positions) rows bounded by token
  * count — the docs join ships 3 short strings + positions per doc-term,
  * the lexicon join is AQE-broadcast for all but web-scale vocabularies, the
  * block join pairs each with its (termId, docId, firstDocId, tf) posting,
  * and the final range exchange moves the packed bytes once. Resumable:
  * the `positions` manifest record skips a completed build with a matching
  * fingerprint (the same stage discipline as build()).
  *
  * Maintenance: the sidecar follows the main index's segment model.
  * [[append]] adds main segment N's blocks as `possegN-` part files inside
  * the same positions dir (the layout stays a union of range-sorted runs —
  * file-level footer pruning holds per file), and
  * [[graft.index.TableIndexer.refresh]] publishes them in the same
  * manifest commit as the main append. Deletes need NO positional
  * bookkeeping: searchPhrase computes phrase df and tf live from the
  * positions and skips the MAIN index's tombstones, so phrase scores after
  * any incremental cycle equal a from-scratch rebuild of the live snapshot
  * exactly (PhraseSpec pins it). [[IndexBuilder.compact]] re-cuts the
  * postings blocks and re-packs the positions to match ([[repack]]) in the
  * same commit; [[graft.index.TableIndexer.compact]] rebuilds the sidecar
  * fresh alongside the main index, dropping dead rows.
  */
object PositionalIndex {

  /** (termId, docId, posBytes) rows for `corpus`, one per (term, doc),
    * termIds resolved against the lexicon `paths` names and docIds against
    * its docs table restricted to `docId >= baseDocId` — for an appended
    * batch the floor is the append's docId base, so a key REWRITTEN by an
    * update (its old docId just died as a tombstone) maps only to its
    * fresh id, never to the dead twin. */
  private def positionRows(spark: SparkSession, corpus: Dataset[SourceFile],
      cfg: IndexConfig, paths: IndexPaths, baseDocId: Long): DataFrame = {
    import spark.implicits._
    val uniFold = cfg.unicodeFold
    val perTerm = corpus.flatMap { sf =>
      val (poss, _) = CodeTokenizer.termPositions(sf.content, uniFold)
      poss.iterator.map { case (term, ps) =>
        val out = scala.collection.mutable.ArrayBuilder.make[Byte]
        var prev = 0
        var j = 0
        while (j < ps.length) {
          VByte.encode((ps(j) - prev).toLong, out); prev = ps(j); j += 1
        }
        (sf.repo, sf.path, sf.commit, term, out.result())
      }
    }.toDF("repo", "path", "commit", "term", "posBytes")
    perTerm
      .join(spark.read.schema(IndexSchema.docs).parquet(paths.docs)
          .filter($"docId" >= baseDocId)
          .select($"docId", $"repo", $"path", $"commit"),
        Seq("repo", "path", "commit"))
      .join(spark.read.schema(IndexSchema.lexicon).parquet(paths.lexicon)
          .select($"termId", $"term"),
        "term") // AQE broadcasts the lexicon when small
      .select($"termId", $"docId", $"posBytes")
  }

  /** Pack per-(term, doc) position streams `rows` (termId, docId, posBytes)
    * into one [[PosBlockRow]] per postings block of `blocks`, range-
    * partitioned and sorted on (termId, firstDocId) into `parts` files at
    * `out`; returns the row (block) count. Every posting of `blocks` must
    * find its stream in `rows`, holding exactly tf positions. */
  private def pack(spark: SparkSession, rows: DataFrame, blocks: DataFrame,
      parts: Int, out: String): Long = {
    import spark.implicits._
    val postings = blocks.select($"termId", $"firstDocId", $"bytes")
      .as[(Int, Long, Array[Byte])]
      .flatMap { case (t, first, bytes) =>
        val b = Array.newBuilder[(Int, Long, Long, Int)]
        PostingCodec.foreachPosting(bytes)((d, tf) => b += ((t, d, first, tf)))
        b.result().iterator
      }.toDF("termId", "docId", "firstDocId", "tf")
    val joined0 = postings.join(rows, Seq("termId", "docId"), "left")
    // persist before a multi-partition range exchange: its sampling job
    // would otherwise run the tokenize + joins lineage TWICE (the
    // writeRanked one-pass fix; a 1-partition exchange samples nothing,
    // so the persist would be pure churn there)
    val joined = if (parts > 1)
      joined0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else joined0
    try {
      joined
        .repartitionByRange(parts, $"termId", $"firstDocId")
        .sortWithinPartitions($"termId", $"firstDocId", $"docId")
        .select($"termId", $"firstDocId", $"docId", $"tf", $"posBytes")
        .as[(Int, Long, Long, Int, Array[Byte])]
        .mapPartitions { it0 =>
          val it = it0.buffered
          new Iterator[PosBlockRow] {
            def hasNext: Boolean = it.hasNext
            def next(): PosBlockRow = {
              val (termId, first, _, _, _) = it.head
              val out = scala.collection.mutable.ArrayBuilder.make[Byte]
              while (it.hasNext && it.head._1 == termId && it.head._2 == first) {
                val (_, _, d, tf, ps) = it.next()
                require(ps != null && streamLength(ps) == tf,
                  s"term $termId, doc $d: the postings hold tf $tf but the " +
                    "positions corpus does not — build the sidecar from the " +
                    "indexed corpus")
                out ++= ps
              }
              PosBlockRow(termId, first, out.result())
            }
          }
        }
        .write.mode("overwrite").parquet(out)
    } finally { if (parts > 1) joined.unpersist(); () }
    // single-partition regime: count from the file footers driver-side
    if (parts == 1) IndexBuilder.parquetRowCount(spark, out)
    else spark.read.schema(IndexSchema.positions).parquet(out).count()
  }

  /** Number of VByte values in `bytes` (one terminal byte each). */
  private def streamLength(bytes: Array[Byte]): Int = {
    var n = 0
    var i = 0
    while (i < bytes.length) { if (bytes(i) >= 0) n += 1; i += 1 }
    n
  }

  /** Range-exchange width for `bytes` of position rows. */
  private def rangeParts(spark: SparkSession, cfg: IndexConfig, bytes: Long): Int =
    IndexBuilder.sizedParts(bytes, cfg.rangeTargetBytes,
      IndexBuilder.partitions(spark, cfg))

  /** Build (or reuse) the positional sidecar over every postings block of
    * the index. Returns the block count. */
  def build(spark: SparkSession, corpus: Dataset[SourceFile],
      cfg: IndexConfig, fingerprint: String = ""): Long = {
    val manifest = new Manifest(cfg.indexDir)
    val paths = cfg.paths(manifest.read())
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
    val n = pack(spark, positionRows(spark, corpus, cfg, paths, baseDocId = 0L),
      spark.read.schema(IndexSchema.postings).parquet(paths.postings),
      rangeParts(spark, cfg, toks * 4L), paths.positions)
    manifest.commit(StageRecord("positions", "complete", fp, n,
      (System.nanoTime() - t0) / 1000000,
      Map("dir" -> cfg.dir("positions"),
        "segments" -> IndexBuilder.segments(manifest.read().keys).toString)))
    n
  }

  /** Append one batch's positions as a new positional segment — the
    * sidecar half of [[IndexBuilder.append]]: call it AFTER the main append
    * committed with the same `fingerprint` (the batch's final docIds, new
    * termIds and posting blocks come from that append's rows).
    * `baseDocId` = the main append's docId base (corpus size before the
    * append). A no-op when the sidecar already covers that segment.
    * Returns the number of position blocks added. */
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
    val rec = stageAppend(spark, batch, cfg, cfg.paths(base.records),
      baseDocId, seg, pos)
    manifest.commit(base, base.records + ("positions" -> rec))
    spark.catalog.refreshByPath(cfg.indexDir)
    rec.rows - pos.rows
  }

  /** Write the positions of main segment `seg`'s posting blocks (those at
    * or above `baseDocId`, already in the postings dir) into the positions
    * dir as `possegN-` part-files (replacing a crashed attempt's) and
    * return the `positions` record to commit with it. `paths` are the
    * directories the commit will name: before the main append commits,
    * the batch's new terms are only in its staged lexicon. */
  private[index] def stageAppend(spark: SparkSession, batch: Dataset[SourceFile],
      cfg: IndexConfig, paths: IndexPaths, baseDocId: Long, seg: Int,
      pos: StageRecord): StageRecord = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val io = Manifest.io(cfg.indexDir)
    val prefix = s"posseg$seg"
    val live = paths.positions
    IndexBuilder.dropParts(io, live, prefix)
    val stage = cfg.path(s"segments/seg$seg/merge/positions")
    // size the segment's range exchange from the batch's estimated bytes
    // (positions are a fraction of content size; the cap keeps the old
    // core-derived behavior when the estimate is unusable)
    val n = pack(spark, positionRows(spark, batch, cfg, paths, baseDocId),
      spark.read.schema(IndexSchema.postings).parquet(paths.postings)
        .filter($"firstDocId" >= baseDocId),
      rangeParts(spark, cfg, IndexBuilder.planBytes(batch.toDF())), stage)
    IndexBuilder.moveParts(io, stage, live, prefix)
    io.deleteRecursively(cfg.path(s"segments/seg$seg/merge"))
    // re-list cached plans rooted here now that the posseg files exist: a
    // live Searcher's persisted positional reads pin the pre-append file
    // listing and would otherwise be substituted — minus this segment —
    // into later phrase queries
    spark.catalog.refreshByPath(cfg.indexDir)
    pos.copy(rows = pos.rows + n, wallMs = (System.nanoTime() - t0) / 1000000,
      extra = pos.extra + ("segments" -> (seg + 1).toString))
  }

  /** Re-pack the positions of `oldPositions` (cut like the blocks at
    * `oldPostings`) into the blocks at `newPostings` — the same postings
    * re-cut by [[IndexBuilder.compact]] — writing `out`. Nothing is
    * re-tokenized: each old block's stream is split per posting by the old
    * block's tfs. A crashed append's `possegN-` rows have no block at
    * `newPostings` and are left out. Returns the new block count. */
  private[index] def repack(spark: SparkSession, cfg: IndexConfig,
      oldPostings: String, oldPositions: String, newPostings: String,
      out: String): Long = {
    import spark.implicits._
    val rows = spark.read.schema(IndexSchema.positions).parquet(oldPositions)
      .join(spark.read.schema(IndexSchema.postings).parquet(oldPostings)
          .select($"termId", $"firstDocId", $"bytes"),
        Seq("termId", "firstDocId"))
      .select($"termId", $"bytes", $"posBytes")
      .as[(Int, Array[Byte], Array[Byte])]
      .flatMap { case (t, bytes, posBytes) =>
        postingStreams(bytes, posBytes).iterator.map { case (d, s) => (t, d, s) }
      }.toDF("termId", "docId", "posBytes")
    pack(spark, rows,
      spark.read.schema(IndexSchema.postings).parquet(newPostings),
      rangeParts(spark, cfg, IndexBuilder.stats(cfg).totalTokens * 4L), out)
  }

  /** (docId, that posting's VByte position stream) for each posting of
    * the postings block `bytes`, sliced out of its positions `posBytes`. */
  private def postingStreams(bytes: Array[Byte], posBytes: Array[Byte])
      : Array[(Long, Array[Byte])] = {
    val out = Array.newBuilder[(Long, Array[Byte])]
    var at = 0
    PostingCodec.foreachPosting(bytes) { (d, tf) =>
      val from = at
      var left = tf
      while (left > 0) { if (posBytes(at) >= 0) left -= 1; at += 1 }
      out += ((d, java.util.Arrays.copyOfRange(posBytes, from, at)))
    }
    out.result()
  }

  /** Decode a postings block with its positions: `f(docId, positions)` per
    * posting, in docId order, the positions absolute. */
  def foreachPosting(bytes: Array[Byte], posBytes: Array[Byte])(
      f: (Long, Array[Int]) => Unit): Unit = {
    val at = Array(0)
    PostingCodec.foreachPosting(bytes)((d, tf) =>
      f(d, decodePositions(posBytes, tf, at)))
  }

  /** Decode the `tf` positions of the stream starting at `pos(0)` in
    * `bytes` back to absolute positions; advances `pos(0)` past it. */
  def decodePositions(bytes: Array[Byte], tf: Int,
      pos: Array[Int] = Array(0)): Array[Int] = {
    val out = new Array[Int](tf)
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
