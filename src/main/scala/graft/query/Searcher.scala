package graft.query

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.CodeTokenizer
import graft.codec.{PostingCodec, VByte}
import graft.index.{IndexBuilder, IndexConfig, IndexSchema, PosBlockRow,
  PositionalIndex}
import graft.model._

/** BM25 top-k query engine over a built graft index.
  *
  * Determinism contract (rank-identity across parallelism levels and vs the
  * sequential oracle, SURVEY.md §7.0/§7.5): query terms get a canonical
  * order (sorted unique); every scorer — TAAT, WAND, and the sequential
  * oracle — sums per-term contributions in that order, so Double summation
  * is bit-identical everywhere. Tie-break: score DESC, docId ASC.
  *
  * Two scoring paths:
  *   - `scoreAll` / `searchTAAT`: term-at-a-time over decoded postings as a
  *     declarative Spark plan (decode flatMap → join doc norms → mapGroups
  *     ordered sum). Used for oracle parity and full-ranking dumps.
  *   - `searchWAND`: Block-Max WAND with (a) global per-term score upper
  *     bounds for pivot selection, (b) undecoded block skipping in nextGEQ
  *     via lastDocId metadata, and (c) a block-max skip: a pivot is dropped
  *     without decoding when the sum of its cursors' current-block max
  *     scores is strictly below the heap threshold. Driver-local and gather
  *     serving run one WAND over all of the query's blocks. Distributed
  *     serving runs one WAND task per stored docId shard: a term's block
  *     chain is cut at blockSize, not at shards (IndexBuilder), so each
  *     block goes to every shard whose docId range it overlaps, and a task
  *     scores only the docs inside its own range. Every doc is scored in
  *     exactly one task and a block's max bound holds over any sub-range,
  *     so the tasks' top-k's merge into an exact global top-k (terrier's
  *     parallel top-k sorter shape, sorter.cpp:332).
  */
final class Searcher(spark: SparkSession, cfg: IndexConfig,
    localServeMaxBlocks: Long = Searcher.DefaultLocalServeMaxBlocks,
    gatherMaxBlocks: Long = Searcher.GatherMaxBlocks,
    phraseGatherMaxPostings: Long = Searcher.PhraseGatherMaxPostings,
    broadcastNormsMaxDocs: Long = Searcher.BroadcastNormsMaxDocs)
    extends Serializable {
  import spark.implicits._

  /** The one manifest version this Searcher serves: every record and
    * directory it reads, at open and in each lazy load, comes from this
    * snapshot, so a commit landing between two loads cannot mix versions. */
  private val records = new graft.checkpoint.Manifest(cfg.indexDir).read()
  private val paths = cfg.paths(records)

  val stats: CorpusStats = IndexBuilder.stats(cfg.indexDir, records)
  private val p = cfg.bm25

  /** Posting-block count: the local-serving and postings-cache budgets
    * gate on it. */
  private val nBlocks =
    records.get("postings").map(_.rows).getOrElse(Long.MaxValue)

  private def docsDF: DataFrame =
    spark.read.schema(IndexSchema.docs).parquet(paths.docs)

  private def lexiconScan: DataFrame =
    spark.read.schema(IndexSchema.lexicon).parquet(paths.lexicon)
      .select($"term", $"termId", $"df", $"maxTfNorm", $"nBlocks")

  /** Cleanup actions registered as each lazy cached resource materializes;
    * close() drains them so a superseded Searcher (stale fingerprint or
    * replaced session) releases its persisted blocks and broadcasts
    * instead of leaking for the life of the process. */
  private val cleanups =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  /** Release every persisted/broadcast resource this Searcher materialized.
    * Safe on a stopped SparkSession (failures are swallowed — there is
    * nothing left to free). The Searcher must not be used afterwards. */
  def close(): Unit = {
    var c = cleanups.poll()
    while (c != null) {
      try c() catch { case _: Exception => () }
      c = cleanups.poll()
    }
  }

  /** Block-max upper bounds were computed with the avgdl at each segment's
    * write time; appends raise the corpus avgdl, which raises true tf-norms.
    * norm(a_new)/norm(a_old) <= a_new/a_old, so scaling stored bounds by
    * avgdlNow / min(avgDlAtBuild) keeps WAND pruning exact (only looser). */
  private[graft] lazy val ubScale: Double = {
    val builds =
      records.values.flatMap(_.extra.get("avgDlAtBuild")).map(_.toDouble)
    if (builds.isEmpty) 1.0
    else math.max(1.0, liveStats.avgDl / builds.min)
  }

  /** Deleted docIds (TableIndexer refresh tombstones — the Lucene live-docs
    * bitset role): postings of dead docs stay on disk until a compact/
    * rebuild; scoring skips them, which is exact (a skipped candidate only
    * leaves theta lower, and block-max bounds remain valid upper bounds
    * over the live subset). Driver-resident + broadcast, size-guarded:
    * past TombstonesMaxDocs the deployment must compact (rebuild), the
    * same contract as Lucene's merge policy reclaiming deletes. */
  private val tombstoneRecord: Option[graft.checkpoint.StageRecord] =
    records.get("tombstones")

  /** SORTED primitive docId array (8 B/id flat + binary-search probes):
    * at the TombstonesMaxDocs bound this is ~400 MB on the driver and in
    * each broadcast-deserialized copy, where the previous boxed
    * HashSet[java.lang.Long] representation was multi-GB of objects — the
    * bound exists but only this layout survives it (guide §5). */
  private lazy val tombstones: Array[Long] = {
    tombstoneRecord match {
      case None => Array.emptyLongArray
      case Some(r) =>
        val ids = spark.read.schema(IndexSchema.tombstones)
          .parquet(paths.path(r.extra("dir"))).as[Long].collect()
        require(ids.length <= Searcher.TombstonesMaxDocs,
          s"${ids.length} tombstones exceed the serving bound — compact the index")
        java.util.Arrays.sort(ids)
        ids
    }
  }

  private lazy val tombstonesBroadcast
      : org.apache.spark.broadcast.Broadcast[Array[Long]] = {
    val b = spark.sparkContext.broadcast(tombstones)
    cleanups.add(() => b.destroy())
    b
  }

  /** Tombstone predicate captured ONCE per query (the lazy-val accessor's
    * volatile read must not sit in the per-posting hot loop; and the
    * no-tombstones case — almost every index — pays a constant-false
    * lambda, not a search probe). */
  private def deadFn(): Long => Boolean = {
    val ts = tombstones
    if (ts.isEmpty) _ => false else Searcher.containsSorted(ts, _)
  }

  /** Compose a skip predicate with a per-query ALLOW set (filtered search,
    * SORTED ids): a doc outside the allow-set is treated exactly like a
    * dead doc — skipping a candidate only lowers theta and block-max
    * bounds stay valid upper bounds, so WAND remains exact under any
    * filter. */
  private def withAllow(dead: Long => Boolean,
      allow: Array[Long]): Long => Boolean =
    if (allow == null) dead
    else d => dead(d) || !Searcher.containsSorted(allow, d)

  /** Per-term df of DEAD docs (recorded by TableIndexer alongside the
    * tombstones): df_live = df_stored - delta, so idf — and therefore
    * every score — matches a from-scratch build of the live corpus. */
  private lazy val dfDelta: Map[Int, Long] = tombstoneRecord match {
    case None => Map.empty
    case Some(r) =>
      spark.read.schema(IndexSchema.dfdelta)
        .parquet(paths.path(r.extra("dfDir")))
        .as[(Int, Long)].collect().toMap
  }

  /** Corpus statistics of the LIVE (un-tombstoned) documents — what BM25's
    * N and avgdl must be for scores to equal a rebuild of the live state.
    * Equal to `stats` when the index carries no tombstones. */
  lazy val liveStats: graft.model.CorpusStats = tombstoneRecord match {
    case None => stats
    case Some(r) =>
      val deadDocs = r.rows
      val deadTokens = r.extra.getOrElse("deadTokens", "0").toLong
      val n = stats.numDocs - deadDocs
      val tok = stats.totalTokens - deadTokens
      stats.copy(numDocs = n, totalTokens = tok,
        avgDl = if (n > 0) tok.toDouble / n else 0.0)
  }

  /** Doc-length (norms) table, persisted once per Searcher: every query
    * needs it and it is small relative to postings (one int per doc — the
    * analogue of Lucene's norms file). At cluster scale this is a cached
    * Dataset partitioned by shard; queries reuse it across the session. */
  private lazy val norms: Dataset[(Long, Int)] = {
    val ds = docsDF.select($"docId", $"dl").as[(Long, Int)]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ds.count() // materialize
    cleanups.add(() => { ds.unpersist(); () })
    ds
  }

  private lazy val normsLocalArr: Array[Int] = {
    // Int-indexed by construction: only reachable below
    // broadcastNormsMaxDocs, and the array cannot represent more — if the
    // threshold is ever raised past Int.MaxValue this must become a
    // Long-indexed structure (the cogroup path has no such bound)
    require(stats.numDocs <= Int.MaxValue,
      s"normsLocalArr is Int-indexed; ${stats.numDocs} docs need the cogroup path")
    val arr = new Array[Int](stats.numDocs.toInt)
    // one job, the collect itself: materializing the persisted `norms`
    // Dataset first would cost persist + count + collect (3 jobs) for the
    // same bytes — `norms` stays lazy for the distributed TAAT join path
    docsDF.select($"docId", $"dl").as[(Long, Int)]
      .collect().foreach { case (d, dl) => arr(d.toInt) = dl }
    arr
  }

  private lazy val normsBroadcast
      : org.apache.spark.broadcast.Broadcast[Array[Int]] = {
    val b = spark.sparkContext.broadcast(normsLocalArr)
    cleanups.add(() => b.destroy())
    b
  }

  /** (stored shard, min docId, max docId) per shard of the docs table,
    * sorted by docId: the ranges are disjoint (a segment's shard is
    * monotone in docId, and each appended segment's docIds and shards lie
    * above the ones before it), so they cut the doc space for the
    * distributed WAND tasks. One small aggregate, run only when a query
    * first takes the distributed path. */
  private lazy val shardRangesBroadcast
      : org.apache.spark.broadcast.Broadcast[Array[(Int, Long, Long)]] = {
    val ranges = docsDF
      .groupBy($"shard").agg(min($"docId"), max($"docId"))
      .as[(Int, Long, Long)].collect().sortBy(_._2)
    val b = spark.sparkContext.broadcast(ranges)
    cleanups.add(() => b.destroy())
    b
  }

  /** Driver-local serving cache. The north-rule headline includes top-k p50
    * LATENCY; at small/hot index sizes a distributed WAND query is pure
    * Spark job-scheduling overhead (~2 jobs ≈ hundreds of ms), so when the
    * whole postings set fits a bounded driver budget the query runs fully
    * in-process — the regime the single-node reference actually serves —
    * with the IDENTICAL WandShard algorithm over the whole docId range, so
    * results are bit-for-bit the same as the distributed path (pinned by
    * IndexSpec). Above the budget (any real cluster corpus) every query
    * takes the distributed path unchanged. */
  private final case class LocalServe(
      byTerm: Map[Int, Array[graft.model.PostingBlockRow]],
      lexicon: Map[String, (Int, Long, Double, Int)])

  private lazy val localServe: Option[LocalServe] = {
    if (nBlocks <= localServeMaxBlocks &&
        stats.numDocs <= broadcastNormsMaxDocs) {
      val blocks = spark.read.schema(IndexSchema.postings).parquet(paths.postings)
        .as[PostingBlockRow].collect()
      val byTerm = blocks.groupBy(_.termId)
      val lex = lexiconScan
        .as[(String, Int, Long, Double, Int)].collect()
        .map { case (t, id, df, m, nb) => t -> ((id, df, m, nb)) }.toMap
      Some(LocalServe(byTerm, lex))
    } else None
  }

  /** Lexicon cached once per Searcher (tiny relative to postings). */
  private lazy val lexiconDF = {
    val df = lexiconScan
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.count()
    cleanups.add(() => { df.unpersist(); () })
    df
  }

  /** Driver-side lexicon for the DISTRIBUTED path too, size-guarded: the
    * lexicon is vocab-sized (≈20k terms even for multi-GB code corpora —
    * it grows ~log with corpus size), so below the guard the per-query
    * term probe is a map lookup instead of a Spark job. Above it (true
    * web-scale vocabularies) the probe stays a pruned DataFrame filter. */
  val DriverLexiconMaxTerms: Long = 2000000L

  private lazy val lexiconLocal: Option[Map[String, (Int, Long, Double, Int)]] = {
    if (stats.vocabSize <= DriverLexiconMaxTerms)
      // one job, the collect itself (not via lexiconDF): in this regime
      // the persisted DataFrame would never be read again, so its persist +
      // count jobs were pure startup overhead per fresh Searcher
      Some(lexiconScan
        .as[(String, Int, Long, Double, Int)].collect()
        .map { case (t, id, df, m, nb) => t -> ((id, df, m, nb)) }.toMap)
    else None
  }

  /** Canonical query terms: tokenize, dedupe, sort (the index's fold). */
  def queryTerms(query: String): Array[String] =
    CodeTokenizer.tokenize(query, cfg.unicodeFold).distinct.sorted.toArray

  /** [[lexFor]] with tombstone df corrections applied: df_live =
    * df_stored − dead-doc df; a term every containing doc of which is dead
    * (live df 0) is dropped — it has no live postings to match. */
  private def lexLive(terms: Array[String])
      : Map[String, (Int, Long, Double, Int)] = {
    val lex = lexFor(terms)
    if (dfDelta.isEmpty) lex
    else lex.flatMap { case (t, (id, df, m, nb)) =>
      val live = df - dfDelta.getOrElse(id, 0L)
      if (live > 0) Some(t -> ((id, live, m, nb))) else None
    }
  }

  /** term -> (termId, df, maxTfNorm, nBlocks) for the present query terms.
    * A map lookup when either driver-side lexicon is active (no Spark
    * job). */
  private def lexFor(terms: Array[String])
      : Map[String, (Int, Long, Double, Int)] =
    localServe.map(_.lexicon).orElse(lexiconLocal) match {
      case Some(lex) =>
        terms.iterator.flatMap(t => lex.get(t).map(t -> _)).toMap
      case None =>
        lexiconDF
          .filter($"term".isin(terms.toSeq: _*))
          .as[(String, Int, Long, Double, Int)]
          .collect()
          .map { case (t, id, df, m, nb) => t -> ((id, df, m, nb)) }
          .toMap
    }

  /** Postings cached in memory when the index is small/hot (≤ 1M block
    * rows ≈ a few hundred MB); larger indexes stay on parquet where
    * FILE-level footer pruning (postingsFilesFor) plus row-group min/max
    * stats bound a term lookup to O(1) files of the ranged layout. */
  private lazy val (postingsDF, postingsCached) = {
    val df = spark.read.schema(IndexSchema.postings).parquet(paths.postings)
    if (nBlocks <= 1000000L) {
      val c = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      c.count()
      cleanups.add(() => { c.unpersist(); () })
      (c, true)
    } else (df, false)
  }

  /** Per-file [min,max] termId from parquet FOOTERS, read once per Searcher
    * (metadata-sized: one footer per file, collected driver-side). The
    * encode pipeline range-partitions the final postings layout on termId,
    * so these ranges are narrow and near-disjoint — the file-level index
    * the IndexScan path prunes with. Files written by appends (merged
    * unranged) or missing stats degrade to [MinValue,MaxValue]: never
    * pruned, still correct. */
  private lazy val postingsFileRanges: Seq[(String, Int, Int)] =
    termIdFileRanges(paths.postings)

  private def termIdFileRanges(dirPath: String): Seq[(String, Int, Int)] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(dirPath)
    val fs = dir.getFileSystem(conf)
    fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val ranges = scala.util.Try {
          val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
          try r.getFooter.getBlocks.asScala.toSeq.flatMap { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == "termId")
              .flatMap { c =>
                val s = c.getStatistics
                if (s == null || !s.hasNonNullValue) None
                else Some((s.genericGetMin.asInstanceOf[Number].intValue(),
                  s.genericGetMax.asInstanceOf[Number].intValue()))
              }
          } finally r.close()
        }.getOrElse(Seq.empty)
        if (ranges.isEmpty) (st.getPath.toString, Int.MinValue, Int.MaxValue)
        else (st.getPath.toString, ranges.map(_._1).min, ranges.map(_._2).max)
      }
  }

  /** The postings files a set of terms can live in (file-level IndexScan
    * prune; package-visible so IndexSpec pins the O(1)-files property). */
  private[graft] def postingsFilesFor(termIds: Array[Int]): Seq[String] =
    postingsFileRanges.collect {
      case (p, mn, mx) if termIds.exists(t => t >= mn && t <= mx) => p
    }

  private def blocksFor(termIds: Array[Int]): Dataset[PostingBlockRow] = {
    val base =
      if (postingsCached) postingsDF // already in memory — nothing to prune
      else {
        val sel = postingsFilesFor(termIds)
        if (sel.isEmpty) return spark.emptyDataset[PostingBlockRow]
        else if (sel.size == postingsFileRanges.size) postingsDF
        else spark.read.schema(IndexSchema.postings).parquet(sel: _*)
      }
    base.filter($"termId".isin(termIds.toSeq: _*)).as[PostingBlockRow]
  }

  /** Full BM25 scores of every matching document (no k cutoff); exact and
    * deterministic. Returned unsorted — callers order as needed. */
  def scoreAll(query: String): Dataset[ScoredDoc] = {
    val terms = queryTerms(query)
    if (terms.isEmpty) return spark.emptyDataset[ScoredDoc]
    val lex = lexLive(terms)
    val present = terms.filter(lex.contains)
    if (present.isEmpty) return spark.emptyDataset[ScoredDoc]
    val n = liveStats.numDocs
    val avgDl = liveStats.avgDl
    val k1 = p.k1; val b = p.b
    // idf * (k1+1) weight per canonical (sorted) term index
    val w: Map[Int, Double] = present.zipWithIndex.map { case (t, i) =>
      i -> IndexBuilder.idf(n, lex(t)._2) * (k1 + 1.0)
    }.toMap
    // termId -> canonical index
    val termIdx: Map[Int, Int] = present.zipWithIndex.map { case (t, i) =>
      lex(t)._1 -> i
    }.toMap
    val wB = spark.sparkContext.broadcast(w)
    val idxB = spark.sparkContext.broadcast(termIdx)

    val tsB = tombstonesBroadcast
    val postings = blocksFor(termIdx.keys.toArray).flatMap { blk =>
      val ti = idxB.value(blk.termId)
      val ts = tsB.value
      PostingCodec.decodeBlock(blk.bytes).iterator
        .filter(pp => ts.isEmpty || !Searcher.containsSorted(ts, pp.docId))
        .map(pp => (pp.docId, ti, pp.tf))
    }.toDF("docId", "termIdx", "tf")

    postings.join(norms.toDF("docId", "dl"), "docId")
      .as[(Long, Int, Int, Int)]
      .groupByKey(_._1)
      .mapGroups { (docId, rows) =>
        // Sum contributions in canonical term order for Double determinism.
        val contribs = rows.toArray.sortBy(_._2)
        var s = 0.0
        var i = 0
        while (i < contribs.length) {
          val (_, ti, tf, dl) = contribs(i)
          s += wB.value(ti) * (tf / (tf + k1 * (1.0 - b + b * dl / avgDl)))
          i += 1
        }
        ScoredDoc(docId, s)
      }
  }

  /** Exact top-k via full scoring + TakeOrderedAndProject. */
  def searchTAAT(query: String, k: Int): Array[ScoredDoc] =
    scoreAll(query).orderBy($"score".desc, $"docId".asc).limit(k).collect()

  /** Exact top-k restricted to an allow-set of documents — attribute-
    * filtered search, Lucene's FilteredQuery role. `allowedDocs` is any
    * DataFrame whose FIRST column holds the allowed docIds. Scores are
    * UNCHANGED by the filter (idf/df/N/avgdl stay those of the whole live
    * index; the filter only restricts which docs may appear in the
    * result) — the semantics that keep scores comparable across filters.
    *
    * Serving: a selective filter (≤ [[Searcher.FilterGatherMaxDocs]]
    * matches, probed with a LIMIT so the job is bounded) is gathered once
    * and folded into the dead-doc predicate of the normal WAND serving
    * paths; a broader filter falls back to the TAAT shape — [[scoreAll]]
    * semi-joined to the filter, fully distributed, no driver-side set.
    * Both paths are exact and return the identical ranking (FilterSpec). */
  def searchWhere(query: String, k: Int, allowedDocs: DataFrame,
      gatherMax: Int = Searcher.FilterGatherMaxDocs): Array[ScoredDoc] = {
    val idCol = allowedDocs.columns.head
    val max = gatherMax
    val ids = allowedDocs.select(col(idCol).cast("long"))
      .limit(max + 1).as[Long].collect()
    if (ids.length <= max) {
      java.util.Arrays.sort(ids) // the primitive sorted-set representation
      searchWAND(query, k, ids)
    } else {
      scoreAll(query)
        .join(allowedDocs.select(col(idCol).cast("long").as("docId"))
          .distinct(), Seq("docId"), "left_semi")
        .as[ScoredDoc]
        .orderBy($"score".desc, $"docId".asc).limit(k).collect()
    }
  }

  /** Terms of the lexicon matching `prefix` (the engine's token fold
    * applied first), sorted. Serving: a map scan when a driver-side
    * lexicon is active; otherwise a `startsWith` filter on the lexicon
    * parquet — pushed to the scan, and the lexicon is range-partitioned
    * on term, so a web-scale vocabulary prunes to the O(1) files owning
    * the prefix range. Expansion is HARD-CAPPED (Lucene's rewrite-term
    * bound): blowing the cap is a loud error, never a silent trim — a
    * trimmed expansion would silently change scores. */
  def expandPrefix(prefix: String,
      maxExpand: Int = Searcher.PrefixMaxExpand): Array[String] = {
    val p = CodeTokenizer.foldPrefix(prefix, cfg.unicodeFold).getOrElse(
      throw new IllegalArgumentException(
        s"prefix must be a non-empty run of token characters, got: '$prefix'"))
    val hits = localServe.map(_.lexicon).orElse(lexiconLocal) match {
      case Some(lex) => lex.keysIterator.filter(_.startsWith(p)).toArray
      case None =>
        lexiconDF.filter($"term".startsWith(p))
          .select($"term").as[String].collect()
    }
    require(hits.length <= maxExpand,
      s"prefix '$p*' expands to ${hits.length} terms (> $maxExpand) — " +
        "narrow the prefix")
    hits.sorted
  }

  /** Prefix (wildcard) top-k: `pre*` scores as the OR of every lexicon
    * term matching the prefix — each expanded term keeps its own df/idf,
    * summed per doc exactly like a hand-written multi-term query (Lucene
    * MultiTermQuery + BooleanRewrite semantics). Expanded terms are
    * canonical lexicon tokens, so handing them to [[searchWAND]] re-enters
    * the normal serving path unchanged (WAND pruning, tombstones, filters
    * all compose). */
  def searchPrefix(prefix: String, k: Int): Array[ScoredDoc] = {
    val terms = expandPrefix(prefix)
    if (terms.isEmpty) Array.empty
    else searchWAND(terms.mkString(" "), k)
  }

  /** Live (docId, termId) posting pairs of `termIds` — tombstone-filtered,
    * one row per live containing doc per term. */
  private def livePairs(termIds: Array[Int]) = {
    val tsB = tombstonesBroadcast
    blocksFor(termIds).flatMap { blk =>
      val ts = tsB.value
      PostingCodec.decodeBlock(blk.bytes).iterator
        .filter(pp => ts.isEmpty || !Searcher.containsSorted(ts, pp.docId))
        .map(pp => (pp.docId, blk.termId))
    }.toDF("docId", "termId")
  }

  /** Boolean retrieval (Lucene BooleanQuery roles): `+term` MUST appear,
    * `-term` MUST NOT, bare terms are optional SHOULD matches. A result
    * doc contains every must term and no must-not term (and, with no must
    * terms, at least one should term); its score is the ordinary BM25 sum
    * over the present must+should terms — idf/df/N/avgdl are those of the
    * whole live index, so scores equal the plain multi-term query's on the
    * same doc (the boolean structure only restricts membership, exactly
    * like [[searchWhere]]'s contract). Exclusions/conjunction checks run
    * as semi/anti joins on the terms' own postings — fully distributed,
    * no driver-side doc sets. A must term with no live postings, or a term
    * required AND forbidden, yields the empty result.
    *
    * `allowedDocs` (optional, first column = docIds) composes the
    * [[searchWhere]] attribute filter: membership is further restricted,
    * scores still untouched. */
  def searchBoolean(query: String, k: Int,
      allowedDocs: DataFrame = null): Array[ScoredDoc] = {
    val (must, should, not) = Searcher.parseBoolean(query, cfg.unicodeFold)
    if (must.exists(not.contains)) return Array.empty
    val lexM = lexLive(must)
    if (lexM.size < must.length) return Array.empty
    val scoring = (must ++ should.filterNot(not.contains)).distinct.sorted
    if (scoring.isEmpty) return Array.empty
    var df = scoreAll(scoring.mkString(" ")).toDF()
    if (must.nonEmpty) {
      val nMust = must.length.toLong
      val ok = livePairs(must.map(t => lexM(t)._1))
        .groupBy($"docId").count().filter($"count" === nMust)
        .select($"docId")
      df = df.join(ok, Seq("docId"), "left_semi")
    }
    val lexN = lexLive(not)
    if (lexN.nonEmpty) {
      val bad = livePairs(lexN.values.map(_._1).toArray)
        .select($"docId").distinct()
      df = df.join(bad, Seq("docId"), "left_anti")
    }
    if (allowedDocs != null) {
      val idCol = allowedDocs.columns.head
      df = df.join(allowedDocs.select(col(idCol).cast("long").as("docId"))
        .distinct(), Seq("docId"), "left_semi")
    }
    df.as[ScoredDoc].orderBy($"score".desc, $"docId".asc).limit(k).collect()
  }

  /** Exact top-k via sharded Block-Max WAND. `allow` (optional): filtered
    * search — only docIds in the set may surface ([[searchWhere]]). */
  def searchWAND(query: String, k: Int,
      allow: Array[Long] = null): Array[ScoredDoc] = {
    val terms = queryTerms(query)
    if (terms.isEmpty) return Array.empty
    val lex = lexLive(terms)
    val present = terms.filter(lex.contains)
    if (present.isEmpty) return Array.empty
    val n = liveStats.numDocs
    val avgDl = liveStats.avgDl
    val k1 = p.k1; val b = p.b
    val nShards = cfg.numShards
    // weight and global UB per canonical present-term index
    val weights: Array[Double] =
      present.map(t => IndexBuilder.idf(n, lex(t)._2) * (k1 + 1.0))
    val termUB: Array[Double] =
      present.indices.map(i => weights(i) * lex(present(i))._3 * ubScale).toArray
    val idxOf: Map[Int, Int] = present.zipWithIndex.map { case (t, i) =>
      lex(t)._1 -> i
    }.toMap
    // ---- driver-local serving fast path (no Spark job; see localServe) ----
    localServe.foreach { ls =>
      // one WAND over the query terms' whole block chains
      val byTerm = idxOf.keysIterator
        .flatMap(tid => ls.byTerm.get(tid).map(tid -> _)).toMap
      // hot-loop locals: plain array + captured predicate, no lazy-val
      // accessor (volatile read) per posting
      val norms = normsLocalArr
      val dead = withAllow(deadFn(), allow)
      // best-first: the distributed orderBy's order, score DESC, docId ASC
      return WandShard.topK(byTerm, idxOf, weights, termUB,
        d => norms(d.toInt), k1, b, avgDl, k, ubScale, dead).toArray
    }

    // ---- per-query gather fast path (distributed indexes, small result
    // sets): the lexicon knows the query's total block count up front, so
    // when the matched postings fit a bounded driver budget, collect them
    // in ONE job (no shuffle, no sort stage) and run the identical WAND
    // driver-side. Mega-df terms blow the budget and fall through to
    // the shuffle path — the gather is never unbounded.
    val queryBlocks = present.map(t => lex(t)._4.toLong).sum
    if (queryBlocks <= gatherMaxBlocks &&
        stats.numDocs <= broadcastNormsMaxDocs) {
      val blks = blocksFor(idxOf.keys.toArray).collect()
      val norms = normsLocalArr
      val dead = withAllow(deadFn(), allow)
      return WandShard.topK(blks.groupBy(_.termId), idxOf, weights, termUB,
        d => norms(d.toInt), k1, b, avgDl, k, ubScale, dead).toArray
    }

    val idxB = spark.sparkContext.broadcast(idxOf)
    val wB = spark.sparkContext.broadcast(weights)
    val ubB = spark.sparkContext.broadcast(termUB)
    val scaleB = spark.sparkContext.broadcast(ubScale)
    val tsB = tombstonesBroadcast
    // allow-set for the distributed paths (null = unfiltered; the set is
    // gather-bounded by searchWhere, so the broadcast is too)
    val alB = if (allow == null) null
      else spark.sparkContext.broadcast(allow)
    def composeDead(ts: Array[Long]): Long => Boolean = {
      val dead0: Long => Boolean =
        if (ts.isEmpty) _ => false else Searcher.containsSorted(ts, _)
      if (alB == null) dead0
      else { val al = alB.value
        d => dead0(d) || !Searcher.containsSorted(al, d) }
    }
    val kk = k

    // one WAND task per STORED shard (the docs table's shard column, an
    // index property frozen at write time, so appended segments keep their
    // own shard ids): a block goes to every shard whose docId range it
    // overlaps, and each task scores only the docs inside its own range
    val rangesB = shardRangesBroadcast
    val blocks = blocksFor(idxOf.keys.toArray)
      .flatMap { blk =>
        Searcher.overlappingShards(rangesB.value, blk.firstDocId,
          blk.lastDocId).map(i => (i, blk))
      }
      .groupByKey(_._1)

    val local: Dataset[ScoredDoc] =
      if (stats.numDocs <= broadcastNormsMaxDocs) {
        // broadcast-norms fast path: no per-query norms shuffle
        val nb = normsBroadcast
        blocks.flatMapGroups { (i, it) =>
          val byTerm = it.map(_._2).toArray.groupBy(_.termId)
          val dead = composeDead(tsB.value)
          val norms = nb.value
          val (_, lo, hi) = rangesB.value(i)
          WandShard.topK(byTerm, idxB.value, wB.value, ubB.value,
            d => norms(d.toInt), k1, b, avgDl, kk, scaleB.value,
            dead, lo, hi).iterator
        }
      } else {
        // cluster-scale path: norms cogrouped by the docs table's stored
        // shard, keyed like the blocks by the shard's range index
        val index = rangesB.value.iterator.map(_._1).zipWithIndex.toMap
        val normsByShard = docsDF
          .select($"shard", $"docId", $"dl").as[(Int, Long, Int)]
          .groupByKey(r => index(r._1))
        blocks.cogroup(normsByShard) { (i, blkIt, normIt) =>
          val byTerm = blkIt.map(_._2).toArray.groupBy(_.termId)
          if (byTerm.isEmpty) Iterator.empty
          else {
            val dlMap = new java.util.HashMap[Long, Int]()
            normIt.foreach { case (_, d, dl) => dlMap.put(d, dl) }
            val dead = composeDead(tsB.value)
            val (_, lo, hi) = rangesB.value(i)
            WandShard.topK(byTerm, idxB.value, wB.value, ubB.value,
              d => dlMap.get(d), k1, b, avgDl, kk, scaleB.value,
              dead, lo, hi).iterator
          }
        }
      }

    local.orderBy($"score".desc, $"docId".asc).limit(k).collect()
  }

  // ---- phrase queries over the positional sidecar --------------------------

  /** Per-file termId ranges of the positional layout (same footer-driven
    * file-level prune as the postings layout). */
  private lazy val positionsFileRanges: Seq[(String, Int, Int)] =
    termIdFileRanges(paths.positions)

  private[graft] def positionsFilesFor(termIds: Array[Int]): Seq[String] =
    positionsFileRanges.collect {
      case (p, mn, mx) if termIds.exists(t => t >= mn && t <= mx) => p
    }

  private def posRowsFor(termIds: Array[Int]): Dataset[PosBlockRow] = {
    require(records.contains("positions"),
      s"phrase search needs the positional sidecar — run " +
        s"PositionalIndex.build on ${cfg.indexDir}")
    val sel = positionsFilesFor(termIds)
    if (sel.isEmpty) return spark.emptyDataset[PosBlockRow]
    val files = if (sel.size == positionsFileRanges.size) Seq(paths.positions)
      else sel
    spark.read.schema(IndexSchema.positions).parquet(files: _*)
      .filter($"termId".isin(termIds.toSeq: _*))
      .as[PosBlockRow]
  }

  /** Exact BM25 top-k for an exact PHRASE (a token-adjacent sequence, in
    * the tokenizer's kept-token stream). The phrase scores as ONE synthetic
    * term: tf_d = occurrence count of the sequence in doc d, df = live docs
    * with tf_d > 0, score = idf(N_live, df) * (k1+1) * tfNorm(tf_d, dl) —
    * exactly the ranking the bag-of-words engine would produce had the
    * phrase been indexed as a term. Tie-break: score DESC, docId ASC.
    *
    * Requires the positional sidecar ([[graft.index.PositionalIndex]]): a
    * positions row is decoded together with the postings block of the same
    * (termId, firstDocId), which supplies its docIds and tfs; dl comes from
    * the norms. Serving: when the phrase terms' total live df fits the
    * gather budget and the norms are driver-resident, the position rows are
    * collected and intersected driver-side — one job, the positions scan,
    * when the postings are served driver-locally (a second collects the
    * phrase terms' blocks otherwise). Above it, candidates shuffle by docId
    * and df/top-k run distributed — the TAAT shape, bounded by the phrase
    * terms' postings size — with dl from the broadcast norms, or joined
    * from the docs table above the broadcast cap. Every path evaluates the
    * identical score expression (bit-identical results, PhraseSpec). */
  def searchPhrase(query: String, k: Int): Array[ScoredDoc] = {
    val phrase = CodeTokenizer.tokenize(query, cfg.unicodeFold).toArray
    if (phrase.isEmpty) return Array.empty
    val uniq: Array[String] = phrase.distinct.sorted
    val lex = lexLive(uniq)
    if (!uniq.forall(lex.contains)) return Array.empty // a dead term kills it
    val slotIds: Array[Int] = phrase.map(t => lex(t)._1)
    val uniqIds = slotIds.distinct
    val uniqCount = uniqIds.length
    val n = liveStats.numDocs
    val avgDl = liveStats.avgDl
    val k1 = p.k1; val b = p.b

    def score(w: Double, tf: Int, dl: Int): Double =
      w * (tf / (tf + k1 * (1.0 - b + b * dl / avgDl)))

    val totalPostings = uniq.map(t => lex(t)._2).sum
    if (totalPostings <= phraseGatherMaxPostings &&
        stats.numDocs <= broadcastNormsMaxDocs) {
      val blocks = localServe match {
        case Some(ls) =>
          uniqIds.flatMap(t => ls.byTerm.getOrElse(t, Array.empty[PostingBlockRow]))
        case None => blocksFor(uniqIds).collect()
      }
      val bytesOf =
        blocks.iterator.map(r => (r.termId, r.firstDocId) -> r.bytes).toMap
      val dead = deadFn()
      val byDoc = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.ArrayBuffer[(Int, Array[Int])]]
      posRowsFor(uniqIds).collect().foreach { r =>
        PositionalIndex.foreachPosting(bytesOf((r.termId, r.firstDocId)),
            r.posBytes) { (d, ps) =>
          if (!dead(d)) byDoc.getOrElseUpdate(d,
            scala.collection.mutable.ArrayBuffer.empty) += ((r.termId, ps))
        }
      }
      val norms = normsLocalArr
      val cands = byDoc.iterator.flatMap { case (d, rs) =>
        val tf = Searcher.phraseTfOf(slotIds, uniqCount, rs.toArray)
        if (tf > 0) Some((d, tf, norms(d.toInt))) else None
      }.toArray
      if (cands.isEmpty) return Array.empty
      val w = IndexBuilder.idf(n, cands.length) * (k1 + 1.0)
      return cands.iterator
        .map { case (d, tf, dl) => ScoredDoc(d, score(w, tf, dl)) }
        .toArray.sortBy(sd => (-sd.score, sd.docId)).take(k)
    }

    // distributed path: no driver-side candidate state beyond the top-k
    val slotB = spark.sparkContext.broadcast(slotIds)
    val tsB = tombstonesBroadcast
    val uc = uniqCount
    val tfs = posRowsFor(uniqIds)
      .join(blocksFor(uniqIds).select($"termId", $"firstDocId", $"bytes"),
        Seq("termId", "firstDocId"))
      .select($"termId", $"bytes", $"posBytes")
      .as[(Int, Array[Byte], Array[Byte])]
      .flatMap { case (t, bytes, posBytes) =>
        val out = Array.newBuilder[(Long, Int, Array[Int])]
        PositionalIndex.foreachPosting(bytes, posBytes)((d, ps) =>
          out += ((d, t, ps)))
        out.result().iterator
      }
      .groupByKey(_._1)
      .mapGroups { (d, it) =>
        val ts = tsB.value
        val tf = if (ts.nonEmpty && Searcher.containsSorted(ts, d)) 0
          else Searcher.phraseTfOf(slotB.value, uc,
            it.map(r => (r._2, r._3)).toArray)
        (d, tf)
      }
      .filter(_._2 > 0)
    val cands0: Dataset[(Long, Int, Int)] =
      if (stats.numDocs <= broadcastNormsMaxDocs) {
        val nb = normsBroadcast
        tfs.map { case (d, tf) => (d, tf, nb.value(d.toInt)) }
      } else tfs.toDF("docId", "tf")
        .join(docsDF.select($"docId", $"dl"), "docId")
        .select($"docId", $"tf", $"dl").as[(Long, Int, Int)]
    val cands =
      cands0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val df = cands.count()
      if (df == 0) return Array.empty
      val w = IndexBuilder.idf(n, df) * (k1 + 1.0)
      cands.map { case (d, tf, dl) => ScoredDoc(d, score(w, tf, dl)) }
        .orderBy($"score".desc, $"docId".asc).limit(k).collect()
    } finally cands.unpersist()
  }

  /** Lineage check (BASELINE.json per-row invariant): every indexed doc's
    * stored sha matches sha2(content, 256) of the source row. Returns the
    * number of violations (0 = pass). */
  def verifyLineage(corpus: Dataset[SourceFile]): Long = {
    val tsB = tombstonesBroadcast
    val docs = docsDF
      .select($"docId", $"repo", $"path", $"commit", $"sha")
      // dead docs have no source row any more — they are outside the
      // invariant (their content left the corpus with the delete/update)
      .filter(udf((d: Long) => { val ts = tsB.value
        ts.isEmpty || !Searcher.containsSorted(ts, d) }).apply($"docId"))
    val src = corpus.toDF()
      .select($"repo", $"path", $"commit", sha2($"content", 256).as("srcSha"))
    docs.join(src, Seq("repo", "path", "commit"), "left")
      .filter($"srcSha".isNull || $"srcSha" =!= $"sha")
      .count()
  }
}

object Searcher {
  /** Membership probe in a SORTED primitive id array — the tombstone /
    * allow-set serving representation (see the tombstones scaladoc). */
  @inline private[graft] def containsSorted(arr: Array[Long], d: Long): Boolean =
    java.util.Arrays.binarySearch(arr, d) >= 0

  /** Indexes into `ranges` (disjoint (shard, lo, hi), sorted by lo) of the
    * ranges that overlap [first, last]. */
  private[graft] def overlappingShards(ranges: Array[(Int, Long, Long)],
      first: Long, last: Long): Iterator[Int] = {
    var l = 0; var h = ranges.length
    while (l < h) { // first range whose hi >= first
      val mid = (l + h) >>> 1
      if (ranges(mid)._3 < first) l = mid + 1 else h = mid
    }
    Iterator.from(l).takeWhile(i => i < ranges.length && ranges(i)._2 <= last)
  }

  /** Norms broadcast threshold: below this many documents the dl table is
    * shipped to executors as a plain Int array (4 bytes/doc ⇒ 40 MB at
    * 10M docs) instead of cogrouped per query — the same size-based
    * strategy switch Spark applies for broadcast vs shuffle joins. Above
    * it the driver-local and gather paths are off too (they read the same
    * array). */
  val BroadcastNormsMaxDocs: Long = 10000000L

  /** Local-serving budget: total posting-block rows the driver will cache
    * for in-process queries (~0.5 KB/block ⇒ ~128 MB at the default). Any
    * index above it — every real cluster corpus — serves distributed. */
  val DefaultLocalServeMaxBlocks: Long = 262144L

  /** Prefix-expansion hard cap (Lucene's default max rewrite terms):
    * above it [[Searcher.expandPrefix]] fails loudly rather than silently
    * trimming the term set (which would change scores). */
  val PrefixMaxExpand: Int = 1024

  /** Split a boolean query into (must, should, mustNot) canonical term
    * arrays: a whitespace word's `+`/`-` prefix sets the role for every
    * token the word folds to; bare words are SHOULD. Each bucket deduped
    * and sorted (the engine's canonical term order). */
  def parseBoolean(query: String, unicodeFold: Boolean = false)
      : (Array[String], Array[String], Array[String]) = {
    val must = scala.collection.mutable.ArrayBuffer.empty[String]
    val should = scala.collection.mutable.ArrayBuffer.empty[String]
    val not = scala.collection.mutable.ArrayBuffer.empty[String]
    query.split("\\s+").iterator.filter(_.nonEmpty).foreach { w =>
      val (bucket, body) =
        if (w.startsWith("+")) (must, w.drop(1))
        else if (w.startsWith("-")) (not, w.drop(1))
        else (should, w)
      bucket ++= CodeTokenizer.tokenize(body, unicodeFold)
    }
    (must.distinct.sorted.toArray, should.distinct.sorted.toArray,
      not.distinct.sorted.toArray)
  }

  /** Per-QUERY gather budget on distributed indexes: when the query terms'
    * total block count (known from the lexicon before touching postings)
    * is under this, matched blocks are collected and scored driver-side —
    * one job, no shuffle (~8 MB at the default). */
  val GatherMaxBlocks: Long = 16384L

  /** Per-query gather budget for PHRASE serving: when the phrase terms'
    * total live df (known from the lexicon) is under this, the positional
    * rows are collected and intersected driver-side in one job. */
  val PhraseGatherMaxPostings: Long = 1048576L

  /** Phrase tf of one document: the number of start positions p with
    * slot j's term occurring at p + j for every j. Two-pointer intersection
    * over the (strictly increasing) per-term position arrays — O(sum of
    * position-list lengths). `rs` holds this doc's (termId, positions) for
    * the phrase's distinct terms; fewer entries than distinct terms means
    * some term is absent, so the phrase cannot occur. Static so executor
    * closures don't capture (and serialize) a Searcher. */
  private[query] def phraseTfOf(slotIds: Array[Int], uniqCount: Int,
      rs: Array[(Int, Array[Int])]): Int = {
    if (rs.length < uniqCount) return 0
    val byId = new java.util.HashMap[Int, Array[Int]]()
    rs.foreach { case (t, ps) => byId.put(t, ps) }
    var starts = byId.get(slotIds(0))
    if (starts == null) return 0
    var j = 1
    while (j < slotIds.length && starts.length > 0) {
      val ps = byId.get(slotIds(j))
      if (ps == null) return 0
      val out = scala.collection.mutable.ArrayBuilder.make[Int]
      var a = 0; var c = 0
      while (a < starts.length && c < ps.length) {
        val t = starts(a) + j
        if (ps(c) < t) c += 1
        else { if (ps(c) == t) out += starts(a); a += 1 }
      }
      starts = out.result()
      j += 1
    }
    starts.length
  }

  /** Serving bound on the tombstone set (driver-resident + broadcast,
    * 8 B/id in the sorted primitive layout ⇒ ~400 MB at the bound). An
    * index that accumulates more deletes than this must be compacted
    * (rebuilt from the live table snapshot) — the Lucene merge-policy
    * contract for reclaiming deletes, surfaced as an explicit limit
    * instead of silent slowdown. */
  val TombstonesMaxDocs: Long = 50000000L

  /** Gather bound for a filtered search's allow-set ([[Searcher!.searchWhere]]):
    * filters matching at most this many docs serve through WAND with a
    * driver-resident set (~8 B/id ⇒ ≤ ~32 MB + hash overhead); broader
    * filters run the distributed TAAT + semi-join path instead — the
    * filter never creates unbounded driver state. */
  val FilterGatherMaxDocs: Int = 4000000
}

/** Sequential WAND over one docId range: the whole index (driver-local and
  * gather serving) or one stored shard's range (one distributed task). */
object WandShard {

  /** Cursor over one term's blocks, sorted by firstDocId, restricted to
    * docIds in [lo, hi]: blocks wholly below `lo` or above `hi` are never
    * decoded, and a docId past `hi` exhausts the cursor. Decodes a block
    * only when entered. */
  private final class Cursor(
      val termIdx: Int,
      blocks: Array[PostingBlockRow],
      val weight: Double,
      val ub: Double,
      val ubScale: Double,
      lo: Long,
      hi: Long) {
    private var bi = 0
    private var docIds: Array[Long] = _
    private var tfs: Array[Int] = _
    private var pos = 0
    var curDoc: Long = -1L
    var curTf: Int = 0
    var alive: Boolean = true
    if (enterBlock(0, lo)) seekInBlock(lo)

    /** The current block's max score; a valid bound over any sub-range of
      * the block, so also over this cursor's [lo, hi] part of it. */
    def blockMaxScore(k1: Double, dummy: Double): Double =
      weight * blocks(bi).maxTfNorm * ubScale

    private def exhaust(): Unit = { alive = false; curDoc = Long.MaxValue }

    /** Decode the first block at index >= `from` whose lastDocId >= target
      * (the ones before it are skipped undecoded); false, and exhausted,
      * when there is none or it starts past `hi`. */
    private def enterBlock(from: Int, target: Long): Boolean = {
      var i = from
      while (i < blocks.length && blocks(i).lastDocId < target) i += 1
      if (i >= blocks.length || blocks(i).firstDocId > hi) { exhaust(); false }
      else { bi = i; decodeCurrent(); true }
    }

    private def decodeCurrent(): Unit = {
      val bytes = blocks(bi).bytes
      val ppos = Array(0)
      val count = VByte.decode(bytes, ppos).toInt
      docIds = new Array[Long](count)
      tfs = new Array[Int](count)
      docIds(0) = VByte.decode(bytes, ppos)
      var i = 1
      while (i < count) {
        docIds(i) = docIds(i - 1) + VByte.decode(bytes, ppos); i += 1
      }
      i = 0
      while (i < count) { tfs(i) = VByte.decode(bytes, ppos).toInt; i += 1 }
      pos = 0
    }

    private def loadPosting(): Unit = {
      curDoc = docIds(pos)
      if (curDoc > hi) exhaust() else curTf = tfs(pos)
    }

    /** Binary search the decoded block (whose lastDocId >= target) from
      * `pos` for the first posting >= target. */
    private def seekInBlock(target: Long): Unit = {
      var l = pos; var h = docIds.length - 1
      while (l < h) {
        val mid = (l + h) >>> 1
        if (docIds(mid) < target) l = mid + 1 else h = mid
      }
      pos = l
      loadPosting()
    }

    def advance(): Unit = {
      pos += 1
      if (pos < docIds.length) loadPosting()
      else if (enterBlock(bi + 1, Long.MinValue)) loadPosting()
    }

    /** Move to the first posting with docId >= target. Skips whole blocks
      * via lastDocId metadata without decoding them. */
    def nextGEQ(target: Long): Unit = {
      if (!alive || curDoc >= target) return
      if (blocks(bi).lastDocId >= target || enterBlock(bi + 1, target))
        seekInBlock(target)
    }
  }

  /** Exact top-k, best-first, of the docs in [lo, hi]. `byTerm`: termId ->
    * its blocks that may hold docs of the range. `isDead`: tombstoned
    * docIds to skip — exact, because a skipped candidate only leaves the
    * heap threshold lower and every block-max bound stays a valid upper
    * bound over the surviving docs. */
  def topK(
      byTerm: Map[Int, Array[PostingBlockRow]],
      idxOf: Map[Int, Int],
      weights: Array[Double],
      termUB: Array[Double],
      dlOf: Long => Int,
      k1: Double, b: Double, avgDl: Double,
      k: Int, ubScale: Double,
      isDead: Long => Boolean = _ => false,
      lo: Long = 0L, hi: Long = Long.MaxValue): Seq[ScoredDoc] = {

    val cursors: Array[Cursor] = byTerm.toArray.map { case (t, blks) =>
      val ti = idxOf(t)
      new Cursor(ti, blks.sortBy(_.firstDocId), weights(ti), termUB(ti),
        ubScale, lo, hi)
    }

    // min-heap of the current top-k ordered worst-first:
    // (score asc, docId desc) so the root is the entry to beat.
    implicit val ord: Ordering[ScoredDoc] = Ordering.by(sd => (-sd.score, sd.docId))
    val heap = new scala.collection.mutable.PriorityQueue[ScoredDoc]()
    def theta: Double = if (heap.size < k) Double.NegativeInfinity else heap.head.score
    def offer(d: ScoredDoc): Unit = {
      if (heap.size < k) heap.enqueue(d)
      else {
        val w = heap.head
        if (d.score > w.score || (d.score == w.score && d.docId < w.docId)) {
          heap.dequeue(); heap.enqueue(d)
        }
      }
    }

    val live = scala.collection.mutable.ArrayBuffer(cursors.toSeq: _*)
    var running = true
    while (running && live.nonEmpty) {
      live.filterInPlace(_.alive)
      if (live.isEmpty) running = false
      else {
        val sorted = live.sortInPlace()(Ordering.by(_.curDoc))
        // pivot: smallest prefix whose UB sum could beat theta
        var acc = 0.0
        var pivot = -1
        var i = 0
        val th = theta
        while (pivot < 0 && i < sorted.length) {
          acc += sorted(i).ub
          // strict: equality cannot beat theta on score, but could win the
          // docId tie-break, so >= keeps it (no false pruning on ties).
          if (acc >= th || th == Double.NegativeInfinity) pivot = i
          i += 1
        }
        if (pivot < 0) running = false
        else {
          val pivotDoc = sorted(pivot).curDoc
          if (sorted(0).curDoc == pivotDoc) {
            // all cursors 0..pivot sit on pivotDoc; gather every cursor at it
            var bub = 0.0
            var j = 0
            while (j < sorted.length && sorted(j).curDoc == pivotDoc) {
              bub += sorted(j).blockMaxScore(k1, b); j += 1
            }
            val nAt = j
            if (bub < th || isDead(pivotDoc)) {
              // block-max skip (true score <= bub < theta strictly) or a
              // tombstoned doc — either way, never a candidate
              j = 0
              while (j < nAt) { sorted(j).advance(); j += 1 }
            } else {
              // full score in canonical term order
              val contrib = new Array[Double](weights.length)
              val dl = dlOf(pivotDoc)
              j = 0
              while (j < nAt) {
                val c = sorted(j)
                val tf = c.curTf
                contrib(c.termIdx) =
                  c.weight * (tf / (tf + k1 * (1.0 - b + b * dl / avgDl)))
                j += 1
              }
              var s = 0.0
              var ti = 0
              while (ti < contrib.length) { s += contrib(ti); ti += 1 }
              offer(ScoredDoc(pivotDoc, s))
              j = 0
              while (j < nAt) { sorted(j).advance(); j += 1 }
            }
          } else {
            // advance cursors before the pivot up to pivotDoc
            var j = 0
            while (j < pivot && sorted(j).curDoc < pivotDoc) {
              sorted(j).nextGEQ(pivotDoc); j += 1
            }
          }
        }
      }
    }
    heap.dequeueAll.reverse.toSeq // best-first
  }
}
