package graft.entry

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.codec.PostingCodec
import graft.index.{IndexBuilder, IndexConfig, IndexSchema}
import graft.model.{PostingBlockRow, SourceFile}
import graft.query.Searcher

/** The flagship surface: the inverted-index + BM25 engine run over the
  * driver's `documents` table, with full DuckDB SQL oracles — the BM25
  * score, the lexicon, the doc stats and the decoded postings are each
  * checked against SQL recomputed from raw text. This pins the ENTIRE build
  * pipeline (tokenize → invert → salt → encode → merge → lexicon → score)
  * to an independent implementation.
  *
  * docId mapping: the documents table becomes a corpus with repo='corpus'
  * and path=printf('%09d', doc_id), so the engine's dense lexicographic
  * docId rank coincides with doc_id order and ties break identically in
  * both engines. Scores are rounded to 4 decimals on both sides (ulp-level
  * association differences; ordering uses the rounded value + doc_id).
  */
object IndexQueries {

  val Bm25SqlParams = "1.2, 0.75" // k1, b — fixed by BASELINE.json

  def corpusFromDocuments(s: SparkSession, dir: String): Dataset[SourceFile] = {
    import s.implicits._
    s.read.parquet(s"$dir/documents.parquet")
      .select(
        lit("corpus").as("repo"),
        format_string("%09d", col("doc_id")).as("path"),
        lit("0000000000000000000000000000000000000000").as("commit"),
        col("lang"),
        col("text").as("content"))
      .as[SourceFile]
  }

  /** Per-process index cache: one build per sfDir under java.io.tmpdir.
    * Keyed by DIR, holding (fingerprint, value): the content fingerprint
    * (sizes + mtimes of the source parquet) detects a rebuilt dataset OR an
    * index persisted by a previous JVM run, and the superseded entry is
    * DROPPED, not accumulated (ADVICE r4: the old fingerprint-composed key
    * leaked one entry per regeneration and — for searchers — a whole
    * localServe postings/norms state with it). */
  /** Fresh checkpoint dir per q105 streaming run (a replay must re-deliver
    * every batch — idempotence lives in the TABLE manifest, not in Spark's
    * checkpoint). */
  private val ckpt = new java.util.concurrent.atomic.AtomicLong(0L)

  private case class CachedIndex(key: String, cfg: IndexConfig)
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, CachedIndex]()

  private def contentFingerprint(dir: String): String =
    graft.sources.ContentFingerprint.of(s"$dir/documents.parquet")

  def indexFor(s: SparkSession, dir: String): IndexConfig = cache.synchronized {
    val key = s"$dir@${contentFingerprint(dir)}"
    val existing = cache.get(dir)
    if (existing != null && existing.key == key) existing.cfg
    else {
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val idxDir = s"${System.getProperty("java.io.tmpdir")}/graft_idx$safe"
      val cfg = IndexConfig(indexDir = idxDir, numShards = 8,
        heavyDfThreshold = 1000)
      IndexBuilder.build(s, corpusFromDocuments(s, dir), cfg, fingerprint = key)
      cache.put(dir, CachedIndex(key, cfg))
      cfg
    }
  }

  /** Searcher cached per dir with a (session identity, content fingerprint,
    * manifest version) validity key: the Searcher's lazy serving state
    * (localServe postings, norms, lexicon) is collected once per process
    * instead of once per query, but a changed dataset, a replaced
    * SparkSession or a new commit to the index (the positional sidecar
    * [[positionalFor]] adds — a Searcher serves the manifest snapshot it
    * opened) gets a FRESH Searcher — and the stale one is close()d,
    * releasing its persisted blocks and broadcasts (the
    * Similarity.cachedAssign discipline). */
  private case class CachedSearcher(key: String, searcher: Searcher)
  private val searcherCache =
    new java.util.concurrent.ConcurrentHashMap[String, CachedSearcher]()

  def searcherFor(s: SparkSession, dir: String): Searcher =
    searcherCache.synchronized {
      val cfg = indexFor(s, dir)
      val key = s"${System.identityHashCode(s)}:${contentFingerprint(dir)}:" +
        new graft.checkpoint.Manifest(cfg.indexDir).snapshot().version
      val existing = searcherCache.get(dir)
      if (existing != null && existing.key == key) existing.searcher
      else {
        if (existing != null) existing.searcher.close()
        val searcher = new Searcher(s, cfg)
        searcherCache.put(dir, CachedSearcher(key, searcher))
        searcher
      }
    }

  /** BM25 over the documents table through the whole index pipeline,
    * mapped back to doc_id.
    *
    * Scoring goes through the serving path (sharded Block-Max WAND;
    * driver-local for small/hot indexes) rather than full TAAT scoring:
    * top-(3k+20) is fetched by EXACT score, then re-sorted by the ROUNDED
    * score the oracle orders on. The margin is ADAPTIVE: if the rounded
    * score at the k boundary still equals the rounded score of the last
    * fetched doc — i.e. the tie group could extend past the fetch — the
    * fetch widens (4×) until the boundary is provably closed or every
    * matching doc is in hand. (doc_id order == docId rank order for this
    * corpus, so the tie-break keys agree.) Bm25PathSpec pins this against
    * the full scoreAll ranking. */
  def bm25(s: SparkSession, dir: String, query: String, k: Int): DataFrame = {
    val cfg = indexFor(s, dir)
    val searcher = searcherFor(s, dir)
    adaptiveTopDf(s, cfg, k)(fetch => searcher.searchWAND(query, fetch))
  }

  /** Attribute-filtered BM25 over the documents table: only docs matching
    * `langFilter` may surface; scores stay those of the UNFILTERED index
    * (Lucene FilteredQuery semantics — [[graft.query.Searcher.searchWhere]]). */
  def bm25Where(s: SparkSession, dir: String, query: String,
      lang: String, k: Int): DataFrame = {
    val cfg = indexFor(s, dir)
    val searcher = searcherFor(s, dir)
    val allowed = s.read.parquet(s"$dir/documents.parquet")
      .filter(col("lang") === lang)
      .select(format_string("%09d", col("doc_id")).as("path"))
      .join(s.read.schema(IndexSchema.docs).parquet(cfg.docsPath), "path")
      .select(col("docId"))
    adaptiveTopDf(s, cfg, k)(fetch => searcher.searchWhere(query, fetch, allowed))
  }

  /** Prefix (wildcard) BM25 over the documents table: `pre*` scores as
    * the OR of every lexicon term matching the prefix, each with its own
    * df/idf ([[graft.query.Searcher.searchPrefix]]); same adaptive
    * rounded-tie serving discipline as [[bm25]]. */
  def bm25Prefix(s: SparkSession, dir: String, prefix: String,
      k: Int): DataFrame = {
    val cfg = indexFor(s, dir)
    val searcher = searcherFor(s, dir)
    adaptiveTopDf(s, cfg, k)(fetch => searcher.searchPrefix(prefix, fetch))
  }

  /** Facet counts over the FULL match set (every doc containing at least
    * one query term — not the top-k), grouped by a documents-table
    * attribute: the search-engine aggregation surface (Lucene faceting;
    * no reference analogue). Fully distributed: postings-driven match
    * set, two broadcast-sized joins back to metadata, one shuffle for
    * the group-by — no driver-side doc set at any scale. */
  def facetCounts(s: SparkSession, dir: String, query: String,
      facetCol: String): DataFrame = {
    val cfg = indexFor(s, dir)
    val searcher = searcherFor(s, dir)
    val matches = searcher.scoreAll(query).toDF().select(col("docId"))
    val docmap = s.read.schema(IndexSchema.docs).parquet(cfg.docsPath)
      .select(col("docId"), col("path").cast("long").as("doc_id"))
    matches.join(docmap, "docId")
      .join(s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col(facetCol)), "doc_id")
      .groupBy(col(facetCol)).agg(count(lit(1)).as("n"))
      .orderBy(col(facetCol))
  }

  /** Boolean-retrieval BM25 ([[graft.query.Searcher.searchBoolean]]):
    * `+must` / `-not` / bare-should roles restrict membership; scores stay
    * the plain multi-term BM25 of the present must+should terms. Same
    * adaptive rounded-tie serving discipline as [[bm25]]. */
  def bm25Boolean(s: SparkSession, dir: String, query: String,
      k: Int): DataFrame = {
    val cfg = indexFor(s, dir)
    val searcher = searcherFor(s, dir)
    adaptiveTopDf(s, cfg, k)(fetch => searcher.searchBoolean(query, fetch))
  }

  /** Boolean retrieval COMPOSED with the attribute filter: membership =
    * boolean structure ∩ allow-set, scores still the unfiltered index's. */
  def bm25BooleanWhere(s: SparkSession, dir: String, query: String,
      lang: String, k: Int): DataFrame = {
    val cfg = indexFor(s, dir)
    val searcher = searcherFor(s, dir)
    val allowed = s.read.parquet(s"$dir/documents.parquet")
      .filter(col("lang") === lang)
      .select(format_string("%09d", col("doc_id")).as("path"))
      .join(s.read.schema(IndexSchema.docs).parquet(cfg.docsPath), "path")
      .select(col("docId"))
    adaptiveTopDf(s, cfg, k)(fetch =>
      searcher.searchBoolean(query, fetch, allowed))
  }

  /** The positional sidecar for dir's cached index (idempotent — the
    * manifest `positions` record skips a completed build whose fingerprint
    * matches the current content). */
  def positionalFor(s: SparkSession, dir: String): IndexConfig = {
    val cfg = indexFor(s, dir)
    val key = s"$dir@${contentFingerprint(dir)}"
    graft.index.PositionalIndex.build(s, corpusFromDocuments(s, dir), cfg,
      fingerprint = key)
    cfg
  }

  /** Exact-phrase BM25 over the documents table (Searcher.searchPhrase:
    * the phrase scores as one synthetic term — tf = adjacency count, df =
    * docs containing the sequence), mapped back to doc_id with the same
    * adaptive rounded-tie widening as bm25(). */
  def phraseBm25(s: SparkSession, dir: String, phrase: String,
      k: Int): DataFrame = {
    val cfg = positionalFor(s, dir)
    val searcher = searcherFor(s, dir)
    phraseTopDf(s, searcher, cfg, phrase, k)
  }

  /** searchPhrase with the adaptive rounded-tie widening, mapped back to
    * doc_id (the bm25() serving discipline, shared by q101/q102). */
  private def phraseTopDf(s: SparkSession, searcher: Searcher,
      cfg: IndexConfig, phrase: String, k: Int): DataFrame =
    adaptiveTopDf(s, cfg, k)(fetch => searcher.searchPhrase(phrase, fetch))

  /** `search(fetch)` under the adaptive rounded-tie widening (top-(3k+20)
    * by EXACT score, widened 4× while the rounded kth score could still be
    * contested past the fetch), mapped back to doc_id — the serving
    * discipline every index entry shares (see [[bm25]]'s scaladoc). */
  private def adaptiveTopDf(s: SparkSession, cfg: IndexConfig, k: Int)(
      search: Int => Array[graft.model.ScoredDoc]): DataFrame = {
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    var fetch = 3 * k + 20
    var top = search(fetch)
    var closed = false
    while (!closed) {
      if (top.length < fetch || top.length < k) closed = true
      else {
        val kth = top.map(sd => (-r4(sd.score), sd.docId)).sorted
          .apply(k - 1)._1
        if (-kth > r4(top.last.score)) closed = true
        else { fetch *= 4; top = search(fetch) }
      }
    }
    val scored = s.createDataset(top.toSeq)(
      org.apache.spark.sql.Encoders.product[graft.model.ScoredDoc]).toDF()
    val docmap = s.read.schema(IndexSchema.docs).parquet(cfg.docsPath)
      .select(col("docId"), col("path").cast("long").as("doc_id"))
    scored.join(docmap, "docId")
      .select(col("doc_id"), round(col("score"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** The DuckDB oracle for phrase BM25: tokenize exactly like the engine
    * (split + length filter BEFORE positions), count adjacency starts via
    * a list lambda, then the single-synthetic-term BM25. */
  def phraseOracleSql(phrase: Seq[String], k: Int,
      docsSql: String = "SELECT doc_id, text FROM documents"): String = {
    val m = phrase.length
    val conds = phrase.zipWithIndex
      .map { case (t, j) => if (j == 0) s"arr[i]='$t'" else s"arr[i+$j]='$t'" }
      .mkString(" AND ")
    s"""WITH docs2 AS ($docsSql),
       |toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),'[^a-z0-9_]+'),
       |                             t -> length(t) BETWEEN 2 AND 64) AS arr
       |  FROM docs2),
       |dl AS (SELECT doc_id, len(arr)::BIGINT AS dl FROM toks),
       |stats AS (SELECT count(*)::BIGINT AS n, avg(dl) AS avgdl FROM dl),
       |ph AS (
       |  SELECT doc_id,
       |    len(list_filter(range(1, len(arr) - ${m - 2}), i -> $conds))::BIGINT AS tf
       |  FROM toks WHERE len(arr) >= $m),
       |df AS (SELECT count(*)::BIGINT AS df FROM ph WHERE tf > 0),
       |scores AS (
       |  SELECT doc_id,
       |    ln(1.0 + (s.n - df.df + 0.5)/(df.df + 0.5)) * 2.2 * ph.tf /
       |      (ph.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) AS score
       |  FROM ph JOIN dl USING (doc_id) CROSS JOIN stats s CROSS JOIN df
       |  WHERE ph.tf > 0)
       |SELECT doc_id, round(score, 4) AS score FROM scores
       |ORDER BY round(score, 4) DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  /** The round-1 full-scoring formulation (TAAT over every matching doc) —
    * kept as the cross-check twin for bm25()'s WAND serving path. */
  def bm25FullScore(s: SparkSession, dir: String, query: String,
      k: Int): DataFrame = {
    val cfg = indexFor(s, dir)
    val searcher = searcherFor(s, dir)
    val scored = searcher.scoreAll(query).toDF()
    val docmap = s.read.schema(IndexSchema.docs).parquet(cfg.docsPath)
      .select(col("docId"), col("path").cast("long").as("doc_id"))
    scored.join(docmap, "docId")
      .select(col("doc_id"), round(col("score"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** The DuckDB oracle recomputing BM25 from raw text (idf =
    * ln(1 + (N - df + 0.5)/(df + 0.5)), tf-norm with k1/b, N and avgdl over
    * ALL docs incl. token-less ones — identical to IndexBuilder). */
  def bm25OracleSql(terms: Seq[String], k: Int,
      docsSql: String = "SELECT doc_id, text FROM documents",
      allowSql: String = "",
      termCondSql: String = ""): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val termCond =
      if (termCondSql.nonEmpty) termCondSql else s"tf.term IN ($inList)"
    val allowWhere =
      if (allowSql.isEmpty) "" else s"WHERE doc_id IN ($allowSql)"
    s"""WITH docs2 AS ($docsSql),
       |toks AS (
       |  SELECT doc_id, t AS term FROM (
       |    SELECT doc_id, unnest(regexp_split_to_array(lower(text),'[^a-z0-9_]+')) AS t
       |    FROM docs2)
       |  WHERE length(t) BETWEEN 2 AND 64),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1,2),
       |dl AS (SELECT d.doc_id, coalesce(x.c,0)::BIGINT AS dl FROM docs2 d
       |       LEFT JOIN (SELECT doc_id, count(*) AS c FROM toks GROUP BY 1) x USING (doc_id)),
       |stats AS (SELECT count(*)::BIGINT AS n, avg(dl) AS avgdl FROM dl),
       |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
       |scores AS (
       |  SELECT tf.doc_id,
       |    sum(ln(1.0 + (s.n - df.df + 0.5)/(df.df + 0.5)) * 2.2 * tf.tf /
       |        (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl))) AS score
       |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
       |  WHERE $termCond
       |  GROUP BY 1)
       |SELECT doc_id, round(score, 4) AS score FROM scores $allowWhere
       |ORDER BY round(score, 4) DESC, doc_id ASC LIMIT $k""".stripMargin
  }

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // --- BM25 top-k through the full pipeline (two query mixes)
    "q50_bm25_hash_join" -> ((s, d) => bm25(s, d, "hash join", 20)),
    "q51_bm25_mixed" -> ((s, d) => bm25(s, d, "window merge customer", 20)),

    // --- exact-phrase BM25 through the positional sidecar (adjacency in
    //     the kept-token stream; the phrase scores as one synthetic term)
    "q101_phrase_search" -> ((s, d) => phraseBm25(s, d, "table hash", 20)),
    // --- attribute-filtered search: only lang='es' docs may surface,
    //     scores stay those of the unfiltered index (Lucene FilteredQuery
    //     semantics); the oracle computes full-corpus BM25 then filters
    "q104_filtered_search" -> ((s, d) => bm25Where(s, d, "hash join", "es", 20)),
    // --- prefix (wildcard) search: 's*' expands against the lexicon
    //     (range-pruned scan at scale, hard expansion cap) and scores as
    //     the OR of the expanded terms — Lucene MultiTermQuery semantics;
    //     the oracle expands the same prefix with LIKE over its own
    //     tokenization
    "q107_prefix_search" -> ((s, d) => bm25Prefix(s, d, "s", 20)),
    // --- facet counts by language over the FULL 'hash join' match set
    //     (every matching doc, not top-k) — the search-aggregation surface
    "q108_facet_counts" -> ((s, d) => facetCounts(s, d, "hash join", "lang")),
    // --- boolean retrieval: docs MUST contain 'hash', MUST NOT contain
    //     'merge', 'join' optionally boosts — scored as plain BM25 over
    //     the present (hash, join) terms; the oracle restricts membership
    //     with IN/NOT IN over its own token table
    "q109_boolean_search" -> ((s, d) => bm25Boolean(s, d, "+hash join -merge", 20)),
    // --- boolean ∩ attribute filter: same boolean structure, restricted
    //     to lang='en' docs — scores still the unfiltered index's
    "q113_boolean_filtered" ->
      ((s, d) => bm25BooleanWhere(s, d, "+hash join -merge", "en", 20)),

    // --- lexicon (df) vs SQL recomputation: top-50 by df
    "q52_index_lexicon" -> ((s, d) => {
      val cfg = indexFor(s, d)
      s.read.schema(IndexSchema.lexicon).parquet(cfg.lexiconPath)
        .select(col("term"), col("df"))
        .orderBy(col("df").desc, col("term").asc)
        .limit(50)
    }),

    // --- docs stage: doc length + sha lineage vs SQL
    "q53_index_docstats" -> ((s, d) => {
      val cfg = indexFor(s, d)
      s.read.schema(IndexSchema.docs).parquet(cfg.docsPath)
        .select(col("path").cast("long").as("doc_id"),
          col("dl").cast("long").as("dl"), col("sha"))
        .orderBy(col("doc_id"))
    }),

    // --- maintained search index over a MANAGED table (the reference's
    //     index-maintenance-on-DML: builtins.h:229-231 IndexInsert/
    //     IndexDelete, snapshot-incremental here): create the index, run a
    //     delete + update + insert round against the table, refresh (one
    //     segment append + tombstones + df corrections), then score — the
    //     oracle recomputes BM25 over the post-DML state from scratch, so
    //     every correction (df_live, N_live, avgdl_live) is value-checked.
    "q99_table_search" -> ((s, d) => {
      import graft.index.TableIndexer
      val root = s"${System.getProperty("java.io.tmpdir")}/graft-tidx-" +
        d.replaceAll("[^a-zA-Z0-9]", "_")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val ops = new graft.sources.TableOps(s, root)
      ops.create("docs",
        corpusFromDocuments(s, d).toDF().repartition(4, col("path")))
      // buildPartitions capped: the lifecycle runs ~40 small stages over a
      // ~MB corpus — 8-way tasks keep it scheduler-bound, not task-spam
      val tCfg = IndexConfig(indexDir = s"$root/__idx", numShards = 8,
        heavyDfThreshold = 1000, buildPartitions = 8)
      val ti = new TableIndexer(s, ops, tCfg)
      ti.create("docs")
      ops.delete("docs", col("lang") === "fr")
      ops.update("docs", col("lang") === "de", "content",
        concat(col("content"), lit(" graft_refresh_marker graft_refresh_marker")))
      ops.insert("docs", s.read.parquet(s"$d/documents.parquet")
        .filter(col("lang") === "es")
        .select(lit("corpus").as("repo"),
          format_string("%09d", col("doc_id") + lit(1000000L)).as("path"),
          lit("0000000000000000000000000000000000000000").as("commit"),
          col("lang"),
          concat(lit("graft_inserted_marker "), col("text")).as("content")))
      ti.refresh("docs")
      val searcher = new Searcher(s, tCfg)
      val scored = searcher
        .scoreAll("data graft_refresh_marker graft_inserted_marker").toDF()
      val docmap = s.read.schema(IndexSchema.docs).parquet(tCfg.docsPath)
        .select(col("docId"), col("path").cast("long").as("doc_id"))
      val out = scored.join(docmap, "docId")
        .select(col("doc_id"), round(col("score"), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(20)
      val rows = out.collect() // materialize before closing the searcher
      searcher.close()
      s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), out.schema)
    }),

    // --- maintained POSITIONAL sidecar: the q99 lifecycle with phrase
    //     queries — create WITH positions, run the same delete + update +
    //     insert round, refresh (main segment append + one positional
    //     segment, tombstones shared), then score an exact phrase. The
    //     oracle recomputes phrase BM25 over the post-DML corpus from
    //     scratch, so the incremental positions (and the live df/N/avgdl
    //     the phrase scorer uses) are all value-checked.
    "q102_phrase_maintained" -> ((s, d) => {
      import graft.index.TableIndexer
      val root = s"${System.getProperty("java.io.tmpdir")}/graft-tphr-" +
        d.replaceAll("[^a-zA-Z0-9]", "_")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val ops = new graft.sources.TableOps(s, root)
      ops.create("docs",
        corpusFromDocuments(s, d).toDF().repartition(4, col("path")))
      val tCfg = IndexConfig(indexDir = s"$root/__idx", numShards = 8,
        heavyDfThreshold = 1000, buildPartitions = 8)
      val ti = new TableIndexer(s, ops, tCfg)
      ti.create("docs", positions = true)
      ops.delete("docs", col("lang") === "fr")
      ops.update("docs", col("lang") === "de", "content",
        concat(col("content"), lit(" graft_refresh_marker graft_refresh_marker")))
      ops.insert("docs", s.read.parquet(s"$d/documents.parquet")
        .filter(col("lang") === "es")
        .select(lit("corpus").as("repo"),
          format_string("%09d", col("doc_id") + lit(1000000L)).as("path"),
          lit("0000000000000000000000000000000000000000").as("commit"),
          col("lang"),
          concat(lit("graft_inserted_marker "), col("text")).as("content")))
      ti.refresh("docs")
      val searcher = new Searcher(s, tCfg)
      val out = phraseTopDf(s, searcher, tCfg, "table hash", 20)
      val rows = out.collect() // materialize before closing the searcher
      searcher.close()
      s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), out.schema)
    }),

    // --- LIVE streaming search (the Lucene near-real-time/soft-commit
    //     role with hard exactly-once semantics): documents stream into a
    //     managed table via idempotent per-batch commits and the search
    //     index refreshes INSIDE the same foreachBatch — a doc is
    //     searchable the moment its micro-batch commits. A full stream
    //     replay is a no-op twice over (the manifest ingest watermark
    //     skips the insert; the refresh sees an unchanged version). The
    //     oracle recomputes BM25 over the full corpus in SQL, so every
    //     streamed segment's postings are value-checked.
    "q105_stream_search" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val root = s"${System.getProperty("java.io.tmpdir")}/graft-ssrch-" +
        d.replaceAll("[^a-zA-Z0-9]", "_")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val corpus = corpusFromDocuments(s, d).toDF()
      // stage the stream source once: 3 part files -> 3 micro-batches
      corpus.filter(col("path").cast("long") % 4 =!= 0)
        .repartition(3).write.mode("overwrite").parquet(s"$root/in")
      val ops = new graft.sources.TableOps(s, root)
      ops.create("docs", corpus.filter(col("path").cast("long") % 4 === 0)
        .repartition(4, col("path")))
      val tCfg = IndexConfig(indexDir = s"$root/__idx", numShards = 8,
        heavyDfThreshold = 1000, buildPartitions = 8)
      val ti = new graft.index.TableIndexer(s, ops, tCfg)
      ti.create("docs")
      def run(): Unit = {
        val q = s.readStream.schema(corpus.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
          .writeStream
          .foreachBatch {
            (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
              ops.insertIdempotent("docs", batch, "docstream", batchId)
              ti.refresh("docs")
              ()
          }
          .option("checkpointLocation", s"$root/chk${ckpt.incrementAndGet()}")
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
      }
      run()
      run() // full replay with a FRESH checkpoint: every batch re-delivered
            // and skipped by the manifest watermark; the index is unchanged
      val searcher = new Searcher(s, tCfg)
      val out = adaptiveTopDf(s, tCfg, 20)(f => searcher.searchWAND("hash join", f))
      val rows = out.collect()
      searcher.close()
      s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), out.schema)
    }),

    // --- the SAME maintained-index lifecycle driven purely through SQL
    //     statements (CREATE SEARCH INDEX + auto-refresh on each DML
    //     commit + SEARCH — the reference's CREATE INDEX DDL and in-DML
    //     IndexInsert/IndexDelete maintenance as a SQL session), against
    //     the same from-scratch BM25 oracle. The SEARCH path is WAND, so
    //     the fetch widens until the rounded-score cut is provably closed
    //     (the bm25() adaptive-margin discipline).
    "q100_sql_search" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft-sqlsix-" +
        d.replaceAll("[^a-zA-Z0-9]", "_")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val door = new graft.sources.GraftSql(s, new graft.sources.TableOps(s, root))
      corpusFromDocuments(s, d).toDF().repartition(4, col("path"))
        .createOrReplaceTempView("corpus_q100")
      s.read.parquet(s"$d/documents.parquet").createOrReplaceTempView("docsrc_q100")
      door.exec("CREATE TABLE docs AS SELECT * FROM corpus_q100")
      door.exec("CREATE SEARCH INDEX six ON docs")
      // the DML batch commits as ONE version — the index refreshes once,
      // at COMMIT (the per-statement refresh path is GraftSqlSpec's)
      door.exec("BEGIN")
      door.exec("DELETE FROM docs WHERE lang = 'fr'")
      door.exec("UPDATE docs SET content = concat(content, " +
        "' graft_refresh_marker graft_refresh_marker') WHERE lang = 'de'")
      door.exec("INSERT INTO docs SELECT 'corpus', " +
        "format_string('%09d', doc_id + 1000000), " +
        "'0000000000000000000000000000000000000000', lang, " +
        "concat('graft_inserted_marker ', text) FROM docsrc_q100 " +
        "WHERE lang = 'es'")
      door.exec("COMMIT")
      def r4(x: Double): Double =
        BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val k = 20
      var fetch = 3 * k + 20
      def fetchTop(n: Int) = door.search("six",
        "data graft_refresh_marker graft_inserted_marker", n).collect()
      var top = fetchTop(fetch)
      var closed = false
      while (!closed) {
        if (top.length < fetch || top.length < k) closed = true
        else {
          val kth = top.map(r => (-r4(r.getDouble(3)), r.getString(1))).sorted
            .apply(k - 1)._1
          if (-kth > r4(top.last.getDouble(3))) closed = true
          else { fetch *= 4; top = fetchTop(fetch) }
        }
      }
      import s.implicits._
      top.toSeq.map(r => (r.getString(1).toLong, r4(r.getDouble(3))))
        .toDF("doc_id", "score")
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(k)
    }),

    // --- decoded postings == SQL term frequencies (codec + merge pinned
    //     end-to-end; restricted to terms starting with 's' to bound rows)
    "q54_postings_roundtrip" -> ((s, d) => {
      import s.implicits._
      val cfg = indexFor(s, d)
      val sTerms = s.read.schema(IndexSchema.lexicon).parquet(cfg.lexiconPath)
        .filter(col("term").startsWith("s"))
        .select(col("termId"), col("term"))
      val blocks = s.read.schema(IndexSchema.postings).parquet(cfg.postingsPath)
        .join(broadcast(sTerms), "termId")
        .select(col("term"), col("bytes"))
        .as[(String, Array[Byte])]
      val decoded = blocks.flatMap { case (term, bytes) =>
        PostingCodec.decodeBlock(bytes).map(p => (term, p.docId, p.tf)) }
        .toDF("term", "docId", "tf")
      val docmap = s.read.schema(IndexSchema.docs).parquet(cfg.docsPath)
        .select(col("docId"), col("path").cast("long").as("doc_id"))
      decoded.join(docmap, "docId")
        .select(col("term"), col("doc_id"), col("tf").cast("long").as("tf"))
        .orderBy(col("term"), col("doc_id"))
    })
  )

  private val tokensSqlDuck =
    "SELECT doc_id, t AS term FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text),'[^a-z0-9_]+')) AS t FROM documents) WHERE length(t) BETWEEN 2 AND 64"

  val oracles: Map[String, String] = Map(
    "q50_bm25_hash_join" -> bm25OracleSql(Seq("hash", "join"), 20),
    "q51_bm25_mixed" -> bm25OracleSql(Seq("customer", "merge", "window"), 20),
    "q101_phrase_search" -> phraseOracleSql(Seq("table", "hash"), 20),
    // full-corpus BM25 (df/N over ALL docs), result set filtered to es —
    // exactly the filtered-search semantics
    "q104_filtered_search" -> bm25OracleSql(Seq("hash", "join"), 20,
      allowSql = "SELECT doc_id FROM documents WHERE lang = 'es'"),
    "q107_prefix_search" -> bm25OracleSql(Seq.empty, 20,
      termCondSql = "tf.term LIKE 's%'"),
    "q109_boolean_search" -> bm25OracleSql(Seq("hash", "join"), 20,
      allowSql = "SELECT doc_id FROM tf WHERE term = 'hash' AND doc_id " +
        "NOT IN (SELECT doc_id FROM tf WHERE term = 'merge')"),
    "q113_boolean_filtered" -> bm25OracleSql(Seq("hash", "join"), 20,
      allowSql = "SELECT doc_id FROM tf WHERE term = 'hash' AND doc_id " +
        "NOT IN (SELECT doc_id FROM tf WHERE term = 'merge') AND doc_id " +
        "IN (SELECT doc_id FROM documents WHERE lang = 'en')"),
    "q108_facet_counts" ->
      """WITH toks AS (
        |  SELECT doc_id, t AS term FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(lower(text),'[^a-z0-9_]+')) AS t
        |    FROM documents)
        |  WHERE length(t) BETWEEN 2 AND 64),
        |m AS (SELECT DISTINCT doc_id FROM toks
        |      WHERE term IN ('hash', 'join'))
        |SELECT d.lang, count(*)::BIGINT AS n
        |FROM m JOIN documents d USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the streamed-in index must equal a from-scratch build of the whole
    // corpus — same oracle as q50, reached through seed + 3 appended
    // micro-batch segments + a full replay
    "q105_stream_search" -> bm25OracleSql(Seq("hash", "join"), 20),
    // phrase BM25 over the post-DML corpus rebuilt from scratch in SQL —
    // what the incrementally-maintained positional sidecar must equal
    "q102_phrase_maintained" -> phraseOracleSql(Seq("table", "hash"), 20,
      docsSql = """SELECT doc_id, text FROM documents WHERE lang NOT IN ('fr','de')
        | UNION ALL SELECT doc_id,
        |   text || ' graft_refresh_marker graft_refresh_marker' FROM documents
        |   WHERE lang = 'de'
        | UNION ALL SELECT doc_id + 1000000,
        |   'graft_inserted_marker ' || text FROM documents
        |   WHERE lang = 'es'""".stripMargin),
    // q100 = the identical post-DML corpus and query, driven via SQL
    "q100_sql_search" -> bm25OracleSql(
      Seq("data", "graft_inserted_marker", "graft_refresh_marker"), 20,
      docsSql = """SELECT doc_id, text FROM documents WHERE lang NOT IN ('fr','de')
        | UNION ALL SELECT doc_id,
        |   text || ' graft_refresh_marker graft_refresh_marker' FROM documents
        |   WHERE lang = 'de'
        | UNION ALL SELECT doc_id + 1000000,
        |   'graft_inserted_marker ' || text FROM documents
        |   WHERE lang = 'es'""".stripMargin),
    // post-DML corpus rebuilt from scratch in SQL: deletes gone, updates
    // restamped, inserts added — the BM25 the refreshed index must equal
    "q99_table_search" -> bm25OracleSql(
      Seq("data", "graft_inserted_marker", "graft_refresh_marker"), 20,
      docsSql = """SELECT doc_id, text FROM documents WHERE lang NOT IN ('fr','de')
        | UNION ALL SELECT doc_id,
        |   text || ' graft_refresh_marker graft_refresh_marker' FROM documents
        |   WHERE lang = 'de'
        | UNION ALL SELECT doc_id + 1000000,
        |   'graft_inserted_marker ' || text FROM documents
        |   WHERE lang = 'es'""".stripMargin),
    "q52_index_lexicon" ->
      s"""WITH toks AS ($tokensSqlDuck)
         |SELECT term, count(DISTINCT doc_id)::BIGINT AS df
         |FROM toks GROUP BY 1 ORDER BY df DESC, term ASC LIMIT 50""".stripMargin,
    "q53_index_docstats" ->
      s"""WITH toks AS ($tokensSqlDuck)
         |SELECT d.doc_id, coalesce(t.n,0)::BIGINT AS dl, sha256(d.text) AS sha
         |FROM documents d LEFT JOIN (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1) t
         |  USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "q54_postings_roundtrip" ->
      s"""WITH toks AS ($tokensSqlDuck)
         |SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks
         |WHERE term LIKE 's%' GROUP BY 1,2 ORDER BY term, doc_id""".stripMargin
  )
}
