package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.countDistinct

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig}
import graft.model.{PostingBlockRow, SourceFile}
import graft.query.{Searcher, SequentialOracle}

/** Incremental append: a second batch merges into an existing index as a
  * new segment; queries over the appended index are rank-identical to the
  * sequential oracle on the combined corpus AND to a from-scratch build. */
class AppendSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // repos prefixed so the global lexicographic key order equals the append
  // order — making docIds comparable across appended vs from-scratch builds
  val base: Seq[SourceFile] = (0L until 300L)
    .map(i => { val f = CorpusGen.genFile(i, 42L); f.copy(repo = "a_" + f.repo) })
  val batch: Seq[SourceFile] = (1000L until 1200L)
    .map(i => { val f = CorpusGen.genFile(i, 42L); f.copy(repo = "b_" + f.repo) })
  lazy val oracle = new SequentialOracle(base ++ batch)

  val queries = Seq("if return", "hash join", "def val", "scan sort merge",
    "get_set", "the and for with", "buf_node import", "zzz_missing if")

  def cfg(dir: String) = IndexConfig(indexDir = dir, numShards = 4,
    heavyDfThreshold = 150, buildPartitions = 4)

  /** Build `base` at `dirA`, append `batch`, and pin the result against the
    * oracle and a from-scratch build. */
  def appendParity(dirA: String): Unit = {
    import spark.implicits._
    val cA = cfg(dirA)
    IndexBuilder.build(spark, base.toDS(), cA, "base")
    val stBefore = IndexBuilder.stats(cA)
    assert(stBefore.numDocs == 300)

    val stAfter = IndexBuilder.append(spark, batch.toDS(), cA, "batch1")
    assert(stAfter.numDocs == 500)
    assert(stAfter.totalTokens > stBefore.totalTokens)

    // from-scratch build over the combined corpus
    val dirB = TestSpark.tmpDir("graft-scratch")
    val cB = cfg(dirB)
    IndexBuilder.build(spark, (base ++ batch).toDS(), cB, "all")

    // the segment's blocks lie inside its docId range, the base's below it
    val seg = new graft.checkpoint.Manifest(dirA).get("append-0").get
    val (docBase, shardBase) =
      (seg.extra("docIdBase").toLong, seg.extra("shardBase").toInt)
    val outside = spark.read.parquet(cA.postingsPath).as[PostingBlockRow]
      .filter(b => if (b.shard >= shardBase)
          b.firstDocId < docBase || b.lastDocId >= docBase + seg.rows
        else b.lastDocId >= docBase)
      .count()
    assert(outside == 0L, "a block crosses the segment's docId range")

    val sA = new Searcher(spark, cA)
    // distributed WAND over the base's and the segment's shard ranges
    val sAd = new Searcher(spark, cA, localServeMaxBlocks = 0L, gatherMaxBlocks = 0L)
    val sB = new Searcher(spark, cB)
    queries.foreach { q =>
      val exp = oracle.topK(q, 10)
      assert(sA.searchWAND(q, 10).toVector == exp, s"appended WAND vs oracle: '$q'")
      assert(sAd.searchWAND(q, 10).toVector == exp,
        s"appended distributed WAND vs oracle: '$q'")
      assert(sA.searchTAAT(q, 10).toVector == exp, s"appended TAAT vs oracle: '$q'")
      assert(sB.searchWAND(q, 10).toVector == exp, s"scratch WAND vs oracle: '$q'")
    }

    // lexicon df identical between appended and from-scratch indexes
    val dfA = spark.read.parquet(cA.lexiconPath)
      .select($"term", $"df").as[(String, Long)].collect().toMap
    val dfB = spark.read.parquet(cB.lexiconPath)
      .select($"term", $"df").as[(String, Long)].collect().toMap
    assert(dfA == dfB)

    // lineage across both segments
    assert(sA.verifyLineage((base ++ batch).toDS()) == 0L)

    // the authoritative postings record tracks the MERGED block count after
    // append (the Searcher's localServe/cache budgets gate on it)
    val recBlocks = new graft.checkpoint.Manifest(dirA).get("postings").get.rows
    assert(recBlocks == spark.read.parquet(cA.postingsPath).count(),
      "postings record stale after append — localServe budget unguarded")
  }

  test("append merges a segment; results match oracle and a from-scratch build") {
    appendParity(TestSpark.tmpDir("graft-append"))
  }

  test("append parity holds on a file:// index directory through HadoopIO") {
    appendParity("file:" + TestSpark.tmpDir("graft-append-hadoop"))
  }

  /** The df of every term of the combined corpus, counted sequentially. */
  lazy val combinedDf: Map[String, Long] = (base ++ batch)
    .flatMap(f => graft.analysis.CodeTokenizer.termFreqs(f.content)._1.keys)
    .groupBy(identity).map { case (t, ts) => t -> ts.size.toLong }

  /** Run `op` with the first mutating storage operation under `dir` that
    * `fail` selects failing — the crash state it leaves. */
  def crashAt(dir: String, fail: FaultInjection.Fail)(op: => Any): Unit =
    assert(FaultInjection.run(dir, fail)(op)._2, "no fault injected")

  /** The index commit's claim (not a sub-index stage's). */
  def mainCommit(dir: String): FaultInjection.Fail =
    (_, op, path) => op == "createExclusive" && path.startsWith(s"$dir/commits/")

  test("retried append after a mid-merge crash does NOT double df/cf") {
    // crash with every segment file written, just before the commit: the
    // docs/postings dirs already hold the seg0 files (the dangerous state —
    // a naive retry re-appends them and silently doubles df/cf)
    import spark.implicits._
    val dir = TestSpark.tmpDir("graft-append-retry")
    val c = cfg(dir)
    IndexBuilder.build(spark, base.toDS(), c, "base")
    crashAt(dir, mainCommit(dir))(IndexBuilder.append(spark, batch.toDS(), c, "batch1"))
    assert(IndexBuilder.stats(c).numDocs == 300, "crash state not set up")

    val st = IndexBuilder.append(spark, batch.toDS(), c, "batch1") // retry
    assert(st.numDocs == 500)
    val s = new Searcher(spark, c)
    queries.foreach { q =>
      assert(s.searchWAND(q, 10).toVector == oracle.topK(q, 10),
        s"retried append corrupted results for '$q'")
    }
    // df must equal the combined corpus df exactly (no doubling)
    val df = spark.read.parquet(c.lexiconPath)
      .select($"term", $"df").as[(String, Long)].collect().toMap
    assert(df == combinedDf, "df doubled?")
  }

  test("retried append redoes an unrecorded partial docs/postings merge cleanly") {
    // crash as the segment's postings files start to move in: its docs
    // files are already in the live docs dir, nothing is committed
    import spark.implicits._
    val dir = TestSpark.tmpDir("graft-append-retry2")
    val c = cfg(dir)
    IndexBuilder.build(spark, base.toDS(), c, "base")
    crashAt(dir, (_, op, path) => op == "rename" && path.contains("/merge/postings/")) {
      IndexBuilder.append(spark, batch.toDS(), c, "batch1")
    }
    assert(spark.read.parquet(c.docsPath).count() == 500, "crash state not set up")

    val st = IndexBuilder.append(spark, batch.toDS(), c, "batch1")
    assert(st.numDocs == 500)
    assert(spark.read.parquet(c.docsPath).count() == 500, "docs duplicated")
    val s = new Searcher(spark, c)
    queries.take(4).foreach { q =>
      assert(s.searchWAND(q, 10).toVector == oracle.topK(q, 10), s"'$q'")
    }
  }

  test("incremental lexicon merge equals a full recompute over the merged postings") {
    // append's lexicon step merges the pre-append lexicon with the new
    // segment's per-term deltas instead of re-aggregating every block
    // (r7 §2.4); this pins the merge column-for-column — including cf,
    // nBlocks and the double-valued maxTfNorm — against the recompute
    // formula over the merged postings, across two appends (one reusing
    // old terms, one adding new ones)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = TestSpark.tmpDir("graft-append-lexmerge")
    val c = cfg(dir)
    IndexBuilder.build(spark, base.toDS(), c, "base")
    IndexBuilder.append(spark, batch.toDS(), c, "b1")
    val batch2 = (2000L until 2050L)
      .map(i => { val f = CorpusGen.genFile(i, 42L); f.copy(repo = "c_" + f.repo) })
    IndexBuilder.append(spark, batch2.toDS(), c, "b2")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"term", $"termId", $"df", $"cf", $"nBlocks", $"maxTfNorm")
      .as[(String, Int, Long, Long, Int, Double)].collect().sortBy(_._2).toSeq
    val got = rows(spark.read.parquet(c.lexiconPath))
    val want = rows(spark.read.parquet(c.postingsPath)
      .groupBy($"termId")
      .agg(sum($"count").as("df"), sum($"sumTf").as("cf"),
        count(lit(1)).cast("int").as("nBlocks"),
        max($"maxTfNorm").as("maxTfNorm"))
      .join(spark.read.parquet(c.lexiconPath).select($"termId", $"term"),
        "termId"))
    assert(got.nonEmpty && got == want,
      "merged lexicon diverged from the full recompute")
  }

  test("abandoned mid-append under a different fingerprint does not contaminate the lexicon") {
    // a refresh can crash with its merged lexicon written but not
    // committed; if the table moves again, the retry arrives with a
    // DIFFERENT fingerprint at the SAME segment number, and the abandoned
    // batch must leave no trace
    import spark.implicits._
    val dir = TestSpark.tmpDir("graft-append-abandon")
    val c = cfg(dir)
    IndexBuilder.build(spark, base.toDS(), c, "base")
    crashAt(dir, mainCommit(dir))(IndexBuilder.append(spark, batch.toDS(), c, "batchA"))

    val batchB = (3000L until 3120L)
      .map(i => { val f = CorpusGen.genFile(i, 42L); f.copy(repo = "d_" + f.repo) })
    val st = IndexBuilder.append(spark, batchB.toDS(), c, "batchB")
    assert(st.numDocs == 420)

    val dirS = TestSpark.tmpDir("graft-append-abandon-scratch")
    val cS = cfg(dirS)
    IndexBuilder.build(spark, (base ++ batchB).toDS(), cS, "scratch")
    val dfA = spark.read.parquet(c.lexiconPath)
      .select($"term", $"df").as[(String, Long)].collect().toMap
    val dfS = spark.read.parquet(cS.lexiconPath)
      .select($"term", $"df").as[(String, Long)].collect().toMap
    assert(dfA == dfS, "abandoned batch leaked into the merged lexicon")

    val o = new SequentialOracle(base ++ batchB)
    val s = new Searcher(spark, c)
    Seq("if return", "hash join", "def val").foreach { q =>
      assert(s.searchWAND(q, 10).toVector == o.topK(q, 10), s"'$q'")
    }
  }

  test("compaction after a crashed append compacts only the committed rows") {
    // the crashed append's docs and postings files are in the live
    // directories (moved there before its commit); compaction must leave
    // them out, or they would be committed with the compacted index
    import spark.implicits._
    val dir = TestSpark.tmpDir("graft-append-crash-compact")
    val c = cfg(dir)
    IndexBuilder.build(spark, base.toDS(), c, "base")
    IndexBuilder.append(spark, batch.toDS(), c, "b1")
    val dirC = TestSpark.tmpDir("graft-append-crash-compact-clean")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(dir), new java.io.File(dirC))
    val batch2 = (4000L until 4100L)
      .map(i => { val f = CorpusGen.genFile(i, 42L); f.copy(repo = "e_" + f.repo) })
    crashAt(dir, mainCommit(dir))(IndexBuilder.append(spark, batch2.toDS(), c, "b2"))
    assert(spark.read.parquet(c.docsPath).count() == 600, "crash state not set up")

    assert(IndexBuilder.compact(spark, c).numDocs == 500)
    val cC = cfg(dirC)
    IndexBuilder.compact(spark, cC)
    def rows(c: IndexConfig) = Seq(c.docsPath, c.postingsPath, c.lexiconPath)
      .map(spark.read.parquet(_))
    rows(c).zip(rows(cC)).zip(Seq("docs", "postings", "lexicon")).foreach {
      case ((got, want), name) =>
        assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
          s"compacted $name hold rows of the crashed append")
    }
    val s = new Searcher(spark, c)
    queries.foreach { q =>
      assert(s.searchWAND(q, 10).toVector == oracle.topK(q, 10), s"'$q'")
    }
  }

  test("second append keeps extending (multi-segment); compaction restores single-segment layout") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("graft-append2")
    val c = cfg(dir)
    IndexBuilder.build(spark, base.toDS(), c, "base")
    IndexBuilder.append(spark, batch.toDS(), c, "b1")
    val batch2 = (2000L until 2100L)
      .map(i => { val f = CorpusGen.genFile(i, 42L); f.copy(repo = "c_" + f.repo) })
    val st = IndexBuilder.append(spark, batch2.toDS(), c, "b2")
    assert(st.numDocs == 600)
    val oracle3 = new SequentialOracle(base ++ batch ++ batch2)
    val s = new Searcher(spark, c)
    Seq("if return", "hash join", "scan sort").foreach { q =>
      assert(s.searchWAND(q, 10).toVector == oracle3.topK(q, 10), s"'$q'")
    }

    // --- compaction: 3 segments (3 × numShards shard groups) → 1
    val shardsBefore = spark.read.parquet(c.postingsPath)
      .select(countDistinct($"shard")).as[Long].head()
    val stC = IndexBuilder.compact(spark, c)
    assert(stC.numDocs == 600)
    val shardsAfter = spark.read.parquet(c.postingsPath)
      .select(countDistinct($"shard")).as[Long].head()
    assert(shardsAfter <= c.numShards && shardsAfter < shardsBefore,
      s"compaction did not consolidate shards ($shardsBefore -> $shardsAfter)")
    // results identical after compaction (fresh Searcher: stats changed)
    val sC = new Searcher(spark, c)
    queries.foreach { q =>
      assert(sC.searchWAND(q, 10).toVector == oracle3.topK(q, 10),
        s"compaction changed results for '$q'")
      assert(sC.searchTAAT(q, 10).toVector == oracle3.topK(q, 10),
        s"compaction broke TAAT for '$q'")
    }
    // lineage still intact across the rebuilt docs table
    assert(sC.verifyLineage((base ++ batch ++ batch2).toDS()) == 0L)

    // compaction re-stamped every stale avgDlAtBuild, so the WAND bound
    // correction is exactly 1 again (tightest pruning) and the postings
    // record reflects the rebuilt block count
    assert(sC.ubScale == 1.0, s"post-compact ubScale ${sC.ubScale} != 1")
    val mPost = new graft.checkpoint.Manifest(dir)
    assert(mPost.get("postings").get.rows ==
      spark.read.parquet(c.postingsPath).count(),
      "postings record stale after compact")

    // compaction re-encodes the committed postings into what a from-scratch
    // build of the same corpus writes: the same docs rows, and under each
    // term the same blocks and lexicon stats (an appended index numbers
    // the terms it did not know after the old ones, so termIds differ)
    val cS = cfg(TestSpark.tmpDir("graft-append2-scratch"))
    IndexBuilder.build(spark, (base ++ batch ++ batch2).toDS(), cS, "scratch")
    def byTerm(c: IndexConfig) = {
      val lex = spark.read.parquet(c.lexiconPath)
      Seq(spark.read.parquet(c.docsPath), lex.drop("termId"),
        spark.read.parquet(c.postingsPath)
          .join(lex.select($"termId", $"term"), "termId").drop("termId"))
    }
    byTerm(c).zip(byTerm(cS)).zip(Seq("docs", "lexicon", "postings")).foreach {
      case ((got, want), name) =>
        assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
          s"compacted $name differ from a from-scratch build's")
    }
  }
}
