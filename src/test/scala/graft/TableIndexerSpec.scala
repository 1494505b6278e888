package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig, TableIndexer}
import graft.model.SourceFile
import graft.query.Searcher
import graft.sources.TableOps

/** Maintained search index over a managed table: create → DML → refresh
  * keeps the index EXACTLY equal (scores, not just ranks) to a
  * from-scratch build of the table's live snapshot — inserts append a
  * segment, update/delete tombstone the dead docIds with df/N/avgdl
  * corrections, compact() reclaims. The reference's index-maintenance-on-
  * DML role (builtins.h:229-231 IndexInsert/IndexDelete) in snapshot-
  * incremental form. */
class TableIndexerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val queries = Seq("if return", "hash join", "def val", "scan sort merge",
    "get_set", "the and for with", "zzz_missing if")

  def mkFiles(ids: Range): Seq[SourceFile] =
    ids.map(i => CorpusGen.genFile(i.toLong, 42L))

  def cfg(dir: String) = IndexConfig(indexDir = dir, numShards = 4,
    heavyDfThreshold = 150, buildPartitions = 4)

  /** (repo, path) -> exact score over ALL matching docs — the strongest
    * parity surface (no k cutoff, no tie-break dependence). */
  def keyScores(c: IndexConfig, s: Searcher, q: String)
      : Map[(String, String), Double] = {
    import spark.implicits._
    val docmap = spark.read.parquet(c.docsPath)
      .select($"docId", $"repo", $"path")
    s.scoreAll(q).toDF().join(docmap, "docId")
      .select($"repo", $"path", $"score")
      .as[(String, String, Double)].collect()
      .map { case (r, p, sc) => (r, p) -> sc }.toMap
  }

  /** From-scratch index of `corpus` for parity. */
  def scratch(tag: String, corpus: Seq[SourceFile]): (IndexConfig, Searcher) = {
    import spark.implicits._
    val c = cfg(TestSpark.tmpDir(s"graft-tidx-scratch-$tag"))
    IndexBuilder.build(spark, corpus.toDS(), c, tag)
    (c, new Searcher(spark, c))
  }

  def assertParity(tag: String, c: IndexConfig, corpus: Seq[SourceFile]): Unit = {
    import spark.implicits._
    val s = new Searcher(spark, c)
    val (cS, sS) = scratch(tag, corpus)
    assert(s.liveStats.numDocs == sS.stats.numDocs, "live N")
    assert(s.liveStats.totalTokens == sS.stats.totalTokens, "live tokens")
    queries.foreach { q =>
      assert(keyScores(c, s, q) == keyScores(cS, sS, q),
        s"[$tag] scoreAll parity broken for '$q'")
      // WAND under tombstones == TAAT on the same index (exactness of the
      // pruned path itself, same docIds and tie-breaks)
      assert(s.searchWAND(q, 10).toVector == s.searchTAAT(q, 10).toVector,
        s"[$tag] WAND != TAAT for '$q'")
    }
    assert(s.verifyLineage(corpus.toDS()) == 0L, s"[$tag] lineage")
    s.close(); sS.close()
  }

  /** Create over `a`, insert `b`, refresh: parity with a rebuild. */
  def insertRefresh(idxDir: String): Unit = {
    import spark.implicits._
    val ops = new TableOps(spark, TestSpark.tmpDir("graft-tidx-ins"))
    val a = mkFiles(0 until 300)
    val b = mkFiles(1000 until 1200)
    ops.create("t", a.toDF())
    val ti = new TableIndexer(spark, ops, cfg(idxDir))
    assert(ti.create("t").numDocs == 300)
    ops.insert("t", b.toDF())
    val st = ti.refresh("t")
    assert(st.numDocs == 500)
    assert(ti.syncedVersion == ops.currentVersion("t"))
    assertParity("ins", ti.cfg, a ++ b)
  }

  test("insert-only refresh appends a segment; parity with a rebuild") {
    insertRefresh(TestSpark.tmpDir("graft-tidx-ins-idx"))
  }

  test("insert-only refresh parity holds on a file:// index directory through HadoopIO") {
    insertRefresh("file:" + TestSpark.tmpDir("graft-tidx-ins-hadoop"))
  }

  test("a Searcher left open across refresh() does not poison the merge") {
    // Regression: a live Searcher's PERSISTED postings plan (scoreAll
    // materializes one) pins the pre-append file listing; without the
    // cache invalidation inside IndexBuilder.append, Spark substitutes it
    // into the post-merge lexicon recompute and the merged dfs silently
    // miss the new segment (live df 0 after a full-file rewrite -> empty
    // results). WAND-only sessions never hit it (local serving collects
    // without persisting), which is why only scoreAll-style traffic
    // exposed the bug.
    import spark.implicits._
    val ops = new TableOps(spark, TestSpark.tmpDir("graft-tidx-open"))
    val a = mkFiles(0 until 200)
    ops.create("t", a.toDF().coalesce(2))
    val ti = new TableIndexer(spark, ops, cfg(TestSpark.tmpDir("graft-tidx-open-idx")))
    ti.create("t")
    val s0 = new Searcher(spark, ti.cfg)
    assert(s0.scoreAll(queries.head).count() > 0) // persists postings+norms
    // the delete rewrites its file(s): those docIds die and the survivors
    // re-enter as a segment whose dfs the merged lexicon MUST include —
    // exact-score parity with a scratch rebuild detects any missing df
    ops.delete("t", col("path").isin(a.take(20).map(_.path): _*))
    ti.refresh("t")
    // s0 stays OPEN (not closed) — parity must hold for a fresh reader
    assertParity("open-searcher", ti.cfg, a.drop(20))
    s0.close()
  }

  test("update + delete tombstone dead docs; scores equal a live-state rebuild") {
    import spark.implicits._
    val ops = new TableOps(spark, TestSpark.tmpDir("graft-tidx-mut"))
    val a = mkFiles(0 until 400)
    // several files so the delete/update rewrite touches a strict subset
    ops.create("t", a.take(150).toDF().coalesce(1))
    ops.insert("t", a.slice(150, 300).toDF().coalesce(1))
    ops.insert("t", a.drop(300).toDF().coalesce(1))
    val ti = new TableIndexer(spark, ops, cfg(TestSpark.tmpDir("graft-tidx-mut-idx")))
    ti.create("t")

    val delPaths = a.take(150).map(_.path).take(40).toSet
    val updPaths = a.slice(150, 300).map(_.path).take(30).toSet
    ops.delete("t", col("path").isin(delPaths.toSeq: _*))
    ops.update("t", col("path").isin(updPaths.toSeq: _*), "content",
      concat(col("content"), lit("\nzzz_added_marker zzz_added_marker")))
    ti.refresh("t")

    val live = a.filterNot(f => delPaths.contains(f.path)).map(f =>
      if (updPaths.contains(f.path))
        f.copy(content = f.content + "\nzzz_added_marker zzz_added_marker")
      else f)
    val m = new graft.checkpoint.Manifest(ti.cfg.indexDir)
    assert(m.get("tombstones").exists(_.rows > 0), "no tombstones recorded")
    assertParity("mut", ti.cfg, live)
    // the marker term is findable; its df equals the updated row count
    val s = new Searcher(spark, ti.cfg)
    assert(s.searchWAND("zzz_added_marker", 50).length == updPaths.size)
    s.close()
  }

  test("repeated DML cycles accumulate tombstones correctly; term can die") {
    import spark.implicits._
    val ops = new TableOps(spark, TestSpark.tmpDir("graft-tidx-cycle"))
    val a = mkFiles(0 until 200)
    ops.create("t", a.take(100).toDF().coalesce(1))
    ops.insert("t", a.drop(100).toDF().coalesce(1))
    val ti = new TableIndexer(spark, ops, cfg(TestSpark.tmpDir("graft-tidx-cycle-idx")))
    ti.create("t")

    // cycle 1: update half of the first file's rows' content
    val upd1 = a.take(100).map(_.path).take(50).toSet
    ops.update("t", col("path").isin(upd1.toSeq: _*), "content",
      concat(lit("cycle_one_marker "), col("content")))
    ti.refresh("t")
    // no-change refresh is a no-op
    val stBefore = IndexBuilder.stats(ti.cfg)
    assert(ti.refresh("t") == stBefore)

    // cycle 2: delete some of the docs updated in cycle 1 (their cycle-1
    // docIds must die; their cycle-0 docIds are ALREADY dead — the
    // already-dead filter must not double-subtract df)
    val del2 = upd1.take(20)
    ops.delete("t", col("path").isin(del2.toSeq: _*))
    ti.refresh("t")

    val live = a.filterNot(f => del2.contains(f.path)).map(f =>
      if (upd1.contains(f.path))
        f.copy(content = "cycle_one_marker " + f.content) else f)
    assertParity("cycle", ti.cfg, live)
    val s = new Searcher(spark, ti.cfg)
    assert(s.searchWAND("cycle_one_marker", 100).length == upd1.size - del2.size)
    s.close()

    // cycle 3: delete EVERY doc carrying the marker — live df hits 0 and
    // the term must vanish from results entirely
    ops.delete("t", col("content").contains("cycle_one_marker"))
    ti.refresh("t")
    val s3 = new Searcher(spark, ti.cfg)
    assert(s3.searchWAND("cycle_one_marker", 10).isEmpty, "dead term matched")
    s3.close()
  }

  test("compact() reclaims tombstones via staged rebuild; swap crash recovers") {
    import spark.implicits._
    val ops = new TableOps(spark, TestSpark.tmpDir("graft-tidx-compact"))
    val a = mkFiles(0 until 200)
    ops.create("t", a.take(100).toDF().coalesce(1))
    ops.insert("t", a.drop(100).toDF().coalesce(1))
    val idxDir = TestSpark.tmpDir("graft-tidx-compact-idx")
    val ti = new TableIndexer(spark, ops, cfg(idxDir))
    ti.create("t")
    val del = a.take(100).map(_.path).take(30).toSet
    ops.delete("t", col("path").isin(del.toSeq: _*))
    ti.refresh("t")
    assert(new graft.checkpoint.Manifest(idxDir).get("tombstones").isDefined)

    val live = a.filterNot(f => del.contains(f.path))
    // crash at the commit that adopts the rebuild: the old index keeps
    // serving, exactly; the retry resumes the rebuild and adopts it
    val (_, crashed) = FaultInjection.run(idxDir, (_, op, path) =>
        op == "createExclusive" && path.startsWith(s"$idxDir/commits/")) {
      ti.compact("t")
    }
    assert(crashed)
    assertParity("crashed", ti.cfg, live)
    ti.compact("t")
    val m = new graft.checkpoint.Manifest(idxDir)
    assert(m.get("tombstones").isEmpty, "compact kept tombstones")
    assert(ti.syncedVersion == ops.currentVersion("t"))
    val s = new Searcher(spark, cfg(idxDir))
    assert(s.stats.numDocs == live.size && s.liveStats == s.stats)
    s.close()
    assertParity("compact", ti.cfg, live)
  }

  test("sorted primitive id-set probe agrees with set membership") {
    // the tombstone / allow-set serving representation (r7: sorted
    // Array[Long] + binary search replacing the boxed HashSet): exact
    // membership on arbitrary id patterns, including bounds and absent ids
    val rnd = new scala.util.Random(7)
    val ids = Array.fill(5000)(rnd.nextLong() % 1000000L)
    java.util.Arrays.sort(ids)
    val ref = ids.toSet
    val probes = ids.take(100) ++ Array(Long.MinValue, Long.MaxValue, 0L,
      -1L, 1L) ++ Array.fill(5000)(rnd.nextLong() % 1000000L)
    probes.foreach { d =>
      assert(Searcher.containsSorted(ids, d) == ref.contains(d), s"id $d")
    }
    assert(!Searcher.containsSorted(Array.emptyLongArray, 42L))
  }
}
