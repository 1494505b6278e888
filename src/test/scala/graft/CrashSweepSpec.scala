package graft

import java.io.File
import java.util.concurrent.Executors

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.checkpoint.Manifest
import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig, TableIndexer}
import graft.model.SourceFile
import graft.query.{Searcher, SequentialOracle}
import graft.sources.TableOps

/** Crash-safety sweep for every index mutation: for each n up to the number
  * of mutating storage operations a clean run performs, fail the n-th one
  * (the process "dies" there), retry, and require the index to equal the
  * one a clean run produces — lexicon, vocab, docs, postings, tombstones
  * and manifest records: everything a Searcher reads, so the retried
  * index answers every query exactly as the clean one, whose WAND and TAAT
  * top-10 are checked against [[SequentialOracle]]. Append and refresh are
  * also retried under a DIFFERENT fingerprint: the crashed batch is
  * abandoned (the table moved on) and must leave no trace. */
class CrashSweepSpec extends AnyFunSuite {
  // a session of its own: two shuffle partitions and no adaptive
  // re-planning suit the tiny corpus and keep the few hundred operations
  // the sweep runs cheap
  lazy val spark = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "2")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }
  import FaultInjection.never

  // repos prefixed so the lexicographic key order equals the append order:
  // appended docIds then equal a from-scratch build's (and the oracle's)
  def files(prefix: String, ids: Range): Seq[SourceFile] = ids.map { i =>
    val f = CorpusGen.genFile(i.toLong, 42L); f.copy(repo = prefix + f.repo)
  }
  val base = files("a_", 0 until 24)
  val batch = files("b_", 100 until 112)
  val batchB = files("d_", 200 until 210)
  val queries = Seq("if return", "hash join", "def val scan")

  def cfg(dir: String) = IndexConfig(indexDir = dir, numShards = 2,
    heavyDfThreshold = 12, buildPartitions = 1)

  def copy(seed: String, tag: String): String = {
    val d = TestSpark.tmpDir(s"graft-sweep-$tag")
    FileUtils.copyDirectory(new File(seed), new File(d))
    d
  }

  /** The rows of a parquet dir as strings, read on the driver (no Spark
    * job per crash point). */
  def rows(dir: String): Seq[String] = {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY
    def show(g: Group): String = (0 until g.getType.getFieldCount).map { i =>
      val t = g.getType.getType(i)
      (0 until g.getFieldRepetitionCount(i)).map { j =>
        if (t.isPrimitive && t.asPrimitiveType.getPrimitiveTypeName == BINARY)
          g.getBinary(i, j).getBytes.map("%02x".format(_)).mkString
        else g.getValueToString(i, j)
      }.mkString(",")
    }.mkString("|")
    new File(dir).list().filter(_.endsWith(".parquet")).toSeq.flatMap { n =>
      val r = org.apache.parquet.hadoop.ParquetReader.builder(
        new org.apache.parquet.hadoop.example.GroupReadSupport(),
        new org.apache.hadoop.fs.Path(s"$dir/$n")).build()
      try Iterator.continually(r.read()).takeWhile(_ != null).map(show).toVector
      finally r.close()
    }.sorted
  }

  /** Everything a query can observe of an index, as comparable rows. */
  def dump(c: IndexConfig): Map[String, Seq[String]] = {
    val m = new Manifest(c.indexDir).read()
    Map("lexicon" -> rows(c.lexiconPath), "vocab" -> rows(c.vocabPath),
      "docs" -> rows(c.docsPath), "postings" -> rows(c.postingsPath),
      // directory names aside: a compaction retried after its commit
      // compacts again into the next version's fresh directories
      "records" -> m.values.map(r => r.copy(wallMs = 0L, extra = r.extra
        .filter { case (k, _) => k != "dir" && !k.endsWith("Dir") }).toString)
        .toSeq) ++
      m.get("tombstones").map(r => "tombstones" ->
        (rows(c.indexDir + "/" + r.extra("dir")) ++
          rows(c.indexDir + "/" + r.extra("dfDir")))) ++
      m.get("positions").map(_ => "positions" -> rows(c.positionsPath))
  }

  /** Top-10 of both ranked regimes, for every query. */
  def topK(c: IndexConfig) = {
    val s = new Searcher(spark, c)
    try queries.map(q => (s.searchWAND(q, 10).toVector, s.searchTAAT(q, 10).toVector))
    finally s.close()
  }

  /** Crash `op` at each of the `total` mutating storage operations a clean
    * run of it makes, in a copy of `seed`; `retry`, and compare with
    * `reference` — or, where the crash came after `op`'s commit and `retry`
    * is a different operation, with `afterCommit` (`op` and then `retry`,
    * run cleanly). `index` maps a copy to its index directory. Crash points
    * run six at a time. */
  def sweep(name: String, seed: String, total: Int, reference: String,
      index: String => String = identity, afterCommit: String = "")(
      op: String => Any)(retry: String => Any): Unit = {
    val wantClean = dump(cfg(index(reference)))
    val wantCommitted =
      if (afterCommit.isEmpty) wantClean else dump(cfg(index(afterCommit)))
    def version(d: String) = new Manifest(index(d)).snapshot().version
    assert(total > 0)
    val t0 = System.nanoTime()
    val pool = Executors.newFixedThreadPool(6)
    try (1 to total).map { n =>
      pool.submit(() => {
        val d = copy(seed, s"$name-$n")
        var at = ""
        val (_, crashed) = FaultInjection.run(index(d), (i, o, p) =>
          (i == n) && { at = s"$o ${p.stripPrefix(d)}"; true })(op(d))
        val committed = version(d) > version(seed)
        retry(d)
        val got = dump(cfg(index(d)))
        FileUtils.deleteDirectory(new File(d))
        (n, at, crashed, got, if (committed) wantCommitted else wantClean)
      })
    }.foreach { f =>
      val (n, at, crashed, got, want) = f.get()
      assert(crashed, s"[$name] no fault at op $n of $total")
      val diff = want.keySet.filter(k => got.get(k) != want.get(k)).map(k =>
        k -> (got.getOrElse(k, Nil).diff(want(k)).take(2),
          want(k).diff(got.getOrElse(k, Nil)).take(2)))
      assert(diff.isEmpty && got.keySet == want.keySet,
        s"[$name] crash at op $n of $total ($at): (got, want) differ in $diff")
    } finally pool.shutdownNow()
    info(f"$name: $total crash points, ${(System.nanoTime() - t0) / 1e9}%.0f s")
  }

  /** A clean run of `op` on a copy of `seed`: the copy, and the number of
    * mutating storage operations it made under the copy's index. */
  def clean(seed: String, tag: String, index: String => String = identity)(
      op: String => Any): (String, Int) = {
    val d = copy(seed, tag)
    (d, FaultInjection.run(index(d), never)(op(d))._1)
  }

  /** Both ranked regimes return the oracle's top-10 on `c`. */
  def assertOracle(c: IndexConfig, corpus: Seq[SourceFile]): Unit = {
    val o = new SequentialOracle(corpus)
    topK(c).zip(queries).foreach { case ((w, t), q) =>
      val exp = o.topK(q, 10)
      assert(w == exp && t == exp, s"'$q'")
    }
  }

  import spark.implicits._
  lazy val empty = TestSpark.tmpDir("graft-sweep-empty")
  def buildBase(d: String) = IndexBuilder.build(spark, base.toDS(), cfg(d), "base")
  lazy val (built, buildOps) = clean(empty, "built")(buildBase)

  test("crash sweep: build resumes to the clean index") {
    assertOracle(cfg(built), base)
    sweep("build", empty, buildOps, built)(buildBase)(buildBase)
  }

  test("crash sweep: append, retried under the same and a different fingerprint") {
    def op(d: String) = IndexBuilder.append(spark, batch.toDS(), cfg(d), "b1")
    def opB(d: String) = IndexBuilder.append(spark, batchB.toDS(), cfg(d), "b2")
    val (appended, n) = clean(built, "appended")(op)
    assertOracle(cfg(appended), base ++ batch)
    sweep("append", built, n, appended)(op)(op)

    val (other, _) = clean(built, "appendedB")(opB)
    assertOracle(cfg(other), base ++ batchB)
    sweep("append-abandoned", built, n, other,
      afterCommit = clean(appended, "appendedAB")(opB)._1)(op)(opB)
  }

  test("crash sweep: IndexBuilder.compact") {
    def op(d: String) = IndexBuilder.compact(spark, cfg(d))
    val (twoSegs, _) = clean(built, "twoSegs") { d =>
      IndexBuilder.append(spark, batch.toDS(), cfg(d), "b1")
      IndexBuilder.append(spark, batchB.toDS(), cfg(d), "b2")
    }
    val (compacted, n) = clean(twoSegs, "compacted")(op)
    assertOracle(cfg(compacted), base ++ batch ++ batchB)
    sweep("compact", twoSegs, n, compacted)(op)(op)
  }

  // table-backed sweeps: the seed holds the table store and the index
  def ops(root: String) = new TableOps(spark, s"$root/tables")
  def idx(root: String) = s"$root/idx"
  def indexer(root: String) = new TableIndexer(spark, ops(root), cfg(idx(root)))
  def tcfg(root: String) = cfg(idx(root))

  /** Index with positions synced to v0 (two files); the table then took
    * an insert, a delete and an update. */
  lazy val tableSeed = {
    val root = TestSpark.tmpDir("graft-sweep-table")
    val o = ops(root)
    o.create("t", base.take(12).toDF().coalesce(1))
    o.insert("t", base.drop(12).toDF().coalesce(1))
    indexer(root).create("t", positions = true)
    o.insert("t", batch.toDF().coalesce(1))
    o.delete("t", col("path").isin(base.take(3).map(_.path): _*))
    o.update("t", col("path").isin(base.slice(3, 5).map(_.path): _*), "content",
      concat(col("content"), lit(" zzz_marker")))
    root
  }

  def live(root: String): Seq[SourceFile] =
    ops(root).read("t").select($"repo", $"path", $"commit", $"lang", $"content")
      .as[SourceFile].collect().toSeq

  /** Ranked results of a maintained index (its docIds are not the
    * oracle's) against the oracle: same top-10 scores, every returned doc
    * scored bit-identically. */
  def assertOracleByKey(root: String): Unit = {
    val c = tcfg(root)
    val o = new SequentialOracle(live(root))
    val idOf = (0L until live(root).size).map(i => o.docKey(i) -> i).toMap
    val keyOf = spark.read.parquet(c.docsPath)
      .select($"docId", $"repo", $"path", $"commit")
      .as[(Long, String, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    topK(c).zip(queries).foreach { case ((w, t), q) =>
      assert(w == t, s"WAND != TAAT '$q'")
      assert(w.map(_.score) == o.topK(q, 10).map(_.score), s"'$q'")
      w.foreach(sd => assert(o.score(q, idOf(keyOf(sd.docId))) == sd.score, s"'$q'"))
    }
  }

  test("crash sweep: TableIndexer.refresh, retried as-is and after the table moved") {
    def op(r: String) = indexer(r).refresh("t")
    def moveOnAndRefresh(r: String) = {
      ops(r).insert("t", batchB.toDF().coalesce(1)); indexer(r).refresh("t")
    }
    val (refreshed, n) = clean(tableSeed, "refreshed", idx)(op)
    assertOracleByKey(refreshed)
    sweep("refresh", tableSeed, n, refreshed, idx)(op)(op)

    val (moved, _) = clean(tableSeed, "moved", idx)(moveOnAndRefresh)
    assertOracleByKey(moved)
    sweep("refresh-abandoned", tableSeed, n, moved, idx,
      afterCommit = clean(refreshed, "refreshedMoved", idx)(moveOnAndRefresh)._1)(
      op)(moveOnAndRefresh)
  }

  test("crash sweep: TableIndexer.compact") {
    def op(r: String) = indexer(r).compact("t")
    val (refreshed, _) = clean(tableSeed, "refreshed2", idx)(r => indexer(r).refresh("t"))
    val (compacted, n) = clean(refreshed, "tcompacted", idx)(op)
    assertOracle(tcfg(compacted), live(compacted)
      .sortBy(f => (f.repo, f.path, f.commit)))
    sweep("table-compact", refreshed, n, compacted, idx)(op)(op)
  }
}
