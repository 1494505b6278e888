package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.collection.immutable.ListMap
import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.checkpoint.{Manifest, StageRecord}
import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig, PositionalIndex, TableIndexer}
import graft.sources.TableOps

/** The index manifest's commit protocol: one compare-and-swap version per
  * mutation, no lost records under racing writers, roll-forward past a
  * lost mirror write, and a clear error for an older index format. */
class CommitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def rec(name: String) = StageRecord(name, "complete", s"fp-$name", 1L, 0L,
    Map("k" -> name))

  test("two writers racing on one base version: exactly one commits, its records intact") {
    val pool = Executors.newFixedThreadPool(2)
    try (1 to 20).foreach { round =>
      val m = new Manifest(TestSpark.tmpDir(s"graft-manifest-race-$round"))
      m.commit(rec("seed"))
      val base = m.snapshot()
      val go = new CountDownLatch(1)
      val tries = Seq("a", "b").map { w =>
        w -> pool.submit(() => {
          go.await()
          Try(m.commit(base, base.records ++
            Seq(rec(s"$w-1"), rec(s"$w-2")).map(r => r.stage -> r)))
        })
      }
      go.countDown()
      val results = tries.map { case (w, f) => w -> f.get(30, TimeUnit.SECONDS) }
      val winners = results.collect { case (w, r) if r.isSuccess => w }
      assert(winners.size == 1, s"round $round: winners $winners")
      results.foreach { case (_, r) =>
        r.failed.foreach(e =>
          assert(e.isInstanceOf[Manifest.ConcurrentCommitException], e.toString))
      }
      val w = winners.head
      val after = m.snapshot()
      assert(after.version == base.version + 1)
      assert(after.records.keySet == Set("seed", s"$w-1", s"$w-2"))
      assert(after.records(s"$w-2") == rec(s"$w-2"))
    } finally pool.shutdown()
  }

  test("a lost mirror write rolls forward; a stale base cannot commit") {
    val dir = TestSpark.tmpDir("graft-manifest-rollfwd")
    val m = new Manifest(dir)
    val v1 = m.commit(rec("one"))
    val (_, crashed) = FaultInjection.run(dir,
      (_, op, path) => op == "atomicWrite" && path.endsWith("manifest.json")) {
      new Manifest(dir).commit(v1, v1.records + ("two" -> rec("two")))
    }
    assert(crashed)
    val v2 = m.snapshot()
    assert(v2.version == 2 && v2.records.keySet == Set("one", "two"))
    intercept[Manifest.ConcurrentCommitException] {
      m.commit(v1, ListMap("three" -> rec("three")))
    }
    assert(m.commit(rec("three")).records.keySet == Set("one", "two", "three"))
  }

  test("an index from an older format asks to be rebuilt; build() rebuilds it") {
    val dir = TestSpark.tmpDir("graft-manifest-legacy")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "manifest.json"),
      """{"version":1,"stages":{"lexicon":{"status":"complete",
        |"inputFingerprint":"v5:corpus","rows":3,"wallMs":1,"extra":{}}}}"""
        .stripMargin.getBytes("UTF-8"))
    val cfg = IndexConfig(indexDir = dir, numShards = 2, buildPartitions = 2)
    val e = intercept[IllegalStateException](IndexBuilder.stats(cfg))
    assert(e.getMessage.contains("rebuild this index"))
    val files = (0L until 10L).map(CorpusGen.genFile(_, 42L))
    assert(IndexBuilder.build(spark, files.toDS(), cfg).numDocs == 10)
    assert(IndexBuilder.stats(cfg).numDocs == 10)
  }

  test("each append, refresh and compaction is one manifest version; a build one per stage") {
    val root = TestSpark.tmpDir("graft-manifest-versions")
    val ops = new TableOps(spark, s"$root/tables")
    val files = (0L until 30L).map(CorpusGen.genFile(_, 42L))
    val cfg = IndexConfig(indexDir = s"$root/idx", numShards = 2,
      buildPartitions = 2)
    def version = new Manifest(cfg.indexDir).snapshot().version
    ops.create("t", files.take(20).toDF().coalesce(1))
    val ti = new TableIndexer(spark, ops, cfg)
    ti.create("t", positions = true)
    // five build stages, the positional sidecar, the table sync
    assert(version == 7)
    ops.insert("t", files.drop(20).toDF().coalesce(1))
    ops.delete("t", col("path") === files.head.path)
    ti.refresh("t")
    assert(version == 8)
    val extra = (100L until 104L).map(CorpusGen.genFile(_, 42L))
    IndexBuilder.append(spark, extra.toDS(), cfg, "extra")
    assert(version == 9)
    IndexBuilder.append(spark, extra.toDS(), cfg, "extra") // replay: no-op
    assert(version == 9)
    PositionalIndex.append(spark, extra.toDS(), cfg, "extra",
      baseDocId = IndexBuilder.stats(cfg).numDocs - extra.size)
    assert(version == 10)
    IndexBuilder.compact(spark, cfg)
    assert(version == 11)
    ti.compact("t")
    assert(version == 12)
    assert(IndexBuilder.stats(cfg).numDocs == 29)
  }
}
