package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.checkpoint.ConcurrentCommitException
import graft.sources.TableOps

/** DML parity surface (reference Insert/Update/Delete, SURVEY.md §2.1) via
  * file-level manifest commits (Iceberg-shaped): mutations write only the
  * files they must; everything else is carried by reference. */
class TableOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Part-file NAMES the CURRENT version references (manifest view) —
    * unlike dataFiles(), which also sees prior versions' immutable files
    * still on disk for time travel. Names carry a write-uuid, so they are
    * unique across versions; comparing names sidesteps file:// vs plain
    * path formatting. */
  private def liveNames(ops: TableOps, table: String): Set[String] =
    ops.read(table).inputFiles.map(_.split('/').last).toSet

  private def dataFiles(root: String, table: String): Set[String] = {
    val base = java.nio.file.Paths.get(root, table, "data")
    if (!java.nio.file.Files.exists(base)) Set.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(_.toString).toSet
    }
  }

  test("create / insert / delete / update with snapshot isolation") {
    val ops = new TableOps(spark, TestSpark.tmpDir("graft-tables"))
    val v0 = ops.create("t", Seq((1L, "a", 10.0), (2L, "b", 20.0))
      .toDF("id", "name", "score"))
    assert(v0 == 0 && ops.read("t").count() == 2)

    val v1 = ops.insert("t", Seq((3L, "c", 30.0)).toDF("id", "name", "score"))
    assert(ops.read("t").count() == 3)

    val v2 = ops.delete("t", col("id") === 2L)
    assert(ops.read("t").select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))

    val v3 = ops.update("t", col("id") === 3L, "score", lit(99.0))
    val scores = ops.read("t").select("id", "score").as[(Long, Double)]
      .collect().toMap
    assert(scores == Map(1L -> 10.0, 3L -> 99.0))

    // time travel: every old snapshot still readable and intact
    assert(ops.readVersion("t", v0).count() == 2)
    assert(ops.readVersion("t", v1).count() == 3)
    assert(ops.readVersion("t", v2).count() == 2)
    assert(v3 == 3 && ops.currentVersion("t") == 3)
  }

  test("INSERT is file-level: old data files are never rewritten or touched") {
    val root = TestSpark.tmpDir("graft-tables-filelevel")
    val ops = new TableOps(spark, root)
    ops.create("t", (1L to 1000L).toDF("id").withColumn("grp", lit("base"))
      .repartition(4))
    val before = dataFiles(root, "t")
    assert(before.size >= 4, s"expected multi-file table, got ${before.size}")
    val mtimes = before.map(p =>
      p -> java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(p))).toMap

    ops.insert("t", Seq((2000L, "new")).toDF("id", "grp"))
    val after = dataFiles(root, "t")
    // every pre-existing file still present and untouched; only the new
    // rows' file(s) were added — the O(new rows) commit
    assert(before.subsetOf(after))
    before.foreach { p =>
      assert(java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(p)) == mtimes(p), s"insert rewrote $p")
    }
    assert((after -- before).size <= 2, "insert wrote more than the new rows")
    assert(ops.read("t").count() == 1001)
  }

  test("DELETE/UPDATE rewrite only the files containing matches") {
    val root = TestSpark.tmpDir("graft-tables-cow")
    val ops = new TableOps(spark, root)
    // two disjoint key ranges written as separate commits → separate files
    ops.create("t", (1L to 100L).toDF("id").withColumn("v", lit(1.0)).coalesce(1))
    ops.insert("t", (1000L to 1100L).toDF("id").withColumn("v", lit(1.0)).coalesce(1))
    val before = dataFiles(root, "t")
    val lowFiles = before.filter(p =>
      spark.read.parquet(p).agg(max($"id")).as[Long].head() <= 100L)
    assert(lowFiles.nonEmpty && lowFiles.size < before.size)

    // delete touches only the high range → low-range files carried as-is
    ops.delete("t", $"id" >= 1000L && $"id" < 1050L)
    val after = dataFiles(root, "t")
    assert(lowFiles.subsetOf(after), "delete rewrote unaffected files")
    assert(ops.read("t").count() == 100 + 51)

    // update touches only the low range → surviving high-range files kept
    val highAfter = after -- lowFiles
    ops.update("t", $"id" <= 50L, "v", lit(9.0))
    val after2 = dataFiles(root, "t")
    assert(highAfter.subsetOf(after2), "update rewrote unaffected files")
    assert(ops.read("t").filter($"v" === 9.0).count() == 50)
  }

  test("ALTER ADD COLUMN is lazy: manifest-only, default filled on read, migrated on write") {
    val root = TestSpark.tmpDir("graft-tables-evolve")
    val ops = new TableOps(spark, root)
    ops.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    val before = dataFiles(root, "t")

    ops.addColumn("t", "tag", "'none'")
    // LAZY: no data written — the alter is a manifest (DESIGN.md:21-76)
    assert(dataFiles(root, "t") == before, "ALTER rewrote data")
    val afterAlter = ops.read("t").select("id", "tag").as[(Long, String)]
      .collect().toMap
    assert(afterAlter == Map(1L -> "none", 2L -> "none"))
    // old snapshot keeps the old schema
    assert(!ops.readVersion("t", 0).columns.contains("tag"))

    // next write materializes the evolved layout for the rows it writes
    ops.insert("t", Seq((3L, "c", "fresh")).toDF("id", "name", "tag"))
    val after = ops.read("t").select("id", "tag").as[(Long, String)]
      .collect().toMap
    assert(after == Map(1L -> "none", 2L -> "none", 3L -> "fresh"))

    // a rewrite that touches the old files materializes the filled column
    ops.update("t", $"id" === 1L, "name", lit("A"))
    val all = ops.read("t").select("id", "name", "tag").as[(Long, String, String)]
      .collect().toSet
    assert(all == Set((1L, "A", "none"), (2L, "b", "none"), (3L, "c", "fresh")))
  }

  test("ALTER DROP COLUMN is lazy and symmetric: projection-only, time travel keeps it") {
    val root = TestSpark.tmpDir("graft-tables-drop")
    val ops = new TableOps(spark, root)
    val v0 = ops.create("t", Seq((1L, "a", 1.5), (2L, "b", 2.5))
      .toDF("id", "name", "score"))
    val before = dataFiles(root, "t")

    val vDrop = ops.dropColumn("t", "name")
    assert(dataFiles(root, "t") == before, "DROP rewrote data")
    assert(ops.read("t").columns.toSeq == Seq("id", "score"))
    // the old snapshot still exposes the dropped column (lazy = physical
    // data untouched, projection-level delta only)
    assert(ops.readVersion("t", v0).columns.contains("name"))

    // subsequent DML operates on the narrowed schema; rewritten files
    // physically shed the column
    ops.insert("t", Seq((3L, 3.5)).toDF("id", "score"))
    ops.update("t", $"id" === 1L, "score", lit(9.9))
    assert(ops.read("t").columns.toSeq == Seq("id", "score"))
    assert(ops.read("t").count() == 3)
    assert(vDrop == 1)
  }

  test("optimistic concurrency: conflicting writers cannot silently lose updates") {
    val root = TestSpark.tmpDir("graft-tables-occ")
    val ops = new TableOps(spark, root)
    ops.create("t", Seq((1L, 1.0)).toDF("id", "v"))
    // another writer commits version 1 (claims its manifest): simulate
    // with a second TableOps instance racing ahead
    val other = new TableOps(spark, root)
    other.insert("t", Seq((2L, 2.0)).toDF("id", "v"))
    assert(ops.currentVersion("t") == 1)
    // a writer that computed against the stale base and tries to commit the
    // same version number must FAIL, not overwrite
    intercept[ConcurrentCommitException] {
      ops.tx("t") { tx =>
        tx.insert(Seq((3L, 3.0)).toDF("id", "v"))
        other.insert("t", Seq((4L, 4.0)).toDF("id", "v"))
      }
    }
    assert(ops.read("t").count() == 3)
    // a version claimed by an unpublished multi-table transaction: the
    // reader stops before it, a writer fails at once and names it
    val v3 = java.nio.file.Paths.get(root, "t", "manifest-v3.json")
    java.nio.file.Files.write(v3, new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "t", "manifest-v2.json")), "UTF-8")
      .replaceFirst("\\{", "{\"pending\":\"txn-1\",").getBytes("UTF-8"))
    assert(ops.currentVersion("t") == 2)
    val e = intercept[ConcurrentCommitException] {
      ops.insert("t", Seq((5L, 5.0)).toDF("id", "v"))
    }
    assert(e.getMessage.contains("txn-1") && e.getMessage.contains("Catalog.recover()"))
    java.nio.file.Files.delete(v3)
    ops.insert("t", Seq((5L, 5.0)).toDF("id", "v"))
    assert(ops.read("t").count() == 4)

    // crash between the claim and the pointer move: pointer lags, but the
    // commit is durable — currentVersion rolls forward
    val marker = java.nio.file.Paths.get(root, "t", "current")
    java.nio.file.Files.write(marker, "1".getBytes("UTF-8"))
    assert(ops.currentVersion("t") == 3, "roll-forward failed")
    assert(ops.read("t").count() == 4)
  }

  test("a table in the older claim-file layout stays readable and writable") {
    // that layout committed version N as an empty `commits/vN` claim, then
    // `manifest-vN.json`, then `current`; the manifests are the same bytes
    val root = TestSpark.tmpDir("graft-tables-oldlayout")
    val ops = new TableOps(spark, root)
    ops.create("t", Seq((1L, 1.0)).toDF("id", "v"))
    ops.insert("t", Seq((2L, 2.0)).toDF("id", "v"))
    ops.update("t", $"id" === 1L, "v", lit(10.0))
    val commits = java.nio.file.Paths.get(root, "t", "commits")
    java.nio.file.Files.createDirectories(commits)
    (0 to 2).foreach(v => java.nio.file.Files.createFile(commits.resolve(s"v$v")))
    val old = new TableOps(spark, root)
    assert(old.currentVersion("t") == 2)
    assert(old.read("t").as[(Long, Double)].collect().toMap ==
      Map(1L -> 10.0, 2L -> 2.0))
    assert(old.readVersion("t", 1).as[(Long, Double)].collect().toMap ==
      Map(1L -> 1.0, 2L -> 2.0))
    assert(old.insert("t", Seq((3L, 3.0)).toDF("id", "v")) == 3)
    assert(old.read("t").count() == 3)
    assert(old.expire("t", 2)._1 == 2)
    assert(old.readVersion("t", 2).count() == 2 && old.read("t").count() == 3)
    intercept[IllegalArgumentException](old.readVersion("t", 1))
  }

  test("expire drops old versions + their files; the kept window stays exact") {
    val root = TestSpark.tmpDir("graft-tables-expire")
    val ops = new TableOps(spark, root)
    // v0: one file; v1: +insert file; v2: update rewrites v0's file
    // (so after expiring v0/v1, the ORIGINAL v0 file is unreferenced while
    // v1's insert file is still shared by kept manifests — refcounting)
    ops.create("t", (1L to 100L).toDF("id").withColumn("v", lit(1.0)).coalesce(1))
    ops.insert("t", (1000L to 1049L).toDF("id").withColumn("v", lit(1.0)).coalesce(1))
    ops.update("t", $"id" <= 10L, "v", lit(2.0))
    val v3 = ops.insert("t", Seq((5000L, 3.0)).toDF("id", "v"))
    assert(v3 == 3)
    val before = dataFiles(root, "t")

    val (expired, deleted) = ops.expire("t", 2) // keep v2, v3
    assert(expired == 2, s"expected 2 expired manifests, got $expired")
    assert(deleted >= 1, "the superseded v0 file should have been deleted")
    // expired versions unreadable; kept window exact (incl. time travel)
    intercept[IllegalArgumentException] { ops.readVersion("t", 0) }
    intercept[IllegalArgumentException] { ops.readVersion("t", 1) }
    assert(ops.readVersion("t", 2).count() == 150)
    assert(ops.read("t").count() == 151)
    assert(ops.read("t").filter($"v" === 2.0).count() == 10)
    assert(dataFiles(root, "t").subsetOf(before))
    // further commits work after expiration
    ops.insert("t", Seq((6000L, 4.0)).toDF("id", "v"))
    assert(ops.currentVersion("t") == 4 && ops.read("t").count() == 152)
  }

  test("vacuum removes orphaned writer dirs, never referenced files") {
    val root = TestSpark.tmpDir("graft-tables-vacuum")
    val ops = new TableOps(spark, root)
    ops.create("t", Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
    val referenced = dataFiles(root, "t")
    // fabricate the debris of a crashed / OCC-losing writer: a uuid data
    // dir whose files no manifest references
    val orphan = java.nio.file.Paths.get(root, "t", "data", "v9-deadbeef")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("part-00000.parquet"),
      Array[Byte](1, 2, 3))
    // a nested _temporary dir (crashed Spark write debris) must not abort
    // the sweep with DirectoryNotEmptyException
    val nested = orphan.resolve("_temporary")
    java.nio.file.Files.createDirectories(nested)
    java.nio.file.Files.write(nested.resolve("task-0.parquet"),
      Array[Byte](4, 5))
    // DEFAULT age guard (24 h): a fresh orphan is NOT swept — the unsafe-
    // default orientation of r4 (0 ms) would delete an in-flight writer's
    // staged files
    assert(ops.vacuum("t") == 0)
    assert(java.nio.file.Files.exists(orphan))
    // explicit 0 age (tests / quiesced maintenance window) sweeps it,
    // recursively (both parquet files counted)
    assert(ops.vacuum("t", 0L) == 2)
    assert(!java.nio.file.Files.exists(orphan))
    assert(dataFiles(root, "t") == referenced, "vacuum touched live files")
    assert(ops.read("t").count() == 2)
    // idempotent
    assert(ops.vacuum("t", 0L) == 0)
  }

  test("expire never deletes files it does not own: orphans are vacuum's business") {
    val root = TestSpark.tmpDir("graft-tables-expire-orphan")
    val ops = new TableOps(spark, root)
    ops.create("t", (1L to 50L).toDF("id").withColumn("v", lit(1.0)).coalesce(1))
    ops.update("t", $"id" <= 10L, "v", lit(2.0)) // v1 rewrites v0's file
    // fabricate an IN-FLIGHT writer's staged (not yet referenced) files —
    // r4's expire would have deleted these, losing a live writer's commit
    val inflight = java.nio.file.Paths.get(root, "t", "data", "v2-cafebabe")
    java.nio.file.Files.createDirectories(inflight)
    java.nio.file.Files.write(inflight.resolve("part-00000.parquet"),
      Array[Byte](9))
    val (expired, deleted) = ops.expire("t", 1)
    assert(expired == 1 && deleted >= 1)
    assert(java.nio.file.Files.exists(inflight.resolve("part-00000.parquet")),
      "expire deleted an in-flight writer's staged file")
    assert(ops.read("t").count() == 50)
  }

  test("transaction: all operations commit as ONE version, abort/crash leaves no trace") {
    val root = TestSpark.tmpDir("graft-tables-tx")
    val ops = new TableOps(spark, root)
    ops.create("t", (1L to 100L).toDF("id").withColumn("v", lit(1.0)))
    assert(ops.currentVersion("t") == 0)

    // the TPC-C NewOrder shape: insert + update + delete, atomic
    val v = ops.tx("t") { tx =>
      tx.insert((200L to 249L).toDF("id").withColumn("v", lit(1.0)))
      tx.update($"id" >= 200L, "v", lit(5.0)) // sees the insert (RYW)
      tx.delete($"id" <= 10L)
    }
    assert(v == 1 && ops.currentVersion("t") == 1,
      "three operations must publish exactly one version")
    val state = ops.read("t").select("id", "v").as[(Long, Double)]
      .collect().toMap
    assert(state.size == 140)
    assert(state(200L) == 5.0 && state(50L) == 1.0 && !state.contains(5L))
    // time travel: the pre-tx snapshot is intact
    assert(ops.readVersion("t", 0).count() == 100)

    // mid-transaction read sees staged work, other readers do not
    intercept[TableOps.TransactionAborted] {
      ops.tx("t") { tx =>
        tx.insert(Seq((999L, 9.0)).toDF("id", "v"))
        assert(tx.read().filter($"id" === 999L).count() == 1)
        assert(ops.read("t").filter($"id" === 999L).count() == 0,
          "uncommitted staged rows visible to outside readers")
        tx.rollback()
      }
    }
  }

  test("transaction abort and mid-tx crash: invisible, staged files vacuumable") {
    val root = TestSpark.tmpDir("graft-tables-txabort")
    val ops = new TableOps(spark, root)
    ops.create("t", (1L to 20L).toDF("id").withColumn("v", lit(1.0)))
    val before = dataFiles(root, "t")

    intercept[TableOps.TransactionAborted] {
      ops.tx("t") { tx =>
        tx.insert((100L to 120L).toDF("id").withColumn("v", lit(2.0)))
        tx.rollback()
      }
    }
    // a crash mid-body is the same shape as any exception
    intercept[RuntimeException] {
      ops.tx("t") { tx =>
        tx.insert((300L to 320L).toDF("id").withColumn("v", lit(3.0)))
        tx.update($"id" >= 300L, "v", lit(4.0))
        sys.error("simulated crash between operations")
      }
    }
    assert(ops.currentVersion("t") == 0, "aborted tx published a version")
    assert(ops.read("t").count() == 20)
    // staged files are on disk (orphans) but invisible; vacuum reclaims
    assert(dataFiles(root, "t") != before, "expected staged orphan files")
    assert(ops.vacuum("t", 0L) >= 2)
    assert(dataFiles(root, "t") == before)
    assert(ops.read("t").count() == 20)
  }

  test("transaction commit is OCC: a racing committed writer fails the whole tx") {
    val root = TestSpark.tmpDir("graft-tables-txocc")
    val ops = new TableOps(spark, root)
    ops.create("t", Seq((1L, 1.0)).toDF("id", "v"))
    intercept[ConcurrentCommitException] {
      ops.tx("t") { tx =>
        tx.insert(Seq((2L, 2.0)).toDF("id", "v"))
        // another writer commits the version this tx is targeting
        new TableOps(spark, root).insert("t", Seq((3L, 3.0)).toDF("id", "v"))
      }
    }
    // the racing writer's commit survives; the tx's work does not
    assert(ops.read("t").select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L))
  }

  test("merge: matched keys update in place, unmatched insert, untouched files untouched") {
    val root = TestSpark.tmpDir("graft-tables-merge")
    val ops = new TableOps(spark, root)
    // two known file-groups: keys 1-100 and 1000-1100
    ops.create("t", (1L to 100L).toDF("id")
      .withColumn("v", lit(1.0)).withColumn("tag", lit("a")).coalesce(1))
    ops.insert("t", (1000L to 1100L).toDF("id")
      .withColumn("v", lit(1.0)).withColumn("tag", lit("a")).coalesce(1))
    val before = dataFiles(root, "t")
    val untouched = before.filter(_.contains("/v0-")) // group 1's file

    // source: updates keys 1000-1019 (second group only) + inserts 5000-5009
    val source = ((1000L to 1019L) ++ (5000L to 5009L)).toDF("id")
      .withColumn("v", lit(7.0)).withColumn("tag", lit("m"))
    val v = ops.merge("t", source, "id", Seq("v", "tag"))
    assert(v == 2)
    val state = ops.read("t").select("id", "v", "tag")
      .as[(Long, Double, String)].collect()
    assert(state.length == 211)
    val m = state.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(1000L) == ((7.0, "m")) && m(5005L) == ((7.0, "m")))
    assert(m(50L) == ((1.0, "a")) && m(1050L) == ((1.0, "a")))
    // file-pruned copy-on-write: the unmatched group's file was carried
    assert(untouched.subsetOf(dataFiles(root, "t")),
      "merge rewrote a file with no matched keys")
    // NULL source values must WIN on matched rows (not coalesce semantics)
    ops.merge("t", Seq((1000L, 0.0)).toDF("id", "v")
      .withColumn("tag", lit(null).cast("string")), "id", Seq("tag"))
    assert(ops.read("t").filter($"id" === 1000L).select("tag")
      .as[String].collect().head == null)
    // SQL MERGE cardinality rule: duplicate source keys are an error
    intercept[IllegalArgumentException] {
      ops.merge("t", Seq((1L, 1.0, "x"), (1L, 2.0, "y"))
        .toDF("id", "v", "tag"), "id", Seq("v"))
    }
    // insert-only merge (no setCols): matched rows are no-ops, NO file is
    // rewritten — only the unmatched row appends
    val preIns = dataFiles(root, "t")
    val nPre = ops.read("t").count()
    ops.merge("t", Seq((50L, 0.0, "z"), (7777L, 1.0, "n"))
      .toDF("id", "v", "tag"), "id", Seq.empty)
    assert(preIns.subsetOf(dataFiles(root, "t")),
      "insert-only merge rewrote an existing file")
    assert(ops.read("t").count() == nPre + 1)
    assert(ops.read("t").filter($"id" === 50L).select("v")
      .as[Double].collect().head == 1.0, "insert-only merge changed a matched row")
  }

  test("truncate commits the empty state; drop removes the table entirely") {
    val root = TestSpark.tmpDir("graft-tables-dropdir")
    val ops = new TableOps(spark, root)
    ops.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    val vT = ops.truncate("t")
    assert(ops.read("t").count() == 0)
    assert(ops.read("t").columns.toSeq == Seq("id", "name"), "truncate lost the schema")
    assert(ops.readVersion("t", vT - 1).count() == 2, "truncate destroyed history")
    // the table still accepts writes
    ops.insert("t", Seq((3L, "c")).toDF("id", "name"))
    assert(ops.read("t").count() == 1)

    assert(ops.listTables() == Seq("t"))
    ops.dropTable("t")
    assert(ops.listTables().isEmpty)
    intercept[IllegalArgumentException] { ops.read("t") }
    intercept[IllegalArgumentException] { ops.dropTable("t") } // gone
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "t")))
    // a dangling view fails on read, create can reuse the name
    ops.create("t", Seq((9L, "z")).toDF("id", "name"))
    assert(ops.read("t").count() == 1 && ops.currentVersion("t") == 0)
  }

  test("idempotent ingest: a replayed batch is skipped, the ingest watermark survives other commits") {
    val root = TestSpark.tmpDir("graft-tables-ingest")
    val ops = new TableOps(spark, root)
    ops.create("t", Seq((0L, 0.0)).toDF("id", "v"))
    assert(ops.insertIdempotent("t", Seq((1L, 1.0)).toDF("id", "v"), "src", 0L) == 1)
    // exact replay of batch 0: skipped, no version published
    assert(ops.insertIdempotent("t", Seq((1L, 1.0)).toDF("id", "v"), "src", 0L) == 1)
    assert(ops.currentVersion("t") == 1 && ops.read("t").count() == 2)
    // an unrelated commit in between must not lose the recorded watermark
    ops.insert("t", Seq((50L, 5.0)).toDF("id", "v"))
    assert(ops.insertIdempotent("t", Seq((1L, 1.0)).toDF("id", "v"), "src", 0L) == 2,
      "replay after an unrelated commit was not skipped")
    // the next batch applies; an independent source has its own watermark
    assert(ops.insertIdempotent("t", Seq((2L, 2.0)).toDF("id", "v"), "src", 1L) == 3)
    assert(ops.insertIdempotent("t", Seq((3L, 3.0)).toDF("id", "v"), "other", 0L) == 4)
    assert(ops.read("t").count() == 5)
  }

  test("ingest watermark survives ALTER: a post-schema-change replay is still skipped") {
    val root = TestSpark.tmpDir("graft-tables-ingestalter")
    val ops = new TableOps(spark, root)
    ops.create("t", Seq((0L, 0.0)).toDF("id", "v"))
    ops.insertIdempotent("t", Seq((1L, 1.0)).toDF("id", "v"), "src", 0L)
    // the old addColumn built a FRESH manifest and silently dropped props —
    // a replay after a schema change would then double-insert
    ops.addColumn("t", "tag", "'x'")
    val vAfter = ops.currentVersion("t")
    assert(ops.insertIdempotent("t", Seq((1L, 1.0, "x")).toDF("id", "v", "tag"),
      "src", 0L) == vAfter, "replay after ALTER was not skipped")
    assert(ops.read("t").count() == 2)
  }

  test("DDL inside a transaction: add + backfill + publish atomically") {
    val root = TestSpark.tmpDir("graft-tables-txddl")
    val ops = new TableOps(spark, root)
    ops.create("t", Seq((1L, 10.0), (2L, 200.0)).toDF("id", "v"))
    ops.tx("t") { tx =>
      tx.addColumn("band", "'unknown'")
      tx.update($"v" > 100.0, "band", lit("high")) // backfill in the same tx
      tx.dropColumn("v")
    }
    assert(ops.currentVersion("t") == 1)
    assert(ops.read("t").columns.toSeq == Seq("id", "band"))
    val m = ops.read("t").as[(Long, String)].collect().toMap
    assert(m == Map(1L -> "unknown", 2L -> "high"))
    // pre-tx snapshot unchanged: old schema, no band
    assert(ops.readVersion("t", 0).columns.toSeq == Seq("id", "v"))
  }

  test("merge inside a transaction stages against the working state, atomic with the rest") {
    val root = TestSpark.tmpDir("graft-tables-txmerge")
    val ops = new TableOps(spark, root)
    ops.create("t", Seq((1L, 1.0), (2L, 1.0)).toDF("id", "v"))
    ops.tx("t") { tx =>
      tx.insert(Seq((3L, 1.0)).toDF("id", "v"))
      // merge sees the in-tx insert: key 3 matches (update), key 4 inserts
      tx.merge(Seq((3L, 9.0), (4L, 9.0)).toDF("id", "v"), "id", Seq("v"))
    }
    assert(ops.currentVersion("t") == 1)
    val m = ops.read("t").as[(Long, Double)].collect().toMap
    assert(m == Map(1L -> 1.0, 2L -> 1.0, 3L -> 9.0, 4L -> 9.0))
  }

  test("compaction bin-packs small files; data identical; time travel + expire intact") {
    val root = TestSpark.tmpDir("graft-tables-compact")
    val ops = new TableOps(spark, root)
    ops.create("t", (1L to 100L).toDF("id").withColumn("v", lit(1.0)).coalesce(2))
    ops.insert("t", (200L to 299L).toDF("id").withColumn("v", lit(2.0)).coalesce(2))
    ops.insert("t", (400L to 499L).toDF("id").withColumn("v", lit(3.0)).coalesce(2))
    // lazy ADD: compaction must materialize the fill in the packed files
    ops.addColumn("t", "tag", "'x'")
    val vPre = ops.currentVersion("t")
    val beforeState = ops.read("t").select("id", "v", "tag")
      .as[(Long, Double, String)].collect().toSet
    val beforeFiles = dataFiles(root, "t")
    assert(beforeFiles.size == 6)

    val vC = ops.compactTable("t") // default 128 MB target: all are small
    assert(vC == vPre + 1)
    val afterState = ops.read("t").select("id", "v", "tag")
      .as[(Long, Double, String)].collect().toSet
    assert(afterState == beforeState, "compaction changed the data")
    // the new version reads exactly ONE consolidated file
    val newFiles = dataFiles(root, "t") -- beforeFiles
    assert(newFiles.size == 1, s"expected 1 packed file, got ${newFiles.size}")
    // old files still on disk: prior versions keep reading them
    assert(beforeFiles.subsetOf(dataFiles(root, "t")))
    assert(ops.readVersion("t", vPre).count() == 300)
    // idempotent: a single at-target file-set has nothing to bin-pack
    assert(ops.compactTable("t") == vC)
    // expire reclaims the superseded small files
    val (_, deleted) = ops.expire("t", 1)
    assert(deleted == 6, s"expire should reclaim the 6 small files, got $deleted")
    assert(ops.read("t").select("id", "v", "tag")
      .as[(Long, Double, String)].collect().toSet == beforeState)
  }

  test("sort-clustered compaction: disjoint file ranges make later mutations prune") {
    val root = TestSpark.tmpDir("graft-tables-sortcompact")
    val ops = new TableOps(spark, root)
    // interleaved inserts: every file spans the whole key range, so BEFORE
    // clustering a narrow-range update must rewrite everything
    ops.create("t", (1L to 400L by 4).toDF("id").withColumn("v", lit(1.0)).coalesce(1))
    ops.insert("t", (2L to 400L by 4).toDF("id").withColumn("v", lit(1.0)).coalesce(1))
    ops.insert("t", (3L to 400L by 4).toDF("id").withColumn("v", lit(1.0)).coalesce(1))
    ops.insert("t", (4L to 400L by 4).toDF("id").withColumn("v", lit(1.0)).coalesce(1))
    val beforeState = ops.read("t").select("id", "v").as[(Long, Double)]
      .collect().toSet

    // cluster on id into ~4 range files (tiny target forces the split)
    val vC = ops.compactTable("t", targetFileBytes = 2048, sortBy = Seq("id"))
    assert(vC == 4)
    assert(ops.read("t").select("id", "v").as[(Long, Double)]
      .collect().toSet == beforeState, "sorted compaction changed the data")
    val clustered = dataFiles(root, "t").filter(_.contains(s"/v$vC-"))
    assert(clustered.size >= 3, s"expected >=3 range files, got ${clustered.size}")

    // the payoff: a narrow-range update rewrites ONLY the file(s) whose
    // min/max overlap the predicate — the rest are CARRIED into the new
    // manifest (liveFiles = what the current version references; plain
    // on-disk presence would be vacuous, old versions keep their files)
    ops.update("t", $"id" <= 20L, "v", lit(2.0))
    val live = liveNames(ops, "t")
    val carried = clustered.count(c => live.contains(c.split('/').last))
    assert(carried >= clustered.size - 1,
      s"narrow update rewrote ${clustered.size - carried} of ${clustered.size} " +
        "clustered files — range pruning did not land")
    assert(ops.read("t").filter($"v" === 2.0).count() == 20)
  }

  test("z-order compaction: predicates on EITHER dimension prune files") {
    val root = TestSpark.tmpDir("graft-tables-zorder")
    val ops = new TableOps(spark, root)
    // 2-D grid: every insert spans both dimensions fully, so before
    // clustering nothing prunes on either
    val grid = for { x <- 0L until 64L; y <- 0L until 64L } yield (x, y)
    ops.create("t", grid.toDF("x", "y").withColumn("v", lit(1.0)).coalesce(1))
    val before = ops.read("t").select("x", "y", "v").as[(Long, Long, Double)]
      .collect().toSet

    // the RLE-friendly grid compresses to ~2 KB, so a tiny target forces
    // a real multi-file split
    val vZ = ops.compactTable("t", targetFileBytes = 128,
      sortBy = Seq("x", "y"), zorder = true)
    assert(ops.read("t").select("x", "y", "v").as[(Long, Long, Double)]
      .collect().toSet == before, "z-order compaction changed the data")
    val zfiles = dataFiles(root, "t").filter(_.contains(s"/v$vZ-"))
    assert(zfiles.size >= 8, s"need several z-files for pruning, got ${zfiles.size}")

    // the z-property: a narrow slab in x AND a narrow slab in y each
    // overlap only a strict subset of files. A lexicographic (x, y) sort
    // prunes x-slabs but a y-slab overlaps EVERY file — z-order prunes
    // both.
    ops.update("t", $"x" < 8L, "v", lit(2.0))
    val liveX = liveNames(ops, "t")
    val carriedX = zfiles.count(z => liveX.contains(z.split('/').last))
    assert(carriedX > 0 && carriedX < zfiles.size,
      s"x-slab update pruned nothing or everything: $carriedX of ${zfiles.size}")
    assert(ops.read("t").filter($"v" === 2.0).count() == 8 * 64)

    ops.update("t", $"y" < 8L, "v", lit(3.0))
    val liveY = liveNames(ops, "t")
    val carriedY = zfiles.count(z => liveY.contains(z.split('/').last))
    assert(carriedY > 0,
      "y-slab update rewrote every z-file — the second dimension did not prune")
    assert(ops.read("t").filter($"v" === 3.0).count() == 64 * 8)
    assert(ops.read("t").filter($"v" === 2.0).count() == 8 * 56)
  }

  test("views: late-binding over the managed table; drop + replace semantics") {
    val root = TestSpark.tmpDir("graft-tables-views")
    val ops = new TableOps(spark, root)
    ops.create("t", Seq((1L, 10.0), (2L, 200.0)).toDF("id", "v"))
    ops.createView("big", "t", "SELECT id FROM t WHERE v > 100.0")
    assert(ops.readView("big").as[Long].collect().toSeq == Seq(2L))
    // late binding: the view sees rows inserted AFTER its creation
    ops.insert("t", Seq((3L, 300.0)).toDF("id", "v"))
    assert(ops.readView("big").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    // view DDL never touches table manifests / snapshots
    assert(ops.currentVersion("t") == 1)
    assert(ops.readVersion("t", 0).count() == 2)
    // create-without-replace collides; replace succeeds
    intercept[IllegalArgumentException] {
      ops.createView("big", "t", "SELECT id FROM t")
    }
    ops.createView("big", "t", "SELECT id FROM t WHERE v > 250.0", replace = true)
    assert(ops.readView("big").as[Long].collect().toSeq == Seq(3L))
    ops.dropView("big")
    assert(!ops.viewExists("big"))
    intercept[IllegalArgumentException] { ops.readView("big") }
  }

  test("readView leaves a session temp view named like the base table intact") {
    val root = TestSpark.tmpDir("graft-tables-views-clobber")
    val ops = new TableOps(spark, root)
    ops.create("tv", Seq((1L, 10.0), (2L, 200.0)).toDF("id", "v"))
    ops.createView("bigtv", "tv", "SELECT id FROM tv WHERE v > 100.0")
    // a caller's own temp view under the base table's name survives
    Seq((7L, 999.0)).toDF("id", "v").createOrReplaceTempView("tv")
    try {
      assert(ops.readView("bigtv").as[Long].collect().toSeq == Seq(2L))
      assert(spark.table("tv").as[(Long, Double)].collect().toSeq == Seq((7L, 999.0)))
    } finally spark.catalog.dropTempView("tv")
    // with no caller view, readView leaves none behind
    assert(ops.readView("bigtv").as[Long].collect().toSeq == Seq(2L))
    assert(!spark.catalog.tableExists("tv"))
  }

  test("analyze on an empty table yields zero counts, not an NPE") {
    val root = TestSpark.tmpDir("graft-tables-emptystats")
    val ops = new TableOps(spark, root)
    ops.create("t", spark.emptyDataset[(Long, Double)].toDF("id", "v")
      .repartition(1))
    val stats = ops.analyze("t").collect()
    assert(stats.length == 2)
    stats.foreach { r =>
      assert(r.getAs[Long]("n_nulls") == 0L && r.getAs[Long]("ndv") == 0L)
    }
  }

  test("manifest JSON survives quotes/backslashes in defaults (no string interpolation)") {
    val root = TestSpark.tmpDir("graft-tables-json")
    val ops = new TableOps(spark, root)
    ops.create("t", Seq((1L, "a")).toDF("id", "name"))
    // a default whose SQL literal contains an escaped quote — the round-1
    // regex/interpolation manifest silently truncated this
    ops.addColumn("t", "note", "'it\\'s \"quoted\"'")
    val vals = ops.read("t").select("note").as[String].collect().toSeq
    assert(vals == Seq("""it's "quoted""""))
  }

  /** Four single-file inserts with disjoint id ranges — the manifest then
    * carries four files with disjoint per-file id stats. */
  private def rangedTable(tag: String): TableOps = {
    val ops = new TableOps(spark, TestSpark.tmpDir(s"graft-tables-$tag"))
    ops.create("t", (0L until 100L).map(i => (i, s"n$i", i * 1.0))
      .toDF("id", "name", "score").coalesce(1))
    (1 to 3).foreach { k =>
      ops.insert("t", ((k * 100L) until (k * 100L + 100L))
        .map(i => (i, s"n$i", i * 1.0)).toDF("id", "name", "score").coalesce(1))
    }
    ops
  }

  test("selective UPDATE plans from manifest stats: non-matching files are pruned without a scan") {
    val ops = rangedTable("statsprune")
    val before = liveNames(ops, "t")
    assert(before.size == 4)
    ops.update("t", col("id") === 250L, "score", lit(-1.0))
    // metadata pruning kept exactly the one file whose [200,299] range
    // covers 250; the other three were never candidates (no job, no open)
    assert(ops.lastPlanCandidates == 1, s"candidates=${ops.lastPlanCandidates}")
    assert(ops.lastPlanPruned == 3, s"pruned=${ops.lastPlanPruned}")
    val after = liveNames(ops, "t")
    assert((before -- after).size == 1, "exactly one file rewritten")
    assert(ops.read("t").filter(col("id") === 250L).select("score")
      .as[Double].head() == -1.0)
    assert(ops.read("t").count() == 400)
    // a predicate matching nothing prunes EVERYTHING: zero candidates,
    // zero Spark jobs, version still advances with all files carried
    ops.delete("t", col("id") === 10000L)
    assert(ops.lastPlanCandidates == 0 && ops.lastPlanPruned == 4)
    assert(ops.read("t").count() == 400)
    // conjunctions and ranges prune too
    ops.update("t", col("id") >= 350L && col("name") === "n399", "score", lit(0.0))
    assert(ops.lastPlanCandidates == 1 && ops.lastPlanPruned == 3)
  }

  test("MERGE prunes matched-file candidates by the source key range, one source pass") {
    val ops = rangedTable("statsmerge")
    val before = liveNames(ops, "t")
    // source keys all in [120, 130): only the second file can hold matches
    val src = (120L until 130L).map(i => (i, s"m$i", -i * 1.0))
      .toDF("id", "name", "score")
    ops.merge("t", src, "id", Seq("name", "score"))
    assert(ops.lastPlanCandidates == 1, s"candidates=${ops.lastPlanCandidates}")
    assert(ops.lastPlanPruned == 3, s"pruned=${ops.lastPlanPruned}")
    assert((before -- liveNames(ops, "t")).size == 1)
    assert(ops.read("t").filter(col("id") === 125L).select("name")
      .as[String].head() == "m125")
    assert(ops.read("t").count() == 400) // all matched, none inserted
    // the folded cardinality check still fails fast on duplicate keys
    val dup = Seq((1L, "x", 0.0), (1L, "y", 0.0)).toDF("id", "name", "score")
    val e = intercept[IllegalArgumentException] {
      ops.merge("t", dup, "id", Seq("name"))
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("scanWhere: point lookup opens ONLY stat-matching files, incl. after compact+expire") {
    val ops = rangedTable("statslookup")
    val hit = ops.scanWhere("t", col("id") === 42L)
    assert(hit.inputFiles.length == 1, s"opened ${hit.inputFiles.length} files")
    assert(hit.select("name").as[String].head() == "n42")
    assert(ops.lastPlanPruned == 3)
    // range lookup across two files
    val range = ops.scanWhere("t", col("id") >= 190L && col("id") < 210L)
    assert(range.inputFiles.length == 2)
    assert(range.count() == 20)
    // nothing matches → zero files, empty result, schema intact
    val none = ops.scanWhere("t", col("id") === -5L)
    assert(none.inputFiles.length == 0 && none.count() == 0)
    assert(none.columns.toSeq == Seq("id", "name", "score"))
    // string-stats lookups prune as well (names sort n0..n99 per file? no —
    // disjoint per-file ID ranges give overlapping name ranges, so this
    // only pins correctness, not pruning)
    assert(ops.scanWhere("t", col("name") === "n250").count() == 1)
    // after sort-clustered compaction + expire, fresh stats keep pruning
    ops.compactTable("t", targetFileBytes = 4L * 1024, sortBy = Seq("id"))
    ops.expire("t", 1)
    val total = ops.read("t").inputFiles.length
    val one = ops.scanWhere("t", col("id") === 123L)
    assert(total > 1, s"compaction produced $total files")
    assert(one.inputFiles.length == 1)
    assert(one.select("name").as[String].head() == "n123")
  }

  test("writes conform to the table's read schema (SQL column-type contract)") {
    val ops = new TableOps(spark, TestSpark.tmpDir("graft-conform"))
    ops.create("t", Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
    // an insert arriving as int/decimal must adopt bigint/double — files in
    // one manifest group share ONE parquet schema, or a decimal file's
    // unscaled integers would be silently read as doubles
    ops.insert("t", spark.sql("SELECT * FROM VALUES (3, 3.0)").toDF("id", "v"))
    assert(ops.read("t").schema.map(_.dataType.simpleString) ==
      Seq("bigint", "double"))
    // the same inside a transaction, composed with an update over the
    // staged row (the shape that originally read 3.0*10 back as 300.0)
    ops.tx("t") { tx =>
      tx.insert(spark.sql("SELECT * FROM VALUES (4, 4.0)").toDF("id", "v"))
      tx.update(col("id") === 4L, "v", col("v") * 10)
    }
    assert(ops.read("t").orderBy("id").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 40.0)))
    // merge with an int-typed source conforms too
    ops.merge("t", spark.sql("SELECT * FROM VALUES (4, 9.0), (5, 5.0)")
      .toDF("id", "v"), "id", Seq("v"))
    assert(ops.read("t").orderBy("id").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 9.0), (5L, 5.0)))
  }

  test("zero-row part files never enter the manifest; empty state keeps one") {
    val ops = new TableOps(spark, TestSpark.tmpDir("graft-zerorow"))
    // 8 shuffle partitions over 6 rows -> the write produces empty parts
    ops.create("t", spark.range(6).toDF("id").repartition(8))
    def fileRows(table: String): Seq[Long] = {
      val files = ops.read(table).inputFiles.toSeq
      files.map(f => spark.read.parquet(f).count())
    }
    assert(fileRows("t").forall(_ > 0), "create kept a zero-row part file")

    // a DELETE that rewrites a multi-file group down to few rows: every
    // surviving file is non-empty
    ops.delete("t", col("id") >= 1L)
    assert(ops.read("t").as[Long].collect().toSeq == Seq(0L))
    assert(fileRows("t").forall(_ > 0), "mutation kept a zero-row part file")

    // full delete: the empty state stays representable as ONE empty file
    ops.delete("t", col("id") >= 0L)
    assert(ops.read("t").count() == 0)
    assert(fileRows("t") == Seq(0L))
    // and the table keeps working after the empty state
    ops.insert("t", spark.range(3, 5).toDF("id"))
    assert(ops.read("t").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
  }

  test("changes(): net row diff between snapshots, reads only changed files") {
    val ops = new TableOps(spark, TestSpark.tmpDir("graft-changes"))
    // two files so one can stay untouched across the whole DML sequence
    ops.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1))
    ops.insert("t", Seq((3L, "c"), (4L, "d")).toDF("id", "name").coalesce(1))
    val v0 = ops.currentVersion("t") // state: 1a 2b | 3c 4d

    // same-version diff is empty
    assert(ops.changes("t", v0, v0).count() == 0)

    // UPDATE rewrites the (3,4) file; the carried row 4d must NOT surface
    ops.update("t", col("id") === 3L, "name", lit("C"))
    val ch1 = ops.changes("t", v0, ops.currentVersion("t"))
      .as[(Long, String, String)].collect().toSet
    assert(ch1 == Set((3L, "c", "delete"), (3L, "C", "insert")))

    // the diff scan must not open the untouched (1,2) file
    val touched = ops.changes("t", v0, ops.currentVersion("t")).inputFiles
      .map(_.split('/').last).toSet
    // untouched = files carried by reference from v0 into the current
    // manifest (present in both versions)
    val untouchedFile =
      ops.readVersion("t", v0).inputFiles.map(_.split('/').last).toSet
        .intersect(ops.read("t").inputFiles.map(_.split('/').last).toSet)
    assert(untouchedFile.nonEmpty && touched.intersect(untouchedFile).isEmpty,
      s"diff opened untouched files: ${touched.intersect(untouchedFile)}")

    // delete + insert compose; multiset netting stays exact
    ops.delete("t", col("id") === 1L)
    ops.insert("t", Seq((5L, "e")).toDF("id", "name"))
    val ch2 = ops.changes("t", v0, ops.currentVersion("t"))
      .as[(Long, String, String)].collect().toSet
    assert(ch2 == Set((3L, "c", "delete"), (1L, "a", "delete"),
      (3L, "C", "insert"), (5L, "e", "insert")))

    // schema evolution between the versions is a declared boundary
    ops.addColumn("t", "extra", "'x'")
    val err = intercept[IllegalArgumentException] {
      ops.changes("t", v0, ops.currentVersion("t"))
    }
    assert(err.getMessage.contains("schema evolution"))
  }
}
