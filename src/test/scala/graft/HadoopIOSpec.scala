package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.io.{HadoopIO, LocalIO, TableIO}
import graft.sources.{Catalog, TableOps}

/** The storage seam (SURVEY.md §7.4 / VERDICT r5 #1): the SAME
  * TableOps/Catalog commit protocol running against the Hadoop
  * `FileSystem` API — here via the `file:` scheme (the Hadoop local FS,
  * the same code path a cluster uses for hdfs:// or s3a://), selected
  * automatically by the URI scheme. Everything these tests pin already
  * holds on the java.nio path in TableOpsSpec/CatalogSpec; this suite pins
  * that none of it depends on java.nio being the substrate. */
class HadoopIOSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(tag: String): String =
    "file:" + TestSpark.tmpDir(s"graft-hio-$tag")

  test("TableIO.forPath: URI scheme selects the Hadoop stack, bare paths java.nio") {
    val conf = spark.sessionState.newHadoopConf()
    assert(TableIO.forPath("/tmp/x", conf) eq LocalIO)
    assert(TableIO.forPath("file:/tmp/x", conf).isInstanceOf[HadoopIO])
    assert(TableIO.forPath("hdfs://nn:9000/x", conf).isInstanceOf[HadoopIO])
    assert(TableIO.forPath("s3a://bucket/x", conf).isInstanceOf[HadoopIO])
  }

  test("TableIO contract on the Hadoop impl: atomic write, exclusive claim, list, delete, stat") {
    val root = freshRoot("contract")
    val io = new HadoopIO(spark.sessionState.newHadoopConf())
    io.atomicWrite(s"$root/d/f.txt", "one".getBytes("UTF-8"))
    assert(new String(io.readBytes(s"$root/d/f.txt"), "UTF-8") == "one")
    io.atomicWrite(s"$root/d/f.txt", "two".getBytes("UTF-8")) // replace
    assert(new String(io.readBytes(s"$root/d/f.txt"), "UTF-8") == "two")
    // claim primitive: exactly one winner, token stored
    assert(io.createExclusive(s"$root/d/claim", "tok-a".getBytes("UTF-8")))
    assert(!io.createExclusive(s"$root/d/claim", "tok-b".getBytes("UTF-8")))
    assert(new String(io.readBytes(s"$root/d/claim"), "UTF-8") == "tok-a")
    assert(io.list(s"$root/d").toSet == Set("f.txt", "claim"))
    assert(io.list(s"$root/nope").isEmpty)
    assert(io.size(s"$root/d/f.txt") == 3L)
    assert(io.mtimeMs(s"$root/d/f.txt") > 0L)
    assert(io.isDirectory(s"$root/d") && !io.isDirectory(s"$root/d/f.txt"))
    // rename: into a not-yet-existing dir, never onto an existing path
    io.rename(s"$root/d/f.txt", s"$root/d/moved/g.txt")
    assert(!io.exists(s"$root/d/f.txt"))
    assert(new String(io.readBytes(s"$root/d/moved/g.txt"), "UTF-8") == "two")
    io.atomicWrite(s"$root/d/f.txt", "three".getBytes("UTF-8"))
    intercept[java.io.IOException](io.rename(s"$root/d/f.txt", s"$root/d/moved/g.txt"))
    assert(new String(io.readBytes(s"$root/d/moved/g.txt"), "UTF-8") == "two")
    io.rename(s"$root/d/moved", s"$root/d/moved2") // a whole directory
    assert(io.list(s"$root/d/moved2") == Seq("g.txt"))
    io.deleteRecursively(s"$root/d/moved2")
    assert(io.deleteIfExists(s"$root/d/claim") && !io.deleteIfExists(s"$root/d/claim"))
    io.atomicWrite(s"$root/d/sub/p.parquet", Array[Byte](1))
    assert(io.deleteRecursively(s"$root/d") == 1) // one parquet inside
    assert(!io.exists(s"$root/d"))
  }

  test("full table lifecycle through file:// — create/insert/update/delete/merge/alter/compact/expire/vacuum/views") {
    val root = freshRoot("table")
    val ops = new TableOps(spark, root)
    assert(ops.io.isInstanceOf[HadoopIO])
    ops.create("t", Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "x"))
    ops.insert("t", Seq((3L, "c", 3.0)).toDF("id", "name", "x"))
    assert(ops.read("t").count() == 3)
    ops.update("t", $"id" === 2L, "x", lit(20.0))
    assert(ops.read("t").filter($"id" === 2L).select("x").as[Double].head() == 20.0)
    ops.delete("t", $"id" === 1L)
    assert(ops.read("t").select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    ops.merge("t", Seq((3L, "c2", 30.0), (4L, "d", 4.0)).toDF("id", "name", "x"),
      "id", Seq("name", "x"))
    assert(ops.read("t").orderBy("id").select("name").as[String].collect().toSeq
      == Seq("b", "c2", "d"))
    // lazy ALTER + time travel
    val vBefore = ops.currentVersion("t")
    ops.addColumn("t", "flag", "cast(0 as int)")
    assert(ops.read("t").select("flag").as[Int].collect().forall(_ == 0))
    assert(!ops.readVersion("t", vBefore).columns.contains("flag"))
    ops.dropColumn("t", "flag")
    // transaction: atomic, abort leaves no trace
    val vTx = ops.tx("t") { tx =>
      tx.insert(Seq((5L, "e", 5.0)).toDF("id", "name", "x"))
      tx.update($"id" === 5L, "x", lit(50.0))
    }
    assert(ops.read("t").filter($"id" === 5L).select("x").as[Double].head() == 50.0)
    intercept[TableOps.TransactionAborted] {
      ops.tx("t") { tx => tx.insert(Seq((6L, "f", 6.0)).toDF("id", "name", "x"))
        tx.rollback() }
    }
    assert(ops.currentVersion("t") == vTx)
    // compact + expire + vacuum run through the Hadoop path
    ops.compactTable("t")
    val (expired, _) = ops.expire("t", 2)
    assert(expired > 0)
    assert(ops.vacuum("t", 0L) >= 1) // the aborted tx's staged files
    assert(ops.read("t").count() == 4)
    // views
    ops.createView("big", "t", "SELECT id FROM t WHERE x >= 20.0")
    assert(ops.readView("big").as[Long].collect().sorted.toSeq == Seq(2L, 3L, 5L))
    ops.dropView("big")
    assert(!ops.viewExists("big"))
    assert(ops.listTables() == Seq("t"))
    ops.dropTable("t")
    assert(ops.listTables().isEmpty)
  }

  test("catalog multi-table tx + crash recovery through file://") {
    val root = freshRoot("catalog")
    val cat = new Catalog(spark, root)
    cat.tables.create("a", Seq((1L, 1.0)).toDF("id", "v"))
    cat.tables.create("b", Seq((1L, 1.0)).toDF("id", "v"))
    cat.register("a"); cat.register("b")
    val cv0 = cat.currentCatalogVersion
    cat.tx { t =>
      t.on("a").update($"id" === 1L, "v", lit(2.0))
      t.on("b").insert(Seq((2L, 2.0)).toDF("id", "v"))
    }
    assert(cat.read("a").select("v").as[Double].head() == 2.0)
    assert(cat.read("b").count() == 2)
    assert(cat.readAt(cv0, "b").count() == 1)
    // every crash point of a tx, recovered — on the Hadoop path
    info("crash points: " +
      TableCrashSweep.sweepTx(TableCrashSweep.session(), "file:", foreign = false))
  }
}
