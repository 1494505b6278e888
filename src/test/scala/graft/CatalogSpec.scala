package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.checkpoint.ConcurrentCommitException
import graft.io.LocalIO
import graft.sources.{Catalog, TableOps}

/** Multi-table atomic transactions through the catalog-level snapshot
  * (Iceberg/Nessie multi-table-commit model; reference
  * transaction_manager.h — one txn spanning every table it touches). */
class CatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(tag: String): Catalog =
    new Catalog(spark, TestSpark.tmpDir(s"graft-catalog-$tag"))

  test("multi-table tx: both tables advance under ONE catalog flip; abort touches nothing") {
    val cat = fresh("basic")
    cat.tables.create("acct", Seq((1L, 100.0), (2L, 50.0)).toDF("id", "bal"))
    cat.tables.create("log", Seq((0L, "init")).toDF("seq", "what"))
    cat.register("acct"); cat.register("log")
    val cv0 = cat.currentCatalogVersion

    // the classic cannot-be-torn shape: debit one table, append to another
    val cv1 = cat.tx { t =>
      t.on("acct").update($"id" === 1L, "bal", lit(75.0))
      t.on("log").insert(Seq((1L, "debit 25")).toDF("seq", "what"))
    }
    assert(cv1 == cv0 + 1)
    assert(cat.read("acct").filter($"id" === 1L).select("bal")
      .as[Double].head() == 75.0)
    assert(cat.read("log").count() == 2)
    // catalog time travel: the PAIR of tables as one consistent snapshot
    assert(cat.readAt(cv0, "acct").filter($"id" === 1L).select("bal")
      .as[Double].head() == 100.0)
    assert(cat.readAt(cv0, "log").count() == 1)

    // abort: neither table nor the catalog moves
    intercept[TableOps.TransactionAborted] {
      cat.tx { t =>
        t.on("acct").update($"id" === 2L, "bal", lit(0.0))
        t.on("log").insert(Seq((2L, "never")).toDF("seq", "what"))
        t.rollback()
      }
    }
    assert(cat.currentCatalogVersion == cv1)
    assert(cat.tables.currentVersion("acct") == 1) // create(v0) + tx(v1) only
    assert(cat.tables.currentVersion("log") == 1)
    assert(cat.read("acct").filter($"id" === 2L).select("bal")
      .as[Double].head() == 50.0)
    assert(cat.read("log").count() == 2)
    // staged orphans from the abort are vacuumable
    assert(cat.tables.vacuum("acct", 0L) + cat.tables.vacuum("log", 0L) >= 1)

    // catalog-history expiration: old snapshots become unreadable, the
    // current one (and the tables) are untouched
    assert(cat.expireCatalog(1) == cv1.toInt)
    intercept[IllegalArgumentException] { cat.readAt(cv0, "acct") }
    assert(cat.read("acct").count() == 2 && cat.read("log").count() == 2)
    assert(cat.expireCatalog(1) == 0) // idempotent

    // unregister removes the NAME, not the table; the pre-unregister
    // snapshot still maps it (catalog time travel)
    assert(cat.listTables().keySet == Set("acct", "log"))
    val cvU = cat.unregister("log")
    assert(cat.listTables().keySet == Set("acct"))
    intercept[IllegalArgumentException] { cat.read("log") }
    assert(cat.readAt(cvU - 1, "log").count() == 2)
    assert(cat.tables.read("log").count() == 2, "unregister touched the table")
    intercept[IllegalArgumentException] { cat.unregister("log") }
  }

  /** A two-table catalog plus the tx body used by every crash test. */
  private def crashFixture(tag: String): (Catalog, String) = {
    val root = TestSpark.tmpDir(s"graft-catalog-$tag")
    val cat = new Catalog(spark, root)
    cat.tables.create("a", Seq((1L, 1.0)).toDF("id", "v"))
    cat.tables.create("b", Seq((1L, 1.0)).toDF("id", "v"))
    cat.register("a"); cat.register("b")
    (cat, root)
  }

  /** Run the crash tests' transaction on the catalog at `root`, crashing
    * at its first storage operation `op` on a path under `root/prefix`. */
  private def crashAt(root: String, op: String, prefix: String): Unit = {
    var hit = false
    val (_, crashed) = FaultInjection.run(root, (_, o, path) =>
      !hit && o == op && path.startsWith(s"$root/$prefix") && { hit = true; true }) {
      new Catalog(spark, root, FaultInjection.wrap(LocalIO)).tx { t =>
        t.on("a").update($"id" === 1L, "v", lit(2.0))
        t.on("b").update($"id" === 1L, "v", lit(2.0))
      }
    }
    assert(crashed)
  }

  private def bothRead(cat: Catalog): (Double, Double) =
    (cat.read("a").select("v").as[Double].head(),
      cat.read("b").select("v").as[Double].head())

  test("crash after publish, before the flip: recover() rolls FORWARD") {
    val (cat, root) = crashFixture("crash-before-flip")
    val cv = cat.currentCatalogVersion
    crashAt(root, "createExclusive", "_catalog/cat-v")
    // the catalog is CONSISTENT at the old snapshot (both tables old)
    assert(cat.currentCatalogVersion == cv)
    assert(bothRead(cat) == ((1.0, 1.0)))
    assert(cat.recover() == ((1, 0)))
    assert(bothRead(cat) == ((2.0, 2.0)))
    assert(cat.recover() == ((0, 0))) // idempotent
  }

  test("crash mid-publish (one manifest landed): recover() completes the other from redo content") {
    val (cat, root) = crashFixture("crash-mid-publish")
    crashAt(root, "atomicWrite", "b/manifest-v") // a published, b only claimed
    assert(bothRead(cat) == ((1.0, 1.0)))
    assert(cat.recover() == ((1, 0)))
    assert(bothRead(cat) == ((2.0, 2.0)))
    // both tables are per-table durable too
    assert(cat.tables.read("b").select("v").as[Double].head() == 2.0)
  }

  test("crash mid-claims (no manifest published): recover() rolls BACK and frees the claims") {
    val (cat, root) = crashFixture("crash-mid-claims")
    crashAt(root, "createExclusive", "b/manifest-v") // a claimed, b not
    assert(cat.recover() == ((0, 1)))
    assert(bothRead(cat) == ((1.0, 1.0)))
    // the released claim doesn't block new writers on either table
    cat.tables.insert("a", Seq((2L, 9.0)).toDF("id", "v"))
    cat.tables.insert("b", Seq((2L, 9.0)).toDF("id", "v"))
    assert(cat.tables.read("a").count() == 2)
    assert(cat.tables.read("b").count() == 2)
  }

  test("crash after the flip, before intent delete: recover() just drops the intent") {
    val (cat, root) = crashFixture("crash-post-flip")
    val cv = cat.currentCatalogVersion
    crashAt(root, "deleteIfExists", "_catalog/intents/")
    assert(cat.currentCatalogVersion == cv + 1)
    assert(bothRead(cat) == ((2.0, 2.0)))
    assert(cat.recover() == ((1, 0))) // already covered — no second flip
    assert(cat.currentCatalogVersion == cv + 1)
    assert(bothRead(cat) == ((2.0, 2.0)))
  }

  test("foreign commit at the intended version: recover() never adopts another writer's content") {
    val (cat, root) = crashFixture("crash-foreign")
    crashAt(root, "createExclusive", "a/manifest-v") // intent durable, NOTHING claimed
    // an unrelated writer now takes the very version numbers the dead
    // transaction intended — recover must not flip the catalog onto it
    cat.tables.insert("a", Seq((7L, 7.0)).toDF("id", "v"))
    assert(cat.recover() == ((0, 1)))
    // catalog still maps the pre-transaction snapshot of BOTH tables
    assert(bothRead(cat) == ((1.0, 1.0)))
    assert(cat.read("a").count() == 1)
    // the foreign commit is per-table durable, untouched by recovery
    assert(cat.tables.read("a").count() == 2)
  }

  test("concurrent writers: OCC aborts retry to a deterministic final state (TPC-C payment loop)") {
    val cat = fresh("concurrent")
    val tpcc = new graft.workload.Tpcc(spark, cat)
    tpcc.setup()
    // 4 threads × 3 payments, every one hitting the same three tables —
    // the catalog/table version claims serialize them, so concurrent
    // commits MUST conflict and the losers MUST rerun (the reference's
    // abort-and-restart loop, transaction_manager.h Abort)
    val threads = 4; val per = 3
    val amt = (ti: Int, i: Int) => (ti * per + i + 1).toDouble
    val (n, retries, _) = tpcc.runConcurrentPayments(threads, per, amt)
    assert(n == threads * per)
    assert(retries > 0, "no OCC conflict in 4 concurrent writers — claims not serializing?")

    // final state is DETERMINISTIC (addition commutes across interleavings)
    val ks = (0 until threads * per).map(_.toLong)
    val amts = ks.map(k => k.toDouble + 1.0)
    val expectedWytd = ks.zip(amts).groupMap(_._1 % 2)(_._2).view.mapValues(_.sum).toMap
    val expectedBal = ks.zip(amts)
      .groupMap { case (k, _) => (k % 2, k % 3, k % 5) }(_._2)
      .view.mapValues(-_.sum).toMap
    val wytd = cat.read(tpcc.Warehouse).orderBy($"w_id")
      .as[(Long, Double)].collect().toMap
    assert(wytd == expectedWytd, "w_ytd diverged from the commutative expectation")
    val bal = cat.read(tpcc.Customer)
      .select($"c_w_id", $"c_d_id", $"c_id", $"c_balance")
      .as[(Long, Long, Long, Double)].collect()
      .map { case (w, d, c, b) => ((w, d, c), b) }.toMap
    expectedBal.foreach { case (k, v) => assert(bal(k) == v, s"customer $k") }
    assert(bal.values.sum == -amts.sum)
    // every payment counted exactly once — no lost updates, no doubles
    assert(cat.read(tpcc.Customer).agg(sum($"c_payment_cnt")).as[Long].head()
      == n)
  }

  test("per-table OCC conflict aborts the whole multi-table tx; catalog never tears") {
    val cat = fresh("occ")
    cat.tables.create("a", Seq((1L, 1.0)).toDF("id", "v"))
    cat.tables.create("b", Seq((1L, 1.0)).toDF("id", "v"))
    cat.register("a"); cat.register("b")
    val cv = cat.currentCatalogVersion
    intercept[ConcurrentCommitException] {
      cat.tx { t =>
        t.on("a").insert(Seq((2L, 2.0)).toDF("id", "v"))
        t.on("b").insert(Seq((2L, 2.0)).toDF("id", "v"))
        // a direct writer races ahead on b: the tx's staged b-version loses
        cat.tables.insert("b", Seq((9L, 9.0)).toDF("id", "v"))
      }
    }
    // catalog still maps the pre-tx snapshot for BOTH tables
    assert(cat.currentCatalogVersion == cv)
    assert(cat.read("a").count() == 1)
    assert(cat.read("b").count() == 1)
    // the racing writer's commit is per-table durable (direct read), the
    // catalog simply has not adopted it — re-register publishes it
    assert(cat.tables.read("b").count() == 2)
  }
}
