package graft

import java.io.File
import java.util.concurrent.Executors

import org.apache.commons.io.FileUtils
import org.scalatest.Assertions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.checkpoint.ConcurrentCommitException
import graft.io.TableIO
import graft.sources.{Catalog, TableOps}

/** Crash-safety sweep for table and catalog commits. For each n up to the
  * number of mutating storage operations a clean run of an operation
  * makes, fail the n-th one (the process "dies" there) and require:
  *   - every table reads exactly its pre-state or exactly its post-state,
  *     and so does the catalog as a whole;
  *   - after a retry of the operation where it did not land — for
  *     `Catalog.tx`, after `Catalog.recover()` — the state equals a clean
  *     run's;
  *   - the next single-table writer on every touched table succeeds.
  * A `Catalog.tx` variant lets a foreign insert land before `recover()`:
  * recovery must never adopt it into the catalog. */
class TableCrashSweepSpec extends AnyFunSuite {
  import TableCrashSweep._

  lazy val spark = session()

  test("crash sweep: insert, delete, update and merge on a table") {
    val s = spark
    import s.implicits._
    val seed = tableSeed(s)
    val ops = Seq[(String, TableOps => Any)](
      "insert" -> (_.insert("t", Seq((7L, "g", 7.0)).toDF("id", "name", "x"))),
      "delete" -> (_.delete("t", $"id" === 2L)),
      "update" -> (_.update("t", $"id" >= 3L, "x", lit(0.5))),
      "merge" -> (_.merge("t", Seq((4L, "d2", 40.0), (8L, "h", 8.0))
        .toDF("id", "name", "x"), "id", Seq("name", "x"))))
    val counts = ops.map { case (name, op) => name -> sweepTable(s, seed, name, op) }
    info(counts.map { case (n, c) => s"$n $c" }.mkString("crash points: ", ", ", ""))
  }

  test("crash sweep: Catalog.tx, recovered and retried") {
    info(s"crash points: ${sweepTx(spark, "", foreign = false)}")
  }

  test("crash sweep: Catalog.tx with a foreign insert before recover(), never adopted") {
    info(s"crash points: ${sweepTx(spark, "", foreign = true)}")
  }
}

object TableCrashSweep {
  /** A session of its own: two shuffle partitions and no adaptive
    * re-planning keep the tiny writes' storage operations few. */
  def session(): SparkSession = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "2")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** A table `t` of two files. */
  def tableSeed(spark: SparkSession): String = {
    import spark.implicits._
    val root = TestSpark.tmpDir("graft-tsweep-seed")
    val ops = new TableOps(spark, root)
    ops.create("t", Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("id", "name", "x").coalesce(1))
    ops.insert("t", Seq((4L, "d", 4.0), (5L, "e", 5.0)).toDF("id", "name", "x")
      .coalesce(1))
    root
  }

  /** Tables `a` and `b`, both registered in the catalog. */
  def catalogSeed(spark: SparkSession): String = {
    import spark.implicits._
    val root = TestSpark.tmpDir("graft-tsweep-cat")
    val cat = new Catalog(spark, root)
    cat.tables.create("a", Seq((1L, 1.0)).toDF("id", "v").coalesce(1))
    cat.tables.create("b", Seq((1L, 1.0)).toDF("id", "v").coalesce(1))
    cat.register("a"); cat.register("b")
    root
  }

  def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  def copy(seed: String, tag: String): String = {
    val d = TestSpark.tmpDir(s"graft-tsweep-$tag")
    FileUtils.copyDirectory(new File(seed), new File(d))
    d
  }

  /** Storage of `root` that [[FaultInjection.run]] can fail. */
  def faulty(spark: SparkSession, root: String): TableIO =
    FaultInjection.wrap(TableIO.forPath(root, spark.sessionState.newHadoopConf()))

  /** Runs `f(n)` for n in 1..total, four at a time. */
  def eachPoint(total: Int)(f: Int => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(4)
    try (1 to total).map(n => pool.submit(() => { f(n); n })).foreach(_.get())
    finally pool.shutdownNow()
  }

  /** Sweep one single-table operation; returns its crash-point count. */
  def sweepTable(spark: SparkSession, seed: String, name: String,
      op: TableOps => Any): Int = {
    import spark.implicits._
    def state(d: String) = {
      val o = new TableOps(spark, d)
      (o.currentVersion("t"), rows(o.read("t")))
    }
    val pre = state(seed)
    val clean = copy(seed, s"$name-clean")
    val total = FaultInjection.run(clean, FaultInjection.never)(
      op(new TableOps(spark, clean, faulty(spark, clean))))._1
    val post = state(clean)
    assert(total > 0 && post != pre, s"[$name] clean run changed nothing")
    eachPoint(total) { n =>
      val d = copy(seed, s"$name-$n")
      var at = ""
      val (_, crashed) = FaultInjection.run(d, (i, o, p) =>
        i == n && { at = s"$o ${p.stripPrefix(d)}"; true })(
        op(new TableOps(spark, d, faulty(spark, d))))
      assert(crashed, s"[$name] no fault at op $n of $total")
      val after = state(d)
      assert(after == pre || after == post,
        s"[$name] crash at op $n ($at): neither pre- nor post-state: $after")
      if (after == pre) op(new TableOps(spark, d))
      assert(state(d) == post, s"[$name] crash at op $n ($at): retry differs")
      val next = new TableOps(spark, d)
      next.insert("t", Seq((99L, "z", 9.9)).toDF("id", "name", "x"))
      assert(next.currentVersion("t") == post._1 + 1)
      FileUtils.deleteDirectory(new File(d))
    }
    total
  }

  /** The swept transaction: an update of `a` and an insert into `b`. */
  def txBody(spark: SparkSession)(t: Catalog#MultiTx): Unit = {
    import spark.implicits._
    t.on("a").update($"id" === 1L, "v", lit(2.0))
    t.on("b").insert(Seq((2L, 2.0)).toDF("id", "v"))
  }

  /** Sweep `Catalog.tx` over a catalog under `prefix` + a local directory
    * (`"file:"` runs it through the Hadoop stack); with `foreign`, an insert
    * into `b` by another writer is attempted after the crash, before
    * `recover()`. Returns the crash-point count. */
  def sweepTx(spark: SparkSession, prefix: String, foreign: Boolean): Int = {
    import spark.implicits._
    val seed = catalogSeed(spark)
    val foreignRow = Seq((7L, 7.0)).toDF("id", "v")
    def catalog(d: String) = new Catalog(spark, prefix + d)
    // (catalog version, catalog-resolved rows of a and b)
    def catState(d: String) = {
      val c = catalog(d)
      (c.currentCatalogVersion, rows(c.read("a")), rows(c.read("b")))
    }
    // per table: (version, rows) read directly
    def tableState(d: String, t: String) = {
      val o = catalog(d).tables
      (o.currentVersion(t), rows(o.read(t)))
    }
    val pre = (catState(seed), tableState(seed, "a"), tableState(seed, "b"))
    val clean = copy(seed, "tx-clean")
    val total = FaultInjection.run(prefix + clean, FaultInjection.never)(
      new Catalog(spark, prefix + clean, faulty(spark, prefix + clean))
        .tx(txBody(spark)))._1
    val post = (catState(clean), tableState(clean, "a"), tableState(clean, "b"))
    val fRow = rows(foreignRow)
    assert(total > 0 && post != pre)
    eachPoint(total) { n =>
      val d = copy(seed, s"tx-$n")
      val root = prefix + d
      var at = ""
      val (_, crashed) = FaultInjection.run(root, (i, o, p) =>
        i == n && { at = s"$o ${p.stripPrefix(root)}"; true })(
        new Catalog(spark, root, faulty(spark, root)).tx(txBody(spark)))
      assert(crashed, s"[tx] no fault at op $n of $total")
      val where = s"[tx${if (foreign) "+foreign" else ""}] crash at op $n ($at)"
      val c0 = catState(d)
      assert(c0 == pre._1 || c0 == post._1, s"$where: catalog torn: $c0")
      for ((t, i) <- Seq("a" -> 1, "b" -> 2)) {
        val s = tableState(d, t)
        assert(s == pre.productElement(i) || s == post.productElement(i),
          s"$where: table $t neither pre nor post: $s")
      }
      // a foreign insert lands unless b's next version is a pending claim
      val landed = foreign &&
        (try { catalog(d).tables.insert("b", foreignRow); true }
        catch { case e: ConcurrentCommitException =>
          assert(e.getMessage.contains("Catalog.recover()"), s"$where: $e")
          false
        })
      val (fwd, back) = catalog(d).recover()
      assert(fwd + back <= 1, s"$where: recover() resolved ${(fwd, back)}")
      val c1 = catState(d)
      assert(c1 == pre._1 || c1 == post._1,
        s"$where: recover() left the catalog at $c1")
      if (c1 == pre._1) catalog(d).tx(txBody(spark))
      if (foreign && !landed) catalog(d).tables.insert("b", foreignRow)
      if (!foreign)
        assert((catState(d), tableState(d, "a"), tableState(d, "b")) == post,
          s"$where: recovered state differs from a clean run")
      else {
        assert(tableState(d, "a")._2 == post._2._2, s"$where: a")
        assert(tableState(d, "b")._2 == (post._3._2 ++ fRow).sorted, s"$where: b")
        val cb = catState(d)._3
        assert(cb == post._1._3 || cb == (post._1._3 ++ fRow).sorted, s"$where: catalog b")
      }
      // the next single-table writer on every touched table succeeds
      val o = catalog(d).tables
      Seq("a", "b").foreach { t =>
        val v = o.currentVersion(t)
        o.insert(t, Seq((99L, 9.9)).toDF("id", "v"))
        assert(o.currentVersion(t) == v + 1, s"$where: next writer on $t")
      }
      FileUtils.deleteDirectory(new File(d))
    }
    total
  }
}
