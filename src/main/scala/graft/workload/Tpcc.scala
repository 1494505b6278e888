package graft.workload

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicLong

import graft.checkpoint.ConcurrentCommitException
import graft.sources.Catalog

/** TPC-C-shaped multi-table OLTP workload over [[Catalog.tx]] — the
  * transactional benchmark the reference ships as its integration anchor
  * (test/integration/tpcc_test.cpp, benchmark/tpcc/tpcc_benchmark.cpp:58:
  * NewOrder + Payment over warehouse/district/customer/orders under MVCC).
  * Spark-native equivalent: each business transaction is one atomic
  * multi-table catalog commit over snapshot tables, with OPTIMISTIC
  * concurrency — a conflicting commit aborts cleanly and the transaction
  * reruns against the new state (the retry loop the reference's
  * transaction manager hides inside blocking latches).
  *
  *   - NewOrder(w,d,c): read the district's next order id (read-your-writes
  *     inside the transaction), increment it, insert the order row — the
  *     classic rmw that serializes per district.
  *   - Payment(w,d,c,amt): add amt to warehouse.ytd and district.ytd,
  *     subtract from customer.balance, count the payment — three tables,
  *     one atomic cut.
  *
  * Scale shape: per-transaction cost is O(files containing the touched
  * keys) thanks to manifest-stats pruning, independent of table size; the
  * OCC conflict domain is the TABLE VERSION (coarser than the reference's
  * tuple locks — the standard Iceberg-model trade: single-digit writers/
  * table sustain, hot-row workloads belong in a streaming ingest path).
  */
final class Tpcc(spark: SparkSession, val cat: Catalog,
    nWarehouses: Int = 2, nDistricts: Int = 3, nCustomers: Int = 5) {
  import spark.implicits._

  val Warehouse = "tpcc_warehouse"
  val District = "tpcc_district"
  val Customer = "tpcc_customer"
  val Orders = "tpcc_orders"

  /** Conflict-retry count across the workload (OCC aborts rerun). */
  val retries = new AtomicLong(0L)

  /** Run `tasks` concurrently, each on a thread of a pool of their own (the
    * tasks block on Spark jobs, so they never borrow a shared pool), await
    * every one, shut the pool down, then rethrow the first failure (all
    * in-flight work has finished before a retry loop reruns — no
    * stragglers writing behind a restarted transaction). */
  private def runAll(tasks: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.length,
      (r: Runnable) => {
        val t = new Thread(r, "graft-tpcc"); t.setDaemon(true); t
      })
    val rs = try {
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      tasks.map(t => Future(t()))
        .map(f => scala.util.Try(Await.result(f, Duration.Inf)))
    } finally pool.shutdown()
    rs.collectFirst { case scala.util.Failure(e) => throw e }
  }

  /** Initial state: ytd 0 everywhere, next_o_id 1, empty orders.
    * The four creates are independent single-table commits — submitted
    * concurrently so the driver-side commit latencies overlap (guide
    * §2.6); registration stays ordered (the catalog file is one
    * read-modify-write document). */
  def setup(): Unit = {
    val t = cat.tables
    runAll(
      () => t.create(Warehouse,
        (0 until nWarehouses).map(w => (w.toLong, 0.0))
          .toDF("w_id", "w_ytd").coalesce(1)),
      () => t.create(District,
        (for { w <- 0 until nWarehouses; d <- 0 until nDistricts }
          yield (w.toLong, d.toLong, 0.0, 1L))
          .toDF("d_w_id", "d_id", "d_ytd", "d_next_o_id").coalesce(1)),
      () => t.create(Customer,
        (for { w <- 0 until nWarehouses; d <- 0 until nDistricts;
               c <- 0 until nCustomers }
          yield (w.toLong, d.toLong, c.toLong, 0.0, 0.0, 0L))
          .toDF("c_w_id", "c_d_id", "c_id", "c_balance", "c_ytd_payment",
            "c_payment_cnt").coalesce(1)),
      () => t.create(Orders,
        Seq.empty[(Long, Long, Long, Long, Long)]
          .toDF("o_w_id", "o_d_id", "o_id", "o_c_id", "o_ol_cnt")
          .coalesce(1)))
    Seq(Warehouse, District, Customer, Orders).foreach(cat.register)
  }

  /** Rerun `f` past OCC conflicts (the reference's abort-and-restart loop,
    * transaction_manager.h Abort). Bounded so a livelock surfaces. */
  private def withRetry[A](f: => A): A = {
    var attempts = 0
    while (true) {
      try return f
      catch { case _: ConcurrentCommitException =>
        attempts += 1
        retries.incrementAndGet()
        require(attempts <= 50, "transaction retried 50 times — livelock?")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def newOrder(w: Long, d: Long, c: Long, olCnt: Long): Long = withRetry {
    cat.tx { t =>
      // open both staging handles on this thread (MultiTx.on is lazy and
      // not thread-safe), read the rmw value, then overlap the district
      // update and the order insert — independent once oid is known
      val dt = t.on(District)
      val ot = t.on(Orders)
      val oid = dt.read()
        .filter($"d_w_id" === w && $"d_id" === d)
        .select($"d_next_o_id").as[Long].head()
      runAll(
        () => dt.update($"d_w_id" === w && $"d_id" === d,
          "d_next_o_id", lit(oid + 1)),
        () => ot.insert(
          Seq((w, d, oid, c, olCnt))
            .toDF("o_w_id", "o_d_id", "o_id", "o_c_id", "o_ol_cnt")))
    }
  }

  def payment(w: Long, d: Long, c: Long, amt: Double): Long = withRetry {
    cat.tx { t =>
      // three independent single-table updates — handles opened serially
      // (see newOrder), the candidate-scan + rewrite passes overlapped
      // (guide §2.6: the transaction's wall time becomes the max of the
      // three, not the sum; the commit stays one atomic catalog flip)
      val wt = t.on(Warehouse)
      val dt = t.on(District)
      val ct = t.on(Customer)
      runAll(
        () => wt.update($"w_id" === w, "w_ytd", $"w_ytd" + amt),
        () => dt.update($"d_w_id" === w && $"d_id" === d,
          "d_ytd", $"d_ytd" + amt),
        () => ct.updateSet(
          $"c_w_id" === w && $"c_d_id" === d && $"c_id" === c,
          Seq("c_balance" -> ($"c_balance" - amt),
            "c_ytd_payment" -> ($"c_ytd_payment" + amt),
            "c_payment_cnt" -> ($"c_payment_cnt" + 1L))))
    }
  }

  /** One transaction per input row, DETERMINISTICALLY derived from the
    * TPC-H orders table so a SQL oracle can replay the net effect:
    * typ = o_orderkey%2 (0 NewOrder / 1 Payment), w/d/c = o_custkey mod
    * (W,D,C), amt = floor(o_totalprice)%500+1 (integral-valued double —
    * exact cross-engine sums), ol_cnt = o_orderkey%10+1. Executed in
    * o_orderkey order, so order ids match ROW_NUMBER in the oracle. */
  def runFromOrders(orders: DataFrame, n: Int): Int = {
    val txns = orders
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .orderBy($"o_orderkey").limit(n)
      .as[(Long, Long, Double)].collect()
    txns.foreach { case (ok, ck, price) =>
      val w = ck % nWarehouses; val d = ck % nDistricts; val c = ck % nCustomers
      if (ok % 2 == 0) newOrder(w, d, c, ok % 10 + 1)
      else payment(w, d, c, (math.floor(price).toLong % 500 + 1).toDouble)
    }
    txns.length
  }

  /** Concurrent Payment loop: `threads` writers × `perThread` transactions
    * with OCC conflict retries. Deterministic FINAL state (addition
    * commutes); the interleaving and retry count are not. Returns
    * (transactions, retries, elapsedMs). */
  def runConcurrentPayments(threads: Int, perThread: Int,
      amt: (Int, Int) => Double): (Long, Long, Long) = {
    val r0 = retries.get()
    val t0 = System.nanoTime()
    val pool = (0 until threads).map { ti =>
      val th = new Thread(() => {
        (0 until perThread).foreach { i =>
          val k = (ti * perThread + i).toLong
          payment(k % nWarehouses, k % nDistricts, k % nCustomers, amt(ti, i))
        }
      }, s"tpcc-$ti")
      th.start(); th
    }
    pool.foreach(_.join())
    val ms = (System.nanoTime() - t0) / 1000000
    ((threads * perThread).toLong, retries.get() - r0, ms)
  }

  /** Per-district final state with orders/customer checksums — the
    * oracle-comparable digest of the whole run (one row per district,
    * catalog-resolved reads = the atomic cross-table snapshot). */
  def finalStateByDistrict(): DataFrame = {
    val dist = cat.read(District)
    val wh = cat.read(Warehouse)
    val ords = cat.read(Orders)
      .groupBy($"o_w_id", $"o_d_id")
      .agg(count(lit(1)).as("n_orders"), sum($"o_ol_cnt").as("sum_ol_cnt"),
        sum($"o_id").as("sum_o_id"))
    val cust = cat.read(Customer)
      .groupBy($"c_w_id", $"c_d_id")
      .agg(sum($"c_balance").as("c_balance_sum"),
        sum($"c_payment_cnt").as("n_payments"))
    dist
      .join(wh, $"d_w_id" === $"w_id")
      .join(ords, $"d_w_id" === $"o_w_id" && $"d_id" === $"o_d_id", "left")
      .join(cust, $"d_w_id" === $"c_w_id" && $"d_id" === $"c_d_id", "left")
      .select($"d_w_id".as("w"), $"d_id".as("d"),
        $"d_next_o_id".as("next_o_id"), $"d_ytd", $"w_ytd",
        coalesce($"n_orders", lit(0L)).as("n_orders"),
        coalesce($"sum_ol_cnt", lit(0L)).as("sum_ol_cnt"),
        coalesce($"sum_o_id", lit(0L)).as("sum_o_id"),
        $"c_balance_sum", $"n_payments")
      .orderBy($"w", $"d")
  }
}
