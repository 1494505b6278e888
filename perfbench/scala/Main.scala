package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything one run shares: the session, its seed and budget, the
  * tracer and the tallies the result line is made from. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val traced: Boolean, val work: String) {
  val tracer = new Tracer(spark.sparkContext, traced)
  val check = new Checker
  /** End-to-end metrics: name -> (value, unit). */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics: name -> (value, unit). */
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  var selfTestOk = false
  private val t0 = System.nanoTime()

  /** Progress line on stderr: seconds since the run started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2fs $msg")

  def dir(name: String): String = {
    val p = java.nio.file.Paths.get(work, name)
    org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
    p.toString
  }
}

/** Benchmark entry point: one workload, one seed, one measured window.
  *
  * `--trace 0` prints the end-to-end metrics; `--trace 1` records spans and
  * job-group-scoped Spark counters around every call into the engine and
  * prints the per-layer metrics instead. The last stdout line is the
  * result object. */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "serve" -> ServeWorkload.run,
    "maintain" -> MaintainWorkload.run)

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val work = opts("work")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", work)
    val calStart = Probes.calibrationMs()
    run(ctx)
    val calEnd = Probes.calibrationMs()
    ctx.tracer.drain()
    System.err.println(f"[perfbench] calibration $calStart%.1f ms at start, $calEnd%.1f ms at end")
    if (ctx.traced) {
      ctx.layer("env.calibration_ms") = (math.max(calStart, calEnd), "ms")
      ctx.layer("env.calibration_start_ms") = (calStart, "ms")
      ctx.layer("env.calibration_end_ms") = (calEnd, "ms")
      ctx.layer("spark.unattributed_jobs") = (ctx.tracer.unattributedJobs.get.toDouble, "count")
      ctx.layer("check.failed_frac") = (ctx.check.failedFrac, "ratio")
      ctx.layer("check.selftest_detected") = (if (ctx.selfTestOk) 1.0 else 0.0, "bool")
      val self = ctx.tracer.selfSecondsByLayer
      Layers.SelfTimeLayers.foreach(l => ctx.layer(s"trace.self_s.$l") = (self.getOrElse(l, 0.0), "s"))
      ctx.layer("trace.spans") = (ctx.tracer.all.length.toDouble, "count")
      val out = java.nio.file.Paths.get(work, "..", "traces")
      java.nio.file.Files.createDirectories(out)
      ctx.tracer.dump(out.resolve(s"$workload-seed${ctx.seed}.jsonl"))
      ctx.tracer.stop()
    }
    val metrics = Layers.declared(opts("spec"), ctx.traced, if (ctx.traced) ctx.layer else ctx.e2e)
    ctx.check.failures.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    ctx.e2e.foreach { case (k, (v, u)) => System.err.println(f"[perfbench] $k%-28s $v%.6g $u") }
    val correct = ctx.check.failed == 0 && ctx.check.attempted > 0 && ctx.selfTestOk
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${jsonNum(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${ctx.check.attempted}, """ +
      s""""failed": ${ctx.check.failed}, "metrics": {$body}}""")
    System.out.flush()
    spark.stop()
  }
}
