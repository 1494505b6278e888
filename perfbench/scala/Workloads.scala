package perfbench

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig, PositionalIndex, TableIndexer}
import graft.model.{ScoredDoc, SourceFile}
import graft.query.Searcher
import graft.sources.TableOps

/** Input sizes. A run must prepare, set up, measure and check in about a
  * minute on a 4-core box (the whole benchmark is 48 runs in under an
  * hour), so the corpora are small; see README.md. */
object Sizes {
  val SetupReps = 3
  val ServeFiles = 800
  val ServeShards = 32
  val MaintainFiles = 300
  val MaintainTableFiles = 16
  val MaintainShards = 8
  val InsertPerCycle = 60
  val DeletePerCycle = 3
  val UpdatePerCycle = 2
  /** ranked queries per maintenance cycle, in blocks of 16 */
  val QueryBlocksPerCycle = 16
  /** ranked queries re-checked after compaction: the final cycle's first */
  val CompactedChecks = 32
  val Clients = 2
  val K = 10
  /** full builds timed per run for build_gb_per_h, from their mean time
    * (maintain times its compactions after one untimed warm-up) */
  val ServeRebuilds = 2
  val Compactions = 2
}

/** Shared steps of the workloads. */
object Common {
  def files(seed: Long, ids: Range): Vector[SourceFile] =
    ids.map(i => CorpusGen.genFile(i.toLong, Gen.corpusSeed(seed))).toVector

  def contentBytes(fs: Seq[SourceFile]): Long =
    fs.iterator.map(_.content.getBytes("UTF-8").length.toLong).sum

  /** Stage the seeded corpus to parquet and read it back the way a user
    * hands a table to the builder. */
  def stageCorpus(ctx: Ctx, n: Int, name: String): Dataset[SourceFile] = {
    import ctx.spark.implicits._
    val dir = ctx.dir(name)
    ctx.tracer.span("corpus.CorpusGen.generate") {
      CorpusGen.generate(ctx.spark, n.toLong, Gen.corpusSeed(ctx.seed), partitions = 4)
        .write.parquet(dir)
    }
    ctx.spark.read.parquet(dir).as[SourceFile]
  }

  /** The one-time preparation a workload needs before its repeated set-up
    * step (in a cold JVM, so slow and uneven); reported as `prep_s`. */
  def prep[T](ctx: Ctx)(body: => T): T = {
    ctx.log("prep")
    val (r, t) = Probes.secs(body)
    ctx.layer("prep_s") = (t, "s")
    r
  }

  /** Repeat the workload's set-up step, reporting the median as `setup_s`
    * and sampling the heap after each; returns the last result and
    * releases the others. */
  def setup[T](ctx: Ctx, heap: HeapPeak)(once: String => T)(release: T => Unit): T = {
    ctx.log("setup")
    var last: Option[T] = None
    val times = (1 to Sizes.SetupReps).map { rep =>
      last.foreach(release)
      val (r, t) = Probes.secs(once(s"setup-$rep"))
      last = Some(r)
      heap.sample()
      t
    }
    ctx.e2e("setup_s") = (Probes.median(times), "s")
    System.err.println(s"[perfbench] setup reps: ${times.map(t => f"$t%.3f").mkString(" ")} s")
    last.get
  }

  def gbPerHour(bytes: Long, seconds: Double): Double = bytes / 1e9 / (seconds / 3600.0)

  /** Untraced runs measure the window once. Traced runs measure half the
    * window untraced, then half traced, and report the relative gap of
    * `primary` as the tracing overhead. */
  def measure[T](ctx: Ctx)(phase: Double => T)(primary: T => Double): T = {
    ctx.log("measure")
    if (!ctx.traced) return phase(ctx.seconds)
    val plain = ctx.tracer.untraced(phase(ctx.seconds / 2))
    val traced = phase(ctx.seconds / 2)
    ctx.layer("trace.overhead_frac") = (primary(traced) / primary(plain) - 1.0, "ratio")
    traced
  }

  /** Open a Searcher and serve its first ranked query, which loads its
    * caches: the serving set-up step. */
  def open(ctx: Ctx, mk: => Searcher, warm: String, req: String): (Searcher, Array[ScoredDoc], Double) = {
    val ((s, first), t) = Probes.secs(ctx.tracer.span("query.Searcher.open", req) {
      val s = mk
      (s, s.searchWAND(warm, Sizes.K))
    })
    (s, first, t)
  }

  /** Set up by opening a Searcher `SetupReps` times (closing the previous
    * one); returns the last. */
  def openReps(ctx: Ctx, heap: HeapPeak, mk: => Searcher): Searcher = {
    val s = setup(ctx, heap)(tag => open(ctx, mk, "if return", tag)._1)(_.close())
    ctx.layer("query.searcher_open_s") = ctx.e2e("setup_s")
    s
  }

  def ranked(ctx: Ctx, s: Searcher, q: String, req: String): (Array[ScoredDoc], Double) =
    Probes.secs(ctx.tracer.span("query.Searcher.searchWAND", req)(s.searchWAND(q, Sizes.K)))
}

/** Largest heap in use after a full collection, over the run's sample
  * points (after every set-up step and after the measured window). */
final class HeapPeak {
  private var peak = 0.0
  def sample(): Unit = peak = math.max(peak, Probes.heapAfterGcMb())
  def mb: Double = peak
}

/** `serve`: a closed loop of two clients over a prebuilt positional index
  * larger than the Searcher's driver-local budget. Set-up step: opening
  * the Searcher. Closing warm rebuilds of the same corpus give the
  * workload's build rate. */
object ServeWorkload {
  final case class Rec(q: Query, ms: Double, res: Either[Throwable, Array[ScoredDoc]])

  def run(ctx: Ctx): Unit = {
    val heap = new HeapPeak
    val n = Sizes.ServeFiles
    val files = Common.files(ctx.seed, 0 until n)
    val bytes = Common.contentBytes(files)
    def cfg(dir: String) = IndexConfig(indexDir = dir, numShards = Sizes.ServeShards)
    val (corpus, c, built) = Common.prep(ctx) {
      val ds = Common.stageCorpus(ctx, n, "corpus")
      val c = cfg(ctx.dir("index"))
      val st = ctx.tracer.span("index.IndexBuilder.build", "prep")(IndexBuilder.build(ctx.spark, ds, c))
      ctx.tracer.span("index.PositionalIndex.build", "prep")(PositionalIndex.build(ctx.spark, ds, c))
      (ds, c, st)
    }
    val s = Common.openReps(ctx, heap, new Searcher(ctx.spark, c))
    // the first query of each kind loads that path's caches: untimed
    Vector(Bool("+if -def return"), Prefix("get_s"), Phrase("return if"))
      .foreach(q => exec(ctx, s, q, "warm"))

    val gc0 = Probes.gcSeconds()
    val allRecs = Vector.newBuilder[Rec]
    var round = 0
    val (recs, wall) = Common.measure(ctx) { window =>
      round += 1
      val deadline = System.nanoTime() + (window * 1e9).toLong
      val r = round
      val out = new java.util.concurrent.ConcurrentLinkedQueue[Rec]()
      val t0 = System.nanoTime()
      val threads = (0 until Sizes.Clients).map { c =>
        val t = new Thread(() => {
          val it = Gen.mixStream(ctx.seed * 31 + r, c, files)
          var i = 0
          while (System.nanoTime() < deadline) {
            val q = it.next()
            val t1 = System.nanoTime()
            val res = try Right(exec(ctx, s, q, s"c$c-q$i")) catch { case e: Throwable => Left(e) }
            out.add(Rec(q, (System.nanoTime() - t1) / 1e6, res))
            i += 1
          }
        }, s"perfbench-client-$c")
        t.start(); t
      }
      threads.foreach(_.join())
      import scala.jdk.CollectionConverters._
      allRecs ++= out.asScala
      (out.asScala.toVector, (System.nanoTime() - t0) / 1e9)
    } { case (rs, _) => Probes.median(rs.filter(_.q.kind == "ranked").map(_.ms)) }
    ctx.layer("jvm.gc_s") = (Probes.gcSeconds() - gc0, "s")
    heap.sample()

    def lat(kind: String) = recs.filter(_.q.kind == kind).map(_.ms)
    ctx.layer("serve.search_p50_ms") = (Probes.median(lat("ranked")), "ms")
    ctx.e2e("index_bytes_per_input_byte") = (Probes.dirBytes(c.indexDir).toDouble / bytes, "B/B")
    ctx.layer("serve.search_p95_ms") = (Probes.quantile(lat("ranked"), 0.95), "ms")
    ctx.layer("serve.boolean_p50_ms") = (Probes.median(lat("boolean")), "ms")
    ctx.layer("serve.queries_per_s") = (recs.length / wall, "1/s")
    ctx.layer("serve.queries") = (recs.length.toDouble, "count")
    if (lat("prefix").nonEmpty) ctx.layer("query.prefix_p50_ms") = (Probes.median(lat("prefix")), "ms")
    if (lat("phrase").nonEmpty) ctx.layer("query.phrase_p50_ms") = (Probes.median(lat("phrase")), "ms")
    System.err.println(f"[perfbench] serve: ${recs.length} queries in $wall%.2f s; " +
      recs.groupBy(_.q.kind).map { case (k, v) => f"$k=${v.length} p50=${Probes.median(v.map(_.ms))}%.1fms" }.mkString(" "))

    // every timed result against the reference
    ctx.log("check")
    val ref = new Reference(files)
    allRecs.result().foreach { r =>
      r.res match {
        case Left(e) => ctx.check.recordError(s"${r.q}", e)
        case Right(got) =>
          val want = ref.expected(r.q, Sizes.K)
          ctx.check.record(s"${r.q}", ctx.check.sameExact(got, want))
          if (!ctx.selfTestOk && want.nonEmpty) ctx.selfTestOk = ctx.check.selfTest(got)
      }
    }
    ctx.check.record("lineage", ctx.tracer.span("query.Searcher.verifyLineage")(s.verifyLineage(corpus)) == 0L)
    s.close()

    // warm rebuilds of the same corpus give the build rate
    val rebuilds = (1 to Sizes.ServeRebuilds).map { i =>
      val again = cfg(ctx.dir(s"rebuild-$i"))
      val (st, bt) = Probes.secs(ctx.tracer.span("index.IndexBuilder.build", s"rebuild-$i")(
        IndexBuilder.build(ctx.spark, corpus, again)))
      ctx.check.record(s"rebuild $i stats", st.numDocs == ref.numDocs && st == built)
      (again, bt)
    }
    val again = rebuilds.last._1
    System.err.println(s"[perfbench] rebuilds of $bytes B: ${rebuilds.map(r => f"${r._2}%.3f").mkString(" ")} s")
    ctx.e2e("build_gb_per_h") = (Common.gbPerHour(bytes, rebuilds.map(_._2).sum / rebuilds.length), "GB/h")
    ctx.layer("jvm.heap_peak_mb") = (heap.mb, "MB")
    if (ctx.traced) {
      Layers.reportBuild(ctx, again.indexDir, "index.IndexBuilder.build")
      Layers.reportIndexShape(ctx, c.indexDir)
      Layers.reportQueries(ctx)
      Layers.reportProbes(ctx, files, c.postingsPath)
    }
  }

  def exec(ctx: Ctx, s: Searcher, q: Query, req: String): Array[ScoredDoc] = q match {
    case Ranked(t) => ctx.tracer.span("query.Searcher.searchWAND", req)(s.searchWAND(t, Sizes.K))
    case Bool(t) => ctx.tracer.span("query.Searcher.searchBoolean", req)(s.searchBoolean(t, Sizes.K))
    case Prefix(t) => ctx.tracer.span("query.Searcher.searchPrefix", req)(s.searchPrefix(t, Sizes.K))
    case Phrase(t) => ctx.tracer.span("query.Searcher.searchPhrase", req)(s.searchPhrase(t, Sizes.K))
  }
}

/** `maintain`: a table index kept fresh through insert / delete / update
  * commits, each cycle refreshed, reopened and queried; compaction at the
  * end. Set-up step: opening the Searcher. */
object MaintainWorkload {
  final case class Cycle(snapshot: Vector[SourceFile], results: Vector[(String, Array[ScoredDoc])])

  def run(ctx: Ctx): Unit = {
    import ctx.spark.implicits._
    val heap = new HeapPeak
    val n = Sizes.MaintainFiles
    val initial = Common.files(ctx.seed, 0 until n)
    def cfg(dir: String) = IndexConfig(indexDir = dir, numShards = Sizes.MaintainShards)
    val (ops, ti) = Common.prep(ctx) {
      val ops = new TableOps(ctx.spark, ctx.dir("tables"))
      ctx.tracer.span("sources.TableOps.create", "prep")(ops.create("t",
        ctx.spark.sparkContext.parallelize(initial, Sizes.MaintainTableFiles).toDF()))
      val ti = new TableIndexer(ctx.spark, ops, cfg(ctx.dir("index")))
      ctx.tracer.span("index.TableIndexer.create", "prep")(ti.create("t"))
      (ops, ti)
    }
    // the stage records are read before a refresh rewrites the lexicon's
    if (ctx.traced) {
      ctx.tracer.drain()
      Layers.reportBuild(ctx, ti.cfg.indexDir, "index.TableIndexer.create")
    }
    val s0 = Common.openReps(ctx, heap, new Searcher(ctx.spark, ti.cfg))

    val live = scala.collection.mutable.LinkedHashMap.empty[String, SourceFile]
    initial.foreach(f => live(f.path) = f)
    val rnd = Gen.stream(ctx.seed, "maintain-changes")
    var nextId = n
    var searcher = s0
    val commits = Vector.newBuilder[(String, Double)]
    val refreshes = Vector.newBuilder[Double]
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val allCycles = Vector.newBuilder[Cycle]
    var cycleNo = 0
    val gc0 = Probes.gcSeconds()

    val fileOrder = Gen.shuffle(rnd, 0 until Sizes.MaintainTableFiles)

    def cycle(): (Cycle, Double) = {
      cycleNo += 1
      val req = s"cycle-$cycleNo"
      // the delete and the update hit rows of one initial table file
      // (parallelize put initial(f*n/T until (f+1)*n/T) in file f), so
      // every cycle rewrites the same amount of data
      val f = fileOrder((cycleNo - 1) % fileOrder.length)
      val T = Sizes.MaintainTableFiles
      val victims = Gen.shuffle(rnd, initial.slice(f * n / T, (f + 1) * n / T).map(_.path))
      val del = victims.take(Sizes.DeletePerCycle)
      val upd = victims.slice(Sizes.DeletePerCycle, Sizes.DeletePerCycle + Sizes.UpdatePerCycle)
      val ins = (nextId until nextId + Sizes.InsertPerCycle).map(i =>
        CorpusGen.genFile(i.toLong, Gen.corpusSeed(ctx.seed)))
      nextId += Sizes.InsertPerCycle
      def commit(kind: String)(f: => Long): Unit =
        commits += kind -> Probes.secs(ctx.tracer.span(s"sources.TableOps.$kind", req)(f))._2
      commit("insert")(ops.insert("t", ins.toDF()))
      ins.foreach(f => live(f.path) = f)
      commit("delete")(ops.delete("t", col("path").isin(del: _*)))
      del.foreach(live.remove)
      val extra = s"\nval cycle_${cycleNo}_x${rnd.nextInt(1000)} = ${CorpusGen.identifier(rnd.nextInt(CorpusGen.VocabSize))}\n"
      commit("update")(ops.update("t", col("path").isin(upd: _*), "content", concat(col("content"), lit(extra))))
      upd.foreach(p => live(p) = live(p).copy(content = live(p).content + extra))
      // freshness: from the last commit's return to the first ranked
      // top-10 a fresh Searcher serves on the new snapshot
      val qs = Gen.rankedSample(ctx.seed, req, Sizes.QueryBlocksPerCycle).map(_.text)
      val t0 = System.nanoTime()
      val (_, rt) = Probes.secs(ctx.tracer.span("index.TableIndexer.refresh", req)(ti.refresh("t")))
      searcher.close()
      val (s, first, _) = Common.open(ctx, new Searcher(ctx.spark, ti.cfg), qs.head, req)
      val fresh = (System.nanoTime() - t0) / 1e9
      searcher = s
      refreshes += rt
      val rest = qs.tail.map(q => q -> Common.ranked(ctx, s, q, req))
      lat ++= rest.map(_._2._2 * 1000)
      val c = Cycle(live.values.toVector, (qs.head -> first) +: rest.map { case (q, (r, _)) => q -> r })
      allCycles += c
      (c, fresh)
    }

    // one cycle per measured window: a cycle takes about as long as the
    // window, and a time-bound loop would run one or two of them, which
    // changes the index the run ends with
    val cycles = Common.measure(ctx)(_ => Vector(cycle()))(cs => Probes.median(cs.map(_._2)))
    ctx.layer("jvm.gc_s") = (Probes.gcSeconds() - gc0, "s")
    heap.sample()
    val liveFiles = live.values.toVector
    val liveBytes = Common.contentBytes(liveFiles)
    ctx.layer("maintain.search_p50_ms") = (Probes.median(lat.toSeq), "ms")
    ctx.e2e("index_bytes_per_input_byte") = (Probes.dirBytes(ti.cfg.indexDir).toDouble / liveBytes, "B/B")
    ctx.layer("maintain.freshness_p50_s") = (Probes.median(cycles.map(_._2)), "s")
    ctx.layer("maintain.table_commit_p50_ms") = (Probes.median(commits.result().map(_._2 * 1000)), "ms")
    ctx.layer("maintain.cycles") = (cycleNo.toDouble, "count")
    commits.result().groupBy(_._1).foreach { case (k, v) =>
      ctx.layer(s"sources.${k}_ms") = (Probes.median(v.map(_._2 * 1000)), "ms")
    }
    ctx.layer("sources.data_files") = (ops.dataFiles("t", ops.currentVersion("t")).size.toDouble, "count")
    ctx.layer("index.refresh_s") = (Probes.median(refreshes.result()), "s")
    if (ctx.traced) {
      Layers.reportIndexShape(ctx, ti.cfg.indexDir)
      Layers.reportQueries(ctx)
      val rs = ctx.tracer.named("index.TableIndexer.refresh").map(ctx.tracer.inclusive)
      ctx.layer("index.refresh.jobs") = (Layers.mean(rs.map(_.jobs.get.toDouble)), "count")
      ctx.layer("index.refresh.tasks") = (Layers.mean(rs.map(_.tasks.get.toDouble)), "count")
      ctx.layer("index.refresh.shuffle_write_bytes") = (Layers.mean(rs.map(_.shuffleWrite.get.toDouble)), "B")
    }

    // engine docId -> reference docId of the final snapshot's documents,
    // through the index's own docs table (appended docs are not ranked
    // lexicographically until a compaction)
    val keyOf: Map[Long, (String, String, String)] =
      ctx.spark.read.parquet(ti.cfg.docsPath).select($"docId", $"repo", $"path", $"commit")
        .as[(Long, String, String, String)].collect().map { case (d, r, p, c) => d -> ((r, p, c)) }.toMap
    val table = ops.read("t").select($"repo", $"path", $"commit", $"lang", $"content").as[SourceFile]
    ctx.log("check")
    allCycles.result().foreach { c =>
      val ref = new Reference(c.snapshot)
      c.results.foreach { case (q, got) =>
        val mapped = got.map(d => d.copy(docId = keyOf.get(d.docId).flatMap(ref.keyToId.get).getOrElse(-1L)))
        val want = ref.ranked(q, Sizes.K)
        ctx.check.record(s"cycle ranked '$q'", ctx.check.sameUpToTies(mapped, want, ref.oracle.score(q, _)))
      }
    }
    searcher.close()

    // compaction: rebuild from the live snapshot, then the final cycle's
    // queries must match a from-scratch build exactly (fresh docIds)
    val finalQs = cycles.last._1.results.map(_._1).take(Sizes.CompactedChecks)
    // repeated: each compaction rebuilds the same snapshot again. The
    // first runs the compaction path cold (about 1.5x a warm one) and is
    // not timed; each timed one starts after a full GC.
    ctx.tracer.span("index.TableIndexer.compact", "compact-warm")(ti.compact("t"))
    val cts = (1 to Sizes.Compactions).map { i =>
      System.gc()
      Probes.secs(ctx.tracer.span("index.TableIndexer.compact", s"compact-$i")(ti.compact("t")))._2
    }
    System.err.println(s"[perfbench] compactions of $liveBytes B: ${cts.map(t => f"$t%.3f").mkString(" ")} s")
    val ct = cts.sum / cts.length
    ctx.layer("maintain.compact_s") = (ct, "s")
    ctx.e2e("build_gb_per_h") = (Common.gbPerHour(liveBytes, ct), "GB/h")
    if (ctx.traced) {
      val cs = ctx.tracer.named("index.TableIndexer.compact").filter(_.req != "compact-warm").map(ctx.tracer.inclusive)
      ctx.layer("index.compact.jobs") = (Layers.mean(cs.map(_.jobs.get.toDouble)), "count")
      ctx.layer("index.compact.shuffle_write_bytes") = (Layers.mean(cs.map(_.shuffleWrite.get.toDouble)), "B")
      ctx.layer("index.compact.executor_cpu_s") = (Layers.mean(cs.map(_.cpuNs.get / 1e9)), "s")
    }
    val ref = new Reference(liveFiles)
    val (sc, first, _) = Common.open(ctx, new Searcher(ctx.spark, ti.cfg), finalQs.head, "compact")
    ctx.check.record("compacted open query", ctx.check.sameExact(first, ref.ranked(finalQs.head, Sizes.K)))
    finalQs.tail.foreach { q =>
      val got = ctx.tracer.span("query.Searcher.searchWAND", "compact")(sc.searchWAND(q, Sizes.K))
      val want = ref.ranked(q, Sizes.K)
      ctx.check.record(s"compacted ranked '$q'", ctx.check.sameExact(got, want))
      if (!ctx.selfTestOk && want.nonEmpty) ctx.selfTestOk = ctx.check.selfTest(got)
    }
    ctx.check.record("lineage after compaction",
      ctx.tracer.span("query.Searcher.verifyLineage")(sc.verifyLineage(table)) == 0L)
    ctx.layer("jvm.heap_peak_mb") = (heap.mb, "MB")
    if (ctx.traced) Layers.reportProbes(ctx, liveFiles, ti.cfg.postingsPath)
    sc.close()
  }
}
