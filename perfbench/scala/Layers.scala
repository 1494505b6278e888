package perfbench

import scala.collection.mutable

import graft.checkpoint.Manifest

/** The per-layer metric set and the helpers that derive it from spans,
  * job-group counters and the index's own manifest. */
object Layers {
  val SelfTimeLayers: Seq[String] =
    Seq("corpus", "analysis", "codec", "index", "checkpoint", "sources", "query")

  val BuildStages: Seq[String] = Seq("keymap", "forward", "docs", "postings", "lexicon")

  /** The metrics BENCHMARK.json declares for this mode, in its order, with
    * its units. A workload that never calls into a layer reports that
    * layer's work as 0; an end-to-end metric must always be measured. */
  def declared(specPath: String, traced: Boolean,
      got: mutable.LinkedHashMap[String, (Double, String)])
      : mutable.LinkedHashMap[String, (Double, String)] = {
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(specPath))
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    spec.get(if (traced) "per_layer" else "end_to_end").forEach { m =>
      val name = m.get("name").asText()
      val v = got.get(name).map(_._1).getOrElse {
        require(traced, s"end-to-end metric $name was not measured")
        0.0
      }
      out(name) = (v, m.get("unit").asText())
    }
    out
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Build-stage walls from the index manifest, the outer build span's
    * counters, and how much of that span the stages account for. */
  def reportBuild(ctx: Ctx, indexDir: String, spanName: String): Unit = {
    val spans = ctx.tracer.named(spanName)
    if (spans.isEmpty) return
    val m = ctx.tracer.span("checkpoint.Manifest.read")(new Manifest(indexDir).read())
    val walls = BuildStages.map(s => s -> m.get(s).map(_.wallMs / 1000.0).getOrElse(0.0))
    walls.foreach { case (s, w) => ctx.layer(s"index.build.${s}_s") = (w, "s") }
    val last = spans.last
    ctx.layer("index.build.wall_s") = (last.seconds, "s")
    ctx.layer("index.build.stage_sum_frac") = (walls.map(_._2).sum / last.seconds, "ratio")
    val cs = spans.map(ctx.tracer.inclusive)
    def per(f: SparkCounts => Long) = mean(cs.map(c => f(c).toDouble))
    ctx.layer("index.build.jobs") = (per(_.jobs.get), "count")
    ctx.layer("index.build.tasks") = (per(_.tasks.get), "count")
    ctx.layer("index.build.shuffle_write_bytes") = (per(_.shuffleWrite.get), "B")
    ctx.layer("index.build.shuffle_read_bytes") = (per(_.shuffleRead.get), "B")
    ctx.layer("index.build.spill_bytes") = (per(_.spill.get), "B")
    ctx.layer("index.build.executor_cpu_s") = (per(_.cpuNs.get) / 1e9, "s")
    ctx.layer("index.build.gc_s") = (per(_.gcMs.get) / 1e3, "s")
    val util = spans.zip(cs).map { case (s, c) => c.cpuNs.get / 1e9 / (s.seconds * 4) }
    ctx.layer("index.build.core_utilization") = (mean(util), "ratio")
  }

  /** Manifest size and record count, block count, segments, tombstones. */
  def reportIndexShape(ctx: Ctx, indexDir: String): Unit = {
    val m = ctx.tracer.span("checkpoint.Manifest.read")(new Manifest(indexDir).read())
    ctx.layer("checkpoint.manifest_records") = (m.size.toDouble, "count")
    ctx.layer("checkpoint.manifest_bytes") =
      (java.nio.file.Files.size(java.nio.file.Paths.get(indexDir, "manifest.json")).toDouble, "B")
    ctx.layer("index.blocks") = (m.get("postings").map(_.rows.toDouble).getOrElse(0.0), "count")
    ctx.layer("index.segments") = (1.0 + m.keys.count(_.matches("append-\\d+")), "count")
    ctx.layer("index.tombstones") = (m.get("tombstones").map(_.rows.toDouble).getOrElse(0.0), "count")
  }

  /** Per-query Spark work of each serving entry point. */
  def reportQueries(ctx: Ctx): Unit = {
    def cs(name: String) = ctx.tracer.named(name).map(ctx.tracer.inclusive)
    val ranked = cs("query.Searcher.searchWAND")
    if (ranked.nonEmpty) {
      ctx.layer("query.ranked.jobs_per_query") = (mean(ranked.map(_.jobs.get.toDouble)), "count")
      ctx.layer("query.ranked.tasks_per_query") = (mean(ranked.map(_.tasks.get.toDouble)), "count")
      ctx.layer("query.ranked.local_frac") =
        (ranked.count(_.jobs.get == 0).toDouble / ranked.length, "ratio")
    }
    val bool = cs("query.Searcher.searchBoolean")
    if (bool.nonEmpty) {
      ctx.layer("query.boolean.jobs_per_query") = (mean(bool.map(_.jobs.get.toDouble)), "count")
      ctx.layer("query.boolean.shuffle_bytes_per_query") =
        (mean(bool.map(_.shuffleWrite.get.toDouble)), "B")
    }
    Seq("prefix" -> "searchPrefix", "phrase" -> "searchPhrase").foreach { case (k, api) =>
      val c = cs(s"query.Searcher.$api")
      if (c.nonEmpty) ctx.layer(s"query.$k.jobs_per_query") = (mean(c.map(_.jobs.get.toDouble)), "count")
    }
  }

  /** Tokenizer and codec micro probes on this run's corpus and index. */
  def reportProbes(ctx: Ctx, files: Seq[graft.model.SourceFile], postingsPath: String): Unit = {
    ctx.layer("analysis.tokenize_mb_per_s") =
      (ctx.tracer.span("analysis.probe.tokenize")(Probes.tokenizeMbPerS(files)), "MB/s")
    val (enc, dec) = ctx.tracer.span("codec.probe.encode_decode")(
      Probes.codecNsPerPosting(ctx.spark, postingsPath))
    ctx.layer("codec.encode_ns_per_posting") = (enc, "ns")
    ctx.layer("codec.decode_ns_per_posting") = (dec, "ns")
    ctx.layer("codec.bytes_per_posting") =
      (ctx.tracer.span("codec.probe.bytes")(Probes.bytesPerPosting(ctx.spark, postingsPath)), "B")
  }
}
