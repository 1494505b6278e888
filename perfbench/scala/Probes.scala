package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.analysis.CodeTokenizer
import graft.codec.{Posting, PostingCodec}
import graft.model.SourceFile

/** Micro probes of single layers, environment sentinels and the JVM
  * readings the benchmark reports. Probes run on data this run generated
  * and built; each is timed min-of-k after warm-up passes. */
object Probes {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }

  def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Probe results land here so the JIT cannot drop the probed work. */
  @volatile private var blackhole = 0L

  private def minOfK(warm: Int, k: Int)(f: => Unit): Double = {
    (1 to warm).foreach(_ => f)
    (1 to k).map(_ => secs(f)._2).min
  }

  /** Fixed CPU-bound loop (splitmix64 chain): the ambient-noise sentinel,
    * timed at the start and the end of every run. */
  def calibrationMs(): Double = {
    val t = minOfK(1, 3) {
      var x = 0L; var i = 0
      while (i < 20000000) { x = graft.corpus.CorpusGen.splitmix64(x + i); i += 1 }
      blackhole ^= x
    }
    t * 1000.0
  }

  /** Tokenizer throughput (the build's `termFreqsRaw` path) over up to
    * `maxBytes` of the run's own corpus content. */
  def tokenizeMbPerS(files: Seq[SourceFile], maxBytes: Long = 8L << 20): Double = {
    var bytes = 0L
    val sample = files.iterator.map(_.content).takeWhile { c =>
      val go = bytes < maxBytes; if (go) bytes += c.length; go
    }.toVector
    val t = minOfK(2, 5) { sample.foreach(c => blackhole += CodeTokenizer.termFreqsRaw(c)._2) }
    bytes / 1e6 / t
  }

  /** (encode ns/posting, decode ns/posting) over up to `maxBlocks` posting
    * blocks of the run's own index. */
  def codecNsPerPosting(spark: SparkSession, postingsPath: String,
      maxBlocks: Int = 20000): (Double, Double) = {
    import spark.implicits._
    val blocks = spark.read.parquet(postingsPath).select($"bytes")
      .limit(maxBlocks).as[Array[Byte]].collect()
    val decoded: Array[Vector[Posting]] = blocks.map(PostingCodec.decodeBlock)
    val n = decoded.map(_.length.toLong).sum.toDouble
    var sink = 0L
    val dec = minOfK(3, 7) {
      blocks.foreach(b => PostingCodec.foreachPosting(b)((d, tf) => sink += d + tf))
    }
    val enc = minOfK(3, 7) { decoded.foreach(ps => sink += PostingCodec.encodeBlock(ps).length) }
    blackhole ^= sink
    (enc * 1e9 / n, dec * 1e9 / n)
  }

  /** Encoded bytes per posting over the whole postings table. */
  def bytesPerPosting(spark: SparkSession, postingsPath: String): Double = {
    val r = spark.read.parquet(postingsPath)
      .agg(sum(length(col("bytes"))), sum(col("count"))).head()
    r.getLong(0).toDouble / r.getLong(1)
  }

  /** On-disk bytes of a directory tree (data files; checksum side files,
    * which start with '.', are not counted). */
  def dirBytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return 0L
    val s = java.nio.file.Files.walk(root)
    try s.iterator.asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(java.nio.file.Files.size).sum
    finally s.close()
  }

  /** Heap in use right after a full collection, in MB. */
  def heapAfterGcMb(): Double = {
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    pools.map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  /** Cumulative collection time of every collector, in seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0
}
