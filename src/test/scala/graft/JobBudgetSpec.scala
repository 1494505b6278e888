package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.CodeTokenizer
import graft.checkpoint.Manifest
import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig, PositionalIndex}
import graft.io.TableIO
import graft.model.SourceFile
import graft.query.Searcher

/** The Spark jobs a block launches from the calling thread, each named by
  * its final stage's call site. */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"graft-jobcount-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add(j.stageInfos.maxBy(_.stageId).name)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, jobs.toArray(Array.empty[String]).toSeq)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }
}

/** Counts every storage operation the index layer makes through the
  * [[Manifest.wrapIO]] seam while a block runs. */
object StorageOpCount {
  def apply[T](body: => T): (T, Int) = {
    val n = new AtomicInteger(0)
    val prev = Manifest.wrapIO
    Manifest.wrapIO = io => new Counting(prev(io), n)
    try { val r = body; (r, n.get) } finally Manifest.wrapIO = prev
  }

  private final class Counting(io: TableIO, n: AtomicInteger) extends TableIO {
    private def op[T](f: => T): T = { n.incrementAndGet(); f }
    def exists(path: String): Boolean = op(io.exists(path))
    def isDirectory(path: String): Boolean = op(io.isDirectory(path))
    def readBytes(path: String): Array[Byte] = op(io.readBytes(path))
    def list(dir: String): Seq[String] = op(io.list(dir))
    def size(path: String): Long = op(io.size(path))
    def mtimeMs(path: String): Long = op(io.mtimeMs(path))
    def atomicWrite(path: String, bytes: Array[Byte]): Unit =
      op(io.atomicWrite(path, bytes))
    def createExclusive(path: String, bytes: Array[Byte]): Boolean =
      op(io.createExclusive(path, bytes))
    def deleteIfExists(path: String): Boolean = op(io.deleteIfExists(path))
    def deleteRecursively(path: String): Int = op(io.deleteRecursively(path))
    def mkdirs(path: String): Unit = op(io.mkdirs(path))
    def rename(src: String, dst: String): Unit = op(io.rename(src, dst))
  }
}

/** Fixed Spark-job and storage-operation budgets of the build and of the
  * serving set-up on a small index inside the driver-local budget: every
  * index structure is read with its declared schema, so no read launches a
  * schema-inference job, and a Searcher resolves everything from one
  * manifest snapshot. */
class JobBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val NumFiles = 300L

  /** The corpus as a parquet table, the way a build reads it in
    * deployment. */
  lazy val corpus: Dataset[SourceFile] = {
    import spark.implicits._
    val dir = TestSpark.tmpDir("graft-budget-corpus") + "/corpus"
    CorpusGen.generate(spark, NumFiles, partitions = 4).write.parquet(dir)
    spark.read.schema(Encoders.product[SourceFile].schema).parquet(dir)
      .as[SourceFile]
  }

  lazy val cfg = IndexConfig(indexDir = TestSpark.tmpDir("graft-budget"),
    numShards = 32)

  lazy val buildJobs: Seq[String] = {
    val ds = corpus // staged outside the count
    val jobs = JobCount(spark)(IndexBuilder.build(spark, ds, cfg))._2
    PositionalIndex.build(spark, ds, cfg)
    jobs
  }

  test("IndexBuilder.build launches at most 18 Spark jobs") {
    info(s"build: ${buildJobs.size} jobs: ${buildJobs.mkString(", ")}")
    assert(buildJobs.size <= 18)
  }

  test("opening a Searcher and serving its first ranked query: <= 3 jobs, " +
      "one manifest snapshot") {
    buildJobs
    val (((s, top), jobs), ops) = StorageOpCount {
      JobCount(spark) {
        val s = new Searcher(spark, cfg)
        (s, s.searchWAND("if return", 10))
      }
    }
    info(s"open + first searchWAND: ${jobs.size} jobs (${jobs.mkString(", ")})," +
      s" $ops storage operations")
    assert(top.nonEmpty)
    assert(jobs.size <= 3)
    // one snapshot: the mirror's existence and bytes, and the probe for a
    // newer claim
    assert(ops <= 3)
    s.close()
  }

  test("a gather-path phrase query launches one Spark job") {
    buildJobs
    val s = new Searcher(spark, cfg)
    s.searchWAND("if return", 10) // loads the serving caches
    val first = corpus.collect().minBy(f => (f.repo, f.path, f.commit))
    val phrase = CodeTokenizer.tokenize(first.content).slice(3, 5).mkString(" ")
    val (hits, jobs) = JobCount(spark)(s.searchPhrase(phrase, 10))
    info(s"searchPhrase('$phrase'): ${jobs.size} jobs (${jobs.mkString(", ")})")
    assert(hits.nonEmpty)
    assert(jobs.size == 1)
    s.close()
  }
}
