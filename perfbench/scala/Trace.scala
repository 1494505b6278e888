package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicInteger}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded call into an engine layer. `layer` is the first dotted
  * segment of `name` (analysis, codec, corpus, index, checkpoint, sources,
  * query); `req` groups the spans of one request or maintenance cycle. */
final case class Span(id: Int, parent: Int, name: String, req: String,
    thread: String, startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span through its job group. */
final class SparkCounts {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
}

/** Spans and Spark counters recorded from outside the engine.
  *
  * Every span sets its own Spark job group on the calling thread and
  * restores the enclosing one when it ends, so a job-group-scoped listener
  * attributes each job (and its tasks) to the innermost span that launched
  * it. Jobs submitted from threads that never inherited a group — engine
  * thread pools created before the span — are counted as unattributed,
  * never dropped. Spans stay in memory until the run ends.
  *
  * A disabled tracer records nothing and installs no listener: `span` is
  * then a plain call. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val nextId = new AtomicInteger(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Int, String)]] {
    override def initialValue(): List[(Int, String)] = Nil
  }
  private val bySpan = new ConcurrentHashMap[Int, SparkCounts]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val unattributedJobs = new AtomicLong
  private val jobsStarted = new AtomicLong
  private val jobsEnded = new AtomicLong

  private val GroupPrefix = "perfbench-span-"
  /** The local property SparkContext.setJobGroup sets on the caller's thread. */
  private val JobGroupKey = "spark.jobGroup.id"

  private val listener = new SparkListener {
    override def onJobEnd(j: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobsStarted.incrementAndGet()
      val g = Option(j.properties).flatMap(p =>
        Option(p.getProperty(JobGroupKey)))
      g.filter(_.startsWith(GroupPrefix)).map(_.drop(GroupPrefix.length).toInt) match {
        case Some(id) =>
          val c = counts(id)
          c.jobs.incrementAndGet()
          c.tasks.addAndGet(j.stageInfos.map(_.numTasks.toLong).sum)
          j.stageIds.foreach(s => stageSpan.put(s, id))
        case None => unattributedJobs.incrementAndGet()
      }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.get(t.stageId)
      val m = t.taskMetrics
      if (id != 0 && m != null) {
        val c = counts(id)
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  if (enabled) sc.addSparkListener(listener)

  @volatile private var paused = false

  /** Run `body` with no spans and no listener: the untraced half of a
    * traced run, against which tracing overhead is measured. */
  def untraced[T](body: => T): T = {
    if (!enabled) return body
    drain()
    sc.removeSparkListener(listener)
    paused = true
    try body
    finally { paused = false; sc.addSparkListener(listener) }
  }

  private def counts(id: Int): SparkCounts =
    bySpan.computeIfAbsent(id, _ => new SparkCounts)

  /** Run `body` as span `name` of request `req` (inherits the enclosing
    * span's request when empty). */
  def span[T](name: String, req: String = "")(body: => T): T = {
    if (!enabled || paused) return body
    val id = nextId.incrementAndGet()
    val outer = stack.get()
    val parent = outer.headOption.map(_._1).getOrElse(0)
    val r = if (req.nonEmpty) req else outer.headOption.map(_._2).getOrElse("")
    stack.set((id, r) :: outer)
    sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      spans.add(Span(id, parent, name, r, Thread.currentThread().getName, t0, t1))
      stack.set(outer)
      outer.headOption match {
        case Some((pid, _)) =>
          sc.setJobGroup(GroupPrefix + pid, "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** The listener bus is asynchronous: wait until every started job's end
    * event (and so its tasks' events) has been delivered. */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var last = -1L
    while (System.nanoTime() < deadline &&
        (jobsEnded.get != jobsStarted.get || jobsStarted.get != last)) {
      last = jobsStarted.get
      Thread.sleep(100)
    }
  }

  def all: Vector[Span] = spans.asScala.toVector.sortBy(_.startNs)

  def named(name: String): Vector[Span] = all.filter(_.name == name)

  /** Child spans by parent id, rebuilt only when spans were added. */
  private var kidsOf: (Int, Map[Int, Vector[Span]]) = (-1, Map.empty)
  private def children: Map[Int, Vector[Span]] = synchronized {
    if (kidsOf._1 != nextId.get) kidsOf = (nextId.get, all.groupBy(_.parent))
    kidsOf._2
  }

  /** Counters of a span plus every span nested under it. */
  def inclusive(root: Span): SparkCounts = {
    val kids = children
    val out = new SparkCounts
    def add(id: Int): Unit = {
      Option(bySpan.get(id)).foreach { c =>
        out.jobs.addAndGet(c.jobs.get); out.tasks.addAndGet(c.tasks.get)
        out.cpuNs.addAndGet(c.cpuNs.get); out.gcMs.addAndGet(c.gcMs.get)
        out.shuffleWrite.addAndGet(c.shuffleWrite.get)
        out.shuffleRead.addAndGet(c.shuffleRead.get)
        out.spill.addAndGet(c.spill.get)
      }
      kids.getOrElse(id, Nil).foreach(s => add(s.id))
    }
    add(root.id)
    out
  }

  /** Self time per layer: each span's duration minus the part of it that
    * its child spans cover (children of one span never overlap: a span's
    * children run on its own thread). */
  def selfSecondsByLayer: Map[String, Double] = {
    val kids = children
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    all.foreach { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .filter(_.thread == s.thread).map(_.seconds).sum
      acc(s.layer) += math.max(0.0, s.seconds - covered)
    }
    acc.toMap
  }

  def stop(): Unit = if (enabled) sc.removeSparkListener(listener)

  /** Spans as JSON lines (written out once, when the run ends). */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""req":"${s.req}","thread":"${s.thread}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
