package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One recorded span: `parent` is 0 for a root. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    endNs: Long)

/** In-memory span recorder for the traced run. Spans nest per thread;
  * with tracing off, or while `enabled` is false, `span` only runs its
  * body.
  */
final class Tracer(val on: Boolean) {
  @volatile var enabled = true
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[A](name: String)(body: => A): A =
    if (!on || !enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, name, parent, t0, t1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toVector)

  /** Self time of every span: its duration minus the part of it that
    * its children's intervals cover.
    */
  def selfNs: Map[Int, Long] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
        .sortBy(_._1)
      var covered = 0L
      var (cs, ce) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
        else ce = math.max(ce, b)
      }
      if (ce > cs) covered += ce - cs
      s.id -> math.max(0L, (s.endNs - s.startNs) - covered)
    }.toMap
  }

  /** Per root span named `root`: summed self time (s) by span name in
    * its subtree. One map per root, in start order.
    */
  def selfByRoot(root: String): Seq[Map[String, Double]] = {
    val ss = all
    val byId = ss.map(s => s.id -> s).toMap
    val self = selfNs
    def rootOf(s: Span): Span =
      if (s.parent == 0) s else byId.get(s.parent).map(rootOf).getOrElse(s)
    ss.groupBy(rootOf).toSeq.filter(_._1.name == root).sortBy(_._1.startNs)
      .map { case (_, members) =>
        members.groupBy(_.name).map { case (n, xs) =>
          n -> xs.map(x => self(x.id)).sum / 1e9 }
      }
  }

  /** Spans as JSON lines, times relative to the first span. */
  def write(path: String): Unit = {
    val ss = all.sortBy(_.startNs)
    val t0 = ss.headOption.map(_.startNs).getOrElse(0L)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try ss.foreach(s => w.println(
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_us":${(s.startNs - t0) / 1000},"end_us":${(s.endNs - t0) / 1000}}"""))
    finally w.close()
  }
}

/** Spark counters over the measured window, from a listener the
  * benchmark registers. Jobs submitted from a thread whose local
  * property `perfbench.maint` is "1" are index maintenance; their
  * output bytes are the bytes maintenance rewrote.
  */
final class SparkCounters extends SparkListener {
  @volatile var active = false
  var jobs, tasks, failedTasks = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var runMs, cpuNs, gcMs, maintOutputBytes = 0L
  private val maintStages = mutable.Set.empty[Int]
  private val stageTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  val stageSkew = mutable.ArrayBuffer.empty[Double]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    if (active) jobs += 1
    if (e.properties != null &&
        e.properties.getProperty("perfbench.maint") == "1")
      maintStages ++= e.stageIds
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
    tasks += 1
    if (e.taskInfo != null && e.taskInfo.failed) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      if (maintStages.contains(e.stageId))
        maintOutputBytes += m.outputMetrics.bytesWritten
      stageTimes.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val k = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    stageTimes.remove(k).foreach { ts =>
      val sorted = ts.sorted
      val med = sorted(sorted.size / 2)
      if (sorted.size >= 2 && med > 0) stageSkew += sorted.last.toDouble / med
    }
  }
}

object Jvm {
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}
