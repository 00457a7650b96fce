package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder. A span has a name (the layer), start and end,
  * the span that caused it and the request it belongs to. Spans are kept
  * in memory and written out when the run ends. With `enabled = false`
  * every call is a plain pass-through, so untraced runs pay nothing. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, request: Int, name: String, startNs: Long, endNs: Long)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger()
  private val current = ThreadLocal.withInitial[Integer](() => 0)
  private val request = ThreadLocal.withInitial[Integer](() => 0)
  private val counters = TrieMap.empty[String, AtomicLong]

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = current.get
      current.set(id)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, request.get, name, t0, System.nanoTime()))
        current.set(parent)
      }
    }

  /** Runs `f` as request `req`: every span it opens carries that id. */
  def asRequest[T](req: Int)(f: => T): T = {
    request.set(req)
    try f finally request.set(0)
  }

  def count(name: String, n: Long = 1L): Unit =
    if (enabled) counters.getOrElseUpdate(name, new AtomicLong()).addAndGet(n)

  def counter(name: String): Long = counters.get(name).map(_.get).getOrElse(0L)

  def clear(): Unit = { spans.clear(); counters.clear() }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span name in ms: each span's duration minus the time
    * its direct children cover (children run nested on the same thread). */
  def selfMs: Map[String, Double] = {
    val ss = all
    val childNs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    ss.groupBy(_.name).map { case (n, group) =>
      n -> group.map(s => (s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L)).sum / 1e6
    }
  }

  /** Total (inclusive) time per span name in ms. */
  def totalMs: Map[String, Double] =
    all.groupBy(_.name).map { case (n, group) => n -> group.map(s => s.endNs - s.startNs).sum / 1e6 }

  def toJson: String = all.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Scheduler-side counts (jobs, stages, tasks, task run time, shuffle,
  * spill and input bytes) and Catalyst phase times of every executed
  * plan, collected by listeners the benchmark registers itself. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  val jobs, stages, tasks, runTimeMs, shuffleWrite, shuffleRead, spill, input = new AtomicLong()
  val phaseMs: TrieMap[String, AtomicLong] = TrieMap.empty

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      runTimeMs.addAndGet(m.executorRunTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (phase, summary) =>
      phaseMs.getOrElseUpdate(phase, new AtomicLong()).addAndGet(summary.durationMs)
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def phase(name: String): Long = phaseMs.get(name).map(_.get).getOrElse(0L)

  private def gcTotalMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  @volatile private var gcBase = gcTotalMs
  /** JVM garbage-collection time since the last reset. */
  def gcMs: Double = (gcTotalMs - gcBase).toDouble

  /** Zeroes every count at the start of the timed window. */
  def reset(sc: SparkContext): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    Seq(jobs, stages, tasks, runTimeMs, shuffleWrite, shuffleRead, spill, input).foreach(_.set(0L))
    phaseMs.clear()
    gcBase = gcTotalMs
  }
}
