package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

object Disk {
  /** Bytes of every regular file under `p` (0 when absent). */
  def bytes(p: Path): Long = files(p).map(Files.size).sum

  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
      .foreach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Spark counters summed since the listener was registered. */
final case class Snap(jobs: Long, tasks: Long, runMs: Long, deserMs: Long,
    gcMs: Long, shuffleWrite: Long, spill: Long, busyMs: Long, planMs: Long) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks, runMs - o.runMs,
    deserMs - o.deserMs, gcMs - o.gcMs, shuffleWrite - o.shuffleWrite,
    spill - o.spill, busyMs - o.busyMs, planMs - o.planMs)
}

/** Job, task and planning counters from a SparkListener and a
  * QueryExecutionListener. Busy time is the union of job intervals, by
  * the timestamps the scheduler puts on its job events. */
final class Counters extends SparkListener with QueryExecutionListener {
  private var jobs, tasks, runMs, deserMs, gcMs, shuffleWrite, spill = 0L
  private var busyMs, planMs = 0L
  private var active = 0
  private var busySince = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    if (active == 0) busySince = e.time
    active += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    active -= 1
    if (active == 0) busyMs += e.time - busySince
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      deserMs += m.executorDeserializeTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    planMs += qe.tracker.phases.iterator
      .filter { case (k, _) => k != "parsing" }
      .map(_._2.durationMs).sum
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    planned(qe)

  def snap(): Snap = synchronized {
    Snap(jobs, tasks, runMs, deserMs, gcMs, shuffleWrite, spill, busyMs, planMs)
  }
}

/** One span: a public call the benchmark made, with the counters that
  * moved while it ran. `parent` is -1 at the top level. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, delta: Snap) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into the program, plus Spark
  * counters read at the same boundaries. Off until `start`; while off,
  * `span` only runs its body. Spans stay in memory until `write`. */
final class Tracer(spark: SparkSession) {
  private val counters = new Counters
  private var on = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def start(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
    on = true
  }

  def stop(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(counters)
    spark.listenerManager.unregister(counters)
    on = false
  }

  /** Seconds spent waiting for the listener bus inside open spans: the
    * part of a parent span's duration that tracing itself added. */
  var nestedDrainS = 0.0

  /** Waits until the listener bus has delivered every posted event. */
  def drain(): Unit = if (on) {
    val t0 = System.nanoTime()
    org.apache.spark.BusAccess.drain(spark.sparkContext)
    if (stack.nonEmpty) nestedDrainS += (System.nanoTime() - t0) / 1e9
  }

  def snap(): Snap = { drain(); counters.snap() }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val before = snap()
      val id = spans.size
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans(id) = Span(id, parent, name, t0, t1, snap() - before)
      }
    }

  def all: Seq[Span] = spans.filter(_ != null).toSeq
  def mark: Int = spans.size
  def since(mark: Int): Seq[Span] = between(mark, spans.size)
  def between(from: Int, until: Int): Seq[Span] =
    spans.slice(from, until).filter(_ != null).toSeq

  def write(path: Path): Unit = {
    val lines = all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${s.delta.jobs},""" +
        s""""tasks":${s.delta.tasks},"task_run_ms":${s.delta.runMs},""" +
        s""""plan_ms":${s.delta.planMs},"busy_ms":${s.delta.busyMs}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.asJava)
  }
}

/** Peak heap, summed over the heap memory pools since the last reset. */
object Heap {
  private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def reset(): Unit = pools.foreach(_.resetPeakUsage())
  def peakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
