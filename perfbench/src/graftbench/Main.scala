package graftbench

import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** Benchmark entry point: one workload, one seed, one Spark session.
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --work <dir> --cores <n> [--spans <file>]
  * }}}
  *
  * Untraced (`--trace 0`) it sets up, warms up, repeats the workload's
  * operation for `--seconds` and prints the end-to-end metrics. Traced,
  * it repeats the operation for half the time untraced and half traced,
  * runs the layer tour and prints the per-layer metrics. The last stdout
  * line is the result object. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, cores: Int, spans: Option[Path])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      need("cores").toInt, m.get("spans").map(Paths.get(_)))
  }

  /** Corpus size of the curation queries: documents, embeddings. */
  val Corpus = (1000, 500)

  def workload(name: String, c: Ctx): Workload = name match {
    case "ingest_many_small" =>
      new IngestWorkload(c,
        () => Inputs.manySmall(c.in.resolve("drop"), c.seed, 8, 500),
        () => Inputs.manySmall(c.in.resolve("warm"), c.seed + 3, 1, 500))
    case "export_reports" => new ExportWorkload(c, 500, 60000)
    case "curate_dedup" => new CurateWorkload(c, Corpus._1, Corpus._2)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs as many operations as fit in `seconds` at the workload's
    * nominal operation length, at least one: every run, and every commit,
    * is timed on the same operations. */
  def loop(w: Workload, seconds: Double, beforeOp: () => Unit = () => ()): Seq[Op] =
    (0 until math.max(1, math.round(seconds / w.nominalOpS).toInt)).map { i =>
      beforeOp()
      w.op(i)
    }

  def endToEnd(ops: Seq[Op], setupS: Double): Seq[Metric] = Seq(
    Metric("setup_s", setupS, "s"),
    Metric("rows_per_s", ops.map(_.rows).sum / ops.map(_.seconds).sum, "rows/s"),
    Metric("op_s_p50", Stats.median(ops.map(_.seconds)), "s"),
    Metric("stored_bytes_per_row",
      ops.map(_.outBytes).sum.toDouble / ops.map(_.rows).sum, "B/row"))

  /** Spark counters of the operations' program calls, per operation. */
  def sparkLayer(calls: Seq[Span], ops: Int, heapMb: Double): Seq[Metric] = {
    def per(f: Snap => Double) = calls.map(s => f(s.delta)).sum / ops
    Seq(
      Metric("spark.jobs", per(_.jobs.toDouble), "jobs/op"),
      Metric("spark.tasks", per(_.tasks.toDouble), "tasks/op"),
      Metric("spark.task_run_s", per(_.runMs / 1000.0), "s/op"),
      Metric("spark.task_deser_s", per(_.deserMs / 1000.0), "s/op"),
      Metric("spark.gc_s", per(_.gcMs / 1000.0), "s/op"),
      Metric("spark.shuffle_write_bytes", per(_.shuffleWrite.toDouble), "B/op"),
      Metric("spark.spill_bytes", per(_.spill.toDouble), "B/op"),
      Metric("spark.driver_idle_s",
        calls.map(s => s.seconds - s.delta.busyMs / 1000.0).sum / ops, "s/op"),
      Metric("jvm.heap_peak_mb", heapMb, "MB"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    Seq("in", "out", "warehouse", "tmp").foreach(d => Files.createDirectories(o.work.resolve(d)))
    val spark = session(o)
    try {
      val c = new Ctx(spark, o.work, o.seed, new Tracer(spark))
      val w = workload(o.workload, c)
      val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
      w.setup()
      val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
      System.err.println(f"[perfbench] session up at $sessionS%.2f s, set up at $setupS%.2f s")
      val metrics =
        if (!o.trace) {
          val ops = loop(w, o.seconds)
          System.err.println(s"[perfbench] operation seconds: ${ops.map(op => f"${op.seconds}%.3f").mkString(" ")}")
          endToEnd(ops, setupS)
        } else {
          // Untraced, traced, untraced again: the operation keeps getting
          // faster as the JVM warms, so the overhead compares the traced
          // third with the mean of the two untraced ones around it.
          val before = loop(w, o.seconds / 3)
          c.tracer.start()
          val mark = c.tracer.mark
          Heap.reset()
          val marks = ArrayBuffer.empty[Int]
          val traced = loop(w, o.seconds / 3, () => marks += c.tracer.mark)
          val heap = Heap.peakMb
          val end = c.tracer.mark
          c.tracer.stop()
          val after = loop(w, o.seconds / 3)
          c.tracer.start()
          val spans = c.tracer.between(mark, end)
          val calls = spans.filter(s => s.parent == -1 && s.name.startsWith(w.callSpan))
          // Spans of each traced operation, for the per-pass medians.
          val perOp = marks.zip(marks.tail :+ end).map {
            case (from, until) => c.tracer.between(from, until) }.toSeq
          val p50 = (ops: Seq[Op]) => Stats.median(ops.map(_.seconds))
          val plain = (p50(before) + p50(after)) / 2
          val overhead = Metric("trace.overhead_share", p50(traced) / plain - 1, "share")
          val tour = new Tour(c).run(
            coldIngest = w.isInstanceOf[CurateWorkload],
            exportFromLoop = if (w.isInstanceOf[ExportWorkload]) Some(Tour.exportMetrics(perOp)) else None,
            queriesFromLoop = if (w.isInstanceOf[CurateWorkload]) Some(Tour.queryMetrics(perOp)) else None,
            corpus = Corpus)
          o.spans.foreach(c.tracer.write)
          (overhead +: sparkLayer(calls, traced.size, heap)) ++ tour
        }
      metrics.foreach(m => println(f"${m.name}%-40s ${m.value}%16.6f ${m.unit}"))
      println(f"failed_op_share ${c.failed.toDouble / math.max(c.attempted, 1)}%.4f " +
        s"(${c.failed} of ${c.attempted} checked operations)")
      println(Json.result(c.failed == 0, c.attempted, c.failed, metrics))
    } finally spark.stop()
  }
}

object Json {
  private def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def result(correct: Boolean, attempted: Long, failed: Long, ms: Seq[Metric]): String = {
    val body = ms.map(m => s"${str(m.name)}: {\"value\": ${m.value}, \"unit\": ${str(m.unit)}}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}"""
  }
}
