package graftbench

import graft.api.{Export, ExportConfig, ExportFormat, Ingest, IngestConfig, IngestReport}
import graft.io.{FormatReader, LocalStore, ObjectStat, ObjectStore}
import graft.queries.Registry
import graft.sink.TableRef
import graftbench.Inputs.{Drop, Expect}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import java.io.{InputStream, OutputStream}
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** Run-wide state: the session, the run's directories, the tracer and
  * the tally of operations attempted and failed. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val tracer: Tracer) {
  val in: Path = work.resolve("in")
  val out: Path = work.resolve("out")
  val warehouse: Path = work.resolve("warehouse")
  val tmp: Path = work.resolve("tmp")
  var attempted = 0L
  var failed = 0L
  private var tags = 0

  /** A name no earlier table or folder of this run used. */
  def tag(prefix: String): String = { tags += 1; s"$prefix$tags" }

  /** Bytes the program has left on disk: tables, artifacts, temp dirs. */
  def storedBytes(): Long = Disk.bytes(warehouse) + Disk.bytes(out) + Disk.bytes(tmp)

  /** Counts one checked operation; logs and counts its problems. */
  def check(what: String, problems: Seq[String]): Int = {
    attempted += 1
    if (problems.isEmpty) 0
    else {
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED $what: ${problems.mkString("; ")}")
      1
    }
  }
}

/** One timed operation: its wall time, the rows it moved and the bytes it
  * left on disk. */
final case class Op(seconds: Double, rows: Long, outBytes: Long)

trait Workload {
  /** Generates inputs and runs the warm-up. */
  def setup(): Unit
  /** Runs timed operation `i`; the same `i` selects the same inputs. */
  def op(i: Int): Op
  /** Top-level span name of the program calls one operation makes. */
  def callSpan: String
  /** Seconds one operation took when the benchmark was added; sets how
    * many operations a run of a given length times. */
  def nominalOpS: Double
}

object Checks {
  private def counts(rows: Array[org.apache.spark.sql.Row]): Map[String, Long] =
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap

  private def sumMaps(ms: Seq[Map[String, Long]]): Map[String, Long] =
    ms.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _)

  /** Main and `_error` contents plus the audit trail of the ingests of
    * `drops` into one table pair. */
  def tables(spark: SparkSession, ref: TableRef, drops: Seq[Expect]): Seq[String] = {
    val p = ArrayBuffer.empty[String]
    val valid = drops.map(_.valid).sum
    val main = spark.table(ref.qualified).count()
    if (main != valid) p += s"main rows $main != $valid"
    val errs = counts(spark.table(ref.errorSibling.qualified)
      .groupBy("error_type").count().collect())
    val wantErrs = sumMaps(drops.map(_.errors))
    if (errs != wantErrs) p += s"error classes $errs != $wantErrs"
    val actions = counts(spark.table(s"${ref.database}.box_ingestion_log")
      .groupBy("job_action").count().collect())
    val wantActions = sumMaps(drops.map(_.actions))
    if (actions != wantActions) p += s"audit actions $actions != $wantActions"
    p.toSeq
  }

  def report(rep: IngestReport, e: Expect): Seq[String] = {
    val p = ArrayBuffer.empty[String]
    if (rep.errors.nonEmpty) p += s"report errors ${rep.errors.mkString(" | ")}"
    if (rep.validRows != e.valid || rep.invalidRows != e.invalid)
      p += s"report rows ${rep.validRows}/${rep.invalidRows} != ${e.valid}/${e.invalid}"
    if (rep.processedFiles.size != e.processed)
      p += s"processed ${rep.processedFiles.size} files != ${e.processed}"
    p.toSeq
  }

  def ingest(spark: SparkSession, ref: TableRef, rep: IngestReport, e: Expect): Seq[String] =
    report(rep, e) ++ tables(spark, ref, Seq(e))
}

object IngestWorkload {
  /** The ingest call for drop `d` into `ref`, validating against the spec. */
  def conf(ref: TableRef, d: Drop): IngestConfig = IngestConfig(
    taskOwner = "perfbench", table = ref, folder = d.dir.toString,
    fileNameRegex = d.regex, metadata = Some(Inputs.Meta), justCopy = false)
}

/** Ingest of a drop into fresh tables, one `Ingest.execute` per drop. */
final class IngestWorkload(c: Ctx, makeDrops: () => IndexedSeq[Drop], warm: () => Seq[Drop])
    extends Workload {
  private var drops: IndexedSeq[Drop] = IndexedSeq.empty
  val callSpan = "api.Ingest.execute"
  val nominalOpS = 6.3

  def ingest(d: Drop, tag: String): (TableRef, IngestReport, Double) = {
    val ref = TableRef("bench", tag, "orders")
    val t0 = System.nanoTime()
    val rep = c.tracer.span(callSpan)(Ingest.execute(IngestWorkload.conf(ref, d))(c.spark))
    (ref, rep, (System.nanoTime() - t0) / 1e9)
  }

  def setup(): Unit = {
    drops = makeDrops()
    warm().foreach { d =>
      val (ref, rep, _) = ingest(d, c.tag("warm"))
      c.check("warm-up ingest", Checks.ingest(c.spark, ref, rep, d.expect))
    }
  }

  def op(i: Int): Op = {
    val d = drops(i % drops.size)
    val before = c.storedBytes()
    val (ref, rep, s) = ingest(d, c.tag("i"))
    val stored = c.storedBytes() - before
    c.check(s"ingest ${d.regex}", Checks.ingest(c.spark, ref, rep, d.expect))
    Op(s, d.expect.rows, stored)
  }
}

/** A LocalStore whose uploads run inside a span: the time to drain the
  * query result into the artifact. */
final class TracedStore(tracer: Tracer) extends ObjectStore {
  private val local = new LocalStore
  def list(folder: String): Seq[ObjectStat] = local.list(folder)
  def open(folder: String, name: String): InputStream = local.open(folder, name)
  def putOverwrite(folder: String, name: String, write: OutputStream => Unit): Unit =
    local.putOverwrite(folder, name, out => tracer.span("io.store.put")(write(out)))
  def delete(folder: String, name: String): Unit = local.delete(folder, name)
}

/** The report list the export workload repeats. An `_error` record
  * keeps its file's own header spelling, hence `lower` before the key
  * lookup. */
final case class Report(file: String, format: ExportFormat, sql: String)

object Reports {
  def of(db: String): Seq[Report] = Seq(
    Report("daily_totals.xlsx", ExportFormat.Xlsx,
      s"""SELECT ship_date, status, count(*) AS lines, sum(amount) AS amount
         |FROM $db.orders GROUP BY ship_date, status""".stripMargin),
    Report("slice_1994.xlsx", ExportFormat.Xlsx,
      s"""SELECT order_id, amount, ship_date, placed_at, status FROM $db.orders
         |WHERE ship_date >= DATE'1994-01-01' AND ship_date < DATE'1995-04-01'""".stripMargin),
    Report("orders.csv", ExportFormat.Csv,
      s"SELECT order_id, amount, ship_date, placed_at, status FROM $db.orders"),
    Report("rejected_orders.xlsx", ExportFormat.Xlsx,
      s"""SELECT e.error_type, m.order_id, m.amount, m.ship_date
         |FROM $db.orders_error e JOIN $db.orders m
         |ON m.order_id = try_cast(get_json_object(lower(e.record), '$$.order_id') AS DOUBLE)""".stripMargin))

  /** One pass over `reports` into `folder`: per-call wall times and the
    * problems of each call. `reread` re-parses every artifact. */
  def pass(c: Ctx, reports: Seq[Report], expected: Map[String, Long], folder: Path,
      logDb: String, reread: Boolean): (Seq[Double], Long) = {
    val store = new TracedStore(c.tracer)
    var rows = 0L
    val times = reports.map { r =>
      val conf = ExportConfig(taskOwner = "perfbench", query = r.sql,
        folder = folder.toString, fileName = r.file, format = r.format,
        logTable = TableRef("bench", logDb, "export"))
      val t0 = System.nanoTime()
      val rep = c.tracer.span("api.Export.execute")(Export.execute(conf, store)(c.spark))
      val s = (System.nanoTime() - t0) / 1e9
      val p = ArrayBuffer.empty[String]
      if (rep.errors.nonEmpty) p += s"report errors ${rep.errors.mkString(" | ")}"
      if (rep.rows != expected(r.file)) p += s"rows ${rep.rows} != ${expected(r.file)}"
      if (reread) {
        val back = r.format match {
          case ExportFormat.Xlsx =>
            FormatReader.read(c.spark, folder.resolve(r.file)) match {
              case FormatReader.Parsed(df) => df.count()
              case _ => -1L
            }
          case _ =>
            val s = Files.lines(folder.resolve(r.file))
            try s.count() - 1 finally s.close()
        }
        if (back != rep.rows) p += s"re-read ${back} rows != ${rep.rows}"
      }
      c.check(s"export ${r.file}", p.toSeq)
      rows += rep.rows
      s
    }
    (times, rows)
  }
}

/** Repeats the report list over one ingested table pair. */
final class ExportWorkload(c: Ctx, small: Int, bulkRows: Int) extends Workload {
  private val db = "bench_export"
  private val reports = Reports.of(db)
  private var expected = Map.empty[String, Long]
  private var lastFolder: Option[Path] = None
  val callSpan = "api.Export.execute"
  val nominalOpS = 1.55

  def setup(): Unit = {
    val dir = c.in.resolve("export")
    val drops = Seq(Inputs.mixed(dir, "e", c.seed, small,
        Seq(Inputs.JsonLines, Inputs.Xlsx))) ++
      Inputs.bulk(dir, c.seed + 1, 1, bulkRows)
    val ref = TableRef("bench", "export", "orders")
    drops.foreach(d => c.check(s"export setup ingest ${d.regex}",
      Checks.report(Ingest.execute(IngestWorkload.conf(ref, d))(c.spark), d.expect)))
    c.check("export setup tables", Checks.tables(c.spark, ref, drops.map(_.expect)))
    expected = reports.map(r =>
      r.file -> c.spark.sql(s"SELECT count(*) FROM (${r.sql})").head().getLong(0)).toMap
    System.err.println(s"[perfbench] report rows: $expected")
    // Warm-up pass; it also re-reads every artifact it wrote.
    Reports.pass(c, reports, expected, c.out.resolve(c.tag("pass")), "export_log", reread = true)
  }

  def op(i: Int): Op = {
    lastFolder.foreach(Disk.delete)
    val folder = c.out.resolve(c.tag("pass"))
    lastFolder = Some(folder)
    val before = c.storedBytes()
    val (times, rows) = Reports.pass(c, reports, expected, folder, "export_log", reread = false)
    Op(times.sum, rows, c.storedBytes() - before)
  }
}

/** The curation registry queries over a seeded copy of the corpus, each
  * materialized through the noop sink with an observed count and an
  * order-insensitive hash of its rows. */
final class CurateWorkload(c: Ctx, docs: Int, vecs: Int) extends Workload {
  val callSpan = "queries."
  val nominalOpS = 14.0
  private val dir = c.in.resolve("corpus")
  private val fns = Curate.Names.map(n => n -> Registry.byName(n))

  def setup(): Unit = {
    Inputs.corpus(c.spark, dir, c.seed, docs, vecs)
    Curate.concurrent(c, fns, dir)
  }

  def op(i: Int): Op = {
    val before = c.storedBytes()
    val times = Curate.pass(c, fns, dir)
    Op(times.sum, docs.toLong, c.storedBytes() - before)
  }
}

object Curate {
  val Names = Seq("d16_dedup_prefix", "d23_neardup_index", "s7_knn_ivfpq",
    "p4_curation_neardup")

  /** (rows, xor of row hashes, sum of row hashes mod 1000003) of each
    * query's output over the benchmark corpus. The corpus text is fixed
    * and the seed only reorders rows, so these hold for every seed. */
  val Pinned: Map[String, (Long, Long, Long)] = Map(
    "d16_dedup_prefix" -> (87L, 275569723847124926L, 45038521L),
    "d23_neardup_index" -> (32L, 8326474834289704758L, 15729405L),
    "s7_knn_ivfpq" -> (50L, -2421193219102559567L, 25183659L),
    "p4_curation_neardup" -> (486L, 1109502699235431974L, 245929639L))

  type Query = (SparkSession, String) => org.apache.spark.sql.DataFrame

  /** Every query once, all at the same time, each on its own session
    * clone (the four are session-isolated, as the registry's concurrent
    * sweep relies on). Returns each query's wall and planning seconds.
    * This is the workload's warm-up. */
  def concurrent(c: Ctx, fns: Seq[(String, Query)], dir: Path): Seq[(String, Double, Double)] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(fns.size)
    try fns.map { case (name, fn) =>
      pool.submit(new java.util.concurrent.Callable[(String, Double, Double)] {
        def call(): (String, Double, Double) = {
          val session = c.spark.newSession()
          val plan = new Counters
          session.listenerManager.register(plan)
          val t0 = System.nanoTime()
          fn(session, dir.toString).write.format("noop").mode("overwrite").save()
          val s = (System.nanoTime() - t0) / 1e9
          org.apache.spark.BusAccess.drain(c.spark.sparkContext)
          (name, s, plan.snap().planMs / 1000.0)
        }
      })
    }.map(_.get())
    finally pool.shutdown()
  }

  /** The queries one after another, each checked against `Pinned`;
    * returns their wall seconds. */
  def pass(c: Ctx, fns: Seq[(String, Query)], dir: Path): Seq[Double] = fns.map { case (name, fn) =>
    val obs = Observation()
    val t0 = System.nanoTime()
    c.tracer.span(s"queries.$name") {
      val df = fn(c.spark, dir.toString)
      val h = xxhash64(df.columns.toSeq.map(col): _*)
      df.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"),
          sum(pmod(h, lit(1000003L))).as("s"))
        .write.format("noop").mode("overwrite").save()
    }
    val s = (System.nanoTime() - t0) / 1e9
    val m = obs.get
    val got = (m("n").asInstanceOf[Long], m("x").asInstanceOf[Long],
      m("s").asInstanceOf[Long])
    c.check(s"query $name", Pinned.get(name) match {
      case Some(want) if want == got => Nil
      case want => Seq(s"output (rows, xor, sum) $got != pinned $want")
    })
    s
  }
}
