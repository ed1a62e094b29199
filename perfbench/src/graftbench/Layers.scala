package graftbench

import graft.api.Ingest
import graft.functions.{BandHashes, PqAdc, ShingleJaccard, SortedIdPairs}
import graft.io.{FileSelect, FormatReader, LocalStore, Xlsx, Zip}
import graft.queries.Registry
import graft.sink.{AuditLog, TableRef, TableSink}
import graft.validate.ValidateAndSplit
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** One reported metric. */
final case class Metric(name: String, value: Double, unit: String)

/** The per-layer half of a traced run. Every layer the workloads cross
  * is measured here, the same way on every workload: an ingest of a
  * mixed-format drop and its decomposed replay through the io, validate
  * and sink entry points, micro-benchmarks of the validator, the table
  * writer, the xlsx writer and the fused kernels, and (where the
  * workload does not already run them) an export pass and a curation
  * pass. */
final class Tour(c: Ctx) {
  private def spark = c.spark
  private val t = c.tracer

  def run(coldIngest: Boolean, exportFromLoop: Option[Seq[Metric]],
      queriesFromLoop: Option[Seq[Metric]], corpus: (Int, Int)): Seq[Metric] =
    ingestLayers(coldIngest) ++ microbenches() ++
      exportFromLoop.getOrElse(exportProbe()) ++
      queriesFromLoop.getOrElse(queriesProbe(corpus._1, corpus._2)) ++
      Kernels.run()

  private val tourRef = TableRef("bench", "tour", "orders")

  /** `Ingest.execute` on the mixed drop, then the same drop replayed
    * call by call through the layers the orchestrator composes. */
  private def ingestLayers(coldIngest: Boolean): Seq[Metric] = {
    val d = Inputs.mixed(c.in.resolve("tour"), "t", c.seed + 7, 500, Inputs.EveryKind)
    if (coldIngest) {
      val warm = TableRef("bench", "tour_warm", "orders")
      c.check("tour warm-up ingest", Checks.ingest(spark, warm,
        Ingest.execute(IngestWorkload.conf(warm, d))(spark), d.expect))
    }

    val mark = t.mark
    val rep = t.span("tour.Ingest.execute")(Ingest.execute(IngestWorkload.conf(tourRef, d))(spark))
    val call = t.since(mark).head
    c.check("tour ingest", Checks.ingest(spark, tourRef, rep, d.expect))
    val auditRows = spark.table(s"${tourRef.database}.box_ingestion_log").count()
    val tableDir = c.warehouse.resolve(s"${tourRef.database}.db")
    val dataFiles = Disk.files(tableDir).count(_.getFileName.toString.startsWith("part-"))

    val replayMark = t.mark
    val drained = t.nestedDrainS
    replay(d, TableRef("bench", "replay", "orders"))
    val replayDrainS = t.nestedDrainS - drained
    val steps = t.since(replayMark)
    val top = steps.filter(_.parent == -1)
    def sp(prefix: String) = steps.filter(_.name.startsWith(prefix))
    def readS(fmt: String) = Stats.mean(sp(s"io.read.$fmt").map(_.seconds))
    val reads = sp("io.read.")
    Seq(
      Metric("api.ingest_self_s", call.seconds - (top.map(_.seconds).sum - replayDrainS), "s"),
      Metric("api.ingest_jobs_per_file", call.delta.jobs.toDouble / d.expect.processed, "jobs/file"),
      Metric("io.read_s_per_file.csv", readS("csv"), "s"),
      Metric("io.read_s_per_file.json", readS("json"), "s"),
      Metric("io.read_s_per_file.xlsx", readS("xlsx"), "s"),
      Metric("io.read_jobs_per_file", reads.map(_.delta.jobs).sum.toDouble / reads.size, "jobs/file"),
      Metric("io.unzip_s", sp("io.unzip").map(_.seconds).sum, "s"),
      Metric("sink.append_s_p50", Stats.median(sp("sink.append").map(_.seconds)), "s"),
      Metric("sink.audit_s_p50", Stats.median(sp("sink.audit").map(_.seconds)), "s"),
      Metric("sink.audit_rows_per_call", auditRows.toDouble, "rows"),
      Metric("sink.files_per_input_file", dataFiles.toDouble / d.expect.processed, "files/file"),
      Metric("validate.invalid_share", rep.invalidRows.toDouble /
        (rep.validRows + rep.invalidRows), "share"))
  }

  /** The orchestrator's per-file steps, each a span: spool, unzip, read,
    * validate, two appends, the two post-append counts, and the audit
    * rows around them. */
  private def replay(d: Inputs.Drop, ref: TableRef): Unit = {
    val store = new LocalStore
    val spool = Files.createTempDirectory(c.tmp, "replay_")
    def audit(action: String, info: String): Unit =
      t.span("sink.audit")(AuditLog.logTask(spark, ref, "perfbench", action, info))
    audit("Created temp directory", spool.toString)
    val matched = t.span("io.list")(FileSelect.matching(store.list(d.dir.toString), d.regex))
    val spooled = matched.map { st =>
      val dest = spool.resolve(st.name)
      t.span("io.spool") {
        val in = store.open(d.dir.toString, st.name)
        try Files.copy(in, dest) finally in.close()
      }
      audit("Downloaded file", st.name)
      dest
    }
    def process(p: Path): Unit = {
      val name = p.getFileName.toString
      if (name.endsWith(".zip")) {
        val dest = Files.createTempDirectory(spool, "unzipped_")
        val members = t.span("io.unzip") {
          val in = Files.newInputStream(p)
          try Zip.extractAll(in, dest) finally in.close()
        }
        audit("Unzipped file", s"$name -> ${members.size} files")
        members.foreach(process)
      } else {
        val fmt = name.drop(name.lastIndexOf('.') + 1)
        val raw = t.span(s"io.read.$fmt")(FormatReader.read(spark, p)) match {
          case FormatReader.Parsed(df) => df.persist(StorageLevel.MEMORY_AND_DISK)
          case other => throw new IllegalStateException(s"$name: $other")
        }
        try {
          val split = t.span("validate.split")(ValidateAndSplit(raw, Inputs.Meta))
          t.span("sink.append")(TableSink.append(split.valid, ref))
          t.span("sink.append")(TableSink.append(split.invalid, ref.errorSibling))
          t.span("validate.count") { split.valid.count(); split.invalid.count() }
        } finally raw.unpersist()
        audit("File processed", name)
      }
    }
    spooled.foreach(process)
    audit("Ingest completed", s"${d.expect.processed} files")
    Disk.delete(spool)
    c.check("replayed ingest", Checks.tables(spark, ref, Seq(d.expect)))
  }

  /** Validator and table writer over a cached 100k-row parsed frame, and
    * the xlsx writer over 20k collected rows into a discarding stream.
    * Each runs twice and reports the second, warm run. */
  private def microbenches(): Seq[Metric] = {
    val d = Inputs.bulk(c.in.resolve("tour_bulk"), c.seed + 11, 1, 100000).head
    val file = Files.list(d.dir).iterator().next()
    val raw = FormatReader.read(spark, file) match {
      case FormatReader.Parsed(df) => df.persist(StorageLevel.MEMORY_AND_DISK)
      case other => throw new IllegalStateException(s"$file: $other")
    }
    val rows = raw.count()
    def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val validateS = (1 to 2).map { _ =>
      t.span("validate.bench") {
        timed {
          val split = ValidateAndSplit(raw, Inputs.Meta)
          split.valid.write.format("noop").mode("overwrite").save()
          split.invalid.write.format("noop").mode("overwrite").save()
        }
      }
    }.last
    val typed = ValidateAndSplit(raw, Inputs.Meta).valid.persist(StorageLevel.MEMORY_AND_DISK)
    val typedRows = typed.count()
    c.check("validate bench rows", if (typedRows == d.expect.valid) Nil
      else Seq(s"valid rows $typedRows != ${d.expect.valid}"))
    val writeS = (1 to 2).map { _ =>
      t.span("sink.bench")(timed(TableSink.append(typed, TableRef("bench", c.tag("sinkw"), "orders"))))
    }.last
    val header = typed.columns.toSeq
    val collected = typed.limit(20000).collect().map(_.toSeq).toSeq
    val xlsxS = Stats.median((1 to 3).map { _ =>
      t.span("io.xlsx.bench")(timed(Xlsx.writeSheets(java.io.OutputStream.nullOutputStream(),
        Seq(Xlsx.SheetSource("orders", header, () => collected.iterator)))))
    })
    typed.unpersist(); raw.unpersist()
    Seq(
      Metric("validate.rows_per_s", rows / validateS, "rows/s"),
      Metric("sink.write_rows_per_s", typedRows / writeS, "rows/s"),
      Metric("io.xlsx_write_rows_per_s", collected.size / xlsxS, "rows/s"))
  }

  /** Two passes of the report list over the tour table; the second one
    * is reported. */
  private def exportProbe(): Seq[Metric] = {
    val reports = Reports.of(tourRef.database)
    val expected = reports.map(r =>
      r.file -> spark.sql(s"SELECT count(*) FROM (${r.sql})").head().getLong(0)).toMap
    Reports.pass(c, reports, expected, c.out.resolve(c.tag("tour_pass")), "tour_log", reread = false)
    val mark = t.mark
    Reports.pass(c, reports, expected, c.out.resolve(c.tag("tour_pass")), "tour_log", reread = false)
    Tour.exportMetrics(Seq(t.since(mark)))
  }

  /** The curation queries run once, cold and at the same time, as the
    * curation workload's warm-up runs them. */
  private def queriesProbe(docs: Int, vecs: Int): Seq[Metric] = {
    val dir = c.in.resolve("tour_corpus")
    Inputs.corpus(spark, dir, c.seed, docs, vecs)
    Curate.concurrent(c, Curate.Names.map(n => n -> Registry.byName(n)), dir).flatMap {
      case (n, s, plan) => Seq(Metric(s"queries.${n}_s", s, "s"),
        Metric(s"queries.${n}_plan_s", plan, "s"))
    }
  }
}

object Tour {
  /** Per-pass export planning and drain seconds, median over passes. */
  def exportMetrics(passes: Seq[Seq[Span]]): Seq[Metric] = Seq(
    Metric("api.export_plan_s", Stats.median(passes.map(p =>
      p.filter(_.name == "api.Export.execute").map(_.delta.planMs).sum / 1000.0)), "s"),
    Metric("api.export_drain_s", Stats.median(passes.map(p =>
      p.filter(_.name == "io.store.put").map(_.seconds).sum)), "s"))

  /** Per-query wall and planning seconds, median over passes. */
  def queryMetrics(passes: Seq[Seq[Span]]): Seq[Metric] = Curate.Names.flatMap { n =>
    val spans = passes.flatMap(_.filter(_.name == s"queries.$n"))
    Seq(Metric(s"queries.${n}_s", Stats.median(spans.map(_.seconds)), "s"),
      Metric(s"queries.${n}_plan_s", Stats.median(spans.map(_.delta.planMs / 1000.0)), "s"))
  }
}

/** Rows per second of the fused kernels' companion entry points — the
  * static methods the generated code calls — over fixed seeded inputs,
  * on one thread, with no Spark scheduling around them. */
object Kernels {
  @volatile private var sink = 0L

  private def rate(inputs: Int)(f: Int => Long): Double = {
    var i = 0
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < 200000000L) { sink += f(i % inputs); i += 1 }
    var n = 0L
    val t0 = System.nanoTime()
    var t1 = t0
    while (t1 - t0 < 400000000L) {
      var k = 0
      while (k < 512) { sink += f((n % inputs).toInt); n += 1; k += 1 }
      t1 = System.nanoTime()
    }
    n / ((t1 - t0) / 1e9)
  }

  def run(): Seq[Metric] = {
    val r = new SplittableRandom(Inputs.CorpusSeed)
    val n = 1024
    val sigs = Array.fill(n)(UnsafeArrayData.fromPrimitiveArray(Array.fill(64)(r.nextLong())))
    val buckets = Array.fill(n) {
      val ids = Array.fill(2 + r.nextInt(15))(r.nextLong(1000000L)).distinct.sorted
      UnsafeArrayData.fromPrimitiveArray(ids)
    }
    val codes = Array.fill(n)(UnsafeArrayData.fromPrimitiveArray(Array.fill(8)(r.nextInt(16))))
    val lut = UnsafeArrayData.fromPrimitiveArray(Array.fill(8 * 16)(r.nextDouble()))
    val docs = Inputs.documents(2 * n).map(d => UTF8String.fromString(d.text))
    val pairs = Array.tabulate(n)(i => (docs(2 * i), docs(2 * i + 1)))
    Seq(
      Metric("functions.band_hashes_rows_per_s",
        rate(n)(i => BandHashes.hash(sigs(i), 8, 8).getLong(0)), "rows/s"),
      Metric("functions.sorted_id_pairs_rows_per_s",
        rate(n)(i => SortedIdPairs.pairs(buckets(i)).numElements().toLong), "rows/s"),
      Metric("functions.pq_adc_rows_per_s",
        rate(n)(i => PqAdc.score(codes(i), lut, 16).toLong), "rows/s"),
      Metric("functions.shingle_jaccard_rows_per_s",
        rate(n)(i => (ShingleJaccard.jaccard(pairs(i)._1, pairs(i)._2, 5) * 1e6).toLong), "rows/s"))
  }
}
