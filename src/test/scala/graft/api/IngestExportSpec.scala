package graft.api

import graft.TestSpark
import graft.io.Xlsx
import graft.schema.TableMeta
import graft.sink.TableRef
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

class IngestExportSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark

  private val meta = TableMeta.fromMetadata(
    Seq("id" -> "int", "amount" -> "float", "note" -> "string"),
    nonNullableFields = Seq("id"))

  private def freshRef(name: String) = {
    val ref = TableRef("t", "est", name)
    Seq(ref.qualified, ref.errorSibling.qualified,
        s"${ref.database}.box_ingestion_log").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    ref
  }

  test("ingest csv: validate path fills main, _error, and audit tables") {
    val dir = Files.createTempDirectory("ing_")
    Files.writeString(dir.resolve("data_1.csv"),
      "id,amount,note\n1,2.5,ok\n,3.0,missing-id\n2,bad,bad-amount\n3,,null-amount-ok\n")
    Files.writeString(dir.resolve("skipme.txt"), "nope")
    val ref = freshRef("v1")
    val report = Ingest.execute(IngestConfig(
      "tester", ref, dir.toString, "data_.*\\.csv",
      metadata = Some(meta), justCopy = false))
    assert(report.ok, report.errors.mkString("; "))
    assert(report.processedFiles === Seq("data_1.csv"))
    assert(report.validRows === 2 && report.invalidRows === 2)

    val main = spark.table(ref.qualified)
    assert(main.columns.toSeq === Seq("id", "amount", "note", "process_dt", "process_date"))
    assert(main.count() === 2)
    val errs = spark.table(ref.errorSibling.qualified)
      .select("error_type").collect().map(_.getString(0)).sorted
    assert(errs === Array(
      "Null value in non-nullable column: id",
      "Type mismatch for column: amount"))
    val log = spark.table(s"${ref.database}.box_ingestion_log")
    assert(log.count() >= 3) // temp dir + download + processed + completed
  }

  test("ingest provenance: rows carry their source file; zip members use inner names") {
    val dir = Files.createTempDirectory("ing_prov_")
    Files.writeString(dir.resolve("plain.csv"), "id,amount,note\n1,1.0,a\n")
    val zipPath = dir.resolve("batch.zip")
    val zos = new ZipOutputStream(Files.newOutputStream(zipPath))
    zos.putNextEntry(new ZipEntry("inner_a.csv"))
    zos.write("id,amount,note\n2,2.0,b\n,9.9,bad-row\n".getBytes)
    zos.closeEntry()
    zos.putNextEntry(new ZipEntry("inner_b.csv"))
    zos.write("id,amount,note\n3,3.0,c\n".getBytes)
    zos.closeEntry()
    zos.close()
    val ref = freshRef("prov1")
    val report = Ingest.execute(IngestConfig(
      "tester", ref, dir.toString, ".*\\.(csv|zip)",
      metadata = Some(meta), justCopy = false,
      sourceFileCol = Some("_src_file")))
    assert(report.ok, report.errors.mkString("; "))
    val got = spark.table(ref.qualified)
      .select("id", "_src_file").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(
      1L -> "plain.csv", 2L -> "inner_a.csv", 3L -> "inner_b.csv"))
    // the _error sibling carries lineage too
    val errSrc = spark.table(ref.errorSibling.qualified)
      .select("_src_file").collect().map(_.getString(0)).toSeq
    assert(errSrc === Seq("inner_a.csv"))
  }

  test("ingest zip: recursive extraction processes csv and json inside") {
    val dir = Files.createTempDirectory("ingz_")
    val zip = dir.resolve("bundle_1.zip")
    val z = new ZipOutputStream(Files.newOutputStream(zip))
    z.putNextEntry(new ZipEntry("a.csv"))
    z.write("id,amount,note\n10,1.0,from-csv\n".getBytes); z.closeEntry()
    z.putNextEntry(new ZipEntry("nested/b.json"))
    z.write("""[{"id": 11, "amount": 2.0, "note": "from-json"}]""".getBytes)
    z.closeEntry(); z.close()
    val ref = freshRef("vzip")
    val report = Ingest.execute(IngestConfig(
      "tester", ref, dir.toString, "bundle_.*\\.zip",
      metadata = Some(meta), justCopy = false))
    assert(report.ok, report.errors.mkString("; "))
    assert(report.validRows === 2)
    val notes = spark.table(ref.qualified).select("note")
      .collect().map(_.getString(0)).sorted
    assert(notes === Array("from-csv", "from-json"))
  }

  test("ingest xlsx: sheet selection + skipRows through the real reader") {
    val dir = Files.createTempDirectory("ingx_")
    val out = Files.newOutputStream(dir.resolve("book_1.xlsx"))
    Xlsx.write(out, "data", Seq("junk1"),
      Iterator(Seq("junk2"), Seq("id"), Seq("junk-should-not-appear")))
    out.close()
    // two leading junk rows then header-only content: use a realistic one
    val out2 = Files.newOutputStream(dir.resolve("book_2.xlsx"))
    Xlsx.write(out2, "data", Seq("skip this", null),
      Iterator(Seq("ID", "Amount"), Seq("5", "1.25"), Seq("6", "2.5")))
    out2.close()
    val ref = freshRef("vxlsx")
    val report = Ingest.execute(IngestConfig(
      "tester", ref, dir.toString, "book_2\\.xlsx",
      sheetName = Some("data"), skipRows = 1,
      metadata = Some(TableMeta.fromMetadata(
        Seq("id" -> "int", "amount" -> "float"), Seq("id"))),
      justCopy = false))
    assert(report.ok, report.errors.mkString("; "))
    assert(report.validRows === 2 && report.invalidRows === 0)
    assert(spark.table(ref.qualified).select("id")
      .collect().map(_.getLong(0)).sorted === Array(5L, 6L))
  }

  test("ingest copy mode conforms to existing target schema") {
    val ref = freshRef("vcopy")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${ref.database}")
    spark.sql(s"""CREATE TABLE ${ref.qualified}
      (id BIGINT, amount DOUBLE, note STRING, process_dt TIMESTAMP)
      USING parquet""")
    val dir = Files.createTempDirectory("ingc_")
    // extra column dropped, missing column -> NULL, case-insensitive match
    Files.writeString(dir.resolve("copy_1.csv"),
      "ID,extra,AMOUNT\n7,zzz,1.5\n8,zzz,2.5\n")
    val report = Ingest.execute(IngestConfig(
      "tester", ref, dir.toString, "copy_.*\\.csv", justCopy = true))
    assert(report.ok, report.errors.mkString("; "))
    val rows = spark.table(ref.qualified).orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(7L, 8L))
    assert(rows.forall(_.isNullAt(2))) // note absent from file -> NULL
  }

  test("ingest report counts are the rows each append wrote: first and later append, copy mode") {
    def landed(ref: TableRef) = (spark.table(ref.qualified).count(),
      spark.table(ref.errorSibling.qualified).count())
    def run(ref: TableRef, dir: java.nio.file.Path, regex: String,
        justCopy: Boolean) = {
      val r = Ingest.execute(IngestConfig("tester", ref, dir.toString, regex,
        metadata = Some(meta), justCopy = justCopy))
      assert(r.ok, r.errors.mkString("; "))
      (r.validRows, r.invalidRows)
    }
    val dir = Files.createTempDirectory("ing_counts_")
    Files.writeString(dir.resolve("clean.csv"),
      "id,amount,note\n1,1.0,a\n2,2.0,b\n3,3.0,c\n")
    Files.writeString(dir.resolve("mixed.csv"),
      "id,amount,note\n4,4.0,d\n,5.0,no-id\n6,bad,bad-amount\n7,,e\n")

    // the first append creates both tables; the file has no invalid rows
    val ref = freshRef("vcounts")
    assert(run(ref, dir, "clean\\.csv", justCopy = false) === ((3L, 0L)))
    assert(landed(ref) === ((3L, 0L)))
    // a later append lands in the existing tables
    assert(run(ref, dir, "mixed\\.csv", justCopy = false) === ((2L, 2L)))
    assert(landed(ref) === ((5L, 2L)))

    // copy mode: every row counts as valid and lands in the main table
    val copyRef = freshRef("vcounts_copy")
    spark.sql(s"""CREATE TABLE ${copyRef.qualified}
      (id BIGINT, amount DOUBLE, note STRING, process_dt TIMESTAMP) USING parquet""")
    assert(run(copyRef, dir, "clean\\.csv", justCopy = true) === ((3L, 0L)))
    assert(spark.table(copyRef.qualified).count() === 3L)
  }

  test("ingest latest=true picks newest matching file; delete removes source") {
    val dir = Files.createTempDirectory("ingl_")
    val f1 = dir.resolve("feed_1.csv"); Files.writeString(f1, "id,amount,note\n1,1.0,old\n")
    val f2 = dir.resolve("feed_2.csv"); Files.writeString(f2, "id,amount,note\n2,2.0,new\n")
    Files.setLastModifiedTime(f1, java.nio.file.attribute.FileTime.fromMillis(1000))
    Files.setLastModifiedTime(f2, java.nio.file.attribute.FileTime.fromMillis(2000))
    val ref = freshRef("vlatest")
    val report = Ingest.execute(IngestConfig(
      "tester", ref, dir.toString, "feed_.*\\.csv",
      metadata = Some(meta), justCopy = false, latest = true, delete = true))
    assert(report.ok, report.errors.mkString("; "))
    assert(report.processedFiles === Seq("feed_2.csv"))
    assert(Files.exists(f1) && !Files.exists(f2)) // only the ingested one deleted
  }

  test("ingest via HadoopStore: same pipeline, Hadoop FileSystem source") {
    // The reference's source is a REMOTE object folder (box_ingest.py:37-83);
    // HadoopStore is the cluster-real second impl (s3a/abfs/hdfs URIs all
    // resolve through the same API). The whole validate path plus latest
    // selection and post-ingest delete must run unchanged against it.
    val dir = Files.createTempDirectory("ingh_")
    val f1 = dir.resolve("h_1.csv"); Files.writeString(f1, "id,amount,note\n1,1.0,old\n")
    val f2 = dir.resolve("h_2.csv")
    Files.writeString(f2, "id,amount,note\n2,2.0,new\n,9.9,bad-row\n")
    Files.setLastModifiedTime(f1, java.nio.file.attribute.FileTime.fromMillis(1000))
    Files.setLastModifiedTime(f2, java.nio.file.attribute.FileTime.fromMillis(2000))
    val ref = freshRef("vhadoop")
    val report = Ingest.execute(IngestConfig(
      "tester", ref, dir.toString, "h_.*\\.csv",
      metadata = Some(meta), justCopy = false, latest = true, delete = true),
      store = new graft.io.HadoopStore)
    assert(report.ok, report.errors.mkString("; "))
    assert(report.processedFiles === Seq("h_2.csv"))
    assert(report.validRows === 1 && report.invalidRows === 1)
    assert(Files.exists(f1) && !Files.exists(f2))
    assert(spark.table(ref.qualified).select("note")
      .collect().map(_.getString(0)).toSeq === Seq("new"))
  }

  test("export: sql -> xlsx -> reader roundtrip with rename and overwrite") {
    spark.range(3).selectExpr("id", "id * 1.5 AS v", "concat('r', id) AS label")
      .createOrReplaceTempView("exp_src")
    val dir = Files.createTempDirectory("exp_")
    val conf = ExportConfig(
      "tester", "SELECT id, v, label FROM exp_src ORDER BY id",
      dir.toString, "res.xlsx", sheetName = "out",
      columnMapping = Map("LABEL" -> "name"), // case-insensitive key
      logTable = TableRef("t", "est", "exp"))
    val r1 = Export.execute(conf)
    assert(r1.ok && r1.rows === 3)
    val r2 = Export.execute(conf) // overwrite, not append
    assert(r2.ok)
    val rows = Xlsx.read(dir.resolve("res.xlsx"), Some("out"), 0)
    assert(rows.head === Seq(Some("id"), Some("v"), Some("name")))
    assert(rows.size === 4)
    assert(rows(1) === Seq(Some("0"), Some("0.0"), Some("r0")))
  }

  test("export orc: columnar roundtrip under the configured name; rows counted in-pass") {
    spark.range(4).selectExpr("id", "id * 2 AS dbl", "concat('o', id) AS tag")
      .createOrReplaceTempView("orc_src")
    val dir = Files.createTempDirectory("exp_orc_")
    val r = Export.execute(ExportConfig(
      "tester", "SELECT id, dbl, tag FROM orc_src",
      dir.toString, "res.orc", format = ExportFormat.Orc,
      codec = Some("gzip"), // ignored for columnar, like Parquet/Xlsx
      logTable = TableRef("t", "est", "exporc")))
    assert(r.ok && r.rows === 4)
    val back = spark.read.orc(dir.resolve("res.orc").toString)
      .orderBy("id").collect()
    assert(back.map(_.getLong(1)).toSeq === Seq(0L, 2L, 4L, 6L))
    assert(back.map(_.getString(2)).toSeq === Seq("o0", "o1", "o2", "o3"))
  }

  test("export csv: RFC-4180 escaping survives a Spark-reader roundtrip") {
    import spark.implicits._
    Seq((1L, Some("plain"), "a"), (2L, Some("has,comma"), "b"),
        (3L, Some("has \"quote\""), "c"), (4L, Some("multi\nline"), "d"),
        (5L, None, "e"))
      .toDF("id", "tricky", "tag")
      .createOrReplaceTempView("csv_src")
    val dir = Files.createTempDirectory("exp_csv_")
    val r = Export.execute(ExportConfig(
      "tester", "SELECT id, tricky, tag FROM csv_src ORDER BY id",
      dir.toString, "res.csv", format = ExportFormat.Csv,
      logTable = TableRef("t", "est", "expcsv")))
    assert(r.ok && r.rows === 5)
    val back = spark.read
      .option("header", true).option("multiLine", true).option("escape", "\"")
      .csv(dir.resolve("res.csv").toString)
      .orderBy("id").collect()
    assert(back.map(_.getString(1)).toSeq ===
      Seq("plain", "has,comma", "has \"quote\"", "multi\nline", null))
  }

  test("export manifest sidecar: rows, columns, format recorded next to the artifact") {
    import spark.implicits._
    Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "val")
      .createOrReplaceTempView("mani_src")
    val dir = Files.createTempDirectory("exp_mani_")
    val r = Export.execute(ExportConfig(
      "tester", "SELECT id, val AS renamed FROM mani_src ORDER BY id",
      dir.toString, "res.csv", format = ExportFormat.Csv,
      manifest = true,
      logTable = TableRef("t", "est", "expmani")))
    assert(r.ok && r.rows === 3)
    val body = Files.readString(dir.resolve("res.csv.manifest.json"))
    assert(body.contains("\"rows\": 3"), body)
    assert(body.contains("\"file\": \"res.csv\""), body)
    assert(body.contains("\"renamed\""), body)
    assert(body.contains("\"codec\": null"), body)
    // valid JSON by the same parser the driver uses downstream
    val parsed = spark.read.json(
      Seq(body).toDS()).collect().head
    assert(parsed.getAs[Long]("rows") === 3L)
    assert(parsed.getAs[Seq[String]]("columns") === Seq("id", "renamed"))
  }

  test("export csv/jsonl with gzip codec: compressed bytes, Spark reads them back") {
    import spark.implicits._
    Seq((1L, "alpha"), (2L, "has,comma"), (3L, "plain"))
      .toDF("id", "s").createOrReplaceTempView("gz_src")
    val dir = Files.createTempDirectory("exp_gz_")
    val rc = Export.execute(ExportConfig(
      "tester", "SELECT id, s FROM gz_src ORDER BY id",
      dir.toString, "res.csv.gz", format = ExportFormat.Csv,
      codec = Some("gzip"), logTable = TableRef("t", "est", "expgz")))
    assert(rc.ok && rc.rows === 3)
    val magic = Files.readAllBytes(dir.resolve("res.csv.gz")).take(2)
    assert(magic(0) == 0x1f.toByte && magic(1) == 0x8b.toByte, "gzip magic bytes")
    // Spark's csv reader decompresses .gz transparently
    val backCsv = spark.read.option("header", true).option("escape", "\"")
      .csv(dir.resolve("res.csv.gz").toString).orderBy("id").collect()
    assert(backCsv.map(_.getString(1)).toSeq === Seq("alpha", "has,comma", "plain"))

    val rj = Export.execute(ExportConfig(
      "tester", "SELECT id, s FROM gz_src ORDER BY id",
      dir.toString, "res.jsonl.gz", format = ExportFormat.JsonLines,
      codec = Some("gzip"), logTable = TableRef("t", "est", "expgz")))
    assert(rj.ok && rj.rows === 3)
    val backJson = spark.read.json(dir.resolve("res.jsonl.gz").toString)
      .orderBy("id").collect()
    assert(backJson.map(_.getString(1)).toSeq === Seq("alpha", "has,comma", "plain"))
  }

  test("export xlsx with extra sheets: two-sheet roundtrip via the reader") {
    spark.range(3).selectExpr("id", "concat('a', id) AS s")
      .createOrReplaceTempView("ms_main")
    spark.range(2).selectExpr("id * 10 AS k").createOrReplaceTempView("ms_extra")
    val dir = Files.createTempDirectory("exp_ms_")
    val r = Export.execute(ExportConfig(
      "tester", "SELECT id, s FROM ms_main ORDER BY id",
      dir.toString, "res.xlsx", sheetName = "main",
      extraSheets = Seq("extra" -> "SELECT k FROM ms_extra ORDER BY k"),
      logTable = TableRef("t", "est", "expms")))
    assert(r.ok && r.rows === 5, r.errors.mkString("; "))
    val main = Xlsx.read(dir.resolve("res.xlsx"), Some("main"), 0)
    assert(main.head === Seq(Some("id"), Some("s")) && main.size === 4)
    assert(main(2) === Seq(Some("1"), Some("a1")))
    val extra = Xlsx.read(dir.resolve("res.xlsx"), Some("extra"), 0)
    assert(extra === Seq(Seq(Some("k")), Seq(Some("0")), Seq(Some("10"))))
    // default sheet pick (first in workbook order) is the main sheet
    assert(Xlsx.read(dir.resolve("res.xlsx"), None, 0).head ===
      Seq(Some("id"), Some("s")))
  }

  test("export xlsx rejects duplicate sheet names (report, not throw)") {
    spark.range(1).createOrReplaceTempView("dup_src")
    val r = Export.execute(ExportConfig(
      "tester", "SELECT * FROM dup_src", Files.createTempDirectory("expd_").toString,
      "x.xlsx", sheetName = "s1", extraSheets = Seq("s1" -> "SELECT * FROM dup_src"),
      logTable = TableRef("t", "est", "expd")))
    assert(!r.ok && r.errors.exists(_.contains("duplicate sheet")))
  }

  test("export failure is swallowed into the report (E2 semantics)") {
    val r = Export.execute(ExportConfig(
      "tester", "SELECT * FROM table_that_does_not_exist",
      Files.createTempDirectory("expf_").toString, "x.xlsx",
      logTable = TableRef("t", "est", "expf")))
    assert(!r.ok && r.errors.exists(_.contains("export failed")))
  }
}
