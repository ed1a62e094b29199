package graftbench

import graft.schema.TableMeta
import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.collection.mutable.ArrayBuffer

/** Seeded input generator. The same seed writes byte-identical files;
  * another seed changes which rows land in which file, which rows are
  * corrupted, where each format sits in the drop order and the row order
  * of the curation corpus. Rows are lineitem-shaped (order key, extended
  * price, ship date, status) projected onto the FIXTURES.md metadata
  * spec, and every corrupted row carries exactly one error, so the
  * expected main, `_error` and per-class counts are known up front. */
object Inputs {

  val Meta: TableMeta = TableMeta.fromMetadata(
    Seq("order_id" -> "int", "amount" -> "float", "ship_date" -> "date",
      "placed_at" -> "timestamp", "status" -> "string"),
    Seq("order_id"))

  val NullId = "Null value in non-nullable column: order_id"
  val BadId = "Type mismatch for column: order_id"
  val BadAmount = "Type mismatch for column: amount"
  val BadTs = "Type mismatch for column: placed_at"
  val NoStatus = "Missing column: status"

  /** Per-row probabilities of each corruption class. */
  final case class Mix(nullId: Double, badId: Double, badAmount: Double, badTs: Double)
  val SmallMix = Mix(0.004, 0.002, 0.002, 0.002)
  val BulkMix = Mix(0.012, 0.008, 0.010, 0.010)

  /** What one `Ingest.execute` over a drop must produce. */
  final case class Expect(valid: Long, invalid: Long, errors: Map[String, Long],
      inputs: Int, zips: Int, processed: Int) {
    def +(o: Expect): Expect = Expect(valid + o.valid, invalid + o.invalid,
      (errors.keySet ++ o.errors.keySet).map(k =>
        k -> (errors.getOrElse(k, 0L) + o.errors.getOrElse(k, 0L))).toMap,
      inputs + o.inputs, zips + o.zips, processed + o.processed)
    def rows: Long = valid + invalid
    /** The audit actions the orchestrator writes for this drop. */
    def actions: Map[String, Long] = Map(
      "Created temp directory" -> 1L, "Downloaded file" -> inputs.toLong,
      "Unzipped file" -> zips.toLong, "File processed" -> processed.toLong,
      "Ingest completed" -> 1L).filter(_._2 > 0)
  }

  /** One drop: the files an `Ingest.execute` call matches by regex. */
  final case class Drop(dir: Path, regex: String, expect: Expect)

  final class Line(val id: String, val amount: String, val ship: String,
      val placed: String, val status: String, val error: String)

  private val Statuses = Array("A-F", "N-F", "N-O", "N-O", "R-F")
  private val FirstShip = LocalDate.of(1992, 1, 2)
  /** Distinct order keys: about four lines per order, as in lineitem. */
  private val Orders = 150000

  private def two(i: Int): String = if (i < 10) "0" + i else i.toString

  def line(r: SplittableRandom, mix: Mix): Line = {
    val id = 1 + r.nextInt(Orders)
    val cents = 90000 + r.nextInt(10400000)
    val ship = FirstShip.plusDays(r.nextInt(2526))
    val day = ship.minusDays(1 + r.nextInt(121))
    val clock = s"${two(r.nextInt(24))}:${two(r.nextInt(60))}:${two(r.nextInt(60))}"
    val placed = s"$day $clock"
    val status = Statuses(r.nextInt(Statuses.length))
    val amount = s"${cents / 100}.${two(cents % 100)}"
    val u = r.nextDouble()
    val a = mix.nullId; val b = a + mix.badId; val c = b + mix.badAmount
    val d = c + mix.badTs
    if (u < a) new Line(null, amount, ship.toString, placed, status, NullId)
    else if (u < b) new Line(s"$id.5", amount, ship.toString, placed, status, BadId)
    else if (u < c) new Line(id.toString, "n/a", ship.toString, placed, status, BadAmount)
    else if (u < d) new Line(id.toString, amount, ship.toString, placed.replace('-', '/'), status, BadTs)
    else new Line(id.toString, amount, ship.toString, placed, status, null)
  }

  def lines(r: SplittableRandom, n: Int, mix: Mix): IndexedSeq[Line] =
    IndexedSeq.fill(n)(line(r, mix))

  private def expectOf(ls: Seq[Line], dropStatus: Boolean): Expect =
    if (dropStatus)
      Expect(0, ls.size, Map(NoStatus -> ls.size.toLong), 1, 0, 1)
    else {
      val errs = ls.flatMap(l => Option(l.error)).groupBy(identity)
        .map { case (k, v) => k -> v.size.toLong }
      val bad = errs.values.sum
      Expect(ls.size - bad, bad, errs, 1, 0, 1)
    }

  // ------------------------------------------------------------ writers

  private val Header = Seq("order_id", "amount", "ship_date", "placed_at", "status")
  /** A header as exported by a spreadsheet user: stray spaces, mixed case. */
  private val MessyHeader = Seq(" Order_ID ", "Amount", "Ship_Date ", " PLACED_AT", "Status")

  def csvBytes(ls: Seq[Line], messy: Boolean, dropStatus: Boolean): Array[Byte] = {
    val sb = new java.lang.StringBuilder(ls.size * 56)
    val h = if (messy) MessyHeader else Header
    sb.append((if (dropStatus) h.init else h).mkString(",")).append('\n')
    ls.foreach { l =>
      sb.append(if (l.id == null) "" else l.id).append(',').append(l.amount)
        .append(',').append(l.ship).append(',').append(l.placed)
      if (!dropStatus) sb.append(',').append(l.status)
      sb.append('\n')
    }
    sb.toString.getBytes(UTF_8)
  }

  private def jsonRecord(l: Line): String = {
    val id = if (l.id == null) "null" else l.id
    val amount = if (l.error == BadAmount) "\"n/a\"" else l.amount
    s"""{"order_id":$id,"amount":$amount,"ship_date":"${l.ship}",""" +
      s""""placed_at":"${l.placed}","status":"${l.status}"}"""
  }

  def jsonLinesBytes(ls: Seq[Line]): Array[Byte] =
    ls.map(jsonRecord).mkString("", "\n", "\n").getBytes(UTF_8)

  def jsonArrayBytes(ls: Seq[Line]): Array[Byte] =
    ls.map(jsonRecord).mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8)

  /** Fixed entry timestamps keep archives byte-identical per seed. */
  private def entry(name: String): ZipEntry = {
    val e = new ZipEntry(name)
    e.setTime(946684800000L)
    e
  }

  def zipBytes(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos, UTF_8)
    members.foreach { case (name, body) =>
      z.putNextEntry(entry(name)); z.write(body); z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** A minimal one-sheet workbook: numeric cells for the key and the
    * price, inline strings elsewhere, absent cells for nulls. */
  def xlsxBytes(ls: Seq[Line]): Array[Byte] = {
    val sheet = new java.lang.StringBuilder(ls.size * 220)
    sheet.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      .append("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    def str(ref: String, v: String): Unit =
      sheet.append(s"""<c r="$ref" t="inlineStr"><is><t>${xmlEscape(v)}</t></is></c>""")
    def num(ref: String, v: String): Unit = sheet.append(s"""<c r="$ref"><v>$v</v></c>""")
    sheet.append("""<row r="1">""")
    Header.zip("ABCDE").foreach { case (h, c) => str(s"${c}1", h) }
    sheet.append("</row>")
    ls.zipWithIndex.foreach { case (l, i) =>
      val r = i + 2
      sheet.append(s"""<row r="$r">""")
      if (l.id != null) num(s"A$r", l.id)
      if (l.error == BadAmount) str(s"B$r", l.amount) else num(s"B$r", l.amount)
      str(s"C$r", l.ship); str(s"D$r", l.placed); str(s"E$r", l.status)
      sheet.append("</row>")
    }
    sheet.append("</sheetData></worksheet>")
    val ct = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
      |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
      |<Default Extension="xml" ContentType="application/xml"/>
      |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
      |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
      |</Types>""".stripMargin
    val rels = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
      |</Relationships>""".stripMargin
    val wb = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
      |<sheets><sheet name="orders" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin
    val wbRels = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
      |</Relationships>""".stripMargin
    zipBytes(Seq("[Content_Types].xml" -> ct.getBytes(UTF_8),
      "_rels/.rels" -> rels.getBytes(UTF_8),
      "xl/workbook.xml" -> wb.getBytes(UTF_8),
      "xl/_rels/workbook.xml.rels" -> wbRels.getBytes(UTF_8),
      "xl/worksheets/sheet1.xml" -> sheet.toString.getBytes(UTF_8)))
  }

  private def put(dir: Path, name: String, body: Array[Byte]): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve(name), body)
  }

  // ------------------------------------------------------------- inputs

  /** The kinds of input a mixed drop holds. */
  sealed trait Kind
  case object Csv extends Kind
  case object CsvNoStatus extends Kind
  case object JsonLines extends Kind
  case object JsonArray extends Kind
  case object Xlsx extends Kind
  case object ZipOfCsv extends Kind

  /** Writes one input of `kind` named `<prefix>.<ext>`; returns what it
    * must produce. A zip holds two CSVs, one of them in a subfolder. */
  def writeInput(dir: Path, prefix: String, kind: Kind, r: SplittableRandom,
      rowsPerFile: Int, mix: Mix): Expect = kind match {
    case ZipOfCsv =>
      val a = lines(r, rowsPerFile, mix)
      val b = lines(r, rowsPerFile, mix)
      put(dir, s"$prefix.zip", zipBytes(Seq(
        "part_a.csv" -> csvBytes(a, messy = r.nextInt(4) == 0, dropStatus = false),
        "inner/part_b.csv" -> csvBytes(b, messy = r.nextInt(4) == 0, dropStatus = false))))
      (expectOf(a, dropStatus = false) + expectOf(b, dropStatus = false))
        .copy(inputs = 1, zips = 1, processed = 2)
    case CsvNoStatus =>
      // Valid values, but the status column is absent: every row fails.
      val ls = lines(r, rowsPerFile / 8, Mix(0, 0, 0, 0))
      put(dir, s"$prefix.csv", csvBytes(ls, messy = false, dropStatus = true))
      expectOf(ls, dropStatus = true)
    case _ =>
      val ls = lines(r, rowsPerFile, mix)
      val (ext, body) = kind match {
        case Csv => "csv" -> csvBytes(ls, messy = r.nextInt(4) == 0, dropStatus = false)
        case JsonLines => "json" -> jsonLinesBytes(ls)
        case JsonArray => "json" -> jsonArrayBytes(ls)
        case _ => "xlsx" -> xlsxBytes(ls)
      }
      put(dir, s"$prefix.$ext", body)
      expectOf(ls, dropStatus = false)
  }

  /** `ingest_many_small`: `drops` drops of the same shape — a zip of two
    * CSVs, a JSON file (JSON-lines or one array, by the seed), an xlsx and
    * a short CSV without the status column: five small files, three of
    * them CSV. The seed picks the rows, the corrupted rows, the JSON form,
    * the header spelling and the order the files are listed in. */
  def manySmall(dir: Path, seed: Long, drops: Int, rowsPerFile: Int): IndexedSeq[Drop] = {
    val r = new SplittableRandom(seed)
    val order = new scala.util.Random(seed)
    (0 until drops).map { d =>
      val json = if (r.nextBoolean()) JsonLines else JsonArray
      val kinds = order.shuffle(Seq(ZipOfCsv, json, Xlsx, CsvNoStatus))
      val expect = kinds.zipWithIndex.map { case (k, j) =>
        writeInput(dir, f"d$d%02d_$j", k, r.split(), rowsPerFile, SmallMix)
      }.reduce(_ + _)
      Drop(dir, f"d$d%02d_.*", expect)
    }
  }

  /** Bulk CSV drops: `drops` drops of one large CSV each. */
  def bulk(dir: Path, seed: Long, drops: Int, rowsPerFile: Int): IndexedSeq[Drop] = {
    val r = new SplittableRandom(seed)
    (0 until drops).map { d =>
      Drop(dir, f"b$d%02d_.*",
        writeInput(dir, f"b$d%02d_0", Csv, r.split(), rowsPerFile, BulkMix))
    }
  }

  val EveryKind: Seq[Kind] = Seq(Csv, JsonLines, JsonArray, Xlsx, ZipOfCsv, CsvNoStatus)

  /** A drop with one input of each of `kinds`, in that order. */
  def mixed(dir: Path, prefix: String, seed: Long, rowsPerFile: Int,
      kinds: Seq[Kind]): Drop = {
    val r = new SplittableRandom(seed)
    val e = kinds.zipWithIndex.map { case (k, j) =>
      writeInput(dir, s"${prefix}_$j", k, r.split(), rowsPerFile, SmallMix)
    }.reduce(_ + _)
    Drop(dir, s"${prefix}_.*", e)
  }

  // ------------------------------------------------------ curation corpus

  /** Content seed of the curation corpus. The corpus text is the same
    * for every workload seed, so the curation outputs can be pinned; the
    * workload seed only shuffles the row order. Doc ids are kept: p4's
    * temperature sampling keys on a hash of doc_id, so a remap would
    * change which documents survive. */
  val CorpusSeed = 20240817L
  private val Vocab = ("spark window merge table column vector stream value data " +
    "small join filter big group hash customer sort order slow line part fast " +
    "row the agg key query a scan batch").split(' ')
  private val Langs = Array("en", "en", "en", "en", "en", "en", "en", "en",
    "de", "de", "de", "es", "es", "es", "fr", "fr", "fr", "zh", "zh", "zh")

  final case class Doc(id: Long, text: String, lang: String)

  /** sf0.1-shaped documents: 10-100 words over a 30-word vocabulary, and
    * one doc in twenty a near-duplicate of an earlier one (" dup"
    * appended), as in the generated test tables. */
  def documents(n: Int): IndexedSeq[Doc] = {
    val r = new SplittableRandom(CorpusSeed)
    val out = ArrayBuffer.empty[Doc]
    (0 until n).foreach { i =>
      val lang = Langs(r.nextInt(Langs.length))
      val text =
        if (i > 0 && r.nextInt(20) == 0) out(r.nextInt(i)).text + " dup"
        else Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
      out += Doc(i.toLong, text, lang)
    }
    out.toIndexedSeq
  }

  /** Unit-norm gaussian embeddings of dimension 64 with labels 0-9. */
  def embeddings(n: Int): IndexedSeq[(Long, Array[Float], Int)] = {
    val r = new java.util.Random(CorpusSeed + 1)
    (0 until n).map { i =>
      val v = Array.fill(64)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), r.nextInt(10))
    }
  }

  /** Writes `documents.parquet` and `embeddings.parquet` under `dir`,
    * rows in a seed-shuffled order. */
  def corpus(spark: org.apache.spark.sql.SparkSession, dir: Path, seed: Long,
      docs: Int, vecs: Int): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val shuffle = new scala.util.Random(seed)
    val docRows = shuffle.shuffle(documents(docs)).map(d =>
      Row(d.id, d.text, d.lang, s"src${d.id % 20}", d.text.length.toLong))
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(docRows.asJava, docSchema).coalesce(1)
      .write.parquet(dir.resolve("documents.parquet").toString)
    val vecRows = shuffle.shuffle(embeddings(vecs)).map { case (id, v, l) =>
      Row(id, v.toSeq, l) }
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    spark.createDataFrame(vecRows.asJava, vecSchema).coalesce(1)
      .write.parquet(dir.resolve("embeddings.parquet").toString)
  }
}
