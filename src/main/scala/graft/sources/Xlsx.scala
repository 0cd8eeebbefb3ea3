package graft.sources

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import java.util.zip.ZipInputStream
import javax.xml.parsers.{DocumentBuilderFactory, SAXParserFactory}
import org.xml.sax.Attributes
import org.xml.sax.helpers.DefaultHandler
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Real `.xlsx` ingestion with ZERO added dependencies: a workbook is a
  * zip of SpreadsheetML XML parts, and the JDK ships both the zip codec
  * and the XML parsers — so workbooks laid out like the reference's
  * monthly files (the python_version/sample_data workbooks, read by
  * openpyxl at build_warehouse.py:112-125 / converted via Drive at
  * Code.gs:111-116) load without POI. XlsxSpec tests it on committed
  * fixtures of that layout in Excel's dialect (shared strings, styled and
  * formula cells, absolute part targets; dev/xlsx_fixtures.py), not on
  * the reference's own files.
  *
  * Scale shape: files arrive through Spark's `binaryFile` source, so N
  * workbooks parse on N tasks across the cluster — the same
  * file-per-task parallelism as the reference's one-workbook-at-a-time
  * loop, minus the loop. Each task SAX-streams its worksheets (no DOM
  * for the big parts); a single workbook is the unit of work, which is
  * exactly the reference's operating grain. */
object XlsxParse {

  /** One populated cell: (sheet, row number 1-based, column letters, text). */
  final case class Cell(sheet: String, row: Int, col: String, value: String)

  private val CellRef = "([A-Z]+)([0-9]+)".r

  /** SAX handler for one worksheet part: emits populated cells, decoding
    * shared-string / inline-string / boolean / raw-numeric values the way
    * Code.gs:251-256 sees them (numbers arrive as their raw text). */
  private final class SheetHandler(sheet: String, shared: IndexedSeq[String],
                                   out: mutable.Buffer[Cell]) extends DefaultHandler {
    private var ref = ""
    private var typ = ""
    private var capture = false
    private val sb = new StringBuilder
    private var pendingInline = false

    override def startElement(uri: String, local: String, qn: String, a: Attributes): Unit =
      qn match {
        case "c" =>
          ref = Option(a.getValue("r")).getOrElse("")
          typ = Option(a.getValue("t")).getOrElse("")
          pendingInline = false
        case "v" => capture = true; sb.clear()
        case "is" => pendingInline = typ == "inlineStr"
        case "t" if pendingInline => capture = true; sb.clear()
        case _ => ()
      }

    override def characters(ch: Array[Char], start: Int, length: Int): Unit =
      if (capture) sb.appendAll(ch, start, length)

    override def endElement(uri: String, local: String, qn: String): Unit =
      if ((qn == "v" || (qn == "t" && pendingInline)) && capture) {
        capture = false
        val raw = sb.toString
        val value = typ match {
          case "s" =>
            val i = raw.trim.toInt
            if (i >= 0 && i < shared.length) shared(i) else ""
          case "b" => if (raw.trim == "1") "TRUE" else "FALSE"
          case _ => raw
        }
        ref match {
          case CellRef(colL, rowS) => out += Cell(sheet, rowS.toInt, colL, value)
          case _ => () // cells without an r ref are not produced by Excel
        }
      }
  }

  /** Every entry of a workbook zip (name, bytes), in archive order. */
  private[sources] def zipEntries(bytes: Array[Byte]): Seq[(String, Array[Byte])] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = mutable.Buffer.empty[(String, Array[Byte])]
    var e = zin.getNextEntry
    while (e != null) {
      out += e.getName -> zin.readAllBytes()
      zin.closeEntry(); e = zin.getNextEntry
    }
    out.toSeq
  }

  private def entries(bytes: Array[Byte]): Map[String, Array[Byte]] =
    zipEntries(bytes).filter { case (n, _) =>
      n == "xl/workbook.xml" || n == "xl/_rels/workbook.xml.rels" ||
        n == "xl/sharedStrings.xml" || n.startsWith("xl/worksheets/sheet")
    }.toMap

  /** A workbook relationship target as its zip entry name: Excel writes
    * absolute targets (`/xl/worksheets/sheet1.xml`), other writers ones
    * relative to `xl/` (`worksheets/sheet1.xml`). */
  private[sources] def partPath(target: String): String =
    "xl/" + target.stripPrefix("/").stripPrefix("xl/")

  /** XXE hardening (OWASP XXE-prevention): a workbook is untrusted input,
    * and a DOCTYPE in any XML part could otherwise pull external entities
    * (file disclosure / SSRF from executors) or blow up via entity
    * expansion. Excel never writes DOCTYPEs, so rejecting them outright
    * loses nothing. Applied to BOTH the DOM and SAX factories. */
  private def harden(set: (String, Boolean) => Unit): Unit = {
    set(javax.xml.XMLConstants.FEATURE_SECURE_PROCESSING, true)
    set("http://apache.org/xml/features/disallow-doctype-decl", true)
    set("http://xml.org/sax/features/external-general-entities", false)
    set("http://xml.org/sax/features/external-parameter-entities", false)
  }

  private def dom(bytes: Array[Byte]) = {
    val f = DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(false)
    harden(f.setFeature)
    f.setXIncludeAware(false)
    f.setExpandEntityReferences(false)
    f.newDocumentBuilder().parse(new ByteArrayInputStream(bytes))
  }

  /** All populated cells of every sheet in the workbook. */
  def cells(bytes: Array[Byte]): Seq[Cell] = {
    val parts = entries(bytes)

    val shared: IndexedSeq[String] = parts.get("xl/sharedStrings.xml").map { b =>
      val doc = dom(b)
      val sis = doc.getElementsByTagName("si")
      (0 until sis.getLength).map { i =>
        val ts = sis.item(i).asInstanceOf[org.w3c.dom.Element].getElementsByTagName("t")
        (0 until ts.getLength).map(j => ts.item(j).getTextContent).mkString
      }
    }.getOrElse(IndexedSeq.empty)

    val rels: Map[String, String] = parts.get("xl/_rels/workbook.xml.rels").map { b =>
      val ns = dom(b).getElementsByTagName("Relationship")
      (0 until ns.getLength).map { i =>
        val e = ns.item(i).asInstanceOf[org.w3c.dom.Element]
        e.getAttribute("Id") -> partPath(e.getAttribute("Target"))
      }.toMap
    }.getOrElse(Map.empty)

    val sheets: Seq[(String, String)] = parts.get("xl/workbook.xml").map { b =>
      val ns = dom(b).getElementsByTagName("sheet")
      (0 until ns.getLength).map { i =>
        val e = ns.item(i).asInstanceOf[org.w3c.dom.Element]
        e.getAttribute("name") -> e.getAttribute("r:id")
      }
    }.getOrElse(Seq.empty)

    val out = mutable.Buffer.empty[Cell]
    val saxf = SAXParserFactory.newInstance()
    saxf.setNamespaceAware(false)
    harden(saxf.setFeature)
    for ((name, rid) <- sheets; target <- rels.get(rid); part <- parts.get(target)) {
      saxf.newSAXParser().parse(new ByteArrayInputStream(part),
        new SheetHandler(name, shared, out))
    }
    out.toSeq
  }
}

/** Minimal SpreadsheetML writer — the zip+XML inverse of XlsxParse, with
  * the same zero added dependencies (JDK zip + string-built XML). Numeric-
  * looking text becomes a numeric cell, everything else an inline string,
  * so write→read through XlsxParse round-trips cell-for-cell (the reader
  * returns numeric cells as their raw text and inline strings verbatim). */
object XlsxWrite {

  private val NumericRe = "[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?"

  private def esc(s: String): String = s.flatMap {
    case '&' => "&amp;"; case '<' => "&lt;"; case '>' => "&gt;"
    case '"' => "&quot;"; case c => c.toString
  }

  /** 0-based column index → letters (0 → A, 26 → AA). */
  def colLetters(i: Int): String = {
    var n = i + 1
    val sb = new StringBuilder
    while (n > 0) { n -= 1; sb.insert(0, ('A' + n % 26).toChar); n /= 26 }
    sb.toString
  }

  private def colIndex(letters: String): Int =
    letters.foldLeft(0)((a, c) => a * 26 + (c - 'A' + 1)) - 1

  private def sheetXml(cells: Seq[XlsxParse.Cell]): String = {
    val rows = cells.groupBy(_.row).toSeq.sortBy(_._1).map { case (r, cs) =>
      val cellsXml = cs.sortBy(c => colIndex(c.col)).map { c =>
        val ref = s"${c.col}$r"
        if (c.value.matches(NumericRe)) s"""<c r="$ref"><v>${c.value}</v></c>"""
        else s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${esc(c.value)}</t></is></c>"""
      }.mkString
      s"""<row r="$r">$cellsXml</row>"""
    }.mkString
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
       |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$rows</sheetData></worksheet>""".stripMargin
  }

  /** Write a workbook of (sheet name, populated cells) to a local path.
    * One file, driver-side: a workbook is a single-file REPORT artifact
    * (the reference's own grain) — parquet/orc stay the scale sinks. */
  def writeCells(path: String, sheets: Seq[(String, Seq[XlsxParse.Cell])]): Unit = {
    val overrides = sheets.indices.map(i =>
      s"""<Override PartName="/xl/worksheets/sheet${i + 1}.xml" ContentType="$WorksheetType"/>""").mkString
    val contentTypes =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>$overrides</Types>""".stripMargin
    val rootRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""".stripMargin
    val sheetTags = sheets.zipWithIndex.map { case ((name, _), i) =>
      s"""<sheet name="${esc(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>""" }.mkString
    val workbook =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>$sheetTags</sheets></workbook>""".stripMargin
    val wbRels =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">${sheets.indices.map(i =>
        s"""<Relationship Id="rId${i + 1}" Type="$WorksheetRel" Target="worksheets/sheet${i + 1}.xml"/>""").mkString}</Relationships>""".stripMargin

    writeZip(path, Seq("[Content_Types].xml" -> contentTypes, "_rels/.rels" -> rootRels,
      "xl/workbook.xml" -> workbook, "xl/_rels/workbook.xml.rels" -> wbRels).map(utf8) ++
      sheets.zipWithIndex.map { case ((_, cells), i) =>
        utf8(s"xl/worksheets/sheet${i + 1}.xml" -> sheetXml(cells)) })
  }

  private def utf8(e: (String, String)): (String, Array[Byte]) =
    e._1 -> e._2.getBytes(StandardCharsets.UTF_8)

  private def writeZip(path: String, entries: Seq[(String, Array[Byte])]): Unit = {
    val zout = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(path)))
    try entries.foreach { case (name, bytes) =>
      zout.putNextEntry(new java.util.zip.ZipEntry(name))
      zout.write(bytes)
      zout.closeEntry()
    } finally zout.close()
  }

  private val WorksheetType =
    "application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"
  private val WorksheetRel =
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet"
  private val SheetTag = """<sheet\b[^>]*/>""".r
  private val RelTag = """<Relationship\b[^>]*/>""".r
  private val OverrideTag = """<Override\b[^>]*/>""".r
  private def attr(tag: String, name: String): String =
    raw"""\s$name="([^"]*)"""".r.findFirstMatchIn(tag).map(_.group(1)).getOrElse("")

  /** Copy the workbook `source` to `path` with the named `sheets` written
    * as values-only parts at the end of the sheet list (replacing any
    * sheet of the same name) and every other part copied byte for byte:
    * kept sheets keep their formulas, styles and number formats, and
    * `xl/styles.xml` / `xl/sharedStrings.xml` are untouched. Only the
    * sheet list is patched (`workbook.xml`, its rels, `[Content_Types].xml`);
    * the calculation chain is dropped (Excel rebuilds it) and the workbook
    * asks for a full recalculation on load, so kept formulas over the
    * replaced sheets show their new values. */
  def replaceSheets(source: Array[Byte], path: String,
                    sheets: Seq[(String, Seq[XlsxParse.Cell])]): Unit = {
    val parts = XlsxParse.zipEntries(source)
    def text(name: String) = new String(parts.find(_._1 == name).get._2, StandardCharsets.UTF_8)
    val (workbook, rels, types) =
      (text("xl/workbook.xml"), text("xl/_rels/workbook.xml.rels"), text("[Content_Types].xml"))
    val sheetTags = SheetTag.findAllIn(workbook).toSeq
    val relTags = RelTag.findAllIn(rels).toSeq
    val goneSheets = sheetTags.filter(t => sheets.exists(s => esc(s._1) == attr(t, "name")))
    val goneRels = relTags.filter(t => goneSheets.exists(attr(_, "r:id") == attr(t, "Id")) ||
      attr(t, "Type").endsWith("/calcChain"))
    val gone = goneRels.map(t => XlsxParse.partPath(attr(t, "Target"))).toSet
    val kept = parts.filterNot(e => gone(e._1))
    val partNames = Iterator.from(1).map(i => s"xl/worksheets/sheet$i.xml")
      .filterNot(p => kept.exists(_._1 == p))
    val relIds = Iterator.from(1).map(i => s"rId$i").filterNot(id => relTags.exists(attr(_, "Id") == id))
    val sheetId0 = sheetTags.map(attr(_, "sheetId").toInt).maxOption.getOrElse(0)
    val added = sheets.zipWithIndex.map { case ((name, cells), i) =>
      (name, cells, partNames.next(), relIds.next(), sheetId0 + 1 + i) }
    def patch(xml: String, drop: Seq[String], close: String, add: Seq[String]): String =
      drop.foldLeft(xml)((x, t) => x.replace(t, "")).replace(close, add.mkString + close)
    val wb = patch(workbook, goneSheets, "</sheets>", added.map { case (n, _, _, rid, id) =>
      s"""<sheet name="${esc(n)}" sheetId="$id" r:id="$rid"/>""" })
    val patched = Map(
      "xl/workbook.xml" ->
        (if (wb.contains("fullCalcOnLoad")) wb
         else wb.replaceFirst("<calcPr\\b", "<calcPr fullCalcOnLoad=\"1\"")),
      "xl/_rels/workbook.xml.rels" -> patch(rels, goneRels, "</Relationships>",
        added.map { case (_, _, p, rid, _) =>
          s"""<Relationship Id="$rid" Type="$WorksheetRel" Target="/$p"/>""" }),
      "[Content_Types].xml" -> patch(types,
        OverrideTag.findAllIn(types).filter(t => gone(attr(t, "PartName").stripPrefix("/"))).toSeq,
        "</Types>", added.map { case (_, _, p, _, _) =>
          s"""<Override PartName="/$p" ContentType="$WorksheetType"/>""" }))
    writeZip(path,
      kept.map { case (n, b) => patched.get(n).map(x => utf8(n -> x)).getOrElse(n -> b) } ++
        added.map { case (_, cells, p, _, _) => utf8(p -> sheetXml(cells)) })
  }

  /** DataFrame → dense sheet grid, like pandas to_excel(index=False):
    * header row 1 from column names, values below, null cells skipped. */
  def dfCells(df: org.apache.spark.sql.DataFrame): Seq[XlsxParse.Cell] = {
    val header = df.columns.zipWithIndex.map { case (c, j) =>
      XlsxParse.Cell("", 1, colLetters(j), c) }
    val body = df.collect().zipWithIndex.flatMap { case (row, i) =>
      df.columns.indices.flatMap { j =>
        Option(row.get(j)).map(v =>
          XlsxParse.Cell("", i + 2, colLetters(j), v.toString))
      }
    }
    (header ++ body).toSeq
  }
}

/** DataFrame-facing xlsx readers (SURVEY.md §2H). */
object Xlsx {

  private val FinalSheet = "Final"
  private val QaSheet = "Missing_GL_Mapping"

  /** The reference's write_back_to_warehouse (build_warehouse.py:172-181):
    * rewrite the warehouse workbook with the Final and Missing_GL_Mapping
    * sheets replaced by the given DataFrames (header row + values, as
    * to_excel(index=False) lays them out) and every OTHER sheet kept as
    * it was, formulas, styles and number formats included, kept sheets
    * first — the reference's exact sheet order. Driver-side single-file I/O: the warehouse workbook is the
    * reference user's report artifact, inherently one small file; the
    * scale-correct data sinks remain parquet/orc (SURVEY §2H). */
  def writeBack(warehousePath: String, outPath: String,
                finalDf: org.apache.spark.sql.DataFrame,
                missingDf: org.apache.spark.sql.DataFrame): Unit =
    XlsxWrite.replaceSheets(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(warehousePath)), outPath,
      Seq(FinalSheet -> XlsxWrite.dfCells(finalDf), QaSheet -> XlsxWrite.dfCells(missingDf)))

  /** Every populated cell of every `.xlsx` under `path` (glob ok):
    * (file, sheet, row, col, value) — one parse task per workbook via
    * the binaryFile source. */
  def cellsDf(spark: SparkSession, path: String): DataFrame = {
    val session = spark
    import session.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.xlsx")
      .load(path)
      .select(element_at(split(col("path"), "/"), -1).as("file"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (file, bytes) =>
        XlsxParse.cells(bytes).map(c => (file, c.sheet, c.row, c.col, c.value))
      }
      .toDF("file", "sheet", "row", "col", "value")
  }

  /** Generic "sheet grid → table keyed by its header row": per (file,
    * sheet), the first row containing ALL `headers` (case-insensitive)
    * is the header (Code.gs:176-184's scan); every later row becomes one
    * output row with a column per header, NULL where the cell is blank.
    * Rows above the header — banners, titles, deceptive numerics — are
    * dropped by construction. Declarative end to end: the header lookup
    * is a tiny aggregate joined back, the grid pivot is a first()
    * aggregate over (file, sheet, row) — two shuffles, both on fine keys. */
  def sheetByHeaders(spark: SparkSession, path: String, headers: Seq[String]): DataFrame = {
    val cells = cellsDf(spark, path)
    val up = upper(trim(col("value")))
    val H = headers.map(_.toUpperCase)
    // fresh column names throughout the header side: it descends from the
    // same cellsDf, and duplicate attribute ids would make the final join
    // an ambiguous self-join
    val hdrCells = cells.filter(up.isin(H: _*))
      .select(col("file").as("hfile"), col("sheet").as("hsheet"),
        col("row").as("hrow"), col("col").as("hcol"), up.as("hdr"))
    // first row per sheet carrying every requested header
    val hdrRow = hdrCells.groupBy(col("hfile"), col("hsheet"), col("hrow"))
      .agg(countDistinct(col("hdr")).as("nh"))
      .filter(col("nh") === H.size)
      .groupBy(col("hfile"), col("hsheet")).agg(min(col("hrow")).as("hdr_row"))
      .select(col("hfile").as("rfile"), col("hsheet").as("rsheet"), col("hdr_row"))
    // header name -> column letters for that sheet's header row
    val hdrMap = hdrCells.join(hdrRow,
        col("hfile") === col("rfile") && col("hsheet") === col("rsheet") &&
          col("hrow") === col("hdr_row"))
      .select(col("hfile"), col("hsheet"), col("hdr_row"), col("hcol"), col("hdr"))
    cells.join(hdrMap,
        col("file") === col("hfile") && col("sheet") === col("hsheet") &&
          col("col") === col("hcol"))
      .filter(col("row") > col("hdr_row"))
      .groupBy(col("file"), col("sheet"), col("row"))
      .pivot("hdr", H)
      .agg(first(col("value")))
  }

  /** The reference's income statements, from real workbooks: the
    * NUMBER / ACTUAL columns below each sheet's detected header row in
    * the raw (file, sheet, pos, label, amount_str) statements shape —
    * plug-compatible with Warehouse.factFrom / sectionFilledFrom, so the
    * whole warehouse pipeline runs off actual monthly files. */
  def statementsXlsx(spark: SparkSession, path: String): DataFrame =
    sheetByHeaders(spark, path, Seq("NUMBER", "DESCRIPTION", "ACTUAL"))
      .select(col("file"), col("sheet"), col("row").cast("long").as("pos"),
        coalesce(col("NUMBER"), lit("")).as("label"),
        coalesce(col("ACTUAL"), lit("")).as("amount_str"))
}
