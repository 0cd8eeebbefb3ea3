package graft

import org.apache.spark.sql.functions._
import graft.sources.Xlsx
import graft.warehouse.Warehouse

/** Drives the dependency-free xlsx reader against committed fixture
  * workbooks (src/test/resources/xlsx, written by dev/xlsx_fixtures.py)
  * that reproduce the layout of the reference's sample workbooks
  * (python_version/sample_data, same file names) in Excel's own dialect:
  * shared strings, styled and formula cells, absolute part targets.
  * The reference's own Excel-written bytes are not in this repository. */
class XlsxSpec extends SparkSpec {

  private def fixture(name: String): String =
    java.nio.file.Paths.get(getClass.getResource(s"/xlsx/$name").toURI).toString
  private lazy val income = fixture("MM.YYYY Compant Depts Income Statement updated.xlsx")
  private lazy val warehouseWb = fixture("Example_Company Data Warehouse.xlsx")

  test("cellsDf reads every department sheet of the real income workbook") {
    val sheets = Xlsx.cellsDf(spark, income)
      .select("sheet").distinct().collect().map(_.getString(0)).sorted
    assert(sheets.length == 8 && sheets.forall(_.matches("DEPARTMENT 1\\d\\d-F")))
  }

  test("statementsXlsx yields the statements shape below each detected header row") {
    val st = Xlsx.statementsXlsx(spark, income)
    val rows = st.collect()
    assert(rows.nonEmpty)
    // header/banner rows are gone: nothing at or above the header (row 2)
    assert(rows.forall(_.getLong(2) > 2))
    val labels = rows.map(_.getString(3)).toSet
    assert(labels.contains("REVENUES") && labels.contains("EXPENSES"))
    assert(labels.exists(_.matches("\\d{3,4}")), s"numeric GL labels expected: $labels")
  }

  test("the warehouse pipeline runs off the real workbook end to end") {
    val fact = Warehouse.factFrom(Xlsx.statementsXlsx(spark, income))
    val rows = fact.select("sheet", "gl_code", "category", "amount").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getString(1) != null && r.getString(1).length == 4))
    assert(rows.map(_.getString(2)).toSet.subsetOf(Set("Revenue", "Expenses")))
  }

  test("loadAudit surfaces the reference's failure contract on malformed workbooks") {
    import graft.sources.XlsxParse.Cell
    import graft.sources.XlsxWrite
    // one sheet's cells: the NUMBER/DESCRIPTION/ACTUAL header at row 2
    // (statementsXlsx detects it), then the given (label, amount) rows
    def sheetCells(rows: Seq[(String, String)]): Seq[Cell] = {
      val hdr = Seq(Cell("s", 2, "A", "NUMBER"), Cell("s", 2, "B", "DESCRIPTION"),
        Cell("s", 2, "C", "ACTUAL"))
      hdr ++ rows.zipWithIndex.flatMap { case ((l, a), i) =>
        Seq(Cell("s", 3 + i, "A", l), Cell("s", 3 + i, "B", "d"), Cell("s", 3 + i, "C", a))
      }
    }
    val good = Seq(("REVENUES", ""), ("1010", "$100.00"))
    val dir = temp("graft-audit")
    // the reference raises on each of these (build_warehouse.py:27-29, :129);
    // the audit reports them per file instead
    XlsxWrite.writeCells(s"$dir/Financials 13.2024.xlsx",
      Seq(("DEPARTMENT 101-F", sheetCells(good))))
    XlsxWrite.writeCells(s"$dir/Financials latest.xlsx",
      Seq(("DEPARTMENT 102-F", sheetCells(good))))
    XlsxWrite.writeCells(s"$dir/Financials 05.2024.xlsx",
      Seq(("Summary", sheetCells(good))))
    XlsxWrite.writeCells(s"$dir/Financials 06.2024.xlsx",
      Seq(("DEPARTMENT 103-F", sheetCells(
        good ++ Seq(("Total Revenue", "$5.00"), ("2020", "N/A"))))))
    val audit = Warehouse.loadAudit(Xlsx.statementsXlsx(spark, s"$dir/*.xlsx"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(audit(("file", "month_out_of_range")) == 1)
    assert(audit(("file", "no_period_in_filename")) == 1)
    assert(audit(("file", "no_department_sheets")) == 1)
    assert(audit(("file", "ok")) == 1)
    assert(audit(("row", "non_gl_label")) == 1)      // 'Total Revenue'
    assert(audit(("row", "unparseable_amount")) == 1) // 'N/A'
    assert(audit(("row", "ok")) >= 1)
  }

  test("headerAudit mirrors the reference's GL-sheet header identification") {
    import spark.implicits._
    val audit = Warehouse.headerAudit(Seq(
      ("GL Code", "Description"), ("account #", "name"), // identified
      ("Num", "Description"),                            // bad GL header
      ("GL", "Detail")                                   // bad Description header
    ).toDF("gl_hdr", "desc_hdr"))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(audit("ok") == 2)
    assert(audit("gl_header_unidentified") == 1)
    assert(audit("desc_header_unidentified") == 1)
  }

  test("writeBack replaces Final/Missing_GL_Mapping and preserves every other sheet cell-for-cell") {
    import graft.sources.XlsxParse
    // real pipeline output as the report payload
    val fact = Warehouse.factFrom(Xlsx.statementsXlsx(spark, income))
    val finalDf = fact
      .select(col("gl_code"), col("category"), col("department"), col("amount"))
      .na.drop()
      .orderBy(col("gl_code"), col("department"), col("amount")).limit(50)
    val missingDf = fact.select(col("gl_code")).distinct().orderBy(col("gl_code")).limit(5)
    val out = temp("graft-wb-", Some(".xlsx"))
    Xlsx.writeBack(warehouseWb, out, finalDf, missingDf)

    def cellsOf(p: String) =
      XlsxParse.cells(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
    val orig = cellsOf(warehouseWb)
    val now = cellsOf(out)

    // every non-report sheet survives cell-for-cell (build_warehouse.py:174-179)
    val preservedNames = orig.map(_.sheet).distinct
      .filterNot(s => s == "Final" || s == "Missing_GL_Mapping")
    assert(preservedNames.nonEmpty)
    for (s <- preservedNames) {
      val a = orig.filter(_.sheet == s).map(c => (c.row, c.col, c.value)).sorted
      val b = now.filter(_.sheet == s).map(c => (c.row, c.col, c.value)).sorted
      assert(a == b, s"sheet $s not preserved")
    }

    // Final carries the DataFrame: header row 1 = column names, values below
    val fin = now.filter(_.sheet == "Final")
    val header = fin.filter(_.row == 1).sortBy(c => c.col.length -> c.col).map(_.value)
    assert(header == finalDf.columns.toSeq)
    val expected = finalDf.collect()
    assert(fin.map(_.row).max == expected.length + 1)
    val firstRow = fin.filter(_.row == 2).sortBy(c => c.col.length -> c.col).map(_.value)
    assert(firstRow == expected.head.toSeq.map(_.toString))

    // the written workbook is still consumable by the Spark-side reader
    val gl = Xlsx.sheetByHeaders(spark, out, Seq("GL#", "Description"))
      .filter(col("sheet") === "GL")
    assert(gl.count() > 0)
  }

  test("writeBack keeps the kept sheets' formulas and the workbook's styles") {
    // zip entries of a workbook, and the part a named sheet lives in
    def zipParts(p: String): Map[String, Array[Byte]] = {
      val zin = new java.util.zip.ZipInputStream(
        java.nio.file.Files.newInputStream(java.nio.file.Paths.get(p)))
      try Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
        .map(e => e.getName -> zin.readAllBytes()).toMap
      finally zin.close()
    }
    def sheetPart(parts: Map[String, Array[Byte]], sheet: String): String = {
      def text(n: String) = new String(parts(n), "UTF-8")
      val rid = raw"""<sheet name="$sheet"[^>]*r:id="([^"]+)"""".r
        .findFirstMatchIn(text("xl/workbook.xml")).get.group(1)
      val target = raw"""<Relationship Id="$rid"[^>]*Target="([^"]+)"""".r
        .findFirstMatchIn(text("xl/_rels/workbook.xml.rels")).get.group(1)
      text("xl/" + target.stripPrefix("/").stripPrefix("xl/"))
    }
    def formulas(xml: String) = "<f>[^<]*</f>".r.findAllIn(xml).toList

    val fact = Warehouse.factFrom(Xlsx.statementsXlsx(spark, income))
    val out = temp("graft-wb-", Some(".xlsx"))
    Xlsx.writeBack(warehouseWb, out,
      fact.select(col("gl_code"), col("amount")).limit(5), fact.select(col("gl_code")).limit(3))
    val after = zipParts(out)
    val before = zipParts(warehouseWb)
    val summaryFormulas = formulas(sheetPart(before, "Summary"))
    assert(summaryFormulas.exists(_.contains("SUMIFS")))
    assert(formulas(sheetPart(after, "Summary")) == summaryFormulas)
    assert(after.get("xl/styles.xml").map(_.toSeq) == before.get("xl/styles.xml").map(_.toSeq))
  }

  test("sheetByHeaders extracts the GL reference sheet from the warehouse workbook") {
    val gl = Xlsx.sheetByHeaders(spark, warehouseWb, Seq("GL#", "Description"))
      .filter(col("sheet") === "GL")
    val rows = gl.select(col("`GL#`"), col("DESCRIPTION")).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getString(0).matches("\\d{4}")))
  }
}
