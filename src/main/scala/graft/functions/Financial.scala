package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Financial-statement normalization functions, re-expressed as pure
  * Column expressions (whole-stage-codegen'd — no UDFs, so at 100 TB these
  * fuse into the parquet scan).
  *
  * Semantics mirror the reference implementation:
  *  - amount cleaning: /root/reference/python_version/build_warehouse.py:37-51
  *    and google_sheets_version/Code.gs:237-249 ($ and thousands-comma
  *    stripping, accounting parens = negative, blank/garbage → null)
  *  - GL-code normalization: Code.gs:251-256 (1-4 digit strings zero-padded
  *    to 4; anything else invalid → null)
  *  - month name/number: Code.gs:134-145
  *  - mm.yyyy period extraction from filenames: build_warehouse.py:20-29
  *  - department extraction from sheet names: build_warehouse.py:32-34
  */
object Financial {

  /** Exact money: a 2-decimal dollars-as-double → integer cents. Money is
    * summed over these BIGINTs, so every engine adds the same integers in
    * any order and agrees bit for bit (the oracles' `CAST(round(x*100) AS
    * BIGINT)`). */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** Integer cents → dollars as double: one division, at output. */
  def dollars(c: Column): Column = c.cast("double") / 100.0

  /** Parse an accounting amount string: strips '$' and ',', interprets
    * '(…)' as negative, yields null for blanks or non-numeric garbage.
    *
    * Order matters (matches build_warehouse.py:37-51 / Code.gs:237-249):
    * '$'/',' are stripped FIRST, then '(…)' is detected on the stripped
    * string — so "$(1,234.50)" is -1234.50. Only the OUTER parens are
    * removed; interior parens ("12(34)") leave a non-numeric body → null.
    * The numeric grammar matches Python float()/JS Number(): optional
    * sign, ".5" / "5." / exponent forms all accepted.
    *
    * Native single-pass kernel (expressions/StatementKernels.cleanAmount)
    * replacing three java.util.regex executions per row — the declarative
    * chain below is kept as the semantic twin ExpressionsSpec pins the
    * kernel against.
    *
    * Known deliberate divergence from the declarative twin (pinned in
    * ExpressionsSpec): a numeral followed by a Unicode NEL/LS terminator
    * (e.g. "5\\u0085") parses here (anchored prefix scan → 5.0), while
    * cleanAmountDeclarative's ANSI `cast("double")` throws on it. The
    * twins are equivalent over the statements corpus and all ASCII edge
    * cases, NOT over every Unicode string — don't build an oracle on
    * total equivalence. */
  def cleanAmount(raw: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.expressions.CleanAmount(
      GraftColumnBridge.expression(raw.cast("string"))))
  }

  /** The declarative regex chain — semantic twin for the kernel pin. */
  def cleanAmountDeclarative(raw: Column): Column = {
    val s0 = trim(regexp_replace(raw.cast("string"), "[$,]", ""))
    val neg = s0.rlike("^\\(.*\\)$")
    val body = trim(when(neg, regexp_replace(s0, "^\\((.*)\\)$", "$1")).otherwise(s0))
    val num = when(body.rlike("^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$"),
      body.cast("double"))
    when(neg, -num).otherwise(num)
  }

  /** Normalize a GL code: 1-4 digit token → zero-padded 4 chars; else null.
    * Numeric cells (Excel-origin doubles arrive as "123.0") are truncated
    * to their integer part before padding, mirroring Code.gs:251-256's
    * typeof-number branch (Math.trunc + padStart). */
  def normalizeGlCode(raw: Column): Column = {
    val s = trim(raw.cast("string"))
    val intPart = regexp_extract(s, "^(\\d{1,4})(?:\\.\\d+)?$", 1)
    when(intPart =!= "", lpad(intPart, 4, "0"))
  }

  /** Month number (1-12) → English month name, as the reference writes to
    * the warehouse (build_warehouse.py:202). */
  def monthName(monthNum: Column): Column = {
    val names = Seq("January", "February", "March", "April", "May", "June",
      "July", "August", "September", "October", "November", "December")
    names.zipWithIndex.foldLeft(lit(null).cast("string")) { case (acc, (n, i)) =>
      when(monthNum === (i + 1), n).otherwise(acc)
    }
  }

  /** English month name → month number (case-insensitive), null if unknown. */
  def monthNumber(name: Column): Column = {
    val names = Seq("january", "february", "march", "april", "may", "june",
      "july", "august", "september", "october", "november", "december")
    names.zipWithIndex.foldLeft(lit(null).cast("int")) { case (acc, (n, i)) =>
      when(lower(trim(name)) === n, lit(i + 1)).otherwise(acc)
    }
  }

  /** Extract the month from an 'mm.yyyy'-bearing filename, null if absent
    * or out of range (reference raises; in a distributed load we null-flag
    * and route to QA instead of failing the job). */
  def periodMonth(filename: Column): Column = {
    val m = regexp_extract(filename, "(\\d{2})\\.(\\d{4})", 1)
    when(m =!= "", m.cast("int")).cast("int") match {
      case c => when(c.between(1, 12), c)
    }
  }

  /** Extract the year from an 'mm.yyyy'-bearing filename. */
  def periodYear(filename: Column): Column = {
    val m = regexp_extract(filename, "(\\d{2})\\.(\\d{4})", 2)
    when(m =!= "", m.cast("int"))
  }

  /** Extract the department number from a 'DEPARTMENT NNN-F' sheet name
    * (case-insensitive, tolerant of spacing and dash variants, matching
    * Code.gs:14). */
  def extractDepartment(sheetName: Column): Column = {
    val d = regexp_extract(trim(sheetName), "(?i)^DEPARTMENT\\s+(\\d+)\\s*[-–—]\\s*F", 1)
    when(d =!= "", d)
  }
}
