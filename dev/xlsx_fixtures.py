#!/usr/bin/env python3
"""Write XlsxSpec's two fixture workbooks in Excel's own SpreadsheetML dialect.

The workbooks reproduce the layout of the reference's sample files
(python_version/sample_data), as XlsxSpec's assertions describe them:

  MM.YYYY Compant Depts Income Statement updated.xlsx
      sheets DEPARTMENT 101-F .. DEPARTMENT 108-F, each with a banner row
      carrying a stray year, the NUMBER | DESCRIPTION | ACTUAL | BUDGET
      header on row 2, REVENUES / EXPENSES section markers, GL codes as
      numbers (one of three digits) and one as text, Total / NET INCOME
      formula rows, a negative amount and one "$(1,234.50)" text amount.
  Example_Company Data Warehouse.xlsx
      sheets Summary (formulas, a date, a boolean), GL (title row above
      the GL# | Description | Group header), Final (the warehouse's eight
      columns) and Missing_GL_Mapping.

Unlike graft's own XlsxWrite (inline strings only) the parts are what
Excel writes: every text cell is a shared string (t="s"), numbers carry
styles with a currency number format, total rows are formulas with cached
values, and the workbook's relationships use absolute /xl/... targets.

Output is deterministic (fixed part order, fixed zip timestamps), so
re-running it reproduces the committed files byte for byte:

  python3 dev/xlsx_fixtures.py [OUT_DIR]     # default src/test/resources/xlsx
  python3 dev/xlsx_fixtures.py /tmp/x && cmp /tmp/x/*Income*.xlsx \\
      "src/test/resources/xlsx/MM.YYYY Compant Depts Income Statement updated.xlsx"

Standard library only.
"""
import os
import sys
import zipfile
from decimal import Decimal
from xml.sax.saxutils import escape

INCOME = "MM.YYYY Compant Depts Income Statement updated.xlsx"
WAREHOUSE = "Example_Company Data Warehouse.xlsx"

NS_MAIN = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
NS_R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
NS_PKG_R = "http://schemas.openxmlformats.org/package/2006/relationships"
NS_X14AC = "http://schemas.microsoft.com/office/spreadsheetml/2009/9/ac"
DECL = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\r\n'
CT_SHEET = "application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"

# cellXfs indices in STYLES
GENERAL, BOLD, CURRENCY, BOLD_CURRENCY, TITLE, DATE = range(6)

STYLES = (
    DECL
    + f'<styleSheet xmlns="{NS_MAIN}">'
    '<numFmts count="1"><numFmt numFmtId="164" formatCode="&quot;$&quot;#,##0.00_);'
    '[Red]\\(&quot;$&quot;#,##0.00\\)"/></numFmts>'
    '<fonts count="3">'
    '<font><sz val="11"/><color theme="1"/><name val="Calibri"/><family val="2"/>'
    '<scheme val="minor"/></font>'
    '<font><b/><sz val="11"/><color theme="1"/><name val="Calibri"/><family val="2"/>'
    '<scheme val="minor"/></font>'
    '<font><b/><sz val="14"/><color theme="1"/><name val="Calibri"/><family val="2"/>'
    '<scheme val="minor"/></font></fonts>'
    '<fills count="2"><fill><patternFill patternType="none"/></fill>'
    '<fill><patternFill patternType="gray125"/></fill></fills>'
    '<borders count="1"><border><left/><right/><top/><bottom/><diagonal/></border></borders>'
    '<cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/></cellStyleXfs>'
    '<cellXfs count="6">'
    '<xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>'
    '<xf numFmtId="0" fontId="1" fillId="0" borderId="0" xfId="0" applyFont="1"/>'
    '<xf numFmtId="164" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>'
    '<xf numFmtId="164" fontId="1" fillId="0" borderId="0" xfId="0" applyNumberFormat="1" applyFont="1"/>'
    '<xf numFmtId="0" fontId="2" fillId="0" borderId="0" xfId="0" applyFont="1"/>'
    '<xf numFmtId="14" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>'
    '</cellXfs>'
    '<cellStyles count="1"><cellStyle name="Normal" xfId="0" builtinId="0"/></cellStyles>'
    '<dxfs count="0"/><tableStyles count="0" defaultTableStyle="TableStyleMedium2" '
    'defaultPivotStyle="PivotStyleLight16"/></styleSheet>'
)


class Rich:
    """A shared string of formatted runs, as Excel stores a partly bold cell."""

    def __init__(self, *runs):
        self.runs = runs  # (text, bold)

    def text(self):
        return "".join(t for t, _ in self.runs)


class Formula:
    """A formula cell with Excel's cached result."""

    def __init__(self, expr, cached):
        self.expr, self.cached = expr, cached


def num(x):
    """Excel's text for a number: integral values carry no decimal point."""
    d = Decimal(x)
    if d == d.to_integral_value():
        return str(int(d))
    return format(d.normalize(), "f")


def col_letter(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


class SharedStrings:
    """The workbook's sst, in order of first use; counts every t="s" cell."""

    def __init__(self):
        self.index, self.items, self.count = {}, [], 0

    def ref(self, value):
        key = value.text() if isinstance(value, Rich) else value
        self.count += 1
        if key not in self.index:
            self.index[key] = len(self.items)
            self.items.append(value)
        return self.index[key]

    def xml(self):
        def si(v):
            if isinstance(v, Rich):
                runs = "".join(
                    "<r><rPr>" + ("<b/>" if bold else "")
                    + '<sz val="11"/><color theme="1"/><rFont val="Calibri"/>'
                    '<family val="2"/><scheme val="minor"/></rPr>'
                    + t_elem(t) + "</r>" for t, bold in v.runs)
                return f"<si>{runs}</si>"
            return f"<si>{t_elem(v)}</si>"

        def t_elem(t):
            space = ' xml:space="preserve"' if t != t.strip() else ""
            return f"<t{space}>{escape(t)}</t>"

        body = "".join(si(v) for v in self.items)
        return (DECL + f'<sst xmlns="{NS_MAIN}" count="{self.count}" '
                f'uniqueCount="{len(self.items)}">{body}</sst>')


def sheet_xml(rows, sst):
    """rows: {row number: [cell per column from A, None to skip]}, each cell
    (value, style) with value str / Rich (shared string), bool, int /
    Decimal (number), Formula, or None (a styled cell with no value)."""
    max_col = max(len(cells) for cells in rows.values())
    dim = f"A1:{col_letter(max_col - 1)}{max(rows)}"
    out = []
    for r in sorted(rows):
        cells = rows[r]
        xs = []
        for j, cell in enumerate(cells):
            if cell is None:
                continue
            v, s = cell
            ref = f"{col_letter(j)}{r}"
            sa = f' s="{s}"' if s else ""
            if isinstance(v, (str, Rich)):
                xs.append(f'<c r="{ref}"{sa} t="s"><v>{sst.ref(v)}</v></c>')
            elif isinstance(v, Formula):
                xs.append(f'<c r="{ref}"{sa}><f>{escape(v.expr)}</f>'
                          f"<v>{num(v.cached)}</v></c>")
            elif isinstance(v, bool):
                xs.append(f'<c r="{ref}"{sa} t="b"><v>{int(v)}</v></c>')
            elif v is None:
                xs.append(f'<c r="{ref}"{sa}/>')
            else:
                xs.append(f'<c r="{ref}"{sa}><v>{num(v)}</v></c>')
        out.append(f'<row r="{r}" spans="1:{max_col}" x14ac:dyDescent="0.25">{"".join(xs)}</row>')
    return (
        DECL
        + f'<worksheet xmlns="{NS_MAIN}" xmlns:r="{NS_R}" '
        'xmlns:mc="http://schemas.openxmlformats.org/markup-compatibility/2006" '
        f'mc:Ignorable="x14ac" xmlns:x14ac="{NS_X14AC}">'
        f'<dimension ref="{dim}"/><sheetViews><sheetView workbookViewId="0"/></sheetViews>'
        '<sheetFormatPr defaultRowHeight="15" x14ac:dyDescent="0.25"/>'
        f'<sheetData>{"".join(out)}</sheetData>'
        '<pageMargins left="0.7" right="0.7" top="0.75" bottom="0.75" header="0.3" footer="0.3"/>'
        "</worksheet>"
    )


def write_workbook(path, sheets):
    """sheets: [(name, part number, rows)] in tab order; the
    part number is the sheetN.xml file, which need not follow tab order
    (Excel numbers parts by creation, tabs by position)."""
    sst = SharedStrings()
    parts = {n: sheet_xml(rows, sst) for _, n, rows in sheets}
    n_sheets = len(sheets)
    ct = (
        DECL
        + '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        + "".join(f'<Override PartName="/xl/worksheets/sheet{n}.xml" ContentType="{CT_SHEET}"/>'
                  for n in sorted(parts))
        + '<Override PartName="/xl/styles.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>'
        '<Override PartName="/xl/sharedStrings.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
        '<Override PartName="/docProps/core.xml" '
        'ContentType="application/vnd.openxmlformats-package.core-properties+xml"/>'
        '<Override PartName="/docProps/app.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.extended-properties+xml"/>'
        "</Types>"
    )
    root_rels = (
        DECL + f'<Relationships xmlns="{NS_PKG_R}">'
        '<Relationship Id="rId3" Type="http://schemas.openxmlformats.org/officeDocument/2006/'
        'relationships/extended-properties" Target="docProps/app.xml"/>'
        '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/package/2006/'
        'relationships/metadata/core-properties" Target="docProps/core.xml"/>'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/'
        'relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>'
    )
    tabs = "".join(f'<sheet name="{escape(name)}" sheetId="{n}" r:id="rId{n}"/>'
                   for name, n, _ in sheets)
    workbook = (
        DECL + f'<workbook xmlns="{NS_MAIN}" xmlns:r="{NS_R}">'
        '<fileVersion appName="xl" lastEdited="7" lowestEdited="7" rupBuild="27328"/>'
        '<workbookPr defaultThemeVersion="166925"/><bookViews>'
        '<workbookView xWindow="-120" yWindow="-120" windowWidth="29040" windowHeight="15840"/>'
        f'</bookViews><sheets>{tabs}</sheets><calcPr calcId="191029"/></workbook>'
    )
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships/"
    wb_rels = (
        DECL + f'<Relationships xmlns="{NS_PKG_R}">'
        + "".join(f'<Relationship Id="rId{n}" Type="{rel}worksheet" '
                  f'Target="/xl/worksheets/sheet{n}.xml"/>' for n in sorted(parts))
        + f'<Relationship Id="rId{n_sheets + 1}" Type="{rel}styles" Target="/xl/styles.xml"/>'
        f'<Relationship Id="rId{n_sheets + 2}" Type="{rel}sharedStrings" '
        'Target="/xl/sharedStrings.xml"/></Relationships>'
    )
    core = (
        DECL + '<cp:coreProperties xmlns:cp="http://schemas.openxmlformats.org/package/2006/'
        'metadata/core-properties" xmlns:dc="http://purl.org/dc/elements/1.1/" '
        'xmlns:dcterms="http://purl.org/dc/terms/" xmlns:dcmitype="http://purl.org/dc/dcmitype/" '
        'xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance"><dc:creator>Example Company</dc:creator>'
        '<cp:lastModifiedBy>Example Company</cp:lastModifiedBy>'
        '<dcterms:created xsi:type="dcterms:W3CDTF">2024-02-05T09:00:00Z</dcterms:created>'
        '<dcterms:modified xsi:type="dcterms:W3CDTF">2024-02-05T09:00:00Z</dcterms:modified>'
        "</cp:coreProperties>"
    )
    titles = "".join(f"<vt:lpstr>{escape(name)}</vt:lpstr>" for name, _, _ in sheets)
    app = (
        DECL + '<Properties xmlns="http://schemas.openxmlformats.org/officeDocument/2006/'
        'extended-properties" xmlns:vt="http://schemas.openxmlformats.org/officeDocument/2006/'
        'docPropsVTypes"><Application>Microsoft Excel</Application><DocSecurity>0</DocSecurity>'
        '<ScaleCrop>false</ScaleCrop><HeadingPairs><vt:vector size="2" baseType="variant">'
        '<vt:variant><vt:lpstr>Worksheets</vt:lpstr></vt:variant>'
        f'<vt:variant><vt:i4>{n_sheets}</vt:i4></vt:variant></vt:vector></HeadingPairs>'
        f'<TitlesOfParts><vt:vector size="{n_sheets}" baseType="lpstr">{titles}</vt:vector>'
        "</TitlesOfParts><AppVersion>16.0300</AppVersion></Properties>"
    )
    entries = [("[Content_Types].xml", ct), ("_rels/.rels", root_rels),
               ("xl/workbook.xml", workbook), ("xl/_rels/workbook.xml.rels", wb_rels)]
    entries += [(f"xl/worksheets/sheet{n}.xml", parts[n]) for n in sorted(parts)]
    entries += [("xl/styles.xml", STYLES), ("xl/sharedStrings.xml", sst.xml()),
                ("docProps/core.xml", core), ("docProps/app.xml", app)]
    with zipfile.ZipFile(path, "w") as z:
        for name, text in entries:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            info.create_system = 0
            info.external_attr = 0
            z.writestr(info, text.encode("utf-8"), compresslevel=6)


def cents(c):
    return Decimal(c) / 100


# (GL code cell, description, actual cents at DEPARTMENT 101-F, budget cents)
REVENUE = [(4010, "Product Sales", 12500000, 12000000),
           ("4020", "Service Revenue", 4310050, 4500000),  # GL code stored as text
           (4100, "Interest Income", 21575, 20000)]
EXPENSES = [(5010, "Salaries & Wages", 6240000, 6300000),
            (5020, "Rent", 1500000, 1500000),
            (650, "Bank Charges", 31240, 30000),              # pads to 0650
            (5400, "Vendor Rebates", -25075, 0),              # negative number
            (6300, "Prior-Period Adjustment", "$(1,234.50)", 0)]  # accounting text


def department_sheet(dept):
    """One DEPARTMENT NNN-F sheet; amounts scale with the department so
    the eight sheets differ."""
    k = dept - 100

    def amount(c):
        return c if isinstance(c, str) else cents(c * k)

    rows = {1: [(Rich(("Example Company", True), (" - Departmental Income Statement", False)), TITLE),
                None, (2024, GENERAL)],  # stray numeric above the header
            2: [("NUMBER", BOLD), ("DESCRIPTION", BOLD), ("ACTUAL", BOLD), ("BUDGET", BOLD)],
            3: [("REVENUES", BOLD)]}

    def section(first, lines):
        for i, (gl, desc, act, bud) in enumerate(lines):
            rows[first + i] = [(gl, GENERAL), (desc, GENERAL),
                               (amount(act), CURRENCY), (cents(bud * k), CURRENCY)]
        last = first + len(lines) - 1

        def total(j, c):
            # SUM skips text cells, so the text amount stays out of the total
            vals = [amount(line[j]) for line in lines]
            return Formula(f"SUM({c}{first}:{c}{last})",
                           sum(v for v in vals if not isinstance(v, str)))
        return last, total(2, "C"), total(3, "D")

    last, rev_act, rev_bud = section(4, REVENUE)
    rev_row = last + 1
    rows[rev_row] = [("Total Revenue", BOLD), None, (rev_act, BOLD_CURRENCY),
                     (rev_bud, BOLD_CURRENCY)]
    # rev_row + 1 is the blank row between the sections
    rows[rev_row + 2] = [("EXPENSES", BOLD)]
    last, exp_act, exp_bud = section(rev_row + 3, EXPENSES)
    exp_row = last + 1
    rows[exp_row] = [("Total Expenses", BOLD), None, (exp_act, BOLD_CURRENCY),
                     (exp_bud, BOLD_CURRENCY)]
    rows[exp_row + 2] = [
        ("NET INCOME", BOLD), None,
        (Formula(f"C{rev_row}-C{exp_row}", rev_act.cached - exp_act.cached), BOLD_CURRENCY),
        (Formula(f"D{rev_row}-D{exp_row}", rev_bud.cached - exp_bud.cached), BOLD_CURRENCY)]
    return rows


def income_workbook(path):
    write_workbook(path, [(f"DEPARTMENT {d}-F", d - 100, department_sheet(d))
                          for d in range(101, 109)])


# GL reference: code cell, description, group. 6300 is absent on purpose:
# it is the code Missing_GL_Mapping lists.
GL = [(4010, "Product Sales", "Revenue"), (4020, "Service Revenue", "Revenue"),
      (4100, "Interest Income", "Other Income"), (5010, "Salaries & Wages", "Payroll"),
      (5020, "Rent", "Occupancy"), ("0650", "Bank Charges", "Finance"),  # leading zero: text
      (5400, "Vendor Rebates", "Cost of Sales")]
GL_DESC = {str(c).zfill(4): (d, g) for c, d, g in GL}

# Final: a previous load, January 2024 (Code.gs:200's eight columns)
FINAL_HEADER = ["GL Code", "Description", "Category", "Group", "Year", "Month",
                "Department", "Amount"]
FINAL = [("4010", "Revenue", 101, 12250000), ("4020", "Revenue", 101, 4105000),
         ("5010", "Expenses", 101, 6180000), ("0650", "Expenses", 101, 29810),
         ("4010", "Revenue", 102, 24875000), ("5020", "Expenses", 102, 3000000),
         ("6300", "Expenses", 102, -123450)]


def warehouse_workbook(path):
    gl = {1: [("Example Company - GL Reference", TITLE)],
          2: [("GL#", BOLD), ("Description", BOLD), ("Group", BOLD)]}
    for i, (code, desc, group) in enumerate(GL):
        gl[3 + i] = [(code, GENERAL), (desc, GENERAL), (group, GENERAL)]

    final = {1: [(h, BOLD) for h in FINAL_HEADER]}
    for i, (code, cat, dept, amt) in enumerate(FINAL):
        desc, group = GL_DESC.get(code, (None, None))
        final[2 + i] = [(code, GENERAL),
                        (desc, GENERAL) if desc else None,
                        (cat, GENERAL),
                        (group, GENERAL) if group else None,
                        (2024, GENERAL), ("January", GENERAL), (dept, GENERAL),
                        (cents(amt), CURRENCY)]
    n_final = len(FINAL) + 1

    missing = {1: [(h, BOLD) for h in ["GL Code", "Description", "Group", "Missing Flag",
                                       "Status", "Last Seen"]],
               2: [("6300", GENERAL), None, None, ("YES", GENERAL),
                   ("Open", GENERAL), ("01.2024", GENERAL)]}

    def by_cat(cat):
        return sum(cents(a) for _, c, _, a in FINAL if c == cat)

    rev, exp = by_cat("Revenue"), by_cat("Expenses")
    summary = {
        1: [("Warehouse Summary", TITLE)],
        2: [("Last load", BOLD), (45327, DATE)],  # 2024-02-05 as an Excel date serial
        3: [("Reconciled", BOLD), (True, GENERAL)],
        4: [None, (None, CURRENCY)],  # formatted, never filled in
        5: [("Category", BOLD), ("Amount", BOLD)],
        6: [("Revenue", GENERAL),
            (Formula(f'SUMIFS(Final!H2:H{n_final},Final!C2:C{n_final},"Revenue")', rev), CURRENCY)],
        7: [("Expenses", GENERAL),
            (Formula(f'SUMIFS(Final!H2:H{n_final},Final!C2:C{n_final},"Expenses")', exp), CURRENCY)],
        8: [("Net Income", BOLD), (Formula("B6-B7", rev - exp), BOLD_CURRENCY)],
    }
    # Summary was added last (sheet4.xml) and moved to the first tab
    write_workbook(path, [
        ("Summary", 4, summary),
        ("GL", 1, gl),
        ("Final", 2, final),
        ("Missing_GL_Mapping", 3, missing),
    ])


def main():
    here = os.path.dirname(os.path.abspath(__file__))
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        here, "..", "src", "test", "resources", "xlsx")
    os.makedirs(out, exist_ok=True)
    income_workbook(os.path.join(out, INCOME))
    warehouse_workbook(os.path.join(out, WAREHOUSE))


if __name__ == "__main__":
    main()
