package graft.warehouse

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.GraftColumnBridge.stageBarrier
import graft.functions.Financial
import graft.operators.{ForwardFill, UpsertDedupe}
import graft.sources.Tables

/** The reference's financial warehouse, Spark-first (SURVEY.md §2A).
  *
  * Pipeline (mirrors build_warehouse.py:108-205 / Code.gs:168-317):
  * raw statements → section-marker category forward-fill → GL-code
  * normalize/filter → amount clean/filter → broadcast GL enrichment with
  * missing-mapping flag → idempotent append+dedupe keep-last on the
  * natural key (GL, Year, Month, Department, Category) → month-name
  * output in the 8-column warehouse schema (Code.gs:200).
  *
  * Scale design: every scalar op is a codegen'd Column expression fused
  * with the scan; the ffill window and the keep-last window each shuffle
  * ONCE on their partition key ((file, sheet) / the natural key); the GL
  * reference is a classic ≤100k-row dim → broadcast, the fact never
  * shuffles for enrichment. In production the warehouse table would be
  * partitioned by (Year, Month) so a monthly upsert rewrites one
  * partition instead of re-shuffling history.
  */
object Warehouse {

  private val PB = Statements.POS_BUCKET

  private def dollars(c: Column): Column = c.cast("double") / 100.0
  private def cents(c: Column): Column = round(c * 100).cast("long")

  // ------------------------------------------------------------- pipeline

  /** Statements with the section-marker category forward-filled
    * (build_warehouse.py:86-94: REVENUES/EXPENSES markers → ffill).
    * Works over any statements-shaped frame — the derived test frame or
    * one ingested from csv (see sources.Ingest.statementsCsv). */
  def sectionFilledFrom(statements: DataFrame): DataFrame = {
    val lbl = upper(trim(col("label")))
    val marker = when(lbl === "REVENUES", "Revenue").when(lbl === "EXPENSES", "Expenses")
    ForwardFill.ffill(statements,
      Seq(col("file"), col("sheet")), Seq(col("pos")), marker, "category")
  }

  def sectionFilled(spark: SparkSession, dir: String): DataFrame =
    sectionFilledFrom(Statements.income(spark, dir))

  /** The statements derivation before the GL/amount null-filter. */
  private def factDerived(statements: DataFrame): DataFrame =
    sectionFilledFrom(statements)
      .withColumn("month", Financial.periodMonth(col("file")))
      .withColumn("year", Financial.periodYear(col("file")))
      .withColumn("department", Financial.extractDepartment(col("sheet")))
      .withColumn("gl_code", Financial.normalizeGlCode(col("label")))
      .withColumn("amount", Financial.cleanAmount(col("amount_str")))

  /** Parsed fact rows: GL-filtered, amount-cleaned, dimension columns
    * extracted from file/sheet names (build_warehouse.py:96-105). */
  def factFrom(statements: DataFrame): DataFrame =
    factDerived(statements)
      .filter(col("gl_code").isNotNull && col("amount").isNotNull)
      .select("file", "sheet", "pos", "gl_code", "category",
        "year", "month", "department", "amount")

  def fact(spark: SparkSession, dir: String): DataFrame =
    factFrom(Statements.income(spark, dir))

  /** fact() for consumers that aggregate DIRECTLY over the derivation:
    * the parse chain runs once, in its own codegen stage (stageBarrier),
    * and the null-filter evaluates on the materialized columns above the
    * barrier. Without this, predicate pushdown duplicates the
    * fmt→re-parse expression tree below the projection AND whole-stage
    * codegen inlines the lot into the aggregate's generated method —
    * past Janino's 64 KB limit → silent interpreted fallback on the
    * hottest stage (CodegenGateSpec gates the whole registry).
    *
    * Building this frame runs nothing: factDerived's ffill window
    * shuffle and marker-frame exchanges run when a job first reads the
    * barrier, once per built frame (see the stageBarrier scaladoc). */
  def factStaged(spark: SparkSession, dir: String, cols: String*): DataFrame = {
    val need = (cols ++ Seq("gl_code", "amount")).distinct
    stageBarrier(factDerived(Statements.income(spark, dir)).select(need.map(col): _*))
      .filter(col("gl_code").isNotNull && col("amount").isNotNull)
      .select(cols.map(col): _*)
  }

  /** Fact + broadcast GL reference + missing-mapping flag
    * (build_warehouse.py:139-141). */
  def enriched(spark: SparkSession, dir: String): DataFrame =
    fact(spark, dir)
      .join(broadcast(Statements.glReference(spark)), Seq("gl_code"), "left")
      .withColumn("gl_missing", col("description").isNull)

  /** Append + dedupe keep-last on the natural key
    * (build_warehouse.py:159-169, Code.gs:264-274): within a batch the
    * later sheet row wins (pos desc), across batches the new load wins.
    *
    * The existing-warehouse rows (months loaded ten years ago that the
    * new batch doesn't cover — survive; stale amounts for re-delivered
    * keys — lose) are emitted by exploding per-row variants, so the
    * statements parse runs ONCE: a 3-branch union would re-scan and
    * re-window the statements per branch (Catalyst can't reuse the
    * exchange once per-branch pruning differentiates the subtrees). In
    * production the parsed fact would be a staged table and `existing`
    * the warehouse's own (Year, Month) partitions. */
  def upserted(spark: SparkSession, dir: String): DataFrame = {
    def variant(batch: Int, year: Column, amount: Column) =
      struct(col("gl_code"), col("category"), year.as("year"), col("month"),
        col("department"), amount.as("amount"), col("pos"), lit(batch).as("batch"))
    val k = col("pos") % PB
    val variants = filter(array(
      variant(1, col("year"), col("amount")),
      when(k % 3 === 0, variant(0, col("year") - 10, col("amount"))),
      when(k % 5 === 0, variant(0, col("year"), col("amount") + 100.0))),
      v => v.isNotNull)
    UpsertDedupe.keepLastWithin(
      fact(spark, dir).select(explode(variants).as("v")).select(col("v.*")),
      Seq(col("gl_code"), col("year"), col("month"), col("department"), col("category")),
      Seq(col("batch").desc, col("pos").desc))
      .drop("pos", "batch")
  }

  // ------------------------------------------------------ shared SQL CTEs

  /** Shared with operators that derive from the statement fact
    * (e.g. Analytics.finSparseFill). */
  def factCtesPublic: String = factCtes

  private val factCtes: String =
    s"""${Statements.incomeCtes},
       |fin_cat AS (
       |  SELECT *, last_value(CASE WHEN upper(trim(label)) = 'REVENUES' THEN 'Revenue'
       |                            WHEN upper(trim(label)) = 'EXPENSES' THEN 'Expenses' END IGNORE NULLS)
       |    OVER (PARTITION BY file, sheet ORDER BY pos ROWS UNBOUNDED PRECEDING) AS category
       |  FROM fin_statements),
       |fin_fact AS (
       |  SELECT file, sheet, pos, category,
       |         CAST(regexp_extract(file, '([0-9]{2})\\.([0-9]{4})', 1) AS INT) AS month,
       |         CAST(regexp_extract(file, '([0-9]{2})\\.([0-9]{4})', 2) AS INT) AS year,
       |         regexp_extract(sheet, 'DEPARTMENT ([0-9]+)-F', 1) AS department,
       |         lpad(regexp_extract(trim(label), '^([0-9]{1,4})(\\.[0-9]+)?$$', 1), 4, '0') AS gl_code,
       |         sc / 100.0 AS amount
       |  FROM fin_cat
       |  WHERE regexp_extract(trim(label), '^([0-9]{1,4})(\\.[0-9]+)?$$', 1) <> '' AND k % 17 <> 0)""".stripMargin

  private val upsertCtes: String =
    s"""$factCtes,
       |${Statements.glRefCtes},
       |fin_existing AS (
       |  SELECT gl_code, category, year - 10 AS year, month, department, amount, pos, 0 AS batch
       |  FROM fin_fact WHERE (pos % $PB) % 3 = 0
       |  UNION ALL
       |  SELECT gl_code, category, year, month, department, amount + 100.0, pos, 0
       |  FROM fin_fact WHERE (pos % $PB) % 5 = 0),
       |fin_unioned AS (
       |  SELECT * FROM fin_existing
       |  UNION ALL
       |  SELECT gl_code, category, year, month, department, amount, pos, 1 FROM fin_fact),
       |fin_upserted AS (
       |  SELECT gl_code, category, year, month, department, amount FROM (
       |    SELECT *, row_number() OVER (PARTITION BY gl_code, year, month, department, category
       |                                 ORDER BY batch DESC, pos DESC) AS rn
       |    FROM fin_unioned) t WHERE rn = 1)""".stripMargin

  // -------------------------------------------------------------- queries

  /** fin_parse_amount: every raw ACTUAL cell with its parsed value (the
    * oracle computes truth from integer cents, so a parser bug fails). */
  def finParseAmount(spark: SparkSession, dir: String): DataFrame =
    Statements.income(spark, dir)
      .select(col("file"), col("sheet"), col("pos"), col("amount_str").as("raw"),
        Financial.cleanAmount(col("amount_str")).as("amount"))
      .orderBy(col("file"), col("sheet"), col("pos"))

  val finParseAmountSql: String =
    s"""WITH ${Statements.incomeCtes}
       |SELECT file, sheet, pos, amount_str AS raw,
       |       CASE WHEN k IS NULL OR k % 17 = 0 THEN NULL ELSE sc / 100.0 END AS amount
       |FROM fin_statements ORDER BY file, sheet, pos""".stripMargin

  /** fin_gl_normalize: every NUMBER cell with its normalized GL code. */
  def finGlNormalize(spark: SparkSession, dir: String): DataFrame =
    Statements.income(spark, dir)
      .select(col("file"), col("sheet"), col("pos"), col("label").as("raw"),
        Financial.normalizeGlCode(col("label")).as("gl_code"))
      .orderBy(col("file"), col("sheet"), col("pos"))

  val finGlNormalizeSql: String =
    s"""WITH ${Statements.incomeCtes}
       |SELECT file, sheet, pos, label AS raw,
       |       CASE WHEN regexp_extract(trim(label), '^([0-9]{1,4})(\\.[0-9]+)?$$', 1) <> ''
       |            THEN lpad(regexp_extract(trim(label), '^([0-9]{1,4})(\\.[0-9]+)?$$', 1), 4, '0')
       |       END AS gl_code
       |FROM fin_statements ORDER BY file, sheet, pos""".stripMargin

  /** fin_month_dims: per (file, sheet): mm.yyyy period parse, month name,
    * department extraction. */
  def finMonthDims(spark: SparkSession, dir: String): DataFrame = {
    val d = Statements.income(spark, dir).select("file", "sheet").distinct()
      .withColumn("month", Financial.periodMonth(col("file")))
      .withColumn("year", Financial.periodYear(col("file")))
    d.withColumn("month_name", Financial.monthName(col("month")))
      .withColumn("department", Financial.extractDepartment(col("sheet")))
      .orderBy(col("file"), col("sheet"))
  }

  val finMonthDimsSql: String =
    s"""WITH ${Statements.incomeCtes}
       |SELECT file, sheet, month, year, ${Statements.monthNameSql("month")} AS month_name, department
       |FROM (
       |  SELECT file, sheet,
       |         CAST(regexp_extract(file, '([0-9]{2})\\.([0-9]{4})', 1) AS INT) AS month,
       |         CAST(regexp_extract(file, '([0-9]{2})\\.([0-9]{4})', 2) AS INT) AS year,
       |         regexp_extract(sheet, 'DEPARTMENT ([0-9]+)-F', 1) AS department
       |  FROM (SELECT DISTINCT file, sheet FROM fin_statements)) t
       |ORDER BY file, sheet""".stripMargin

  /** fin_section_fill: the REVENUES/EXPENSES → category forward-fill over
    * every raw statement row. */
  def finSectionFill(spark: SparkSession, dir: String): DataFrame =
    sectionFilled(spark, dir)
      .select(col("file"), col("sheet"), col("pos"), col("label"), col("category"))
      .orderBy(col("file"), col("sheet"), col("pos"))

  val finSectionFillSql: String =
    s"""WITH $factCtes
       |SELECT file, sheet, pos, label, category FROM fin_cat
       |ORDER BY file, sheet, pos""".stripMargin

  /** fin_dim_enrich: fact → broadcast GL dim left join + missing flag. */
  def finDimEnrich(spark: SparkSession, dir: String): DataFrame =
    enriched(spark, dir)
      .select(col("file"), col("sheet"), col("pos"), col("gl_code"), col("category"),
        col("year"), col("month"), col("department"), col("amount"),
        col("description"), col("gl_group"), col("gl_missing"))
      .orderBy(col("file"), col("sheet"), col("pos"))

  val finDimEnrichSql: String =
    s"""WITH $factCtes, ${Statements.glRefCtes}
       |SELECT f.file, f.sheet, f.pos, f.gl_code, f.category, f.year, f.month, f.department,
       |       f.amount, g.description, g.gl_group, g.description IS NULL AS gl_missing
       |FROM fin_fact f LEFT JOIN fin_glref g ON f.gl_code = g.gl_code
       |ORDER BY f.file, f.sheet, f.pos""".stripMargin

  /** fin_missing_qa: rows whose GL code is absent from the reference,
    * aggregated to the QA natural key. */
  def finMissingQa(spark: SparkSession, dir: String): DataFrame =
    enriched(spark, dir).filter(col("gl_missing"))
      .groupBy(col("gl_code"), col("year"), col("month"), col("department"), col("category"))
      .agg(dollars(sum(cents(col("amount")))).as("total_amount"), count(lit(1)).as("n"))
      .orderBy(col("gl_code"), col("year"), col("month"), col("department"), col("category"))

  val finMissingQaSql: String =
    s"""WITH $factCtes, ${Statements.glRefCtes}
       |SELECT f.gl_code, f.year, f.month, f.department, f.category,
       |       CAST(sum(CAST(round(f.amount*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_amount,
       |       count(*) AS n
       |FROM fin_fact f LEFT JOIN fin_glref g ON f.gl_code = g.gl_code
       |WHERE g.description IS NULL
       |GROUP BY f.gl_code, f.year, f.month, f.department, f.category
       |ORDER BY f.gl_code, f.year, f.month, f.department, f.category""".stripMargin

  /** fin_qa_status: the accumulating QA sheet (Code.gs:283-317) — issues
    * raised by the previous run stay listed; ones the GL sheet has since
    * gained flip to Resolved with description/group filled in. Each row
    * carries Last Seen (QA_HEADERS, Code.gs:12): the reference stamps
    * wall-clock `now` (Code.gs:298); the deterministic, oracle-able
    * stand-in is the latest statement period (mm.yyyy) that contained
    * the code — the run that would have stamped it. */
  def finQaStatus(spark: SparkSession, dir: String): DataFrame = {
    val codes = factStaged(spark, dir, "gl_code", "year", "month")
      .groupBy(col("gl_code"))
      .agg(max(col("year") * 100 + col("month")).as("lsi"))
    // issues = codes absent from the OLD sheet (newly raised) ∪ absent
    // from the CURRENT sheet (still open) — expressed as two broadcast
    // left joins + one filter so the statements derivation runs ONCE
    // (the former two-anti-join union re-derived it per branch: 2x the
    // dominant cost at sf1)
    val old = Statements.glReferenceOld(spark).select(col("gl_code"), lit(1).as("in_old"))
    val cur = Statements.glReference(spark)
    codes
      .join(broadcast(old), Seq("gl_code"), "left")
      .join(broadcast(cur), Seq("gl_code"), "left")
      .filter(col("in_old").isNull || col("description").isNull)
      .select(col("gl_code"),
        coalesce(col("description"), lit("")).as("description"),
        coalesce(col("gl_group"), lit("")).as("gl_group"),
        when(col("description").isNull, "YES").otherwise("").as("missing_flag"),
        when(col("description").isNull, "Open").otherwise("Resolved").as("status"),
        concat(lpad((col("lsi") % 100).cast("string"), 2, "0"), lit("."),
          expr("lsi DIV 100").cast("string")).as("last_seen"))
      .orderBy(col("gl_code"))
  }

  val finQaStatusSql: String =
    s"""WITH $factCtes, ${Statements.glRefCtes},
       |fin_codes AS (SELECT gl_code, max(year*100 + month) AS lsi
       |              FROM fin_fact GROUP BY gl_code),
       |fin_issues AS (
       |  SELECT gl_code, lsi FROM fin_codes c
       |  WHERE NOT EXISTS (SELECT 1 FROM fin_glref_old g WHERE g.gl_code = c.gl_code)
       |  UNION
       |  SELECT gl_code, lsi FROM fin_codes c
       |  WHERE NOT EXISTS (SELECT 1 FROM fin_glref g WHERE g.gl_code = c.gl_code))
       |SELECT i.gl_code,
       |       COALESCE(g.description, '') AS description,
       |       COALESCE(g.gl_group, '') AS gl_group,
       |       CASE WHEN g.description IS NULL THEN 'YES' ELSE '' END AS missing_flag,
       |       CASE WHEN g.description IS NULL THEN 'Open' ELSE 'Resolved' END AS status,
       |       lpad(CAST(i.lsi % 100 AS VARCHAR), 2, '0') || '.' || CAST(i.lsi // 100 AS VARCHAR) AS last_seen
       |FROM fin_issues i LEFT JOIN fin_glref g ON i.gl_code = g.gl_code
       |ORDER BY i.gl_code""".stripMargin

  /** fin_upsert_dedupe: the idempotent keep-last load. */
  def finUpsertDedupe(spark: SparkSession, dir: String): DataFrame =
    upserted(spark, dir)
      .orderBy(col("year"), col("month"), col("department"), col("category"), col("gl_code"))

  val finUpsertDedupeSql: String =
    s"""WITH $upsertCtes
       |SELECT gl_code, category, year, month, department, amount FROM fin_upserted
       |ORDER BY year, month, department, category, gl_code""".stripMargin

  /** The multi-file load expressed as one batch-stamped frame: every fact
    * row carries its file's period index as `batch` (the position the
    * file takes in Code.gs:96-106's (year, month) sort), and re-delivered
    * correction files — rows with pos%PB % 23 == 0, amended +50.00 —
    * arrive as a later wave (period index + 100000), exactly as a
    * revised workbook re-enters the sorted list after the originals. */
  def multiLoadBatches(spark: SparkSession, dir: String): DataFrame = {
    val f = fact(spark, dir)
    val periodBatch = (col("year") * 12 + col("month")).cast("long")
    val k = col("pos") % PB
    def v(amount: Column, batch: Column) =
      struct(col("gl_code"), col("category"), col("year"), col("month"),
        col("department"), amount.as("amount"), col("pos"), batch.as("batch"))
    val variants = filter(array(
      v(col("amount"), periodBatch),
      when(k % 23 === 0, v(col("amount") + 50.0, periodBatch + 100000L))),
      x => x.isNotNull)
    f.select(explode(variants).as("v")).select(col("v.*"))
  }

  /** Fold a batch-stamped frame into the warehouse: later batch wins per
    * natural key, later sheet row wins within a batch. ONE shuffle total
    * regardless of file count — the whole point of re-expressing the
    * loop (order-insensitivity + idempotence proven in MultiLoadSpec). */
  /** The reference's OTHER operating mode: the single-newest-file
    * trigger (build_warehouse.py:193-203 picks the most-recent mm.yyyy
    * workbook by mtime; Code.gs:87-109 sorts the folder so a revised
    * workbook re-enters last). Select only the newest batch from the
    * batch-stamped frame — a 1-row max aggregate broadcast back over the
    * frame, no second fact scan, no driver mtime loop. Single-file mode
    * is then literally a special case of the fold: folding the selected
    * batch onto the already-folded warehouse equals the one-shot fold of
    * every batch (MultiLoadSpec proves it). */
  def latestPeriodBatch(batches: DataFrame): DataFrame = {
    val mx = batches.agg(max(col("batch")).as("mx_batch"))
    batches.join(broadcast(mx), col("batch") === col("mx_batch")).drop("mx_batch")
  }

  def multiLoadFold(batches: DataFrame): DataFrame =
    UpsertDedupe.keepLastWithin(batches,
      Seq(col("gl_code"), col("year"), col("month"), col("department"), col("category")),
      Seq(col("batch").desc, col("pos").desc))
      .drop("pos", "batch")

  /** fin_multi_load: the reference's operating loop (Code.gs:87-109 —
    * getAllMonthlyXlsx_ lists every monthly workbook, sorts by (year,
    * month), and upserts each into the warehouse in that order). The
    * sequential N-file loop is re-expressed Spark-first: stamp each row
    * with its file's period index as the batch and run ONE windowed
    * keep-last over the natural key ordered by (batch desc, pos desc) —
    * the fold's fixed point is identical, but N files cost one shuffle
    * instead of N upsert passes over the growing warehouse. */
  def finMultiLoad(spark: SparkSession, dir: String): DataFrame =
    multiLoadFold(multiLoadBatches(spark, dir))
      .orderBy(col("year"), col("month"), col("department"), col("category"), col("gl_code"))

  val finMultiLoadSql: String =
    s"""WITH $factCtes,
       |ml_batches AS (
       |  SELECT gl_code, category, year, month, department, amount, pos,
       |         CAST(year*12 + month AS BIGINT) AS batch
       |  FROM fin_fact
       |  UNION ALL
       |  SELECT gl_code, category, year, month, department, amount + 50.0, pos,
       |         CAST(year*12 + month + 100000 AS BIGINT)
       |  FROM fin_fact WHERE (pos % $PB) % 23 = 0),
       |ml_final AS (
       |  SELECT gl_code, category, year, month, department, amount FROM (
       |    SELECT *, row_number() OVER (PARTITION BY gl_code, year, month, department, category
       |                                 ORDER BY batch DESC, pos DESC) AS rn
       |    FROM ml_batches) t WHERE rn = 1)
       |SELECT gl_code, category, year, month, department, amount FROM ml_final
       |ORDER BY year, month, department, category, gl_code""".stripMargin

  /** fin_latest_load: the newest-file operating mode as a registered
    * query — the reference's month-end trigger (build_warehouse.py:193-203
    * mtime-picks ONE workbook; Code.gs:87-109's sort makes the revised
    * file land last) is `latestPeriodBatch` (1-row max broadcast back)
    * followed by the same fold. No driver file loop, no second fact scan;
    * at 100 TB the max-batch probe reads one column. */
  def finLatestLoad(spark: SparkSession, dir: String): DataFrame =
    // latestPeriodBatch consumes the frame TWICE (max-batch agg + join);
    // without the barrier each branch re-runs the whole statements
    // derivation — the same double-derive fin_qa_status cleared in r5
    // (sf1: 10.0 s -> ~6 s with the derivation staged once).
    multiLoadFold(latestPeriodBatch(stageBarrier(multiLoadBatches(spark, dir))))
      .orderBy(col("year"), col("month"), col("department"), col("category"), col("gl_code"))

  val finLatestLoadSql: String =
    s"""WITH $factCtes,
       |ml_batches AS (
       |  SELECT gl_code, category, year, month, department, amount, pos,
       |         CAST(year*12 + month AS BIGINT) AS batch
       |  FROM fin_fact
       |  UNION ALL
       |  SELECT gl_code, category, year, month, department, amount + 50.0, pos,
       |         CAST(year*12 + month + 100000 AS BIGINT)
       |  FROM fin_fact WHERE (pos % $PB) % 23 = 0),
       |ml_latest AS (
       |  SELECT * FROM ml_batches
       |  WHERE batch = (SELECT max(batch) FROM ml_batches)),
       |ml_final AS (
       |  SELECT gl_code, category, year, month, department, amount FROM (
       |    SELECT *, row_number() OVER (PARTITION BY gl_code, year, month, department, category
       |                                 ORDER BY batch DESC, pos DESC) AS rn
       |    FROM ml_latest) t WHERE rn = 1)
       |SELECT gl_code, category, year, month, department, amount FROM ml_final
       |ORDER BY year, month, department, category, gl_code""".stripMargin

  /** fin_load_diff: what did the newest load change? — the month-end
    * audit the reference's operator runs by eye after a revised workbook
    * lands (Code.gs:87-109's sort re-admits it last). FULL OUTER diff on
    * the natural key between the warehouse folded WITHOUT the newest
    * batch and WITH it: added / removed / changed rows with exact-cents
    * before/after/delta (removed cannot happen under an append-only
    * upsert but is reported for generality). Batches are staged ONCE
    * behind the barrier (three consumers — max-batch probe, before-fold,
    * after-fold — would otherwise each re-run the statements
    * derivation); the two folds and the diff all shuffle on the same
    * natural key. Output is bounded by the newest batch's row count. */
  def finLoadDiff(spark: SparkSession, dir: String): DataFrame = {
    val keys = Seq("gl_code", "year", "month", "department", "category")
    val batches = stageBarrier(multiLoadBatches(spark, dir))
    val mx = batches.agg(max(col("batch")).as("mx_batch"))
    val beforeF = multiLoadFold(
      batches.crossJoin(broadcast(mx)).filter(col("batch") < col("mx_batch")).drop("mx_batch"))
    val afterF = multiLoadFold(batches)
    val b = beforeF.select(keys.map(col) :+ cents(col("amount")).as("before_cents"): _*)
    val a = afterF.select(keys.map(col) :+ cents(col("amount")).as("after_cents"): _*)
    b.join(a, keys, "full_outer")
      .withColumn("status",
        when(col("before_cents").isNull, "added")
          .when(col("after_cents").isNull, "removed")
          .when(col("before_cents") =!= col("after_cents"), "changed")
          .otherwise("unchanged"))
      .filter(col("status") =!= "unchanged")
      .select(keys.map(col) ++ Seq(
        dollars(col("before_cents")).as("before_amount"),
        dollars(col("after_cents")).as("after_amount"),
        dollars(col("after_cents") - col("before_cents")).as("delta"),
        col("status")): _*)
      .orderBy(col("year"), col("month"), col("department"), col("category"), col("gl_code"))
  }

  val finLoadDiffSql: String =
    s"""WITH $factCtes,
       |ml_batches AS (
       |  SELECT gl_code, category, year, month, department, amount, pos,
       |         CAST(year*12 + month AS BIGINT) AS batch
       |  FROM fin_fact
       |  UNION ALL
       |  SELECT gl_code, category, year, month, department, amount + 50.0, pos,
       |         CAST(year*12 + month + 100000 AS BIGINT)
       |  FROM fin_fact WHERE (pos % $PB) % 23 = 0),
       |before_f AS (
       |  SELECT gl_code, category, year, month, department,
       |         CAST(round(amount*100) AS BIGINT) AS before_cents FROM (
       |    SELECT *, row_number() OVER (PARTITION BY gl_code, year, month, department, category
       |                                 ORDER BY batch DESC, pos DESC) AS rn
       |    FROM ml_batches WHERE batch < (SELECT max(batch) FROM ml_batches)) t
       |  WHERE rn = 1),
       |after_f AS (
       |  SELECT gl_code, category, year, month, department,
       |         CAST(round(amount*100) AS BIGINT) AS after_cents FROM (
       |    SELECT *, row_number() OVER (PARTITION BY gl_code, year, month, department, category
       |                                 ORDER BY batch DESC, pos DESC) AS rn
       |    FROM ml_batches) t
       |  WHERE rn = 1),
       |d AS (
       |  SELECT gl_code, category, year, month, department, before_cents, after_cents
       |  FROM before_f FULL OUTER JOIN after_f
       |  USING (gl_code, category, year, month, department))
       |SELECT gl_code, year, month, department, category,
       |       CAST(before_cents AS DOUBLE)/100.0 AS before_amount,
       |       CAST(after_cents AS DOUBLE)/100.0 AS after_amount,
       |       CAST(after_cents - before_cents AS DOUBLE)/100.0 AS delta,
       |       CASE WHEN before_cents IS NULL THEN 'added'
       |            WHEN after_cents IS NULL THEN 'removed'
       |            ELSE 'changed' END AS status
       |FROM d
       |WHERE before_cents IS NULL OR after_cents IS NULL OR before_cents <> after_cents
       |ORDER BY year, month, department, category, gl_code""".stripMargin

  /** fin_warehouse_build: the flagship end-to-end pipeline — the
    * reference's 8-column Final sheet (Code.gs:200), month as name
    * (build_warehouse.py:202). */
  def finWarehouseBuild(spark: SparkSession, dir: String): DataFrame =
    upserted(spark, dir)
      .join(broadcast(Statements.glReference(spark)), Seq("gl_code"), "left")
      .select(col("gl_code"),
        coalesce(col("description"), lit("")).as("description"),
        col("category"),
        coalesce(col("gl_group"), lit("")).as("gl_group"),
        col("year"),
        Financial.monthName(col("month")).as("month"),
        col("department"), col("amount"))
      .orderBy(col("year"), col("department"), col("category"), col("gl_code"), col("month"))

  val finWarehouseBuildSql: String =
    s"""WITH $upsertCtes
       |SELECT * FROM (
       |  SELECT u.gl_code, COALESCE(g.description, '') AS description, u.category,
       |         COALESCE(g.gl_group, '') AS gl_group, u.year,
       |         ${Statements.monthNameSql("u.month")} AS month, u.department, u.amount
       |  FROM fin_upserted u LEFT JOIN fin_glref g ON u.gl_code = g.gl_code) t
       |ORDER BY year, department, category, gl_code, month""".stripMargin

  /** Production-shaped staged warehouse: the upserted fact written ONCE
    * per JVM per source dir through the partitioned sink (year/month
    * directories, the warehouse's natural partitions), then read back as
    * a plain parquet table. The in-query fin_* family re-derives the
    * statements parse + upsert inside every query — honest, but
    * unamortized; at 100 TB the parse+upsert runs once per load into
    * exactly this kind of table and every downstream reader just scans
    * it. The staged trend/ytd variants below are that production shape,
    * oracled against the SAME SQL as their in-query twins (the parquet
    * round-trip is bit-exact for every column). It is a Staged.table:
    * re-staged when the dir's content changes, removed at JVM exit; the
    * write happens at first construction (not for plan-only tooling). */
  def stagedUpserted(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Staged.table(spark, "staged", dir, partitionBy = Seq("year", "month"))(
      upserted(spark, dir))

  /** fin_trend_mom: month-over-month movement per (department, GL). */
  def finTrendMom(spark: SparkSession, dir: String): DataFrame =
    finTrendMomFrom(upserted(spark, dir))

  /** fin_trend_mom_staged: same result off the staged warehouse table. */
  def finTrendMomStaged(spark: SparkSession, dir: String): DataFrame =
    finTrendMomFrom(stagedUpserted(spark, dir))

  private def finTrendMomFrom(up: DataFrame): DataFrame = {
    val monthly = up
      .groupBy(col("department"), col("gl_code"), col("year"), col("month"))
      .agg(sum(cents(col("amount"))).as("tc"))
    val w = Window.partitionBy(col("department"), col("gl_code"))
      .orderBy(col("year"), col("month"))
    monthly
      .withColumn("prev_tc", lag(col("tc"), 1).over(w))
      .select(col("department"), col("gl_code"), col("year"), col("month"),
        dollars(col("tc")).as("total"),
        dollars(col("prev_tc")).as("prev_total"),
        dollars(col("tc") - col("prev_tc")).as("mom_delta"))
      .orderBy(col("department"), col("gl_code"), col("year"), col("month"))
  }

  val finTrendMomSql: String =
    s"""WITH $upsertCtes,
       |fin_monthly AS (
       |  SELECT department, gl_code, year, month,
       |         sum(CAST(round(amount*100) AS BIGINT)) AS tc
       |  FROM fin_upserted GROUP BY department, gl_code, year, month)
       |SELECT department, gl_code, year, month,
       |       CAST(tc AS DOUBLE)/100.0 AS total,
       |       CAST(lag(tc) OVER w AS DOUBLE)/100.0 AS prev_total,
       |       CAST(tc - lag(tc) OVER w AS DOUBLE)/100.0 AS mom_delta
       |FROM fin_monthly
       |WINDOW w AS (PARTITION BY department, gl_code ORDER BY year, month)
       |ORDER BY department, gl_code, year, month""".stripMargin

  // ------------------------------------------------------ fin_common_size
  /** Common-size income statement: every warehouse line as a percent of
    * its department-month Revenue total — the textbook vertical analysis
    * read next to the raw statement (reporting over the same upserted
    * fact as the fin_trend_mom family; completes the reference's
    * trend→forecast→audit reporting promise with the ratio view). Lines
    * in months with zero or absent revenue carry NULL pct.
    *
    * Scale: one fact shuffle (the monthly (dept, GL, category) rollup,
    * map-side combined; staged once for its two consumers); the revenue
    * denominator is an aggregate OVER that aggregate, joined back per
    * (department, year, month) — AQE broadcasts it while it fits. pct
    * is ONE IEEE division of exact integer cents (numerator pre-scaled
    * ×100 in integer space), rounded past the wobble — cross-engine
    * deterministic. */
  def finCommonSize(spark: SparkSession, dir: String): DataFrame =
    finCommonSizeFrom(upserted(spark, dir))

  /** fin_common_size_staged: same report off the staged warehouse table
    * (the fin_trend_mom_staged convention — production amortizes the
    * statements derivation once, the in-query twin is the honest
    * cold-start floor). */
  def finCommonSizeStaged(spark: SparkSession, dir: String): DataFrame =
    finCommonSizeFrom(stagedUpserted(spark, dir))

  private def finCommonSizeFrom(up: DataFrame): DataFrame = {
    val monthly = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      up
        .groupBy(col("department"), col("gl_code"), col("category"),
          col("year"), col("month"))
        .agg(sum(cents(col("amount"))).as("tc")))
    val rev = monthly.filter(col("category") === "Revenue")
      .groupBy(col("department"), col("year"), col("month"))
      .agg(sum(col("tc")).as("rev_tc"))
    monthly.join(rev, Seq("department", "year", "month"), "left")
      .select(col("department"), col("gl_code"), col("category"),
        col("year"), col("month"), dollars(col("tc")).as("amount"),
        when(col("rev_tc").isNull || col("rev_tc") === 0,
          lit(null).cast("double"))
          .otherwise(round((col("tc") * 100).cast("double") / col("rev_tc"), 4) + 0.0)
          .as("pct_of_revenue"))
      .orderBy(col("department"), col("year"), col("month"),
        col("gl_code"), col("category"))
  }

  val finCommonSizeSql: String =
    s"""WITH $upsertCtes,
       |fin_monthly AS (
       |  SELECT department, gl_code, category, year, month,
       |         sum(CAST(round(amount*100) AS BIGINT)) AS tc
       |  FROM fin_upserted GROUP BY department, gl_code, category, year, month),
       |rev AS (SELECT department, year, month, sum(tc) AS rev_tc
       |        FROM fin_monthly WHERE category = 'Revenue'
       |        GROUP BY department, year, month)
       |SELECT m.department, m.gl_code, m.category, m.year, m.month,
       |       CAST(m.tc AS DOUBLE)/100.0 AS amount,
       |       CASE WHEN rev.rev_tc IS NULL OR rev.rev_tc = 0 THEN NULL
       |            ELSE round(CAST(m.tc * 100 AS DOUBLE) / rev.rev_tc, 4) + 0.0
       |       END AS pct_of_revenue
       |FROM fin_monthly m LEFT JOIN rev USING (department, year, month)
       |ORDER BY department, year, month, gl_code, category""".stripMargin

  // ------------------------------------------------------ fin_seasonality
  /** Revenue seasonal index per department and calendar month: the
    * month's average revenue relative to the department's overall
    * average — the FP&A seasonality read that turns fin_trend_mom's
    * raw deltas into "is this dip normal for March" (and the
    * deseasonalization factor for fin_forecast_linear's inputs).
    *
    * Scale: one fact shuffle (the monthly Revenue rollup, staged); the
    * calendar-month rollup above it is ≤ |dept|·12 rows, staged once
    * for its two consumers (the dept total is an aggregate over the
    * aggregate, the common_size discipline). The index is ONE IEEE
    * division of exact integer cross-products (s_m·n_d)/(n_m·s_d) —
    * ratio of averages without ever forming a float average — NULL
    * where a department's revenue nets to zero. */
  def finSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val monthly = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      upserted(spark, dir).filter(col("category") === "Revenue")
        .groupBy(col("department"), col("year"), col("month"))
        .agg(sum(cents(col("amount"))).as("tc")))
    val bym = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      monthly.groupBy(col("department"), col("month"))
        .agg(sum(col("tc")).as("s_m"), count(lit(1)).as("n_m")))
    val byd = bym.groupBy(col("department"))
      .agg(sum(col("s_m")).as("s_d"), sum(col("n_m")).as("n_d"))
    bym.join(byd, Seq("department"))
      .select(col("department"), col("month"), col("n_m").as("n_obs"),
        (round(col("s_m").cast("double") / (col("n_m") * 100).cast("double"), 2) + 0.0)
          .as("avg_amount"),
        when(col("s_d") === 0, lit(null).cast("double"))
          .otherwise(round(
            (col("s_m").cast("decimal(38,0)") * col("n_d")).cast("double")
              / (col("n_m").cast("decimal(38,0)") * col("s_d")).cast("double"), 4) + 0.0)
          .as("seasonal_idx"))
      .orderBy(col("department"), col("month"))
  }

  val finSeasonalitySql: String =
    s"""WITH $upsertCtes,
       |rv AS (SELECT department, year, month,
       |         sum(CAST(round(amount*100) AS BIGINT)) AS tc
       |       FROM fin_upserted WHERE category = 'Revenue'
       |       GROUP BY department, year, month),
       |bm AS (SELECT department, month, sum(tc) AS s_m, count(*) AS n_m
       |       FROM rv GROUP BY department, month),
       |bd AS (SELECT department, sum(s_m) AS s_d, sum(n_m) AS n_d
       |       FROM bm GROUP BY department)
       |SELECT bm.department, bm.month, CAST(bm.n_m AS BIGINT) AS n_obs,
       |       round(CAST(bm.s_m AS DOUBLE) / CAST(bm.n_m * 100 AS DOUBLE), 2) + 0.0 AS avg_amount,
       |       CASE WHEN bd.s_d = 0 THEN NULL
       |            ELSE round(CAST(bm.s_m * bd.n_d AS DOUBLE)
       |                       / CAST(bm.n_m * bd.s_d AS DOUBLE), 4) + 0.0 END AS seasonal_idx
       |FROM bm JOIN bd USING (department) ORDER BY department, month""".stripMargin

  // --------------------------------------------------- fin_deseasonalized
  /** fin_deseasonalized: the deseasonalization ACTION fin_seasonality's
    * index is the factor for — each department's monthly Revenue net
    * divided by its calendar month's seasonal index, plus the
    * deseasonalized MoM delta (the trend signal with the "normal for
    * March" component removed; fin_dept_correlation names this frame
    * as the residual-correlation numerator).
    *
    * Exactness: the division NEVER uses the rounded 4-dp index — since
    * idx = (s_m·n_d)/(n_m·s_d), the deseasonalized value rewrites as
    * tc·n_m·s_d / (s_m·n_d·100): numerator and denominator are exact
    * integer products in DECIMAL(38,0)/HUGEINT (~10²⁵ worst case at
    * gate scale, ~10³¹ at 100× — inside 10³⁸), then ONE cast each and
    * one IEEE division; the MoM delta is one IEEE subtraction of two
    * such bit-identical doubles, rounded only at the boundary. NULL
    * where the calendar month or the department nets to zero (the
    * index is zero/undefined there, matching fin_seasonality).
    *
    * Scale: fin_seasonality's exact staging discipline — one fact
    * shuffle (monthly Revenue rollup, staged: it feeds the calendar
    * rollup AND the output join), the ≤|dept|·12-row calendar rollup
    * staged for its two consumers; the lag window partitions per
    * department over its post-aggregate month series (calendar-
    * bounded, never data-scaled). */
  def finDeseasonalized(spark: SparkSession, dir: String): DataFrame =
    finDeseasonalizedFrom(upserted(spark, dir))

  private[graft] def finDeseasonalizedFrom(up: DataFrame): DataFrame = {
    val monthly = stageBarrier(up.filter(col("category") === "Revenue")
      .groupBy(col("department"), col("year"), col("month"))
      .agg(sum(cents(col("amount"))).as("tc")))
    val bym = stageBarrier(monthly.groupBy(col("department"), col("month"))
      .agg(sum(col("tc")).as("s_m"), count(lit(1)).as("n_m")))
    val byd = bym.groupBy(col("department"))
      .agg(sum(col("s_m")).as("s_d"), sum(col("n_m")).as("n_d"))
    val d = (c: Column) => c.cast("decimal(38,0)")
    val x = when(col("s_m") === 0 || col("s_d") === 0, lit(null).cast("double"))
      .otherwise((d(col("tc")) * d(col("n_m")) * d(col("s_d"))).cast("double")
        / ((d(col("s_m")) * d(col("n_d"))).cast("double") * 100.0))
    val w = Window.partitionBy(col("department")).orderBy(col("year"), col("month"))
    monthly.join(bym, Seq("department", "month")).join(byd, Seq("department"))
      .withColumn("x", x)
      .withColumn("px", lag(col("x"), 1).over(w))
      .select(col("department"), col("year"), col("month"),
        dollars(col("tc")).as("amount"),
        when(col("s_d") === 0, lit(null).cast("double"))
          .otherwise(round(
            (d(col("s_m")) * col("n_d")).cast("double")
              / (d(col("n_m")) * col("s_d")).cast("double"), 4) + 0.0)
          .as("seasonal_idx"),
        (round(col("x"), 2) + 0.0).as("deseason_amount"),
        (round(col("x") - col("px"), 2) + 0.0).as("deseason_delta"))
      .orderBy(col("department"), col("year"), col("month"))
  }

  val finDeseasonalizedSql: String =
    s"""WITH $upsertCtes,
       |rv AS (SELECT department, year, month,
       |         sum(CAST(round(amount*100) AS BIGINT)) AS tc
       |       FROM fin_upserted WHERE category = 'Revenue'
       |       GROUP BY department, year, month),
       |bm AS (SELECT department, month, sum(tc) AS s_m, count(*) AS n_m
       |       FROM rv GROUP BY department, month),
       |bd AS (SELECT department, sum(s_m) AS s_d, sum(n_m) AS n_d
       |       FROM bm GROUP BY department),
       |j AS (
       |  SELECT rv.department, rv.year, rv.month, rv.tc,
       |         bm.s_m, bm.n_m, bd.s_d, bd.n_d,
       |         CASE WHEN bm.s_m = 0 OR bd.s_d = 0 THEN NULL
       |              ELSE CAST(CAST(rv.tc AS HUGEINT) * bm.n_m * bd.s_d AS DOUBLE)
       |                   / (CAST(CAST(bm.s_m AS HUGEINT) * bd.n_d AS DOUBLE) * 100.0)
       |         END AS x
       |  FROM rv JOIN bm USING (department, month) JOIN bd USING (department))
       |SELECT department, year, month, CAST(tc AS DOUBLE)/100.0 AS amount,
       |  CASE WHEN s_d = 0 THEN NULL
       |       ELSE round(CAST(CAST(s_m AS HUGEINT) * n_d AS DOUBLE)
       |                  / CAST(CAST(n_m AS HUGEINT) * s_d AS DOUBLE), 4) + 0.0
       |  END AS seasonal_idx,
       |  round(x, 2) + 0.0 AS deseason_amount,
       |  round(x - lag(x) OVER (PARTITION BY department ORDER BY year, month), 2)
       |    + 0.0 AS deseason_delta
       |FROM j ORDER BY department, year, month""".stripMargin

  // ---------------------------------------------------- fin_variance_walk
  /** MoM variance WALK: which GL lines drive each department's
    * month-over-month movement — per line the delta vs its previous
    * reported month (fin_trend_mom's lag convention), the department's
    * total delta for that month, and the line's share of it. The
    * standard FP&A "variance bridge" read next to the trend report.
    *
    * Scale: one fact shuffle (the monthly rollup, staged once); the
    * per-line lag runs over tiny per-(dept, GL) month series and the
    * dept-total sum over per-(dept, month) partitions bounded by the GL
    * chart — both windows sit ABOVE the aggregate. Integer-cents
    * everywhere: the dept delta is an integer window sum
    * (order-independent), the share one IEEE division of exact
    * integers, NULL when the department's month nets to zero. */
  def finVarianceWalk(spark: SparkSession, dir: String): DataFrame = {
    val monthly = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      upserted(spark, dir)
        .groupBy(col("department"), col("gl_code"), col("year"), col("month"))
        .agg(sum(cents(col("amount"))).as("tc")))
    val wLag = Window.partitionBy(col("department"), col("gl_code"))
      .orderBy(col("year"), col("month"))
    val wMonth = Window.partitionBy(col("department"), col("year"), col("month"))
    monthly
      .withColumn("dc", col("tc") - lag(col("tc"), 1).over(wLag))
      .withColumn("ddc", sum(col("dc")).over(wMonth))
      .filter(col("dc").isNotNull)
      .select(col("department"), col("gl_code"), col("year"), col("month"),
        dollars(col("dc")).as("mom_delta"), dollars(col("ddc")).as("dept_delta"),
        when(col("ddc") === 0, lit(null).cast("double"))
          .otherwise(round(col("dc").cast("double") / col("ddc"), 4) + 0.0)
          .as("delta_share"))
      .orderBy(col("department"), col("year"), col("month"), col("gl_code"))
  }

  val finVarianceWalkSql: String =
    s"""WITH $upsertCtes,
       |fin_monthly AS (
       |  SELECT department, gl_code, year, month,
       |         sum(CAST(round(amount*100) AS BIGINT)) AS tc
       |  FROM fin_upserted GROUP BY department, gl_code, year, month),
       |d AS (SELECT *, tc - lag(tc) OVER (PARTITION BY department, gl_code
       |                                   ORDER BY year, month) AS dc
       |      FROM fin_monthly),
       |t AS (SELECT *, sum(dc) OVER (PARTITION BY department, year, month) AS ddc
       |      FROM d)
       |SELECT department, gl_code, year, month,
       |       CAST(dc AS DOUBLE)/100.0 AS mom_delta,
       |       CAST(ddc AS DOUBLE)/100.0 AS dept_delta,
       |       CASE WHEN ddc = 0 THEN NULL
       |            ELSE round(CAST(dc AS DOUBLE)/ddc, 4) + 0.0 END AS delta_share
       |FROM t WHERE dc IS NOT NULL
       |ORDER BY department, year, month, gl_code""".stripMargin

  /** fin_yoy_trend: year-over-year movement per (department, GL, month) —
    * the seasonally-aligned twin of fin_trend_mom (compare each month to
    * the SAME month one year back, not the previous month), the other
    * half of the reference's "trend analysis" promise
    * (docs/architecture_overview.md). lag(1) over year ordering within a
    * (department, gl_code, month) partition; pct change is ONE IEEE
    * division on integer-cent operands (exactly rounded → cross-engine
    * deterministic), nulled when the prior year is absent or zero.
    * Scale: one shuffle on the grouping key, then a window over tiny
    * per-key year series — partitions are independent (dept, GL, month)
    * triples, so 100 TB parallelizes across them. */
  def finYoyTrend(spark: SparkSession, dir: String): DataFrame =
    finYoyTrendFrom(upserted(spark, dir))

  private def finYoyTrendFrom(up: DataFrame): DataFrame = {
    val monthly = up
      .groupBy(col("department"), col("gl_code"), col("month"), col("year"))
      .agg(sum(cents(col("amount"))).as("tc"))
    val w = Window.partitionBy(col("department"), col("gl_code"), col("month"))
      .orderBy(col("year"))
    monthly
      .withColumn("prev_tc",
        when(lag(col("year"), 1).over(w) === col("year") - 1,
          lag(col("tc"), 1).over(w)))
      .select(col("department"), col("gl_code"), col("year"), col("month"),
        dollars(col("tc")).as("total"),
        dollars(col("prev_tc")).as("prev_year_total"),
        dollars(col("tc") - col("prev_tc")).as("yoy_delta"),
        (round((col("tc") - col("prev_tc")).cast("double") /
          nullif(col("prev_tc"), lit(0L)).cast("double"), 6) + 0.0).as("yoy_pct"))
      .orderBy(col("department"), col("gl_code"), col("year"), col("month"))
  }

  // --------------------------------------------------------- fin_qoq_trend
  /** fin_qoq_trend: quarter-over-quarter trend per (department, GL) —
    * completes the trend family's three standard grains (fin_trend_mom
    * = MoM, fin_yoy_trend = YoY, this = QoQ, the grain a board deck
    * reads). Quarter = (month−1) DIV 3 + 1, an integer map; the lag is
    * CONSECUTIVE-quarter-guarded like yoy's year guard (a gap quarter
    * yields NULL prev, never a misleading delta across missing
    * periods); qoq_pct one division with a nullif(0) guard.
    *
    * Scale: one map-side-combined quarterly rollup (coarser than the
    * monthly one — ≤¼ the rows) + ONE window pass on the fine
    * (department, GL) key over calendar-bounded quarter series. */
  def finQoqTrend(spark: SparkSession, dir: String): DataFrame =
    finQoqTrendFrom(upserted(spark, dir))

  private def finQoqTrendFrom(up: DataFrame): DataFrame = {
    val quarterly = up
      .groupBy(col("department"), col("gl_code"), col("year"),
        (((col("month") - 1) / lit(3)).cast("int") + 1).as("quarter"))
      .agg(sum(cents(col("amount"))).as("tc"))
    val qidx = col("year") * 4 + col("quarter")
    val w = Window.partitionBy(col("department"), col("gl_code"))
      .orderBy(col("year"), col("quarter"))
    quarterly
      .withColumn("prev_tc",
        when(lag(qidx, 1).over(w) === qidx - 1, lag(col("tc"), 1).over(w)))
      .select(col("department"), col("gl_code"), col("year"), col("quarter"),
        dollars(col("tc")).as("total"),
        dollars(col("prev_tc")).as("prev_quarter_total"),
        dollars(col("tc") - col("prev_tc")).as("qoq_delta"),
        (round((col("tc") - col("prev_tc")).cast("double") /
          nullif(col("prev_tc"), lit(0L)).cast("double"), 6) + 0.0).as("qoq_pct"))
      .orderBy(col("department"), col("gl_code"), col("year"), col("quarter"))
  }

  val finQoqTrendSql: String =
    s"""WITH $upsertCtes,
       |fin_quarterly AS (
       |  SELECT department, gl_code, year,
       |         CAST((month - 1) // 3 AS INT) + 1 AS quarter,
       |         sum(CAST(round(amount*100) AS BIGINT)) AS tc
       |  FROM fin_upserted GROUP BY department, gl_code, year, quarter),
       |fin_qlag AS (
       |  SELECT department, gl_code, year, quarter, tc,
       |         CASE WHEN lag(year * 4 + quarter) OVER w = year * 4 + quarter - 1
       |              THEN lag(tc) OVER w END AS prev_tc
       |  FROM fin_quarterly
       |  WINDOW w AS (PARTITION BY department, gl_code ORDER BY year, quarter))
       |SELECT department, gl_code, year, quarter,
       |       CAST(tc AS DOUBLE)/100.0 AS total,
       |       CAST(prev_tc AS DOUBLE)/100.0 AS prev_quarter_total,
       |       CAST(tc - prev_tc AS DOUBLE)/100.0 AS qoq_delta,
       |       round(CAST(tc - prev_tc AS DOUBLE)
       |             / CAST(nullif(prev_tc, 0) AS DOUBLE), 6) + 0.0 AS qoq_pct
       |FROM fin_qlag
       |ORDER BY department, gl_code, year, quarter""".stripMargin

  val finYoyTrendSql: String =
    s"""WITH $upsertCtes,
       |fin_monthly AS (
       |  SELECT department, gl_code, month, year,
       |         sum(CAST(round(amount*100) AS BIGINT)) AS tc
       |  FROM fin_upserted GROUP BY department, gl_code, month, year),
       |fin_lagged AS (
       |  SELECT department, gl_code, year, month, tc,
       |         CASE WHEN lag(year) OVER w = year - 1
       |              THEN lag(tc) OVER w END AS prev_tc
       |  FROM fin_monthly
       |  WINDOW w AS (PARTITION BY department, gl_code, month ORDER BY year))
       |SELECT department, gl_code, year, month,
       |       CAST(tc AS DOUBLE)/100.0 AS total,
       |       CAST(prev_tc AS DOUBLE)/100.0 AS prev_year_total,
       |       CAST(tc - prev_tc AS DOUBLE)/100.0 AS yoy_delta,
       |       round(CAST(tc - prev_tc AS DOUBLE) / CAST(nullif(prev_tc, 0) AS DOUBLE), 6) + 0.0 AS yoy_pct
       |FROM fin_lagged
       |ORDER BY department, gl_code, year, month""".stripMargin

  /** fin_forecast_linear: next-month OLS forecast per (department, GL) —
    * "trend analysis" carried to its standard conclusion: fit
    * amount ≈ a + b·x over the observed months (x = months since the
    * group's first month) and extrapolate one month past the last.
    *
    * EXACT integer OLS: with x shifted to start at 0 (window min over
    * the group — the shift keeps every product below ~2^53 where raw
    * year·12 indices would overflow Σy·Σx²), all five sufficient
    * statistics (n, Σx, Σy, Σxy, Σx²) are exact BIGINT sums, so
    * slope_num = n·Σxy − Σx·Σy, denom = n·Σx² − (Σx)² and the forecast
    * numerator are exact integers; the ONLY float ops are one correctly
    * rounded IEEE division each for slope and forecast — bit-identical
    * cross-engine (never a decimal/HUGEINT→double cast, which DuckDB
    * does not round correctly). Groups need ≥2 distinct months
    * (denom > 0) to fit a line.
    *
    * Scale: monthly rollup shuffles on its natural 4-key; the window +
    * final per-(dept, GL) aggregate share one 2-key shuffle; every
    * group's series is tiny (months), so 100 TB parallelizes across
    * groups. */
  def finForecastLinear(spark: SparkSession, dir: String): DataFrame =
    finForecastLinearFrom(upserted(spark, dir))

  private[graft] def finForecastLinearFrom(up: DataFrame): DataFrame = {
    val monthly = up
      .groupBy(col("department"), col("gl_code"), col("year"), col("month"))
      .agg(sum(cents(col("amount"))).as("tc"))
      .withColumn("m_idx", col("year") * 12 + col("month") - 1)
    val wg = Window.partitionBy(col("department"), col("gl_code"))
    val fitted = monthly
      .withColumn("x", col("m_idx") - min(col("m_idx")).over(wg))
      .groupBy(col("department"), col("gl_code"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("tc")).as("sy"), sum(col("x") * col("tc")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), min(col("m_idx")).as("m0"),
        max(col("x")).as("xmax"))
      .filter(col("n") >= 2 &&
        (col("n") * col("sxx") - col("sx") * col("sx")) > 0)
      .withColumn("snum", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("inum", col("sy") * col("sxx") - col("sx") * col("sxy"))
      .withColumn("xf", col("xmax") + 1)
      .withColumn("fidx", col("m0") + col("xf"))
    fitted.select(col("department"), col("gl_code"), col("n").as("n_months"),
        expr("CAST(fidx DIV 12 AS INT)").as("forecast_year"),
        (col("fidx") % 12 + 1).cast("int").as("forecast_month"),
        (round(col("snum").cast("double") / col("den") / 100.0, 6) + 0.0).as("slope"),
        (round((col("inum") + col("snum") * col("xf")).cast("double")
          / col("den") / 100.0, 4) + 0.0).as("forecast"))
      .orderBy(col("department"), col("gl_code"))
  }

  /** The OLS-fit CTE chain over an upserted-shaped source CTE — ONE
    * builder shared by the registered finForecastLinearSql and
    * fin_forecast_eval's truncated-series leg (the ngramDupsCtes drift
    * rule). Ends at `${p}lines`. */
  private def linearLinesCtes(src: String, p: String): String =
    s"""${p}monthly AS (
       |  SELECT department, gl_code, year, month,
       |         sum(CAST(round(amount*100) AS BIGINT)) AS tc,
       |         year*12 + month - 1 AS m_idx
       |  FROM $src GROUP BY department, gl_code, year, month),
       |${p}shifted AS (
       |  SELECT *, m_idx - min(m_idx) OVER (PARTITION BY department, gl_code) AS x
       |  FROM ${p}monthly),
       |${p}fitted AS (
       |  SELECT department, gl_code,
       |         count(*) AS n, sum(x) AS sx, sum(tc) AS sy,
       |         sum(x * tc) AS sxy, sum(x * x) AS sxx,
       |         min(m_idx) AS m0, max(x) AS xmax
       |  FROM ${p}shifted GROUP BY department, gl_code),
       |${p}lines AS (
       |  SELECT *,
       |         n*sxy - sx*sy AS snum, n*sxx - sx*sx AS den,
       |         sy*sxx - sx*sxy AS inum, xmax + 1 AS xf, m0 + xmax + 1 AS fidx
       |  FROM ${p}fitted WHERE n >= 2 AND n*sxx - sx*sx > 0)""".stripMargin

  val finForecastLinearSql: String =
    s"""WITH $upsertCtes,
       |${linearLinesCtes("fin_upserted", "fin_")}
       |SELECT department, gl_code, n AS n_months,
       |       CAST(fidx // 12 AS INT) AS forecast_year,
       |       CAST(fidx % 12 + 1 AS INT) AS forecast_month,
       |       round(CAST(snum AS DOUBLE) / den / 100.0, 6) + 0.0 AS slope,
       |       round(CAST(inum + snum * xf AS DOUBLE) / den / 100.0, 4) + 0.0 AS forecast
       |FROM fin_lines ORDER BY department, gl_code""".stripMargin

  /** fin_ytd_cumulative: YTD running total per (department, category). */
  def finYtdCumulative(spark: SparkSession, dir: String): DataFrame =
    finYtdFrom(upserted(spark, dir))

  /** fin_ytd_staged: same result off the staged warehouse table. */
  def finYtdStaged(spark: SparkSession, dir: String): DataFrame =
    finYtdFrom(stagedUpserted(spark, dir))

  private def finYtdFrom(up: DataFrame): DataFrame = {
    val monthly = up
      .groupBy(col("department"), col("category"), col("year"), col("month"))
      .agg(sum(cents(col("amount"))).as("mc"))
    val w = Window.partitionBy(col("department"), col("category"), col("year"))
      .orderBy(col("month")).rowsBetween(Window.unboundedPreceding, 0)
    monthly
      .select(col("department"), col("category"), col("year"), col("month"),
        dollars(col("mc")).as("month_total"),
        dollars(sum(col("mc")).over(w)).as("ytd_total"))
      .orderBy(col("department"), col("category"), col("year"), col("month"))
  }

  val finYtdCumulativeSql: String =
    s"""WITH $upsertCtes,
       |fin_cat_monthly AS (
       |  SELECT department, category, year, month,
       |         sum(CAST(round(amount*100) AS BIGINT)) AS mc
       |  FROM fin_upserted GROUP BY department, category, year, month)
       |SELECT department, category, year, month,
       |       CAST(mc AS DOUBLE)/100.0 AS month_total,
       |       CAST(sum(mc) OVER (PARTITION BY department, category, year ORDER BY month
       |                          ROWS UNBOUNDED PRECEDING) AS DOUBLE)/100.0 AS ytd_total
       |FROM fin_cat_monthly
       |ORDER BY department, category, year, month""".stripMargin

  /** fin_rolling_3m: trailing 3-month rolling average per (department,
    * GL) — the standard smoothing view next to MoM trend (rows-based:
    * the last ≤3 OBSERVED months, so a silent month shortens the window
    * rather than injecting a zero — fin_sparse_fill is the densifier
    * when calendar frames are wanted).
    *
    * Scale: same shape as finTrendMom — one monthly aggregate (map-side
    * combined) then one window per fine-grained (department, gl_code)
    * key; the rolling sum+count share a single sort. The average divides
    * exact cent integers as doubles only at output, so Spark and the
    * oracle produce bit-identical IEEE results. */
  def finRolling3m(spark: SparkSession, dir: String): DataFrame =
    finRolling3mFrom(upserted(spark, dir))

  private[graft] def finRolling3mFrom(up: DataFrame): DataFrame = {
    val monthly = up
      .groupBy(col("department"), col("gl_code"), col("year"), col("month"))
      .agg(sum(cents(col("amount"))).as("tc"))
    val w = Window.partitionBy(col("department"), col("gl_code"))
      .orderBy(col("year"), col("month")).rowsBetween(-2, 0)
    monthly
      .withColumn("rc", sum(col("tc")).over(w))
      .withColumn("rn", count(lit(1)).over(w))
      .select(col("department"), col("gl_code"), col("year"), col("month"),
        dollars(col("tc")).as("total"),
        (col("rc").cast("double") / (lit(100.0) * col("rn"))).as("avg_3m"),
        col("rn").cast("int").as("n_months"))
      .orderBy(col("department"), col("gl_code"), col("year"), col("month"))
  }

  val finRolling3mSql: String =
    s"""WITH $upsertCtes,
       |fin_monthly AS (
       |  SELECT department, gl_code, year, month,
       |         sum(CAST(round(amount*100) AS BIGINT)) AS tc
       |  FROM fin_upserted GROUP BY department, gl_code, year, month),
       |fin_roll AS (
       |  SELECT *, sum(tc) OVER w AS rc, count(*) OVER w AS rn
       |  FROM fin_monthly
       |  WINDOW w AS (PARTITION BY department, gl_code ORDER BY year, month
       |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
       |SELECT department, gl_code, year, month,
       |       CAST(tc AS DOUBLE)/100.0 AS total,
       |       CAST(rc AS DOUBLE)/(100.0 * rn) AS avg_3m,
       |       CAST(rn AS INT) AS n_months
       |FROM fin_roll
       |ORDER BY department, gl_code, year, month""".stripMargin

  /** fin_anomaly_zscore: months whose total deviates from their
    * (department, gl_code) group mean by more than 1.5 standard
    * deviations — the close-process "which GL moved unusually" report.
    *
    * The flag is computed ENTIRELY in integer cents so Spark and DuckDB
    * agree bit-for-bit (float stddev differs across engines by
    * aggregation order): with S = Σx, Q = Σx², n = months,
    * |x − S/n| > 1.5·σ_samp  ⇔  4(n−1)(nx − S)² > 9·n(nQ − S²),
    * evaluated in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — the same
    * exact-integer-promotion twin vec_stats uses. The 1.5σ threshold is
    * deliberate: monthly totals at gate scale are near-uniform, and a
    * uniform variable never exceeds √3 ≈ 1.73σ, so a 2σ report would be
    * vacuously empty on the test corpus (it still works — it just
    * asserts nothing).
    *
    * Scale: monthly agg (map-side combined) → per-(department, gl_code)
    * stats — a frame with one row per GL/department pair, tiny at any
    * corpus size — broadcast-joined back. n=1 groups are never flagged
    * (both sides collapse to 0), so no divide-by-zero path exists. */
  def finAnomalyZscore(spark: SparkSession, dir: String): DataFrame =
    finAnomalyZscoreFrom(upserted(spark, dir))

  private[graft] def finAnomalyZscoreFrom(up: DataFrame): DataFrame = {
    // monthly feeds BOTH the stats build and the join probe; staged once
    // so the statements derivation under `up` doesn't run twice (the
    // fin_latest_load / r5 fin_qa_status double-derive, same cure)
    val monthly = stageBarrier(up
      .groupBy(col("department"), col("gl_code"), col("year"), col("month"))
      .agg(sum(cents(col("amount"))).as("tc")))
    val d = (c: Column) => c.cast("decimal(38,0)")
    val stats = monthly.groupBy(col("department"), col("gl_code"))
      .agg(count(lit(1)).as("n"), sum(col("tc")).as("s"),
        sum(d(col("tc")) * d(col("tc"))).as("q"))
    val (n, x, s, q) = (d(col("n")), d(col("tc")), d(col("s")), d(col("q")))
    val dev = n * x - s
    monthly.join(broadcast(stats), Seq("department", "gl_code"))
      .filter(lit(4) * (n - lit(1)) * dev * dev > lit(9) * n * (n * q - s * s))
      .select(col("department"), col("gl_code"), col("year"), col("month"),
        dollars(col("tc")).as("total"),
        (col("s").cast("double") / (lit(100.0) * col("n"))).as("group_mean"),
        col("n").cast("int").as("n_months"))
      .orderBy(col("department"), col("gl_code"), col("year"), col("month"))
  }

  val finAnomalyZscoreSql: String =
    s"""WITH $upsertCtes,
       |fin_monthly AS (
       |  SELECT department, gl_code, year, month,
       |         sum(CAST(round(amount*100) AS BIGINT)) AS tc
       |  FROM fin_upserted GROUP BY department, gl_code, year, month),
       |fin_stats AS (
       |  SELECT department, gl_code, count(*) AS n, sum(tc) AS s,
       |         sum(CAST(tc AS HUGEINT) * CAST(tc AS HUGEINT)) AS q
       |  FROM fin_monthly GROUP BY department, gl_code)
       |SELECT m.department, m.gl_code, m.year, m.month,
       |       CAST(m.tc AS DOUBLE)/100.0 AS total,
       |       CAST(t.s AS DOUBLE)/(100.0 * t.n) AS group_mean,
       |       CAST(t.n AS INT) AS n_months
       |FROM fin_monthly m JOIN fin_stats t USING (department, gl_code)
       |WHERE 4 * (CAST(t.n AS HUGEINT) - 1)
       |        * (CAST(t.n AS HUGEINT) * m.tc - t.s)
       |        * (CAST(t.n AS HUGEINT) * m.tc - t.s)
       |      > 9 * CAST(t.n AS HUGEINT)
       |        * (CAST(t.n AS HUGEINT) * t.q - CAST(t.s AS HUGEINT) * t.s)
       |ORDER BY m.department, m.gl_code, m.year, m.month""".stripMargin

  /** fin_anomaly_mad: ROBUST monthly outliers per (department, GL) —
    * |x − median| > 3·MAD — the screen that survives what breaks
    * fin_anomaly_zscore: one genuine spike inflates σ enough to hide a
    * second one (masking), while the median/MAD pair ignores up to half
    * the series being wild. The classic robust-statistics companion
    * (Hampel '74; Leys et al. '13 for the 3·MAD convention).
    *
    * Exactness: medians of integers are computed WITHOUT division —
    * med2 = x_lo + x_hi (= 2·median; lo/hi the middle ranks, equal when
    * n is odd, picked by integer shifts) via a whole-partition window
    * sum of rank-masked values; dev2 = |2x − med2| stays integer;
    * mad4 = dev2_lo + dev2_hi (= 4·MAD). The outlier test cross-
    * multiplies: 2·dev2 > 3·mad4 — every comparison exact int64 (~10¹¹
    * at gate scale, ~10¹³ at 100× — far inside 2⁶³), divisions only at
    * the output boundary. Groups with MAD = 0 (over half the series
    * identical) are skipped — the 0-MAD rule would flag every non-
    * median month, which is a data-quality signal, not an anomaly.
    *
    * Scale: one fact shuffle (the monthly rollup, staged) + ONE
    * exchange on the fine (department, GL) key shared by all four
    * window passes (two rank sorts, two partition sums) — partitions
    * are calendar-bounded month series, never data-scaled; no joins at
    * all. Determinism: both rank orders tie-break on (year, month),
    * unique within a group. */
  def finAnomalyMad(spark: SparkSession, dir: String): DataFrame =
    finAnomalyMadFrom(upserted(spark, dir))

  /** fin_anomaly_mad_staged: same screen off the staged warehouse table
    * (the fin_cusum_staged convention — production amortizes the
    * statements parse+upsert once per ingest; same oracle SQL verbatim).
    * Completes the staged trio for the three fin screens whose sf100
    * in-query walls (~250 s each) are ~all statements re-derivation. */
  def finAnomalyMadStaged(spark: SparkSession, dir: String): DataFrame =
    finAnomalyMadFrom(stagedUpserted(spark, dir))

  private[graft] def finAnomalyMadFrom(up: DataFrame): DataFrame = {
    val monthly = stageBarrier(up
      .groupBy(col("department"), col("gl_code"), col("year"), col("month"))
      .agg(sum(cents(col("amount"))).as("tc")))
    val wp = Window.partitionBy(col("department"), col("gl_code"))
    val w1 = wp.orderBy(col("tc"), col("year"), col("month"))
    def pick(rank: Column): Column =
      (rank === col("lo")).cast("long") + (rank === col("hi")).cast("long")
    val withMed = monthly
      .withColumn("n", count(lit(1)).over(wp))
      .withColumn("lo", shiftright(col("n") + 1, 1))
      .withColumn("hi", shiftright(col("n") + 2, 1))
      .withColumn("rn", row_number().over(w1))
      .withColumn("med2", sum(col("tc") * pick(col("rn"))).over(wp))
      .withColumn("dev2", abs(col("tc") * 2 - col("med2")))
    val w2 = wp.orderBy(col("dev2"), col("year"), col("month"))
    withMed
      .withColumn("rn2", row_number().over(w2))
      .withColumn("mad4", sum(col("dev2") * pick(col("rn2"))).over(wp))
      .filter(col("mad4") > 0 && col("dev2") * 2 > col("mad4") * 3)
      .select(col("department"), col("gl_code"), col("year"), col("month"),
        dollars(col("tc")).as("total"),
        (col("med2").cast("double") / 200.0).as("group_median"),
        (col("mad4").cast("double") / 400.0).as("group_mad"),
        col("n").cast("int").as("n_months"))
      .orderBy(col("department"), col("gl_code"), col("year"), col("month"))
  }

  val finAnomalyMadSql: String =
    s"""WITH $upsertCtes,
       |fin_monthly AS (
       |  SELECT department, gl_code, year, month,
       |         sum(CAST(round(amount*100) AS BIGINT)) AS tc
       |  FROM fin_upserted GROUP BY department, gl_code, year, month),
       |rk AS (
       |  SELECT *, count(*) OVER wp AS n,
       |         (count(*) OVER wp + 1) // 2 AS lo,
       |         (count(*) OVER wp + 2) // 2 AS hi,
       |         row_number() OVER (wp ORDER BY tc, year, month) AS rn
       |  FROM fin_monthly
       |  WINDOW wp AS (PARTITION BY department, gl_code)),
       |md AS (
       |  SELECT *, sum(tc * (CASE WHEN rn = lo THEN 1 ELSE 0 END
       |                      + CASE WHEN rn = hi THEN 1 ELSE 0 END)) OVER wp AS med2
       |  FROM rk WINDOW wp AS (PARTITION BY department, gl_code)),
       |dv AS (SELECT *, abs(tc * 2 - med2) AS dev2 FROM md),
       |rk2 AS (
       |  SELECT *, row_number() OVER (wp ORDER BY dev2, year, month) AS rn2
       |  FROM dv WINDOW wp AS (PARTITION BY department, gl_code)),
       |md2 AS (
       |  SELECT *, sum(dev2 * (CASE WHEN rn2 = lo THEN 1 ELSE 0 END
       |                        + CASE WHEN rn2 = hi THEN 1 ELSE 0 END)) OVER wp AS mad4
       |  FROM rk2 WINDOW wp AS (PARTITION BY department, gl_code))
       |SELECT department, gl_code, year, month,
       |       CAST(tc AS DOUBLE)/100.0 AS total,
       |       CAST(med2 AS DOUBLE)/200.0 AS group_median,
       |       CAST(mad4 AS DOUBLE)/400.0 AS group_mad,
       |       CAST(n AS INT) AS n_months
       |FROM md2
       |WHERE mad4 > 0 AND dev2 * 2 > mad4 * 3
       |ORDER BY department, gl_code, year, month""".stripMargin

  /** fin_cusum: CUSUM change-point screen per (department, GL) — Page
    * '54's sequential test, the standard detector for a SUSTAINED level
    * shift that per-month screens miss: fin_anomaly_zscore/_mad flag
    * single wild months, but a series that drifts 10% and stays there
    * never trips a per-month test — the cumulative sum of small
    * same-sign deviations does. Two one-sided statistics per month:
    * C±_m = max(0, C±_{m-1} ± (x_m − μ ∓ k)) with reference μ = the
    * series mean, slack k = |μ|/20 (5% — deviations under it decay),
    * alarm at h = 2|μ|.
    *
    * Exactness — the recurrence is NOT window-expressible, but its
    * closed form is: C_m = P_m − min(0, min_{j≤m} P_j) where P is the
    * plain prefix sum of the increments (the running minimum IS the
    * last reset point). Increments are scaled by 20n to clear both
    * divisions: y_hi = 20n·x − 20S − |S| and y_lo = 20S − |S| − 20n·x
    * (S = Σx) are exact integer cents·20n, so prefix sums, running
    * minima, and the alarm test C > 40n·|S|/n·... ≡ C > 40|S| compare
    * exact integers — bit-identical cross-engine, with |P| ≤
    * 41·n²·max|x| ≈ 10¹⁴ at 100× (inside int64; DuckDB promotes its
    * window sums to HUGEINT and compares the same values). The reported
    * cusum level is ONE exactly-rounded division (C / 20n·100 →
    * dollars), NOT re-rounded: the 20000·n divisor makes exact .00005
    * quotients common and the engines split round-half differently.
    *
    * Scale: one fact shuffle (the staged monthly rollup) + ONE exchange
    * on (department, GL) carrying all five window passes (partition
    * count/sum, two prefix sums, two running minima — same key, shared
    * sort); partitions are calendar-bounded month series. No joins. */
  def finCusum(spark: SparkSession, dir: String): DataFrame =
    finCusumFrom(upserted(spark, dir))

  /** fin_cusum_staged: same screen off the staged warehouse table (the
    * fin_trend_mom_staged convention — production amortizes the
    * statements parse+upsert once; the in-query twin is the honest
    * cold-start floor; same oracle SQL verbatim). */
  def finCusumStaged(spark: SparkSession, dir: String): DataFrame =
    finCusumFrom(stagedUpserted(spark, dir))

  private[graft] def finCusumFrom(up: DataFrame): DataFrame = {
    val monthly = stageBarrier(up
      .groupBy(col("department"), col("gl_code"), col("year"), col("month"))
      .agg(sum(cents(col("amount"))).as("tc")))
    val wp = Window.partitionBy(col("department"), col("gl_code"))
    val wo = wp.orderBy(col("year"), col("month"))
      .rowsBetween(Window.unboundedPreceding, 0)
    monthly
      .withColumn("n", count(lit(1)).over(wp))
      .withColumn("s", sum(col("tc")).over(wp))
      .withColumn("y_hi",
        lit(20) * col("n") * col("tc") - lit(20) * col("s") - abs(col("s")))
      .withColumn("y_lo",
        lit(20) * col("s") - abs(col("s")) - lit(20) * col("n") * col("tc"))
      .withColumn("p_hi", sum(col("y_hi")).over(wo))
      .withColumn("p_lo", sum(col("y_lo")).over(wo))
      .withColumn("c_hi", col("p_hi") - least(lit(0L), min(col("p_hi")).over(wo)))
      .withColumn("c_lo", col("p_lo") - least(lit(0L), min(col("p_lo")).over(wo)))
      .select(col("department"), col("gl_code"), col("year"), col("month"),
        dollars(col("tc")).as("total"),
        (col("c_hi").cast("double") / (col("n") * lit(2000L)).cast("double")
          + 0.0).as("cusum_hi"),
        (col("c_lo").cast("double") / (col("n") * lit(2000L)).cast("double")
          + 0.0).as("cusum_lo"),
        (col("c_hi") > lit(40) * abs(col("s"))).as("alarm_hi"),
        (col("c_lo") > lit(40) * abs(col("s"))).as("alarm_lo"))
      .orderBy(col("department"), col("gl_code"), col("year"), col("month"))
  }

  val finCusumSql: String =
    s"""WITH $upsertCtes,
       |fin_monthly AS (
       |  SELECT department, gl_code, year, month,
       |         sum(CAST(round(amount*100) AS BIGINT)) AS tc
       |  FROM fin_upserted GROUP BY department, gl_code, year, month),
       |cu_st AS (
       |  SELECT *, count(*) OVER wp AS n, sum(tc) OVER wp AS s
       |  FROM fin_monthly WINDOW wp AS (PARTITION BY department, gl_code)),
       |cu_y AS (
       |  SELECT *, 20*n*tc - 20*s - abs(s) AS y_hi,
       |            20*s - abs(s) - 20*n*tc AS y_lo FROM cu_st),
       |cu_p AS (
       |  SELECT *, sum(y_hi) OVER wo AS p_hi, sum(y_lo) OVER wo AS p_lo
       |  FROM cu_y WINDOW wo AS (PARTITION BY department, gl_code
       |    ORDER BY year, month ROWS UNBOUNDED PRECEDING)),
       |cu_c AS (
       |  SELECT *, p_hi - least(0, min(p_hi) OVER wo) AS c_hi,
       |            p_lo - least(0, min(p_lo) OVER wo) AS c_lo
       |  FROM cu_p WINDOW wo AS (PARTITION BY department, gl_code
       |    ORDER BY year, month ROWS UNBOUNDED PRECEDING))
       |SELECT department, gl_code, year, month,
       |       CAST(tc AS DOUBLE)/100.0 AS total,
       |       CAST(c_hi AS DOUBLE) / CAST(n * 2000 AS DOUBLE) + 0.0
       |         AS cusum_hi,
       |       CAST(c_lo AS DOUBLE) / CAST(n * 2000 AS DOUBLE) + 0.0
       |         AS cusum_lo,
       |       c_hi > 40 * abs(s) AS alarm_hi,
       |       c_lo > 40 * abs(s) AS alarm_lo
       |FROM cu_c
       |ORDER BY department, gl_code, year, month""".stripMargin

  /** fin_ewma: exponentially-weighted moving average (α = 1/2) of the
    * monthly totals per (department, GL), restarted each year — the
    * smoothing view that weights recent months over old ones
    * (fin_rolling_3m's uniform window is its boxcar cousin), with the
    * same year scoping as finYtdCumulative (s resets in January).
    *
    * EWMA is inherently RECURSIVE (s_m = (x_m + s_{m-1})/2), which a
    * declarative engine can't iterate — so it's rewritten in closed
    * form: s_m = T_m / 2^(m-1) with T_m = x_1 + Σ_{j=2..m} x_j·2^(j-2),
    * a plain running sum over per-row weights. With ≤12 rows per
    * (key, year) the exponent caps at 10, so EVERY intermediate is an
    * exact integer below 2^53: no decimal→double or HUGEINT→double
    * conversion ever rounds, and the final division is by a power of
    * two (exact IEEE scaling) — Spark and DuckDB agree bit-for-bit
    * with NO float recursion crossing the engine boundary. (The
    * year restart is also what makes the closed form scale-safe:
    * unbounded history would need 2^(months) weights, which overflow
    * DECIMAL(38) past ~95 observed months — the sf0.1 sweep caught
    * exactly that.)
    *
    * The weight is built from integer shifts, never pow: Spark's
    * double→decimal cast routes through Double.toString (shortest
    * round-trip repr), which silently truncates exact powers of two
    * past 17 significant digits.
    *
    * Scale: same shape as finYtdCumulative — one map-side-combined
    * monthly aggregate, then ONE window pass on the fine-grained
    * (department, gl_code, year) key; row_number and the running sum
    * share the sort. */
  def finEwma(spark: SparkSession, dir: String): DataFrame =
    finEwmaFrom(upserted(spark, dir))

  private[graft] def finEwmaFrom(up: DataFrame): DataFrame = {
    val monthly = up
      .groupBy(col("department"), col("gl_code"), col("year"), col("month"))
      .agg(sum(cents(col("amount"))).as("tc"))
    val wOrd = Window.partitionBy(col("department"), col("gl_code"), col("year"))
      .orderBy(col("month"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, 0)
    val d = (c: Column) => c.cast("decimal(38,0)")
    val w2 = expr("CAST(shiftleft(1L, rn - 2) AS DECIMAL(38,0))")
    monthly
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("wx",
        when(col("rn") === 1, d(col("tc")))
          .otherwise(d(col("tc")) * w2))
      .withColumn("num", sum(col("wx")).over(wRun))
      .select(col("department"), col("gl_code"), col("year"), col("month"),
        dollars(col("tc")).as("total"),
        (col("num").cast("double") / (lit(100.0) * pow(lit(2.0), col("rn") - 1)))
          .as("ewma"),
        col("rn").as("n_months"))
      .orderBy(col("department"), col("gl_code"), col("year"), col("month"))
  }

  /** The yearly-restarted EWMA closed-form chain over an
    * upserted-shaped source CTE — shared by finEwmaSql and
    * fin_forecast_eval (drift rule). Ends at `${p}t` (tc, rn, num). */
  private def ewmaTCtes(src: String, p: String): String =
    s"""${p}monthly AS (
       |  SELECT department, gl_code, year, month,
       |         sum(CAST(round(amount*100) AS BIGINT)) AS tc
       |  FROM $src GROUP BY department, gl_code, year, month),
       |${p}rn AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY department, gl_code, year
       |                                    ORDER BY month) AS INT) AS rn
       |  FROM ${p}monthly),
       |${p}t AS (
       |  SELECT *, sum(CASE WHEN rn = 1 THEN tc
       |                     ELSE tc * CAST(pow(2, rn - 2) AS BIGINT) END)
       |            OVER (PARTITION BY department, gl_code, year ORDER BY rn
       |                  ROWS UNBOUNDED PRECEDING) AS num
       |  FROM ${p}rn)""".stripMargin

  val finEwmaSql: String =
    s"""WITH $upsertCtes,
       |${ewmaTCtes("fin_upserted", "fin_")}
       |SELECT department, gl_code, year, month,
       |       CAST(tc AS DOUBLE)/100.0 AS total,
       |       CAST(num AS DOUBLE) / (100.0 * pow(2, rn - 1)) AS ewma,
       |       rn AS n_months
       |FROM fin_t
       |ORDER BY department, gl_code, year, month""".stripMargin

  /** fin_forecast_brown: Brown's double exponential smoothing (α = 1/2)
    * of the monthly totals per (department, GL), restarted each year —
    * the trend-aware smoother that completes the forecasting family:
    * fin_forecast_linear fits ONE line to the whole series,
    * fin_ewma tracks the level but lags any trend, Brown's method
    * (Brown 1959, "Statistical Forecasting for Inventory Control")
    * tracks level AND trend recursively. Emits per month the smoothed
    * level, the trend estimate, and the one-step-ahead forecast
    * (level + trend) for the NEXT month.
    *
    * Both recursions are cascaded EWMAs — s1 = EWMA(x), s2 = EWMA(s1) —
    * and each is rewritten into the fin_ewma closed form so nothing
    * recursive or float ever crosses the engine boundary:
    *   s1_m = T1_m / 2^(m-1), T1_m = x_1 + Σ_{j=2..m} x_j·2^(j-2)
    *   s2_m = T2_m / 2^m,     T2_m = 2·T1_1 + Σ_{j=2..m} T1_j
    * (the second identity follows from s1_j·2^(j-2) = T1_j/2), i.e. T2
    * is a plain running sum over the T1 running sum with the first term
    * doubled. Then level = 2·s1 − s2 = (4·T1 − T2)/2^m, trend =
    * (α/(1−α))·(s1 − s2) = (2·T1 − T2)/2^m, and the one-step forecast
    * level + trend = (6·T1 − 2·T2)/2^m. Every numerator is an exact
    * integer (DECIMAL(38,0) ↔ HUGEINT); with ≤12 rows per (key, year)
    * T2 ≤ 13·max(T1), so the double conversion is exact below 2^53
    * (monthly totals < ~$5.5B in cents — same bound family as
    * fin_ewma's, one comment-pinned factor wider) and each division is
    * by the exact power 100·2^m. Single-month series degenerate
    * sensibly: T2_1 = 2·T1_1 makes trend 0 and forecast = the
    * observation.
    *
    * Scale: identical shape to fin_ewma — one map-side-combined monthly
    * aggregate, then ONE window pass on (department, gl_code, year)
    * where row_number and BOTH running sums share the sort (the T2 sum
    * is over the same frame, so Catalyst evaluates the two sums in one
    * Window operator). */
  def finForecastBrown(spark: SparkSession, dir: String): DataFrame =
    finForecastBrownFrom(upserted(spark, dir))

  private[graft] def finForecastBrownFrom(up: DataFrame): DataFrame = {
    val monthly = up
      .groupBy(col("department"), col("gl_code"), col("year"), col("month"))
      .agg(sum(cents(col("amount"))).as("tc"))
    val wOrd = Window.partitionBy(col("department"), col("gl_code"), col("year"))
      .orderBy(col("month"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, 0)
    val d = (c: Column) => c.cast("decimal(38,0)")
    val w2 = expr("CAST(shiftleft(1L, rn - 2) AS DECIMAL(38,0))")
    val den = lit(100.0) * pow(lit(2.0), col("rn"))
    monthly
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("wx",
        when(col("rn") === 1, d(col("tc")))
          .otherwise(d(col("tc")) * w2))
      .withColumn("t1", sum(col("wx")).over(wRun))
      .withColumn("t1w", when(col("rn") === 1, col("t1") * lit(2)).otherwise(col("t1")))
      .withColumn("t2", sum(col("t1w")).over(wRun))
      .select(col("department"), col("gl_code"), col("year"), col("month"),
        dollars(col("tc")).as("total"),
        ((col("t1") * lit(4) - col("t2")).cast("double") / den).as("level"),
        ((col("t1") * lit(2) - col("t2")).cast("double") / den).as("trend"),
        ((col("t1") * lit(6) - col("t2") * lit(2)).cast("double") / den).as("fcst_next"),
        col("rn").as("n_months"))
      .orderBy(col("department"), col("gl_code"), col("year"), col("month"))
  }

  /** Brown's double-smoothing closed-form chain over an upserted-shaped
    * source CTE — shared by finForecastBrownSql and fin_forecast_eval
    * (drift rule). Ends at `${p}t2` (tc, rn, t1, t2). */
  private def brownT2Ctes(src: String, p: String): String =
    s"""${p}monthly AS (
       |  SELECT department, gl_code, year, month,
       |         sum(CAST(round(amount*100) AS BIGINT)) AS tc
       |  FROM $src GROUP BY department, gl_code, year, month),
       |${p}rn AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY department, gl_code, year
       |                                    ORDER BY month) AS INT) AS rn
       |  FROM ${p}monthly),
       |${p}t AS (
       |  SELECT *, sum(CASE WHEN rn = 1 THEN tc
       |                     ELSE tc * CAST(pow(2, rn - 2) AS BIGINT) END)
       |            OVER (PARTITION BY department, gl_code, year ORDER BY rn
       |                  ROWS UNBOUNDED PRECEDING) AS t1
       |  FROM ${p}rn),
       |${p}t2 AS (
       |  SELECT *, sum(CASE WHEN rn = 1 THEN 2 * t1 ELSE t1 END)
       |            OVER (PARTITION BY department, gl_code, year ORDER BY rn
       |                  ROWS UNBOUNDED PRECEDING) AS t2
       |  FROM ${p}t)""".stripMargin

  val finForecastBrownSql: String =
    s"""WITH $upsertCtes,
       |${brownT2Ctes("fin_upserted", "fin_")}
       |SELECT department, gl_code, year, month,
       |       CAST(tc AS DOUBLE)/100.0 AS total,
       |       CAST(4*t1 - t2 AS DOUBLE) / (100.0 * pow(2, rn)) AS level,
       |       CAST(2*t1 - t2 AS DOUBLE) / (100.0 * pow(2, rn)) AS trend,
       |       CAST(6*t1 - 2*t2 AS DOUBLE) / (100.0 * pow(2, rn)) AS fcst_next,
       |       rn AS n_months
       |FROM fin_t2
       |ORDER BY department, gl_code, year, month""".stripMargin

  // ------------------------------------------------------ fin_forecast_eval
  /** fin_forecast_eval: one-step BACKTEST of the three registered
    * forecasters — hold out each (department, GL)'s LAST observed month,
    * refit linear / EWMA / Brown on the truncated history, and score the
    * held-out month: per method the shared eligible population, MAE,
    * and signed bias — the eval-as-a-query pattern (ann_recall_report /
    * corpus_langid_eval / dedup_band_eval) applied to the financial
    * family, answering "which forecaster should this ledger trust".
    *
    * Eligible population: keys whose held-out month is CALENDAR-
    * consecutive to the last truncated month within the same year
    * (month ≥ 2) — exactly the slot all three methods forecast
    * one-step (linear's fidx lands there iff consecutive; EWMA/Brown
    * restart yearly, so their level/one-step forecasts exist only
    * same-year) — and that pass linear's n ≥ 2 / positive-variance fit
    * filter; the INNER joins enforce this identically in both engines,
    * and the one shared population makes the three MAEs comparable.
    *
    * Exactness: each prediction is the registered derivation's own
    * deterministic double (shared *From builders on the Spark side,
    * shared SQL chain builders in the mirror — the drift rule); errors
    * round to integer CENTS before summing, so the MAE/bias
    * accumulators are exact integers under any partial-agg order and
    * each output is ONE division of identically-cast exact integers.
    *
    * Scale: the statements derivation runs ONCE (staged), the truncated
    * frame is staged for its three consumers; everything after the
    * three monthly rollups is chart-bounded; the final panel is 3 rows
    * exploded from one aggregate (the events_funnel_time shape). */
  def finForecastEval(spark: SparkSession, dir: String): DataFrame =
    finForecastEvalFrom(upserted(spark, dir))

  /** fin_forecast_eval_staged: same backtest panel off the staged
    * warehouse table — the heaviest in-query fin derivation (the
    * statements frame feeds three forecaster chains), so it gains the
    * most from the production staging convention; same oracle SQL
    * verbatim. */
  def finForecastEvalStaged(spark: SparkSession, dir: String): DataFrame =
    finForecastEvalFrom(stagedUpserted(spark, dir))

  private[graft] def finForecastEvalFrom(up0: DataFrame): DataFrame = {
    // r15 (guide §5 — the graph_part_rank ephemeral recipe): the upsert
    // output is consumed by FOUR chains (monthly/held + truncUp feeding
    // three forecasters). A stage barrier re-runs its RESULT stage per
    // consuming job — here that stage is the keep-last sort+window over
    // the full exploded variant frame (~280M rows at sf100), re-paid by
    // every consumer — while the upserted frame itself is a BOUNDED
    // (gl, year, month, dept, category) panel (~70k rows at any SF).
    // Ephemeral parquet materializes it once per invocation (never
    // cached across calls — Staged.ephemeral writes a fresh temp dir);
    // every chain then re-reads a tiny columnar scan.
    val up = graft.sources.Staged.ephemeral(up0)
    val monthly = stageBarrier(up
      .groupBy(col("department"), col("gl_code"), col("year"), col("month"))
      .agg(sum(cents(col("amount"))).as("tc"))
      .withColumn("m_idx", col("year") * 12 + col("month") - 1))
    val lastM = monthly.groupBy(col("department"), col("gl_code"))
      .agg(max(col("m_idx")).as("lm_idx"))
    val held = monthly.join(broadcast(lastM), Seq("department", "gl_code"))
      .filter(col("m_idx") === col("lm_idx") && col("month") >= 2)
      .select(col("department"), col("gl_code"),
        col("year").as("h_year"), col("month").as("h_month"),
        dollars(col("tc")).as("actual"))
    val truncUp = stageBarrier(up
      .join(broadcast(lastM), Seq("department", "gl_code"))
      .filter(col("year") * 12 + col("month") - 1 < col("lm_idx"))
      .drop("lm_idx"))
    val lin = finForecastLinearFrom(truncUp)
      .select(col("department"), col("gl_code"),
        col("forecast_year"), col("forecast_month"),
        col("forecast").as("pred_linear"))
    val wLast = Window.partitionBy(col("department"), col("gl_code"), col("year"))
      .orderBy(col("month").desc)
    val ew = finEwmaFrom(truncUp)
      .withColumn("rl", row_number().over(wLast)).filter(col("rl") === 1)
      .select(col("department"), col("gl_code"),
        col("year").as("e_year"), col("month").as("e_month"),
        col("ewma").as("pred_ewma"))
    val br = finForecastBrownFrom(truncUp)
      .withColumn("rl", row_number().over(wLast)).filter(col("rl") === 1)
      .select(col("department"), col("gl_code"),
        col("year").as("b_year"), col("month").as("b_month"),
        col("fcst_next").as("pred_brown"))
    def errC(pred: Column): Column =
      round((pred - col("actual")) * 100).cast("long")
    val joined = held
      .join(lin, Seq("department", "gl_code"))
      .filter(col("forecast_year") === col("h_year") &&
        col("forecast_month") === col("h_month"))
      .join(ew, Seq("department", "gl_code"))
      .filter(col("e_year") === col("h_year") &&
        col("e_month") === col("h_month") - 1)
      .join(br, Seq("department", "gl_code"))
      .filter(col("b_year") === col("h_year") &&
        col("b_month") === col("h_month") - 1)
      .select(errC(col("pred_linear")).as("el"), errC(col("pred_ewma")).as("ee"),
        errC(col("pred_brown")).as("eb"))
    val a = joined.agg(count(lit(1)).as("n"),
      sum(abs(col("el"))).as("al"), sum(col("el")).as("sl"),
      sum(abs(col("ee"))).as("ae"), sum(col("ee")).as("se"),
      sum(abs(col("eb"))).as("ab"), sum(col("eb")).as("sb"))
    def leg(m: String, sAbs: Column, sSig: Column): Column =
      struct(lit(m).as("method"), col("n").as("n_keys"),
        sAbs.as("sa"), sSig.as("ss"))
    a.select(explode(array(
        leg("brown", col("ab"), col("sb")),
        leg("ewma", col("ae"), col("se")),
        leg("linear", col("al"), col("sl")))).as("r"))
      .select(col("r.method").as("method"), col("r.n_keys").as("n_keys"),
        (round(col("r.sa").cast("double")
          / (col("r.n_keys") * lit(100L)).cast("double"), 4) + 0.0).as("mae"),
        (round(col("r.ss").cast("double")
          / (col("r.n_keys") * lit(100L)).cast("double"), 4) + 0.0).as("bias"))
      .orderBy(col("method"))
  }

  val finForecastEvalSql: String =
    s"""WITH $upsertCtes,
       |ev_monthly AS (
       |  SELECT department, gl_code, year, month,
       |         sum(CAST(round(amount*100) AS BIGINT)) AS tc,
       |         year*12 + month - 1 AS m_idx
       |  FROM fin_upserted GROUP BY department, gl_code, year, month),
       |ev_last AS (SELECT department, gl_code, max(m_idx) AS lm_idx
       |            FROM ev_monthly GROUP BY department, gl_code),
       |ev_held AS (
       |  SELECT m.department, m.gl_code, m.year AS h_year, m.month AS h_month,
       |         CAST(m.tc AS DOUBLE)/100.0 AS actual
       |  FROM ev_monthly m JOIN ev_last l
       |    ON m.department = l.department AND m.gl_code = l.gl_code
       |  WHERE m.m_idx = l.lm_idx AND m.month >= 2),
       |ev_trunc AS (
       |  SELECT u.* FROM fin_upserted u JOIN ev_last l
       |    ON u.department = l.department AND u.gl_code = l.gl_code
       |  WHERE u.year*12 + u.month - 1 < l.lm_idx),
       |${linearLinesCtes("ev_trunc", "lin_")},
       |lin_pred AS (
       |  SELECT department, gl_code,
       |         CAST(fidx // 12 AS INT) AS fy, CAST(fidx % 12 + 1 AS INT) AS fm,
       |         round(CAST(inum + snum * xf AS DOUBLE) / den / 100.0, 4) + 0.0 AS pred
       |  FROM lin_lines),
       |${ewmaTCtes("ev_trunc", "ew_")},
       |ew_pred AS (
       |  SELECT department, gl_code, year, month,
       |         CAST(num AS DOUBLE) / (100.0 * pow(2, rn - 1)) AS pred
       |  FROM (SELECT *, row_number() OVER (PARTITION BY department, gl_code, year
       |                                     ORDER BY month DESC) AS rl FROM ew_t)
       |  WHERE rl = 1),
       |${brownT2Ctes("ev_trunc", "br_")},
       |br_pred AS (
       |  SELECT department, gl_code, year, month,
       |         CAST(6*t1 - 2*t2 AS DOUBLE) / (100.0 * pow(2, rn)) AS pred
       |  FROM (SELECT *, row_number() OVER (PARTITION BY department, gl_code, year
       |                                     ORDER BY month DESC) AS rl FROM br_t2)
       |  WHERE rl = 1),
       |ev_joined AS (
       |  SELECT CAST(round((lp.pred - h.actual)*100) AS BIGINT) AS el,
       |         CAST(round((ep.pred - h.actual)*100) AS BIGINT) AS ee,
       |         CAST(round((bp.pred - h.actual)*100) AS BIGINT) AS eb
       |  FROM ev_held h
       |  JOIN lin_pred lp ON lp.department = h.department AND lp.gl_code = h.gl_code
       |                  AND lp.fy = h.h_year AND lp.fm = h.h_month
       |  JOIN ew_pred ep ON ep.department = h.department AND ep.gl_code = h.gl_code
       |                 AND ep.year = h.h_year AND ep.month = h.h_month - 1
       |  JOIN br_pred bp ON bp.department = h.department AND bp.gl_code = h.gl_code
       |                 AND bp.year = h.h_year AND bp.month = h.h_month - 1),
       |ev_agg AS (
       |  SELECT count(*) AS n, sum(abs(el)) AS al, sum(el) AS sl,
       |         sum(abs(ee)) AS ae, sum(ee) AS se,
       |         sum(abs(eb)) AS ab, sum(eb) AS sb
       |  FROM ev_joined)
       |SELECT method, n AS n_keys,
       |       round(CAST(sa AS DOUBLE)/CAST(n*100 AS DOUBLE), 4) + 0.0 AS mae,
       |       round(CAST(ss AS DOUBLE)/CAST(n*100 AS DOUBLE), 4) + 0.0 AS bias
       |FROM (
       |  SELECT 'brown' AS method, n, ab AS sa, sb AS ss FROM ev_agg
       |  UNION ALL SELECT 'ewma', n, ae, se FROM ev_agg
       |  UNION ALL SELECT 'linear', n, al, sl FROM ev_agg)
       |ORDER BY method""".stripMargin

  /** fin_dept_correlation: Pearson correlation of monthly net totals
    * between every department pair — "which departments move together",
    * the FP&A co-movement panel read next to fin_seasonality (shared
    * seasonality is the usual source of high r; residual correlation
    * after deseasonalizing is the interesting signal, and this panel is
    * the numerator for that workflow). Computed over each pair's
    * COMMON observed months; r = (n·Σxy − ΣxΣy) /
    * (√(n·Σx²−(Σx)²)·√(n·Σy²−(Σy)²)), NULL where either series is
    * constant (zero variance).
    *
    * Exactness: all five moment sums are exact integer cents in
    * DECIMAL(38,0)/HUGEINT (products reach ~10²¹ at gate scale — far
    * past BIGINT); each factor is ONE cast of an exact integer to
    * double (correctly rounded identically in both engines), sqrt and
    * the final division are single IEEE ops, and the 6-dp round is the
    * boundary. No float ever accumulates.
    *
    * Scale: one map-side-combined monthly aggregate staged once (the
    * fin_anomaly_zscore discipline), then a self-join on (year, month)
    * — per-month fan-out is |departments|², chart-bounded, never
    * data-scaled — into a ≤|dept|²/2-row moment aggregate. */
  def finDeptCorrelation(spark: SparkSession, dir: String): DataFrame =
    finDeptCorrelationFrom(upserted(spark, dir))

  private[graft] def finDeptCorrelationFrom(up: DataFrame): DataFrame = {
    val monthly = stageBarrier(up
      .groupBy(col("department"), col("year"), col("month"))
      .agg(sum(cents(col("amount"))).as("tc")))
    val d = (c: Column) => c.cast("decimal(38,0)")
    val pairs = monthly.select(col("department").as("dept_a"), col("year"),
        col("month"), col("tc").as("x"))
      .join(monthly.select(col("department").as("dept_b"), col("year"),
        col("month"), col("tc").as("y")), Seq("year", "month"))
      .filter(col("dept_a") < col("dept_b"))
    val m = pairs.groupBy(col("dept_a"), col("dept_b"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(d(col("x")) * d(col("y"))).as("sxy"),
        sum(d(col("x")) * d(col("x"))).as("sxx"),
        sum(d(col("y")) * d(col("y"))).as("syy"))
    val (n, sx, sy) = (d(col("n")), d(col("sx")), d(col("sy")))
    val vx = n * col("sxx") - sx * sx
    val vy = n * col("syy") - sy * sy
    m.select(col("dept_a"), col("dept_b"), col("n").as("n_months"),
        when(vx <= 0 || vy <= 0, lit(null).cast("double"))
          .otherwise(round((n * col("sxy") - sx * sy).cast("double")
            / (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))), 6) + 0.0)
          .as("pearson_r"))
      .orderBy(col("dept_a"), col("dept_b"))
  }

  val finDeptCorrelationSql: String =
    s"""WITH $upsertCtes,
       |fin_monthly AS (
       |  SELECT department, year, month,
       |         sum(CAST(round(amount*100) AS BIGINT)) AS tc
       |  FROM fin_upserted GROUP BY department, year, month),
       |pr AS (
       |  SELECT a.department AS dept_a, b.department AS dept_b,
       |         a.tc AS x, b.tc AS y
       |  FROM fin_monthly a JOIN fin_monthly b
       |    ON a.year = b.year AND a.month = b.month
       |   AND a.department < b.department),
       |mo AS (
       |  SELECT dept_a, dept_b, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
       |         sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
       |         sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
       |         sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
       |  FROM pr GROUP BY dept_a, dept_b)
       |SELECT dept_a, dept_b, n AS n_months,
       |       CASE WHEN CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx <= 0
       |              OR CAST(n AS HUGEINT)*syy - CAST(sy AS HUGEINT)*sy <= 0
       |            THEN NULL
       |            ELSE round(
       |              CAST(CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE)
       |              / (sqrt(CAST(CAST(n AS HUGEINT)*sxx
       |                           - CAST(sx AS HUGEINT)*sx AS DOUBLE))
       |                 * sqrt(CAST(CAST(n AS HUGEINT)*syy
       |                             - CAST(sy AS HUGEINT)*sy AS DOUBLE))), 6) + 0.0
       |       END AS pearson_r
       |FROM mo ORDER BY dept_a, dept_b""".stripMargin

  /** The nine Benford first-digit expected shares log10(1+1/d), 6-dp
    * literals shared by BOTH engines' CASE expressions (one Scala
    * constant — the ngramDupsCtes drift rule): transcendental log10
    * must never be evaluated cross-engine (libm last-ulp divergence),
    * so the law's constants ship as literals. */
  private val benfordShares: Seq[(Int, String)] = Seq(
    1 -> "0.30103", 2 -> "0.176091", 3 -> "0.124939", 4 -> "0.09691",
    5 -> "0.079181", 6 -> "0.066947", 7 -> "0.057992", 8 -> "0.051153",
    9 -> "0.045757")

  private val benfordCaseSql: String =
    "CASE digit " + benfordShares.map { case (d, s) =>
      s"WHEN $d THEN CAST($s AS DOUBLE)" }.mkString(" ") + " END"

  /** fin_benford: Benford's-law first-digit audit of the statement
    * amounts per department — the classic analytical fraud/fabrication
    * screen an audit runs over a financial ledger (Benford 1938;
    * Nigrini's audit practice): naturally occurring amounts put ~30.1%
    * of leading digits at 1, fabricated ones cluster mid-range. Emits
    * per (department, digit 1-9) the count, observed share, expected
    * Benford share, and the excess — the drill-down panel (global chi²
    * is deliberately NOT emitted: a 9-term float sum has no
    * order-independent exact form, and the per-digit excesses are what
    * the auditor reads anyway).
    *
    * Exactness: leading digit via integer-cents → string (scaling by
    * 100 never changes the leading significant digit; zero amounts
    * excluded); counts exact integers; share and excess each ONE
    * arithmetic chain over exact integers and the literal constants —
    * identical IEEE both engines.
    *
    * Scale: one map-side-combined (department, digit) aggregate to
    * ≤ |dept|·9 rows; the department totals join back under AQE
    * broadcast. The fact side never shuffles raw rows. */
  def finBenford(spark: SparkSession, dir: String): DataFrame =
    finBenfordFrom(upserted(spark, dir))

  private[graft] def finBenfordFrom(up: DataFrame): DataFrame = {
    val dig = up.select(col("department"), cents(col("amount")).as("c"))
      .filter(col("c") =!= 0)
      .select(col("department"),
        substring(abs(col("c")).cast("string"), 1, 1).cast("int").as("digit"))
    val byDept = stageBarrier(
      dig.groupBy(col("department"), col("digit")).agg(count(lit(1)).as("n")))
    val tot = byDept.groupBy(col("department")).agg(sum(col("n")).as("nt"))
    byDept.join(broadcast(tot), Seq("department"))
      .withColumn("benford", expr(benfordCaseSql))
      .select(col("department"), col("digit"), col("n"),
        (round(col("n").cast("double") / col("nt"), 6) + 0.0).as("share"),
        col("benford"),
        (round(col("n").cast("double") / col("nt") - col("benford"), 6) + 0.0)
          .as("excess"))
      .orderBy(col("department"), col("digit"))
  }

  val finBenfordSql: String =
    s"""WITH $upsertCtes,
       |am AS (SELECT department, CAST(round(amount*100) AS BIGINT) AS c
       |       FROM fin_upserted WHERE CAST(round(amount*100) AS BIGINT) <> 0),
       |dg AS (SELECT department,
       |              CAST(substr(CAST(abs(c) AS VARCHAR), 1, 1) AS INT) AS digit
       |       FROM am),
       |bd AS (SELECT department, digit, count(*) AS n FROM dg GROUP BY 1, 2),
       |tt AS (SELECT department, sum(n) AS nt FROM bd GROUP BY 1)
       |SELECT b.department, b.digit, b.n,
       |       round(CAST(b.n AS DOUBLE) / t.nt, 6) + 0.0 AS share,
       |       $benfordCaseSql AS benford,
       |       round(CAST(b.n AS DOUBLE) / t.nt - ($benfordCaseSql), 6) + 0.0 AS excess
       |FROM bd b JOIN tt t USING (department)
       |ORDER BY department, digit""".stripMargin

  /** fin_reconciliation: statement detail totals vs an independently
    * derived control total per (year, month, department) — mismatches are
    * exactly the sheets whose source rows arrived as unparseable N/A. */
  def finReconciliation(spark: SparkSession, dir: String): DataFrame = {
    val det = factStaged(spark, dir, "year", "month", "department", "amount")
      .groupBy(col("year"), col("month"), col("department"))
      .agg(sum(cents(col("amount"))).as("dc"))
    val k = col("o_orderkey")
    val ctl = Tables.orders(spark, dir).filter(k % 13 =!= 0)
      .groupBy(year(col("o_orderdate")).cast("int").as("year"),
        month(col("o_orderdate")).cast("int").as("month"),
        (col("o_custkey") % 5 + 100).cast("string").as("department"))
      .agg(sum(cents(col("o_totalprice")) * when(k % 7 === 0, -1).otherwise(1)).as("cc"))
    det.join(ctl, Seq("year", "month", "department"))
      .select(col("year"), col("month"), col("department"),
        dollars(col("dc")).as("detail_total"),
        dollars(col("cc")).as("control_total"),
        dollars(col("dc") - col("cc")).as("diff"),
        when(col("dc") === col("cc"), "OK").otherwise("MISMATCH").as("status"))
      .orderBy(col("year"), col("month"), col("department"))
  }

  val finReconciliationSql: String =
    s"""WITH $factCtes,
       |fin_detail_tot AS (
       |  SELECT year, month, department, sum(CAST(round(amount*100) AS BIGINT)) AS dc
       |  FROM fin_fact GROUP BY year, month, department),
       |fin_control AS (
       |  SELECT CAST(year(o_orderdate) AS INT) AS year, CAST(month(o_orderdate) AS INT) AS month,
       |         CAST(o_custkey % 5 + 100 AS VARCHAR) AS department,
       |         sum(CAST(round(o_totalprice*100) AS BIGINT)
       |             * (CASE WHEN o_orderkey % 7 = 0 THEN -1 ELSE 1 END)) AS cc
       |  FROM orders WHERE o_orderkey % 13 <> 0
       |  GROUP BY 1, 2, 3)
       |SELECT d.year, d.month, d.department,
       |       CAST(d.dc AS DOUBLE)/100.0 AS detail_total,
       |       CAST(c.cc AS DOUBLE)/100.0 AS control_total,
       |       CAST(d.dc - c.cc AS DOUBLE)/100.0 AS diff,
       |       CASE WHEN d.dc = c.cc THEN 'OK' ELSE 'MISMATCH' END AS status
       |FROM fin_detail_tot d JOIN fin_control c
       |  ON d.year = c.year AND d.month = c.month AND d.department = c.department
       |ORDER BY d.year, d.month, d.department""".stripMargin

  /** fin_header_detect: the reference scans each sheet for the header row
    * (NUMBER | DESCRIPTION, Code.gs:176-184) and ignores everything above
    * it — title rows, company banners, even things that LOOK like GL
    * codes. Derived here from supplier: each sheet gets banner rows (one
    * per s_suppkey%9==0, including deceptive numeric labels), a header at
    * a fixed bucket boundary, and detail rows after it. The sequential
    * "found the header yet?" scan becomes a running max over the header
    * flag — one window shuffle on sheet, no sequential pass. */
  def finHeaderDetect(spark: SparkSession, dir: String): DataFrame = {
    val k = col("s_suppkey")
    val det = Tables.supplier(spark, dir).select(
      concat(lit("S"), (k % 7).cast("string")).as("sheet"),
      ((k % 50) * 1000000L + k).as("pos"),
      when(k % 9 === 0, ((k % 30) + 1).cast("string")) // deceptive pre-header numeric
        .otherwise(concat(lit("row "), k.cast("string"))).as("labelA"),
      concat(lit("v"), k.cast("string")).as("labelB"))
    val hdr = det.select(col("sheet")).distinct()
      .select(col("sheet"), lit(10L * 1000000 - 1).as("pos"),
        lit("NUMBER").as("labelA"), lit("DESCRIPTION").as("labelB"))
    val rows = det.unionByName(hdr)
    val isHdr = when(upper(trim(col("labelA"))) === "NUMBER" &&
      upper(trim(col("labelB"))) === "DESCRIPTION", 1).otherwise(0)
    val w = Window.partitionBy(col("sheet")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    rows.withColumn("hdr_seen", max(isHdr).over(w))
      .withColumn("is_hdr", isHdr)
      .filter(col("hdr_seen") === 1 && col("is_hdr") === 0)
      .select(col("sheet"), col("pos"), col("labelA"), col("labelB"))
      .orderBy(col("sheet"), col("pos"))
  }

  val finHeaderDetectSql: String =
    """WITH det AS (
      |  SELECT 'S' || CAST(s_suppkey % 7 AS VARCHAR) AS sheet,
      |         (s_suppkey % 50) * 1000000 + s_suppkey AS pos,
      |         CASE WHEN s_suppkey % 9 = 0 THEN CAST((s_suppkey % 30) + 1 AS VARCHAR)
      |              ELSE 'row ' || CAST(s_suppkey AS VARCHAR) END AS labelA,
      |         'v' || CAST(s_suppkey AS VARCHAR) AS labelB
      |  FROM supplier),
      |hdr AS (
      |  SELECT sheet, CAST(9999999 AS BIGINT) AS pos,
      |         'NUMBER' AS labelA, 'DESCRIPTION' AS labelB
      |  FROM (SELECT DISTINCT sheet FROM det)),
      |rows_ AS (SELECT * FROM det UNION ALL SELECT * FROM hdr),
      |m AS (
      |  SELECT *,
      |    CASE WHEN upper(trim(labelA)) = 'NUMBER' AND upper(trim(labelB)) = 'DESCRIPTION'
      |         THEN 1 ELSE 0 END AS is_hdr,
      |    max(CASE WHEN upper(trim(labelA)) = 'NUMBER' AND upper(trim(labelB)) = 'DESCRIPTION'
      |             THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY sheet ORDER BY pos ROWS UNBOUNDED PRECEDING) AS hdr_seen
      |  FROM rows_)
      |SELECT sheet, pos, labelA, labelB FROM m
      |WHERE hdr_seen = 1 AND is_hdr = 0
      |ORDER BY sheet, pos""".stripMargin

  /** fin_balance_sheet: the balance-sheet state machine (Code.gs:211-235):
    * Assets until TOTAL ASSETS, Liability until TOTAL LIABILITIES, then
    * Equity; other TOTAL rows and empty descriptions skipped. Running
    * marker counts replace the sequential `currentCategory` variable —
    * one window shuffle on sheet, no sequential scan. */
  def finBalanceSheet(spark: SparkSession, dir: String): DataFrame = {
    val du = upper(trim(col("descr")))
    val w = Window.partitionBy(col("sheet")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    Statements.balance(spark, dir)
      .withColumn("na", sum(when(du.startsWith("TOTAL ASSETS"), 1).otherwise(0)).over(w))
      .withColumn("nl", sum(when(du.startsWith("TOTAL LIABILITIES"), 1).otherwise(0)).over(w))
      .filter(trim(col("descr")) =!= "" && !du.startsWith("TOTAL "))
      .withColumn("gl_code", Financial.normalizeGlCode(col("label")))
      .withColumn("amount", Financial.cleanAmount(col("amount_str")))
      .filter(col("gl_code").isNotNull && col("amount").isNotNull)
      .select(col("sheet"), col("pos"), col("gl_code"),
        when(col("nl") >= 1, "Equity").when(col("na") >= 1, "Liability")
          .otherwise("Assets").as("category"),
        col("descr").as("description"), col("amount"))
      .orderBy(col("sheet"), col("pos"))
  }

  /** Shared categorized-balance CTE chain (the state machine above as
    * SQL): every balance-sheet mirror composes from this single builder
    * so the categorization cannot drift between fin_balance_sheet and
    * fin_bs_ratios. Exposes `bs_lines(sheet, pos, gl_code, category,
    * descr, sc)` with sc in exact integer cents. */
  val balanceLinesCtes: String =
    s"""${Statements.balanceCtes},
       |bs_cat AS (
       |  SELECT *,
       |    sum(CASE WHEN upper(trim(descr)) LIKE 'TOTAL ASSETS%' THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY sheet ORDER BY pos ROWS UNBOUNDED PRECEDING) AS na,
       |    sum(CASE WHEN upper(trim(descr)) LIKE 'TOTAL LIABILITIES%' THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY sheet ORDER BY pos ROWS UNBOUNDED PRECEDING) AS nl
       |  FROM bs_rows),
       |bs_lines AS (
       |  SELECT sheet, pos, lpad(trim(label), 4, '0') AS gl_code,
       |         CASE WHEN nl >= 1 THEN 'Equity' WHEN na >= 1 THEN 'Liability'
       |              ELSE 'Assets' END AS category,
       |         descr, sc
       |  FROM bs_cat
       |  WHERE trim(descr) <> '' AND upper(trim(descr)) NOT LIKE 'TOTAL %'
       |    AND regexp_matches(trim(label), '^[0-9]{1,4}$$'))""".stripMargin

  val finBalanceSheetSql: String =
    s"""WITH $balanceLinesCtes
       |SELECT sheet, pos, gl_code, category, descr AS description,
       |       sc / 100.0 AS amount
       |FROM bs_lines ORDER BY sheet, pos""".stripMargin

  // -------------------------------------------------------- fin_bs_ratios
  /** Balance-sheet ratio panel per sheet: total Assets / Liabilities /
    * Equity, the accounting-equation residual A − L − E (the audit
    * check — a clean statement nets to the Equity rows the state
    * machine classified), debt-to-equity L/E, equity ratio E/A and
    * liability share L/A — the solvency read a finance team runs off
    * the same statement the reference's balance-sheet parser ingests
    * (Code.gs:211-235 gives the categories; this is the analysis the
    * docs' "reconciliation and downstream analytics" promise implies).
    *
    * Scale: consumes the fin_balance_sheet derivation (same ONE window
    * shuffle on sheet) and rolls up to ≤|sheets| rows with conditional
    * integer-cents sums — map-side combined, exact; each ratio is one
    * IEEE division of identically-cast exact integers, NULL where the
    * denominator is zero. The mirror composes from balanceLinesCtes,
    * so the categorization cannot drift from fin_balance_sheet's. */
  def finBsRatios(spark: SparkSession, dir: String): DataFrame = {
    val c = round(col("amount") * 100).cast("long")
    def cat(name: String) = sum(when(col("category") === name, c).otherwise(0L))
    val agg = finBalanceSheet(spark, dir)
      .groupBy(col("sheet"))
      .agg(cat("Assets").as("ac"), cat("Liability").as("lc"), cat("Equity").as("ec"))
    def ratio(num: Column, den: Column) =
      when(den === 0L, lit(null).cast("double"))
        .otherwise(round(num.cast("double") / den.cast("double"), 6) + 0.0)
    agg.select(col("sheet"),
      (col("ac").cast("double") / 100.0).as("assets"),
      (col("lc").cast("double") / 100.0).as("liabilities"),
      (col("ec").cast("double") / 100.0).as("equity"),
      ((col("ac") - col("lc") - col("ec")).cast("double") / 100.0).as("residual"),
      ratio(col("lc"), col("ec")).as("debt_to_equity"),
      ratio(col("ec"), col("ac")).as("equity_ratio"),
      ratio(col("lc"), col("ac")).as("liability_share"))
      .orderBy(col("sheet"))
  }

  val finBsRatiosSql: String =
    s"""WITH $balanceLinesCtes,
       |agg AS (
       |  SELECT sheet,
       |    sum(CASE WHEN category = 'Assets' THEN sc ELSE 0 END) AS ac,
       |    sum(CASE WHEN category = 'Liability' THEN sc ELSE 0 END) AS lc,
       |    sum(CASE WHEN category = 'Equity' THEN sc ELSE 0 END) AS ec
       |  FROM bs_lines GROUP BY sheet)
       |SELECT sheet,
       |  CAST(ac AS DOUBLE) / 100.0 AS assets,
       |  CAST(lc AS DOUBLE) / 100.0 AS liabilities,
       |  CAST(ec AS DOUBLE) / 100.0 AS equity,
       |  CAST(ac - lc - ec AS DOUBLE) / 100.0 AS residual,
       |  CASE WHEN ec = 0 THEN NULL
       |       ELSE round(CAST(lc AS DOUBLE) / CAST(ec AS DOUBLE), 6) + 0.0 END AS debt_to_equity,
       |  CASE WHEN ac = 0 THEN NULL
       |       ELSE round(CAST(ec AS DOUBLE) / CAST(ac AS DOUBLE), 6) + 0.0 END AS equity_ratio,
       |  CASE WHEN ac = 0 THEN NULL
       |       ELSE round(CAST(lc AS DOUBLE) / CAST(ac AS DOUBLE), 6) + 0.0 END AS liability_share
       |FROM agg ORDER BY sheet""".stripMargin

  // ------------------------------------------------------- fin_load_audit

  /** Header synonym sets the reference accepts when identifying the GL
    * reference sheet's columns (build_warehouse.py:67-71) — shared with
    * the SQL oracle so the two engines cannot drift. */
  val GlHeaderSynonyms: Seq[String] = Seq("gl", "gl code", "glcode", "number",
    "account", "account number", "account#", "account #")
  val DescHeaderSynonyms: Seq[String] = Seq("description", "account description",
    "gl description", "name")

  private def normHeader(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Strict-mode load validation over any statements-shaped frame —
    * the reference FAILS LOUDLY on malformed inputs (month out of range:
    * build_warehouse.py:27-29, zero department sheets: :129) where
    * graft's parsers null-and-continue; a distributed load can't throw
    * per-file, so the strict contract becomes a verdict REPORT: counts
    * of rejected files and rows by reason. File-level reasons follow the
    * reference's raise order (no mm.yyyy in the name, month out of
    * range, no 'DEPARTMENT NNN-F' sheets); row-level reasons audit the
    * rows the reference silently drops (non-GL labels, unparseable
    * amounts) inside otherwise-valid loads.
    *
    * Scale: two map-side-combined aggregates — one per distinct file
    * (|files| rows), one over row reasons (4 rows); every predicate is
    * a scan-fused column expression. The flagged frame feeds BOTH
    * aggregate branches, so it is staged once behind a barrier —
    * without it each branch re-runs the whole statements derivation
    * (the fin_qa_status double-derive pattern; sf0.1 5.7 → 2.9 s). */
  def loadAudit(statements: DataFrame): DataFrame = {
    val hasPeriod = regexp_extract(col("file"), "(\\d{2})\\.(\\d{4})", 1) =!= ""
    val monthOk = Financial.periodMonth(col("file")).isNotNull
    val isDept = Financial.extractDepartment(col("sheet")).isNotNull
    val flagged = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      statements.select(col("file"), col("label"),
        col("amount_str"), hasPeriod.cast("int").as("hp"),
        monthOk.cast("int").as("mo"), isDept.cast("int").as("dp")))
    val fileVerdicts = flagged.groupBy(col("file"))
      .agg(max(col("hp")).as("hp"), max(col("mo")).as("mo"), max(col("dp")).as("nd"))
      .select(when(col("hp") === 0, "no_period_in_filename")
        .when(col("mo") === 0, "month_out_of_range")
        .when(col("nd") === 0, "no_department_sheets")
        .otherwise("ok").as("reason"))
      .groupBy(col("reason")).agg(count(lit(1)).as("n"))
      .select(lit("file").as("scope"), col("reason"), col("n"))
    val lbl = upper(trim(col("label")))
    val rowVerdicts = flagged
      .filter(col("hp") === 1 && col("mo") === 1 && col("dp") === 1)
      .select(when(lbl === "REVENUES" || lbl === "EXPENSES", "marker")
        .when(Financial.normalizeGlCode(col("label")).isNull, "non_gl_label")
        .when(Financial.cleanAmount(col("amount_str")).isNull, "unparseable_amount")
        .otherwise("ok").as("reason"))
      .filter(col("reason") =!= "marker")
      .groupBy(col("reason")).agg(count(lit(1)).as("n"))
      .select(lit("row").as("scope"), col("reason"), col("n"))
    fileVerdicts.unionByName(rowVerdicts)
  }

  /** GL-reference header identification audit (build_warehouse.py:73-76:
    * unidentifiable GL code / Description column is a hard failure) over
    * a frame of (gl_hdr, desc_hdr) candidate header pairs; the reason
    * order mirrors the reference's raise order (GL first). */
  def headerAudit(headers: DataFrame): DataFrame =
    headers
      .select(when(!normHeader(col("gl_hdr")).isin(GlHeaderSynonyms: _*),
          "gl_header_unidentified")
        .when(!normHeader(col("desc_hdr")).isin(DescHeaderSynonyms: _*),
          "desc_header_unidentified")
        .otherwise("ok").as("reason"))
      .groupBy(col("reason")).agg(count(lit(1)).as("n"))
      .select(lit("glref").as("scope"), col("reason"), col("n"))

  /** fin_load_audit: the strict-mode validation report over a corpus
    * with DETERMINISTIC malformed loads planted (both engines derive the
    * identical perversion of the statements frame, so the oracle counts
    * the same rejects): months 3/10 lose their mm.yyyy filename period,
    * months 2/7/12 get an out-of-range month (+12), month 4's sheets
    * lose their DEPARTMENT names; a 25-row header-variant frame (from
    * nation) exercises the GL-reference header identification. */
  def finLoadAudit(spark: SparkSession, dir: String): DataFrame = {
    val mn0 = regexp_extract(col("file"), "(\\d{2})\\.(\\d{4})", 1).cast("int")
    val yr0 = regexp_extract(col("file"), "(\\d{2})\\.(\\d{4})", 2).cast("string")
    val perverted = Statements.income(spark, dir).select(
      when(mn0 % 7 === 3, concat(lit("Financials draft-"), mn0.cast("string"),
          lit("-"), yr0, lit(".xlsx")))
        .when(mn0 % 5 === 2, concat(lit("Financials "), (mn0 + 12).cast("string"),
          lit("."), yr0, lit(".xlsx")))
        .otherwise(col("file")).as("file"),
      when(mn0 === 4, concat(lit("Tab "), col("sheet"))).otherwise(col("sheet")).as("sheet"),
      col("pos"), col("label"), col("amount_str"))
    val headerVariants = Tables.nation(spark, dir).select(
      when(col("n_nationkey") % 4 === 0, "GL Code")
        .when(col("n_nationkey") % 4 === 1, "Account #")
        .when(col("n_nationkey") % 4 === 2, "Num")
        .otherwise("  gl  ").as("gl_hdr"),
      when(col("n_nationkey") % 3 === 0, "Description")
        .when(col("n_nationkey") % 3 === 1, "name")
        .otherwise("Detail").as("desc_hdr"))
    loadAudit(perverted).unionByName(headerAudit(headerVariants))
      .orderBy(col("scope"), col("reason"))
  }

  val finLoadAuditSql: String = {
    val glIn = GlHeaderSynonyms.map(s => s"'$s'").mkString(", ")
    val descIn = DescHeaderSynonyms.map(s => s"'$s'").mkString(", ")
    s"""WITH ${Statements.incomeCtes},
       |aud AS (
       |  SELECT CASE WHEN mn0 % 7 = 3
       |              THEN 'Financials draft-' || CAST(mn0 AS VARCHAR) || '-' || yr0 || '.xlsx'
       |              WHEN mn0 % 5 = 2
       |              THEN 'Financials ' || CAST(mn0 + 12 AS VARCHAR) || '.' || yr0 || '.xlsx'
       |              ELSE file END AS file,
       |         CASE WHEN mn0 = 4 THEN 'Tab ' || sheet ELSE sheet END AS sheet,
       |         label, amount_str, k
       |  FROM (SELECT *,
       |          CAST(regexp_extract(file, '([0-9]{2})\\.([0-9]{4})', 1) AS INT) AS mn0,
       |          regexp_extract(file, '([0-9]{2})\\.([0-9]{4})', 2) AS yr0
       |        FROM fin_statements)),
       |fl AS (
       |  SELECT *,
       |    CASE WHEN regexp_extract(file, '([0-9]{2})\\.([0-9]{4})', 1) <> ''
       |         THEN 1 ELSE 0 END AS hp,
       |    CASE WHEN TRY_CAST(regexp_extract(file, '([0-9]{2})\\.([0-9]{4})', 1) AS INT)
       |           BETWEEN 1 AND 12 THEN 1 ELSE 0 END AS mo,
       |    CASE WHEN regexp_extract(trim(sheet),
       |           '(?i)^DEPARTMENT\\s+([0-9]+)\\s*[-–—]\\s*F', 1) <> ''
       |         THEN 1 ELSE 0 END AS dp
       |  FROM aud),
       |files_r AS (
       |  SELECT CASE WHEN max(hp) = 0 THEN 'no_period_in_filename'
       |              WHEN max(mo) = 0 THEN 'month_out_of_range'
       |              WHEN max(dp) = 0 THEN 'no_department_sheets'
       |              ELSE 'ok' END AS reason
       |  FROM fl GROUP BY file),
       |rows_r AS (
       |  SELECT CASE WHEN upper(trim(label)) IN ('REVENUES', 'EXPENSES') THEN 'marker'
       |              WHEN regexp_extract(trim(label), '^([0-9]{1,4})(\\.[0-9]+)?$$', 1) = ''
       |              THEN 'non_gl_label'
       |              WHEN k IS NULL OR k % 17 = 0 THEN 'unparseable_amount'
       |              ELSE 'ok' END AS reason
       |  FROM fl WHERE hp = 1 AND mo = 1 AND dp = 1),
       |hdr_r AS (
       |  SELECT CASE WHEN lower(trim(regexp_replace(gl_hdr, '\\s+', ' ', 'g')))
       |              NOT IN ($glIn) THEN 'gl_header_unidentified'
       |              WHEN lower(trim(regexp_replace(desc_hdr, '\\s+', ' ', 'g')))
       |              NOT IN ($descIn) THEN 'desc_header_unidentified'
       |              ELSE 'ok' END AS reason
       |  FROM (SELECT CASE n_nationkey % 4 WHEN 0 THEN 'GL Code' WHEN 1 THEN 'Account #'
       |               WHEN 2 THEN 'Num' ELSE '  gl  ' END AS gl_hdr,
       |               CASE n_nationkey % 3 WHEN 0 THEN 'Description' WHEN 1 THEN 'name'
       |               ELSE 'Detail' END AS desc_hdr
       |        FROM nation))
       |SELECT scope, reason, n FROM (
       |  SELECT 'file' AS scope, reason, count(*) AS n FROM files_r GROUP BY reason
       |  UNION ALL
       |  SELECT 'row', reason, count(*) FROM rows_r WHERE reason <> 'marker' GROUP BY reason
       |  UNION ALL
       |  SELECT 'glref', reason, count(*) FROM hdr_r GROUP BY reason)
       |ORDER BY scope, reason""".stripMargin
  }

  // ------------------------------------------------------------------ maps

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fin_parse_amount" -> (finParseAmount _),
    "fin_gl_normalize" -> (finGlNormalize _),
    "fin_month_dims" -> (finMonthDims _),
    "fin_section_fill" -> (finSectionFill _),
    "fin_dim_enrich" -> (finDimEnrich _),
    "fin_missing_qa" -> (finMissingQa _),
    "fin_qa_status" -> (finQaStatus _),
    "fin_upsert_dedupe" -> (finUpsertDedupe _),
    "fin_multi_load" -> (finMultiLoad _),
    "fin_latest_load" -> (finLatestLoad _),
    "fin_load_diff" -> (finLoadDiff _),
    "fin_warehouse_build" -> (finWarehouseBuild _),
    "fin_seasonality" -> (finSeasonality _),
    "fin_deseasonalized" -> (finDeseasonalized _),
    "fin_trend_mom" -> (finTrendMom _),
    "fin_common_size" -> (finCommonSize _),
    "fin_variance_walk" -> (finVarianceWalk _),
    "fin_common_size_staged" -> (finCommonSizeStaged _),
    "fin_trend_mom_staged" -> (finTrendMomStaged _),
    "fin_yoy_trend" -> (finYoyTrend _),
    "fin_qoq_trend" -> (finQoqTrend _),
    "fin_forecast_linear" -> (finForecastLinear _),
    "fin_forecast_eval" -> (finForecastEval _),
    "fin_forecast_eval_staged" -> (finForecastEvalStaged _),
    "fin_ytd_cumulative" -> (finYtdCumulative _),
    "fin_ytd_staged" -> (finYtdStaged _),
    "fin_rolling_3m" -> (finRolling3m _),
    "fin_ewma" -> (finEwma _),
    "fin_forecast_brown" -> (finForecastBrown _),
    "fin_benford" -> (finBenford _),
    "fin_dept_correlation" -> (finDeptCorrelation _),
    "fin_anomaly_zscore" -> (finAnomalyZscore _),
    "fin_anomaly_mad" -> (finAnomalyMad _),
    "fin_anomaly_mad_staged" -> (finAnomalyMadStaged _),
    "fin_cusum" -> (finCusum _),
    "fin_cusum_staged" -> (finCusumStaged _),
    "fin_reconciliation" -> (finReconciliation _),
    "fin_balance_sheet" -> (finBalanceSheet _),
    "fin_bs_ratios" -> (finBsRatios _),
    "fin_header_detect" -> (finHeaderDetect _),
    "fin_load_audit" -> (finLoadAudit _)
  )

  def oracles: Map[String, String] = Map(
    "fin_parse_amount" -> finParseAmountSql,
    "fin_gl_normalize" -> finGlNormalizeSql,
    "fin_month_dims" -> finMonthDimsSql,
    "fin_section_fill" -> finSectionFillSql,
    "fin_dim_enrich" -> finDimEnrichSql,
    "fin_missing_qa" -> finMissingQaSql,
    "fin_qa_status" -> finQaStatusSql,
    "fin_upsert_dedupe" -> finUpsertDedupeSql,
    "fin_multi_load" -> finMultiLoadSql,
    "fin_latest_load" -> finLatestLoadSql,
    "fin_load_diff" -> finLoadDiffSql,
    "fin_warehouse_build" -> finWarehouseBuildSql,
    "fin_seasonality" -> finSeasonalitySql,
    "fin_deseasonalized" -> finDeseasonalizedSql,
    "fin_trend_mom" -> finTrendMomSql,
    "fin_common_size" -> finCommonSizeSql,
    "fin_variance_walk" -> finVarianceWalkSql,
    "fin_common_size_staged" -> finCommonSizeSql,
    "fin_trend_mom_staged" -> finTrendMomSql,
    "fin_yoy_trend" -> finYoyTrendSql,
    "fin_qoq_trend" -> finQoqTrendSql,
    "fin_forecast_linear" -> finForecastLinearSql,
    "fin_forecast_eval" -> finForecastEvalSql,
    "fin_forecast_eval_staged" -> finForecastEvalSql,
    "fin_ytd_cumulative" -> finYtdCumulativeSql,
    "fin_ytd_staged" -> finYtdCumulativeSql,
    "fin_rolling_3m" -> finRolling3mSql,
    "fin_ewma" -> finEwmaSql,
    "fin_forecast_brown" -> finForecastBrownSql,
    "fin_benford" -> finBenfordSql,
    "fin_dept_correlation" -> finDeptCorrelationSql,
    "fin_anomaly_zscore" -> finAnomalyZscoreSql,
    "fin_anomaly_mad" -> finAnomalyMadSql,
    "fin_anomaly_mad_staged" -> finAnomalyMadSql,
    "fin_cusum" -> finCusumSql,
    "fin_cusum_staged" -> finCusumSql,
    "fin_reconciliation" -> finReconciliationSql,
    "fin_balance_sheet" -> finBalanceSheetSql,
    "fin_bs_ratios" -> finBsRatiosSql,
    "fin_header_detect" -> finHeaderDetectSql,
    "fin_load_audit" -> finLoadAuditSql
  )
}
