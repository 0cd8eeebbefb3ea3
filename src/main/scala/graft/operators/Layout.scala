package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Staged, Tables}

/** Data-LAYOUT analytics (SURVEY.md §2H extension): at 100 TB the
  * cheapest scan is the one zone maps skip, and the layout DECISION —
  * which clustering key order to rewrite a table in — deserves the
  * same measure-first treatment as an index choice (ann_recall_report,
  * dedup_band_eval). This module prices a Z-order (Morton-curve)
  * rewrite of lineitem against its natural arrival order BEFORE anyone
  * pays for the rewrite: per candidate file, the (partkey, suppkey)
  * zone-map ranges each layout would produce, and the expected
  * fraction of files a point lookup on either dimension still has to
  * scan. Z-ordering is public art (Morton 1966; used by every
  * lakehouse table format's clustering/OPTIMIZE story); the report
  * shape — publish min/max zone maps per file and derive skip rates —
  * is exactly what parquet row-group statistics give a reader for
  * free.
  *
  * Exactness: the 16-bit grid normalization is an integer floor
  * division over exact integer extrema ((v−mn)·65535 DIV (mx−mn)),
  * the Morton interleave is a 32-term integer bit sum, and every
  * reported range bound is an integer min/max — the whole report is
  * integer-exact cross-engine; the two scan-fraction divisions in
  * layout_skip_eval are single divisions of exact integer sums.
  *
  * Scale: ONE fact scan; extrema are a 1-row aggregate broadcast back
  * (bounded state — the dim-extrema discipline from ann_sq_topk); the
  * bucket report is one map-side-combined aggregate on (layout,
  * bucket) — 2·Files groups regardless of corpus size. No window, no
  * sort, no data-scaled broadcast. A production rewrite would
  * `repartitionByRange(z)` + sortWithinPartitions and let the writer
  * cut files; the report buckets by fixed-width z / orderkey ranges
  * instead of rank so the mirror stays window-free and the plan
  * shuffles 128 aggregate rows, not the fact (the bound/report split:
  * deciding needs statistics, not the rewrite itself). */
object Layout {

  /** Candidate file count per layout (64 files ⇒ z-bucket = top 6
    * Morton bits = an 8×8 grid cell over the two key ranges). */
  private val Files = 64

  // The 32-term Morton interleave of two 16-bit grids — bit i of x
  // lands at 2i, bit i of y at 2i+1. Generated from the same loop for
  // both engines (the jitterSqlExpr drift rule); Spark SQL spells the
  // shift `shiftright()` with L-suffixed long literals, DuckDB `>>`.
  private val zSpark: String =
    (0 until 16).map { i =>
      s"((shiftright(x, $i) & 1) * ${1L << (2 * i)}L) + " +
        s"((shiftright(y, $i) & 1) * ${1L << (2 * i + 1)}L)"
    }.mkString(" + ")
  private val zDuck: String =
    (0 until 16).map { i =>
      s"(((x >> $i) & 1) * ${1L << (2 * i)}) + " +
        s"(((y >> $i) & 1) * ${1L << (2 * i + 1)})"
    }.mkString(" + ")

  /** Per-row (p, s, zorder-bucket, natural-bucket) over the fact. */
  private def bucketed(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(
      col("l_orderkey").as("ok"), col("l_partkey").as("p"),
      col("l_suppkey").as("s"))
    val ext = li.agg(
      min(col("p")).as("pmn"), max(col("p")).as("pmx"),
      min(col("s")).as("smn"), max(col("s")).as("smx"),
      min(col("ok")).as("omn"), max(col("ok")).as("omx"))
    li.crossJoin(broadcast(ext))
      .withColumn("x", expr(
        "CASE WHEN pmx = pmn THEN 0L ELSE ((p - pmn) * 65535L) DIV (pmx - pmn) END"))
      .withColumn("y", expr(
        "CASE WHEN smx = smn THEN 0L ELSE ((s - smn) * 65535L) DIV (smx - smn) END"))
      .withColumn("zb", expr(s"CAST(shiftright($zSpark, 26) AS INT)"))
      .withColumn("nb", expr(
        s"CAST(least(${Files - 1}L, ((ok - omn) * $Files) DIV (omx - omn + 1)) AS INT)"))
  }

  /** layout_zorder: the zone-map report — per (layout, file-bucket)
    * the row count and the (partkey, suppkey) min/max a parquet footer
    * would carry. The natural layout (bucketed by arrival order ≈
    * orderkey ranges) shows near-full-range spans on BOTH dims in
    * EVERY file (nothing skips); the Z-order layout localizes both
    * dims at once (each bucket an 8×8 grid cell ⇒ ~1/8 of each range),
    * which is the whole point of multi-dim clustering over single-key
    * sorting. LayoutSpec pins the aggregate span reduction on both
    * dims; layout_skip_eval prices it as a scan fraction. */
  def layoutZorder(spark: SparkSession, dir: String): DataFrame =
    bucketedReport(bucketed(spark, dir))
      .orderBy(col("layout"), col("bucket"))

  private def bucketedReport(b: DataFrame): DataFrame =
    b.select(col("p"), col("s"), explode(array(
        struct(lit("natural").as("layout"), col("nb").as("bucket")),
        struct(lit("zorder").as("layout"), col("zb").as("bucket")))).as("lb"))
      .groupBy(col("lb.layout").as("layout"), col("lb.bucket").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("p")).as("p_min"), max(col("p")).as("p_max"),
        min(col("s")).as("s_min"), max(col("s")).as("s_max"))

  /** layout_skip_eval: the decision row — per layout, the file count
    * and the EXPECTED fraction of files a uniformly-drawn point lookup
    * on each dimension must scan under zone-map pruning:
    * Σ_f (span_f + 1) / ((range + 1) · n_files), spans and range exact
    * integers off the same bucket report. The natural layout reads
    * ~1.0 on both dims (every file overlaps every key); the Z-order
    * layout reads ~1/8 on each — one number per layout per dim, the
    * "is the rewrite worth it" answer. */
  def layoutSkipEval(spark: SparkSession, dir: String): DataFrame =
    bucketedReport(bucketed(spark, dir))
      .groupBy(col("layout"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("p_max") - col("p_min") + 1).as("sp"),
        sum(col("s_max") - col("s_min") + 1).as("ss"),
        (max(col("p_max")) - min(col("p_min")) + 1).as("rp"),
        (max(col("s_max")) - min(col("s_min")) + 1).as("rs"))
      .select(col("layout"), col("n_files"),
        (round(col("sp").cast("double") / (col("rp") * col("n_files")), 6) + 0.0)
          .as("scan_frac_partkey"),
        (round(col("ss").cast("double") / (col("rs") * col("n_files")), 6) + 0.0)
          .as("scan_frac_suppkey"))
      .orderBy(col("layout"))

  /** layout_zorder_apply: CLOSE the decision → action loop — actually
    * WRITE the fact in the Z-order layout through a partitioned sink,
    * re-read the files that landed, and report the MEASURED skip
    * fraction from per-file zone-map ranges (min/max of each physical
    * file = exactly what its parquet footer carries) next to
    * layout_skip_eval's prediction: the two rows must agree, and the
    * DuckDB oracle IS the prediction, so "measured ≈ predicted" is the
    * correctness gate itself, not a claim.
    *
    * Layout: rows route to their zb cell (top-6 Morton bits — the same
    * bucket the report predicts), one shuffle task per cell via
    * repartition(Files, zb) (explicit numPartitions, so AQE never
    * coalesces cells together), sorted within partitions by zb, and
    * written partitionBy(zb) — each cell directory gets exactly one
    * file, so per-file stats equal per-bucket stats and the measured
    * row reproduces the predicted one. A multi-file cell (a writer
    * split) would move n_files and the fractions and FAIL the gate —
    * the gate pins the write path, not just the arithmetic.
    *
    * Scale: the write is the honest price of applying a layout (one
    * shuffle + one pass); the re-read aggregates per file with
    * input_file_name() — ONE scan, map-side-combined to ≤ Files
    * groups. The sink lands in the local tmp dir keyed by the input
    * dir (never inside the read-only testdata), and is removed at JVM
    * exit with the staged tables. */
  def layoutZorderApply(spark: SparkSession, dir: String): DataFrame = {
    val sink = Staged.register(s"${System.getProperty("java.io.tmpdir")}/graft_zorder_apply_${java.lang.Integer.toHexString(dir.hashCode)}")
    bucketed(spark, dir).select(col("p"), col("s"), col("zb"))
      .repartition(Files, col("zb"))
      .sortWithinPartitions(col("zb"))
      .write.mode("overwrite").partitionBy("zb").parquet(sink)
    val perFile = spark.read.parquet(sink)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("p")).as("p_min"), max(col("p")).as("p_max"),
        min(col("s")).as("s_min"), max(col("s")).as("s_max"))
    perFile
      .agg(count(lit(1)).as("n_files"),
        sum(col("p_max") - col("p_min") + 1).as("sp"),
        sum(col("s_max") - col("s_min") + 1).as("ss"),
        (max(col("p_max")) - min(col("p_min")) + 1).as("rp"),
        (max(col("s_max")) - min(col("s_min")) + 1).as("rs"))
      .select(lit("zorder").as("layout"), col("n_files"),
        (round(col("sp").cast("double") / (col("rp") * col("n_files")), 6) + 0.0)
          .as("scan_frac_partkey"),
        (round(col("ss").cast("double") / (col("rs") * col("n_files")), 6) + 0.0)
          .as("scan_frac_suppkey"))
  }

  /** Shared mirror chain ending in the per-bucket report `rep` —
    * both oracles compose from this one constant. */
  private val layoutCtes: String =
    s"""lo_li AS (SELECT l_orderkey AS ok, l_partkey AS p, l_suppkey AS s
      |           FROM lineitem),
      |lo_ext AS (SELECT min(p) AS pmn, max(p) AS pmx, min(s) AS smn,
      |                  max(s) AS smx, min(ok) AS omn, max(ok) AS omx
      |           FROM lo_li),
      |lo_g AS (
      |  SELECT p, s, ok, omn, omx,
      |         CASE WHEN pmx = pmn THEN 0
      |              ELSE ((p - pmn) * 65535) // (pmx - pmn) END AS x,
      |         CASE WHEN smx = smn THEN 0
      |              ELSE ((s - smn) * 65535) // (smx - smn) END AS y
      |  FROM lo_li CROSS JOIN lo_ext),
      |lo_b AS (
      |  SELECT p, s,
      |         CAST(($zDuck) >> 26 AS INT) AS zb,
      |         CAST(least(${Files - 1}, ((ok - omn) * $Files) // (omx - omn + 1))
      |              AS INT) AS nb
      |  FROM lo_g),
      |lo_u AS (SELECT 'natural' AS layout, nb AS bucket, p, s FROM lo_b
      |         UNION ALL
      |         SELECT 'zorder' AS layout, zb AS bucket, p, s FROM lo_b),
      |lo_rep AS (
      |  SELECT layout, bucket, count(*) AS n_rows,
      |         min(p) AS p_min, max(p) AS p_max,
      |         min(s) AS s_min, max(s) AS s_max
      |  FROM lo_u GROUP BY layout, bucket)""".stripMargin

  val layoutZorderSql: String =
    s"""WITH $layoutCtes
      |SELECT layout, bucket, n_rows, p_min, p_max, s_min, s_max
      |FROM lo_rep ORDER BY layout, bucket""".stripMargin

  val layoutSkipEvalSql: String =
    s"""WITH $layoutCtes,
      |lo_sum AS (
      |  SELECT layout, count(*) AS n_files,
      |         sum(p_max - p_min + 1) AS sp, sum(s_max - s_min + 1) AS ss,
      |         max(p_max) - min(p_min) + 1 AS rp,
      |         max(s_max) - min(s_min) + 1 AS rs
      |  FROM lo_rep GROUP BY layout)
      |SELECT layout, n_files,
      |       round(CAST(sp AS DOUBLE) / (rp * n_files), 6) + 0.0
      |         AS scan_frac_partkey,
      |       round(CAST(ss AS DOUBLE) / (rs * n_files), 6) + 0.0
      |         AS scan_frac_suppkey
      |FROM lo_sum ORDER BY layout""".stripMargin

  /** The measured row's oracle is the PREDICTED zorder row — the whole
    * point of the apply op: DuckDB derives what the files should carry
    * from the input table alone, and the gate asserts the written
    * files actually carry it. */
  val layoutZorderApplySql: String =
    s"""WITH $layoutCtes,
      |lo_sum AS (
      |  SELECT layout, count(*) AS n_files,
      |         sum(p_max - p_min + 1) AS sp, sum(s_max - s_min + 1) AS ss,
      |         max(p_max) - min(p_min) + 1 AS rp,
      |         max(s_max) - min(s_min) + 1 AS rs
      |  FROM lo_rep WHERE layout = 'zorder' GROUP BY layout)
      |SELECT layout, n_files,
      |       round(CAST(sp AS DOUBLE) / (rp * n_files), 6) + 0.0
      |         AS scan_frac_partkey,
      |       round(CAST(ss AS DOUBLE) / (rs * n_files), 6) + 0.0
      |         AS scan_frac_suppkey
      |FROM lo_sum""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "layout_zorder" -> (layoutZorder _),
    "layout_skip_eval" -> (layoutSkipEval _),
    "layout_zorder_apply" -> (layoutZorderApply _)
  )

  def oracles: Map[String, String] = Map(
    "layout_zorder" -> layoutZorderSql,
    "layout_skip_eval" -> layoutSkipEvalSql,
    "layout_zorder_apply" -> layoutZorderApplySql
  )
}
