package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Financial.{cents, dollars}
import graft.sources.Tables
import graft.warehouse.Warehouse

/** Downstream-analytics operators the warehouse exists to feed
  * (reference `docs/architecture_overview.md`: "reporting, trend
  * analysis, reconciliation, and downstream analytics") — the behavioral
  * and reporting shapes beyond plain aggregation. All oracled. */
object Analytics {

  // --------------------------------------------------------------- cube_agg
  /** CUBE over (status, priority): all four grouping-set combinations in
    * one Expand+Aggregate — one shuffle for the whole lattice. */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(dollars(sum(cents(col("o_totalprice")))).as("sum_price"),
        count(lit(1)).as("n"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("sum_price"), col("n"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))

  val cubeAggSql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
      |       COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
      |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_price,
      |  count(*) AS n
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  // ------------------------------------------------------------ rank_stats
  /** Distribution windows: ntile/cume_dist/percent_rank per status. The
    * full (price, orderkey) ordering makes every rank deterministic.
    * Scale caveat: the partition key has 3 values, so each window is a
    * third of the table on one task — exact rank stats over low-
    * cardinality partitions don't survive 100x; at that scale use
    * approx_percentiles (sketch) or re-key to a finer partition. */
  def rankStats(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
        ntile(4).over(w).as("quartile"),
        cume_dist().over(w).as("cume"),
        percent_rank().over(w).as("prank"))
      .orderBy(col("o_orderstatus"), col("o_orderkey"))
  }

  val rankStatsSql: String =
    """SELECT o_orderstatus, o_orderkey, o_totalprice,
      |  ntile(4) OVER w AS quartile,
      |  cume_dist() OVER w AS cume,
      |  percent_rank() OVER w AS prank
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderstatus, o_orderkey""".stripMargin

  // ---------------------------------------------- rank_stats_scalable
  /** The same rows as rank_stats, computed without any window partition
    * wider than ~1/BUCKETS of a status — the 100x-safe variant.
    *
    * rank_stats puts each o_orderstatus (3 values) in ONE window
    * partition: a third of the table sorts on a single task, which at
    * 100x the data is a straggler or an OOM. Here the global rank
    * decomposes into two passes over fine partitions:
    *
    *  1. bucket each row by equi-width price range (BUCKETS per status;
    *     on a cluster set BUCKETS ~ 2-4x cores/statuses, so the largest
    *     task holds ~n/BUCKETS rows instead of n);
    *  2. per-(status, bucket) histogram (3*BUCKETS rows — driver-scale)
    *     gives every bucket its global rank offset and each status its
    *     total n via tiny windows over the histogram itself;
    *  3. row_number() within (status, bucket) + bucket offset = exact
    *     global rank; ntile/cume_dist/percent_rank then follow from
    *     their closed-form definitions on (rank, n) — the order key
    *     (price, orderkey) is unique, so rank has no tie classes.
    *
    * Skewed distributions make equi-width buckets uneven; at scale the
    * boundaries would come from approx_percentile (equi-depth) instead —
    * the merge logic is identical. Exactness means the DuckDB oracle is
    * the SAME SQL as rank_stats: bucketing must not change one bit. */
  def rankStatsScalable(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"))
    val rng = o.agg(min(col("o_totalprice")).as("mn"), max(col("o_totalprice")).as("mx"))
    val bucketed = o.crossJoin(broadcast(rng))
      .withColumn("bkt", ExactRank.eqWidthBucket(col("o_totalprice"), col("mn"), col("mx")))
      .drop("mn", "mx")
    rankStatsFrom(bucketed)
  }

  /** rank_stats' columns from any price-monotone `bkt` column through
    * ExactRank's (status, bkt) cascade: any bucketing that is a
    * non-decreasing function of the order key's leading column yields
    * bit-identical ranks — which is why both bucketing strategies share
    * rank_stats' oracle SQL verbatim. */
  private def rankStatsFrom(bucketed: DataFrame): DataFrame =
    ExactRank.rank(bucketed, Seq("o_orderstatus"), "bkt",
        Seq(col("o_totalprice"), col("o_orderkey")))
      .withColumn("quartile", ExactRank.ntile(4))
      .withColumn("cume", col("rk").cast("double") / col("n").cast("double"))
      .withColumn("prank", when(col("n") === 1, 0.0)
        .otherwise((col("rk") - 1).cast("double") / (col("n") - 1).cast("double")))
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
        col("quartile"), col("cume"), col("prank"))
      .orderBy(col("o_orderstatus"), col("o_orderkey"))

  // ---------------------------------------------- rank_stats_eqdepth
  /** rank_stats_scalable's own Scaladoc names the skew fix — equi-DEPTH
    * buckets from approx_percentile — and this variant implements it:
    * boundaries are the (1..B-1)/B approximate quantiles (ONE sketch
    * aggregate, broadcast back as a 1-row array), and a row's bucket is
    * the count of boundaries strictly below its price. Equi-width
    * buckets degenerate under skew (a heavy value range concentrates
    * rows in one bucket = one straggler task); equi-depth holds every
    * bucket at ~n/B rows no matter the distribution — the shape that
    * actually survives a skewed 100 TB.
    *
    * Exactness does NOT depend on the sketch: bucketing is a
    * non-decreasing pure function of price (equal prices share a
    * bucket), so offsets + within-bucket ranks reproduce the global
    * rank bit-for-bit wherever the approximate boundaries land — the
    * oracle is rank_stats' SQL verbatim, same as the equi-width
    * variant. Degenerate case (all boundaries equal, e.g. constant
    * price) collapses to one bucket — correct, merely unbalanced. */
  def rankStatsEqdepth(spark: SparkSession, dir: String): DataFrame = {
    val B = 64
    val o = Tables.orders(spark, dir)
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"))
    val probs = array((1 until B).map(i => lit(i.toDouble / B)): _*)
    val bnds = o.agg(
      percentile_approx(col("o_totalprice"), probs, lit(10000)).as("bnds"))
    val bucketed = o.crossJoin(broadcast(bnds))
      .withColumn("bkt",
        size(filter(col("bnds"), b => b < col("o_totalprice"))).cast("long"))
      .drop("bnds")
    rankStatsFrom(bucketed)
  }

  // ---------------------------------------------------------- events_funnel
  /** Conversion funnel per user: first view → first click after it →
    * first purchase after that. Three aggregations + two joins, all
    * keyed on user_id — one logical shuffle key end to end. */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame =
    funnelFrame(spark, dir)
      .select(col("user_id"), col("first_view_us"), col("first_click_us"),
        col("first_purchase_us"),
        when(col("first_purchase_us").isNotNull, 3)
          .when(col("first_click_us").isNotNull, 2)
          .otherwise(1).as("stage"))
      .orderBy(col("user_id"))

  /** The per-user anchor frame (user_id, first_view_us, first_click_us,
    * first_purchase_us), unordered — shared by events_funnel,
    * events_funnel_time and EventStreams.streamFunnelDeltas (the Spark
    * face of funnelCtes' `fun`). */
  private[graft] def funnelFrame(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsUs(spark, dir)
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("first_view_us"))
    val clicks = e.filter(col("event_type") === "click")
      .join(views, Seq("user_id"))
      .filter(col("ts_us") >= col("first_view_us"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("first_click_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .join(clicks, Seq("user_id"))
      .filter(col("ts_us") >= col("first_click_us"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("first_purchase_us"))
    views.join(clicks, Seq("user_id"), "left")
      .join(purchases, Seq("user_id"), "left")
  }

  /** The funnel per-user derivation as a shared CTE chain — ONE Scala
    * constant consumed by eventsFunnelSql, eventsFunnelTimeSql AND
    * EventStreams.streamFunnelDeltasSql (the ngramDupsCtes oracle-drift
    * rule: oracles that must agree on a sub-derivation share its SQL
    * verbatim). */
  private[graft] val funnelCtes: String =
    """e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |v AS (SELECT user_id, min(ts_us) AS first_view_us FROM e WHERE event_type='view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts_us) AS first_click_us
      |      FROM e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type='click' AND e.ts_us >= v.first_view_us GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts_us) AS first_purchase_us
      |      FROM e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type='purchase' AND e.ts_us >= c.first_click_us GROUP BY e.user_id),
      |fun AS (SELECT v.user_id, v.first_view_us, c.first_click_us, p.first_purchase_us
      |        FROM v LEFT JOIN c ON v.user_id = c.user_id
      |               LEFT JOIN p ON v.user_id = p.user_id)""".stripMargin

  val eventsFunnelSql: String =
    s"""WITH $funnelCtes
      |SELECT user_id, first_view_us, first_click_us, first_purchase_us,
      |       CASE WHEN first_purchase_us IS NOT NULL THEN 3
      |            WHEN first_click_us IS NOT NULL THEN 2 ELSE 1 END AS stage
      |FROM fun ORDER BY user_id""".stripMargin

  // ----------------------------------------------------- events_funnel_time
  /** Time-to-convert panel over the funnel: per step transition
    * (view→click, click→purchase, view→purchase) the source population,
    * conversions, conversion rate, and the average/min/max seconds to
    * convert — the latency read next to events_funnel's stage counts
    * (is the drop-off because users leave, or because the step is
    * slow?). Medians are deliberately NOT emitted: an exact per-
    * transition median is a quantile over 3 corpus-scaled groups — the
    * corpus_ccnet_buckets grouped-exact-ntile cascade is the shape to
    * reach for if one is ever needed.
    *
    * Exactness: time deltas are exact integer µs; their sums accumulate
    * in DECIMAL(38,0)/HUGEINT (a µs delta spans years ≈ 3·10¹³ — a
    * bigint sum would overflow past ~3·10⁵ converting users at 100×);
    * rate and avg are each ONE IEEE division of two identically-cast
    * exact integers, min/max one division by the 10⁶ constant.
    *
    * Scale: consumes the registered funnel derivation (one user_id
    * shuffle end to end) and adds ONE map-side-combined global
    * aggregate collapsing to a single row — the 3-row panel explodes
    * from structs driver-free (the event_attribution shape). */
  def eventsFunnelTime(spark: SparkSession, dir: String): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    val vc = col("first_click_us") - col("first_view_us")
    val cp = col("first_purchase_us") - col("first_click_us")
    val vp = col("first_purchase_us") - col("first_view_us")
    val a = eventsFunnel(spark, dir).agg(
      count(col("first_view_us")).as("n_v"),
      count(col("first_click_us")).as("n_c"),
      count(col("first_purchase_us")).as("n_p"),
      sum(d(vc)).as("s_vc"), min(vc).as("mn_vc"), max(vc).as("mx_vc"),
      sum(d(cp)).as("s_cp"), min(cp).as("mn_cp"), max(cp).as("mx_cp"),
      sum(d(vp)).as("s_vp"), min(vp).as("mn_vp"), max(vp).as("mx_vp"))
    def leg(step: String, nSrc: Column, nConv: Column,
            s: Column, mn: Column, mx: Column): Column =
      struct(lit(step).as("step"), nSrc.as("n_source"), nConv.as("n_converted"),
        s.as("s"), mn.as("mn"), mx.as("mx"))
    a.select(explode(array(
        leg("1_view_to_click", col("n_v"), col("n_c"),
          col("s_vc"), col("mn_vc"), col("mx_vc")),
        leg("2_click_to_purchase", col("n_c"), col("n_p"),
          col("s_cp"), col("mn_cp"), col("mx_cp")),
        leg("3_view_to_purchase", col("n_v"), col("n_p"),
          col("s_vp"), col("mn_vp"), col("mx_vp")))).as("r"))
      .select(col("r.step").as("step"), col("r.n_source").as("n_source"),
        col("r.n_converted").as("n_converted"),
        when(col("r.n_source") === 0, lit(null).cast("double"))
          .otherwise(round(col("r.n_converted").cast("double")
            / col("r.n_source").cast("double"), 6) + 0.0).as("conv_rate"),
        (round(col("r.s").cast("double")
          / (col("r.n_converted") * lit(1000000L)).cast("double"), 6) + 0.0)
          .as("avg_s"),
        (round(col("r.mn").cast("double") / 1000000.0, 6) + 0.0).as("min_s"),
        (round(col("r.mx").cast("double") / 1000000.0, 6) + 0.0).as("max_s"))
      .orderBy(col("step"))
  }

  val eventsFunnelTimeSql: String =
    s"""WITH $funnelCtes,
      |a AS (
      |  SELECT count(first_view_us) AS n_v, count(first_click_us) AS n_c,
      |         count(first_purchase_us) AS n_p,
      |         sum(CAST(first_click_us - first_view_us AS HUGEINT)) AS s_vc,
      |         min(first_click_us - first_view_us) AS mn_vc,
      |         max(first_click_us - first_view_us) AS mx_vc,
      |         sum(CAST(first_purchase_us - first_click_us AS HUGEINT)) AS s_cp,
      |         min(first_purchase_us - first_click_us) AS mn_cp,
      |         max(first_purchase_us - first_click_us) AS mx_cp,
      |         sum(CAST(first_purchase_us - first_view_us AS HUGEINT)) AS s_vp,
      |         min(first_purchase_us - first_view_us) AS mn_vp,
      |         max(first_purchase_us - first_view_us) AS mx_vp
      |  FROM fun),
      |u AS (
      |  SELECT '1_view_to_click' AS step, n_v AS n_source, n_c AS n_converted,
      |         s_vc AS s, mn_vc AS mn, mx_vc AS mx FROM a
      |  UNION ALL
      |  SELECT '2_click_to_purchase', n_c, n_p, s_cp, mn_cp, mx_cp FROM a
      |  UNION ALL
      |  SELECT '3_view_to_purchase', n_v, n_p, s_vp, mn_vp, mx_vp FROM a)
      |SELECT step, n_source, n_converted,
      |  CASE WHEN n_source = 0 THEN NULL
      |       ELSE round(CAST(n_converted AS DOUBLE)/CAST(n_source AS DOUBLE), 6)
      |            + 0.0 END AS conv_rate,
      |  round(CAST(s AS DOUBLE)/CAST(n_converted * 1000000 AS DOUBLE), 6) + 0.0 AS avg_s,
      |  round(CAST(mn AS DOUBLE)/1000000.0, 6) + 0.0 AS min_s,
      |  round(CAST(mx AS DOUBLE)/1000000.0, 6) + 0.0 AS max_s
      |FROM u ORDER BY step""".stripMargin

  // ------------------------------------------------------- retention_cohort
  /** Cohort retention: customers grouped by first-order month, distinct
    * active customers per (cohort, months-since). Classic warehouse
    * report; two shuffles (per-customer cohort, then the matrix). */
  def retentionCohort(spark: SparkSession, dir: String): DataFrame = {
    val monthId = (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("month_id")
    val e = Tables.orders(spark, dir).select(col("o_custkey"), monthId)
    val cohorts = e.groupBy(col("o_custkey")).agg(min(col("month_id")).as("cohort_id"))
    e.join(cohorts, Seq("o_custkey"))
      .groupBy(col("cohort_id"), (col("month_id") - col("cohort_id")).as("months_since"))
      .agg(countDistinct(col("o_custkey")).as("active_users"))
      .orderBy(col("cohort_id"), col("months_since"))
  }

  val retentionCohortSql: String =
    """WITH e AS (SELECT o_custkey, year(o_orderdate) * 12 + month(o_orderdate) - 1 AS month_id
      |           FROM orders),
      |c AS (SELECT o_custkey, min(month_id) AS cohort_id FROM e GROUP BY o_custkey)
      |SELECT c.cohort_id, e.month_id - c.cohort_id AS months_since,
      |       count(DISTINCT e.o_custkey) AS active_users
      |FROM e JOIN c ON e.o_custkey = c.o_custkey
      |GROUP BY c.cohort_id, e.month_id - c.cohort_id
      |ORDER BY cohort_id, months_since""".stripMargin

  // --------------------------------------------------- events_retention_curve
  /** D1..D30 daily retention curve — the product-analytics standard
    * next to the monthly retention_cohort triangle (orders): per day
    * offset d, the users active EXACTLY d days after their first event
    * over the users OBSERVABLE at d (first day + d inside the corpus —
    * without the censoring denominator, late cohorts drag every D-N
    * number down, the same bias customer_survival's KM handles for
    * churn). retention_cohort answers "how does each cohort age";
    * this answers "what is THE D1/D7/D30" with all cohorts pooled.
    *
    * Exactness: days are exact integer epoch-day indices (µs DIV
    * 86400000000); numerator/denominator are exact integer counts; the
    * rate is ONE unrounded exactly-rounded division (user-count
    * denominators hit exact 1e-6 round-half boundaries — the fin_cusum
    * lesson — so the raw quotient is the cross-engine-stable output).
    *
    * Scale: one distinct (user, day) shuffle (STAGED: feeds the
    * first-day aggregate, the offset join, and the max-day scalar), one
    * user-keyed min, a broadcast 1-row max; the denominator works on
    * the ≤|days| first-day histogram × a 30-row spine. */
  def eventsRetentionCurve(spark: SparkSession, dir: String): DataFrame =
    eventsRetentionCurveFrom(Tables.eventsUs(spark, dir))

  private[graft] def eventsRetentionCurveFrom(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.stageBarrier
    val spark = events.sparkSession
    val ud = stageBarrier(events
      .select(col("user_id"), expr("ts_us DIV 86400000000").as("day"))
      .distinct())
    val fu = stageBarrier(ud.groupBy(col("user_id")).agg(min(col("day")).as("fd")))
    val mx = ud.agg(max(col("day")).as("maxd"))
    val num = ud.join(fu, Seq("user_id"))
      .select((col("day") - col("fd")).as("d"))
      .filter(col("d").between(1, 30))
      .groupBy(col("d")).agg(count(lit(1)).as("n_ret"))
    val fh = fu.groupBy(col("fd")).agg(count(lit(1)).as("n"))
    val spine = spark.range(1, 31).toDF("d")
    val den = spine.crossJoin(broadcast(mx))
      .join(fh, col("fd") <= col("maxd") - col("d"))
      .groupBy(col("d")).agg(sum(col("n")).as("n_obs"))
    spine.join(num, Seq("d"), "left").join(den, Seq("d"), "left")
      .select(col("d").cast("int").as("day_offset"),
        coalesce(col("n_ret"), lit(0L)).as("n_retained"),
        coalesce(col("n_obs"), lit(0L)).as("n_observable"),
        when(coalesce(col("n_obs"), lit(0L)) === 0, lit(null).cast("double"))
          .otherwise(coalesce(col("n_ret"), lit(0L)).cast("double")
            / col("n_obs").cast("double") + 0.0).as("retention"))
      .orderBy(col("day_offset"))
  }

  val eventsRetentionCurveSql: String =
    """WITH rc_ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |              FROM events),
      |rc_fu AS (SELECT user_id, min(day) AS fd FROM rc_ud GROUP BY user_id),
      |rc_mx AS (SELECT max(day) AS maxd FROM rc_ud),
      |rc_num AS (SELECT u.day - f.fd AS d, count(*) AS n_ret
      |           FROM rc_ud u JOIN rc_fu f USING (user_id)
      |           WHERE u.day - f.fd BETWEEN 1 AND 30 GROUP BY d),
      |rc_fh AS (SELECT fd, count(*) AS n FROM rc_fu GROUP BY fd),
      |rc_den AS (SELECT t.d, CAST(sum(h.n) AS BIGINT) AS n_obs
      |           FROM range(1, 31) t(d)
      |           JOIN rc_fh h ON h.fd <= (SELECT maxd FROM rc_mx) - t.d
      |           GROUP BY t.d)
      |SELECT CAST(t.d AS INT) AS day_offset,
      |       CAST(coalesce(n_ret, 0) AS BIGINT) AS n_retained,
      |       coalesce(n_obs, 0) AS n_observable,
      |       CASE WHEN coalesce(n_obs, 0) = 0 THEN NULL
      |            ELSE CAST(coalesce(n_ret, 0) AS DOUBLE)
      |                 / CAST(n_obs AS DOUBLE) + 0.0 END AS retention
      |FROM range(1, 31) t(d)
      |LEFT JOIN rc_num ON rc_num.d = t.d
      |LEFT JOIN rc_den ON rc_den.d = t.d
      |ORDER BY day_offset""".stripMargin

  // -------------------------------------------------------- fin_sparse_fill
  /** Month-gap filling: every (department, GL, year) gets all 12 months,
    * zero where the statements had no rows — the shape reporting needs
    * for dense time series. Scale: the dimension frame is tiny (distinct
    * triples x 12), the actuals aggregate is map-side combined, and the
    * join is broadcast-able. */
  def finSparseFill(spark: SparkSession, dir: String): DataFrame =
    monthSpine(spark, dir)
      .select(col("department"), col("gl_code"), col("year"), col("month"),
        dollars(coalesce(col("tc"), lit(0L))).as("total"),
        col("tc").isNull.as("filled"))
      .orderBy(col("department"), col("gl_code"), col("year"), col("month"))

  /** The dense month spine fin_sparse_fill and fin_interpolate share:
    * every (department, GL, year) × months 1-12, left-joined to the
    * monthly cents actuals (`tc`, null in silent months). The actuals and
    * the dimension frame both read the statements derivation; staged
    * (factStaged), it runs once for the two of them. */
  private def monthSpine(spark: SparkSession, dir: String): DataFrame = {
    val f = Warehouse.factStaged(
      spark, dir, "department", "gl_code", "year", "month", "amount")
    val actual = Warehouse.rollupCents(f, Warehouse.DeptGlMonth)
    val dims = f.select(col("department"), col("gl_code"), col("year")).distinct()
      .withColumn("month", explode(sequence(lit(1), lit(12))))
    dims.join(actual, Seq("department", "gl_code", "year", "month"), "left")
  }

  /** monthSpine's `actual` and `dims` in SQL. */
  private val monthSpineCtes: String =
    s"""${Warehouse.factCtes},
       |${Warehouse.rollupCentsCte("actual", "fin_fact")},
       |dims AS (
       |  SELECT department, gl_code, year, m.month
       |  FROM (SELECT DISTINCT department, gl_code, year FROM fin_fact)
       |  CROSS JOIN (SELECT CAST(i AS INT) AS month FROM range(1, 13) t(i)) m)""".stripMargin

  val finSparseFillSql: String =
    s"""WITH $monthSpineCtes
       |SELECT d.department, d.gl_code, d.year, d.month,
       |       CAST(COALESCE(a.tc, 0) AS DOUBLE)/100.0 AS total,
       |       a.tc IS NULL AS filled
       |FROM dims d LEFT JOIN actual a
       |  ON d.department = a.department AND d.gl_code = a.gl_code
       | AND d.year = a.year AND d.month = a.month
       |ORDER BY d.department, d.gl_code, d.year, d.month""".stripMargin

  // --------------------------------------------------------- fin_interpolate
  /** fin_sparse_fill's analytical twin: silent months take the LINEAR
    * INTERPOLATION between the nearest observed months instead of zero
    * (zero-fill is right for "no bookings"; interpolation is right for
    * a metric that kept accruing between statements). Same dense month
    * spine; prev/next observed (m_idx, cents) ride last/first
    * IGNORE-NULLS window frames over one (department, GL) shuffle;
    * the interpolated value is prev + ((next−prev)·gap_pos)/gap — the
    * numerator exact BIGINT, ONE division, one rounded output division,
    * so the oracle mirrors it bit-for-bit. Months outside the observed
    * range extrapolate flat from the nearest edge (kind='edge'). */
  def finInterpolate(spark: SparkSession, dir: String): DataFrame = {
    val spine = monthSpine(spark, dir)
      .withColumn("m_idx", col("year") * 12 + col("month") - 1)
    val w = Window.partitionBy(col("department"), col("gl_code")).orderBy(col("m_idx"))
    val before = w.rowsBetween(Window.unboundedPreceding, -1)
    val after = w.rowsBetween(1, Window.unboundedFollowing)
    val obs = when(col("tc").isNotNull, struct(col("m_idx").as("i"), col("tc").as("c")))
    val withNbr = spine
      .withColumn("prev", last(obs, ignoreNulls = true).over(before))
      .withColumn("next", first(obs, ignoreNulls = true).over(after))
    val interp = col("prev.c").cast("double") +
      ((col("next.c") - col("prev.c")) * (col("m_idx") - col("prev.i"))).cast("double") /
        (col("next.i") - col("prev.i"))
    val valueC = when(col("tc").isNotNull, col("tc").cast("double"))
      .when(col("prev").isNotNull && col("next").isNotNull, interp)
      .otherwise(coalesce(col("prev.c"), col("next.c")).cast("double"))
    withNbr.select(col("department"), col("gl_code"), col("year"), col("month"),
        (round(valueC / 100.0, 6) + 0.0).as("total"),
        when(col("tc").isNotNull, "actual")
          .when(col("prev").isNotNull && col("next").isNotNull, "interpolated")
          .otherwise("edge").as("kind"))
      .orderBy(col("department"), col("gl_code"), col("year"), col("month"))
  }

  val finInterpolateSql: String =
    s"""WITH $monthSpineCtes,
       |spine AS (
       |  SELECT d.department, d.gl_code, d.year, d.month, a.tc,
       |         d.year*12 + d.month - 1 AS m_idx
       |  FROM dims d LEFT JOIN actual a
       |    ON d.department = a.department AND d.gl_code = a.gl_code
       |   AND d.year = a.year AND d.month = a.month),
       |nbr AS (
       |  SELECT *,
       |    last_value(CASE WHEN tc IS NOT NULL
       |                    THEN struct_pack(i := m_idx, c := tc) END IGNORE NULLS)
       |      OVER (PARTITION BY department, gl_code ORDER BY m_idx
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev,
       |    first_value(CASE WHEN tc IS NOT NULL
       |                     THEN struct_pack(i := m_idx, c := tc) END IGNORE NULLS)
       |      OVER (PARTITION BY department, gl_code ORDER BY m_idx
       |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next
       |  FROM spine)
       |SELECT department, gl_code, year, month,
       |       round(CASE
       |         WHEN tc IS NOT NULL THEN CAST(tc AS DOUBLE)
       |         WHEN prev IS NOT NULL AND next IS NOT NULL THEN
       |           CAST(prev.c AS DOUBLE)
       |             + CAST((next.c - prev.c) * (m_idx - prev.i) AS DOUBLE)
       |               / (next.i - prev.i)
       |         ELSE CAST(COALESCE(prev.c, next.c) AS DOUBLE)
       |       END / 100.0, 6) + 0.0 AS total,
       |       CASE WHEN tc IS NOT NULL THEN 'actual'
       |            WHEN prev IS NOT NULL AND next IS NOT NULL THEN 'interpolated'
       |            ELSE 'edge' END AS kind
       |FROM nbr
       |ORDER BY department, gl_code, year, month""".stripMargin

  // --------------------------------------------------------- scd2_intervals
  /** SCD2 dimension versioning from a change stream: collapse each
    * user's consecutive runs of the same attribute (event_type here
    * stands in for any tracked dimension attribute) into validity
    * intervals [valid_from, valid_to), open-ended on the current row —
    * the standard type-2 slowly-changing-dimension build from CDC-style
    * events.
    *
    * Scale: both windows (the lag run-break detection and the
    * lead/row_number interval stitch) partition on the same fine-grained
    * user_id key with the same ordering, so the whole operator is ONE
    * shuffle and the second window reuses the first's sort. No state
    * grows with history length beyond the rows themselves. */
  /** The SCD2 interval build on any change frame with (user_id,
    * event_id, ts_us, event_type) — shared by scd2_intervals (full
    * build) and scd2_merge (per-user incremental rebuild). */
  private def scd2IntervalsFrom(e: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    e.withColumn("prev_attr", lag(col("event_type"), 1).over(w))
      .filter(col("prev_attr").isNull || col("prev_attr") =!= col("event_type"))
      .select(col("user_id"), col("event_type").as("attr"),
        col("ts_us").as("valid_from_us"),
        lead(col("ts_us"), 1).over(w).as("valid_to_us"),
        row_number().over(w).as("version"),
        lead(col("ts_us"), 1).over(w).isNull.as("is_current"))
  }

  def scd2Intervals(spark: SparkSession, dir: String): DataFrame =
    scd2IntervalsFrom(Tables.eventsUs(spark, dir))
      .orderBy(col("user_id"), col("version"))

  val scd2IntervalsSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |ch AS (SELECT *, lag(event_type) OVER w AS prev_attr FROM e
      |       WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
      |SELECT user_id, event_type AS attr, ts_us AS valid_from_us,
      |       lead(ts_us) OVER w AS valid_to_us,
      |       CAST(row_number() OVER w AS INT) AS version,
      |       lead(ts_us) OVER w IS NULL AS is_current
      |FROM ch WHERE prev_attr IS NULL OR prev_attr <> event_type
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
      |ORDER BY user_id, version""".stripMargin

  // ------------------------------------------------------------- scd2_merge
  /** Incremental SCD2 maintenance — the MERGE a nightly dimension load
    * runs instead of rebuilding history: split the change stream at a
    * deterministic threshold (the last ~10% of the observed time range
    * is "tonight's batch"), keep every UNTOUCHED user's stored
    * intervals as-is, and rebuild intervals ONLY for users present in
    * the batch (their full raw history re-collapsed — late attribute
    * flips can re-stitch any of their runs, so per-user rebuild is the
    * correct minimal scope). Registered correctness contract: the
    * merged result must equal the from-scratch scd2_intervals build
    * row-for-row — the oracle IS scd2_intervals' SQL.
    *
    * Scale: the work that scales with the CORPUS (untouched users) is a
    * pass-through — in production those rows come straight from the
    * stored dimension table (user-bucketed, partition-pruned, zero
    * recompute); only batch-user history re-scans, so nightly cost
    * tracks batch size, not history size. In-query the "stored" side is
    * derived once (no stored state at the gate — the fin_trend_mom vs
    * _staged convention); the tagged frame stages ONCE for its three
    * consumers (batch-user probe, old filter, affected-history semi
    * join); `affected` is batch-sized and data-scaled, so the semi join
    * is a plain shuffle join, never a broadcast hint. */
  def scd2Merge(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.stageBarrier
    val ev = Tables.eventsUs(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
    // integer DIV split point; the merge ≡ full-rebuild contract holds
    // for ANY partition of events into (stored, batch), so the split
    // only shapes the work distribution. The gate corpus has few,
    // always-active users (every user has events in any time window),
    // so the batch is the last-10%-window changes of a deterministic
    // THIRD of users — guaranteeing both merge branches (pass-through
    // and rebuild) are exercised at every SF; the spec pins that.
    val thr = ev.agg(
      expr("max(ts_us) - (max(ts_us) - min(ts_us)) DIV 10").as("thr"))
    val tagged = stageBarrier(ev.crossJoin(broadcast(thr))
      .withColumn("is_new",
        col("ts_us") >= col("thr") && pmod(col("user_id"), lit(3L)) === 0L)
      .drop("thr"))
    val affected = tagged.filter(col("is_new")).select(col("user_id")).distinct()
    val untouched = scd2IntervalsFrom(tagged.filter(!col("is_new")))
      .join(affected, Seq("user_id"), "left_anti")
    val rebuilt = scd2IntervalsFrom(tagged.join(affected, Seq("user_id"), "left_semi"))
    untouched.unionByName(rebuilt).orderBy(col("user_id"), col("version"))
  }

  // ------------------------------------------------------------ scd2_asof
  /** Point-in-time lookup over the SCD2 dimension: each user's attribute
    * version as of 2024-01-15 00:00 UTC — the query a training-data or
    * reporting join actually runs against a versioned dimension ("what
    * was the user's state when the example was generated"). An interval
    * containment filter over scd2_intervals: valid_from ≤ T < valid_to
    * (open-ended current rows qualify via null valid_to); at most one
    * row per user by construction.
    *
    * Scale: the filter composes into the interval derivation (same ONE
    * user_id shuffle); against a STORED intervals table this is a scan
    * with both bounds pushed down — and month-partitioned storage makes
    * it partition-prunable. */
  def scd2Asof(spark: SparkSession, dir: String): DataFrame = {
    val tUs = 1705276800000000L // 2024-01-15 00:00:00 UTC, mid-corpus
    scd2Intervals(spark, dir)
      .filter(col("valid_from_us") <= tUs &&
        (col("valid_to_us").isNull || col("valid_to_us") > tUs))
      .select(col("user_id"), col("attr"), col("version"),
        col("valid_from_us"), col("is_current"))
      .orderBy(col("user_id"))
  }

  val scd2AsofSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |ch AS (SELECT *, lag(event_type) OVER w AS prev_attr FROM e
      |       WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |iv AS (
      |  SELECT user_id, event_type AS attr, ts_us AS valid_from_us,
      |         lead(ts_us) OVER w AS valid_to_us,
      |         CAST(row_number() OVER w AS INT) AS version,
      |         lead(ts_us) OVER w IS NULL AS is_current
      |  FROM ch WHERE prev_attr IS NULL OR prev_attr <> event_type
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
      |SELECT user_id, attr, version, valid_from_us, is_current
      |FROM iv
      |WHERE valid_from_us <= 1705276800000000
      |  AND (valid_to_us IS NULL OR valid_to_us > 1705276800000000)
      |ORDER BY user_id""".stripMargin

  // ------------------------------------------------------- event_transitions
  /** First-order Markov transition matrix over user event streams: for
    * every ordered (event_type → next event_type) adjacency, how many
    * transitions occurred and how many distinct users made it. The
    * standard behavioral-analytics "what happens after X" report.
    *
    * Scale: ONE shuffle on user_id (fine-grained key) feeds the lead
    * window; the transition rollup is map-side combined down to at most
    * |types|² rows; countDistinct(user_id) expands within that tiny
    * group space. Ties in ts break on event_id, so the adjacency — and
    * the oracle hash — is deterministic. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    Tables.eventsUs(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n_transitions"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"), col("next_type"))
  }

  val eventTransitionsSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |adj AS (SELECT user_id, event_type,
      |               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS next_type
      |        FROM e)
      |SELECT event_type, next_type, count(*) AS n_transitions,
      |       count(DISTINCT user_id) AS n_users
      |FROM adj WHERE next_type IS NOT NULL
      |GROUP BY event_type, next_type
      |ORDER BY event_type, next_type""".stripMargin

  // ----------------------------------------------------- parts_supply_risk
  /** Sole-source procurement risk: the 25 highest-risk parts by
    * supplier-concentration HHI over realized purchase revenue — the
    * other axis of orders_customer_hhi (customer concentration = demand
    * risk; supplier concentration per part = SUPPLY risk: a part whose
    * spend all flows through one supplier is the part a single vendor
    * failure stops). Ties at HHI = 1 (fully sole-sourced) rank by
    * spend, so the list reads "biggest spend at single-supplier risk".
    *
    * Exactness: per-(part, supplier) revenue in exact integer revUnits
    * (DECIMAL(38,0)/HUGEINT; squares ≤ ~10²⁶, inside 38 digits);
    * HHI = Σs²/S² and top_share = max(s)/S are each ONE cast per
    * factor + unrounded exactly-rounded divisions (the
    * fin_dept_correlation discipline), so ordering and values are
    * bit-identical cross-engine.
    *
    * Scale: one map-side-combined (part, supplier) shuffle, one part
    * rollup, TakeOrdered 25 — no joins, no windows. */
  def partsSupplyRisk(spark: SparkSession, dir: String): DataFrame =
    partsSupplyRiskFrom(Tables.lineitem(spark, dir))

  private[graft] def partsSupplyRiskFrom(lineitem: DataFrame): DataFrame = {
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val ps = lineitem
      .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .agg(sum(d38(Relational.revUnits(col("l_extendedprice"), col("l_discount"))))
        .as("s"), count(lit(1)).as("nl"))
    val sd = (c: Column) => c.cast("double")
    ps.groupBy(col("pk"))
      .agg(count(lit(1)).as("n_suppliers"), sum(col("nl")).as("n_lines"),
        sum(col("s")).as("stot"), sum(d38(col("s")) * d38(col("s"))).as("q"),
        max(col("s")).as("top"))
      .select(col("pk").as("partkey"), col("n_suppliers"), col("n_lines"),
        (sd(col("stot")) / 1000000.0).as("revenue"),
        (sd(col("top")) / sd(col("stot")) + 0.0).as("top_share"),
        (sd(col("q")) / (sd(col("stot")) * sd(col("stot"))) + 0.0).as("hhi"))
      .orderBy(col("hhi").desc, col("revenue").desc, col("partkey"))
      .limit(25)
  }

  val partsSupplyRiskSql: String =
    """WITH sr_ps AS (
      |  SELECT l_partkey AS pk, l_suppkey AS sk,
      |         sum(CAST(CAST(round(l_extendedprice*100) AS BIGINT)
      |             * (10000 - CAST(round(l_discount*10000) AS BIGINT)) AS HUGEINT))
      |           AS s,
      |         count(*) AS nl
      |  FROM lineitem GROUP BY pk, sk),
      |sr_p AS (
      |  SELECT pk, count(*) AS n_suppliers, CAST(sum(nl) AS BIGINT) AS n_lines,
      |         sum(s) AS stot, sum(s*s) AS q, max(s) AS top
      |  FROM sr_ps GROUP BY pk)
      |SELECT pk AS partkey, n_suppliers, n_lines,
      |       CAST(stot AS DOUBLE)/1000000.0 AS revenue,
      |       CAST(top AS DOUBLE)/CAST(stot AS DOUBLE) + 0.0 AS top_share,
      |       CAST(q AS DOUBLE)/(CAST(stot AS DOUBLE)*CAST(stot AS DOUBLE)) + 0.0
      |         AS hhi
      |FROM sr_p
      |ORDER BY hhi DESC, revenue DESC, partkey LIMIT 25""".stripMargin

  // -------------------------------------------------- events_markov_steady
  /** Stationary distribution of the event-type Markov chain — the
    * completion of the transition family: event_transitions publishes
    * the matrix, event_transition_time the dwell costs, this publishes
    * where the chain SETTLES — "if users keep behaving like this, what
    * share of activity ends up in each state" — read against the
    * empirical mix (out_share), the gap is the drift the product is
    * creating. π is computed by `MarkovSteps` unrolled power-iteration
    * steps from the uniform start (the embed_pca_top discipline for
    * inherently sequential algorithms: a fixed bounded number of
    * rounds, each mirrored op-for-op).
    *
    * Exactness: transition counts are integers; each P(a,b) = n_ab/n_a
    * is ONE exactly-rounded division; each step folds π(a)·P(a,b) in
    * ascending-a order BOTH engines (array_sort(collect_list(struct)) +
    * fold ≡ list(term ORDER BY a) + list_reduce, with 0.0+t₁ ≡ t₁), so
    * all `MarkovSteps` iterations are bit-identical cross-engine.
    * States with no outgoing transitions (none in this corpus, but the
    * chain must stay stochastic if data changes) get the standard
    * uniform dangling row — 1/|S| exact.
    *
    * Scale: ONE user-keyed lead window (event_transitions' shuffle) +
    * a ≤|types|²-row staged matrix; every iteration is a join/aggregate
    * over ≤|types|² rows — chart-bounded, never data-scaled. */
  val MarkovSteps = 12

  def eventsMarkovSteady(spark: SparkSession, dir: String): DataFrame =
    eventsMarkovSteadyFrom(Tables.eventsUs(spark, dir))

  private[graft] def eventsMarkovSteadyFrom(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.stageBarrier
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val tr = stageBarrier(events
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("b", lead(col("event_type"), 1).over(w))
      .filter(col("b").isNotNull)
      .groupBy(col("event_type").as("a"), col("b"))
      .agg(count(lit(1)).as("n_ab")))
    val states = stageBarrier(
      tr.select(col("a").as("t")).union(tr.select(col("b").as("t"))).distinct())
    val ns = states.count() // ≤ |event types|: bounded driver scalar
    val srcTot = stageBarrier(tr.groupBy(col("a")).agg(sum(col("n_ab")).as("na")))
    val pReal = tr.join(srcTot, Seq("a"))
      .select(col("a"), col("b"),
        (col("n_ab").cast("double") / col("na").cast("double")).as("p"))
    val dangling = states.join(srcTot.select(col("a").as("t")), Seq("t"), "left_anti")
      .select(col("t").as("a")).crossJoin(states.select(col("t").as("b")))
      .select(col("a"), col("b"), lit(1.0 / ns).as("p"))
    val pMat = stageBarrier(pReal.unionAll(dangling))
    var pi = states.select(col("t"), lit(1.0 / ns).as("pi"))
    for (_ <- 1 to MarkovSteps) {
      pi = pMat.join(pi.withColumnRenamed("t", "a"), Seq("a"))
        .select(col("b"), struct(col("a"), (col("pi") * col("p")).as("term")).as("s"))
        .groupBy(col("b"))
        .agg(expr("aggregate(array_sort(collect_list(s)), CAST(0.0 AS DOUBLE)," +
          " (acc, x) -> acc + x.term)").as("pi"))
        .withColumnRenamed("b", "t")
    }
    val tot = tr.agg(sum(col("n_ab")).as("tot"))
    states.join(srcTot.withColumnRenamed("a", "t"), Seq("t"), "left")
      .join(pi, Seq("t"), "left")
      .crossJoin(broadcast(tot))
      .select(col("t").as("event_type"),
        coalesce(col("na"), lit(0L)).as("n_out"),
        // RAW quotients, no rounding (the fin_cusum lesson applied in
        // events_retention_curve): out_share divides identical exact
        // integers and every steady_prob fold step is bit-identical
        // cross-engine (docstring above), so rounding adds only a
        // round-half boundary an engine pair could split
        (coalesce(col("na"), lit(0L)).cast("double")
          / col("tot").cast("double") + 0.0).as("out_share"),
        (coalesce(col("pi"), lit(0.0)) + 0.0).as("steady_prob"))
      .orderBy(col("event_type"))
  }

  val eventsMarkovSteadySql: String = {
    def step(k: Int): String = {
      val prev = if (k == 1) "mk_pi0" else s"mk_pi${k - 1}"
      s"""mk_pi$k AS (
         |  SELECT p.b AS t,
         |         list_reduce(list(q.pi * p.p ORDER BY p.a), (x, y) -> x + y) AS pi
         |  FROM mk_p p JOIN $prev q ON q.t = p.a GROUP BY p.b)""".stripMargin
    }
    s"""WITH mk_e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
       |             FROM events),
       |mk_adj AS (SELECT event_type AS a,
       |             lead(event_type) OVER (PARTITION BY user_id
       |               ORDER BY ts_us, event_id) AS b
       |           FROM mk_e),
       |mk_t AS (SELECT a, b, count(*) AS n_ab FROM mk_adj
       |         WHERE b IS NOT NULL GROUP BY a, b),
       |mk_states AS (SELECT DISTINCT t FROM
       |  (SELECT a AS t FROM mk_t UNION SELECT b FROM mk_t)),
       |mk_ns AS (SELECT count(*) AS ns FROM mk_states),
       |mk_src AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS na FROM mk_t GROUP BY a),
       |mk_p AS (SELECT a, b, CAST(n_ab AS DOUBLE)/CAST(na AS DOUBLE) AS p
       |         FROM mk_t JOIN mk_src USING (a)
       |         UNION ALL
       |         SELECT d.t AS a, s.t AS b, 1.0/(SELECT ns FROM mk_ns) AS p
       |         FROM (SELECT t FROM mk_states
       |               WHERE t NOT IN (SELECT a FROM mk_src)) d
       |         CROSS JOIN mk_states s),
       |mk_pi0 AS (SELECT t, 1.0/(SELECT ns FROM mk_ns) AS pi FROM mk_states),
       |${(1 to MarkovSteps).map(step).mkString(",\n")},
       |mk_tot AS (SELECT CAST(sum(n_ab) AS BIGINT) AS tot FROM mk_t)
       |SELECT st.t AS event_type,
       |       coalesce(na, 0) AS n_out,
       |       CAST(coalesce(na, 0) AS DOUBLE)/CAST(tot AS DOUBLE) + 0.0
       |         AS out_share,
       |       coalesce(pi, 0.0) + 0.0 AS steady_prob
       |FROM mk_states st LEFT JOIN mk_src ON mk_src.a = st.t
       |LEFT JOIN mk_pi$MarkovSteps pp ON pp.t = st.t
       |CROSS JOIN mk_tot
       |ORDER BY event_type""".stripMargin
  }

  // --------------------------------------------------- event_transition_time
  /** DWELL-TIME matrix over the transition graph: for every
    * (event_type → next_type) edge the transition count and the
    * average/min/max seconds users sit between the two events —
    * event_transitions tells which paths users take, this tells where
    * they STALL (the Markov dwell-time read; events_funnel_time is the
    * same metric confined to the 3-step conversion path).
    *
    * Exactness: deltas are exact integer µs; sums in DECIMAL(38,0)/
    * HUGEINT (the events_funnel_time overflow argument); avg is ONE
    * division of identically-cast exact integers, min/max one division
    * by the 10⁶ constant.
    *
    * Scale: the SAME per-user lead window as event_transitions (fine
    * user_id key, partitions = one user's history) + ONE map-side-
    * combined aggregate onto ≤|types|² rows. */
  def eventTransitionTime(spark: SparkSession, dir: String): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val dt = col("next_ts") - col("ts_us")
    Tables.eventsUs(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .withColumn("next_ts", lead(col("ts_us"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n_transitions"),
        sum(d(dt)).as("s_us"), min(dt).as("mn_us"), max(dt).as("mx_us"))
      .select(col("event_type"), col("next_type"), col("n_transitions"),
        (round(col("s_us").cast("double")
          / (col("n_transitions") * lit(1000000L)).cast("double"), 6) + 0.0)
          .as("avg_s"),
        (round(col("mn_us").cast("double") / 1000000.0, 6) + 0.0).as("min_s"),
        (round(col("mx_us").cast("double") / 1000000.0, 6) + 0.0).as("max_s"))
      .orderBy(col("event_type"), col("next_type"))
  }

  val eventTransitionTimeSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |adj AS (SELECT user_id, event_type, ts_us,
      |               lead(event_type) OVER w AS next_type,
      |               lead(ts_us) OVER w AS next_ts
      |        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
      |SELECT event_type, next_type, count(*) AS n_transitions,
      |       round(CAST(sum(CAST(next_ts - ts_us AS HUGEINT)) AS DOUBLE)
      |             / CAST(count(*) * 1000000 AS DOUBLE), 6) + 0.0 AS avg_s,
      |       round(CAST(min(next_ts - ts_us) AS DOUBLE)/1000000.0, 6) + 0.0 AS min_s,
      |       round(CAST(max(next_ts - ts_us) AS DOUBLE)/1000000.0, 6) + 0.0 AS max_s
      |FROM adj WHERE next_type IS NOT NULL
      |GROUP BY event_type, next_type
      |ORDER BY event_type, next_type""".stripMargin

  // -------------------------------------------------------- skew_salted_agg
  /** The Salt module's two-phase salted aggregation as a driver-gated
    * query: per-type value totals where each (type) group is first
    * partially aggregated on (type, salt) across 8 deterministic salts,
    * then combined — the 100 TB shape for a hot group that would
    * otherwise funnel into one reducer (AQE splits skewed JOIN
    * partitions but cannot split a single aggregation key). The salt is
    * a hash of event_id, so retries and speculative tasks reproduce the
    * exact same partials, and the oracle is the PLAIN group-by: salting
    * must not change one bit of output. Sums run in integer cents —
    * exact under any partial-aggregation order. */
  def skewSaltedAgg(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), cents(col("value")).as("v"))
    Salt.saltedSumCount(ev, Seq(col("event_type")), col("v"),
        n = 8, saltSource = Seq(col("event_id")))
      .select(col("event_type"), dollars(col("sum_value")).as("sum_value"),
        col("n"))
      .orderBy(col("event_type"))
  }

  val skewSaltedAggSql: String =
    """SELECT event_type,
      |       sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value,
      |       count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------- skew_salted_auto
  /** skew_salted_agg with the salt factor WIRED from the skew_eval
    * report instead of a fixed n=8 (the r11 decision reports measured
    * the knob; this closes the decision→action loop the layout family
    * closed with layout_zorder_apply): measure ceil(max/avg) on the
    * actual key distribution via Salt.measuredSaltFactor, salt by
    * exactly that, and carry the factor in the output — the oracle
    * recomputes the same integer arithmetic, so the gate checks the
    * whole composition report → salt → exact equality with the plain
    * group-by. On the test corpus the factor is data-sized (≈3 for
    * event_type's hottest type), not the fixed 8. */
  def skewSaltedAuto(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), cents(col("value")).as("v"))
    val n = Salt.measuredSaltFactor(ev, col("event_type"))
    Salt.saltedSumCount(ev, Seq(col("event_type")), col("v"),
        n = n, saltSource = Seq(col("event_id")))
      .select(col("event_type"), dollars(col("sum_value")).as("sum_value"),
        col("n"), lit(n.toLong).as("salt_factor"))
      .orderBy(col("event_type"))
  }

  val skewSaltedAutoSql: String =
    """WITH per_key AS (
      |  SELECT event_type, count(*) AS c,
      |         sum(CAST(round(value * 100) AS BIGINT)) AS vc
      |  FROM events GROUP BY event_type),
      |f AS (SELECT CAST((max(c) * count(*) + sum(c) - 1) // sum(c) AS BIGINT)
      |        AS salt_factor FROM per_key)
      |SELECT event_type, CAST(vc AS DOUBLE)/100.0 AS sum_value, c AS n,
      |       salt_factor
      |FROM per_key CROSS JOIN f ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- skew_eval
  /** The pre-salting DECISION report (the layout_skip_eval /
    * stream_watermark_eval pattern applied to shuffle keys): before
    * reaching for Salt.saltedSumCount / AQE skew knobs, measure each
    * candidate shuffle key's actual skew. Per audited (table, key):
    * rows, distinct keys, the hottest key's row count, rows/key mean,
    * the hot key's share of the table, and the salt factor that would
    * level the hottest reducer back to the mean —
    * ceil(max_key_rows / avg) = (max·n_keys + n_rows − 1) DIV n_rows,
    * exact integer arithmetic. salt_factor 1 = don't salt; the report
    * saying "no" is as valuable as the fix.
    *
    * Scale: one map-side-combined count per key per audited table —
    * the partial aggregate absorbs hot keys BEFORE the shuffle, so the
    * audit itself cannot skew — folded to a 1-row stats frame each; 5
    * bounded rows leave the executors. Overflow: max·n_keys ≤ n_rows²
    * only when one key owns the table AND keys are distinct — real
    * shapes keep the product ≤ ~n_rows·(hot reducers), far inside
    * BIGINT at any plausible scale (documented like part_affinity's
    * 2^53 note). */
  def skewEval(spark: SparkSession, dir: String): DataFrame = {
    def audit(df: DataFrame, label: String, key: Column): DataFrame =
      df.groupBy(key.as("k")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
          max(col("c")).as("max_key_rows"))
        .select(lit(label).as("keyed_on"), col("n_rows"), col("n_keys"),
          col("max_key_rows"),
          (round(col("n_rows").cast("double") / col("n_keys"), 2) + 0.0)
            .as("avg_key_rows"),
          (round(col("max_key_rows").cast("double") / col("n_rows"), 6) + 0.0)
            .as("top_share"),
          expr("(max_key_rows * n_keys + n_rows - 1) DIV n_rows")
            .as("salt_factor"))
    val li = Tables.lineitem(spark, dir)
    val ev = Tables.events(spark, dir)
    audit(li, "lineitem.l_orderkey", col("l_orderkey"))
      .unionAll(audit(li, "lineitem.l_partkey", col("l_partkey")))
      .unionAll(audit(Tables.orders(spark, dir), "orders.o_custkey",
        col("o_custkey")))
      .unionAll(audit(ev, "events.event_type", col("event_type")))
      .unionAll(audit(ev, "events.user_id", col("user_id")))
      .orderBy(col("keyed_on"))
  }

  val skewEvalSql: String = {
    def leg(table: String, key: String): String =
      s"""SELECT '$table.$key' AS keyed_on,
         |       CAST(sum(c) AS BIGINT) AS n_rows,
         |       CAST(count(*) AS BIGINT) AS n_keys,
         |       CAST(max(c) AS BIGINT) AS max_key_rows,
         |       round(CAST(sum(c) AS DOUBLE) / count(*), 2) + 0.0 AS avg_key_rows,
         |       round(CAST(max(c) AS DOUBLE) / sum(c), 6) + 0.0 AS top_share,
         |       CAST((max(c) * count(*) + sum(c) - 1) // sum(c) AS BIGINT)
         |         AS salt_factor
         |FROM (SELECT count(*) AS c FROM $table GROUP BY $key) ${table}_${key}_t"""
        .stripMargin
    Seq(leg("lineitem", "l_orderkey"), leg("lineitem", "l_partkey"),
      leg("orders", "o_custkey"), leg("events", "event_type"),
      leg("events", "user_id"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY keyed_on")
  }

  // ------------------------------------------------------------------ maps
  // ------------------------------------------------------ event_attribution
  /** Multi-touch purchase attribution with EXACT integer allocation:
    * each purchase's value (cents) is split evenly across its click/view
    * touches in the prior hour via largest-remainder — every touch gets
    * cents DIV n, and the cents MOD n leftover pennies go one each to
    * the touches closest to conversion (latest first, event_id
    * tie-break). Purchases with no touch attribute whole to 'direct'.
    * The invariant sum(attributed) == sum(purchase cents) holds exactly
    * — float splits (value/n) leak pennies and drift across engines;
    * integer DIV/MOD cannot. Allocation is SIGN-SAFE: the base share is
    * floorDiv and the penny count floorMod (computed as pmod, always in
    * [0, n)), so refund/chargeback purchases (pc < 0) conserve exactly
    * too — truncating DIV with a negative MOD would hand out no penny
    * correction and over-state the sum by the lost remainder.
    *
    * Scale: the touch join is an equi-key (user_id) sort-merge with a
    * residual range predicate — never a cross product; the allocation
    * window partitions per purchase (bounded by touches-per-user-hour);
    * the final rollup is |channels| rows, map-side combined. */
  def eventAttribution(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000 * 1000
    val e = Tables.eventsUs(spark, dir)
    val touches = e.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts_us").as("c_ts_us"),
        col("event_id").as("c_event_id"), col("event_type").as("channel"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us").as("p_ts_us"),
        col("event_id").as("p_event_id"), cents(col("value")).as("pc"))
    val w = Window.partitionBy(col("p_event_id"))
    val wr = w.orderBy(col("c_ts_us").desc, col("c_event_id"))
    purchases.join(touches,
        purchases("user_id") === touches("user_id") &&
          col("c_ts_us") >= col("p_ts_us") - hourUs &&
          col("c_ts_us") < col("p_ts_us"), "left")
      .withColumn("n", count(col("c_event_id")).over(w))
      .withColumn("rnk", row_number().over(wr))
      // floorMod: in [0, n); the n=0 guard keeps pmod off a zero divisor
      // (ANSI mode would raise before the when() below ever filtered it)
      .withColumn("fm", when(col("n") === 0, lit(0L)).otherwise(pmod(col("pc"), col("n"))))
      .withColumn("attributed",
        when(col("n") === 0, col("pc"))
          .otherwise(expr("(pc - fm) DIV n") + // exact floorDiv: pc - fm is divisible
            when(col("rnk") <= col("fm"), 1L).otherwise(0L)))
      .groupBy(coalesce(col("channel"), lit("direct")).as("channel"))
      .agg(countDistinct(col("p_event_id")).as("n_purchases"),
        count(col("c_event_id")).as("n_touches"),
        dollars(sum(col("attributed"))).as("attributed_total"))
      .orderBy(col("channel"))
  }

  val eventAttributionSql: String =
    """WITH t AS (SELECT user_id, epoch_us(ts) AS c_ts_us, event_id AS c_event_id,
      |                  event_type AS channel
      |           FROM events WHERE event_type IN ('click','view')),
      |p AS (SELECT user_id, epoch_us(ts) AS p_ts_us, event_id AS p_event_id,
      |             CAST(round(value*100) AS BIGINT) AS pc
      |      FROM events WHERE event_type = 'purchase'),
      |j AS (SELECT p.*, t.c_ts_us, t.c_event_id, t.channel
      |      FROM p LEFT JOIN t ON p.user_id = t.user_id
      |        AND t.c_ts_us >= p.p_ts_us - 3600000000 AND t.c_ts_us < p.p_ts_us),
      |a AS (SELECT *,
      |        count(c_event_id) OVER (PARTITION BY p_event_id) AS n,
      |        row_number() OVER (PARTITION BY p_event_id
      |                           ORDER BY c_ts_us DESC, c_event_id) AS rnk
      |      FROM j),
      |f AS (SELECT *,  -- sign-safe floorMod in [0, n), mirroring Spark's pmod
      |        CASE WHEN n = 0 THEN 0 ELSE ((pc % n) + n) % n END AS fm
      |      FROM a)
      |SELECT coalesce(channel, 'direct') AS channel,
      |       count(DISTINCT p_event_id) AS n_purchases,
      |       count(c_event_id) AS n_touches,
      |       CAST(sum(CASE WHEN n = 0 THEN pc
      |                     ELSE (pc - fm) // n + (CASE WHEN rnk <= fm THEN 1 ELSE 0 END)
      |                END) AS DOUBLE)/100.0 AS attributed_total
      |FROM f GROUP BY 1 ORDER BY channel""".stripMargin

  // --------------------------------------------------------- events_dau_mau
  /** DAU/MAU engagement: daily active users, the enclosing FIXED
    * epoch-aligned 30-day period's active users (tumbling periods, NOT
    * the trailing-30-day rolling convention — a rolling MAU counts the
    * distinct users in the 30 days ending at each day; that variant is
    * registered as `events_rolling_mau`), and the stickiness ratio — a
    * standard product health metric over the events table. day/month
    * keys are integer
    * microsecond truncations (no calendar parity risk); stickiness is
    * ONE exactly rounded IEEE division of two exact counts.
    * Scale: two distinct-count aggregates (day- and month-keyed) with
    * partial aggregation; the month frame is ≤ |months| rows and
    * broadcast-joins back onto days. */
  def eventsDauMau(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000 * 1000
    val e = Tables.eventsUs(spark, dir)
      .select(col("user_id"), (col("ts_us") - pmod(col("ts_us"), lit(dayUs))).as("day_us"))
      .withColumn("period_us", col("day_us") - pmod(expr("day_us DIV 86400000000"), lit(30L)) * dayUs)
    val dau = e.groupBy(col("day_us"), col("period_us"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val mau = e.groupBy(col("period_us")).agg(countDistinct(col("user_id")).as("mau"))
    dau.join(broadcast(mau), Seq("period_us"))
      .select(col("day_us"), col("dau"), col("mau"),
        (round(col("dau").cast("double") / col("mau"), 6) + 0.0).as("stickiness"))
      .orderBy(col("day_us"))
  }

  val eventsDauMauSql: String =
    """WITH e AS (
      |  SELECT user_id,
      |         epoch_us(ts) - epoch_us(ts) % 86400000000 AS day_us
      |  FROM events),
      |e2 AS (
      |  SELECT user_id, day_us,
      |         day_us - ((day_us // 86400000000) % 30) * 86400000000 AS period_us
      |  FROM e),
      |dau AS (SELECT day_us, period_us, count(DISTINCT user_id) AS dau
      |        FROM e2 GROUP BY day_us, period_us),
      |mau AS (SELECT period_us, count(DISTINCT user_id) AS mau
      |        FROM e2 GROUP BY period_us)
      |SELECT day_us, dau.dau, mau.mau,
      |       round(CAST(dau.dau AS DOUBLE) / mau.mau, 6) + 0.0 AS stickiness
      |FROM dau JOIN mau USING (period_us)
      |ORDER BY day_us""".stripMargin

  // ------------------------------------------------------ events_rolling_mau
  /** Trailing-30-day ROLLING MAU per observed day — the standard form of
    * the MAU metric (events_dau_mau's fixed tumbling periods are the
    * cheap approximation): for each day with events, the distinct users
    * active in the 30 days ending that day, plus DAU and the rolling
    * stickiness ratio.
    *
    * Scale: the naive forms die at 100× — a 30-way explode shuffles 30×
    * the user-day pairs, and a count-distinct range window doesn't
    * exist. Instead the count is decomposed into INTERVAL DELTAS: a
    * user contributes to MAU(d) iff some active day lies in [d−29d, d],
    * i.e. iff d ∈ [day, min(day+30d, next active day)) for the user's
    * LAST active day ≤ d — consecutive per-user intervals never
    * overlap, so MAU(d) = Σ(+1 at interval start) + Σ(−1 at interval
    * end) over boundaries ≤ d. One user_id shuffle (lead window), TWO
    * scalar delta rows per user-day, a day-keyed aggregate (≤2·|days|
    * rows), and the prefix sum runs over that post-aggregate
    * calendar-bounded frame — never a data-scaled global window.
    * The distinct user-day frame is staged once (it feeds both the DAU
    * aggregate and the delta derivation). Exact integers end-to-end;
    * stickiness is one rounded IEEE division. */
  def eventsRollingMau(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000 * 1000
    val ud = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      Tables.eventsUs(spark, dir)
        .select(col("user_id"),
          (col("ts_us") - pmod(col("ts_us"), lit(dayUs))).as("day_us"))
        .distinct())
    val dau = ud.groupBy(col("day_us")).agg(count(lit(1)).as("dau"))
    val wU = Window.partitionBy(col("user_id")).orderBy(col("day_us"))
    val deltas = ud
      .withColumn("end_excl",
        least(col("day_us") + lit(30L * dayUs),
          coalesce(lead(col("day_us"), 1).over(wU), col("day_us") + lit(30L * dayUs))))
      .select(explode(array(
        struct(col("day_us").as("b_us"), lit(1L).as("dlt")),
        struct(col("end_excl").as("b_us"), lit(-1L).as("dlt")))).as("x"))
      .select(col("x.b_us").as("b_us"), col("x.dlt").as("dlt"))
      .groupBy(col("b_us")).agg(sum(col("dlt")).as("d"))
    val wPrefix = Window.orderBy(col("b_us")).rowsBetween(Window.unboundedPreceding, 0)
    val mau = deltas
      .withColumn("mau30", sum(col("d")).over(wPrefix))
      .select(col("b_us").as("day_us"), col("mau30"))
    dau.join(mau, Seq("day_us"))
      .select(col("day_us"), col("dau"), col("mau30"),
        (round(col("dau").cast("double") / col("mau30"), 6) + 0.0).as("stickiness"))
      .orderBy(col("day_us"))
  }

  val eventsRollingMauSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id,
      |         epoch_us(ts) - epoch_us(ts) % 86400000000 AS day_us
      |  FROM events),
      |dau AS (SELECT day_us, count(*) AS dau FROM ud GROUP BY day_us),
      |m AS (SELECT d.day_us, count(DISTINCT u.user_id) AS mau30
      |      FROM dau d JOIN ud u
      |        ON u.day_us BETWEEN d.day_us - 29 * 86400000000 AND d.day_us
      |      GROUP BY d.day_us)
      |SELECT dau.day_us, dau.dau, m.mau30,
      |       round(CAST(dau.dau AS DOUBLE) / m.mau30, 6) + 0.0 AS stickiness
      |FROM dau JOIN m USING (day_us)
      |ORDER BY day_us""".stripMargin

  // -------------------------------------------------------------- orders_rfm
  /** RFM customer segmentation over orders: recency (days since the
    * customer's last order, against the corpus max date), frequency
    * (order count), monetary (exact cents), each scored into quintiles
    * under a TOTAL order (value, custkey) so both engines assign
    * identical buckets, then the classic 3-digit segment code.
    * Scale: one custkey shuffle for the per-customer rollup; the corpus
    * max date and the three dimension ranges are broadcast 1-row
    * aggregates; each quintile is the bucketed two-pass exact rank
    * (ExactRank.rank + ntile) — three bkt-partitioned shuffles of the
    * customer frame replace r6's three SINGLE-REDUCER global ntile
    * sorts, the shape that dies first at 100×. Descending dimensions
    * bucket on the negated value so the bucket index is non-decreasing
    * along each sort order. Oracle (real ntile) unchanged: AnalyticsSpec
    * pins bit-equality against the global-window formula. */
  def ordersRfm(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val maxd = o.agg(max(col("o_orderdate")).as("corpus_max"))
    val per0 = o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(cents(col("o_totalprice"))).as("monetary_cents"))
      .crossJoin(broadcast(maxd))
      .withColumn("recency_days", datediff(col("corpus_max"), col("last_order")))
    // staged: the rollup feeds the range probe AND the scoring joins —
    // its shuffle outputs are reused, not recomputed per consumer
    val per = org.apache.spark.sql.GraftColumnBridge.stageBarrier(per0)
    val rng = per.agg(
      min(col("recency_days").cast("double")).as("r_mn"),
      max(col("recency_days").cast("double")).as("r_mx"),
      min((-col("frequency")).cast("double")).as("f_mn"),
      max((-col("frequency")).cast("double")).as("f_mx"),
      min((-col("monetary_cents")).cast("double")).as("m_mn"),
      max((-col("monetary_cents")).cast("double")).as("m_mx"))
    val bucketed = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      per.crossJoin(broadcast(rng))
        .withColumn("bkt_r", ExactRank.eqWidthBucket(col("recency_days").cast("double"), col("r_mn"), col("r_mx")))
        .withColumn("bkt_f", ExactRank.eqWidthBucket((-col("frequency")).cast("double"), col("f_mn"), col("f_mx")))
        .withColumn("bkt_m", ExactRank.eqWidthBucket((-col("monetary_cents")).cast("double"), col("m_mn"), col("m_mx")))
        .drop("r_mn", "r_mx", "f_mn", "f_mx", "m_mn", "m_mx"))
    def quintile(df: DataFrame, bkt: String, order: Seq[Column], out: String): DataFrame =
      ExactRank.rank(df, Nil, bkt, order)
        .withColumn(out, ExactRank.ntile(5)).drop("rk", "n", bkt)
    val scored = quintile(
      quintile(
        quintile(bucketed, "bkt_r", Seq(col("recency_days"), col("o_custkey")), "r_score"),
        "bkt_f", Seq(col("frequency").desc, col("o_custkey")), "f_score"),
      "bkt_m", Seq(col("monetary_cents").desc, col("o_custkey")), "m_score")
    scored
      .select(col("o_custkey").as("custkey"), col("recency_days"),
        col("frequency"), dollars(col("monetary_cents")).as("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score"), col("f_score"), col("m_score")).as("segment"))
      .orderBy(col("custkey"))
  }

  val ordersRfmSql: String =
    """WITH mx AS (SELECT max(o_orderdate) AS corpus_max FROM orders),
      |per AS (
      |  SELECT o_custkey,
      |         max(o_orderdate) AS last_order,
      |         count(*) AS frequency,
      |         sum(CAST(round(o_totalprice*100) AS BIGINT)) AS monetary_cents
      |  FROM orders GROUP BY o_custkey),
      |scored AS (
      |  SELECT per.*, datediff('day', last_order, corpus_max) AS recency_days
      |  FROM per CROSS JOIN mx),
      |nt AS (
      |  SELECT *,
      |    ntile(5) OVER (ORDER BY recency_days, o_custkey) AS r_score,
      |    ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
      |    ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m_score
      |  FROM scored)
      |SELECT o_custkey AS custkey, recency_days, frequency,
      |       CAST(monetary_cents AS DOUBLE)/100.0 AS monetary,
      |       r_score, f_score, m_score,
      |       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS segment
      |FROM nt ORDER BY custkey""".stripMargin

  // ---------------------------------------------------------- orders_pareto
  /** Revenue-concentration (Pareto) report: customers ranked by spend,
    * cut into deciles, each decile's revenue share and the cumulative
    * share — the "do 20% of customers carry 80% of revenue" audit.
    * Exact integer cents throughout; share and cumulative share are
    * each ONE IEEE division of exact integers (cum via an integer
    * running sum over the 10-row decile frame, never a float cascade).
    * Scale: one custkey shuffle for the rollup; the decile assignment
    * is the bucketed two-pass exact rank (ExactRank — bkt-partitioned
    * row_number + histogram offsets), not a single-reducer global
    * ntile; everything after is 10 rows. Oracle (real ntile)
    * unchanged: AnalyticsSpec pins bit-equality. */
  def ordersPareto(spark: SparkSession, dir: String): DataFrame = {
    val per0 = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("mc"))
    val per = org.apache.spark.sql.GraftColumnBridge.stageBarrier(per0)
    val rng = per.agg(
      min((-col("mc")).cast("double")).as("d_mn"),
      max((-col("mc")).cast("double")).as("d_mx"))
    val bucketed = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      per.crossJoin(broadcast(rng))
        .withColumn("bkt_d", ExactRank.eqWidthBucket((-col("mc")).cast("double"), col("d_mn"), col("d_mx")))
        .drop("d_mn", "d_mx"))
    val deciles = ExactRank.rank(bucketed, Nil, "bkt_d", Seq(col("mc").desc, col("o_custkey")))
      .withColumn("decile", ExactRank.ntile(10))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("mc")).as("rc"))
    val wc = Window.orderBy(col("decile")).rowsBetween(Window.unboundedPreceding, 0)
    // staged: the 10-row frame feeds both the total probe and the report
    // (unstaged, each consumer re-runs the orders rollup)
    val staged = org.apache.spark.sql.GraftColumnBridge.stageBarrier(deciles)
    staged.crossJoin(broadcast(staged.agg(sum(col("rc")).as("total"))))
      .withColumn("cum_rc", sum(col("rc")).over(wc))
      .select(col("decile"), col("n_customers"), dollars(col("rc")).as("revenue"),
        (round(col("rc").cast("double") / col("total"), 6) + 0.0).as("share"),
        (round(col("cum_rc").cast("double") / col("total"), 6) + 0.0).as("cum_share"))
      .orderBy(col("decile"))
  }

  val ordersParetoSql: String =
    """WITH per AS (
      |  SELECT o_custkey, sum(CAST(round(o_totalprice*100) AS BIGINT)) AS mc
      |  FROM orders GROUP BY o_custkey),
      |dec AS (
      |  SELECT ntile(10) OVER (ORDER BY mc DESC, o_custkey) AS decile, mc FROM per),
      |agg AS (
      |  SELECT decile, count(*) AS n_customers, sum(mc) AS rc
      |  FROM dec GROUP BY decile),
      |tot AS (SELECT sum(rc) AS total FROM agg)
      |SELECT decile, n_customers,
      |       CAST(rc AS DOUBLE)/100.0 AS revenue,
      |       round(CAST(rc AS DOUBLE) / total, 6) + 0.0 AS share,
      |       round(CAST(sum(rc) OVER (ORDER BY decile
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |             / total, 6) + 0.0 AS cum_share
      |FROM agg CROSS JOIN tot
      |ORDER BY decile""".stripMargin

  // ------------------------------------------------------ orders_cohort_ltv
  /** First-purchase cohort LTV: customers grouped by the month of their
    * first order, revenue tracked by month offset since that cohort
    * month, with the cumulative (LTV) running sum — the standard
    * customer-lifetime report every subscription/commerce warehouse
    * ships. Month index = year·12 + month (exact integers), revenue in
    * exact integer cents.
    *
    * Scale: one shuffle to derive each customer's cohort (min month
    * per o_custkey, map-side combined) — the cohort aggregate is
    * STAGED once (stageBarrier: it feeds BOTH the join-back and the
    * cohort-size rollup, and an unstaged double consumer re-runs the
    * orders scan + shuffle per leg, the r6 derivation-staging lesson)
    * — broadcast-free join back on o_custkey (AQE picks the side),
    * then ONE aggregate on (cohort, offset) — months² result rows, so
    * the cumulative window (partitioned by cohort over ≤ #months
    * offsets) is post-aggregate tiny, never a data-scaled sort. */
  def ordersCohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_totalprice"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("midx"))
    val cohort = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      o.groupBy(col("o_custkey")).agg(min(col("midx")).as("cohort_idx")))
    val agg = o.join(cohort, Seq("o_custkey"))
      .groupBy(col("cohort_idx"), (col("midx") - col("cohort_idx")).as("offset"))
      .agg(countDistinct(col("o_custkey")).as("n_active"),
        sum(cents(col("o_totalprice"))).as("rev_cents"))
    val sz = cohort.groupBy(col("cohort_idx")).agg(count(lit(1)).as("cohort_size"))
    val w = Window.partitionBy(col("cohort_idx")).orderBy(col("offset"))
      .rowsBetween(Window.unboundedPreceding, 0)
    agg.join(sz, Seq("cohort_idx"))
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
      .select(col("cohort_idx"), col("offset"), col("cohort_size"),
        col("n_active"), dollars(col("rev_cents")).as("revenue"),
        dollars(col("cum_rev_cents")).as("cum_revenue"),
        (col("cum_rev_cents").cast("double")
          / (col("cohort_size").cast("double") * 100.0)).as("ltv_per_customer"))
      .orderBy(col("cohort_idx"), col("offset"))
  }

  val ordersCohortLtvSql: String =
    """WITH o AS (
      |  SELECT o_custkey, o_totalprice,
      |         year(o_orderdate)*12 + month(o_orderdate) AS midx
      |  FROM orders),
      |c AS (SELECT o_custkey, min(midx) AS cohort_idx FROM o GROUP BY o_custkey),
      |sz AS (SELECT cohort_idx, count(*) AS cohort_size FROM c GROUP BY cohort_idx),
      |a AS (
      |  SELECT c.cohort_idx, o.midx - c.cohort_idx AS "offset",
      |         count(DISTINCT o.o_custkey) AS n_active,
      |         sum(CAST(round(o.o_totalprice*100) AS BIGINT)) AS rev_cents
      |  FROM o JOIN c ON o.o_custkey = c.o_custkey
      |  GROUP BY 1, 2),
      |cum AS (
      |  SELECT *, sum(rev_cents) OVER (PARTITION BY cohort_idx ORDER BY "offset"
      |              ROWS UNBOUNDED PRECEDING) AS cum_rev_cents
      |  FROM a)
      |SELECT cum.cohort_idx, "offset", cohort_size, n_active,
      |  CAST(rev_cents AS DOUBLE)/100.0 AS revenue,
      |  CAST(cum_rev_cents AS DOUBLE)/100.0 AS cum_revenue,
      |  CAST(cum_rev_cents AS DOUBLE)/(CAST(cohort_size AS DOUBLE)*100.0) AS ltv_per_customer
      |FROM cum JOIN sz ON cum.cohort_idx = sz.cohort_idx
      |ORDER BY cum.cohort_idx, "offset"""".stripMargin

  // -------------------------------------------------------- events_top_paths
  /** Path/flow analysis: the top 20 most common onboarding paths, where
    * a user's path is their first 5 events' types joined in time order
    * — the product-analytics "what do users actually do first" report.
    *
    * Scale: the per-user window partitions on the FINE user_id key (no
    * low-cardinality partition), keeps only rn ≤ 5 — the collect_list
    * is bounded at 5 structs per user by construction, never a power
    * user's full history; path counting map-side combines and the
    * top-20 is a TakeOrdered. Determinism: the (ts, event_id) order key
    * is unique, and the path string assembles from a sort_array over
    * (rn, type) structs. */
  def eventsTopPaths(spark: SparkSession, dir: String): DataFrame = {
    val wu = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    Tables.eventsUs(spark, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(wu))
      .filter(col("rn") <= 5)
      .groupBy(col("user_id"))
      .agg(array_join(
        transform(sort_array(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(20)
  }

  val eventsTopPathsSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type FROM events),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
      |                 ORDER BY ts_us, event_id) AS rn FROM e),
      |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      |      FROM r WHERE rn <= 5 GROUP BY user_id)
      |SELECT path, count(*) AS n_users FROM p
      |GROUP BY path ORDER BY n_users DESC, path LIMIT 20""".stripMargin

  // --------------------------------------------------------- part_affinity
  /** Market-basket affinity over order lines: part pairs co-ordered in
    * the same order, with support counts and lift =
    * P(a,b)/(P(a)·P(b)) = pair_n·N/(n_a·n_b) — all-integer inputs under
    * 2^53, so the one double division is bit-identical cross-engine.
    * Top 25 by (pair_n, lift) with full tie-breaks; min support 2 (TPC-H part keys are near-uniform, so co-occurrence is sparse by construction — the threshold is the sparse-basket floor and the LIMIT bounds the output).
    *
    * Scale: the pair generator is a self-join ON l_orderkey — ONE
    * shuffle of (orderkey, partkey) scalars, and the quadratic is
    * per-ORDER (bounded by order width ~7 lines, i.e. ≤ width² pairs
    * per order — never corpus-quadratic); per-part order counts and
    * the pair counts both map-side combine. The distinct() aggregate
    * over lineitem is STAGED once (stageBarrier — the aliased sides of
    * the self-join defeat ReuseExchange, the r6 dedup lesson) so the
    * plan has ONE fact scan + ONE distinct exchange feeding perPart
    * and both join sides; n_orders is a broadcast 1-row aggregate
    * crossed in, not a separate driver count() action. Lift factors
    * are each cast to double BEFORE multiplying (three correctly
    * rounded IEEE ops, identical in both engines) — the former
    * pair_n·N BIGINT product would silently wrap past 2^63 where
    * DuckDB raises. */
  def partAffinity(spark: SparkSession, dir: String): DataFrame = {
    val li = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct())
    val nOrders = Tables.orders(spark, dir).agg(count(lit(1)).as("n_orders"))
    val perPart = li.groupBy(col("pk")).agg(count(lit(1)).as("n_part"))
    val pairs = li.select(col("ok"), col("pk").as("pa"))
      .join(li.select(col("ok"), col("pk").as("pb")), Seq("ok"))
      .filter(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= 2)
    pairs
      .join(perPart.select(col("pk").as("pa"), col("n_part").as("n_a")), Seq("pa"))
      .join(perPart.select(col("pk").as("pb"), col("n_part").as("n_b")), Seq("pb"))
      .crossJoin(broadcast(nOrders))
      .select(col("pa"), col("pb"), col("pair_n"), col("n_a"), col("n_b"),
        (col("pair_n").cast("double") * col("n_orders").cast("double")
          / (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
      .orderBy(col("pair_n").desc, col("lift").desc, col("pa"), col("pb"))
      .limit(25)
  }

  val partAffinitySql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |n AS (SELECT count(*) AS n_orders FROM orders),
      |pp AS (SELECT pk, count(*) AS n_part FROM li GROUP BY pk),
      |pr AS (
      |  SELECT a.pk AS pa, b.pk AS pb, count(*) AS pair_n
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT pa, pb, pair_n, n_a, n_b,
      |  CAST(pair_n AS DOUBLE) * CAST((SELECT n_orders FROM n) AS DOUBLE)
      |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS lift
      |FROM (SELECT pr.*, pa_.n_part AS n_a, pb_.n_part AS n_b
      |      FROM pr JOIN pp pa_ ON pr.pa = pa_.pk JOIN pp pb_ ON pr.pb = pb_.pk)
      |ORDER BY pair_n DESC, lift DESC, pa, pb LIMIT 25""".stripMargin

  // ----------------------------------------------------- orders_basket_rules
  /** Association RULES over the co-order baskets (Agrawal & Srikant,
    * VLDB'94 semantics on pair itemsets): part_affinity ranks the
    * symmetric pair list; this emits the DIRECTIONAL rule table — for
    * each antecedent part its top-3 consequents by confidence
    * P(b|a) = pair_n/n_a, with support pair_n/N and the shared lift —
    * the "customers who bought a also bought b" panel a recommender
    * serves (graph_similar_parts answers the different neighborhood
    * question: Jaccard of FULL co-purchase sets, not direct-pair
    * conditional probability).
    *
    * Scale: the SAME staged lineitem distinct() frame discipline as
    * part_affinity (one fact scan, one distinct exchange; per-order-
    * bounded pair quadratic; broadcast 1-row N). Both rule directions
    * come from ONE pass over the undirected pair aggregate (the
    * dedup_clusters edge-explode trick — never the join run twice).
    * The top-3 window partitions by antecedent over its degree-bounded
    * candidate list (the graph_similar_parts precedent — per-partition
    * size is that part's co-purchase degree, never data-scaled).
    * Confidence/support are each ONE division of exact integers; lift
    * follows part_affinity's cast-then-multiply overflow discipline.
    * Ties in the rank break on (pair_n DESC, consequent ASC) — exact
    * integers, so equal-confidence orderings agree cross-engine. */
  def ordersBasketRules(spark: SparkSession, dir: String): DataFrame = {
    val li = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct())
    val nOrders = Tables.orders(spark, dir).agg(count(lit(1)).as("n_orders"))
    val perPart = li.groupBy(col("pk")).agg(count(lit(1)).as("n_part"))
    val pairs = li.select(col("ok"), col("pk").as("pa"))
      .join(li.select(col("ok"), col("pk").as("pb")), Seq("ok"))
      .filter(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= 2)
    val directed = pairs.select(explode(array(
        struct(col("pa").as("antecedent"), col("pb").as("consequent"), col("pair_n")),
        struct(col("pb").as("antecedent"), col("pa").as("consequent"), col("pair_n"))))
        .as("r"))
      .select(col("r.antecedent"), col("r.consequent"), col("r.pair_n"))
    val w = Window.partitionBy(col("antecedent"))
      .orderBy(col("confidence").desc, col("pair_n").desc, col("consequent"))
    directed
      .join(perPart.select(col("pk").as("antecedent"), col("n_part").as("n_ant")),
        Seq("antecedent"))
      .join(perPart.select(col("pk").as("consequent"), col("n_part").as("n_cons")),
        Seq("consequent"))
      .crossJoin(broadcast(nOrders))
      .select(col("antecedent"), col("consequent"), col("pair_n"), col("n_ant"),
        (col("pair_n").cast("double") / col("n_ant").cast("double")).as("confidence"),
        (col("pair_n").cast("double") / col("n_orders").cast("double")).as("support"),
        (col("pair_n").cast("double") * col("n_orders").cast("double")
          / (col("n_ant").cast("double") * col("n_cons").cast("double"))).as("lift"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("antecedent"), col("rank"), col("consequent"), col("pair_n"),
        col("n_ant"), col("confidence"), col("support"), col("lift"))
      .orderBy(col("antecedent"), col("rank"))
  }

  val ordersBasketRulesSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |n AS (SELECT count(*) AS n_orders FROM orders),
      |pp AS (SELECT pk, count(*) AS n_part FROM li GROUP BY pk),
      |pr AS (
      |  SELECT a.pk AS pa, b.pk AS pb, count(*) AS pair_n
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |dr AS (
      |  SELECT pa AS antecedent, pb AS consequent, pair_n FROM pr
      |  UNION ALL
      |  SELECT pb AS antecedent, pa AS consequent, pair_n FROM pr),
      |sc AS (
      |  SELECT d.antecedent, d.consequent, d.pair_n, pa_.n_part AS n_ant,
      |         CAST(d.pair_n AS DOUBLE) / CAST(pa_.n_part AS DOUBLE) AS confidence,
      |         CAST(d.pair_n AS DOUBLE)
      |           / CAST((SELECT n_orders FROM n) AS DOUBLE) AS support,
      |         CAST(d.pair_n AS DOUBLE) * CAST((SELECT n_orders FROM n) AS DOUBLE)
      |           / (CAST(pa_.n_part AS DOUBLE) * CAST(pb_.n_part AS DOUBLE)) AS lift
      |  FROM dr d JOIN pp pa_ ON d.antecedent = pa_.pk
      |            JOIN pp pb_ ON d.consequent = pb_.pk),
      |rk AS (
      |  SELECT *, row_number() OVER (PARTITION BY antecedent
      |            ORDER BY confidence DESC, pair_n DESC, consequent) AS rank
      |  FROM sc)
      |SELECT antecedent, rank, consequent, pair_n, n_ant, confidence, support, lift
      |FROM rk WHERE rank <= 3 ORDER BY antecedent, rank""".stripMargin

  // ---------------------------------------------------- events_value_anomaly
  /** Per-event z-score outliers (|z| > 3 against the event's type
    * distribution) — the event-level twin of fin_anomaly_zscore, and the
    * metric-quality monitor a pipeline runs over raw telemetry before
    * trusting aggregates. Entirely EXACT integer arithmetic: the |z|>3
    * test is cross-multiplied into cents-integer space —
    * (n−1)·(n·x−s)² > 9·n·(n·q−s²) over DECIMAL(38,0)/HUGEINT
    * accumulators (the vec_stats overflow discipline; dev² reaches
    * ~10²⁵ at sf1) — so no float ever decides membership and both
    * engines flag the identical event set. Output doubles (value, type
    * mean) divide exact integers once at the boundary.
    *
    * Scale: one map-side-combined aggregate to |event_type| stat rows,
    * broadcast back onto the scan — the fact side never shuffles (the
    * fin_anomaly plan shape); output is the true outlier count.
    * EventStreams.anomalyStatsStream maintains the same (n, s, q)
    * integer state incrementally; StreamingSpec pins that re-deriving
    * this report from streamed state matches row-for-row. */
  def eventsValueAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("vc"))
    anomaliesFromStats(ev, eventStats(ev))
  }

  /** The (n, s, q) exact-integer stats per event_type — shared with the
    * streaming state twin so both derive anomalies identically. */
  private[graft] def eventStats(ev: DataFrame): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"),
      sum(col("vc")).as("s"), sum(d(col("vc")) * d(col("vc"))).as("q"))
  }

  /** Flag |z|>3 events given a stats frame — the exact cross-multiplied
    * test + boundary-division projection, shared batch/streaming. */
  private[graft] def anomaliesFromStats(ev: DataFrame, stats: DataFrame): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    val (n, x, s, q) = (d(col("n")), d(col("vc")), d(col("s")), d(col("q")))
    val dev = n * x - s
    ev.join(broadcast(stats), Seq("event_type"))
      .filter((n - lit(1)) * dev * dev > lit(9) * n * (n * q - s * s))
      .select(col("event_id"), col("event_type"),
        (col("vc").cast("double") / 100.0).as("value"),
        (col("s").cast("double") / (lit(100.0) * col("n"))).as("type_mean"),
        col("n").cast("long").as("n_events"))
      .orderBy(col("event_id"))
  }

  val eventsValueAnomalySql: String =
    """WITH ev AS (SELECT event_id, event_type,
      |              CAST(round(value*100) AS BIGINT) AS vc FROM events),
      |st AS (SELECT event_type, count(*) AS n, sum(vc) AS s,
      |              sum(CAST(vc AS HUGEINT) * CAST(vc AS HUGEINT)) AS q
      |       FROM ev GROUP BY event_type)
      |SELECT e.event_id, e.event_type, CAST(e.vc AS DOUBLE)/100.0 AS value,
      |       CAST(t.s AS DOUBLE)/(100.0 * t.n) AS type_mean,
      |       CAST(t.n AS BIGINT) AS n_events
      |FROM ev e JOIN st t USING (event_type)
      |WHERE (CAST(t.n AS HUGEINT) - 1)
      |        * (CAST(t.n AS HUGEINT) * e.vc - t.s)
      |        * (CAST(t.n AS HUGEINT) * e.vc - t.s)
      |      > 9 * CAST(t.n AS HUGEINT)
      |        * (CAST(t.n AS HUGEINT) * t.q - CAST(t.s AS HUGEINT) * t.s)
      |ORDER BY event_id""".stripMargin

  // ----------------------------------------------------- events_burst_detect
  /** RATE-burst detection: hours where an event type's COUNT spikes
    * above 3σ of its hourly rate — events_value_anomaly flags weird
    * VALUES, this flags weird VOLUMES (the incident/bot-traffic signal;
    * one-sided by convention — a dip is a different alert). The
    * baseline includes SILENT hours via an explicit type×hour spine
    * (without it a bursty-quiet stream's mean is computed only over
    * busy hours and real bursts vanish) — the spine is calendar-bounded
    * (|types|·observed hour range), never data-scaled.
    *
    * Exactness: counts are exact integers; the |z|>3 test is the
    * fin_anomaly cross-multiplied form (n−1)·(n·c−s)² > 9·n·(n·q−s²)
    * over DECIMAL(38,0)/HUGEINT with the one-sided n·c−s > 0 guard —
    * no float ever decides membership; the hour index is exact integer
    * division of µs (never a float quotient at an hour boundary).
    *
    * Scale: one (type, hour) map-side-combined count shuffle; the
    * spine-completed frame is STAGED once for its two consumers (stats
    * + the flag join); stats collapse to |types| rows and broadcast
    * back — the fact side never reshuffles. */
  def eventsBurstDetect(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.stageBarrier
    val d = (c: Column) => c.cast("decimal(38,0)")
    val e = Tables.eventsUs(spark, dir)
      .select(col("event_type"),
        expr("CAST(ts_us div 3600000000 AS BIGINT)").as("hr"))
    val cnt = e.groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("c"))
    val rng = e.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
    val spine = e.select(col("event_type")).distinct()
      .crossJoin(broadcast(rng))
      .select(col("event_type"), explode(sequence(col("h0"), col("h1"))).as("hr"))
    val full = stageBarrier(spine.join(cnt, Seq("event_type", "hr"), "left")
      .select(col("event_type"), col("hr"), coalesce(col("c"), lit(0L)).as("c")))
    val stats = full.groupBy(col("event_type")).agg(count(lit(1)).as("n"),
      sum(col("c")).as("s"), sum(d(col("c")) * d(col("c"))).as("q"))
    val (n, x, s, q) = (d(col("n")), d(col("c")), d(col("s")), d(col("q")))
    val dev = n * x - s
    full.join(broadcast(stats), Seq("event_type"))
      .filter(dev > 0 && (n - lit(1)) * dev * dev > lit(9) * n * (n * q - s * s))
      .select(col("event_type"), col("hr").as("hour_idx"),
        col("c").as("n_events"),
        (col("s").cast("double") / col("n").cast("double")).as("mean_per_hour"),
        col("n").cast("long").as("n_hours"))
      .orderBy(col("event_type"), col("hour_idx"))
  }

  val eventsBurstDetectSql: String =
    """WITH e AS (SELECT event_type,
      |             CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr FROM events),
      |cnt AS (SELECT event_type, hr, count(*) AS c FROM e GROUP BY event_type, hr),
      |rng AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM e),
      |spine AS (SELECT t.event_type, unnest(generate_series(r.h0, r.h1)) AS hr
      |          FROM (SELECT DISTINCT event_type FROM e) t CROSS JOIN rng r),
      |filled AS (SELECT s.event_type, s.hr, coalesce(c.c, 0) AS c
      |           FROM spine s LEFT JOIN cnt c
      |             ON s.event_type = c.event_type AND s.hr = c.hr),
      |st AS (SELECT event_type, count(*) AS n, sum(c) AS s,
      |              sum(CAST(c AS HUGEINT) * c) AS q
      |       FROM filled GROUP BY event_type)
      |SELECT f.event_type, f.hr AS hour_idx, CAST(f.c AS BIGINT) AS n_events,
      |       CAST(t.s AS DOUBLE)/CAST(t.n AS DOUBLE) AS mean_per_hour,
      |       CAST(t.n AS BIGINT) AS n_hours
      |FROM filled f JOIN st t USING (event_type)
      |WHERE CAST(t.n AS HUGEINT) * f.c - t.s > 0
      |  AND (CAST(t.n AS HUGEINT) - 1)
      |        * (CAST(t.n AS HUGEINT) * f.c - t.s)
      |        * (CAST(t.n AS HUGEINT) * f.c - t.s)
      |      > 9 * CAST(t.n AS HUGEINT)
      |        * (CAST(t.n AS HUGEINT) * t.q - CAST(t.s AS HUGEINT) * t.s)
      |ORDER BY f.event_type, hour_idx""".stripMargin

  // ----------------------------------------------------- supplier_scorecard
  /** Per-supplier operational KPI panel: discounted revenue, return
    * rate (returnflag = 'R' share), mean order-to-ship delay, and
    * catalog breadth — the vendor review a procurement team reads
    * (q21's waiting-supplier count is the escalation view; this is the
    * scheduled scorecard). Revenue uses the exact integer revUnits
    * discipline (cents × discount basis points, DECIMAL(38,0) sums);
    * rate and delay are single boundary divisions of exact integers.
    *
    * Scale: one fact join (lineitem ⋈ orders on the order key — both
    * sides shuffle once, AQE sizes it) into one map-side-combined
    * supplier rollup; countDistinct(part) partial-aggregates per
    * partition before the exchange.
    *
    * r15 (guide §2.3 project-before-exchange, §5 peak pressure): the
    * join inputs narrow to integer columns BEFORE the exchange — the
    * per-line revenue unit, the return flag as 0/1, and both dates as
    * day numbers (datediff(a, b) == unix_date(a) − unix_date(b)
    * exactly, both integer day arithmetic) — so the 600M-row sf100
    * shuffle carries six longs per line instead of doubles + a string
    * + timestamps, and at scale AQE's shuffled-hash conversion (the
    * session maxShuffledHashJoinLocalMapThreshold dial) replaces the
    * two 600M/150M-row sorts with per-partition hash builds — the r14
    * repeat-run OOM's spill pressure. Every aggregate folds the same
    * exact integers; results are bit-identical. */
  def supplierScorecard(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).select(
      col("l_orderkey"), col("l_suppkey"), col("l_partkey"),
      Relational.revUnits(col("l_extendedprice"), col("l_discount")).as("revu"),
      when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret"),
      unix_date(to_date(col("l_shipdate"))).as("ship_day"))
    val o = Tables.orders(spark, dir).select(
      col("o_orderkey"), unix_date(to_date(col("o_orderdate"))).as("o_day"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_suppkey").as("suppkey"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(col("revu").cast("decimal(38,0)")).cast("double") / 1000000.0)
          .as("revenue"),
        sum(col("ret")).as("n_returned"),
        sum((col("ship_day") - col("o_day")).cast("long")).as("delay_sum"),
        countDistinct(col("l_partkey")).as("n_parts"))
      .select(col("suppkey"), col("n_lines"), col("revenue"),
        (round(col("n_returned").cast("double") / col("n_lines").cast("double"), 4)
          + 0.0).as("return_rate"),
        (round(col("delay_sum").cast("double") / col("n_lines").cast("double"), 2)
          + 0.0).as("avg_ship_delay"),
        col("n_parts"))
      .orderBy(col("suppkey"))
  }

  val supplierScorecardSql: String =
    """WITH s AS (
      |  SELECT l_suppkey AS suppkey, count(*) AS n_lines,
      |    CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |             * (10000 - CAST(round(l_discount*10000) AS BIGINT))) AS DOUBLE)
      |      / 1000000.0 AS revenue,
      |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS n_returned,
      |    sum(CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT)) AS delay_sum,
      |    count(DISTINCT l_partkey) AS n_parts
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1)
      |SELECT suppkey, n_lines, revenue,
      |       round(CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE), 4) + 0.0 AS return_rate,
      |       round(CAST(delay_sum AS DOUBLE) / CAST(n_lines AS DOUBLE), 2) + 0.0 AS avg_ship_delay,
      |       CAST(n_parts AS BIGINT) AS n_parts
      |FROM s ORDER BY suppkey""".stripMargin

  // ----------------------------------------------------- orders_customer_hhi
  /** Customer revenue concentration per nation: the Herfindahl index
    * (Σ share²) and the top-5 customer share — the concentration-risk
    * read a finance team runs per market ("is this nation's revenue one
    * lost account away from halving"). HHI numerator/denominator are
    * exact integer-cents products (s_i² sums in DECIMAL(38,0) ↔ the
    * oracle's HUGEINT — the vec_stats overflow discipline); both
    * reported ratios are single boundary divisions.
    *
    * Scale: one fact rollup to (nation, customer) revenue (staged — it
    * feeds the HHI aggregate AND the top-5 rank); the top-5 uses the
    * two-level shard-then-final window (a per-nation partition is
    * customers-per-nation, data-scaled — the ann_pq_topk lesson), so no
    * task ever holds a whole nation. */
  def ordersCustomerHhi(spark: SparkSession, dir: String): DataFrame = {
    val rev = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nation"), col("c_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("s")))
    val tot = rev.groupBy(col("nation"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("s").cast("decimal(38,0)")).as("st"),
        sum((col("s").cast("decimal(38,0)") * col("s")).cast("decimal(38,0)")).as("sq"))
    val wShard = Window.partitionBy(col("nation"), pmod(col("c_custkey"), lit(32L)))
      .orderBy(col("s").desc, col("c_custkey"))
    val wNation = Window.partitionBy(col("nation"))
      .orderBy(col("s").desc, col("c_custkey"))
    val top5 = rev
      .withColumn("rs", row_number().over(wShard)).filter(col("rs") <= 5)
      .withColumn("r", row_number().over(wNation)).filter(col("r") <= 5)
      .groupBy(col("nation")).agg(sum(col("s").cast("decimal(38,0)")).as("s5"))
    tot.join(top5, Seq("nation"))
      .select(col("nation"), col("n_customers"),
        (round(col("sq").cast("double")
          / (col("st") * col("st")).cast("double"), 6) + 0.0).as("hhi"),
        (round(col("s5").cast("double") / col("st").cast("double"), 4) + 0.0)
          .as("top5_share"))
      .orderBy(col("nation"))
  }

  val ordersCustomerHhiSql: String =
    """WITH rv AS (
      |  SELECT c_nationkey AS nation, c_custkey,
      |         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS s
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |tt AS (SELECT nation, count(*) AS n_customers,
      |              sum(CAST(s AS HUGEINT)) AS st,
      |              sum(CAST(s AS HUGEINT) * s) AS sq
      |       FROM rv GROUP BY nation),
      |t5 AS (SELECT nation, sum(CAST(s AS HUGEINT)) AS s5 FROM (
      |         SELECT nation, s,
      |                row_number() OVER (PARTITION BY nation
      |                                   ORDER BY s DESC, c_custkey) AS r
      |         FROM rv) WHERE r <= 5 GROUP BY nation)
      |SELECT tt.nation, tt.n_customers,
      |       round(CAST(sq AS DOUBLE) / CAST(st * st AS DOUBLE), 6) + 0.0 AS hhi,
      |       round(CAST(s5 AS DOUBLE) / CAST(st AS DOUBLE), 4) + 0.0 AS top5_share
      |FROM tt JOIN t5 USING (nation) ORDER BY tt.nation""".stripMargin

  // ----------------------------------------------------------- events_heatmap
  /** Usage heatmap: event count and share per (ISO weekday, hour) cell —
    * the capacity/traffic read behind batch scheduling and anomaly
    * baselines (events_value_anomaly flags outliers against type
    * distributions; this is the TIME-pattern baseline). One map-side-
    * combined aggregate into ≤168 cells, share division at the
    * boundary. Spark's weekday() (0=Mon) maps to DuckDB's isodow
    * (1=Mon) via +1 — pinned here so the mirrors agree on the axis. */
  def eventsHeatmap(spark: SparkSession, dir: String): DataFrame = {
    val cells = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      Tables.events(spark, dir)
        .groupBy((weekday(col("ts")) + 1).cast("int").as("isodow"),
          hour(col("ts")).cast("int").as("hour"))
        .agg(count(lit(1)).as("n")))
    val tot = cells.agg(sum(col("n")).as("nt"))
    cells.crossJoin(broadcast(tot))
      .select(col("isodow"), col("hour"), col("n"),
        (round(col("n").cast("double") / col("nt").cast("double"), 6) + 0.0)
          .as("share"))
      .orderBy(col("isodow"), col("hour"))
  }

  val eventsHeatmapSql: String =
    """WITH c AS (SELECT CAST(isodow(ts) AS INT) AS isodow,
      |                  CAST(hour(ts) AS INT) AS hour, count(*) AS n
      |           FROM events GROUP BY 1, 2),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM c)
      |SELECT isodow, hour, n,
      |       round(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE), 6) + 0.0 AS share
      |FROM c, t ORDER BY isodow, hour""".stripMargin

  // --------------------------------------------------------- orders_gap_dist
  /** Inter-purchase interval distribution: per customer the day gaps
    * between consecutive orders, bucketed — the repeat-purchase cadence
    * read (feeds churn alarms: a customer whose current silence exceeds
    * the distribution's tail is churning; orders_rfm's recency is the
    * point estimate, this is the base rate behind it).
    *
    * Scale: one lag window per customer partition (bounded by that
    * customer's order count — never a global order), then a 5-bucket
    * rollup whose share division is the single float at the boundary.
    * Ties on a day are ordered by o_orderkey, so the lag is total and
    * both engines see identical gaps. */
  def ordersGapDist(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val gaps = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
      .withColumn("gap", datediff(col("o_orderdate"),
        lag(col("o_orderdate"), 1).over(w)))
      .filter(col("gap").isNotNull)
    val bucket = when(col("gap") === 0, "0_same_day")
      .when(col("gap") <= 7, "1_week")
      .when(col("gap") <= 30, "2_month")
      .when(col("gap") <= 90, "3_quarter")
      .otherwise("4_longer")
    val total = gaps.agg(count(lit(1)).as("n_total"))
    gaps.select(bucket.as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_gaps"))
      .crossJoin(broadcast(total))
      .select(col("bucket"), col("n_gaps"),
        (round(col("n_gaps").cast("double") / col("n_total").cast("double"), 6) + 0.0)
          .as("share"))
      .orderBy(col("bucket"))
  }

  val ordersGapDistSql: String =
    """WITH g AS (
      |  SELECT date_diff('day',
      |           lag(o_orderdate) OVER (PARTITION BY o_custkey
      |                                  ORDER BY o_orderdate, o_orderkey),
      |           o_orderdate) AS gap
      |  FROM orders),
      |gg AS (SELECT CASE WHEN gap = 0 THEN '0_same_day'
      |                   WHEN gap <= 7 THEN '1_week'
      |                   WHEN gap <= 30 THEN '2_month'
      |                   WHEN gap <= 90 THEN '3_quarter'
      |                   ELSE '4_longer' END AS bucket
      |       FROM g WHERE gap IS NOT NULL),
      |t AS (SELECT count(*) AS n_total FROM gg)
      |SELECT bucket, count(*) AS n_gaps,
      |       round(CAST(count(*) AS DOUBLE) / (SELECT CAST(n_total AS DOUBLE) FROM t), 6) + 0.0 AS share
      |FROM gg GROUP BY bucket ORDER BY bucket""".stripMargin

  // -------------------------------------------------------- events_ohlc_bars
  /** OHLC bar resampling: per (event_type, hour) the open/high/low/close
    * of `value` plus event count and summed volume — the market-data
    * downsample shape (time-series → fixed bars) every telemetry or
    * price pipeline runs; fin_sparse_fill/fin_interpolate operate on
    * monthly bars, this produces them from raw events.
    *
    * Open/close are the value at the first/last event of the bar under
    * the TOTAL (ts, event_id) order — computed as one min/max over a
    * (ts, event_id, value) struct (lexicographic struct comparison is
    * identical in Spark and DuckDB, and event_id uniqueness means the
    * value field never decides), so no row_number window and no second
    * pass: the whole bar is ONE map-side-combined aggregate on the
    * (type, bar) key — the ideal 100 TB shape (bars are
    * calendar-bounded, the shuffle carries ≤|types|·|hours| combined
    * rows per map partition). Money stays exact integer cents until
    * the boundary /100 casts. */
  def eventsOhlcBars(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000 * 1000
    val e = Tables.eventsUs(spark, dir)
      .select(col("event_type"), col("event_id"), col("ts_us"),
        cents(col("value")).as("vc"))
      .withColumn("bar_us", col("ts_us") - pmod(col("ts_us"), lit(hourUs)))
    e.groupBy(col("event_type"), col("bar_us"))
      .agg(
        min(struct(col("ts_us"), col("event_id"), col("vc"))).as("o"),
        max(struct(col("ts_us"), col("event_id"), col("vc"))).as("c"),
        min(col("vc")).as("lo_c"), max(col("vc")).as("hi_c"),
        count(lit(1)).as("n_events"), sum(col("vc")).as("sum_c"))
      .select(col("event_type"), col("bar_us"),
        dollars(col("o").getField("vc")).as("open"),
        dollars(col("hi_c")).as("high"),
        dollars(col("lo_c")).as("low"),
        dollars(col("c").getField("vc")).as("close"),
        col("n_events"),
        dollars(col("sum_c")).as("volume"))
      .orderBy(col("event_type"), col("bar_us"))
  }

  val eventsOhlcBarsSql: String =
    """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
      |                  CAST(round(value*100) AS BIGINT) AS vc FROM events),
      |b AS (SELECT *, ts_us - ts_us % 3600000000 AS bar_us FROM e),
      |g AS (SELECT event_type, bar_us,
      |        min({'ts': ts_us, 'id': event_id, 'vc': vc}) AS o,
      |        max({'ts': ts_us, 'id': event_id, 'vc': vc}) AS c,
      |        min(vc) AS lo_c, max(vc) AS hi_c,
      |        count(*) AS n_events, CAST(sum(vc) AS BIGINT) AS sum_c
      |      FROM b GROUP BY 1, 2)
      |SELECT event_type, bar_us,
      |  CAST(o.vc AS DOUBLE)/100.0 AS open,
      |  CAST(hi_c AS DOUBLE)/100.0 AS high,
      |  CAST(lo_c AS DOUBLE)/100.0 AS low,
      |  CAST(c.vc AS DOUBLE)/100.0 AS close,
      |  n_events,
      |  CAST(sum_c AS DOUBLE)/100.0 AS volume
      |FROM g ORDER BY event_type, bar_us""".stripMargin

  // -------------------------------------------------------- parts_abc_class
  /** ABC classification of the part catalog by discounted revenue — the
    * inventory-management read (A ≈ top-80% of revenue, B next 15%,
    * C tail) that decides cycle-count frequency and stocking policy.
    * Output is the 3-row class panel: part counts, part share, revenue,
    * revenue share per class. A part's class comes from its EXACT global
    * cumulative revenue position under the total (revenue DESC, partkey)
    * order; the boundary part that crosses 80%/95% goes to the next
    * class on BOTH engines (integer cross-multiplied comparison
    * cum·100 ≤ tot·k — never a float threshold).
    *
    * Scale: the naive form is a GLOBAL cumulative-sum window (one
    * reducer sorts every part — dies at 100×). Instead the
    * rank_stats_eqdepth discipline applied to cumulative SUMS: one
    * approx_percentile sketch buckets parts into ~n/B equi-depth bands
    * (boundaries only place rows in bands — any boundaries yield the
    * same final cums, so sketch approximation cannot change one output
    * bit); per-band totals (≤B rows) give each band its exact revenue
    * offset; the running sum inside a band is a band-partitioned
    * window over ~n/B rows. double() is monotone, so cross-band order
    * is strict and equal revenues land in one band. Revenue sums are
    * exact DECIMAL(38,0)/HUGEINT revUnits end-to-end; the shares are
    * the boundary divisions. */
  def partsAbcClass(spark: SparkSession, dir: String): DataFrame = {
    val B = 32
    val pr = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      Tables.lineitem(spark, dir)
        .groupBy(col("l_partkey").as("pk"))
        .agg(sum(Relational.revUnits(col("l_extendedprice"), col("l_discount"))
          .cast("decimal(38,0)")).as("rev")))
    val probs = array((1 until B).map(i => lit(i.toDouble / B)): _*)
    val bnds = pr.agg(
      percentile_approx(col("rev").cast("double"), probs, lit(10000)).as("bnds"))
    // staged: bucketed feeds the band histogram AND the classed join —
    // unstaged, the percentile sketch subtree would run once per consumer
    // (the aliased-reuse miss the dedup/part_affinity staging fixed)
    val bucketed = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      pr.crossJoin(broadcast(bnds))
        .withColumn("bkt",
          size(filter(col("bnds"), b => b > col("rev").cast("double"))).cast("int"))
        .drop("bnds"))
    val classed = ExactRank.runningSum(bucketed, Nil, "bkt",
        Seq(col("rev").desc, col("pk")), col("rev"))
      .withColumn("cls",
        when(col("cum") * 100 <= col("tot") * 80, "A")
          .when(col("cum") * 100 <= col("tot") * 95, "B")
          .otherwise("C"))
    val wAll = Window.partitionBy()
    classed.groupBy(col("cls"))
      .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("rev_cls"))
      .withColumn("np_tot", sum(col("n_parts")).over(wAll))
      .withColumn("rev_tot", sum(col("rev_cls")).over(wAll))
      .select(col("cls"), col("n_parts"),
        (round(col("n_parts").cast("double") / col("np_tot").cast("double"), 6)
          + 0.0).as("share_parts"),
        (col("rev_cls").cast("double") / 1000000.0).as("revenue"),
        (round(col("rev_cls").cast("double") / col("rev_tot").cast("double"), 6)
          + 0.0).as("share_rev"))
      .orderBy(col("cls"))
  }

  val partsAbcClassSql: String =
    """WITH pr AS (
      |  SELECT l_partkey AS pk,
      |    sum(CAST(CAST(round(l_extendedprice*100) AS BIGINT)
      |        * (10000 - CAST(round(l_discount*10000) AS BIGINT)) AS HUGEINT)) AS rev
      |  FROM lineitem GROUP BY 1),
      |c AS (SELECT pk, rev,
      |        sum(rev) OVER (ORDER BY rev DESC, pk
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |        (SELECT sum(rev) FROM pr) AS tot
      |      FROM pr),
      |cl AS (SELECT CASE WHEN cum*100 <= tot*80 THEN 'A'
      |                   WHEN cum*100 <= tot*95 THEN 'B'
      |                   ELSE 'C' END AS cls, rev FROM c),
      |agg AS (SELECT cls, count(*) AS n_parts, sum(rev) AS rev_cls FROM cl GROUP BY cls),
      |t AS (SELECT sum(n_parts) AS np_tot, sum(rev_cls) AS rev_tot FROM agg)
      |SELECT cls, n_parts,
      |       round(CAST(n_parts AS DOUBLE) / CAST(np_tot AS DOUBLE), 6) + 0.0 AS share_parts,
      |       CAST(rev_cls AS DOUBLE) / 1000000.0 AS revenue,
      |       round(CAST(rev_cls AS DOUBLE) / CAST(rev_tot AS DOUBLE), 6) + 0.0 AS share_rev
      |FROM agg, t ORDER BY cls""".stripMargin

  // ------------------------------------------------------ customer_lifecycle
  /** Monthly growth accounting of the customer base (the "quick ratio"
    * decomposition popularized by Social Capital's growth-accounting
    * framework): per month the customers that are NEW (first-ever
    * order), RETAINED (also ordered the previous month), RESURRECTED
    * (ordered before, but not the previous month), and CHURNED
    * (ordered the previous month, silent this month — attributed to
    * the month they went silent), plus active = new+retained+
    * resurrected and quick ratio = (new+resurrected)/churned. This is
    * the standard "is growth real or churn-masked" executive read over
    * the same orders fact orders_rfm/retention_cohort segment.
    *
    * Scale: one map-side-combined distinct over (custkey, month) —
    * output ≤ customers × active months — staged once for its two
    * consumers (the max-month probe and the window); one custkey-
    * partitioned lag/lead window (partition = a customer's active
    * months, never data-scaled); churn emission is the rolling-MAU
    * interval-delta trick (a +1/'churned' row at m+1 when the next
    * active month isn't consecutive) so no calendar explode ever
    * happens; a month-keyed rollup to ≤|months| rows. The global last
    * month is a broadcast 1-row aggregate — churn is CENSORED there
    * (silence after the observation window ends is not churn). Exact
    * integers end-to-end; the quick ratio is the one boundary
    * division, NULL on zero-churn months. */
  def customerLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val cm = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      Tables.orders(spark, dir)
        .select(col("o_custkey").as("ck"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("int").as("m"))
        .distinct())
    val maxM = cm.agg(max(col("m")).as("max_m"))
    val w = Window.partitionBy(col("ck")).orderBy(col("m"))
    val st = cm
      .withColumn("prev_m", lag(col("m"), 1).over(w))
      .withColumn("next_m", lead(col("m"), 1).over(w))
      .crossJoin(broadcast(maxM))
      .select(explode(array(
        struct(col("m"),
          when(col("prev_m").isNull, lit("new"))
            .when(col("prev_m") === col("m") - 1, lit("retained"))
            .otherwise(lit("resurrected")).as("st")),
        struct((col("m") + 1).as("m"),
          when((col("next_m").isNull || col("next_m") > col("m") + 1) &&
            col("m") + 1 <= col("max_m"), lit("churned")).as("st"))))
        .as("x"))
      .select(col("x.m").as("m"), col("x.st").as("st"))
      .filter(col("st").isNotNull)
    st.groupBy(col("m"))
      .agg(
        sum(when(col("st") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("st") === "retained", 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("st") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"),
        sum(when(col("st") === "churned", 1L).otherwise(0L)).as("n_churned"))
      .select(col("m").as("month_id"), col("n_new"), col("n_retained"),
        col("n_resurrected"), col("n_churned"),
        (col("n_new") + col("n_retained") + col("n_resurrected")).as("n_active"),
        when(col("n_churned") === 0L, lit(null).cast("double"))
          .otherwise(round((col("n_new") + col("n_resurrected")).cast("double")
            / col("n_churned").cast("double"), 6) + 0.0).as("quick_ratio"))
      .orderBy(col("month_id"))
  }

  val customerLifecycleSql: String =
    """WITH cm AS (SELECT DISTINCT o_custkey AS ck,
      |    CAST(year(o_orderdate)*12 + month(o_orderdate) AS INT) AS m FROM orders),
      |mx AS (SELECT max(m) AS max_m FROM cm),
      |lb AS (SELECT ck, m,
      |         lag(m)  OVER (PARTITION BY ck ORDER BY m) AS prev_m,
      |         lead(m) OVER (PARTITION BY ck ORDER BY m) AS next_m
      |       FROM cm),
      |st AS (
      |  SELECT m, CASE WHEN prev_m IS NULL THEN 'new'
      |                 WHEN prev_m = m - 1 THEN 'retained'
      |                 ELSE 'resurrected' END AS st
      |  FROM lb
      |  UNION ALL
      |  SELECT m + 1 AS m, 'churned' AS st FROM lb, mx
      |  WHERE (next_m IS NULL OR next_m > m + 1) AND m + 1 <= max_m),
      |agg AS (
      |  SELECT m AS month_id,
      |    CAST(sum(CASE WHEN st='new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |    CAST(sum(CASE WHEN st='retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
      |    CAST(sum(CASE WHEN st='resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
      |    CAST(sum(CASE WHEN st='churned' THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
      |  FROM st GROUP BY m)
      |SELECT month_id, n_new, n_retained, n_resurrected, n_churned,
      |       n_new + n_retained + n_resurrected AS n_active,
      |       CASE WHEN n_churned = 0 THEN NULL
      |            ELSE round(CAST(n_new + n_resurrected AS DOUBLE)
      |                       / CAST(n_churned AS DOUBLE), 6) + 0.0 END AS quick_ratio
      |FROM agg ORDER BY month_id""".stripMargin

  // ------------------------------------------------------ customer_survival
  /** Kaplan–Meier retention curve over customer lifetimes (Kaplan &
    * Meier JASA'58) — customer_lifecycle's longitudinal twin: lifecycle
    * publishes per-MONTH flow counts, this publishes per-TENURE survival
    * "what fraction of customers are still active t months after their
    * first order", correctly handling right censoring (a customer whose
    * last order is within `CensorGapMonths` of the corpus end has not
    * churned — they just haven't been observed long enough; counting
    * them as churned biases every retention number down).
    *
    * Per customer: tenure T = last−first order month, event = churned
    * iff last < corpus_max − gap. Per tenure t: d_t churned, c_t
    * censored, at-risk n_t = Σ_{s≥t}(d_s+c_s) (suffix sum), hazard
    * d_t/n_t, and S(t) = Π_{s≤t}(1 − d_s/n_s).
    *
    * Exactness: d/c/n are exact integers; each KM factor is 1 − ONE
    * exactly-rounded division; the cumulative product folds the factor
    * list in ascending-tenure order — Spark's cumulative collect_list +
    * aggregate(…, 1.0, *) against DuckDB's windowed list() +
    * list_reduce multiply the identical doubles in the identical order
    * (1.0·f₁ ≡ f₁ exactly), so the curve is bit-identical.
    *
    * Scale: one orders shuffle (per-customer min/max, map-side
    * combined, STAGED — it feeds both the max-month aggregate and the
    * tenure rollup), a broadcast 1-row corpus max, then a ≤|months|-row
    * panel; the suffix sum, factor list, and fold are global windows
    * over that calendar-bounded panel (the orders_pareto post-aggregate
    * exception — never data-scaled). */
  val CensorGapMonths = 6

  def customerSurvival(spark: SparkSession, dir: String): DataFrame =
    customerSurvivalFrom(Tables.orders(spark, dir))

  private[graft] def customerSurvivalFrom(orders: DataFrame): DataFrame = {
    val mi = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      orders
        .select(col("o_custkey"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("int").as("m"))
        .groupBy(col("o_custkey"))
        .agg(min(col("m")).as("fm"), max(col("m")).as("lm")))
    val mx = mi.agg(max(col("lm")).as("max_m"))
    val pa = mi.crossJoin(broadcast(mx))
      .select((col("lm") - col("fm")).as("t"),
        (col("lm") < col("max_m") - CensorGapMonths).cast("long").as("ev"))
      .groupBy(col("t"))
      .agg(sum(col("ev")).as("d"), sum(lit(1L) - col("ev")).as("c"),
        count(lit(1)).as("tot"))
    val wDesc = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAsc = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    pa.withColumn("n", sum(col("tot")).over(wDesc))
      .withColumn("f",
        lit(1.0) - col("d").cast("double") / col("n").cast("double"))
      .withColumn("fs", collect_list(col("f")).over(wAsc))
      .select(col("t").cast("int").as("tenure_months"),
        col("n").as("n_risk"), col("d").as("n_churn"), col("c").as("n_censor"),
        (col("d").cast("double") / col("n").cast("double") + 0.0).as("hazard"),
        (expr("aggregate(fs, CAST(1.0 AS DOUBLE), (acc, x) -> acc * x)") + 0.0)
          .as("km_survival"))
      .orderBy(col("tenure_months"))
  }

  val customerSurvivalSql: String =
    s"""WITH sv_mi AS (
      |  SELECT o_custkey,
      |         min(year(o_orderdate)*12 + month(o_orderdate)) AS fm,
      |         max(year(o_orderdate)*12 + month(o_orderdate)) AS lm
      |  FROM orders GROUP BY o_custkey),
      |sv_mx AS (SELECT max(lm) AS max_m FROM sv_mi),
      |sv_pa AS (
      |  SELECT lm - fm AS t,
      |         CAST(sum(CASE WHEN lm < max_m - $CensorGapMonths THEN 1 ELSE 0 END)
      |           AS BIGINT) AS d,
      |         CAST(sum(CASE WHEN lm < max_m - $CensorGapMonths THEN 0 ELSE 1 END)
      |           AS BIGINT) AS c,
      |         count(*) AS tot
      |  FROM sv_mi, sv_mx GROUP BY t),
      |sv_n AS (
      |  SELECT *, CAST(sum(tot) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING)
      |              AS BIGINT) AS n
      |  FROM sv_pa),
      |sv_f AS (SELECT *, 1.0 - CAST(d AS DOUBLE)/CAST(n AS DOUBLE) AS f FROM sv_n)
      |SELECT CAST(t AS INT) AS tenure_months, n AS n_risk, d AS n_churn,
      |       c AS n_censor,
      |       CAST(d AS DOUBLE)/CAST(n AS DOUBLE) + 0.0 AS hazard,
      |       list_reduce(list(f) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING),
      |                   (a, b) -> a * b) + 0.0 AS km_survival
      |FROM sv_f ORDER BY tenure_months""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "customer_survival" -> (customerSurvival _),
    "customer_lifecycle" -> (customerLifecycle _),
    "events_ohlc_bars" -> (eventsOhlcBars _),
    "parts_abc_class" -> (partsAbcClass _),
    "supplier_scorecard" -> (supplierScorecard _),
    "orders_customer_hhi" -> (ordersCustomerHhi _),
    "events_heatmap" -> (eventsHeatmap _),
    "orders_gap_dist" -> (ordersGapDist _),
    "events_value_anomaly" -> (eventsValueAnomaly _),
    "orders_cohort_ltv" -> (ordersCohortLtv _),
    "events_top_paths" -> (eventsTopPaths _),
    "part_affinity" -> (partAffinity _),
    "orders_basket_rules" -> (ordersBasketRules _),
    "cube_agg" -> (cubeAgg _),
    "rank_stats" -> (rankStats _),
    "rank_stats_scalable" -> (rankStatsScalable _),
    "rank_stats_eqdepth" -> (rankStatsEqdepth _),
    "events_funnel" -> (eventsFunnel _),
    "events_funnel_time" -> (eventsFunnelTime _),
    "retention_cohort" -> (retentionCohort _),
    "events_retention_curve" -> (eventsRetentionCurve _),
    "fin_sparse_fill" -> (finSparseFill _),
    "fin_interpolate" -> (finInterpolate _),
    "scd2_intervals" -> (scd2Intervals _),
    "scd2_merge" -> (scd2Merge _),
    "scd2_asof" -> (scd2Asof _),
    "event_transitions" -> (eventTransitions _),
    "events_markov_steady" -> (eventsMarkovSteady _),
    "parts_supply_risk" -> (partsSupplyRisk _),
    "event_transition_time" -> (eventTransitionTime _),
    "events_burst_detect" -> (eventsBurstDetect _),
    "skew_salted_agg" -> (skewSaltedAgg _),
    "skew_salted_auto" -> (skewSaltedAuto _),
    "skew_eval" -> (skewEval _),
    "event_attribution" -> (eventAttribution _),
    "events_dau_mau" -> (eventsDauMau _),
    "events_rolling_mau" -> (eventsRollingMau _),
    "orders_rfm" -> (ordersRfm _),
    "orders_pareto" -> (ordersPareto _)
  )

  def oracles: Map[String, String] = Map(
    "customer_survival" -> customerSurvivalSql,
    "customer_lifecycle" -> customerLifecycleSql,
    "events_ohlc_bars" -> eventsOhlcBarsSql,
    "parts_abc_class" -> partsAbcClassSql,
    "supplier_scorecard" -> supplierScorecardSql,
    "orders_customer_hhi" -> ordersCustomerHhiSql,
    "events_heatmap" -> eventsHeatmapSql,
    "orders_gap_dist" -> ordersGapDistSql,
    "events_value_anomaly" -> eventsValueAnomalySql,
    "orders_cohort_ltv" -> ordersCohortLtvSql,
    "events_top_paths" -> eventsTopPathsSql,
    "part_affinity" -> partAffinitySql,
    "orders_basket_rules" -> ordersBasketRulesSql,
    "cube_agg" -> cubeAggSql,
    "rank_stats" -> rankStatsSql,
    // exact by construction → the oracle is literally rank_stats' SQL:
    // the bucketed two-pass rank must not change one bit of output.
    "rank_stats_scalable" -> rankStatsSql,
    "rank_stats_eqdepth" -> rankStatsSql,
    "events_funnel" -> eventsFunnelSql,
    "events_funnel_time" -> eventsFunnelTimeSql,
    "retention_cohort" -> retentionCohortSql,
    "events_retention_curve" -> eventsRetentionCurveSql,
    "fin_sparse_fill" -> finSparseFillSql,
    "fin_interpolate" -> finInterpolateSql,
    "scd2_intervals" -> scd2IntervalsSql,
    // the merge's contract IS from-scratch equality: same oracle verbatim
    "scd2_merge" -> scd2IntervalsSql,
    "scd2_asof" -> scd2AsofSql,
    "event_transitions" -> eventTransitionsSql,
    "events_markov_steady" -> eventsMarkovSteadySql,
    "parts_supply_risk" -> partsSupplyRiskSql,
    "event_transition_time" -> eventTransitionTimeSql,
    "events_burst_detect" -> eventsBurstDetectSql,
    "skew_salted_agg" -> skewSaltedAggSql,
    "skew_salted_auto" -> skewSaltedAutoSql,
    "skew_eval" -> skewEvalSql,
    "event_attribution" -> eventAttributionSql,
    "events_dau_mau" -> eventsDauMauSql,
    "events_rolling_mau" -> eventsRollingMauSql,
    "orders_rfm" -> ordersRfmSql,
    "orders_pareto" -> ordersParetoSql
  )
}
