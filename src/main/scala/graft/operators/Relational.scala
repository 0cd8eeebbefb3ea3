package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Relational / OLAP query surface (SURVEY.md §2B).
  *
  * Oracle-parity rules (SURVEY.md §5): money sums are computed exactly in
  * integer cents (`round(x*100)` → BIGINT sum) and divided back to DOUBLE,
  * so Spark and DuckDB produce bit-identical doubles regardless of
  * aggregation order; every output column is explicitly typed; every query
  * is deterministically ordered.
  *
  * Scale notes are per-query Scaladoc — every plan here survives a 100 TB
  * fact table: dims broadcast, windows partition on high-cardinality keys,
  * aggregation is map-side-combined, and nothing collects to the driver.
  */
object Relational {

  /** Exact money arithmetic: 2-decimal dollars-as-double → integer cents. */
  private[operators] def cents(c: Column): Column = round(c * lit(100)).cast("long")

  /** Exact revenue in cents×basis-points: price_cents * (10000 - disc_bp).
    * ~1e10-1e11 per row — a Long SUM would overflow around 1e7 rows/group
    * at 100 TB (ANSI error in Spark 4, silent HUGEINT promotion in
    * DuckDB). Summed as DECIMAL(38,0) for exact 38-digit headroom, the
    * same effective width as DuckDB's HUGEINT promotion. */
  private[operators] def revUnits(price: Column, disc: Column): Column =
    cents(price) * (lit(10000L) - round(disc * lit(10000)).cast("long"))

  /** Exact overflow-safe sum of revUnits → dollars as double. */
  private[operators] def sumRevDollars(price: Column, disc: Column): Column =
    (sum(revUnits(price, disc).cast("decimal(38,0)")).cast("double") / 1000000.0)

  private[operators] def dollars(sumCents: Column): Column = sumCents.cast("double") / 100.0

  // ---------------------------------------------------------------- q1_agg
  /** TPC-H Q1 shape: scan-heavy grouped aggregation on lineitem.
    * Scale: partial aggregation (map-side combine) → the shuffle carries
    * |groups| rows per map partition, not |input|; stays in one
    * WholeStageCodegen span with the parquet scan. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dollars(sum(cents(col("l_quantity")))).as("sum_qty"),
        dollars(sum(cents(col("l_extendedprice")))).as("sum_base_price"),
        count(lit(1)).as("count_order"),
        (sum(cents(col("l_quantity"))).cast("double") / 100.0 / count(lit(1))).as("avg_qty"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_qty,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_base_price,
      |  count(*) AS count_order,
      |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0/count(*) AS avg_qty
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ----------------------------------------------------------- q3_join_agg
  /** TPC-H Q3 shape: selective dim filter → fact join → agg → top-N.
    * Scale: customer filter applied before the join (Catalyst pushes it to
    * the scan); orders⋈lineitem shuffles on orderkey once; top-10 is a
    * TakeOrderedAndProject (no global sort materialization). customer is
    * deliberately UNHINTED — unlike nation/region it grows with the fact,
    * so a static broadcast() OOMs at 100×; AQE sizes it at runtime
    * (broadcast at gate scale, graceful shuffle when it outgrows the
    * threshold). */
  def q3JoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sumRevDollars(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3JoinAggSql: String =
    """SELECT l_orderkey, o_orderdate,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |           * (10000 - CAST(round(l_discount*10000) AS BIGINT))) AS DOUBLE)/1000000.0 AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > TIMESTAMP '1998-01-01'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------- q5_multi_join
  /** TPC-H Q5 shape: 4-dim star join into the fact.
    * Scale: region/nation broadcast (fixed 5/25-row dims) → the 100 TB
    * lineitem never shuffles for them; only orders⋈lineitem shuffles on
    * orderkey. customer is UNHINTED: it scales with the fact, so the
    * broadcast decision belongs to AQE, not a compile-time hint that
    * would force a multi-GB build at 100×. */
  def q5MultiJoin(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val n = Tables.nation(spark, dir)
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val l = Tables.lineitem(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sumRevDollars(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5MultiJoinSql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |           * (10000 - CAST(round(l_discount*10000) AS BIGINT))) AS DOUBLE)/1000000.0 AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  // ---------------------------------------------------------- topk_window
  /** Per-group top-k via rank window.
    * Scale: one shuffle on the partition key; rank+filter prunes to k rows
    * per group before anything else runs. (At extreme k-skew, pre-aggregate
    * a per-partition top-k first — not needed for orders-per-customer.) */
  def topkWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  val topkWindowSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  // ------------------------------------------------------------- semi_join
  /** EXISTS via left-semi join: customers holding a >400k order.
    * Scale: LeftSemi never multiplies rows; with AQE the filtered orders
    * side broadcasts when small. */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.orders(spark, dir).filter(col("o_totalprice") > 400000)
    Tables.customer(spark, dir)
      .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val semiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------------- anti_join
  /** NOT EXISTS via left-anti join: customers with no 300k+ order. */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.orders(spark, dir).filter(col("o_totalprice") > 300000)
    Tables.customer(spark, dir)
      .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val antiJoinSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      |ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------------ rollup_agg
  /** ROLLUP hierarchy totals (status → priority → grand total).
    * Scale: Spark expands rollup into a single Expand+Aggregate — one
    * shuffle for all grouping sets. Grouping-null keys are coalesced to
    * 'ALL' so the output is unambiguous. */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(dollars(sum(cents(col("o_totalprice")))).as("sum_price"),
           count(lit(1)).as("n"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("sum_price"), col("n"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))

  val rollupAggSql: String =
    """SELECT COALESCE(o_orderstatus,'ALL') AS o_orderstatus,
      |       COALESCE(o_orderpriority,'ALL') AS o_orderpriority,
      |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_price,
      |  count(*) AS n
      |FROM orders
      |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  // ------------------------------------------------------------- pivot_agg
  /** Pivot event values into per-type columns (explicit value list → single
    * aggregation pass, no extra distinct job).
    * Scale: one shuffle on user_id; pivot values are a handful of columns. */
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  def pivotAgg(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", eventTypes)
      .agg(sum(cents(col("value"))))
    p.select(col("user_id") +: eventTypes.map(t =>
        (coalesce(col(t), lit(0L)).cast("double") / 100.0).as(t)): _*)
      .orderBy(col("user_id"))
  }

  val pivotAggSql: String = {
    val cols = eventTypes.map(t =>
      s"  CAST(COALESCE(sum(CASE WHEN event_type='$t' THEN CAST(round(value*100) AS BIGINT) END),0) AS DOUBLE)/100.0 AS $t"
    ).mkString(",\n")
    s"""SELECT user_id,
       |$cols
       |FROM events
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin
  }

  // ---------------------------------------------------------- distinct_agg
  /** Exact distinct counts per group.
    * Scale: Spark plans count(distinct) as a two-phase partial-distinct
    * aggregate — the first shuffle dedupes (group, value) pairs, so the
    * second carries |distinct| rows, never |input|. */
  def distinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
           countDistinct(col("o_custkey")).as("n_customers"),
           countDistinct(col("o_orderpriority")).as("n_priorities"))
      .orderBy(col("o_orderstatus"))

  val distinctAggSql: String =
    """SELECT o_orderstatus, count(*) AS n_orders,
      |  count(DISTINCT o_custkey) AS n_customers,
      |  count(DISTINCT o_orderpriority) AS n_priorities
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ------------------------------------------------------- approx_distinct
  /** HyperLogLog approximate distinct per group (Flajolet '07) — the
    * 100 TB-scale form of distinct_agg: a fixed m=4096-register sketch per
    * group, so the plan is two ordinary map-side-combined aggregations
    * (registers, then the estimate) and NO partial-distinct expand/shuffle
    * — at most |groups|·4096 register rows ever cross an exchange, which
    * is exactly the HLL merge (max per register). r14: the register hash
    * is the 60-bit md5 prefix transport (bucket = top 12 bits, rank =
    * leading zeros of the low 48 + 1 via bin()/length — no transcendentals
    * in the per-row path), and 2^-rank sums are carried as exact integers
    * scaled by 2^49, so DuckDB replays every register and the estimate
    * bit-for-bit — the sketch is fully oracled, not rows-only. Linear
    * counting below 2.5m per the original paper; ApproxSpec keeps the ±5%
    * bound against the exact count. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val v = conv(substring(md5(col("l_partkey").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val w = v.bitwiseAND(lit((1L << 48) - 1))
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
              shiftright(v, 48).as("bucket"),
              when(w === 0L, lit(49)).otherwise(lit(49) - length(bin(w))).as("rank"))
      .groupBy(col("l_returnflag"), col("bucket"))
      .agg(max(col("rank")).as("r"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_present"),
           sum(expr("shiftleft(CAST(1 AS BIGINT), 49 - r)")).as("s_scaled"))
      .select(col("l_returnflag"),
              (lit(0.7213) / (lit(1.0) + lit(1.079) / lit(4096.0)) * lit(4096.0)
                 * lit(4096.0) * lit(562949953421312.0)
                 / (col("s_scaled")
                    + (lit(4096L) - col("n_present")) * lit(562949953421312L)))
                .as("e_raw"),
              (lit(4096L) - col("n_present")).as("v0"))
      .select(col("l_returnflag"),
              round(when(col("e_raw") <= 10240.0 && col("v0") > 0,
                         lit(4096.0) * log(lit(4096.0) / col("v0")))
                      .otherwise(col("e_raw")))
                .cast("long").as("approx_parts"))
      .orderBy(col("l_returnflag"))
  }

  val approxDistinctSql: String =
    """WITH h AS (
      |  SELECT l_returnflag,
      |    CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS v
      |  FROM lineitem),
      |r AS (
      |  SELECT l_returnflag, v >> 48 AS bucket,
      |    MAX(CASE WHEN (v & 281474976710655) = 0 THEN 49
      |             ELSE 49 - length(bin(v & 281474976710655)) END) AS r
      |  FROM h GROUP BY l_returnflag, v >> 48),
      |g AS (
      |  SELECT l_returnflag, count(*) AS n_present,
      |    CAST(SUM(CAST(1 AS BIGINT) << (49 - r)) AS BIGINT) AS s_scaled
      |  FROM r GROUP BY l_returnflag),
      |e AS (
      |  SELECT l_returnflag,
      |    CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(4096.0 AS DOUBLE))
      |      * CAST(4096.0 AS DOUBLE) * CAST(4096.0 AS DOUBLE) * CAST(562949953421312.0 AS DOUBLE)
      |      / (s_scaled + (4096 - n_present) * 562949953421312) AS e_raw,
      |    4096 - n_present AS v0
      |  FROM g)
      |SELECT l_returnflag,
      |  CAST(round(CASE WHEN e_raw <= CAST(10240.0 AS DOUBLE) AND v0 > 0
      |                  THEN CAST(4096.0 AS DOUBLE) * ln(CAST(4096.0 AS DOUBLE) / v0)
      |                  ELSE e_raw END) AS BIGINT) AS approx_parts
      |FROM e ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------- approx_percentiles
  /** Approximate percentiles per group — the 100 TB-scale form of
    * `percentiles`: exact percentile on a 3-value grouping key means tens
    * of TB per task at 100 TB → OOM, so estimate from a bounded sample
    * instead. r14: deterministic hash-threshold sampling (bottom-k by a
    * 60-bit md5 row priority, Cohen & Kaplan's bottom-k sketch shape) —
    * keep a row iff priority·n_g < k·2^60 with k=4096, so each group's
    * sample concentrates at ~k rows regardless of corpus size, selected
    * by a broadcast of |groups| counts + a map-side filter: no window, no
    * full-group sort, and the exact-percentile agg touches only ~k rows
    * per group. The hash selection is engine-independent, so DuckDB
    * replays the identical sample and interpolation — fully oracled.
    * Sampling error ~1/sqrt(k) ≈ 1.6% rank; below k rows/group the
    * threshold admits everything and the result is exact. ApproxSpec
    * keeps the ±5% bound against exact percentiles. */
  def approxPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val counts = li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_g"))
    val priority = conv(substring(
      md5(concat_ws("-", col("l_orderkey"), col("l_linenumber"))), 1, 15), 16, 10)
      .cast("long")
    li.join(broadcast(counts), "l_returnflag")
      .where(priority.cast("double") * col("n_g").cast("double")
               < lit(4096.0) * lit(1.152921504606846976e18))
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("p50_qty"),
           expr("percentile(l_quantity, 0.9)").as("p90_qty"))
      .orderBy(col("l_returnflag"))
  }

  val approxPercentilesSql: String =
    """WITH n AS (SELECT l_returnflag, count(*) AS n_g FROM lineitem GROUP BY l_returnflag),
      |s AS (
      |  SELECT l.l_returnflag, l.l_quantity
      |  FROM lineitem l JOIN n ON l.l_returnflag = n.l_returnflag
      |  WHERE CAST(CAST(concat('0x', substr(md5(concat(l.l_orderkey, '-', l.l_linenumber)), 1, 15)) AS BIGINT) AS DOUBLE)
      |        * CAST(n.n_g AS DOUBLE) < CAST(4096.0 AS DOUBLE) * CAST(1152921504606846976.0 AS DOUBLE))
      |SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS p50_qty,
      |       quantile_cont(l_quantity, 0.9) AS p90_qty
      |FROM s GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------------ percentiles
  /** Exact interpolated percentiles per group (DuckDB quantile_cont
    * parity). Scale: exact percentile sorts within groups — fine for
    * bounded groups; at 100 TB with huge groups switch to
    * approx_percentile (same API shape). */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("p50_qty"),
           expr("percentile(l_quantity, 0.9)").as("p90_qty"))
      .orderBy(col("l_returnflag"))

  val percentilesSql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.5) AS p50_qty,
      |  quantile_cont(l_quantity, 0.9) AS p90_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------------ string_agg
  /** Ordered grouped string concatenation (sorted for determinism). */
  def stringAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir)
      .groupBy(col("n_regionkey"))
      .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"))
      .orderBy(col("n_regionkey"))

  val stringAggSql: String =
    """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // ---------------------------------------------------------- json_extract
  /** JSON field extraction from a string column, then aggregate.
    * Scale: get_json_object is codegen'd; no UDF. For repeated multi-field
    * extraction prefer from_json once into a struct. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n"))
      .orderBy(col("event_type"))

  val jsonExtractSql: String =
    """SELECT event_type,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  count(json_extract_string(props, '$.k')) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------- asof_join
  /** As-of join: for each purchase, the latest prior click by the same
    * user. Implemented as union + last(ignoreNulls) running window — ONE
    * shuffle on user_id, no range self-join, no row explosion; this is the
    * 100 TB-safe formulation (a range join would explode on active users).
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsUs(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), lit(0).as("tag"),
        col("event_id").as("oid"), lit(null).cast("long").as("event_id"), col("value"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), lit(1).as("tag"),
        col("event_id").as("oid"), col("event_id"), col("value"))
    // click sorts before purchase at equal ts => ts<=ts counts as prior;
    // oid (source event_id) breaks equal-(ts,tag) ties so the chosen click
    // is deterministic — the oracle SQL pins the identical ordering.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("tag"), col("oid"))
      .rowsBetween(Window.unboundedPreceding, 0)
    clicks.unionByName(purchases)
      .withColumn("click_ts_us", last(when(col("tag") === 0, col("ts_us")), ignoreNulls = true).over(w))
      .withColumn("click_value", last(when(col("tag") === 0, col("value")), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("click_ts_us"), col("click_value"))
      .orderBy(col("event_id"))
  }

  /** Oracle mirrors the union+window formulation (not ASOF JOIN) so both
    * engines share the same deterministic tie semantics at duplicate
    * (user_id, ts) clicks: max event_id wins. */
  val asofJoinSql: String =
    """WITH u AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, 0 AS tag, event_id AS oid,
      |         CAST(NULL AS BIGINT) AS event_id, value FROM events WHERE event_type='click'
      |  UNION ALL
      |  SELECT user_id, epoch_us(ts), 1, event_id, event_id, value FROM events WHERE event_type='purchase'),
      |w AS (
      |  SELECT *,
      |    last_value(CASE WHEN tag=0 THEN ts_us END IGNORE NULLS) OVER win AS click_ts_us,
      |    last_value(CASE WHEN tag=0 THEN value END IGNORE NULLS) OVER win AS click_value
      |  FROM u WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, tag, oid ROWS UNBOUNDED PRECEDING))
      |SELECT event_id, user_id, ts_us, click_ts_us, click_value
      |FROM w WHERE tag=1 ORDER BY event_id""".stripMargin

  // ------------------------------------------------------ asof_join_nearest
  /** NEAREST-direction as-of join (pandas merge_asof direction=
    * 'nearest'): each purchase matched to the click with the smallest
    * |Δt| on either side — asof_join's backward-only pick is right for
    * "state at time t"; nearest is right for correlating two clocks
    * that drift both ways (sensor alignment, click attribution with
    * logging skew).
    *
    * Same one-shuffle union+window shape as asof_join: ONE user_id
    * sort carries BOTH directional passes — backward = running last
    * click in [−∞, 0] (equal-ts clicks sort before the purchase, so
    * backward owns Δ = 0), forward = running first click in
    * (0, +∞] (strictly later by the same ordering). The pick is
    * integer-µs comparison, ties → backward (documented, both engines
    * identical); direction is emitted so downstream can audit skew
    * balance. Never a range join, never a cross product. */
  def asofJoinNearest(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsUs(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), lit(0).as("tag"),
        col("event_id").as("oid"), lit(null).cast("long").as("event_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), lit(1).as("tag"),
        col("event_id").as("oid"), col("event_id"))
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("tag"), col("oid"))
    val wB = ord.rowsBetween(Window.unboundedPreceding, 0)
    val wF = ord.rowsBetween(0, Window.unboundedFollowing)
    val back = col("back_ts"); val fwd = col("fwd_ts")
    val nearest = when(back.isNull && fwd.isNull, lit(null).cast("long"))
      .when(back.isNull, fwd)
      .when(fwd.isNull, back)
      .when(col("ts_us") - back <= fwd - col("ts_us"), back)
      .otherwise(fwd)
    clicks.unionByName(purchases)
      .withColumn("back_ts",
        last(when(col("tag") === 0, col("ts_us")), ignoreNulls = true).over(wB))
      .withColumn("fwd_ts",
        first(when(col("tag") === 0, col("ts_us")), ignoreNulls = true).over(wF))
      .filter(col("tag") === 1)
      .withColumn("click_ts_us", nearest)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("click_ts_us"),
        abs(col("ts_us") - col("click_ts_us")).as("delta_us"),
        when(col("click_ts_us").isNull, lit(null).cast("string"))
          .when(col("click_ts_us") <= col("ts_us"), lit("backward"))
          .otherwise(lit("forward")).as("direction"))
      .orderBy(col("event_id"))
  }

  val asofJoinNearestSql: String =
    """WITH u AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, 0 AS tag, event_id AS oid,
      |         CAST(NULL AS BIGINT) AS event_id FROM events WHERE event_type='click'
      |  UNION ALL
      |  SELECT user_id, epoch_us(ts), 1, event_id, event_id
      |  FROM events WHERE event_type='purchase'),
      |w AS (
      |  SELECT *,
      |    last_value(CASE WHEN tag=0 THEN ts_us END IGNORE NULLS)
      |      OVER (win ROWS UNBOUNDED PRECEDING) AS back_ts,
      |    first_value(CASE WHEN tag=0 THEN ts_us END IGNORE NULLS)
      |      OVER (win ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_ts
      |  FROM u WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, tag, oid)),
      |p AS (
      |  SELECT event_id, user_id, ts_us,
      |    CASE WHEN back_ts IS NULL AND fwd_ts IS NULL THEN NULL
      |         WHEN back_ts IS NULL THEN fwd_ts
      |         WHEN fwd_ts IS NULL THEN back_ts
      |         WHEN ts_us - back_ts <= fwd_ts - ts_us THEN back_ts
      |         ELSE fwd_ts END AS click_ts_us
      |  FROM w WHERE tag = 1)
      |SELECT event_id, user_id, ts_us, click_ts_us,
      |       abs(ts_us - click_ts_us) AS delta_us,
      |       CASE WHEN click_ts_us IS NULL THEN NULL
      |            WHEN click_ts_us <= ts_us THEN 'backward'
      |            ELSE 'forward' END AS direction
      |FROM p ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------- sessionize
  /** Gap-based sessionization (30 min): lag → new-session flag → running
    * sum → per-session aggregate. Scale: both windows and the final
    * groupBy share one shuffle on user_id. */
  /** The sessionized-events frame both session queries consume:
    * (user_id, session_id, n_events, start_us, end_us, sum_cents).
    * Both windows and the rollup share ONE user_id shuffle. */
  private[operators] def sessions(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000 * 1000
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
    Tables.eventsUs(spark, dir)
      .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_id", sum(col("is_new")).over(wRun).cast("long"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
           min(col("ts_us")).as("start_us"),
           max(col("ts_us")).as("end_us"),
           sum(cents(col("value"))).as("sum_cents"))
  }

  def sessionize(spark: SparkSession, dir: String): DataFrame =
    sessions(spark, dir)
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("start_us"), col("end_us"), dollars(col("sum_cents")).as("sum_value"))
      .orderBy(col("user_id"), col("session_id"))

  // ---------------------------------------------------- events_session_stats
  /** Session-duration panel over the sessionize derivation: sessions
    * bucketed by floor(log2(duration_sec + 1)) with counts, share,
    * event totals and events-per-session — the engagement-depth
    * distribution behind the raw session list (drive-by single-hit
    * traffic vs long workflows), and the sanity check on the 30-min
    * gap parameter (mass piling into the top bucket says the gap is
    * splitting real sessions).
    *
    * Scale: the same ONE user_id shuffle as sessionize (the shared
    * `sessions` builder), then a map-side-combined rollup to ≤~40 log2
    * buckets — the bucket floor is the transcendental-free
    * len(binary(d+1))−1 idiom (exact integers, no cross-engine log());
    * the bucket frame is staged once for its two consumers (output +
    * the broadcast 1-row total); duration is exact integer µs→s
    * division; share/avg are the boundary divisions. */
  def eventsSessionStats(spark: SparkSession, dir: String): DataFrame = {
    val agg = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      sessions(spark, dir)
        .withColumn("dsec", expr("(end_us - start_us) DIV 1000000"))
        .withColumn("bucket", (length(bin(col("dsec") + 1)) - 1).cast("int"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("sum_events")))
    val tot = agg.agg(sum(col("n_sessions")).as("nt"))
    agg.crossJoin(broadcast(tot))
      .select(col("bucket"),
        (expr("CAST(shiftleft(CAST(1 AS BIGINT), bucket) AS BIGINT)") - 1)
          .as("dur_lo_sec"),
        col("n_sessions"),
        (round(col("n_sessions").cast("double") / col("nt").cast("double"), 6)
          + 0.0).as("share"),
        col("sum_events"),
        (round(col("sum_events").cast("double") / col("n_sessions").cast("double"), 4)
          + 0.0).as("avg_events"))
      .orderBy(col("bucket"))
  }

  // lazy: composes from sessionCtes, declared below (object-init order)
  lazy val eventsSessionStatsSql: String =
    s"""WITH $sessionCtes,
      |d AS (SELECT (end_us - start_us) // 1000000 AS dsec, n_events FROM sess),
      |k AS (SELECT CAST(length(format('{:b}', dsec + 1)) - 1 AS INT) AS bucket,
      |             n_events FROM d),
      |ag AS (SELECT bucket, count(*) AS n_sessions,
      |              CAST(sum(n_events) AS BIGINT) AS sum_events
      |       FROM k GROUP BY bucket),
      |t AS (SELECT CAST(sum(n_sessions) AS BIGINT) AS nt FROM ag)
      |SELECT bucket, (CAST(1 AS BIGINT) << bucket) - 1 AS dur_lo_sec, n_sessions,
      |  round(CAST(n_sessions AS DOUBLE) / CAST(nt AS DOUBLE), 6) + 0.0 AS share,
      |  sum_events,
      |  round(CAST(sum_events AS DOUBLE) / CAST(n_sessions AS DOUBLE), 4) + 0.0 AS avg_events
      |FROM ag, t ORDER BY bucket""".stripMargin

  // ------------------------------------------------------------ range_join
  /** Nearest-within-tolerance range join: each purchase finds its
    * CLOSEST error event within ±300 s — the telemetry-correlation shape
    * ("which error was this failed purchase near"), with NO equality
    * key to shuffle on.
    *
    * Scale (r14 rewrite): the naive formulation is a cross join with an
    * |Δt| filter — O(n²) pairs. The r2-r13 version banded targets into
    * floor(ts/δ) buckets and hash-joined — linear in the TRUE near-pair
    * count, which is the right bound when time extent grows with data,
    * but the sf10 full-registry sweep measured 102.7 s: replicated
    * events share one time range, so pair density itself grows with the
    * corpus (1.5B candidates at 10M events — and a real deployment has
    * dense bursts too). The top-1-nearest answer never needed the pair
    * list: in time order, a purchase's nearest error is its PREVIOUS or
    * NEXT error. Errors explode into their 3 adjacent δ-buckets (any
    * error within δ of a purchase lands in the purchase's bucket), and
    * two window passes per bucket (ts asc / ts desc, errors sorting
    * before an equal-ts purchase, equal-ts errors resolved to the
    * smallest event_id by an e_id-desc sort under last_value) read off
    * both candidates — O(n log n) per bucket, ONE shuffle on bucket
    * ids, candidate work independent of pair density (measured 102.7 →
    * 3.8 s warm at sf10, identical rows; sf100's 100M events — ~150B
    * candidates under the old plan — complete in 33 s). The winner
    * keeps the old rank's exact (|Δt|, event_id) tie rule. */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame =
    rangeJoinFrom(Tables.eventsUs(spark, dir))

  /** Frame-level entry point (spec fixtures plant boundary/tie cases the
    * natural corpus may not contain): `e` must carry (event_id,
    * event_type, ts_us). */
  private[graft] def rangeJoinFrom(e: DataFrame): DataFrame = {
    val d = 300000000L // ±300 s tolerance, µs
    val eb = expr(s"ts_us DIV ${d}L")
    val errs = e.filter(col("event_type") === "error")
      .select(col("event_id").as("e_id"), col("ts_us"),
        explode(array(eb - 1, eb, eb + 1)).as("bucket"))
    val u = e.filter(col("event_type") === "purchase")
      .select(eb.as("bucket"), col("ts_us"), lit(1).as("is_p"),
        col("event_id").as("p_id"), lit(null).cast("long").as("e_id"))
      .unionByName(errs.select(col("bucket"), col("ts_us"), lit(0).as("is_p"),
        lit(null).cast("long").as("p_id"), col("e_id")))
    val wPrev = Window.partitionBy(col("bucket"))
      .orderBy(col("ts_us"), col("is_p"), col("e_id").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy(col("bucket"))
      .orderBy(col("ts_us").desc, col("is_p"), col("e_id").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val ets = when(col("is_p") === 0, col("ts_us"))
    val cand = u
      .withColumn("prev_eid", last(col("e_id"), ignoreNulls = true).over(wPrev))
      .withColumn("prev_ets", last(ets, ignoreNulls = true).over(wPrev))
      .withColumn("next_eid", last(col("e_id"), ignoreNulls = true).over(wNext))
      .withColumn("next_ets", last(ets, ignoreNulls = true).over(wNext))
      .filter(col("is_p") === 1)
    val pd = abs(col("prev_ets") - col("ts_us"))
    val nd = abs(col("next_ets") - col("ts_us"))
    val prevOk = col("prev_eid").isNotNull && pd <= d
    val nextOk = col("next_eid").isNotNull && nd <= d
    val pickPrev = prevOk && (!nextOk || pd < nd ||
      (pd === nd && col("prev_eid") < col("next_eid")))
    cand.filter(prevOk || nextOk)
      .select(col("p_id"),
        when(pickPrev, col("prev_eid")).otherwise(col("next_eid")).as("e_id"),
        (when(pickPrev, col("prev_ets")).otherwise(col("next_ets")) - col("ts_us"))
          .as("dt_us"))
      .orderBy(col("p_id"))
  }

  val rangeJoinSql: String =
    """WITH p AS (SELECT event_id AS p_id, epoch_us(ts) AS p_ts
      |           FROM events WHERE event_type = 'purchase'),
      |e AS (SELECT event_id AS e_id, epoch_us(ts) AS e_ts
      |      FROM events WHERE event_type = 'error'),
      |c AS (SELECT p_id, e_id, e_ts - p_ts AS dt_us, abs(e_ts - p_ts) AS adt
      |      FROM p JOIN e ON abs(e_ts - p_ts) <= 300000000),
      |r AS (SELECT *, row_number() OVER (PARTITION BY p_id ORDER BY adt, e_id) AS rn
      |      FROM c)
      |SELECT p_id, e_id, dt_us FROM r WHERE rn = 1 ORDER BY p_id""".stripMargin

  /** Shared sessionization CTE chain — both session mirrors compose from
    * this one builder (the drift rule): exposes `sess(user_id,
    * session_id, n_events, start_us, end_us, sum_cents)`. */
  val sessionCtes: String =
    """e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events),
      |m AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL OR ts_us - lag(ts_us) OVER w > 1800000000
      |                     THEN 1 ELSE 0 END AS is_new
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM m),
      |sess AS (SELECT user_id, session_id, count(*) AS n_events,
      |  min(ts_us) AS start_us, max(ts_us) AS end_us,
      |  sum(CAST(round(value*100) AS BIGINT)) AS sum_cents
      |FROM s GROUP BY user_id, session_id)""".stripMargin

  val sessionizeSql: String =
    s"""WITH $sessionCtes
      |SELECT user_id, session_id, n_events, start_us, end_us,
      |  CAST(sum_cents AS DOUBLE)/100.0 AS sum_value
      |FROM sess ORDER BY user_id, session_id""".stripMargin

  // ------------------------------------------------------- range_window
  /** RANGE-framed window: each order's sum of same-customer order value
    * within ±5 days — a sliding value-based frame (vs ROWS frames
    * everywhere else).
    *
    * Scale (r15, guide §2.4 shared exchange): ONE range exchange on
    * custkey serves both the window and the output ordering. The window
    * needs ClusteredDistribution(custkey), which RangePartitioning
    * (custkey) satisfies (equal keys land in one range bucket), and the
    * declared (custkey, orderkey) output order then follows from a sort
    * WITHIN partitions — partitions are already mutually ordered by
    * custkey, so no second full-fact exchange. The r14 plan paid two
    * 150M-row exchanges at sf100 (hash for the window + range for the
    * final sort: 50.6 s); this shape pays one. Rows AND row order are
    * unchanged: range partitioning only moves the custkey boundaries,
    * never the relative order the final sort establishes. */
  def rangeWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
      .rangeBetween(-5, 5)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        unix_date(to_date(col("o_orderdate"))).cast("long").as("day"),
        cents(col("o_totalprice")).as("tc"))
      .repartitionByRange(col("o_custkey"))
      .withColumn("nearby_cents", sum(col("tc")).over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("day"),
        dollars(col("nearby_cents")).as("nearby_value"))
      .sortWithinPartitions(col("o_custkey"), col("o_orderkey"))
  }

  val rangeWindowSql: String =
    """SELECT o_custkey, o_orderkey, day,
      |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
      |       OVER (PARTITION BY o_custkey ORDER BY day
      |             RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS DOUBLE)/100.0 AS nearby_value
      |FROM (SELECT *, CAST(epoch(o_orderdate) // 86400 AS BIGINT) AS day FROM orders) t
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ------------------------------------------------------ dedup_exact_keyed
  /** Keyed keep-first dedup: first order per customer by date.
    * Scale: row_number keep-first = one shuffle on the key; this is the
    * generic idempotent-load primitive (see also Financial.upsertDedupe). */
  def dedupExactKeyed(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .orderBy(col("o_custkey"))
  }

  val dedupExactKeyedSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
      |  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  // ------------------------------------------------------------------ maps
  // ----------------------------------------------------- q17_avg_threshold
  /** TPC-H Q17 shape: revenue of line items under 20% of their part's
    * average quantity — the canonical correlated-scalar-subquery query,
    * written as Catalyst's own decorrelation would plan it: one per-part
    * stats aggregate joined back to the fact on the same key.
    *
    * Scale: both the stats build and the join-back shuffle on l_partkey,
    * so AQE co-partitions them; the stats side is one row per part
    * (dimension-sized → broadcast-able at lower SFs). The threshold
    * compare `5·qty·cnt < sum_qty` is exact integer cents — no float
    * average crosses the engine boundary. */
  def q17AvgThreshold(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val stats = l.groupBy(col("l_partkey"))
      .agg(sum(cents(col("l_quantity"))).as("sq"), count(lit(1)).as("cnt"))
    l.select(col("l_partkey"), cents(col("l_quantity")).as("qc"),
        cents(col("l_extendedprice")).as("pc"))
      .join(stats, Seq("l_partkey"))
      .filter(lit(5) * col("qc") * col("cnt") < col("sq"))
      .agg((sum(col("pc")).cast("double") / 100.0 / 7.0).as("avg_yearly"),
        count(lit(1)).as("n_items"))
  }

  val q17AvgThresholdSql: String =
    """WITH stats AS (
      |  SELECT l_partkey, sum(CAST(round(l_quantity*100) AS BIGINT)) AS sq,
      |         count(*) AS cnt
      |  FROM lineitem GROUP BY l_partkey)
      |SELECT CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0/7.0 AS avg_yearly,
      |       count(*) AS n_items
      |FROM lineitem JOIN stats USING (l_partkey)
      |WHERE 5 * CAST(round(l_quantity*100) AS BIGINT) * cnt < sq""".stripMargin

  // ------------------------------------------------------ q18_large_orders
  /** TPC-H Q18 shape: customers whose orders exceed 250 total quantity —
    * a HAVING-filtered aggregate semi-joined back to the order/customer
    * dims, top 100 by order value.
    *
    * Scale: the quantity rollup is map-side combined and shuffles
    * lineitem on l_orderkey — the same key the orders join needs, so the
    * big side shuffles ONCE; customer is UNHINTED (it scales with the
    * fact — AQE broadcasts it at gate scale and falls back to shuffle
    * when it outgrows the threshold, instead of a forced OOM at 100×);
    * the top-100 is a TakeOrderedAndProject (no global sort). */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(cents(col("l_quantity"))).as("qtyc"))
      .filter(col("qtyc") > 250 * 100)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    o.join(big, o("o_orderkey") === big("l_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"), (col("qtyc").cast("double") / 100.0).as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  val q18LargeOrdersSql: String =
    """WITH big AS (
      |  SELECT l_orderkey, sum(CAST(round(l_quantity*100) AS BIGINT)) AS qtyc
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING sum(CAST(round(l_quantity*100) AS BIGINT)) > 25000)
      |SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
      |       CAST(qtyc AS DOUBLE)/100.0 AS total_qty
      |FROM orders JOIN big ON o_orderkey = l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 100""".stripMargin

  // --------------------------------------------------- q4_order_priority
  /** TPC-H Q4 shape: orders in a quarter that had at least one late-shipped
    * line item (EXISTS), counted per priority.
    *
    * Scale: the date filter pushes to the orders scan; the EXISTS is a
    * LEFT SEMI join shuffling both sides on orderkey — the semi join keeps
    * at most one match per order, so the post-join aggregate sees |orders|
    * rows, never the lineitem multiplicity; the priority rollup is
    * map-side combined down to a handful of groups. The non-equi part of
    * the predicate (l_shipdate > o_orderdate) rides ON the semi join —
    * no second pass over lineitem. */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp"))
      .filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
    val l = Tables.lineitem(spark, dir)
    o.join(l, o("o_orderkey") === l("l_orderkey") &&
        l("l_shipdate") > o("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val q4OrderPrioritySql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-01-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // --------------------------------------------------- q10_returned_items
  /** TPC-H Q10 shape: revenue lost to returned items per customer over a
    * quarter, top 20 — selective fact predicate + star dims + top-N.
    *
    * Scale: the returnflag and date filters push to the two scans; the
    * only big shuffle is orders⋈lineitem on orderkey; nation is broadcast
    * (fixed 25 rows) while customer is UNHINTED — data-scaled, so AQE
    * picks broadcast at gate scale and shuffle at 100×; the customer
    * rollup shuffles one pre-aggregated row per (custkey) map-side group;
    * top-20 is a TakeOrderedAndProject. Revenue math is the exact
    * cents×basis-points DECIMAL(38) used by q3/q5. */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1995-07-01").cast("timestamp"))
      .filter(col("o_orderdate") < lit("1995-10-01").cast("timestamp"))
    val l = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sumRevDollars(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10ReturnedItemsSql: String =
    """SELECT c_custkey, c_name, c_acctbal, n_name,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |           * (10000 - CAST(round(l_discount*10000) AS BIGINT))) AS DOUBLE)/1000000.0 AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1995-07-01'
      |  AND o_orderdate < TIMESTAMP '1995-10-01'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  // ------------------------------------------------- order_value_histogram
  /** Fixed-width histogram of order values: $25k buckets over [0, 500k],
    * count + exact total per bucket.
    *
    * Scale: the canonical "profile a 100 TB column" shape — a map-only
    * integer bucket projection followed by ONE map-side-combined aggregate
    * whose shuffle carries |buckets| rows per map partition (20 here), no
    * matter the input size. Bucket math is BIGINT cents division (exact,
    * identical in both engines) — no float boundary can land a row in
    * different buckets; totals are summed in cents and divided back. */
  def orderValueHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(cents(col("o_totalprice")).as("c"))
      .select(expr("c DIV 2500000").as("bucket"), col("c"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"), dollars(sum(col("c"))).as("total_value"))
      .withColumn("bucket_lo", (col("bucket") * 25000L).cast("long"))
      .select(col("bucket"), col("bucket_lo"), col("n_orders"), col("total_value"))
      .orderBy(col("bucket"))

  val orderValueHistogramSql: String =
    """SELECT CAST(round(o_totalprice*100) AS BIGINT) // 2500000 AS bucket,
      |       (CAST(round(o_totalprice*100) AS BIGINT) // 2500000) * 25000 AS bucket_lo,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_value
      |FROM orders
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  // --------------------------------------------------- q7_nation_volume
  /** TPC-H Q7 shape: shipping volume between nation pairs per year —
    * the canonical "fact needs BOTH endpoint dims" query (supplier's
    * nation comes through lineitem, customer's through orders).
    *
    * Scale: the two real shuffles are the classic Q7 minimum:
    * orders⋈customer on custkey, then lineitem⋈orders on orderkey.
    * NEITHER supplier nor customer is hinted — both scale with the fact
    * (the 4/25-nation slice shrinks them but not their growth rate), so
    * AQE picks broadcast vs shuffle from the runtime size: broadcast at
    * gate scale, graceful shuffle at 100 TB. Only the fixed 25-row
    * nation carries a static broadcast. The shipdate range pushes to
    * the lineitem scan; the final rollup is map-side combined to
    * |pairs|·|years| rows. */
  def q7NationVolume(spark: SparkSession, dir: String): DataFrame = {
    val nations = Seq("NATION_1", "NATION_2", "NATION_3", "NATION_4")
    val n = Tables.nation(spark, dir).filter(col("n_name").isin(nations: _*))
    val s = Tables.supplier(spark, dir)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val c = Tables.customer(spark, dir)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val o = Tables.orders(spark, dir)
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp"))
      .filter(col("l_shipdate") <= lit("1998-12-31").cast("timestamp"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sumRevDollars(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val q7NationVolumeSql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |           * (10000 - CAST(round(l_discount*10000) AS BIGINT))) AS DOUBLE)/1000000.0 AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE n1.n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4')
      |  AND n2.n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4')
      |  AND n1.n_name <> n2.n_name
      |  AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1998-12-31'
      |GROUP BY 1, 2, 3
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  // --------------------------------------------------- q14_promo_revenue
  /** TPC-H Q14 shape: promo revenue share for one ship-month — a
    * conditional-aggregate ratio over a selective fact slice.
    *
    * Scale: the one-month shipdate range pushes to the lineitem scan
    * (reads ~1/84 of the fact); part joins on l_partkey with no hint —
    * AQE broadcasts it at gate scale and shuffle-joins at 100 TB where
    * part outgrows a broadcast. Both sums are exact DECIMAL(38)
    * cents×basis-points; the single ratio division happens once in
    * DOUBLE on integer-valued operands, so both engines compute the
    * identical IEEE quotient. */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1995-09-01").cast("timestamp"))
      .filter(col("l_shipdate") < lit("1995-10-01").cast("timestamp"))
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_type"))
    val units = revUnits(col("l_extendedprice"), col("l_discount")).cast("decimal(38,0)")
    l.join(p, col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", units).otherwise(lit(0).cast("decimal(38,0)"))).as("pu"),
        sum(units).as("tu"))
      .select(
        (lit(100.0) * col("pu").cast("double") / col("tu").cast("double")).as("promo_pct"),
        (col("pu").cast("double") / 1000000.0).as("promo_revenue"),
        (col("tu").cast("double") / 1000000.0).as("total_revenue"))
  }

  val q14PromoRevenueSql: String =
    """WITH t AS (
      |  SELECT
      |    sum(CASE WHEN p_type = 'PROMO'
      |        THEN CAST(round(l_extendedprice*100) AS BIGINT)
      |             * (10000 - CAST(round(l_discount*10000) AS BIGINT))
      |        ELSE 0 END) AS pu,
      |    sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |        * (10000 - CAST(round(l_discount*10000) AS BIGINT))) AS tu
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1995-09-01'
      |    AND l_shipdate < TIMESTAMP '1995-10-01')
      |SELECT 100.0 * CAST(pu AS DOUBLE) / CAST(tu AS DOUBLE) AS promo_pct,
      |       CAST(pu AS DOUBLE)/1000000.0 AS promo_revenue,
      |       CAST(tu AS DOUBLE)/1000000.0 AS total_revenue
      |FROM t""".stripMargin

  // --------------------------------------------------- q16_supplier_variety
  /** TPC-H Q16 shape: how many distinct suppliers ship each surviving
    * (brand, type, size) combination — a NOT-EXISTS-filtered
    * count-distinct over the part-supplier relation implied by lineitem.
    *
    * Scale: part is filtered before its join (brand/type/size predicates
    * push to the part scan) and joined without a hint (AQE broadcasts at
    * gate scale); the excluded-supplier set (negative account balance) is
    * a LEFT ANTI on an UNHINTED supplier subset (supplier scales with
    * the fact, so the broadcast decision is AQE's: broadcast at gate
    * scale, shuffle at 100×) — NOT IN with a guaranteed-non-null key
    * is exactly NOT EXISTS, which is what the oracle spells. The
    * count-distinct shuffles (group keys + suppkey) once; lineitem itself
    * never carries more than (partkey, suppkey). */
  def q16SupplierVariety(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_brand") =!= "Brand#11" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 3, 9, 14, 19, 23, 36, 45))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val bad = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    Tables.lineitem(spark, dir).select(col("l_partkey"), col("l_suppkey"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(bad, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  val q16SupplierVarietySql: String =
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#11' AND p_type <> 'PROMO'
      |  AND p_size IN (1,3,9,14,19,23,36,45)
      |  AND NOT EXISTS (SELECT 1 FROM supplier
      |                  WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // --------------------------------------------------- q19_disjunctive_join
  /** TPC-H Q19 shape: revenue under an OR-of-ANDs predicate spanning both
    * join sides — the canonical disjunctive-pushdown test.
    *
    * Scale: Catalyst extracts the per-side residues of the disjunction
    * (brand ∈ {12,23,34} ∧ size ≤ 25 onto the part scan; quantity ∈
    * [1,40] onto the lineitem scan) so both scans are pre-filtered even
    * though no single disjunct is globally true; the mixed OR evaluates
    * on the join output. part joins without a hint (AQE broadcast at
    * gate scale, shuffle at 100 TB). One aggregate row out. */
  def q19DisjunctiveJoin(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val mixed =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 20)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 20) &&
        col("l_quantity").between(10, 30)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 25) &&
        col("l_quantity").between(20, 40))
    Tables.lineitem(spark, dir)
      .join(p, col("l_partkey") === col("p_partkey"))
      .filter(mixed)
      .agg(sumRevDollars(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q19DisjunctiveJoinSql: String =
    """SELECT
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |           * (10000 - CAST(round(l_discount*10000) AS BIGINT))) AS DOUBLE)/1000000.0 AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand='Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
      |   OR (p_brand='Brand#23' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 30)
      |   OR (p_brand='Brand#34' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 20 AND 40)""".stripMargin

  // --------------------------------------------------- q22_dormant_balance
  /** TPC-H Q22 shape: high-balance customers gone dormant — an
    * uncorrelated scalar aggregate threshold plus a NOT-EXISTS against
    * recent orders, rolled up per nation.
    *
    * Scale: the global average is ONE broadcast row crossed in (the same
    * broadcast-1-row pattern as rank_stats_scalable); the threshold
    * compare is exact integer cents×count in DECIMAL(38) — no float
    * average crosses the engine boundary, so no borderline customer can
    * flip sides. The anti join's build side is date-filtered orders
    * projected to o_custkey; nation is a broadcast dim. customer itself
    * shuffles once (the anti join). */
  def q22DormantBalance(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val stats = c.filter(col("c_acctbal") > 0)
      .agg(sum(cents(col("c_acctbal"))).cast("decimal(38,0)").as("tot"),
        count(lit(1)).as("cnt"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    c.crossJoin(broadcast(stats))
      .filter(cents(col("c_acctbal")).cast("decimal(38,0)") * col("cnt") > col("tot"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_dormant"),
        dollars(sum(cents(col("c_acctbal")))).as("total_balance"))
      .orderBy(col("n_name"))
  }

  val q22DormantBalanceSql: String =
    """WITH s AS (
      |  SELECT sum(CAST(round(c_acctbal*100) AS BIGINT)) AS tot, count(*) AS cnt
      |  FROM customer WHERE c_acctbal > 0)
      |SELECT n_name, count(*) AS n_dormant,
      |       CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_balance
      |FROM customer, s
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE CAST(round(c_acctbal*100) AS BIGINT) * cnt > tot
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // ------------------------------------------------------ q15_top_supplier
  /** TPC-H Q15 shape: the supplier(s) with maximum revenue over a
    * quarter — an aggregate compared against its own MAX, ties kept
    * (Q15's total_revenue = max(total_revenue) semantics).
    *
    * Scale: revenue rolls up map-side-combined on l_suppkey (one
    * lineitem shuffle, date filter pushed to the scan); the max is ONE
    * broadcast row crossed back in — the same broadcast-1-row pattern
    * as q22/rank_stats_scalable, never an unpartitioned window over the
    * supplier frame (which would single-thread |suppliers| rows at
    * scale). The revenue aggregate is consumed twice (main path + max
    * probe) and NEITHER ReuseExchange nor AQE's stage cache dedupes it —
    * DeduplicateRelations re-aliases the second reference, and the
    * re-aliased exchanges never compare sameResult (verified on the
    * executed adaptive plan: two distinct ShuffleQueryStage ids for the
    * same aggregate). So the aggregate is staged ONCE behind a stage
    * barrier; the ~0.1 s fixed cost of running it as its own job loses
    * to the duplicated pass only below ~sf1 toy sizes, and at 100 TB the
    * barrier halves the lineitem derivation. RelationalSpec pins the
    * staged shape (zero revenue shuffles in the query's own plan). The
    * equality compare is exact DECIMAL micro-units so a tie cannot
    * float-flip. supplier is UNHINTED — it scales with the fact; the
    * max-filtered probe side is ≤|ties| rows, so AQE broadcasts THAT
    * side at any scale instead of a forced multi-GB supplier build. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp"))
        .filter(col("l_shipdate") < lit("1995-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(revUnits(col("l_extendedprice"), col("l_discount"))
          .cast("decimal(38,0)")).as("rvm")))
    val maxRev = rev.agg(max(col("rvm")).as("mx"))
    rev.crossJoin(broadcast(maxRev))
      .filter(col("rvm") === col("mx"))
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("rvm").cast("double") / 1000000.0).as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  val q15TopSupplierSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |         sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |             * (10000 - CAST(round(l_discount*10000) AS BIGINT))) AS rvm
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1995-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(rvm AS DOUBLE)/1000000.0 AS total_revenue
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE rvm = (SELECT max(rvm) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  // --------------------------------------------------- q21_waiting_supplier
  /** TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
    * multi-supplier finalized order. This testdata's lineitem has no
    * commit/receipt dates, so "late" = shipped more than 90 days after
    * the order date. Q21's correlated EXISTS (another supplier on the
    * order) / NOT-EXISTS (another LATE supplier) pair is reformulated
    * as one grouped cascade: per (order, supplier) a late flag, per
    * order the supplier count, late-supplier count, and — when exactly
    * one — that supplier's key; the verdict n_supp > 1 ∧ n_late = 1 is
    * equivalent to the original double-correlation with zero extra
    * lineitem joins.
    *
    * Scale: lineitem⋈orders shuffles on l_orderkey ONCE (the status
    * filter pushes to the orders scan); both grouped cascades require
    * clustering on key prefixes of that same partitioning, so neither
    * re-shuffles (orderkey partitioning satisfies (orderkey, suppkey)
    * clustering — asserted in RelationalSpec); the only other exchange
    * carries |late suppliers| rows into the final count. supplier is
    * UNHINTED (data-scaled dim — AQE sizes it; the |late suppliers|
    * aggregate side is tiny, so AQE broadcasts that side at 100×).
    * Top-100 is TakeOrderedAndProject. */
  def q21WaitingSupplier(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val late = (col("l_shipdate") >
      col("o_orderdate") + expr("INTERVAL 90 DAYS")).cast("int")
    val perSupp = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(late).as("supp_late"))
    val perOrder = perSupp.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"), sum(col("supp_late")).as("n_late"),
        max(when(col("supp_late") === 1, col("l_suppkey"))).as("late_supp"))
      .filter(col("n_supp") > 1 && col("n_late") === 1)
    perOrder.groupBy(col("late_supp"))
      .agg(count(lit(1)).as("numwait"))
      .join(Tables.supplier(spark, dir),
        col("late_supp") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  val q21WaitingSupplierSql: String =
    """WITH ps AS (
      |  SELECT l_orderkey, l_suppkey,
      |         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
      |                  THEN 1 ELSE 0 END) AS supp_late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus = 'F'
      |  GROUP BY l_orderkey, l_suppkey),
      |po AS (
      |  SELECT l_orderkey, count(*) AS n_supp, sum(supp_late) AS n_late,
      |         max(CASE WHEN supp_late = 1 THEN l_suppkey END) AS late_supp
      |  FROM ps GROUP BY l_orderkey)
      |SELECT s_name, count(*) AS numwait
      |FROM po JOIN supplier ON late_supp = s_suppkey
      |WHERE n_supp > 1 AND n_late = 1
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 100""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> (q1Agg _),
    "q3_join_agg" -> (q3JoinAgg _),
    "q5_multi_join" -> (q5MultiJoin _),
    "q17_avg_threshold" -> (q17AvgThreshold _),
    "q18_large_orders" -> (q18LargeOrders _),
    "q4_order_priority" -> (q4OrderPriority _),
    "q10_returned_items" -> (q10ReturnedItems _),
    "q7_nation_volume" -> (q7NationVolume _),
    "q14_promo_revenue" -> (q14PromoRevenue _),
    "q16_supplier_variety" -> (q16SupplierVariety _),
    "q19_disjunctive_join" -> (q19DisjunctiveJoin _),
    "q22_dormant_balance" -> (q22DormantBalance _),
    "q15_top_supplier" -> (q15TopSupplier _),
    "q21_waiting_supplier" -> (q21WaitingSupplier _),
    "order_value_histogram" -> (orderValueHistogram _),
    "topk_window" -> (topkWindow _),
    "semi_join" -> (semiJoin _),
    "anti_join" -> (antiJoin _),
    "rollup_agg" -> (rollupAgg _),
    "pivot_agg" -> (pivotAgg _),
    "distinct_agg" -> (distinctAgg _),
    "approx_distinct" -> (approxDistinct _),
    "approx_percentiles" -> (approxPercentiles _),
    "percentiles" -> (percentiles _),
    "string_agg" -> (stringAgg _),
    "json_extract" -> (jsonExtract _),
    "asof_join" -> (asofJoin _),
    "asof_join_nearest" -> (asofJoinNearest _),
    "sessionize" -> (sessionize _),
    "events_session_stats" -> (eventsSessionStats _),
    "range_join" -> (rangeJoin _),
    "range_window" -> (rangeWindow _),
    "dedup_exact_keyed" -> (dedupExactKeyed _)
  )

  def oracles: Map[String, String] = Map(
    "q1_agg" -> q1AggSql,
    "q3_join_agg" -> q3JoinAggSql,
    "q5_multi_join" -> q5MultiJoinSql,
    "q17_avg_threshold" -> q17AvgThresholdSql,
    "q18_large_orders" -> q18LargeOrdersSql,
    "q4_order_priority" -> q4OrderPrioritySql,
    "q10_returned_items" -> q10ReturnedItemsSql,
    "q7_nation_volume" -> q7NationVolumeSql,
    "q14_promo_revenue" -> q14PromoRevenueSql,
    "q16_supplier_variety" -> q16SupplierVarietySql,
    "q19_disjunctive_join" -> q19DisjunctiveJoinSql,
    "q22_dormant_balance" -> q22DormantBalanceSql,
    "q15_top_supplier" -> q15TopSupplierSql,
    "q21_waiting_supplier" -> q21WaitingSupplierSql,
    "order_value_histogram" -> orderValueHistogramSql,
    "topk_window" -> topkWindowSql,
    "semi_join" -> semiJoinSql,
    "anti_join" -> antiJoinSql,
    "rollup_agg" -> rollupAggSql,
    "pivot_agg" -> pivotAggSql,
    "distinct_agg" -> distinctAggSql,
    "percentiles" -> percentilesSql,
    "string_agg" -> stringAggSql,
    "json_extract" -> jsonExtractSql,
    "asof_join" -> asofJoinSql,
    "asof_join_nearest" -> asofJoinNearestSql,
    "sessionize" -> sessionizeSql,
    "events_session_stats" -> eventsSessionStatsSql,
    "range_join" -> rangeJoinSql,
    "range_window" -> rangeWindowSql,
    "dedup_exact_keyed" -> dedupExactKeyedSql,
    // r14: both sketch queries moved to md5-derived state (HLL registers /
    // bottom-k sample) that DuckDB replays exactly — fully oracled now;
    // ApproxSpec still bounds their error against the exact aggregates.
    "approx_distinct" -> approxDistinctSql,
    "approx_percentiles" -> approxPercentilesSql
  )
}
