package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.functions.Financial.{cents, dollars}
import Relational.revUnits

/** The remaining TPC-H query shapes (SURVEY.md §2B), adapted to the test
  * schema where the stock formulation needs a column this star lacks
  * (no partsupp table, no l_commitdate/l_receiptdate/l_shipmode — the
  * adaptations keep each query's PLAN shape, which is what matters for
  * the 100 TB story, and lineitem serves as the part↔supplier link
  * where partsupp would).
  *
  * House rules as in [[Relational]]: money exact in integer cents /
  * cents×basis-points summed as DECIMAL(38,0); every output column
  * aliased identically in Spark and DuckDB; deterministic total order;
  * no static broadcast() on data-scaled dims (customer/supplier/part
  * are AQE-sized — broadcast at gate scale, shuffle at 100×; only
  * fixed-cardinality nation/region carry hints).
  */
object TpchExtra {

  /** Exact bp-scaled discount: round(d*10000) as long. */
  private def discBp(d: org.apache.spark.sql.Column) =
    round(d * lit(10000)).cast("long")

  // ---------------------------------------------------------- q6_filter_agg
  /** TPC-H Q6 shape: pure scan-filter-aggregate, zero joins — the query
    * that measures raw scan throughput. Scale: every predicate pushes to
    * the parquet scan (shipdate/discount/quantity are all min-max
    * prunable row-group stats); the aggregate is a single partial+final
    * pair carrying ONE row per partition. At 100 TB this is the
    * I/O-bound floor of the engine. */
  def q6FilterAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg((sum((cents(col("l_extendedprice")) * discBp(col("l_discount")))
        .cast("decimal(38,0)")).cast("double") / 1000000.0).as("revenue"))

  val q6FilterAggSql: String =
    """SELECT CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |         * CAST(round(l_discount*10000) AS BIGINT)) AS DOUBLE)/1000000.0 AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  // -------------------------------------------------------- q8_market_share
  /** TPC-H Q8 shape: national market share — an 8-table join tree with a
    * conditional-ratio aggregate. Scale: the part filter (p_type) cuts
    * lineitem FIRST via the partkey join (AQE sizes part — broadcast at
    * gate scale, shuffle at 100×); orders⋈lineitem is the one big
    * orderkey shuffle; customer and supplier join AQE-sized;
    * nation/region are fixed 25/5-row broadcast dims. The share divides
    * two exact DECIMAL sums as the final 2-double operation, so Spark
    * and DuckDB produce the identical IEEE quotient. */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    val vol = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir).filter(col("p_type") === "PROMO"),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n.select(col("n_nationkey").as("cn_key"), col("n_regionkey"))),
        col("c_nationkey") === col("cn_key"))
      .join(broadcast(r.filter(col("r_name") === "AMERICA")),
        col("n_regionkey") === col("r_regionkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n.select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select(year(col("o_orderdate")).cast("long").as("o_year"),
        revUnits(col("l_extendedprice"), col("l_discount"))
          .cast("decimal(38,0)").as("vol"),
        col("supp_nation"))
    vol.groupBy(col("o_year"))
      .agg((sum(when(col("supp_nation") === "NATION_3", col("vol"))
          .otherwise(lit(0).cast("decimal(38,0)"))).cast("double") /
        sum(col("vol")).cast("double")).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  val q8MarketShareSql: String =
    """WITH vol AS (
      |  SELECT year(o_orderdate) AS o_year,
      |         CAST(round(l_extendedprice*100) AS BIGINT)
      |           * (10000 - CAST(round(l_discount*10000) AS BIGINT)) AS vol,
      |         sn.n_name AS supp_nation
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation cn ON c_nationkey = cn.n_nationkey
      |  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'AMERICA'
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation sn ON s_nationkey = sn.n_nationkey
      |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      |    AND o_orderdate < TIMESTAMP '1997-01-01')
      |SELECT o_year,
      |       CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE 0 END) AS DOUBLE)
      |         / CAST(sum(vol) AS DOUBLE) AS mkt_share
      |FROM vol GROUP BY o_year ORDER BY o_year""".stripMargin

  // ------------------------------------------------------- q9_nation_profit
  /** TPC-H Q9 shape: product-type profit by nation and year. Adapted
    * cost basis: p_retailprice × quantity stands in for
    * ps_supplycost × quantity (no partsupp in this star) — the profit
    * stays an exact integer in cents×bp units. Scale: the p_name filter
    * prunes part before it meets lineitem (AQE-sized join); one orderkey
    * shuffle against orders; supplier AQE-sized; nation broadcast; the
    * group-by carries 25 nations × years. */
  def q9NationProfit(spark: SparkSession, dir: String): DataFrame = {
    val profitUnits =
      revUnits(col("l_extendedprice"), col("l_discount")) -
        cents(col("p_retailprice")) * round(col("l_quantity")).cast("long") * lit(10000L)
    Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir).filter(col("p_name").like("%red%")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        profitUnits.cast("decimal(38,0)").as("pu"))
      .groupBy(col("nation"), col("o_year"))
      .agg((sum(col("pu")).cast("double") / 1000000.0).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q9NationProfitSql: String =
    """SELECT n_name AS nation, year(o_orderdate) AS o_year,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |             * (10000 - CAST(round(l_discount*10000) AS BIGINT))
      |           - CAST(round(p_retailprice*100) AS BIGINT)
      |             * CAST(round(l_quantity) AS BIGINT) * 10000) AS DOUBLE)/1000000.0
      |    AS sum_profit
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY n_name, year(o_orderdate)
      |ORDER BY nation, o_year DESC""".stripMargin

  // --------------------------------------------------- q11_value_concentration
  /** TPC-H Q11 shape: group-having against a fraction of a global scalar
    * aggregate. Adapted to supplier shipped-value (no partsupp): keep
    * suppliers whose lineitem value exceeds 0.1% of the global total.
    * Scale: ONE suppkey shuffle builds the per-supplier sums; the global
    * total is a 1-row second-level re-aggregate crossed back in as a
    * broadcast (the q22 / rank_stats_scalable pattern — never a second
    * pass over lineitem). Threshold compares exact DECIMAL units
    * (v×1000 > total), no doubles until display. */
  def q11ValueConcentration(spark: SparkSession, dir: String): DataFrame = {
    val sv = org.apache.spark.sql.GraftColumnBridge.stageBarrier(
      Tables.lineitem(spark, dir)
        .groupBy(col("l_suppkey").as("suppkey"))
        .agg(sum(cents(col("l_extendedprice")).cast("decimal(38,0)")).as("v")))
    val total = sv.agg(sum(col("v")).as("tot"))
    sv.crossJoin(broadcast(total))
      .filter(col("v") * 1000 > col("tot"))
      .select(col("suppkey"), dollars(col("v")).as("total_value"))
      .orderBy(col("total_value").desc, col("suppkey"))
  }

  val q11ValueConcentrationSql: String =
    """WITH sv AS (
      |  SELECT l_suppkey AS suppkey,
      |         sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS v
      |  FROM lineitem GROUP BY 1),
      |t AS (SELECT sum(v) AS tot FROM sv)
      |SELECT suppkey, CAST(v AS DOUBLE)/100.0 AS total_value
      |FROM sv, t WHERE v * 1000 > tot
      |ORDER BY total_value DESC, suppkey""".stripMargin

  // ----------------------------------------------------- q12_shipping_delay
  /** TPC-H Q12 shape: conditional two-way counts per shipping class.
    * Adapted bucket: ship-delay days (no l_shipmode/receiptdate) —
    * the CASE-pivot aggregate over a fact join is the shape. Scale:
    * one orderkey shuffle (orders projected to 2 columns), 3-row
    * output, map-side-combined counts. */
  def q12ShippingDelay(spark: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority") === "1-URGENT" || col("o_orderpriority") === "2-HIGH"
    val delay = datediff(col("l_shipdate"), col("o_orderdate"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .select(
        when(delay <= 30, "0-30").when(delay <= 90, "31-90").otherwise("90+")
          .as("delay_bucket"),
        when(high, 1L).otherwise(0L).as("is_high"))
      .groupBy(col("delay_bucket"))
      .agg(sum(col("is_high")).as("high_line_count"),
        (count(lit(1)) - sum(col("is_high"))).as("low_line_count"))
      .orderBy(col("delay_bucket"))
  }

  val q12ShippingDelaySql: String =
    """SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN '0-30'
      |            WHEN date_diff('day', o_orderdate, l_shipdate) <= 90 THEN '31-90'
      |            ELSE '90+' END AS delay_bucket,
      |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
      |         AS BIGINT) AS high_line_count,
      |       CAST(count(*) - sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
      |         AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY delay_bucket""".stripMargin

  // ------------------------------------------------------ q13_order_count_dist
  /** TPC-H Q13 shape: customer order-count distribution — the LEFT OUTER
    * join with a predicate INSIDE the join condition (customers with zero
    * matching orders must survive with count 0), then a second aggregate
    * over the counts. Scale: the outer join shuffles on custkey once
    * (orders projected to 2 columns before the join); the distribution
    * re-aggregate runs on |customers| rows and its output is a handful of
    * buckets. */
  def q13OrderCountDist(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
      .select(col("o_custkey"), col("o_orderkey"))
    Tables.customer(spark, dir).select(col("c_custkey"))
      .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q13OrderCountDistSql: String =
    """WITH co AS (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      |  GROUP BY c_custkey)
      |SELECT c_count, count(*) AS custdist
      |FROM co GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  // ---------------------------------------------------- q2_min_cost_supplier
  /** TPC-H Q2 shape: for each qualifying part, the supplier(s) achieving
    * the minimum cost — the correlated-min-subquery pattern. Adapted
    * cost: the supplier's best unit price on that part across their
    * lineitems (lineitem is the part↔supplier link; no partsupp).
    * Scale: suppliers are pre-filtered to the EUROPE region through the
    * broadcast nation⋈region dims BEFORE the per-(part,supplier) min, so
    * the correlation window only sees qualifying rows (exactly Q2's
    * correlated-subquery scoping); one (partkey,suppkey) shuffle
    * aggregates unit prices, then a partkey window takes the per-part
    * min WITHOUT a second scan — ties kept, like q15. Unit price is an
    * IEEE double division, bit-identical across engines; the min picks
    * an exact member so equality survives the oracle hash. */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val eurSupp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"))
    val perPair = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir)
          .filter(col("p_type") === "STANDARD" && col("p_size") <= 15),
        col("l_partkey") === col("p_partkey"))
      .join(eurSupp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_partkey"), col("s_suppkey"), col("s_name"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_price"))
    val w = Window.partitionBy(col("p_partkey"))
    perPair.withColumn("min_price", min(col("unit_price")).over(w))
      .filter(col("unit_price") === col("min_price"))
      .select(col("p_partkey"), col("s_suppkey"), col("s_name"), col("unit_price"))
      .orderBy(col("unit_price"), col("p_partkey"), col("s_suppkey"))
      .limit(100)
  }

  val q2MinCostSupplierSql: String =
    """WITH pp AS (
      |  SELECT p_partkey, s_suppkey, s_name,
      |         min(l_extendedprice / l_quantity) AS unit_price
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD' AND p_size <= 15
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
      |  GROUP BY p_partkey, s_suppkey, s_name)
      |SELECT p_partkey, s_suppkey, s_name, unit_price
      |FROM (SELECT *, min(unit_price) OVER (PARTITION BY p_partkey) AS min_price FROM pp)
      |WHERE unit_price = min_price
      |ORDER BY unit_price, p_partkey, s_suppkey
      |LIMIT 100""".stripMargin

  // --------------------------------------------------- q20_excess_suppliers
  /** TPC-H Q20 shape: suppliers holding an outsized share of a part's
    * flow — nested aggregate threshold, then a semi-join up to supplier.
    * Adapted: shipped quantity per (part, supplier) vs 20% of the part's
    * total shipped quantity (no partsupp availqty). Scale: ONE
    * (partkey,suppkey) shuffle builds pair sums; the per-part total is a
    * partkey window over that reduced frame (never a second lineitem
    * pass); the threshold compares exact BIGINTs (5·qty_s > qty_p); the
    * qualifying pair list is tiny so AQE broadcasts it against part and
    * supplier. */
  def q20ExcessSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("qty_s"))
    val w = Window.partitionBy(col("l_partkey"))
    val excess = pairs.withColumn("qty_p", sum(col("qty_s")).over(w))
      .filter(col("qty_s") * 5 > col("qty_p"))
    excess
      .join(Tables.part(spark, dir).filter(col("p_name").like("%red%")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_suppkey")).distinct()
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  val q20ExcessSuppliersSql: String =
    """WITH pairs AS (
      |  SELECT l_partkey, l_suppkey, sum(CAST(round(l_quantity) AS BIGINT)) AS qty_s
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |  GROUP BY l_partkey, l_suppkey),
      |x AS (
      |  SELECT * FROM (
      |    SELECT l_partkey, l_suppkey, qty_s,
      |           sum(qty_s) OVER (PARTITION BY l_partkey) AS qty_p
      |    FROM pairs)
      |  WHERE qty_s * 5 > qty_p),
      |sup AS (
      |  SELECT DISTINCT l_suppkey
      |  FROM x JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%')
      |SELECT s_suppkey, s_name
      |FROM sup JOIN supplier ON l_suppkey = s_suppkey
      |ORDER BY s_suppkey""".stripMargin

  // ----------------------------------------------------- grouping_sets_agg
  /** Arbitrary GROUPING SETS — the lattice {(priority,status), (status),
    * ()} that neither rollup (wrong nesting) nor cube (extra (priority)
    * set) expresses. The DataFrame API has no grouping-sets verb, so
    * this drops to Spark SQL over a temp view — same Catalyst plan
    * (ONE Expand + one aggregate pass, rows×|sets| expanded map-side,
    * never |sets| scans). Group columns are never null in this star, so
    * COALESCE to 'ALL' disambiguates subtotal rows exactly like
    * rollup_agg. Money exact in integer cents. */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_gs_orders")
    spark.sql(
      """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
        |       coalesce(o_orderstatus, 'ALL') AS status,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0
        |         AS total_value
        |FROM graft_gs_orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderstatus), ())
        |ORDER BY priority, status""".stripMargin)
  }

  val groupingSetsAggSql: String =
    """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
      |       coalesce(o_orderstatus, 'ALL') AS status,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0
      |         AS total_value
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderstatus), ())
      |ORDER BY priority, status""".stripMargin

  // -------------------------------------------------------- orders_backlog
  /** Open-order BACKLOG time series: how many orders are open (placed
    * but not yet fully shipped) at the end of each boundary day — the
    * classic event-sourced level metric (ops dashboards, WIP tracking).
    * An order opens at o_orderdate and closes after max(l_shipdate) of
    * its lines; orders with no lines never close.
    *
    * Scale: the events_rolling_mau interval-delta decomposition — a
    * day-windowed "currently open" count is NEVER computed by exploding
    * per-open-day rows (that is days× amplification) nor by a
    * data-scaled window: each order emits exactly 2 scalar deltas
    * (+1 open, −1 close+1), the day-keyed aggregate map-side combines,
    * and the prefix sum runs over the CALENDAR-BOUNDED boundary-day
    * frame (≤ 2·|days|). One lineitem shuffle (the per-order max-ship
    * rollup) + one orders join on the key. */
  def ordersBacklog(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderdate"))
    val close = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey")).agg(max(col("l_shipdate")).as("close_date"))
    val deltas = o.join(close, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderdate"), col("close_date"))
      .select(explode(filter(array(
        struct(col("o_orderdate").as("day"), lit(1L).as("opened"), lit(0L).as("closed")),
        when(col("close_date").isNotNull,
          struct(date_add(col("close_date"), 1).as("day"), lit(0L).as("opened"),
            lit(1L).as("closed")))), v => v.isNotNull)).as("x"))
      .select(col("x.day"), col("x.opened"), col("x.closed"))
      .groupBy(col("day"))
      .agg(sum(col("opened")).as("n_opened"), sum(col("closed")).as("n_closed"))
    val w = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
    deltas
      .withColumn("backlog", sum(col("n_opened") - col("n_closed")).over(w))
      .orderBy(col("day"))
  }

  val ordersBacklogSql: String =
    """WITH cl AS (SELECT l_orderkey, max(l_shipdate) AS close_date
      |            FROM lineitem GROUP BY l_orderkey),
      |dl AS (
      |  SELECT o_orderdate AS day, 1 AS opened, 0 AS closed
      |  FROM orders
      |  UNION ALL
      |  SELECT cl.close_date + INTERVAL 1 DAY AS day, 0 AS opened, 1 AS closed
      |  FROM orders o JOIN cl ON o.o_orderkey = cl.l_orderkey),
      |agg AS (SELECT day, CAST(sum(opened) AS BIGINT) AS n_opened,
      |               CAST(sum(closed) AS BIGINT) AS n_closed
      |        FROM dl GROUP BY day)
      |SELECT day, n_opened, n_closed,
      |       CAST(sum(n_opened - n_closed) OVER (ORDER BY day
      |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS backlog
      |FROM agg ORDER BY day""".stripMargin

  // ------------------------------------------------------ trade_flow_matrix
  /** Full nation×nation TRADE-FLOW matrix: discounted revenue and line
    * count from every supplier nation to every customer nation
    * (diagonal = domestic flow), plus each cell's share of its supplier
    * nation's total exports — the BI world-map panel q7 samples two
    * corridors of, generalized to the complete ≤|nation|² matrix with
    * no date slice.
    *
    * Scale: q7's minimal two fact shuffles (orders⋈customer on custkey,
    * lineitem⋈orders on orderkey); supplier/customer stay AQE-sized
    * (they scale with the fact), only the fixed 25-row nation is
    * statically broadcast. The cell aggregate map-side combines to
    * ≤625 rows and is STAGED once (it feeds the output AND the per-
    * supplier-nation totals rollup — the fin_common_size aggregate-
    * over-aggregate shape); revenue sums are exact DECIMAL(38,0)
    * revUnits, the share is one division of two identically-cast exact
    * integers. */
  def tradeFlowMatrix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.stageBarrier
    val n = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    val s = Tables.supplier(spark, dir)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val c = Tables.customer(spark, dir)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val o = Tables.orders(spark, dir)
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    val cells = stageBarrier(Tables.lineitem(spark, dir)
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("supp_nation"), col("cust_nation"))
      .agg(sum(revUnits(col("l_extendedprice"), col("l_discount"))
        .cast("decimal(38,0)")).as("ru"), count(lit(1)).as("n_items")))
    val tot = cells.groupBy(col("supp_nation")).agg(sum(col("ru")).as("tru"))
    cells.join(broadcast(tot), Seq("supp_nation"))
      .select(col("supp_nation"), col("cust_nation"),
        (col("ru").cast("double") / 1000000.0).as("revenue"), col("n_items"),
        (round(col("ru").cast("double") / col("tru").cast("double"), 6) + 0.0)
          .as("export_share"))
      .orderBy(col("supp_nation"), col("cust_nation"))
  }

  val tradeFlowMatrixSql: String =
    """WITH cells AS (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |         sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |             * (10000 - CAST(round(l_discount*10000) AS BIGINT))) AS ru,
      |         count(*) AS n_items
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  GROUP BY 1, 2),
      |tt AS (SELECT supp_nation, sum(ru) AS tru FROM cells GROUP BY 1)
      |SELECT c.supp_nation, c.cust_nation,
      |       CAST(c.ru AS DOUBLE)/1000000.0 AS revenue, c.n_items,
      |       round(CAST(c.ru AS DOUBLE) / CAST(t.tru AS DOUBLE), 6) + 0.0
      |         AS export_share
      |FROM cells c JOIN tt t USING (supp_nation)
      |ORDER BY supp_nation, cust_nation""".stripMargin

  // ---------------------------------------------------- discount_elasticity
  /** Discount ELASTICITY per brand: the Pearson correlation between a
    * line's discount (integer basis points) and its quantity across all
    * of a brand's order lines — "does discounting actually move volume
    * for this brand", the pricing-analytics read next to q14's promo
    * revenue share (fin_dept_correlation's formula on the sales fact;
    * positive r = deeper discounts co-occur with bigger lines).
    *
    * Exactness: the fin_dept_correlation discipline verbatim — all five
    * moment sums over exact integers (bps ≤ 10⁴, qty ≤ 10²: products
    * fit DECIMAL(38,0)/HUGEINT to ~10³² lines), each factor ONE cast of
    * an exact integer to double, sqrt/division single IEEE ops, NULL
    * where either series is constant; the averages are each one
    * division of exact integers.
    *
    * Scale: lineitem⋈part on partkey (unhinted — part scales with the
    * fact, AQE adjudicates), then ONE map-side-combined aggregate onto
    * ≤|brands| rows; no windows, no self-joins. */
  def discountElasticity(spark: SparkSession, dir: String): DataFrame = {
    val d = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val x = round(col("l_discount") * 10000).cast("long")
    val y = round(col("l_quantity")).cast("long")
    val m = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), x.as("x"), y.as("y"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(d(col("x")) * d(col("y"))).as("sxy"),
        sum(d(col("x")) * d(col("x"))).as("sxx"),
        sum(d(col("y")) * d(col("y"))).as("syy"))
    val (n, sx, sy) = (d(col("n")), d(col("sx")), d(col("sy")))
    val vx = n * col("sxx") - sx * sx
    val vy = n * col("syy") - sy * sy
    m.select(col("p_brand"), col("n").as("n_lines"),
        (round(col("sx").cast("double") / col("n").cast("double"), 4) + 0.0)
          .as("avg_disc_bps"),
        (round(col("sy").cast("double") / col("n").cast("double"), 4) + 0.0)
          .as("avg_qty"),
        when(vx <= 0 || vy <= 0, lit(null).cast("double"))
          .otherwise(round((n * col("sxy") - sx * sy).cast("double")
            / (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))), 6) + 0.0)
          .as("pearson_r"))
      .orderBy(col("p_brand"))
  }

  val discountElasticitySql: String =
    """WITH m AS (
      |  SELECT p_brand, count(*) AS n,
      |         sum(CAST(round(l_discount*10000) AS BIGINT)) AS sx,
      |         sum(CAST(round(l_quantity) AS BIGINT)) AS sy,
      |         sum(CAST(round(l_discount*10000) AS HUGEINT)
      |             * CAST(round(l_quantity) AS HUGEINT)) AS sxy,
      |         sum(CAST(round(l_discount*10000) AS HUGEINT)
      |             * CAST(round(l_discount*10000) AS HUGEINT)) AS sxx,
      |         sum(CAST(round(l_quantity) AS HUGEINT)
      |             * CAST(round(l_quantity) AS HUGEINT)) AS syy
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY p_brand)
      |SELECT p_brand, n AS n_lines,
      |       round(CAST(sx AS DOUBLE)/CAST(n AS DOUBLE), 4) + 0.0 AS avg_disc_bps,
      |       round(CAST(sy AS DOUBLE)/CAST(n AS DOUBLE), 4) + 0.0 AS avg_qty,
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
      |FROM m ORDER BY p_brand""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "discount_elasticity" -> (discountElasticity _),
    "trade_flow_matrix" -> (tradeFlowMatrix _),
    "orders_backlog" -> (ordersBacklog _),
    "grouping_sets_agg" -> (groupingSetsAgg _),
    "q6_filter_agg" -> (q6FilterAgg _),
    "q8_market_share" -> (q8MarketShare _),
    "q9_nation_profit" -> (q9NationProfit _),
    "q11_value_concentration" -> (q11ValueConcentration _),
    "q12_shipping_delay" -> (q12ShippingDelay _),
    "q13_order_count_dist" -> (q13OrderCountDist _),
    "q2_min_cost_supplier" -> (q2MinCostSupplier _),
    "q20_excess_suppliers" -> (q20ExcessSuppliers _)
  )

  def oracles: Map[String, String] = Map(
    "discount_elasticity" -> discountElasticitySql,
    "trade_flow_matrix" -> tradeFlowMatrixSql,
    "orders_backlog" -> ordersBacklogSql,
    "grouping_sets_agg" -> groupingSetsAggSql,
    "q6_filter_agg" -> q6FilterAggSql,
    "q8_market_share" -> q8MarketShareSql,
    "q9_nation_profit" -> q9NationProfitSql,
    "q11_value_concentration" -> q11ValueConcentrationSql,
    "q12_shipping_delay" -> q12ShippingDelaySql,
    "q13_order_count_dist" -> q13OrderCountDistSql,
    "q2_min_cost_supplier" -> q2MinCostSupplierSql,
    "q20_excess_suppliers" -> q20ExcessSuppliersSql
  )
}
