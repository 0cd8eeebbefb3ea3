package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact ranks and running sums over a total order without a window as
  * wide as a group: the 100x-safe form of `row_number()` /
  * `sum(...) ROWS UNBOUNDED PRECEDING` over `PARTITION BY keys ORDER BY
  * order`.
  *
  * The caller supplies a bucket column `bkt` that never decreases along
  * `order` within `keys` (equal leading order keys share a bucket). Then:
  *  1. a (keys, bkt) histogram (|keys|·B rows) gives each bucket its
  *     offset — the count or measure of every earlier bucket — and each
  *     group its total, through windows over the histogram only;
  *  2. `row_number()` (or a ROWS-frame `sum`) inside (keys, bkt) plus the
  *     broadcast offset is the exact group-wide value.
  *
  * Any such bucketing — equi-width, equi-depth from a sketch, static
  * integer arithmetic — yields bit-identical results; the boundaries
  * only decide how evenly the rows spread over tasks. The helper adds no
  * stage barrier: callers stage their inputs themselves. */
object ExactRank {
  /** Adds `rk`, the exact rank of each row under `order` within `keys`
    * (1-based, as `row_number()`), and `n`, the size of its group. */
  def rank(df: DataFrame, keys: Seq[String], bkt: String, order: Seq[Column]): DataFrame =
    cascade(df, keys, bkt, order, count(lit(1)), row_number(), "rk", "n")

  /** Adds `cum`, the running sum of `measure` under `order` within
    * `keys` (current row included), and `tot`, the group's total. */
  def runningSum(df: DataFrame, keys: Seq[String], bkt: String, order: Seq[Column],
                 measure: Column): DataFrame =
    cascade(df, keys, bkt, order, sum(measure), sum(measure), "cum", "tot")

  private def cascade(df: DataFrame, keys: Seq[String], bkt: String, order: Seq[Column],
                      perBucket: Column, local: Column, out: String, total: String): DataFrame = {
    val k = keys.map(col)
    val wOff = Window.partitionBy(k: _*).orderBy(col(bkt))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = df.groupBy(k :+ col(bkt): _*).agg(perBucket.as("c_"))
      .withColumn("off_", coalesce(sum(col("c_")).over(wOff), lit(0)))
      .withColumn(total, sum(col("c_")).over(Window.partitionBy(k: _*)))
      .drop("c_")
    val wLoc = Window.partitionBy(k :+ col(bkt): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("loc_", local.over(wLoc))
      .join(broadcast(offs), keys :+ bkt)
      .withColumn(out, col("off_") + col("loc_"))
      .drop("off_", "loc_")
  }

  /** Spark's `ntile(k)` at rank `rk` of `n` rows (the columns [[rank]]
    * adds): n = q·k + r, and the first r tiles hold q + 1 rows. */
  def ntile(k: Int): Column = {
    val (q, r) = (s"(n DIV $k)", s"(n % $k)")
    expr(s"""CAST(CASE WHEN rk <= $r * ($q + 1) THEN (rk - 1) DIV ($q + 1) + 1
            |          ELSE $r + (rk - 1 - $r * ($q + 1)) DIV $q + 1 END AS INT)""".stripMargin)
  }

  /** Equi-width bucket index (0..buckets-1) of `v` within [mn, mx]: a
    * non-decreasing function of `v`, so it is a valid `bkt` for any
    * order whose leading key is `v`. A null range lands in bucket 0. */
  def eqWidthBucket(v: Column, mn: Column, mx: Column, buckets: Int = 64): Column =
    coalesce(greatest(lit(0L), least(lit(buckets - 1L),
      floor((v - mn) * buckets / (mx - mn + lit(1e-6))))), lit(0L))
}
