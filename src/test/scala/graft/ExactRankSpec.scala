package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.ExactRank

/** ExactRank against Spark's own group-wide windows on a small in-memory
  * frame: two partition keys, a leading order key with many ties (23
  * values over 600 rows, so ties share a bucket and span buckets'
  * interiors), a unique tie-break, and a signed decimal(38,0) measure. */
class ExactRankSpec extends SparkSpec {

  private lazy val base: DataFrame = {
    val s = spark
    import s.implicits._
    (0 until 600).map { i =>
      (i % 2, (i / 2) % 3, (i * 7919) % 23, i.toLong, (i * 1000003L) % 9973 - 5000)
    }.toDF("g1", "g2", "v", "id", "m0")
      .withColumn("m", col("m0").cast("decimal(38,0)")).drop("m0")
  }

  /** `base` plus an equi-width `bkt` of `key` within each (g1, g2) group
    * (8 buckets, so every bucket holds many rows and many ties). */
  private def bucketed(keys: Seq[String], key: Column): DataFrame = {
    val rng = base.groupBy(keys.map(col): _*)
      .agg(min(key).as("mn"), max(key).as("mx"))
    val withKey = base.withColumn("key_", key)
    (if (keys.isEmpty) withKey.crossJoin(rng) else withKey.join(rng, keys))
      .withColumn("bkt", ExactRank.eqWidthBucket(col("key_"), col("mn"), col("mx"), 8))
      .drop("mn", "mx", "key_")
  }

  private val cases: Seq[(String, Seq[String], Column, Seq[Column])] = Seq(
    ("two keys, ascending", Seq("g1", "g2"), col("v").cast("double"), Seq(col("v"), col("id"))),
    ("two keys, descending", Seq("g1", "g2"), (-col("v")).cast("double"),
      Seq(col("v").desc, col("id"))),
    ("no keys", Nil, col("v").cast("double"), Seq(col("v"), col("id").desc)))

  for ((name, keys, key, order) <- cases) {
    test(s"rank and ntile equal row_number and ntile windows: $name") {
      val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      val ks = Seq(1, 3, 5, 7, 150)
      val want = ks.foldLeft(base.withColumn("rk", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))) {
        (df, k) => df.withColumn(s"t$k", ntile(k).over(w))
      }
      val got = ks.foldLeft(ExactRank.rank(bucketed(keys, key), keys, "bkt", order)) {
        (df, k) => df.withColumn(s"t$k", ExactRank.ntile(k))
      }
      val cols = Seq("id", "rk", "n") ++ ks.map(k => s"t$k")
      def rows(df: DataFrame) = df.select(cols.map(col): _*).collect().map(_.toSeq.map(_.toString)).toSet
      assert(rows(got) == rows(want))
      assert(rows(got).size == 600)
    }

    test(s"runningSum equals a ROWS running-sum window over decimal(38,0): $name") {
      val g = Window.partitionBy(keys.map(col): _*)
      val want = base
        .withColumn("cum", sum(col("m")).over(
          g.orderBy(order: _*).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tot", sum(col("m")).over(g))
      val got = ExactRank.runningSum(bucketed(keys, key), keys, "bkt", order, col("m"))
      assert(got.schema("cum").dataType == want.schema("cum").dataType)
      def rows(df: DataFrame) = df.select("id", "cum", "tot").collect()
        .map(r => (r.getLong(0), BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2)))).toSet
      assert(rows(got) == rows(want))
      assert(rows(got).size == 600)
    }
  }
}
