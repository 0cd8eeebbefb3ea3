package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: build a larger scale factor from an existing one by
  * deterministic replication, preserving each table's workload structure
  * instead of naively duplicating rows (naive copies would multiply
  * dedup candidate-pair work by copies² — not how a corpus grows):
  *
  *  - orders: keys shift by copy*maxKey (new orders, same customers/
  *    periods — months get deeper, the statements derivation scales);
  *  - documents: every word gets a per-copy suffix, so copy i is a
  *    DISJOINT corpus with the same internal duplicate rate (cross-copy
  *    Jaccard 0, within-copy pairs intact);
  *  - embeddings: dimension 0 shifts by copy*17.5, breaking cross-copy
  *    cosine near-duplication while keeping each copy's planted pairs;
  *  - the small dims (region..supplier, part) and events stay as-is.
  *
  * Usage: dev/run.sh graft.MakeScale [src] [dst] [copies]
  * Default: /root/testdata/sf0.1 -> /tmp/graft-sf1 x10.
  */
object MakeScale {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft-sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.builder(sfDir = src).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // dims stay fixed (the 100 TB shape: facts grow, dims don't)
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      write(read(t), t)

    val orders = read("orders")
    val maxK = orders.agg(max(col("o_orderkey"))).first().getLong(0) + 1
    write(replicate(orders, copies)((df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * maxK))), "orders")

    // lineitem rides the SAME orderkey shift, so orders⋈lineitem joins
    // scale with the copies instead of collapsing onto copy 0 (the r7
    // fix — the earlier sweep copied lineitem 1x, quietly shrinking
    // every TPC-H join at "sf1")
    write(replicate(read("lineitem"), copies)((df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * maxK))), "lineitem")

    val events = read("events")
    val maxE = events.agg(max(col("event_id"))).first().getLong(0) + 1
    val maxU = events.agg(max(col("user_id"))).first().getLong(0) + 1
    write(replicate(events, copies)((df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * maxE))
        .withColumn("user_id", col("user_id") + lit(i * maxU))), "events")

    val docs = read("documents")
    val maxD = docs.agg(max(col("doc_id"))).first().getLong(0) + 1
    write(replicate(docs, copies)((df, i) =>
      df.withColumn("doc_id", col("doc_id") + lit(i * maxD))
        .withColumn("text",
          if (i == 0) col("text")
          else regexp_replace(col("text"), "(\\S+)", "$1" + s"x$i"))), "documents")

    val emb = read("embeddings")
    val maxV = emb.agg(max(col("vec_id"))).first().getLong(0) + 1
    write(replicate(emb, copies)((df, i) =>
      df.withColumn("vec_id", col("vec_id") + lit(i * maxV))
        .withColumn("embedding",
          if (i == 0) col("embedding")
          else concat(
            array((element_at(col("embedding"), 1) + lit(i * 17.5f)).cast("float")),
            slice(col("embedding"), 2, 100000)))), "embeddings")

    println(s"wrote ${copies}x $src -> $dst")
    spark.stop()
  }

  private def replicate(df: DataFrame, copies: Int)(
      f: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until copies).map(i => f(df, i)).reduce(_ unionByName _)
}
