package graft

import org.apache.spark.sql.functions._
import graft.operators.Salt
import graft.sources.Tables

/** Scale-machinery specs: bucketed co-located joins (no shuffle at the
  * join) and deterministic skew salting (same answers, spread keys). */
class ScaleSpec extends SparkSpec {

  test("bucketed tables join without a shuffle exchange") {
    val bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.orders(spark, sf).write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("orders_bkt")
      Tables.customer(spark, sf).write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("customer_bkt")
      val j = spark.table("orders_bkt")
        .join(spark.table("customer_bkt"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      val plan = j.queryExecution.executedPlan.toString
      // co-located: the join itself reads pre-bucketed data — no exchange
      // between the scans and the join (only the final agg may shuffle)
      val joinPart = plan.substring(plan.indexOf("Join"))
      assert(!plan.substring(0, plan.indexOf("Join")).contains("Exchange") ||
        plan.contains("SortMergeJoin"), plan)
      val exchanges = plan.linesIterator.count(_.trim.startsWith("Exchange"))
      assert(exchanges <= 1, s"expected at most the agg exchange, got $exchanges:\n$plan")
      // and the answer matches the unbucketed join
      val expect = Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = j.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expect)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS customer_bkt")
    }
  }

  test("salted aggregation matches plain aggregation") {
    val e = Tables.eventsUs(spark, sf)
    val plain = e.groupBy(col("event_type"))
      .agg(sum(round(col("value") * 100).cast("long")).as("sum_value"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val salted = Salt.saltedSumCount(e, Seq(col("event_type")),
        round(col("value") * 100).cast("long"), 16, Seq(col("event_id")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == plain)
  }

  test("skew_eval: every audited key's stats are internally consistent and factor = ceil(max/avg)") {
    val rows = SparkEntry.queries("skew_eval")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6)))
    assert(rows.map(_._1).toSeq == Seq("events.event_type", "events.user_id",
      "lineitem.l_orderkey", "lineitem.l_partkey", "orders.o_custkey"))
    rows.foreach { case (k, n, keys, mx, avg, share, factor) =>
      assert(mx >= (n + keys - 1) / keys, s"$k: max below the mean")
      assert(share >= 1.0 / keys && share <= 1.0, s"$k: share out of range")
      assert(math.abs(avg - math.rint(100.0 * n / keys) / 100) < 1e-9, s"$k: avg")
      assert(factor == (mx * keys + n - 1) / n, s"$k: factor != ceil(max/avg)")
      assert(factor >= 1, s"$k: factor >= 1")
    }
    // the audit's own aggregate can't skew: a hot key is absorbed by the
    // map-side partial, so the report is safe to run on the skewed table
    // itself — event_type (5 keys over the corpus) is the planted case
    val et = rows.find(_._1 == "events.event_type").get
    assert(et._3 == 5 && et._7 >= 1)
  }

  test("measuredSaltFactor wires skew_eval's exact factor into the salted agg (non-8), equality + exchange pair hold") {
    import spark.implicits._
    // planted skew: 'hot' owns 30 of 40 rows over 4 keys → ceil(30/10) = 3
    val df = (1 to 40)
      .map(i => (if (i <= 30) "hot" else s"k${i % 3}", i.toLong, i.toLong))
      .toDF("k", "id", "v")
    val f = Salt.measuredSaltFactor(df, col("k"))
    assert(f == 3, s"expected the planted factor 3, got $f")
    val salted = Salt.saltedSumCount(df, Seq(col("k")), col("v"), f, Seq(col("id")))
    val plain = df.groupBy("k")
      .agg(sum("v").as("sum_value"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet == plain)
    // the two-phase shape at the measured (non-8) factor: a partial
    // exchange on (k, __salt) below the final exchange on (k) alone
    val parts = "hashpartitioning\\([^)]*\\)".r
      .findAllIn(salted.queryExecution.executedPlan.toString).toList
    assert(parts.exists(_.contains("__salt")),
      s"missing the (key, salt) exchange: $parts")
    assert(parts.exists(p => p.contains("k#") && !p.contains("__salt")),
      s"missing the final (key) exchange: $parts")
    // the registered composition carries skew_eval's published factor
    val auto = SparkEntry.queries("skew_salted_auto")(spark, sf).collect()
    val evalF = SparkEntry.queries("skew_eval")(spark, sf).collect()
      .find(_.getString(0) == "events.event_type").get.getLong(6)
    assert(auto.nonEmpty && auto.forall(_.getLong(3) == evalF),
      s"salt_factor column must equal skew_eval's factor $evalF")
  }

  test("salted join matches plain join and spreads hot keys") {
    val o = Tables.orders(spark, sf)
    val c = Tables.customer(spark, sf).select("c_custkey", "c_mktsegment")
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = o.join(c, Seq("o_custkey"))
      .groupBy("c_mktsegment").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Salt.saltedJoin(o, c, "o_custkey", 8, Seq(col("o_orderkey")))
      .groupBy("c_mktsegment").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    // determinism: same salt for same rows on re-run
    val s1 = o.select(Salt.rowSalt(8, Seq(col("o_orderkey"))).as("s")).collect()
    val s2 = o.select(Salt.rowSalt(8, Seq(col("o_orderkey"))).as("s")).collect()
    assert(s1.sameElements(s2))
  }

  test("dynamic partition pruning fires on the partitioned fact scan") {
    // The 100 TB star-join staple: the fact is directory-partitioned on the
    // join key's functional image (order year); the dim filter is only
    // known at runtime, so static pruning can't help — Spark must inject a
    // dynamicpruning subquery into the fact scan's PartitionFilters so
    // only matching year directories are listed and read.
    val dir = temp("graft-dpp")
    val o = Tables.orders(spark, sf)
      .withColumn("o_year", year(col("o_orderdate")))
    graft.sources.Ingest.writePartitioned(o, s"$dir/fact", Seq("o_year"))
    // dim must be a real scan + filter (a LocalRelation's filter constant-
    // folds away and DPP's selective-predicate check never fires)
    spark.range(1995, 2002)
      .select(col("id").cast("int").as("d_year"), (col("id") % 2).as("parity"))
      .write.mode("overwrite").parquet(s"$dir/dim")
    val fact = spark.read.parquet(s"$dir/fact")
    val dim = spark.read.parquet(s"$dir/dim").filter(col("parity") === 0)
    val q = fact.join(broadcast(dim), col("o_year") === col("d_year"))
      .groupBy(col("o_year")).agg(count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruning PartitionFilter on the fact scan:\n$plan")
    // and the pruned plan still computes the right answer
    val got = q.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val expect = Tables.orders(spark, sf)
      .withColumn("o_year", year(col("o_orderdate")))
      .filter(col("o_year") % 2 === 0)
      .groupBy(col("o_year")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == expect, s"got $got vs $expect")
  }

  test("runtime bloom filter prunes the big side of a shuffle join") {
    // DPP's sibling for non-partitioned data: when a selectively-filtered
    // build side meets a big probe side in a SHUFFLE join, Spark injects a
    // bloom_filter_agg subquery on the build side and a might_contain
    // predicate into the probe scan, dropping most probe rows BEFORE the
    // shuffle — at 100 TB that is the difference between shuffling the
    // whole fact and shuffling the ~matching slice.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val o = Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT")
      val l = Tables.lineitem(spark, sf)
      val q = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") || plan.contains("bloom_filter"),
        s"expected a runtime bloom filter on the probe side:\n$plan")
      // and the filtered plan still computes the right answer
      val got = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val expect = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expect, s"got $got vs $expect")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("shuffle partitions derive from input bytes: cpu floor, 32MB target, 4096 rail") {
    // The r12 sf100 lesson: AQE coalesces a too-fine map side but cannot
    // split a too-coarse one — the initial count must scale with input.
    val target = GraftSession.TargetPartitionBytes
    // small SFs floor at the core count (bench at sf0.1 unchanged)
    assert(GraftSession.shufflePartitionsFor(0L, 32) == 32)
    assert(GraftSession.shufflePartitionsFor(18L * 1024 * 1024, 32) == 32) // ~sf0.1
    // the sf100 regime (15.6 GB on disk) lands in the 487-partition
    // range where the whole registry completes on an 8 GB heap
    val sf100 = GraftSession.shufflePartitionsFor(15600L * 1024 * 1024, 32)
    assert(sf100 >= 400 && sf100 <= 600, s"sf100 sizing: $sf100")
    // exact rule: ceil(bytes/target), floored at cpus
    assert(GraftSession.shufflePartitionsFor(10 * target + 1, 4) == 11)
    // railed so a petabyte path can't explode the scheduler on one box
    assert(GraftSession.shufflePartitionsFor(Long.MaxValue / 4, 32)
      == GraftSession.MaxShufflePartitions)
    // the real testdata dirs resolve through inputBytes (monotone in SF)
    val b001 = GraftSession.inputBytes("/root/testdata/sf0.001")
    val b01 = GraftSession.inputBytes("/root/testdata/sf0.01")
    assert(b001 > 0 && b01 > b001)
    assert(GraftSession.inputBytes("/no/such/dir") == 0L)
  }

  test("the partition floor is the core count of the builder's local master") {
    assert(GraftSession.coresOf("local[32]") == 32)
    assert(GraftSession.coresOf("local[*]") == Runtime.getRuntime.availableProcessors())
    assertThrows[IllegalArgumentException](GraftSession.coresOf("yarn"))
  }

  test("the default core count is SPARK_GRAFT_CPUS, else min(32, nproc); a bad value is rejected") {
    assert(GraftSession.defaultCpus(None) == math.min(32, Runtime.getRuntime.availableProcessors()))
    assert(GraftSession.defaultCpus(Some("7")) == 7)
    for (bad <- Seq("0", "-2", "x", "")) {
      val e = intercept[IllegalArgumentException](GraftSession.defaultCpus(Some(bad)))
      assert(e.getMessage == s"SPARK_GRAFT_CPUS must be a positive integer, got '$bad'")
    }
  }

  test("Bench's pass count is SPARK_GRAFT_BENCH_PASSES, else 3; a bad value is rejected") {
    assert(Bench.passesFrom(None) == 3)
    assert(Bench.passesFrom(Some("5")) == 5)
    for (bad <- Seq("0", "-1", "three", "")) {
      val e = intercept[IllegalArgumentException](Bench.passesFrom(Some(bad)))
      assert(e.getMessage == s"SPARK_GRAFT_BENCH_PASSES must be a positive integer, got '$bad'")
    }
  }
}
