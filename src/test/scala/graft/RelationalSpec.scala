package graft

import graft.operators.Relational

class RelationalSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q1_agg groups lineitem and sums exactly") {
    val df = run("q1_agg")
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(df.columns.toSeq ==
      Seq("l_returnflag", "l_linestatus", "sum_qty", "sum_base_price", "count_order", "avg_qty"))
    rows.foreach { r =>
      assert(math.abs(r.getDouble(5) * r.getLong(4) - r.getDouble(2)) < 1e-6)
    }
  }

  test("q3_join_agg returns top-10 by revenue, descending") {
    val rows = run("q3_join_agg").collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val revs = rows.map(_.getDouble(2)).toSeq
    assert(revs == revs.sorted.reverse)
  }

  test("q5_multi_join aggregates revenue per nation") {
    val rows = run("q5_multi_join").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getString(0)).distinct.length == rows.length)
  }

  test("topk_window keeps at most 3 rows per customer, ranked") {
    val rows = run("topk_window").collect()
    val byCust = rows.groupBy(_.getLong(0))
    assert(byCust.values.forall(_.length <= 3))
    byCust.values.foreach { g =>
      val sorted = g.sortBy(_.getLong(3))
      val prices = sorted.map(_.getDouble(2)).toSeq
      assert(prices == prices.sorted.reverse)
    }
  }

  test("semi and anti joins partition the customer set") {
    val semi = run("semi_join").collect().map(_.getLong(0)).toSet
    val anti = run("anti_join").collect().map(_.getLong(0)).toSet
    assert(semi.nonEmpty)
    assert(anti.nonEmpty)
    // anti is w.r.t. 300k orders, semi w.r.t. 400k: a 400k holder is never in anti
    assert(semi.intersect(anti).isEmpty)
  }

  test("rollup_agg includes subtotal and grand-total rows") {
    val rows = run("rollup_agg").collect()
    assert(rows.exists(r => r.getString(0) == "ALL" && r.getString(1) == "ALL"))
    assert(rows.exists(r => r.getString(0) != "ALL" && r.getString(1) == "ALL"))
    val grand = rows.filter(r => r.getString(0) == "ALL" && r.getString(1) == "ALL")
    assert(grand.length == 1)
    val leaves = rows.filter(r => r.getString(0) != "ALL" && r.getString(1) != "ALL")
    assert(math.abs(leaves.map(_.getDouble(2)).sum - grand.head.getDouble(2)) < 1e-4)
  }

  test("pivot_agg produces one row per user with all event-type columns") {
    val df = run("pivot_agg")
    assert(df.columns.toSeq == Seq("user_id", "click", "error", "purchase", "signup", "view"))
    val rows = df.collect()
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
  }

  test("approx_distinct returns one HLL estimate per group") {
    // error bound vs exact lives in ApproxSpec; here: shape only
    val rows = run("approx_distinct").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(1) > 0))
  }

  test("percentiles ordered p50 <= p90") {
    run("percentiles").collect().foreach { r =>
      assert(r.getDouble(1) <= r.getDouble(2))
    }
  }

  test("asof_join: click_ts never after purchase ts") {
    val rows = run("asof_join").collect()
    assert(rows.nonEmpty)
    rows.filter(!_.isNullAt(3)).foreach { r =>
      assert(r.getLong(3) <= r.getLong(2))
    }
    // at least one purchase has a prior click
    assert(rows.exists(!_.isNullAt(3)))
  }

  test("asof_join_nearest: dominates backward asof, directions honest, ties backward") {
    val near = run("asof_join_nearest").collect()
      .map(r => r.getLong(0) -> r).toMap
    val back = run("asof_join").collect()
    assert(near.nonEmpty && near.size == back.length, "same purchase set")
    back.foreach { b =>
      val n = near(b.getLong(0))
      if (!b.isNullAt(3)) {
        assert(!n.isNullAt(3), s"nearest lost a match: $n")
        // nearest |Δ| never exceeds the backward |Δ|
        val backDelta = b.getLong(2) - b.getLong(3)
        assert(n.getLong(4) <= backDelta, s"nearest worse than backward: $n vs $b")
        // a backward-direction pick IS the backward match
        if (n.getString(5) == "backward")
          assert(n.getLong(3) == b.getLong(3), s"backward pick drifts: $n vs $b")
      }
    }
    near.values.filter(!_.isNullAt(3)).foreach { r =>
      val dirOk = r.getString(5) match {
        case "backward" => r.getLong(3) <= r.getLong(2)
        case "forward"  => r.getLong(3) > r.getLong(2)
        case _          => false
      }
      assert(dirOk, s"direction label inconsistent: $r")
    }
    assert(near.values.exists(r => !r.isNullAt(3) && r.getString(5) == "forward"),
      "some purchase should match forward (click-less prefixes exist)")
  }

  test("sessionize: sessions start at 1 and events sum to total") {
    val rows = run("sessionize").collect()
    val byUser = rows.groupBy(_.getLong(0))
    byUser.values.foreach { g =>
      val ids = g.map(_.getLong(1)).sorted.toSeq
      assert(ids == (1L to ids.length).toSeq)
    }
    val total = rows.map(_.getLong(2)).sum
    assert(total == graft.sources.Tables.events(spark, sf).count())
  }

  test("events_session_stats: conserves sessions and events, bucket bounds exact") {
    val sess = run("sessionize").collect()
    val rows = run("events_session_stats").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(2)).sum == sess.length, "session counts conserve")
    assert(rows.map(_.getLong(4)).sum == sess.map(_.getLong(2)).sum, "event counts conserve")
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-4, "shares sum to 1")
    rows.foreach { r =>
      assert(r.getLong(1) == (1L << r.getInt(0)) - 1, "dur_lo = 2^bucket - 1")
      assert(r.getDouble(5) >= 1.0, "every session has at least one event")
    }
    // bucket membership spot-check against the raw session durations
    val durBuckets = sess.map { s =>
      val d = (s.getLong(4) - s.getLong(3)) / 1000000L
      64 - java.lang.Long.numberOfLeadingZeros(d + 1) - 1
    }
    val expect = durBuckets.groupBy(identity).view.mapValues(_.length.toLong).toMap
    rows.foreach(r => assert(expect(r.getInt(0)) == r.getLong(2), s"bucket ${r.getInt(0)}"))
  }

  test("dedup_exact_keyed keeps exactly one row per customer") {
    val rows = run("dedup_exact_keyed").collect()
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
  }

  test("every oracleSql key has a queries entry") {
    SparkEntry.oracleSql.keys.foreach { k =>
      assert(SparkEntry.queries.contains(k), s"oracle $k without query")
    }
  }

  test("broadcast hint survives in q5 plan") {
    val plan = run("q5_multi_join").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "expected broadcast joins for dims")
  }

  test("q18 rows all exceed the 250-quantity gate, descending by order value") {
    val rows = run("q18_large_orders").collect()
    assert(rows.nonEmpty && rows.length <= 100)
    assert(rows.forall(_.getAs[Double]("total_qty") > 250.0))
    val prices = rows.map(_.getAs[Double]("o_totalprice")).toSeq
    assert(prices == prices.sorted.reverse)
  }

  test("q17 decorrelated threshold matches a spot-checked correlated subquery") {
    // independent formulation through Spark SQL's own correlated scalar
    // subquery (Catalyst decorrelates it) — same avg_yearly to the cent
    val l = graft.sources.Tables.lineitem(spark, sf)
    l.createOrReplaceTempView("li_q17")
    val want = spark.sql(
      """SELECT CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0/7.0 AS avg_yearly
        |FROM li_q17 outer_l
        |WHERE l_quantity < (SELECT 0.2 * avg(l_quantity) FROM li_q17
        |                    WHERE l_partkey = outer_l.l_partkey)""".stripMargin)
      .first().getDouble(0)
    val got = run("q17_avg_threshold").first().getDouble(0)
    assert(math.abs(got - want) < 1e-6, s"$got vs $want")
  }

  test("q19 pushes per-side disjunction residues into BOTH parquet scans") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = run("q19_disjunctive_join").queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.metadata.getOrElse("PushedFilters", "")
    }
    assert(scans.length == 2, s"expected 2 parquet scans, got $scans")
    // lineitem scan: the OR of the three quantity ranges; part scan: the
    // OR of the three (brand, size-bound) conjunctions. Neither side is
    // a globally-true predicate — Catalyst must extract the residues.
    assert(scans.exists(p => p.contains("Or(") && p.contains("l_quantity")),
      s"no disjunctive quantity pushdown in $scans")
    assert(scans.exists(p => p.contains("Or(") && p.contains("p_brand")),
      s"no disjunctive brand/size pushdown in $scans")
  }

  test("q22 threshold is exact: no borderline customer flips vs the float average") {
    val rows = run("q22_dormant_balance").collect()
    assert(rows.nonEmpty)
    // n_dormant and total_balance are internally consistent: every
    // nation's average dormant balance exceeds the global positive mean
    // (each member individually cleared the threshold).
    val c = graft.sources.Tables.customer(spark, sf)
    import org.apache.spark.sql.functions._
    val mean = c.filter(col("c_acctbal") > 0).agg(avg(col("c_acctbal")))
      .first().getDouble(0)
    rows.foreach { r =>
      val avgBal = r.getAs[Double]("total_balance") / r.getAs[Long]("n_dormant")
      assert(avgBal > mean - 0.01, s"nation ${r.getString(0)}: $avgBal <= $mean")
    }
  }

  test("range_join matches the brute-force nearest computation") {
    import org.apache.spark.sql.functions._
    val got = run("range_join").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    // O(n²) reference at sf0.001 scale
    val ev = graft.sources.Tables.eventsUs(spark, sf)
      .select(col("event_id"), col("event_type"), col("ts_us")).collect()
    val probes = ev.filter(_.getString(1) == "purchase").map(r => (r.getLong(0), r.getLong(2)))
    val errs = ev.filter(_.getString(1) == "error").map(r => (r.getLong(0), r.getLong(2)))
    val d = 300000000L
    val expected = probes.flatMap { case (pid, pts) =>
      val cands = errs.filter { case (_, ets) => math.abs(ets - pts) <= d }
      if (cands.isEmpty) None
      else {
        val (eid, ets) = cands.minBy { case (eid, ets) => (math.abs(ets - pts), eid) }
        Some((pid, eid, ets - pts))
      }
    }.sortBy(_._1)
    assert(got.toSeq == expected.toSeq)
    // every probe at most once (top-1 semantics)
    assert(got.map(_._1).distinct.length == got.length)
  }

  test("range_join: planted boundary and tie fixtures (the r14 sort-merge corners)") {
    // The density-independent rewrite reads prev/next errors off two
    // bucket-partitioned sorts; plant exactly the corners that walk can
    // get wrong: a nearest error in the ADJACENT bucket, equal-|dt|
    // errors on both sides (min event_id wins), two errors at one
    // nearest timestamp (min event_id wins), an exact-ts (dt=0) error,
    // an out-of-tolerance probe (no row), and an unmatched lone probe.
    import spark.implicits._
    val d = 300000000L
    val rows = Seq(
      // probe 10 at bucket edge: nearest error 100 sits in the previous bucket
      (10L, "purchase", 3L * d + 1L), (100L, "error", 3L * d - 5L),
      // probe 11: errors 102 (left, dt=-7) and 101 (right, dt=+7) tie -> min e_id 101
      (11L, "purchase", 10L * d), (102L, "error", 10L * d - 7L), (101L, "error", 10L * d + 7L),
      // probe 12: two errors share the nearest ts -> min e_id 103
      (12L, "purchase", 20L * d), (104L, "error", 20L * d + 9L), (103L, "error", 20L * d + 9L),
      // probe 13: exact-ts error (dt = 0)
      (13L, "purchase", 30L * d), (105L, "error", 30L * d),
      // probe 14: nearest error beyond tolerance -> no output row
      (14L, "purchase", 40L * d), (106L, "error", 40L * d + d + 1L),
      // probe 15: no error anywhere near
      (15L, "purchase", 60L * d)
    ).toDF("event_id", "event_type", "ts_us")
    val got = graft.operators.Relational.rangeJoinFrom(rows).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((10L, 100L, -6L), (11L, 101L, 7L), (12L, 103L, 9L), (13L, 105L, 0L)))
  }

  test("q15: the revenue aggregate is staged once, not re-derived by the max probe") {
    val df = run("q15_top_supplier")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // ties-kept max: every returned revenue equals the frame's max
    val revs = rows.map(_.getAs[Double]("total_revenue"))
    assert(revs.forall(_ == revs.max))
    // without the barrier the plan held TWO independent lineitem
    // revenue shuffles (AQE's stage cache never matched the re-aliased
    // second reference — two distinct ShuffleQueryStage ids); staged,
    // the query's own plan derives revenue zero times. Asserted
    // STRUCTURALLY (the q21 discipline): walk the executed plan for
    // shuffles keyed on l_suppkey and for lineitem file scans, instead
    // of regexing the plan string (which breaks on AQE wording changes).
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val root = df.queryExecution.executedPlan
    val inner = root match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val suppkeyShuffles = inner.collectWithSubqueries {
      case s: ShuffleExchangeExec => s.outputPartitioning
    }.collect {
      case h: HashPartitioning
          if h.expressions.exists(_.references.exists(_.name == "l_suppkey")) => h
    }
    assert(suppkeyShuffles.isEmpty,
      s"revenue re-derived ${suppkeyShuffles.size}x in-plan:\n$inner")
    val lineitemScans = inner.collectWithSubqueries {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("lineitem")) => f
    }
    assert(lineitemScans.isEmpty,
      s"lineitem scanned inside the query plan — barrier not in effect:\n$inner")
  }

  test("stage barrier: building q15 starts no query job and keeps its LogicalRDD leaf") {
    // the revenue barrier is a LogicalRDD leaf: the query's own plan
    // does not read lineitem, the barrier's input does, and none of it
    // runs until an action reads the leaf
    import org.apache.spark.sql.GraftColumnBridge.barrierInput
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def readsLineitem(p: LogicalPlan): Boolean = p.collect {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.location.rootPaths
    }.flatten.exists(_.toString.contains("lineitem"))
    val (staged, jobs) = jobsDuring(run("q15_top_supplier"))
    assert(jobs == 0)
    val plan = staged.queryExecution.analyzed
    val inputs = plan.collect { case r: LogicalRDD => r.rdd }.flatMap(barrierInput(_))
    assert(inputs.nonEmpty, s"staged barrier should rebase onto a LogicalRDD leaf:\n$plan")
    assert(!readsLineitem(plan), plan)
    assert(inputs.exists(in => readsLineitem(in.queryExecution.analyzed)))
  }

  test("stage barrier: two actions run its input's shuffle-map stages once, same rows") {
    import org.apache.spark.sql.GraftColumnBridge.stageBarrier
    import org.apache.spark.sql.functions._
    val revenue = graft.sources.Tables.lineitem(spark, sf)
      .groupBy(col("l_suppkey")).agg(sum(col("l_extendedprice")).as("rev"))
    val (staged, built) = mapStagesDuring(stageBarrier(revenue))
    assert(built == 0)
    val (n, first) = mapStagesDuring(staged.count())
    assert(first >= 1)
    val (rows, second) = mapStagesDuring(staged.collect())
    assert(second == 0, "the second action re-ran the barrier's input")
    assert(rows.length == n)
    assert(rows.sortBy(_.getLong(0)).toSeq == revenue.collect().sortBy(_.getLong(0)).toSeq)
  }

  test("q21: grouped cascades inherit the join partitioning under sort-merge") {
    val rows = run("q21_waiting_supplier").collect()
    assert(rows.nonEmpty)
    val waits = rows.map(_.getAs[Long]("numwait"))
    assert(waits.toSeq == waits.sortBy(-_).toSeq)
    // with every join forced off broadcast, the partitioning-reuse
    // property is asserted STRUCTURALLY (not by counting plan-string
    // matches, which breaks on AQE wording changes): the (orderkey,
    // suppkey) and (orderkey) aggregates must inherit the join's
    // orderkey partitioning, so (a) every shuffle partitions on exactly
    // ONE key — a two-key hashpartitioning would be the cascade
    // re-shuffling on (l_orderkey, l_suppkey) — and (b) exactly two
    // shuffles key on an orderkey (the two join inputs); the aggregates
    // themselves add none.
    val thresholdBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
      val root = run("q21_waiting_supplier").queryExecution.executedPlan
      val inner = root match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val keys = inner.collectWithSubqueries {
        case s: ShuffleExchangeExec => s.outputPartitioning
      }.collect { case h: HashPartitioning =>
        h.expressions.flatMap(_.references.toSeq.map(_.name))
      }
      assert(keys.nonEmpty, s"no hash shuffles found:\n$inner")
      assert(keys.forall(_.size == 1),
        s"a shuffle partitions on >1 key (cascade re-shuffled): $keys\n$inner")
      val orderkeyShuffles =
        keys.count(k => Set("l_orderkey", "o_orderkey").contains(k.head))
      assert(orderkeyShuffles == 2,
        s"expected 2 orderkey shuffles (join inputs only), got $orderkeyShuffles: $keys\n$inner")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdBefore)
  }
}
