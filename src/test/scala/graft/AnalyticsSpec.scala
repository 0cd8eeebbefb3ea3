package graft

import graft.operators.Analytics

class AnalyticsSpec extends SparkSpec {

  test("supplier_scorecard: lines conserve, rates bounded, every supplier present") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("supplier_scorecard")(spark, sf).collect()
    val li = graft.sources.Tables.lineitem(spark, sf)
    assert(rows.map(_.getLong(1)).sum == li.count(), "line counts conserve")
    assert(rows.length ==
      li.select(countDistinct(col("l_suppkey"))).collect().head.getLong(0))
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0, "return_rate in [0,1]")
      assert(r.getLong(5) >= 1 && r.getLong(5) <= r.getLong(1), "parts within lines")
      assert(r.getDouble(2) > 0.0, "positive revenue")
    }
  }

  test("orders_customer_hhi: HHI within [1/n, 1], top5 share bounded, nations complete") {
    val rows = SparkEntry.queries("orders_customer_hhi")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(1); val hhi = r.getDouble(2); val t5 = r.getDouble(3)
      assert(n > 0)
      // equal shares floor 1/n; single-customer ceiling 1
      assert(hhi >= 1.0 / n - 1e-6 && hhi <= 1.0 + 1e-9, s"hhi $hhi for n=$n")
      // top-5 share at least 5/n (top-5 can't be below-average) and <= 1
      assert(t5 <= 1.0 + 1e-9 && (n <= 5 || t5 >= 5.0 / n - 1e-6), s"top5 $t5 n=$n")
    }
  }

  test("events_heatmap: cells conserve the corpus, shares sum to 1, axes in range") {
    val rows = SparkEntry.queries("events_heatmap")(spark, sf).collect()
    val nEvents = graft.sources.Tables.events(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum == nEvents)
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-3)
    rows.foreach { r =>
      assert(r.getInt(0) >= 1 && r.getInt(0) <= 7)
      assert(r.getInt(1) >= 0 && r.getInt(1) <= 23)
    }
  }

  test("events_ohlc_bars: conserves events, OHLC ordered, open/close = first/last") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val rows = SparkEntry.queries("events_ohlc_bars")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(6)).sum == graft.sources.Tables.events(spark, sf).count())
    rows.foreach { r =>
      val (o, h, l, c) = (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(l <= h + 1e-9)
      assert(o >= l - 1e-9 && o <= h + 1e-9, s"open inside [low, high]: $r")
      assert(c >= l - 1e-9 && c <= h + 1e-9, s"close inside [low, high]: $r")
    }
    // naive first/last via an explicit window must agree on every bar
    val w = Window.partitionBy(col("event_type"), col("bar_us"))
      .orderBy(col("ts_us"), col("event_id"))
    val naive = graft.sources.Tables.eventsUs(spark, sf)
      .withColumn("bar_us", col("ts_us") - pmod(col("ts_us"), lit(3600000000L)))
      .withColumn("vc", round(col("value") * 100).cast("long").cast("double") / 100.0)
      .withColumn("first_v", first(col("vc")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("last_v", last(col("vc")).over(
        w.rowsBetween(0, Window.unboundedFollowing)))
      .groupBy(col("event_type"), col("bar_us"))
      .agg(min(col("first_v")).as("o"), max(col("last_v")).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    rows.foreach { r =>
      val (no, nc) = naive((r.getString(0), r.getLong(1)))
      assert(math.abs(r.getDouble(2) - no) < 1e-6, s"open ${r.getString(0)}/${r.getLong(1)}")
      assert(math.abs(r.getDouble(5) - nc) < 1e-6, s"close ${r.getString(0)}/${r.getLong(1)}")
    }
  }

  test("parts_abc_class: bucketed cums equal the global-window classification") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val rows = SparkEntry.queries("parts_abc_class")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("A", "B", "C"))
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-4, "part shares sum to 1")
    assert(math.abs(rows.map(_.getDouble(4)).sum - 1.0) < 1e-4, "rev shares sum to 1")
    // the boundary part rolls forward, so A <= 80% and A+B <= 95% exactly
    assert(rows(0).getDouble(4) <= 0.80 + 1e-9)
    assert(rows(0).getDouble(4) + rows(1).getDouble(4) <= 0.95 + 1e-9)
    // naive single-window twin (fine at spec scale) must agree exactly
    val pr = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_partkey").as("pk"),
        (round(col("l_extendedprice") * 100).cast("long")
          * (lit(10000L) - round(col("l_discount") * 10000).cast("long")))
          .cast("decimal(38,0)").as("rev"))
      .groupBy("pk").agg(sum("rev").as("rev"))
    val tot = pr.agg(sum("rev")).collect().head.getDecimal(0)
    val w = Window.orderBy(col("rev").desc, col("pk"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val naive = pr.withColumn("cum", sum(col("rev")).over(w))
      .withColumn("cls", when(col("cum") * 100 <= lit(tot) * 80, "A")
        .when(col("cum") * 100 <= lit(tot) * 95, "B").otherwise("C"))
      .groupBy("cls").agg(count(lit(1)).as("n"), sum("rev").as("r"))
      .orderBy("cls").collect()
    assert(naive.length == rows.length)
    rows.zip(naive).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0))
      assert(a.getLong(1) == b.getLong(1), s"class ${a.getString(0)} count")
      assert(math.abs(a.getDouble(3) - b.getDecimal(2).doubleValue / 1e6) < 1e-6)
    }
  }

  test("scd2_merge: incremental merge equals the from-scratch build bit for bit") {
    val full = SparkEntry.queries("scd2_intervals")(spark, sf).collect()
    val merged = SparkEntry.queries("scd2_merge")(spark, sf).collect()
    assert(full.length == merged.length)
    full.zip(merged).foreach { case (a, b) => assert(a == b, s"$a != $b") }
    // the gate fixture must actually exercise BOTH branches: some users
    // rebuilt (in the batch window), some passed through untouched
    val thr = graft.sources.Tables.eventsUs(spark, sf)
      .agg(org.apache.spark.sql.functions.expr(
        "max(ts_us) - (max(ts_us) - min(ts_us)) DIV 10")).collect().head.getLong(0)
    val users = graft.sources.Tables.eventsUs(spark, sf)
      .select("user_id", "ts_us").collect().groupBy(_.getLong(0))
    val affected = users.count { case (u, es) =>
      u % 3 == 0 && es.exists(_.getLong(1) >= thr)
    }
    assert(affected > 0 && affected < users.size,
      s"split degenerate: $affected of ${users.size} users affected")
  }

  test("customer_survival: hand-computed KM curve with censoring; curve invariants on sf") {
    import spark.implicits._
    def o(ck: Long, monthIdx: Int*) = monthIdx.zipWithIndex.map { case (k, i) =>
      (ck * 100 + i, ck, java.sql.Timestamp.valueOf(
        f"${2000 + (k - 1) / 12}-${(k - 1) % 12 + 1}%02d-15 00:00:00"))
    }
    // corpus max month = 24, censor gap 6: churned iff last month < 18
    val orders = (o(1L, 1, 24) ++ o(2L, 1, 10) ++ o(3L, 2, 11) ++
      o(4L, 5, 20) ++ o(5L, 1))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val got = graft.operators.Analytics.customerSurvivalFrom(orders).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(5)))).toMap
    // t=0: d=1 n=5 S=.8 | t=9: d=2 n=4 S=.4 | t=15,23: censored, S flat
    assert(got == Map(
      0 -> ((5L, 1L, 0L, 1.0 - 1.0 / 5)),
      9 -> ((4L, 2L, 0L, (1.0 - 1.0 / 5) * (1.0 - 2.0 / 4))),
      15 -> ((2L, 0L, 1L, (1.0 - 1.0 / 5) * (1.0 - 2.0 / 4))),
      23 -> ((1L, 0L, 1L, (1.0 - 1.0 / 5) * (1.0 - 2.0 / 4)))))
    // registered corpus: S non-increasing in (0,1], n_risk a true suffix sum
    val rows = SparkEntry.queries("customer_survival")(spark, sf).collect()
    val byT = rows.sortBy(_.getInt(0))
    assert(byT.nonEmpty && byT.head.getDouble(5) <= 1.0)
    byT.sliding(2).foreach { case Array(a, b) =>
      assert(b.getDouble(5) <= a.getDouble(5) + 1e-15, s"S must not rise: $a $b")
      assert(a.getLong(1) == b.getLong(1) + a.getLong(2) + a.getLong(3),
        s"n_risk suffix recurrence: $a $b")
    case _ => ()
    }
    assert(byT.forall(r => r.getDouble(5) > 0.0))
  }

  test("parts_supply_risk: planted exact HHI; sole-source parts rank by spend") {
    import spark.implicits._
    // part 1: suppliers at 3:1 revenue -> hhi = (9+1)/16; part 2 and 3
    // sole-sourced with different spend -> hhi = 1.0, ranked by revenue
    val li = Seq(
      (1L, 10L, 300.0, 0.0), (1L, 11L, 100.0, 0.0),
      (2L, 20L, 50.0, 0.0),
      (3L, 30L, 500.0, 0.0))
      .toDF("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
    val got = graft.operators.Analytics.partsSupplyRiskFrom(li).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(3L, 2L, 1L)) // hhi desc, rev desc
    val byPk = got.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(byPk(1L) == ((2L, 400.0, 0.75, 10.0 / 16.0)))
    assert(byPk(2L) == ((1L, 50.0, 1.0, 1.0)))
    assert(byPk(3L) == ((1L, 500.0, 1.0, 1.0)))
    // corpus invariants: hhi in (0,1], top_share^2 <= hhi <= top_share
    SparkEntry.queries("parts_supply_risk")(spark, sf).collect().foreach { r =>
      val (ts, h) = (r.getDouble(4), r.getDouble(5))
      assert(h > 0.0 && h <= 1.0 && ts <= 1.0, s"$r")
      assert(h <= ts + 1e-12 && h >= ts * ts - 1e-12, s"hhi bounds: $r")
    }
  }

  test("events_retention_curve: hand-planted censored curve; pooled-cohort invariants on sf") {
    import spark.implicits._
    val dayUs = 86400000000L
    def u(id: Long, days: Long*) =
      days.map(d => (id, d * dayUs + id)) // unique ts per user
    // corpus max day = 10; u4's cohort (day 9) is censored past d=1
    val ev = (u(1, 0, 1, 7) ++ u(2, 0, 1) ++ u(3, 5, 6) ++ u(4, 9, 10))
      .toDF("user_id", "ts_us")
    val got = graft.operators.Analytics.eventsRetentionCurveFrom(ev).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(got(1) == ((4L, 4L, Some(1.0))))          // everyone returns at d1
    assert(got(2) == ((0L, 3L, Some(0.0))))          // u4 not observable at d2
    assert(got(7) == ((1L, 2L, Some(0.5))))          // only day-0 cohorts observable
    assert(got(10) == ((0L, 2L, Some(0.0))))
    assert(got(11) == ((0L, 0L, None)), "past the corpus: no denominator")
    assert(got.size == 30)
    // registered corpus: rates in [0,1], observable counts non-increasing
    val rows = SparkEntry.queries("events_retention_curve")(spark, sf)
      .collect().sortBy(_.getInt(0))
    rows.foreach { r =>
      if (!r.isNullAt(3)) assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getLong(1) <= r.getLong(2), s"retained > observable: $r")
    }
    rows.sliding(2).foreach {
      case Array(a, b) => assert(b.getLong(2) <= a.getLong(2))
      case _ => ()
    }
  }

  test("events_markov_steady: matches an independent power iteration; planted 2-state chain hits its closed form") {
    import spark.implicits._
    // independent re-simulation on the registered corpus
    val tr = SparkEntry.queries("event_transitions")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val states = (tr.map(_._1) ++ tr.map(_._2)).distinct.sorted
    val na = tr.groupBy(_._1).map { case (a, rs) => a -> rs.map(_._3).sum }
    var pi = states.map(_ -> 1.0 / states.size).toMap
    for (_ <- 1 to graft.operators.Analytics.MarkovSteps) {
      val nxt = tr.groupBy(_._2).map { case (b, rs) =>
        b -> rs.sortBy(_._1).foldLeft(0.0) { case (acc, (a, _, n)) =>
          acc + pi(a) * (n.toDouble / na(a).toDouble) }
      }
      pi = states.map(s => s -> nxt.getOrElse(s, 0.0)).toMap
    }
    val got = SparkEntry.queries("events_markov_steady")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(got.keySet == states.toSet)
    // RAW (unrounded) quotients since r10 — the re-simulation's fold is
    // the identical ascending-a order, so equality is exact
    states.foreach(s => assert(got(s) == pi(s), s"state $s: ${got(s)} vs ${pi(s)}"))
    // distribution: non-negative, sums to ~1 (chain is closed here)
    assert(math.abs(got.values.sum - 1.0) < 1e-4)
    // planted 2-state chain: P(A->B)=1/4, P(B->A)=1/2 -> pi = (2/3, 1/3)
    // (A A A A B B) x4 then a closing A: A->B 4/16 = 1/4, B->A 4/8 = 1/2
    val seq = (Seq.fill(4)(Seq("A", "A", "A", "A", "B", "B")).flatten :+ "A").toArray
    val ev = seq.zipWithIndex.map { case (t, i) =>
      (1L, i.toLong, i.toLong * 1000000, t)
    }.toSeq.toDF("user_id", "event_id", "ts_us", "event_type")
    val planted = graft.operators.Analytics.eventsMarkovSteadyFrom(ev)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(math.abs(planted("A") - 2.0 / 3) < 0.01 &&
      math.abs(planted("B") - 1.0 / 3) < 0.01, s"$planted")
  }

  test("customer_lifecycle: growth accounting conserves the customer base") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("customer_lifecycle")(spark, sf).collect()
    assert(rows.nonEmpty)
    val nCust = graft.sources.Tables.orders(spark, sf)
      .select(countDistinct(col("o_custkey"))).collect().head.getLong(0)
    // every customer is NEW exactly once
    assert(rows.map(_.getLong(1)).sum == nCust, "sum(new) = distinct customers")
    // month-to-month conservation: actives at m-1 either retain or churn at m
    val byM = rows.map(r => r.getInt(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val maxM = byM.keys.max
    byM.foreach { case (m, (_, _, _, _, active)) =>
      if (active > 0 && m < maxM) {
        assert(byM.contains(m + 1), s"month ${m + 1} missing after active month $m")
        val (_, ret1, _, chn1, _) = byM(m + 1)
        assert(ret1 + chn1 == active, s"month ${m + 1}: retained+churned != active(m-1)")
      }
    }
    // unchurned accounting: entries minus exits = actives at the last month
    val lastActive = byM(byM.keys.max)._5
    val (sNew, sRes, sChn) =
      (rows.map(_.getLong(1)).sum, rows.map(_.getLong(3)).sum, rows.map(_.getLong(4)).sum)
    assert(sNew + sRes - sChn == lastActive, "new + resurrected - churned = final actives")
  }

  test("orders_gap_dist: gap count conserves (orders - customers), shares sum to 1") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("orders_gap_dist")(spark, sf).collect()
    assert(rows.nonEmpty)
    val o = graft.sources.Tables.orders(spark, sf)
      .agg(count(lit(1)).as("n"), countDistinct(col("o_custkey")).as("c")).collect().head
    // every order except each customer's first contributes one gap
    assert(rows.map(_.getLong(1)).sum == o.getLong(0) - o.getLong(1))
    val shareSum = rows.map(_.getDouble(2)).sum
    assert(math.abs(shareSum - 1.0) < 1e-4, s"shares sum $shareSum")
  }

  test("rank_stats_scalable equals the single-window rank_stats bit for bit") {
    val exact = Analytics.rankStats(spark, sf).collect()
    val scaled = Analytics.rankStatsScalable(spark, sf).collect()
    assert(exact.length == scaled.length)
    exact.zip(scaled).foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }

  test("rank_stats_scalable ranks inside (status, bucket) windows, not status-wide") {
    // Plan pin for the 100x property: the big-table row_number window must
    // be partitioned by (o_orderstatus, bkt), never by o_orderstatus alone
    // (the histogram's own tiny windows may be status-wide — that frame is
    // 3*BUCKETS rows).
    val plan = Analytics.rankStatsScalable(spark, sf).queryExecution.optimizedPlan.toString
    val rnLines = plan.split("\n").filter(_.contains("row_number()"))
    assert(rnLines.nonEmpty && rnLines.forall(_.contains("bkt")), plan)
  }

  test("rank_stats_eqdepth: bit-identical ranks from balanced sketch buckets") {
    import org.apache.spark.sql.functions._
    val exact = Analytics.rankStats(spark, sf).collect()
    val eqd = Analytics.rankStatsEqdepth(spark, sf).collect()
    assert(exact.length == eqd.length)
    exact.zip(eqd).foreach { case (a, b) => assert(a == b, s"$a != $b") }
    // the 100x property: every (status, bucket) task is ~n/B rows — the
    // approx-quantile boundaries bound the largest bucket within a small
    // multiple of perfect balance (uniform-ish prices here; the bound is
    // loose enough to hold under sketch error)
    val o = graft.sources.Tables.orders(spark, sf)
    val n = o.count()
    val probs = array((1 until 64).map(i => lit(i / 64.0)): _*)
    val bnds = o.agg(percentile_approx(col("o_totalprice"), probs, lit(10000)))
      .first().getSeq[Double](0)
    val maxBucket = o.select(
        size(filter(lit(bnds.toArray), b => b < col("o_totalprice"))).as("bkt"))
      .groupBy(col("bkt")).count().agg(max(col("count"))).first().getLong(0)
    assert(maxBucket <= 4 * n / 64,
      s"equi-depth bucket too fat: $maxBucket of $n rows")
  }

  test("scd2 intervals tile per user: gapless, run-collapsed, exactly one current row") {
    val rows = Analytics.scd2Intervals(spark, sf)
      .select("user_id", "attr", "valid_from_us", "valid_to_us", "version", "is_current")
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (uid, rs) =>
      val sorted = rs.sortBy(_.getInt(4))
      assert(sorted.map(_.getInt(4)).sameElements(1 to sorted.length), s"user $uid versions")
      sorted.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
        assert(a.getLong(3) == b.getLong(2), s"user $uid: valid_to must equal next valid_from")
        assert(a.getString(1) != b.getString(1), s"user $uid: consecutive runs must differ")
      }
      assert(sorted.count(_.getBoolean(5)) == 1 && sorted.last.getBoolean(5),
        s"user $uid: exactly the last interval is current")
      assert(sorted.init.forall(!_.isNullAt(3)) && sorted.last.isNullAt(3),
        s"user $uid: only the current interval is open-ended")
    }
  }

  test("scd2 intervals: both windows share one user_id exchange") {
    val plan = Analytics.scd2Intervals(spark, sf).queryExecution.executedPlan.toString
    val exchanges = plan.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected a single shuffle, got $exchanges:\n$plan")
  }

  test("fin_interpolate: actuals preserved, gaps convex between neighbors, edges flat") {
    val rows = Analytics.finInterpolate(spark, sf)
      .select("department", "gl_code", "year", "month", "total", "kind").collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.getString(5) == "interpolated") ||
      rows.exists(_.getString(5) == "edge"))
    rows.groupBy(r => (r.getString(0), r.getString(1))).values.foreach { g =>
      val series = g.sortBy(r => r.getInt(2) * 12 + r.getInt(3))
      val obs = series.filter(_.getString(5) == "actual")
        .map(r => (r.getInt(2) * 12 + r.getInt(3) - 1, r.getDouble(4)))
      series.foreach { r =>
        val idx = r.getInt(2) * 12 + r.getInt(3) - 1
        val v = r.getDouble(4)
        r.getString(5) match {
          case "actual" => ()
          case "interpolated" =>
            val prev = obs.filter(_._1 < idx).last
            val next = obs.find(_._1 > idx).get
            val expect = prev._2 + (next._2 - prev._2) * (idx - prev._1) / (next._1 - prev._1)
            assert(math.abs(v - expect) < 1e-6, s"interp $v vs $expect at $r")
            assert(v >= math.min(prev._2, next._2) - 1e-9 &&
              v <= math.max(prev._2, next._2) + 1e-9)
          case "edge" =>
            val nearest = if (obs.head._1 > idx) obs.head._2 else obs.last._2
            assert(v == nearest, s"edge $v vs flat $nearest at $r")
          case other => fail(s"unexpected kind $other")
        }
      }
    }
  }

  test("events_dau_mau: dau bounded by mau, stickiness in (0,1]") {
    val rows = Analytics.eventsDauMau(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (dau, mau, s) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(dau >= 1 && dau <= mau, s"dau $dau vs mau $mau")
      assert(s > 0.0 && s <= 1.0, s"stickiness $s")
    }
  }

  test("orders_rfm: quintiles balanced within 1, segment concatenates the scores") {
    val rows = Analytics.ordersRfm(spark, sf).collect()
    assert(rows.nonEmpty)
    Seq("r_score", "f_score", "m_score").foreach { c =>
      val byScore = rows.groupBy(_.getAs[Int](c)).view.mapValues(_.length)
      assert(byScore.keySet == (1 to 5).toSet, s"$c buckets ${byScore.keySet}")
      assert(byScore.values.max - byScore.values.min <= 1, s"$c unbalanced $byScore")
    }
    rows.foreach { r =>
      assert(r.getAs[String]("segment") ==
        s"${r.getAs[Int]("r_score")}${r.getAs[Int]("f_score")}${r.getAs[Int]("m_score")}")
    }
  }

  test("orders_rfm: bucketed two-pass quintiles bit-equal the global ntile windows") {
    // The single-reducer formula the operator replaced — three global
    // ntile(5) windows under total orders (value, custkey). Equal rows,
    // same order ⇒ the bucketed exact rank must be BIT-identical.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val o = graft.sources.Tables.orders(spark, sf)
    val maxd = o.agg(max(col("o_orderdate")).as("corpus_max"))
    val per = o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("monetary_cents"))
      .crossJoin(broadcast(maxd))
      .withColumn("recency_days", datediff(col("corpus_max"), col("last_order")))
    val naive = per
      .withColumn("r_score", ntile(5).over(Window.orderBy(col("recency_days"), col("o_custkey"))))
      .withColumn("f_score", ntile(5).over(Window.orderBy(col("frequency").desc, col("o_custkey"))))
      .withColumn("m_score", ntile(5).over(Window.orderBy(col("monetary_cents").desc, col("o_custkey"))))
      .select(col("o_custkey"), col("r_score"), col("f_score"), col("m_score"))
      .orderBy(col("o_custkey")).collect()
    val fast = Analytics.ordersRfm(spark, sf)
      .select(col("custkey"), col("r_score"), col("f_score"), col("m_score")).collect()
    assert(naive.length == fast.length)
    naive.zip(fast).foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }

  test("orders_rfm / orders_pareto: scoring row_numbers run inside bkt partitions") {
    // Plan pin for the 100x property: every row_number over the
    // customer-scaled frame must be partitioned by a bkt_* column; the
    // only unpartitioned windows left are over the B-row histograms.
    // The plans checked are the query's and each stage barrier's input.
    for (q <- Seq("orders_rfm", "orders_pareto")) {
      val plan = Dev.stages(q, SparkEntry.queries(q)(spark, sf))
        .map(_._2.queryExecution.optimizedPlan.toString).mkString("\n")
      val rnLines = plan.split("\n").filter(_.contains("row_number()"))
      assert(rnLines.nonEmpty && rnLines.forall(_.contains("bkt_")), s"$q:\n$plan")
      assert(!plan.contains("ntile("), s"$q still plans a global ntile:\n$plan")
    }
  }

  test("orders_pareto: 10 deciles, shares sum to 1, cum_share monotone to 1") {
    val rows = Analytics.ordersPareto(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to 10))
    val shares = rows.map(_.getAs[Double]("share"))
    assert(math.abs(shares.sum - 1.0) < 1e-4, s"shares sum ${shares.sum}")
    val cums = rows.map(_.getAs[Double]("cum_share"))
    assert(cums.toSeq == cums.sorted.toSeq && math.abs(cums.last - 1.0) < 1e-6)
    // deciles ranked by spend: each decile's revenue no less than the next
    val revs = rows.map(_.getAs[Double]("revenue"))
    revs.sliding(2).foreach { case Array(a, b) => assert(a >= b, s"$a < $b") }
  }

  test("event_attribution conserves every purchase penny across channels") {
    val rows = Analytics.eventAttribution(spark, sf).collect()
    assert(rows.nonEmpty)
    val channels = rows.map(_.getString(0)).toSet
    assert(channels.subsetOf(Set("click", "view", "direct")), s"channels $channels")
    // largest-remainder allocation: the attributed totals across channels
    // sum to EXACTLY the purchase total — float splits would leak pennies
    val attributedCents = rows.map(r =>
      math.round(r.getAs[Double]("attributed_total") * 100)).sum
    val purchaseCents = graft.sources.Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
      .select(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.col("value") * 100).cast("long")))
      .first().getLong(0)
    assert(attributedCents == purchaseCents,
      s"attributed $attributedCents cents != purchased $purchaseCents cents")
  }

  test("part_affinity: lineitem distinct staged once (no in-plan re-derivation)") {
    // the staged li frame feeds perPart AND both aliased self-join sides;
    // without the barrier the plan re-runs the full scan+distinct 4x (the
    // r6 aliased-self-join ReuseExchange miss, r8-verdict-confirmed)
    val plan = Analytics.partAffinity(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("lineitem.parquet"),
      s"lineitem scanned inside the query plan — barrier not in effect:\n$plan")
  }

  test("orders_basket_rules: directional consistency with part_affinity's pair space") {
    val rules = SparkEntry.queries("orders_basket_rules")(spark, sf).collect()
    assert(rules.nonEmpty)
    // ranks consecutive from 1, confidence ordered and in (0, 1],
    // support/lift positive, conf = pair_n/n_ant exactly
    rules.groupBy(_.getLong(0)).values.foreach { g =>
      val sorted = g.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).sameElements(1 to sorted.length))
      val confs = sorted.map(_.getDouble(5))
      assert(confs.sameElements(confs.sorted.reverse), s"confidence not ranked: $g")
    }
    rules.foreach { r =>
      val (pn, na, conf) = (r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(conf == pn.toDouble / na, s"confidence mismatch at $r")
      assert(conf > 0.0 && conf <= 1.0 && r.getDouble(6) > 0.0 && r.getDouble(7) > 0.0)
      assert(r.getLong(0) != r.getLong(2), s"self rule at $r")
    }
    // every rule's undirected pair exists in part_affinity's generator
    // (same staged frame, min-support 2): check symmetry on the full
    // directed set instead — a->b present means b->a was generated too,
    // and survives the top-3 cut whenever b's degree is tiny; assert the
    // weaker but exact invariant that pair counts agree across directions
    val byPair = rules.map(r => ((r.getLong(0), r.getLong(2)), r.getLong(3))).toMap
    byPair.foreach { case ((a, b), pn) =>
      byPair.get((b, a)).foreach(pn2 => assert(pn2 == pn, s"pair_n asym $a,$b"))
    }
  }

  test("orders_basket_rules: lineitem distinct staged once (no in-plan re-derivation)") {
    val plan = Analytics.ordersBasketRules(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("lineitem.parquet"),
      s"lineitem scanned inside the query plan — barrier not in effect:\n$plan")
  }

  test("orders_cohort_ltv: cohort aggregate staged once (single in-plan orders scan)") {
    // the cohort min-month aggregate feeds the join-back AND the size
    // rollup; staged, only the join-back fact leg still scans orders
    val plan = Analytics.ordersCohortLtv(spark, sf).queryExecution.executedPlan.toString
    val scans = plan.split("\n").count(_.contains("orders.parquet"))
    assert(scans == 1, s"expected 1 in-plan orders scan, got $scans:\n$plan")
  }

  test("events_rolling_mau equals the naive 30-day-window count distinct") {
    import org.apache.spark.sql.functions._
    val dayUs = 86400L * 1000 * 1000
    val ud = graft.sources.Tables.eventsUs(spark, sf)
      .select(col("user_id"),
        (col("ts_us") - pmod(col("ts_us"), lit(dayUs))).as("day_us"))
      .distinct()
    val days = ud.select(col("day_us").as("d_us")).distinct()
    val naive = days
      .join(ud, ud("day_us") >= days("d_us") - lit(29L * dayUs) &&
        ud("day_us") <= days("d_us"))
      .groupBy(col("d_us")).agg(countDistinct(col("user_id")).as("mau30"))
      .orderBy(col("d_us")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val fast = Analytics.eventsRollingMau(spark, sf)
      .select(col("day_us"), col("mau30"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(naive.length == fast.length)
    assert(naive.toSeq == fast.toSeq)
    // rolling ≥ daily: the window contains at least its own day's users
    val dau = Analytics.eventsRollingMau(spark, sf)
      .collect().map(r => (r.getAs[Long]("dau"), r.getAs[Long]("mau30")))
    dau.foreach { case (d, m) => assert(m >= d && d >= 1) }
  }

  test("events_burst_detect: one-sided above-mean flags; silent hours depress the mean") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("events_burst_detect")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(2) > r.getDouble(3), s"burst must be above the mean: $r")
      assert(r.getLong(4) > 0)
    }
    // the spine makes every type share the same hour count (global range)
    assert(rows.map(_.getLong(4)).distinct.length <= 1, "shared spine hour count")
    // flagged (type, hour) cells are a subset of the observed count frame
    val e = graft.sources.Tables.eventsUs(spark, sf)
      .select(col("event_type"), expr("CAST(ts_us div 3600000000 AS BIGINT)").as("hr"))
      .groupBy(col("event_type"), col("hr")).count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    rows.foreach { r =>
      assert(e.get((r.getString(0), r.getLong(1))).contains(r.getLong(2)),
        s"flagged cell must carry the observed count: $r")
    }
  }

  test("event_transition_time agrees with event_transitions' counts, stats ordered") {
    val t = SparkEntry.queries("event_transition_time")(spark, sf).collect()
    val base = SparkEntry.queries("event_transitions")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(t.nonEmpty && t.length == base.size, "same edge set as event_transitions")
    t.foreach { r =>
      assert(base((r.getString(0), r.getString(1))) == r.getLong(2),
        s"count drift vs event_transitions: $r")
      val (avg, mn, mx) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(mn >= 0.0 && mn <= avg + 1e-6 && avg <= mx + 1e-6, s"min<=avg<=max: $r")
    }
  }

  test("events_funnel_time agrees with the registered funnel's stage counts") {
    import org.apache.spark.sql.functions._
    val funnel = SparkEntry.queries("events_funnel")(spark, sf).collect()
    val byStage = funnel.groupBy(_.getInt(4)).view.mapValues(_.length.toLong).toMap
    val nV = funnel.length.toLong
    val nC = byStage.getOrElse(2, 0L) + byStage.getOrElse(3, 0L)
    val nP = byStage.getOrElse(3, 0L)
    val t = SparkEntry.queries("events_funnel_time")(spark, sf).collect()
    assert(t.length == 3)
    val m = t.map(r => r.getString(0) -> r).toMap
    assert(m("1_view_to_click").getLong(1) == nV && m("1_view_to_click").getLong(2) == nC)
    assert(m("2_click_to_purchase").getLong(1) == nC && m("2_click_to_purchase").getLong(2) == nP)
    assert(m("3_view_to_purchase").getLong(1) == nV && m("3_view_to_purchase").getLong(2) == nP)
    t.filter(_.getLong(2) > 0).foreach { r =>
      val (rate, avg, mn, mx) =
        (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(rate > 0.0 && rate <= 1.0, s"rate: $r")
      assert(mn >= 0.0 && mn <= avg + 1e-6 && avg <= mx + 1e-6, s"min<=avg<=max: $r")
    }
    // the composed leg dominates its parts: view->purchase spans both steps
    assert(m("3_view_to_purchase").getDouble(5) >= m("1_view_to_click").getDouble(5))
  }
}
