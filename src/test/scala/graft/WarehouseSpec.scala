package graft

import org.apache.spark.sql.functions._
import graft.warehouse.{Statements, Warehouse}
import scala.jdk.CollectionConverters._

/** Semantic invariants for the financial warehouse pipeline (the DuckDB
  * oracle checks value parity; these check the contracts the oracle
  * can't express: plan shape, idempotence, state-machine behavior). */
class WarehouseSpec extends SparkSpec {

  test("fin_seasonality: per-dept observation-weighted index mean is 1") {
    val rows = SparkEntry.queries("fin_seasonality")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (dept, ms) =>
      // sum_m idx_m * n_m = n_d exactly (before rounding): the index is
      // a ratio of averages, so its weighted mean over months is 1
      val nD = ms.map(_.getLong(2)).sum
      val weighted = ms.map(r => r.getDouble(4) * r.getLong(2)).sum
      assert(math.abs(weighted / nD - 1.0) < 1e-3, s"$dept weighted mean ${weighted / nD}")
    }
  }

  test("entry (fin_warehouse_build) returns the 8-column warehouse schema") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSeq == Seq("gl_code", "description", "category",
      "gl_group", "year", "month", "department", "amount"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    val months = rows.map(_.getString(5)).toSet
    assert(months.subsetOf(Set("January", "February", "March", "April", "May",
      "June", "July", "August", "September", "October", "November", "December")))
    assert(rows.map(_.getString(2)).toSet.subsetOf(Set("Revenue", "Expenses")))
  }

  test("GL enrichment uses a broadcast join (fact never shuffles for the dim)") {
    val plan = Warehouse.enriched(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("upsert is idempotent and keep-last") {
    val up = Warehouse.upserted(spark, sf)
    // natural key is unique after the upsert
    val dupes = up.groupBy("gl_code", "year", "month", "department", "category")
      .count().filter(col("count") > 1).count()
    assert(dupes == 0)
    // stale existing rows (amount+100 on pos%5==0 keys) lost to the new batch:
    // re-running the upsert over its own output with itself yields same rows
    val n1 = up.count()
    val fact = Warehouse.fact(spark, sf)
    assert(n1 > fact.select("gl_code", "year", "month", "department", "category").distinct().count(),
      "phantom prior-decade keys from the existing batch should survive")
  }

  test("stagedUpserted reads back exactly the upserted rows") {
    val up = Warehouse.upserted(spark, sf)
    val staged = Warehouse.stagedUpserted(spark, sf)
    def sorted(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.sortBy(_.toString)
    val rows = sorted(up)
    assert(staged.schema.map(f => (f.name, f.dataType)) == up.schema.map(f => (f.name, f.dataType)))
    assert(rows.nonEmpty && sorted(staged) == rows)
  }

  test("balance sheet state machine: categories ordered Assets -> Liability -> Equity") {
    val rows = SparkEntry.queries("fin_balance_sheet")(spark, sf)
      .select("sheet", "pos", "category").collect()
    assert(rows.nonEmpty)
    val order = Map("Assets" -> 0, "Liability" -> 1, "Equity" -> 2)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val cats = rs.sortBy(_.getLong(1)).map(r => order(r.getString(2)))
      assert(cats.sameElements(cats.sorted), "category must be monotone in sheet order")
    }
    assert(rows.map(_.getString(2)).toSet == Set("Assets", "Liability", "Equity"))
  }

  test("fin_bs_ratios: totals agree with fin_balance_sheet, ratio wiring exact") {
    val bs = SparkEntry.queries("fin_balance_sheet")(spark, sf).collect()
    val byCat = bs.groupBy(r => (r.getString(0), r.getString(3)))
      .view.mapValues(_.map(r => math.round(r.getDouble(5) * 100)).sum).toMap
    val rows = SparkEntry.queries("fin_bs_ratios")(spark, sf).collect()
    assert(rows.length == bs.map(_.getString(0)).distinct.length, "one row per sheet")
    rows.foreach { r =>
      val sheet = r.getString(0)
      def cat(c: String) = byCat.getOrElse((sheet, c), 0L)
      assert(math.round(r.getDouble(1) * 100) == cat("Assets"))
      assert(math.round(r.getDouble(2) * 100) == cat("Liability"))
      assert(math.round(r.getDouble(3) * 100) == cat("Equity"))
      assert(math.round(r.getDouble(4) * 100) ==
        cat("Assets") - cat("Liability") - cat("Equity"), s"residual $sheet")
      if (cat("Equity") != 0)
        assert(math.abs(r.getDouble(5)
          - cat("Liability").toDouble / cat("Equity")) < 1e-4, s"d2e $sheet")
      else assert(r.isNullAt(5), "zero equity must yield NULL, not a division")
    }
  }

  test("reconciliation flags exactly the N/A-bearing groups") {
    val rows = SparkEntry.queries("fin_reconciliation")(spark, sf).collect()
    assert(rows.nonEmpty)
    val mismatch = rows.filter(_.getString(6) == "MISMATCH")
    assert(mismatch.nonEmpty, "sf data contains N/A rows, some groups must mismatch")
    mismatch.foreach(r => assert(math.abs(r.getDouble(5)) > 0))
    rows.filter(_.getString(6) == "OK").foreach(r => assert(r.getDouble(5) == 0.0))
  }

  test("qa status: resolved codes carry description, open ones flagged YES") {
    val rows = SparkEntry.queries("fin_qa_status")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byStatus = rows.groupBy(_.getString(4))
    assert(byStatus.keySet == Set("Open", "Resolved"))
    byStatus("Open").foreach { r =>
      assert(r.getString(1) == "" && r.getString(3) == "YES")
    }
    byStatus("Resolved").foreach { r =>
      assert(r.getString(1).startsWith("Account ") && r.getString(3) == "")
    }
  }

  test("incremental loads via dynamic partition overwrite converge to the batch build") {
    // the production 100 TB path: each statement batch rewrites ONLY its
    // own (year, month) partitions; replaying a batch is a no-op
    val out = temp("graft-incr")
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val stmts = Statements.income(spark, sf)
      val keys = Seq(col("gl_code"), col("year"), col("month"),
        col("department"), col("category"))
      def dedupBatch(df: org.apache.spark.sql.DataFrame) =
        graft.operators.UpsertDedupe.keepLastWithin(
          df.select(col("gl_code"), col("category"), col("year"), col("month"),
            col("department"), col("amount"), col("pos")),
          keys, Seq(col("pos").desc)).drop("pos")
      val years = Warehouse.factFrom(stmts).select("year").distinct()
        .collect().map(_.getInt(0)).sorted
      assert(years.length > 1)
      for (y <- years) {
        dedupBatch(Warehouse.factFrom(stmts).filter(col("year") === y))
          .write.mode("overwrite").partitionBy("year", "month").parquet(out)
      }
      // physical-layout snapshot: data file name -> mtime, per partition dir
      def snapshot(): Map[String, Long] = {
        val base = java.nio.file.Paths.get(out)
        val it = java.nio.file.Files.walk(base)
        try it.iterator().asScala
          .filter(p => p.toString.endsWith(".parquet"))
          .map(p => base.relativize(p).toString -> p.toFile.lastModified())
          .toMap
        finally it.close()
      }
      val before = snapshot()
      // replay the middle year — dynamic overwrite must leave the rest intact
      dedupBatch(Warehouse.factFrom(stmts).filter(col("year") === years(1)))
        .write.mode("overwrite").partitionBy("year", "month").parquet(out)
      // MERGE-shaped physical guarantee: ONLY the replayed year's
      // partitions rewrite; every other partition's files are untouched
      // (same names, same mtimes) — the property that makes a monthly
      // upsert at 100 TB rewrite one partition, not the history
      val after = snapshot()
      val touched = s"year=${years(1)}/"
      val beforeRest = before.view.filterKeys(!_.startsWith(touched)).toMap
      val afterRest = after.view.filterKeys(!_.startsWith(touched)).toMap
      assert(beforeRest.nonEmpty && beforeRest == afterRest,
        "untouched partitions must keep identical files")
      assert(after.keys.exists(_.startsWith(touched)),
        "replayed year must still have files")
      assert(before.keySet.filter(_.startsWith(touched)) !=
        after.keySet.filter(_.startsWith(touched)),
        "replayed partitions must have been rewritten")
      val got = spark.read.parquet(out)
        .select("gl_code", "category", "year", "month", "department", "amount")
        .collect().map(_.toSeq).toSet
      val want = dedupBatch(Warehouse.factFrom(stmts))
        .select("gl_code", "category", "year", "month", "department", "amount")
        .collect().map(_.toSeq).toSet
      assert(want.nonEmpty && got == want,
        s"incremental ${got.size} vs batch ${want.size}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  test("statements derivation is deterministic") {
    val a = Statements.income(spark, sf).orderBy("file", "sheet", "pos").collect()
    val b = Statements.income(spark, sf).orderBy("file", "sheet", "pos").collect()
    assert(a.sameElements(b))
  }

  test("rolling 3m: window is rows-based, capped at 3, and avg==total on the first month") {
    val rows = SparkEntry.queries("fin_rolling_3m")(spark, sf)
      .select("department", "gl_code", "total", "avg_3m", "n_months").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getInt(4) >= 1 && r.getInt(4) <= 3))
    // ordered output: the first row of every (department, gl) run is month 1 of the window
    val firsts = rows.groupBy(r => (r.getString(0), r.getString(1))).values.map(_.head)
    firsts.foreach { r =>
      assert(r.getInt(4) == 1)
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-9)
    }
  }

  test("anomaly zscore: planted 3.2-sigma month flagged, steady months and n=1 groups are not") {
    import spark.implicits._
    val up = ((1 to 11).map(m => ("100", "4000", 2024, m, 100.0)) :+
      (("100", "4000", 2024, 12, 1000.0)) :+            // z = 3.18 -> flagged
      (("200", "5000", 2024, 1, 999999.0)))             // n=1 group -> never flagged
      .toDF("department", "gl_code", "year", "month", "amount")
    val got = Warehouse.finAnomalyZscoreFrom(up)
      .select("department", "gl_code", "month").collect().map(_.toSeq)
    assert(got.toSeq == Seq(Seq("100", "4000", 12)))
  }

  test("anomaly zscore: group stats join back via broadcast (fact side never re-shuffles)") {
    val plan = SparkEntry.queries("fin_anomaly_zscore")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast stats join:\n$plan")
  }

  test("ewma closed form equals the literal recursion (independent of the oracle's twin)") {
    // the DuckDB oracle computes the SAME closed form; this is the
    // independent check that T_i/2^(i-1) really is s_i = (x_i+s_{i-1})/2
    val rows = SparkEntry.queries("fin_ewma")(spark, sf)
      .select("department", "gl_code", "year", "month", "total", "ewma", "n_months")
      .collect()
    assert(rows.nonEmpty)
    var checked = 0
    rows.groupBy(r => (r.getString(0), r.getString(1), r.getInt(2))).values.foreach { g =>
      val series = g.sortBy(_.getInt(3))
      var s = 0.0
      series.zipWithIndex.foreach { case (r, i) =>
        s = if (i == 0) r.getDouble(4) else (r.getDouble(4) + s) / 2.0
        assert(r.getInt(6) == i + 1, s"n_months off at $r")
        // the float recursion accumulates its own rounding; the closed
        // form is the exactly-rounded value, so compare with tolerance
        assert(math.abs(s - r.getDouble(5)) <= 1e-6 * math.max(1.0, math.abs(s)),
          s"recursion $s vs closed ${r.getDouble(5)} at $r")
        checked += 1
      }
    }
    assert(checked == rows.length)
  }

  test("brown closed form equals the literal double-smoothing recursion") {
    // independent check that the cascaded T1/T2 window sums really are
    // Brown's s1/s2 recursions: s1_i = (x_i+s1_{i-1})/2 (s1_1 = x_1),
    // s2_i = (s1_i+s2_{i-1})/2 (s2_1 = s1_1), level = 2s1-s2,
    // trend = s1-s2, fcst = level+trend
    val rows = SparkEntry.queries("fin_forecast_brown")(spark, sf)
      .select("department", "gl_code", "year", "month", "total",
        "level", "trend", "fcst_next", "n_months")
      .collect()
    assert(rows.nonEmpty)
    var checked = 0
    rows.groupBy(r => (r.getString(0), r.getString(1), r.getInt(2))).values.foreach { g =>
      val series = g.sortBy(_.getInt(3))
      var s1 = 0.0; var s2 = 0.0
      series.zipWithIndex.foreach { case (r, i) =>
        s1 = if (i == 0) r.getDouble(4) else (r.getDouble(4) + s1) / 2.0
        s2 = if (i == 0) s1 else (s1 + s2) / 2.0
        assert(r.getInt(8) == i + 1, s"n_months off at $r")
        val (lvl, tr) = (2 * s1 - s2, s1 - s2)
        def close(a: Double, b: Double) =
          math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(a))
        assert(close(lvl, r.getDouble(5)), s"level $lvl vs ${r.getDouble(5)} at $r")
        assert(close(tr, r.getDouble(6)), s"trend $tr vs ${r.getDouble(6)} at $r")
        assert(close(lvl + tr, r.getDouble(7)), s"fcst at $r")
        checked += 1
      }
    }
    assert(checked == rows.length)
    // single-month degenerate: trend 0, forecast = observation
    rows.filter(_.getInt(8) == 1).foreach { r =>
      assert(r.getDouble(6) == 0.0 && r.getDouble(7) == r.getDouble(4), s"$r")
    }
  }

  test("fin_benford: per-department shares sum to 1, digits in range, excess consistent") {
    val rows = SparkEntry.queries("fin_benford")(spark, sf).collect()
    assert(rows.nonEmpty)
    val benford = Map(1 -> 0.30103, 2 -> 0.176091, 3 -> 0.124939, 4 -> 0.09691,
      5 -> 0.079181, 6 -> 0.066947, 7 -> 0.057992, 8 -> 0.051153, 9 -> 0.045757)
    rows.foreach { r =>
      val (d, n, share, bf, ex) =
        (r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(d >= 1 && d <= 9, s"digit out of range: $r")
      assert(n > 0 && share > 0.0 && share <= 1.0)
      assert(bf == benford(d), s"benford constant drift at $r")
      assert(math.abs(ex - (share - bf)) <= 2e-6, s"excess inconsistent at $r")
    }
    rows.groupBy(_.getString(0)).values.foreach { g =>
      val s = g.map(_.getDouble(3)).sum
      assert(math.abs(s - 1.0) <= 1e-4, s"shares sum $s for ${g.head.getString(0)}")
    }
  }

  test("fin_dept_correlation: planted linear/anti/constant series give r=1/-1/NULL") {
    import spark.implicits._
    // A and B perfectly positively related, C perfectly negative vs both,
    // D constant (zero variance -> NULL r with everyone)
    val up = Seq.tabulate(4) { i =>
      Seq(("A", "2024", "Jan" + i, 1.0 + i), ("B", "2024", "Jan" + i, 2.0 + 2 * i),
        ("C", "2024", "Jan" + i, 4.0 - i), ("D", "2024", "Jan" + i, 5.0))
    }.flatten.toDF("department", "year", "month", "amount")
    val rows = Warehouse.finDeptCorrelationFrom(up).collect()
    val r = rows.map(x => (x.getString(0), x.getString(1)) ->
      (if (x.isNullAt(3)) None else Some(x.getDouble(3)))).toMap
    assert(r(("A", "B")) == Some(1.0) && r(("A", "C")) == Some(-1.0)
      && r(("B", "C")) == Some(-1.0))
    assert(r(("A", "D")).isEmpty && r(("B", "D")).isEmpty && r(("C", "D")).isEmpty)
    assert(rows.forall(_.getLong(2) == 4)) // all pairs share the 4 months
    // ordering contract: dept_a < dept_b, no self pairs, no duplicates
    assert(rows.length == 6 && rows.forall(x => x.getString(0) < x.getString(1)))
    // gate corpus: every r in [-1, 1] where defined
    SparkEntry.queries("fin_dept_correlation")(spark, sf).collect().foreach { x =>
      if (!x.isNullAt(3))
        assert(math.abs(x.getDouble(3)) <= 1.0 + 1e-9, s"out-of-range r: $x")
    }
  }

  test("fin_deseasonalized: a perfectly seasonal series flattens to constant, deltas 0") {
    import spark.implicits._
    // dept S: two years of identical seasonal pattern 100*m per month m
    // -> deseasonalized value is the constant overall mean, every delta 0.
    // dept Z: one month netting to zero -> NULL deseason there.
    val s = for (y <- Seq(2023, 2024); m <- 1 to 12)
      yield ("S", y, m, 100.0 * m, "Revenue")
    val z = Seq(("Z", 2024, 1, 50.0, "Revenue"), ("Z", 2024, 2, 0.0, "Revenue"),
      ("Z", 2024, 3, 50.0, "Revenue"))
    val up = (s ++ z).toDF("department", "year", "month", "amount", "category")
    val rows = Warehouse.finDeseasonalizedFrom(up).collect()
    val sRows = rows.filter(_.getString(0) == "S")
    assert(sRows.length == 24)
    val mean = (1 to 12).map(_ * 100.0).sum / 12.0
    sRows.foreach { r =>
      assert(math.abs(r.getDouble(5) - mean) < 0.01, s"not flattened: $r")
    }
    sRows.filter(!_.isNullAt(6)).foreach(r => assert(r.getDouble(6) == 0.0, s"$r"))
    val zFeb = rows.find(r => r.getString(0) == "Z" && r.getInt(2) == 2).get
    assert(zFeb.isNullAt(5) && zFeb.isNullAt(6), s"zero-net month must be NULL: $zFeb")
    // the month after a NULL also has a NULL delta (lag is NULL)
    val zMar = rows.find(r => r.getString(0) == "Z" && r.getInt(2) == 3).get
    assert(!zMar.isNullAt(5) && zMar.isNullAt(6), s"delta after NULL must be NULL: $zMar")
  }

  test("fin_qoq_trend: quarters aggregate the monthly rollup, gap quarters yield NULL prev") {
    import org.apache.spark.sql.functions._
    val q = SparkEntry.queries("fin_qoq_trend")(spark, sf).collect()
    val m = SparkEntry.queries("fin_trend_mom")(spark, sf).collect()
    assert(q.nonEmpty)
    // quarterly totals = sum of the monthly report's totals per quarter
    val qFromM = m.groupBy(r => (r.getString(0), r.getString(1), r.getInt(2),
        (r.getInt(3) - 1) / 3 + 1))
      .view.mapValues(g => g.map(r => math.round(r.getDouble(4) * 100)).sum).toMap
    q.foreach { r =>
      val k = (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3))
      assert(math.round(r.getDouble(4) * 100) == qFromM(k), s"quarter total drift: $r")
    }
    assert(q.map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3)))
      .distinct.length == q.length)
    // consecutive-quarter guard: prev only when the previous quarter exists
    val keys = q.map(r => ((r.getString(0), r.getString(1)),
      r.getInt(2) * 4 + r.getInt(3))).toSet
    q.foreach { r =>
      val prevQ = r.getInt(2) * 4 + r.getInt(3) - 1
      val hasPrev = keys(((r.getString(0), r.getString(1)), prevQ))
      assert(!r.isNullAt(5) == hasPrev, s"prev-quarter guard: $r")
    }
  }

  test("fin_forecast_eval: planted pure trend — linear exact, Brown beats EWMA") {
    import spark.implicits._
    // amounts 100·m for months 1..6; hold out month 6 (=600):
    //   linear refit on 1..5 is exact (err 0);
    //   EWMA level s5 = 406.25 lags the trend (err -193.75);
    //   Brown 3s'-2s'' = 568.75 tracks it better (err -31.25).
    val up = (1 to 6).map(m => ("F", "0001", 2024, m, 100.0 * m))
      .toDF("department", "gl_code", "year", "month", "amount")
    val rows = Warehouse.finForecastEvalFrom(up).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("brown", "ewma", "linear"))
    rows.foreach(r => assert(r.getLong(1) == 1))
    val m = rows.map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(m("linear") == ((0.0, 0.0)), s"linear must be exact: ${m("linear")}")
    assert(m("ewma") == ((193.75, -193.75)), s"ewma lag: ${m("ewma")}")
    assert(m("brown") == ((31.25, -31.25)), s"brown trend-aware: ${m("brown")}")
    // gate corpus: shared population, |bias| <= mae (triangle inequality)
    val gate = SparkEntry.queries("fin_forecast_eval")(spark, sf).collect()
    assert(gate.length == 3 && gate.map(_.getLong(1)).distinct.length == 1)
    gate.foreach { r =>
      assert(r.getLong(1) > 0 && math.abs(r.getDouble(3)) <= r.getDouble(2) + 1e-6, s"$r")
    }
  }

  test("fin_anomaly_mad: catches the masked spike the z-score misses; exact med/MAD") {
    import spark.implicits._
    // 10 gently-varying months + a small spike (2000) + a huge one (100000):
    // the huge spike inflates sigma so the z-score screen misses the small
    // one (masking); median/MAD flags both.
    val up = ((1 to 10).map(m => ("M", "0001", 2024, m, 100.0 + 2 * (m - 1)))
      ++ Seq(("M", "0001", 2024, 11, 2000.0), ("M", "0001", 2024, 12, 100000.0)))
      .toDF("department", "gl_code", "year", "month", "amount")
    val mad = Warehouse.finAnomalyMadFrom(up).collect()
    assert(mad.map(_.getInt(3)).toSet == Set(11, 12), s"MAD flags both spikes: ${mad.toSeq}")
    mad.foreach { r =>
      assert(r.getDouble(5) == 111.0, s"median: $r")   // (110+112)/2
      assert(r.getDouble(6) == 6.0, s"MAD: $r")        // (10+14)/2 /2... = 2400/400
      assert(r.getInt(7) == 12)
    }
    val z = Warehouse.finAnomalyZscoreFrom(up).collect()
    assert(z.map(_.getInt(3)).toSet == Set(12), s"z-score sees only the huge spike: ${z.toSeq}")
    // constant-majority series (MAD = 0) is skipped entirely, not all-flagged
    val const = ((1 to 9).map(m => ("C", "0002", 2024, m, 50.0))
      ++ Seq(("C", "0002", 2024, 10, 9999.0)))
      .toDF("department", "gl_code", "year", "month", "amount")
    assert(Warehouse.finAnomalyMadFrom(const).collect().isEmpty)
  }

  test("fin_cusum: prefix-min rewrite equals the literal recurrence; sustained shift alarms, spike does not") {
    import spark.implicits._
    // 20 flat-ish months then a sustained doubled regime: the shift no
    // per-month screen sees (every month is individually unremarkable
    // within its regime), but the deviations accumulate past h = 2|mu|
    val amts = (1 to 20).map(m => 100.0 + (m % 3)) ++
      (21 to 30).map(m => 200.0 + (m % 3))
    val up = amts.zipWithIndex.map { case (a, i) =>
      ("S", "0001", 2024 + i / 12, i % 12 + 1, a)
    }.toDF("department", "gl_code", "year", "month", "amount")
    val got = Warehouse.finCusumFrom(up).collect()
    // driver-side literal recurrence in the same scaled integers
    val cents = amts.map(a => math.round(a * 100))
    val (n, s) = (cents.size.toLong, cents.sum)
    var (chi, clo) = (0L, 0L)
    val exp = cents.map { x =>
      chi = math.max(0L, chi + (20 * n * x - 20 * s - math.abs(s)))
      clo = math.max(0L, clo + (20 * s - math.abs(s) - 20 * n * x))
      (chi / (n * 2000.0), clo / (n * 2000.0),
        chi > 40 * math.abs(s), clo > 40 * math.abs(s))
    }
    assert(got.length == 30)
    got.sortBy(r => (r.getInt(2), r.getInt(3))).zip(exp).foreach {
      case (r, (ehi, elo, ahi, alo)) =>
        assert(r.getDouble(5) == ehi && r.getDouble(6) == elo, s"$r")
        assert(r.getBoolean(7) == ahi && r.getBoolean(8) == alo, s"$r")
    }
    // the shift is caught (alarm_hi fires somewhere in the new regime)...
    assert(exp.drop(20).exists(_._3), "sustained shift must alarm")
    assert(exp.take(20).forall(!_._3), "no upper alarm before the shift")
    // ...while one isolated spike decays back without alarming
    val spikeAmts = (1 to 23).map(m => 100.0 + (m % 3)) ++ Seq(140.0)
    val spike = spikeAmts.zipWithIndex.map { case (a, i) =>
      ("S", "0002", 2024 + i / 12, i % 12 + 1, a)
    }.toDF("department", "gl_code", "year", "month", "amount")
    assert(Warehouse.finCusumFrom(spike).collect()
      .forall(r => !r.getBoolean(7) && !r.getBoolean(8)))
  }

  test("fin_load_diff reports exactly the newest batch's effect on the fold") {
    val diff = graft.warehouse.Warehouse.finLoadDiff(spark, sf).collect()
    assert(diff.nonEmpty, "the synthetic revision batch must change something")
    diff.foreach { r =>
      val (b, a, d, st) = (r.get(5), r.get(6), r.get(7),
        r.getAs[String]("status"))
      st match {
        case "changed" =>
          val delta = a.asInstanceOf[Double] - b.asInstanceOf[Double]
          assert(math.abs(delta - r.getAs[Double]("delta")) < 1e-9)
          assert(delta != 0.0)
        case "added"   => assert(b == null && a != null && d == null)
        case "removed" => fail(s"append-only upsert cannot remove: $r")
        case other     => fail(s"unexpected status $other")
      }
    }
    // cross-check one invariant against the folds themselves: the diff's
    // changed/added keys must be exactly where before and after disagree
    val before = graft.warehouse.Warehouse.finMultiLoad(spark, sf)
    assert(diff.length < before.count(), "diff must be a strict subset of the warehouse")
  }

  test("fin_forecast_linear matches a driver-side OLS recomputation") {
    val monthly = graft.warehouse.Warehouse.finTrendMom(spark, sf)
      .select("department", "gl_code", "year", "month", "total").collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
    val got = graft.warehouse.Warehouse.finForecastLinear(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      val series = monthly(key).map { m =>
        (m.getInt(2).toLong * 12 + m.getInt(3) - 1,
          math.round(m.getDouble(4) * 100))
      }.sortBy(_._1)
      val m0 = series.map(_._1).min
      val xs = series.map(s => (s._1 - m0, s._2))
      val n = xs.length.toLong
      val sx = xs.map(_._1).sum; val sy = xs.map(_._2).sum
      val sxy = xs.map(p => p._1 * p._2).sum
      val sxx = xs.map(p => p._1 * p._1).sum
      val den = n * sxx - sx * sx
      assert(n >= 2 && den > 0, s"group $key should not have been emitted")
      val snum = n * sxy - sx * sy
      val inum = sy * sxx - sx * sxy
      val xf = xs.map(_._1).max + 1
      // java BigDecimal.valueOf == Spark's round(double) path exactly
      val slope = java.math.BigDecimal.valueOf(snum.toDouble / den / 100.0)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0
      val fc = java.math.BigDecimal.valueOf((inum + snum * xf).toDouble / den / 100.0)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0
      assert(r.getAs[Double]("slope") == slope, s"slope mismatch at $key")
      assert(r.getAs[Double]("forecast") == fc, s"forecast mismatch at $key")
      val fi = m0 + xf
      assert(r.getAs[Int]("forecast_year") == (fi / 12).toInt &&
        r.getAs[Int]("forecast_month") == (fi % 12 + 1).toInt, s"period mismatch at $key")
    }
  }

  test("fin_yoy_trend: prev-year linkage only across consecutive years, delta consistent") {
    val rows = graft.warehouse.Warehouse.finYoyTrend(spark, sf)
      .select("department", "gl_code", "year", "month", "total",
        "prev_year_total", "yoy_delta", "yoy_pct")
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(r => (r.getString(0), r.getString(1), r.getInt(3))).values.foreach { g =>
      val byYear = g.map(r => r.getInt(2) -> r).toMap
      g.foreach { r =>
        byYear.get(r.getInt(2) - 1) match {
          case Some(prev) =>
            assert(r.getDouble(5) == prev.getDouble(4),
              s"prev_year_total must be last year's total at $r")
            assert(math.abs(r.getDouble(6) - (r.getDouble(4) - prev.getDouble(4))) < 1e-9,
              s"yoy_delta inconsistent at $r")
          case None =>
            assert(r.isNullAt(5) && r.isNullAt(6) && r.isNullAt(7),
              s"no prior year -> all yoy fields null at $r")
        }
      }
    }
  }

  test("fin_variance_walk: line deltas sum to the dept delta, shares sum to 1") {
    val rows = SparkEntry.queries("fin_variance_walk")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(r => (r.getString(0), r.getInt(2), r.getInt(3))).foreach { case (key, rs) =>
      val deptDelta = rs.head.getDouble(5)
      assert(rs.forall(_.getDouble(5) == deptDelta), s"$key: dept_delta inconsistent")
      val lineSum = rs.map(r => math.round(r.getDouble(4) * 100)).sum
      assert(lineSum == math.round(deptDelta * 100), s"$key: lines $lineSum != dept")
      if (math.round(deptDelta * 100) != 0L) {
        val shareSum = rs.map(_.getDouble(6)).sum
        assert(math.abs(shareSum - 1.0) < 0.0002 * rs.length,
          s"$key: shares sum to $shareSum over ${rs.length} lines")
      } else rs.foreach(r => assert(r.isNullAt(6), s"$key: zero-delta month must null shares"))
    }
  }

  test("fin_common_size: revenue lines sum to ~100% per department-month") {
    val rows = SparkEntry.queries("fin_common_size")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byMonth = rows.groupBy(r => (r.getString(0), r.getInt(3), r.getInt(4)))
    assert(byMonth.nonEmpty)
    var monthsWithRev = 0
    byMonth.foreach { case (key, rs) =>
      val rev = rs.filter(_.getString(2) == "Revenue")
      if (rev.nonEmpty && !rev.head.isNullAt(6)) {
        monthsWithRev += 1
        val pctSum = rev.map(_.getDouble(6)).sum
        assert(math.abs(pctSum - 100.0) < 0.01 * rev.length,
          s"$key: revenue pct sums to $pctSum over ${rev.length} lines")
        // expense pct shares the same denominator: amount ratio reproduces it
        rs.filter(r => r.getString(2) == "Expenses" && !r.isNullAt(6)).take(3)
          .foreach { r =>
            val revTotal = rev.map(_.getDouble(5)).sum
            val expect = r.getDouble(5) * 100.0 / revTotal
            assert(math.abs(r.getDouble(6) - expect) < 0.01,
              s"$key gl ${r.getString(1)}: pct ${r.getDouble(6)} vs $expect")
          }
      }
    }
    assert(monthsWithRev > 0, "fixture must contain months with revenue")
  }
}
