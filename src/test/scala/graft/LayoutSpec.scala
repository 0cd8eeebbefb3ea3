package graft

import graft.operators.Layout

/** Properties of the Z-order layout report (the oracle owns value
  * equality; this spec owns the layout-theoretic claims the scaladoc
  * makes). */
class LayoutSpec extends SparkSpec {

  private lazy val rep = Layout.layoutZorder(spark, sf).collect()
    .map(r => (r.getString(0), r.getInt(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))

  test("layout_zorder: both layouts partition the same rows into the same file count") {
    val byLayout = rep.groupBy(_._1)
    assert(byLayout.keySet == Set("natural", "zorder"))
    val Seq(nN, nZ) = Seq("natural", "zorder").map(l => byLayout(l).map(_._3).sum)
    assert(nN == nZ, s"row conservation: natural $nN vs zorder $nZ")
    // every bucket id is in range; zorder uses a healthy share of the
    // 64 grid cells on uniform keys
    assert(rep.forall(r => r._2 >= 0 && r._2 < 64))
    assert(byLayout("zorder").length >= 32,
      s"uniform keys should fill most grid cells: ${byLayout("zorder").length}")
  }

  test("layout_zorder: z-ordering shrinks zone-map spans on BOTH dims at once") {
    val spanP = rep.groupBy(_._1).view.mapValues(_.map(r => r._5 - r._4 + 1).sum).toMap
    val spanS = rep.groupBy(_._1).view.mapValues(_.map(r => r._7 - r._6 + 1).sum).toMap
    // natural order localizes NEITHER filter dim; the 8x8 Morton cell
    // localizes both to ~1/8 of the range — demand at least 2x total
    // span reduction per dim (loose: actual is ~8x on uniform keys)
    assert(spanP("zorder") * 2 <= spanP("natural"),
      s"partkey spans: ${spanP("zorder")} vs ${spanP("natural")}")
    assert(spanS("zorder") * 2 <= spanS("natural"),
      s"suppkey spans: ${spanS("zorder")} vs ${spanS("natural")}")
  }

  test("layout_skip_eval: point lookups scan a small fraction under zorder, ~all files under natural") {
    val rows = Layout.layoutSkipEval(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(rows.keySet == Set("natural", "zorder"))
    val (nF, nP, nS) = rows("natural")
    val (zF, zP, zS) = rows("zorder")
    assert(nF == 64 && zF == 64)
    assert(nP > 0.9 && nS > 0.9, s"natural should not skip: $nP / $nS")
    assert(zP < 0.5 * nP && zS < 0.5 * nS,
      s"zorder must at least halve both scan fractions: $zP / $zS")
    // scan fractions are probabilities
    assert(Seq(nP, nS, zP, zS).forall(f => f > 0.0 && f <= 1.0))
  }

  test("layout_zorder_apply: measured per-file skip fractions equal the prediction exactly") {
    // the apply op writes the z-ordered fact through the partitioned
    // sink and measures zone maps from the files that actually landed
    // (one file per Morton cell); the row must REPRODUCE the predicted
    // zorder row of layout_skip_eval — decision and action agree
    val predicted = Layout.layoutSkipEval(spark, sf).collect()
      .filter(_.getString(0) == "zorder")
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3))).head
    val measured = Layout.layoutZorderApply(spark, sf).collect()
    assert(measured.length == 1)
    val m = measured.head
    assert(m.getString(0) == "zorder")
    assert((m.getLong(1), m.getDouble(2), m.getDouble(3)) == predicted,
      s"measured ${m.mkString(",")} != predicted $predicted")
    // the sink under java.io.tmpdir is removed at JVM exit
    assert(graft.sources.Staged.created.stream().anyMatch(_.contains("/graft_zorder_apply_")),
      "the zorder sink is not registered for removal")
  }
}
