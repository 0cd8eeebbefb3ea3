package graft

import org.apache.spark.sql.execution.joins.CartesianProductExec

/** Registry-wide physical-plan invariant: NO registered query may plan a
  * non-broadcast cartesian product — the join shape that turns a working
  * sf0.1 query into an O(n²) shuffle at 100 TB. The handful of constant
  * marker frames in the statements derivation (2-3 literal rows crossed
  * onto the fact) plan as BroadcastNestedLoopJoin with a tiny build
  * side, which is the correct shape and stays allowed; a
  * CartesianProductExec (both sides partitioned, every pair
  * materialized) is never acceptable in this registry. */
class PlanInvariantsSpec extends SparkSpec {

  test("query registry has no silent name collisions and every oracle has a query") {
    import graft.operators._
    val parts = Seq(Relational.queries, TpchExtra.queries, Analytics.queries,
      graft.warehouse.Warehouse.queries, TextAnalysis.queries,
      TextStats.queries, TrainPrep.queries, Bpe.queries, Dedup.queries,
      Ann.queries, Graph.queries, Layout.queries,
      graft.streaming.EventStreams.queries, Multimodal.queries)
    // Map ++ overwrites silently: a duplicate name would shrink the merge
    assert(parts.map(_.size).sum == SparkEntry.queries.size,
      "duplicate query name across operator modules")
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet),
      s"orphan oracle keys: ${SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet}")
  }

  test("bench CalibGuard: NonFatal -> -1 + first reason kept; fatal propagates") {
    val g = new CalibGuard
    assert(g.run(() => 1.5) == 1.5 && g.firstError.isEmpty)
    assert(g.run(() => throw new RuntimeException("box on fire")) == -1.0)
    assert(g.firstError.contains("box on fire"))
    // a later failure must NOT overwrite the root cause
    assert(g.run(() => throw new RuntimeException("secondary")) == -1.0)
    assert(g.firstError.contains("box on fire"))
    // fatal errors escape the guard (bench must die, not publish)
    intercept[OutOfMemoryError] {
      g.run(() => throw new OutOfMemoryError("synthetic"))
    }
  }

  test("no registered query plans a non-broadcast cartesian product") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
      val hits = plan.collectWithSubqueries { case c: CartesianProductExec => c }
      if (hits.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"cartesian product planned in: ${offenders.mkString(", ")}")
  }

  /** r8 invariant (VERDICT r7 "What's wrong" #2/#3): an EMPTY-partition
    * window (`Window.orderBy` with no partitionBy) moves the whole input
    * to one reducer — fine over a histogram or decile frame, fatal over
    * anything data-scaled. Structural rule: an empty-partition WindowExec
    * may not have a parquet scan on ANY child path without an intervening
    * aggregate/limit (which bounds cardinality to the group/limit count).
    * stageBarrier RDD leaves count as bounded: barriers are deliberate
    * staging points whose cardinality was adjudicated at placement (and
    * the frames they stage here are histogram/decile-sized). */
  test("no empty-partition window runs over an unaggregated data-scaled frame") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def bounded(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => true
      case _: GlobalLimitExec | _: LocalLimitExec | _: CollectLimitExec |
           _: TakeOrderedAndProjectExec => true
      case _: FileSourceScanExec => false
      case other => other.children.forall(bounded)
    }
    // Manual subquery descent instead of collectWithSubqueries: at the
    // sparkPlan stage a dynamic-partition-pruning subquery (planted by
    // the staged inverted file's cell-keyed join) still holds a LOGICAL
    // plan, which collectWithSubqueries passes to the physical-typed
    // partial function (ClassCastException). Logical subqueries here
    // duplicate probe-side fragments of the main plan, which is already
    // scanned — checking physical subqueries only loses nothing.
    def scan(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
      val here = p.collect {
        case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) => w.getClass.getSimpleName
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty && !bounded(w.child) => w.getClass.getSimpleName
      }
      val subs = p.flatMap(_.expressions.flatMap(_.collect {
        case pe: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] => pe.plan
      })).collect { case sp: org.apache.spark.sql.execution.SparkPlan => sp }
      here ++ subs.flatMap(scan)
    }
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan
      if (scan(plan).nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"single-reducer global windows in: ${offenders.mkString(", ")}")
  }

  /** r15 invariant (VERDICT r14 "What's wrong" #4 / task #6): the r8 test
    * above treats a stageBarrier RDD leaf as bounded, so an edit could
    * quietly park a GLOBAL window on top of a barrier-staged data-scaled
    * frame and pass. Here a barrier leaf is bounded only if its input's
    * plan is, so the same structural rule applies THROUGH barriers: every
    * empty-partition WindowExec, in the query's plan or in any barrier
    * input's, must have an aggregate/limit between it and ANY parquet
    * scan — no allowlist, every one of the current single-partition
    * window sites proves itself bounded. */
  test("empty-partition windows stay bounded even through stage barriers") {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def bounded(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => true
      case _: GlobalLimitExec | _: LocalLimitExec | _: CollectLimitExec |
           _: TakeOrderedAndProjectExec => true
      case _: FileSourceScanExec => false
      case r: RDDScanExec =>
        GraftColumnBridge.barrierInput(r.rdd).forall(in => bounded(in.queryExecution.sparkPlan))
      case other => other.children.forall(bounded)
    }
    def scan(p: SparkPlan): Seq[String] = {
      val here = p.collect {
        case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) =>
          w.getClass.getSimpleName
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty && !bounded(w.child) =>
          w.getClass.getSimpleName
      }
      val subs = p.flatMap(_.expressions.flatMap(_.collect {
        case pe: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] => pe.plan
      })).collect { case sp: SparkPlan => sp }
      here ++ subs.flatMap(scan)
    }
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plans = Dev.stages(name, SparkEntry.queries(name)(spark, sf))
        .map(_._2.queryExecution.sparkPlan)
      if (plans.exists(scan(_).nonEmpty)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"single-reducer global windows (through barriers) in: ${offenders.mkString(", ")}")
  }

  /** r7 invariant (VERDICT r6 "What's wrong" #1): a static broadcast() hint
    * on a DATA-SCALED table is an OOM at 100× — unlike nation/region (fixed
    * 25/5 rows), customer/supplier/part/orders/lineitem grow linearly with
    * the fact, so the broadcast-vs-shuffle decision for them belongs to AQE
    * (which still picks broadcast at gate scale but degrades gracefully).
    * A hint subtree is acceptable only if something in it provably bounds
    * its cardinality independent of table growth: an Aggregate (grouped to
    * a bounded key space or a scalar), a Deduplicate, or a Limit. Hints
    * whose subtree reads none of the star tables (local relations, fixed
    * dims, documents/embeddings shapes adjudicated by their own specs) are
    * out of scope here. */
  test("no static broadcast hint on an unbounded data-scaled star table") {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val scaled = Seq("customer", "supplier", "part", "orders", "lineitem")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val analyzed = SparkEntry.queries(name)(spark, sf).queryExecution.analyzed
      val badHints = analyzed.collectWithSubqueries {
        case h: ResolvedHint if h.hints.strategy.isDefined =>
          val bounded = h.child.collectFirst {
            case _: Aggregate => (); case _: Deduplicate => ()
            case _: GlobalLimit => (); case _: LocalLimit => ()
          }.isDefined
          val scaledLeaves = h.child.collectLeaves().flatMap {
            case lr: LogicalRelation => lr.relation match {
              case fs: HadoopFsRelation =>
                fs.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
                  .filter(scaled.contains)
              case _ => Nil
            }
            case _ => Nil
          }
          if (!bounded && scaledLeaves.nonEmpty) Some(scaledLeaves.distinct)
          else None
      }.flatten
      if (badHints.nonEmpty) Some(s"$name -> ${badHints.flatten.distinct.mkString("/")}")
      else None
    }
    assert(offenders.isEmpty,
      s"static broadcast hints on unbounded data-scaled tables: ${offenders.mkString(", ")}")
  }
}
