package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * standard shim for extension libraries that construct native Catalyst
  * expressions as Columns without registering a SQL function (Spark 4
  * removed the public Column(Expression) constructor). Kept to exactly
  * these two forwarders. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Rebase `df` onto its own physical plan as a LogicalRDD leaf: the
    * subtree below becomes its OWN whole-stage-codegen unit and operators
    * above consume plain attributes from an InternalRow scan — zero
    * serde, zero shuffle, same rows bit-for-bit.
    *
    * Why: whole-stage codegen emits an entire fused stage (scan →
    * projections → joins → partial aggregate) into one generated method;
    * a scalar derivation big enough (e.g. graft's statements
    * format+re-parse chain) pushes `doAggregateWithKeys` past Janino's
    * 64 KB hard limit and Spark silently falls back to interpreted
    * execution for the hottest stage. Splitting at the plan level is the
    * supported-shape fix (CodegenGateSpec keeps the whole registry
    * fallback-free).
    *
    * Caveat — construction is NOT free: the child plan is compiled at
    * construction time, and when the subtree contains exchanges (window
    * shuffles, distinct, the marker crossJoins in graft's statements
    * derivation) AQE's `doExecute` materializes those shuffle stages
    * EAGERLY — merely constructing (or explaining) a barrier-wrapped
    * DataFrame runs Spark jobs, and AQE cannot re-optimize across the
    * barrier. Callers like Warehouse.factStaged rely on this consciously:
    * registry queries are constructed immediately before execution, so
    * the eager stages are work that runs exactly once either way. Do NOT
    * construct barrier-wrapped frames in plan-only tooling loops, and
    * don't construct the same one twice (the stages re-run).
    *
    * Plan-only tooling escape hatch: with JVM property
    * `graft.barrier.bypass=1` (read per call) the barrier is an
    * identity, so `graft.Dev plan` and `graft.Dev codegen` construct
    * barrier-staged queries lazily (setting it only while they build).
    * Never set for Verify/Bench — they want the staged shape. */
  def stageBarrier(df: Dataset[Row]): DataFrame = {
    if (sys.props.get("graft.barrier.bypass").contains("1")) df.toDF()
    else {
      val cdf = df.asInstanceOf[classic.Dataset[Row]]
      cdf.sparkSession.internalCreateDataFrame(cdf.queryExecution.toRdd, cdf.schema)
    }
  }
}
