package org.apache.spark.sql

import org.apache.spark.{OneToOneDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Spark internals for extension code: the
  * Column↔Expression converters (Spark 4 removed the public
  * Column(Expression) constructor, so native Catalyst expressions are
  * wrapped through these) and the stage barrier with its accessor. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Rebase `df` onto its own physical plan as a LogicalRDD leaf: plans
    * above read its rows from an InternalRow scan — zero serde, zero
    * shuffle, same rows bit-for-bit.
    *
    * Why: reuse. A frame read by more than one consumer (two branches of
    * a plan, or an action such as `count` while the query is built, then
    * the plan) runs once behind a barrier; without one, each consumer
    * re-plans and re-runs it, because AQE and ReuseExchange miss
    * re-aliased copies of a subtree. A barrier is not needed to keep
    * whole-stage codegen under Janino's 64 KB method limit: with this
    * method returning `df` unchanged, every registry query still runs
    * with `spark.sql.codegen.fallback=false` (CodegenGateSpec, sf0.001)
    * and Verify at sf0.01 stays ALL OK, but reused frames run again
    * (3-pass mins at sf0.1 on 4 vCPUs, with → without: text_bpe_curve
    * 0.76 → 19.1 s, fin_load_audit 0.77 → 3.37 s). So place one where a
    * frame has two readers, and nowhere else.
    *
    * Building and explaining the barrier runs nothing: `df` is planned,
    * and the shuffle stages inside it run, when a job first asks the
    * leaf's RDD for its partitions — once, however many plans or actions
    * read the leaf. AQE cannot re-optimize across the barrier;
    * `barrierInput` gives the frame behind a leaf, so tools can show the
    * plan below it. */
  def stageBarrier(df: Dataset[Row]): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    cdf.sparkSession.internalCreateDataFrame(new StageBarrierRDD(cdf), cdf.schema)
  }

  /** The frame a stage barrier rebased, when `rdd` is a barrier leaf's
    * (`LogicalRDD.rdd`, `RDDScanExec.rdd`). */
  def barrierInput(rdd: RDD[_]): Option[DataFrame] = rdd match {
    case b: StageBarrierRDD => Some(b.input)
    case _ => None
  }

  /** `input`'s rows, planned and run on first use: `inner` is built when
    * Spark first asks for partitions or dependencies, on the driver. */
  private class StageBarrierRDD(@transient val input: classic.Dataset[Row])
      extends RDD[InternalRow](input.sparkSession.sparkContext, Nil) {
    @transient private lazy val inner = input.queryExecution.toRdd
    override protected def getDependencies = Seq(new OneToOneDependency(inner))
    override protected def getPartitions: Array[Partition] = inner.partitions
    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
      firstParent[InternalRow].iterator(split, context)
  }
}
