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
