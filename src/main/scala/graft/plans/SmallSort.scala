package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, OrderedDistribution, Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.internal.SQLConf

/** Plans a global sort over a small input in ONE partition: one
  * `SortExec` over a single-partition input.
  *
  * Spark's own plan for a global `ORDER BY` is a range exchange, and
  * the `RangePartitioner` behind it runs a separate sampling job that
  * computes the sort's whole input a second time before the shuffle
  * itself. For the few-thousand-row ordered results most registered
  * queries end in, that job is pure launch cost (a stage, a job and a
  * driver collect per query). "Small" is the estimate Spark already
  * trusts to ship a whole relation to one place: the input's
  * `sizeInBytes` at most `spark.sql.autoBroadcastJoinThreshold` (and
  * that threshold > 0, so `-1` restores the range path exactly as it
  * disables broadcasts). Under AQE re-planning the size is the runtime
  * size of the materialized stages below the sort. The sort itself is
  * the same `SortExec`, so a total order gives byte-identical rows; an
  * underestimate costs a spilling single-task sort, not an OOM.
  *
  * The input goes through [[OnePartitionExec]], which requires
  * `AllTuples`: `EnsureRequirements` adds a single-partition shuffle
  * where the input is spread over partitions, and nothing where it is
  * already in one (a union of global aggregates, a broadcast join over
  * one), the cases in which Spark's own path adds no exchange either.
  *
  * Left to Spark's default planning: local sorts
  * (`sortWithinPartitions`), streaming inputs, `Limit(Sort)` (which
  * `SpecialLimits` plans as TakeOrderedAndProject before this strategy
  * sees the sort), and a sort directly over a materialized query stage
  * that already satisfies its ordering: a range exchange AQE ran before
  * the input's size was known is kept, never shuffled a second time. */
object SmallSortStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _)
        if !child.isStreaming && small(child) && !ordered(child, order) =>
      SortExec(order, global = true, OnePartitionExec(planLater(child))) :: Nil
    case _ => Nil
  }

  private def small(child: LogicalPlan): Boolean = {
    val threshold = SQLConf.get.autoBroadcastJoinThreshold
    threshold > 0 && child.stats.sizeInBytes <= threshold
  }

  private def ordered(child: LogicalPlan, order: Seq[SortOrder]): Boolean =
    child match {
      case s: LogicalQueryStage =>
        s.physicalPlan.outputPartitioning.satisfies(OrderedDistribution(order))
      case _ => false
    }
}

/** Passes its input through unchanged, in one partition: it requires
  * `AllTuples`, so `EnsureRequirements` shuffles a multi-partition input
  * to a single partition and leaves a single-partition one as it is. */
case class OnePartitionExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] = AllTuples :: Nil
  override def outputPartitioning: Partitioning = SinglePartition
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(newChild: SparkPlan): OnePartitionExec =
    copy(child = newChild)
}
