package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ReturnAnswer, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{InputAdapter, SortExec, SparkPlan, SparkStrategy, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** A query's final global sort, planned for the consumer that dominates:
  * `collect()`. Spark plans `ORDER BY` as a range exchange (a sampling job
  * plus a full shuffle of the result) and a per-partition sort, and then
  * `collect()` pulls every row to the driver anyway. Here each partition
  * sorts its own rows, and the driver merges the sorted runs it receives,
  * the way Dremel's root merges what its leaves return.
  *
  * Only the root of a non-streaming query is rewritten: the planner wraps
  * it in `ReturnAnswer`. A `Sort` under a limit is still
  * `TakeOrderedAndProject` (Spark's `SpecialLimits` matches
  * `ReturnAnswer(Limit(..))`), and a sort under a write, `coalesce` or any
  * other operator keeps its range exchange. Registered the same two ways
  * as [[TopKStrategy]].
  */
object CollectSortStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(s @ Sort(order, true, child, _)) if !child.isStreaming =>
      CollectSortExec(order, planLater(s.copy(global = false))) :: Nil
    case _ => Nil
  }
}

/** Root of a collected global sort; the child is the per-partition sort.
  *
  * Two paths, as in `CollectLimitExec`:
  *   - `executeCollect()` collects the partitions' sorted runs back to back
  *     and sorts them with TimSort, which finds the p existing runs and
  *     merges them in O(n log p). No row is gathered that `collect()`
  *     would not gather, so `spark.driver.maxResultSize` caps it as before.
  *   - `doExecute()` serves every other consumer (`toRdd`, `cache`,
  *     `toLocalIterator`, `checkpoint`) with Spark's own plan: a range
  *     exchange over the local sort's input, then a sort per partition.
  *
  * Both paths give rows sorted by `order`; only the collect path gives
  * them in one partition, so the partitioning is declared unknown.
  */
case class CollectSortExec(order: Seq[SortOrder], child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputOrdering: Seq[SortOrder] = order
  override def outputPartitioning: Partitioning = UnknownPartitioning(0)

  override def executeCollect(): Array[InternalRow] = {
    val rows = child.executeCollect()
    java.util.Arrays.sort(rows, new LazilyGeneratedOrdering(order, child.output))
    rows
  }

  /** What `doExecute` runs: a range exchange, then a sort per partition. */
  lazy val rangePlan: SparkPlan = SortExec(order, global = true, ShuffleExchangeExec(
    RangePartitioning(order, conf.numShufflePartitions), unsorted))

  override protected def doExecute(): RDD[InternalRow] = rangePlan.execute()

  /** The child without its per-partition sort, which the range path would
    * only undo. Whole-stage codegen may have fused that sort with its
    * input; the input then gets a codegen stage of its own. A child with
    * no sort left (its input was already ordered) is shuffled as is. */
  private def unsorted: SparkPlan = child match {
    case SortExec(_, false, in, _) => in
    case w @ WholeStageCodegenExec(SortExec(_, false, in, _)) => in match {
      case InputAdapter(c) => c
      case fused => WholeStageCodegenExec(fused)(w.codegenStageId)
    }
    case other => other
  }

  override protected def withNewChildInternal(newChild: SparkPlan): CollectSortExec =
    copy(child = newChild)
}
