package graft.plans

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.Bridge

/** Whole-operator custom plan: top-k rows per key, executed with bounded
  * per-key heaps instead of a full per-partition sort + rank filter.
  *
  * The window formulation (`row_number().over(partitionBy(keys).orderBy(o))
  * <= k`) sorts EVERY group's EVERY row; this operator keeps at most k rows
  * per key in a heap, so per-partition work is O(n log k) with O(keys·k)
  * memory — the shape that matters when groups are huge and k is small
  * (top-3 per customer over 100 TB of orders).
  *
  * The full custom-operator stack, per the extension ladder: logical node →
  * [[TopKStrategy]] (a SparkStrategy planning it) → [[TopKPerKeyExec]]
  * (a SparkPlan declaring ClusteredDistribution so EnsureRequirements
  * inserts exactly one hash shuffle on the keys) — registered either via
  * `SparkSessionExtensions.injectPlannerStrategy`
  * ([[graft.functions.GraftExtensions]]) or its `install`, which
  * [[TopK.topKPerKey]] and every table read run.
  */
case class TopKPerKeyNode(
    keys: Seq[Expression], order: Seq[SortOrder], k: Int, child: LogicalPlan)
    extends UnaryNode {
  require(k > 0, s"k must be positive: $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(
    keys: Seq[Expression], order: Seq[SortOrder], k: Int, child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  /** One hash shuffle on the keys — all of a key's rows meet in one task. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  /** The heap pass is a per-partition map (placement untouched), so the
    * child's partitioning — hashpartitioning(keys) once EnsureRequirements
    * has satisfied the distribution above — survives this node. Without
    * this override the default UnknownPartitioning would make any
    * downstream join/agg on the same keys re-shuffle rows that are
    * already exactly where they need to be (the WindowExec formulation
    * this operator replaces preserves partitioning; so must its
    * replacement, or the rewrite costs an exchange per consumer). */
  override def outputPartitioning:
      org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val (keyExprs, sortOrder, kk, childOutput) = (keys, order, k, child.output)
    child.execute().mapPartitions({ iter =>
      val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val base = GenerateOrdering.generate(sortOrder, childOutput)
      // max-heap by sort order: head = the latest-sorting (worst) kept row
      val heapOrd: Ordering[UnsafeRow] = (a: UnsafeRow, b: UnsafeRow) => base.compare(a, b)
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[UnsafeRow]]
      while (iter.hasNext) {
        val row = toUnsafe(iter.next())
        val heap = heaps.getOrElseUpdate(keyProj(row).copy(),
          mutable.PriorityQueue.empty[UnsafeRow](heapOrd))
        if (heap.size < kk) heap.enqueue(row.copy())
        else if (base.compare(row, heap.head) < 0) {
          heap.dequeue(); heap.enqueue(row.copy())
        }
      }
      // emit each key's rows in sort order (dequeueAll drains worst-first)
      heaps.valuesIterator.flatMap(_.dequeueAll.reverseIterator)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopK {
  /** Sort-order spec: column name + direction. */
  final case class Ord(name: String, descending: Boolean = false)

  /** Top-k rows per key. Result set equals the `row_number().over(...) <= k`
    * window formulation, minus the rank column. Attributes are resolved
    * against the child's analyzed output up front, so the custom node
    * enters planning fully resolved (Column-based lazy expressions don't
    * survive inside non-builtin nodes). */
  def topKPerKey(df: DataFrame, keyNames: Seq[String], orderBy: Seq[Ord], k: Int): DataFrame = {
    val spark = df.sparkSession
    graft.functions.GraftExtensions.install(spark)
    val analyzed = df.queryExecution.analyzed
    def attr(n: String) = analyzed.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"column '$n' not in ${analyzed.output.map(_.name).mkString("[", ",", "]")}"))
    val keys = keyNames.map(attr)
    val order = orderBy.map(o =>
      SortOrder(attr(o.name), if (o.descending) Descending else Ascending))
    Bridge.ofRows(spark, TopKPerKeyNode(keys, order, k, analyzed))
  }
}
