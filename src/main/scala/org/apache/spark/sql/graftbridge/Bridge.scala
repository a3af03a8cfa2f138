package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.{ExpressionUtils, SparkSession => Classic}

/** Column ⇄ catalyst Expression bridge. Spark 4 gates these conversions as
  * private[sql]; extension libraries that ship native expressions reach
  * them from inside the sql package — this object is the single point
  * where graft does so. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a (possibly custom) logical plan — Dataset.ofRows is
    * private[sql] in Spark 4. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(spark.asInstanceOf[Classic], plan)

  /** Unique per session, `newSession()` children included — unlike an
    * identity hash, which a later session may reuse. Memo keys use it. */
  def sessionUUID(spark: SparkSession): String = spark.asInstanceOf[Classic].sessionUUID

  /** Strategies and optimizer rules the session's extensions inject. */
  def injectedRules(spark: SparkSession): Seq[AnyRef] = {
    val c = spark.asInstanceOf[Classic]
    c.extensions.buildPlannerStrategies(c) ++ c.extensions.buildOptimizerRules(c)
  }

  /** Reliable-checkpoint path backing a checkpointed frame, if any: a
    * `Dataset.checkpoint()` result analyzes to a LogicalRDD over the
    * checkpointed internal RDD, whose getCheckpointFile is the on-disk
    * directory. Local checkpoints (block-backed) and ordinary frames
    * return None. LogicalRDD is private[sql] — hence this lives in the
    * bridge. */
  def checkpointFile(df: org.apache.spark.sql.DataFrame): Option[String] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }.flatMap(_.rdd.getCheckpointFile)

  /** Register a native expression on a LIVE session's function registry —
    * the runtime counterpart of builder-time SparkSessionExtensions
    * (which only applies to sessions built after the config is set). */
  def registerFunction(
      spark: SparkSession, name: String, className: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      new FunctionIdentifier(name), new ExpressionInfo(className, name), builder)
}
