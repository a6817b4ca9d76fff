package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.reuse.ReuseExchangeAndSubquery

/** Minimal bridge into `private[sql]` surface: building a DataFrame from a
  * custom LogicalPlan has no public API, so — like every Spark extension
  * library — we expose `Dataset.ofRows` from inside the sql package.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column <-> Expression, needed when an expression carries a non-literal
    * constructor arg (the intervals script predicate) and so cannot ride
    * the SQL function registry. */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  def expressionOf(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** `df.localCheckpoint(eager = true)` planned WITHOUT adaptive execution,
    * so the checkpoint records the plan's real output partitioning and
    * ordering (an AQE root reports UnknownPartitioning). The non-adaptive
    * plan comes from Spark's own preparation rules for this one query; the
    * session conf is never written. Otherwise the steps of
    * `Dataset.checkpoint`: one SQL execution, an eagerly materialized local
    * checkpoint, and a LogicalRDD carrying the origin plan's statistics.
    */
  def localCheckpointKeepingLayout(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    val plan = ReuseExchangeAndSubquery(
      QueryExecution.prepareExecutedPlan(session, qe.sparkPlan.clone()))
    val rdd = SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val r = plan.execute().map(_.copy())
      r.localCheckpoint()
      r.doCheckpoint()
      r
    }
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => firstLeaf(c.partitionings.head)
      case leaf => leaf
    }
    val (stats, constraints) =
      LogicalRDD.rewriteStatsAndConstraints(ds.logicalPlan, qe.optimizedPlan)
    classic.Dataset.ofRows(session,
      LogicalRDD(ds.logicalPlan.output, rdd, firstLeaf(plan.outputPartitioning),
        plan.outputOrdering, isStreaming = false)(session, stats, constraints))
  }
}
