package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter, WriteJobStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.reuse.ReuseExchangeAndSubquery
import org.apache.spark.util.SerializableConfiguration

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

  /** `df.write.partitionBy(partitionBy: _*).parquet(path)` through
    * `committer`, as one SQL execution and one Spark job, with `trackers`
    * running in the write tasks next to Spark's basic tracker (what
    * `InsertIntoHadoopFsRelationCommand` passes alone). The committer names
    * and places every file; `path` may already hold files, and no save
    * mode applies. A tracker sees every file the job writes and every row
    * it writes there, and its driver side gets the tasks' results once the
    * job has committed. No listing of `path` and no recache follow the
    * write.
    */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String],
                   committer: FileCommitProtocol,
                   trackers: Seq[WriteJobStatsTracker]): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("write")) {
      val plan = qe.executedPlan
      val hadoopConf = session.sessionState.newHadoopConf()
      val basic = new BasicWriteJobStatsTracker(
        new SerializableConfiguration(hadoopConf), BasicWriteJobStatsTracker.metrics)
      FileFormatWriter.write(session, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(path, Map.empty, plan.output), hadoopConf,
        partitionBy.map(n => plan.output.find(_.name == n).get), None,
        basic +: trackers, Map.empty)
      ()
    }
  }

  /** The session's Hadoop configuration as a function a write task can
    * call (Spark's serializable wrapper is not public). */
  def taskHadoopConf(spark: SparkSession): () => Configuration = {
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    () => conf.value
  }
}
