package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Builds the leaf behind `graft.core.materialize`. Spark's
  * `localCheckpoint(true)` runs the same one job under the same action
  * name, but its `LogicalRDD` keeps the optimizer's size *estimate* of
  * the frame it replaced (`LogicalRDD.fromDataset`). This leaf keeps what
  * the job measured instead: `rowCount` is the rows it wrote and
  * `sizeInBytes` is rows × the row width Catalyst uses for counted rows.
  * Output partitioning, ordering and constraints are those
  * `localCheckpoint` keeps. `LogicalRDD`'s constructor and
  * `Dataset.ofRows` are `private[sql]`, hence this package. */
object GraftLeafBridge {
  def materialize(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val plan = qe.executedPlan
      plan.resetMetrics()
      val rdd = plan.execute().map(_.copy()).localCheckpoint()
      // one job: computes and stores every partition, then the
      // checkpoint finds no partition missing and truncates the lineage
      val rows = rdd.count()
      val (_, constraints) = LogicalRDD.rewriteStatsAndConstraints(ds.logicalPlan, qe.optimizedPlan)
      val output = ds.logicalPlan.output
      val stats = Statistics(
        sizeInBytes = EstimationUtils.getSizePerRow(output) * rows, rowCount = Some(rows))
      def firstLeaf(p: Partitioning): Partitioning = p match {
        case c: PartitioningCollection => firstLeaf(c.partitionings.head)
        case other => other
      }
      classic.Dataset.ofRows(ds.sparkSession, LogicalRDD(output, rdd,
        firstLeaf(plan.outputPartitioning), plan.outputOrdering, ds.isStreaming)(
        ds.sparkSession, Some(stats), constraints))
    }
  }
}
