package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** The frame `graft.operators.Ckpt.stage` returns (in this package only
  * to build a Dataset from a plan): `df`'s rows, run once, as a
  * `LogicalRDD` that tells the planner what it holds. Row count: the
  * staging job's count. Size: the larger of the stored bytes and rows ×
  * Spark's per-row estimate, so no staged frame is planned as a
  * broadcast smaller than it is in memory. Partitioning, from the plan
  * that ran (after AQE): `SinglePartition` for one partition, a plain
  * `HashPartitioning` whose count matches the RDD's, else
  * `UnknownPartitioning(n)` (an AQE-coalesced read reports
  * `CoalescedHashPartitioning`: not n hash buckets). `store` persists or
  * checkpoints the RDD, runs the one job that materializes it and returns its count. */
object StagedRelation {
  def apply(df: DataFrame)(store: RDD[InternalRow] => Long): (DataFrame, RDD[InternalRow]) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val (session, qe) = (ds.sparkSession, ds.queryExecution)
    SQLExecution.withNewExecutionId(qe, Some("stage")) {
      val rdd = qe.executedPlan.execute().map(_.copy())
      val rows = store(rdd)
      val stored = session.sparkContext.getRDDStorageInfo(_.id == rdd.id)
        .headOption.fold(0L)(i => i.memSize + i.diskSize)
      val output = qe.analyzed.output
      val size = (EstimationUtils.getSizePerRow(output) * rows).max(stored).max(1)
      val ran = qe.executedPlan match { case a: AdaptiveSparkPlanExec => a.executedPlan; case p => p }
      val toOutput = AttributeMap(ran.output.zip(output))
      def rewrite[E <: Expression](e: E): Option[E] = {
        val r = e.transform { case a: Attribute => toOutput.getOrElse(a, a) }
        if (r.references.subsetOf(AttributeSet(output))) Some(r.asInstanceOf[E]) else None
      }
      val n = rdd.getNumPartitions
      val partitioning = ran.outputPartitioning match {
        case _ if n == 1 => SinglePartition
        case h: HashPartitioning if h.numPartitions == n => rewrite(h).getOrElse(UnknownPartitioning(n))
        case _ => UnknownPartitioning(n)
      }
      val ordering = ran.outputOrdering.map(rewrite(_)).takeWhile(_.isDefined).flatten
      val plan = LogicalRDD(output, rdd, partitioning, ordering)(
        session, Some(Statistics(sizeInBytes = size, rowCount = Some(rows))))
      (classic.Dataset.ofRows(session, plan), rdd)
    }
  }
}
