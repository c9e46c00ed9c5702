package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.LogicalRDD

import graft.{Engine, SparkEntry, SparkSpec}

/** The stage probe: what every `Ckpt.stage`d frame tells the planner
  * against what it holds — the planner's size and row count, the bytes
  * the block manager stored, the rows a count reads, and the reported
  * partitioning. `Test/runMain graft.operators.StageTruth <sfDir>
  * [query ...]` prints one line per stage (all registered queries when
  * none is named). */
object StageTruth {
  final case class Stage(site: String, sizeInBytes: BigInt, rowCount: Option[BigInt],
      minBytes: BigInt, storedBytes: Long, rows: Long, partitioning: String,
      partitions: Int, single: Boolean) {
    override def toString: String =
      f"$site%-24s est=$sizeInBytes%-12s rowCount=${rowCount.getOrElse("-")}%-8s " +
        f"stored=$storedBytes%-10d rows=$rows%-8d parts=$partitions%-3d $partitioning"
  }

  /** The operator line that called `Ckpt.stage`. */
  private def site(): String =
    Thread.currentThread.getStackTrace.iterator
      .find(f => f.getClassName.startsWith("graft.") &&
        !f.getClassName.startsWith("graft.operators.Ckpt") &&
        !f.getClassName.startsWith("graft.operators.StageTruth"))
      .fold("?")(f => s"${f.getFileName}:${f.getLineNumber}")

  def measure(staged: DataFrame): Stage = {
    val scan = staged.queryExecution.optimizedPlan.collectLeaves() match {
      case Seq(r: LogicalRDD) => r
      case other => throw new AssertionError(s"a staged frame is one RDD scan: $other")
    }
    val stats = staged.queryExecution.optimizedPlan.stats
    val stored = staged.sparkSession.sparkContext.getRDDStorageInfo
      .find(_.id == scan.rdd.id).fold(0L)(i => i.memSize + i.diskSize)
    val rows = staged.count()
    Stage(site(), stats.sizeInBytes, stats.rowCount,
      EstimationUtils.getSizePerRow(scan.output) * rows, stored, rows,
      scan.outputPartitioning.toString, scan.rdd.getNumPartitions,
      scan.outputPartitioning == SinglePartition)
  }

  /** Every stage the named queries run, in call order. */
  def probe(spark: SparkSession, dir: String, queries: Seq[String]): Seq[(String, Stage)] = {
    val seen = Seq.newBuilder[(String, Stage)]
    var query = ""
    Ckpt.onStage = df => seen += query -> measure(df)
    try queries.foreach { q =>
      query = q
      spark.catalog.clearCache()
      Memo.clearAll()
      SparkEntry.queries(q)(spark, dir)
    } finally Ckpt.onStage = _ => ()
    seen.result()
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.operators.StageTruth <sfDir> [query ...]")
    val spark = Engine.session("graft-stagetruth")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.length > 1) args.toSeq.tail else SparkEntry.queries.keys.toSeq.sorted
    probe(spark, args.head, names).foreach { case (q, s) => println(f"$q%-28s $s") }
    spark.stop()
  }
}

/** Every `Ckpt.stage` site, reached through the queries below at
  * sf0.01, tells the planner the truth: the exact row count, a size
  * within 4× of the stored bytes and never below rows × Spark's
  * per-row estimate, and `SinglePartition` for a one-partition frame. */
class StageTruthSpec extends SparkSpec {
  // the fewest queries that reach all 37 stage sites
  private val queries = Seq(
    "dq_benford", "ev_attribution_markov", "ev_audience_overlap", "ev_autocorrelation",
    "ev_engagement_gini", "ev_lifecycle", "ev_seasonality", "ft_assoc_rules",
    "ft_kaplan_meier", "ft_mutual_info", "ft_woe_iv", "pipe_curate_cc", "pipe_dsir",
    "q_orders_backlog", "q_skyline", "sim_mmr", "sim_pca_power", "sim_recall_report",
    "sim_silhouette", "txt_bpe_apply", "txt_distill_auc", "txt_keyphrases", "txt_zipf")

  test("every staged frame reports its real rows, size and partitioning") {
    val stages = StageTruth.probe(spark, "/root/testdata/sf0.01", queries)
    val bad = stages.filterNot { case (_, s) =>
      s.rowCount.contains(BigInt(s.rows)) &&
        s.sizeInBytes <= BigInt(s.storedBytes).max(1) * 4 &&
        s.sizeInBytes * 4 >= s.storedBytes &&
        s.sizeInBytes >= s.minBytes &&
        (s.partitions != 1 || s.single)
    }
    if (bad.nonEmpty) fail(bad.map { case (q, s) => s"$q $s" }.mkString("\n", "\n", ""))
    val sites = stages.map(_._2.site).distinct
    assert(sites.size >= 37, s"reached ${sites.size} stage sites: ${sites.sorted.mkString(", ")}")
  }
}
