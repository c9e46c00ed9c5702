package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning,
  SinglePartition}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Pins the lineage-truncation helper in both modes: it must (a)
  * return the same rows, (b) truncate lineage (the stage re-enters the
  * plan as an RDD scan, so downstream plans stop re-embedding the
  * subtree), (c) in reliable mode actually write directory-backed
  * checkpoint files (the executor-loss posture the conf buys), and
  * (d) tell the planner the staged rows' exact count, a size no
  * smaller than rows × Spark's per-row estimate, and the partitioning
  * the rows really have. */
class CkptSpec extends SparkSpec {
  import spark.implicits._

  private def grouped() =
    spark.range(0, 1000).toDF("id")
      .selectExpr("id", "id % 7 AS k")
      .groupBy("k").count()

  private def rddScan(df: DataFrame): LogicalRDD =
    df.queryExecution.optimizedPlan.collectLeaves() match {
      case Seq(r: LogicalRDD) => r
      case other => fail(s"stage() must truncate lineage to one RDD scan: $other")
    }

  /** Stages `df` and checks its statistics; returns the reported
    * partitioning and the RDD's partition count. */
  private def staged(df: DataFrame): (DataFrame, Partitioning, Int) = {
    val rows = df.collect().toSeq
    val s = df.transform(Ckpt.stage)
    val scan = rddScan(s)
    val stats = s.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(rows.size)))
    assert(stats.sizeInBytes >= EstimationUtils.getSizePerRow(scan.output) * rows.size)
    assert(s.collect().toSeq.sortBy(_.toString) === rows.sortBy(_.toString))
    (s, scan.outputPartitioning, scan.rdd.getNumPartitions)
  }

  private def shuffles(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect { case e: ShuffleExchangeLike => e }.size

  private def inBothModes(name: String)(body: => Unit): Unit = {
    test(s"local mode: $name")(body)
    test(s"reliable mode: $name")(
      withConf("spark.graft.checkpoint.reliable" -> "true")(body))
  }

  test("local mode (default): same rows, lineage truncated, no files") {
    val before = grouped().as[(Long, Long)].collect().toSet
    val s = grouped().transform(Ckpt.stage)
    rddScan(s)
    assert(s.as[(Long, Long)].collect().toSet === before)
  }

  test("reliable mode: same rows, lineage truncated, files on disk") {
    withConf("spark.graft.checkpoint.reliable" -> "true") {
      val s = grouped().transform(Ckpt.stage)
      rddScan(s)
      assert(s.as[(Long, Long)].collect().toSet ===
        grouped().as[(Long, Long)].collect().toSet)
      import scala.jdk.CollectionConverters._
      val dir = spark.sparkContext.getCheckpointDir.get
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(
        new java.net.URI(dir).getPath))
      val n = try files.iterator().asScala.size finally files.close()
      assert(n > 1, "reliable mode must write checkpoint files")
    }
  }

  inBothModes("a grouped frame AQE coalesced into one partition reports SinglePartition") {
    val (_, p, n) = staged(grouped())
    assert(n === 1)
    assert(p === SinglePartition)
  }

  inBothModes("a hash-repartitioned frame keeps its partitioning, so a keyed agg adds no exchange") {
    val (s, p, n) = staged(spark.range(0, 1000).selectExpr("id", "id % 7 AS k")
      .repartition(3, col("k")))
    assert(n === 3)
    p match {
      case h: HashPartitioning =>
        assert(h.numPartitions === 3)
        assert(h.expressions.map(_.references.map(_.name).toSeq) === Seq(Seq("k")))
      case other => fail(s"expected HashPartitioning(k, 3), got $other")
    }
    assert(shuffles(s.groupBy("k").count()) === 0)
  }

  inBothModes("an AQE-coalesced aggregate is not reported as hash partitioned") {
    withConf("spark.sql.shuffle.partitions" -> "16",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "6k",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (s, p, n) = staged(spark.range(0, 20000).selectExpr("id % 1000 AS k").groupBy("k").count())
      assert(n > 1 && n < 16, s"the aggregate's read must be coalesced to a few partitions: $n")
      assert(!p.isInstanceOf[HashPartitioning], s"$p")
      // a frame truly hash partitioned into the same n buckets still meets every key
      val other = spark.range(0, 1000).toDF("k").repartition(n, col("k"))
      assert(s.join(other, "k").count() === 1000)
    }
  }

  inBothModes("a one-partition frame reports SinglePartition") {
    val (_, p, n) = staged(spark.range(0, 1000, 1, 1).selectExpr("id", "id % 7 AS k"))
    assert(n === 1)
    assert(p === SinglePartition)
  }

  test("a left_anti against a one-partition staged frame plans 0 exchanges") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val left = spark.range(0, 1000, 1, 1).toDF("id").transform(Ckpt.stage)
      val right = spark.range(0, 1000, 2, 1).toDF("id").transform(Ckpt.stage)
      val anti = left.join(right, Seq("id"), "left_anti")
      assert(shuffles(anti) === 0)
      assert(anti.count() === 500)
    }
  }

  test("a staged SinglePartition frame inner-joined to a multi-partition frame keeps the big side's partition count") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val small = spark.range(0, 50, 1, 1).toDF("k").transform(Ckpt.stage)
      assert(rddScan(small).outputPartitioning === SinglePartition)
      val big = spark.range(0, 5000, 1, 8).selectExpr("id % 100 AS k", "id AS v")
      // hash-partitioned big side: the small side is reshuffled to it
      val keyed = big.repartition(8, col("k")).join(small, Seq("k"))
      assert(keyed.queryExecution.executedPlan.outputPartitioning.numPartitions === 8)
      assert(keyed.rdd.getNumPartitions === 8)
      assert(keyed.count() === 2500)
      // unpartitioned big side: both sides shuffle, never into one task
      val plain = big.join(small, Seq("k"))
      val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      assert(plain.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeLike => e.outputPartitioning.numPartitions
      }.forall(_ === parts))
      assert(plain.rdd.getNumPartitions === parts)
      assert(plain.count() === 2500)
    }
  }
}
