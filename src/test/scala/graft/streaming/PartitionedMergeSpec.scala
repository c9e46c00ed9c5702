package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{ShuffleCount, SparkSpec}
import graft.sources.VersionedTable

/** The execution shape of a merge into an existing table. A log
  * append is one job writing one file with no shuffle. A fold takes
  * the touched pids from one narrow job, reads the touched dirs under
  * an explicit schema (no inference job), and shares the merge
  * aggregation's exchange with the staged write. */
class PartitionedMergeSpec extends SparkSpec {

  private lazy val s = spark
  import s.implicits._

  private val TagKey = "graft.spec.tag"

  private def ap(uid: Long, id: Long, t: Long, v: Double) =
    CdcApplied(uid, id, new Timestamp(t), v, is_deleted = false)

  /** Jobs `body` submits from this thread, and the executed shuffles of
    * every write command it runs under `root`. Listener events arrive
    * asynchronously and in order, so a tagged sentinel action after
    * `body` marks the point where every earlier event was delivered. */
  private def shapeOf(root: String)(body: => Unit): (Int, Seq[Int]) = {
    val sc = spark.sparkContext
    val tag = UUID.randomUUID().toString
    val sentinel = s"sentinel_${tag.replace('-', '_')}"
    val jobs = new AtomicInteger
    val writes = mutable.ArrayBuffer.empty[Int]
    val drained = new CountDownLatch(2)
    val jobListener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty(TagKey)).foreach { t =>
          if (t == tag) jobs.incrementAndGet()
          else if (t == sentinel) drained.countDown()
        }
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed match {
          case i: InsertIntoHadoopFsRelationCommand
              if i.outputPath.toString.contains(root) =>
            writes.synchronized(writes += ShuffleCount.executedShuffles(qe.executedPlan))
          case p if p.output.exists(_.name == sentinel) => drained.countDown()
          case _ =>
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    def tagged[T](t: String)(f: => T): T = {
      sc.setLocalProperty(TagKey, t)
      try f finally sc.setLocalProperty(TagKey, null)
    }
    try {
      tagged(tag)(body)
      tagged(sentinel)(spark.range(1).toDF(sentinel).collect())
      assert(drained.await(60, TimeUnit.SECONDS), "listener events never drained")
      (jobs.get, writes.synchronized(writes.toList))
    } finally {
      spark.listenerManager.unregister(planListener)
      sc.removeSparkListener(jobListener)
    }
  }

  /** A table of `n` keys in 8 partitions, and a batch of updates to
    * existing keys plus new keys, spread over several pids. */
  private def seeded(n: Long): (String, PartitionedTableCdcTarget) = {
    val root = Files.createTempDirectory("graft-pmerge").toString
    val target = new PartitionedTableCdcTarget(spark, root, 8)
    target.merge(0, (1L to n).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    (root, target)
  }

  private def batch(b: Long, n: Long) =
    ((1L to 40L by 5).map(k => ap(k, 100000 * b + k, 500000 * b + k, -k.toDouble)) ++
      (n + 1 to n + 5).map(k => ap(k, k, 500000 * b + k, k.toDouble))).toDS()

  private def assertSnapshot(target: PartitionedTableCdcTarget, b: Long,
      n: Long): Unit = {
    val snap = target.snapshot.as[CdcApplied].collect().map(r => r.user_id -> r).toMap
    assert(snap.keySet == (1L to n + 5).toSet)
    assert((1L to 40L by 5).forall(k => snap(k).event_id == 100000 * b + k))
    assert(snap(2L).event_id == 2L, "untouched keys keep their rows")
  }

  /** One log append into an existing table: its job count and
    * per-write shuffles, checked below, after the layout and the
    * snapshot are checked here. */
  private lazy val logShape: (Int, Seq[Int]) = {
    val (root, target) = seeded(40)
    val before = VersionedTable.parts(root)
    val measured = shapeOf(root)(target.merge(1, batch(1, 40)))
    assert(VersionedTable.parts(root) == before,
      "a log append must rewrite no partition")
    assert(VersionedTable.partStats(root).get(VersionedTable.LogsLabel).map(_._2)
      .contains(1), "a log append must add one log file")
    assertSnapshot(target, 1, 40)
    measured
  }

  /** One fold: the merge that reaches the log-count bound folds the
    * logs with its batch through the copy-on-write body (the base is
    * big enough that the byte bound does not fold first). */
  private lazy val foldShape: (Int, Seq[Int]) = {
    val n = 4000L
    val (root, target) = seeded(n)
    (1 until PartitionedMerge.MaxLogFiles).foreach(b => target.merge(b, batch(b, n)))
    assert(VersionedTable.partStats(root).get(VersionedTable.LogsLabel).map(_._2)
      .contains(PartitionedMerge.MaxLogFiles - 1))
    val before = VersionedTable.parts(root)
    val b = PartitionedMerge.MaxLogFiles.toLong
    val measured = shapeOf(root)(target.merge(b, batch(b, n)))
    val after = VersionedTable.parts(root)
    assert(after.keySet.exists(k => before.get(k) != after.get(k)),
      "the fold must have rewritten at least one partition")
    assert(!VersionedTable.partStats(root).contains(VersionedTable.LogsLabel),
      "the fold must clear the logs")
    assertSnapshot(target, b, n)
    measured
  }

  test("a log append into an existing partitioned table runs 1 job of its own") {
    // the one-task newest-per-key write, no shuffle
    assert(logShape._1 == 1, s"PartitionedMerge ran ${logShape._1} jobs")
    assert(logShape._2 == Seq(0), s"executed shuffles per write: ${logShape._2}")
  }

  test("a fold runs 3 jobs of its own") {
    // touched pids (one narrow job) + the shuffle's map stage + the write
    assert(foldShape._1 == 3, s"PartitionedMerge ran ${foldShape._1} jobs")
  }

  test("the merge aggregation and the staged write share one shuffle") {
    assert(foldShape._2 == Seq(1), s"executed shuffles per staged write: ${foldShape._2}")
  }
}
