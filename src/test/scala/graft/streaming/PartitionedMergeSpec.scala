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

/** The execution shape of one partition-scoped merge into an existing
  * table: the touched pids come from one narrow job, the touched dirs
  * are read under an explicit schema (no inference job), and the merge
  * aggregation shares its exchange with the staged write. */
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

  /** One non-empty merge into an existing 8-partition table: its job
    * count and per-write shuffles, checked below, after the snapshot
    * is checked here. */
  private lazy val shape: (Int, Seq[Int]) = {
    val root = Files.createTempDirectory("graft-pmerge").toString
    val target = new PartitionedTableCdcTarget(spark, root, 8)
    target.merge(0, (1L to 40L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    val before = VersionedTable.parts(root)
    // updates to existing keys plus new keys, spread over several pids
    val batch = ((1L to 40L by 5).map(k => ap(k, 100 + k, 5000 + k, -k.toDouble)) ++
      (41L to 45L).map(k => ap(k, k, 5000 + k, k.toDouble))).toDS()

    val measured = shapeOf(root)(target.merge(1, batch))

    val after = VersionedTable.parts(root)
    assert(after.keySet.exists(k => before.get(k) != after.get(k)),
      "the merge must have rewritten at least one partition")
    val snap = target.snapshot.as[CdcApplied].collect().map(r => r.user_id -> r).toMap
    assert(snap.keySet == (1L to 45L).toSet)
    assert((1L to 40L by 5).forall(k => snap(k).event_id == 100 + k))
    assert(snap(2L).event_id == 2L, "untouched keys keep their rows")
    measured
  }

  test("a merge into an existing partitioned table runs 3 jobs of its own") {
    // touched pids (one narrow job) + the shuffle's map stage + the write
    assert(shape._1 == 3, s"PartitionedMerge ran ${shape._1} jobs")
  }

  test("the merge aggregation and the staged write share one shuffle") {
    assert(shape._2 == Seq(1), s"executed shuffles per staged write: ${shape._2}")
  }
}
