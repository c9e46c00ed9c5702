package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.sources.VersionedTable

/** Writers win over maintenance: a maintenance attempt that starts
  * inside a merge's stage → commit window waits on the merge's writer
  * intent instead of committing under it. Each test starts the
  * maintenance from the merge's `beforeCommit` seam on another thread
  * and returns from the seam only once the maintenance is WAITING
  * (VersionedTable's `onWriterWait` hook), so the interleaving is
  * forced without sleeps; then the merge must commit on its first
  * attempt, at the version after the one it staged against, and stage
  * exactly once. */
class WriterIntentSpec extends SparkSpec {

  private lazy val s = spark
  import s.implicits._

  private val P = 4
  private val Cols = Seq("user_id", "event_id", "ts", "value", "is_deleted")

  private def ap(uid: Long, id: Long, t: Long, v: Double) =
    CdcApplied(uid, id, new Timestamp(t), v, is_deleted = false)

  /** Merge `batch` as `batchId` with `maintenance` started from the
    * commit seam; returns (times the merge staged, head before). */
  private def raced(root: String, batchId: Long, batch: Seq[CdcApplied])(
      maintenance: => Unit): (Int, Int) = {
    val waiting = new CountDownLatch(1)
    VersionedTable.onWriterWait.put(root, () => waiting.countDown())
    var staged = 0
    var racer: Thread = null
    val head0 = VersionedTable.versions(root).last
    try {
      PartitionedMerge.merge(spark, root, batchId, batch.toDS().toDF(),
        pk = "user_id", seqCols = Seq("ts", "event_id"), cols = Cols,
        configuredP = P, beforeCommit = () => {
          staged += 1
          if (racer == null) {
            racer = new Thread(() => maintenance)
            racer.start()
            assert(waiting.await(60, TimeUnit.SECONDS),
              "the maintenance attempt did not wait on the writer's intent")
          }
        })
      racer.join(120000)
      assert(!racer.isAlive, "the maintenance never finished")
    } finally VersionedTable.onWriterWait.remove(root)
    (staged, head0)
  }

  /** (txn, writer kind) of version `v`. */
  private def commitOf(root: String, v: Int): (Option[Long], String) = {
    val r = VersionedTable.history(spark, root).filter(col("version") === v)
      .select("txn", "writer").collect().head
    (Option(r.getAs[java.lang.Long](0)).map(_.longValue), r.getString(1))
  }

  test("a pending compaction never makes a log append lose its commit") {
    val root = Files.createTempDirectory("graft-intent-c").toString
    val target = new PartitionedTableCdcTarget(spark, root, P)
    target.merge(0, (1L to 40L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    target.merge(1, Seq(ap(3, 100, 9000, 3.5)).toDS())
    val (staged, head0) = raced(root, 2, Seq(ap(5, 200, 9500, 5.5))) {
      VersionedTable.compactPartitions(spark, root, maxFilesPerPart = 0)
    }
    assert(staged == 1, s"the merge staged $staged times")
    assert(commitOf(root, head0 + 1) == ((Some(2L), VersionedTable.KindBatch)),
      "the merge did not commit right after the version it staged against")
    assert(commitOf(root, head0 + 2)._2 == VersionedTable.KindMaintenance,
      "the compaction must commit after the merge")
    // the compaction folded both logs, the merge's included
    assert(!VersionedTable.partStats(root).contains(VersionedTable.LogsLabel))
    val snap = target.snapshot.as[CdcApplied].collect().map(r => r.user_id -> r.value).toMap
    assert(snap.size == 40 && snap(3L) == 3.5 && snap(5L) == 5.5 && snap(7L) == 7.0)
  }

  test("a pending rescale never makes a fold restage") {
    val root = Files.createTempDirectory("graft-intent-r").toString
    val target = new PartitionedTableCdcTarget(spark, root, P)
    // a base large enough that the logs fold on their count
    target.merge(0, (1L to 4000L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    (1 until PartitionedMerge.MaxLogFiles).foreach { b =>
      target.merge(b, Seq(ap(b.toLong, 10000L + b, 90000L + b, -b.toDouble)).toDS())
    }
    val b = PartitionedMerge.MaxLogFiles.toLong
    val (staged, head0) = raced(root, b, Seq(ap(4001, 50000, 99000, 1.5))) {
      VersionedTable.rescalePartitions(spark, root, "user_id", P * 2)
    }
    assert(staged == 1, s"the fold staged $staged times: a rescale restaged it")
    assert(commitOf(root, head0 + 1) == ((Some(b), VersionedTable.KindBatch)))
    assert(commitOf(root, head0 + 2)._2 == VersionedTable.KindMaintenance)
    assert(VersionedTable.partCount(root).contains(P * 2))
    val snap = target.snapshot.as[CdcApplied].collect().map(r => r.user_id -> r.value).toMap
    assert(snap.size == 4001 && snap(4001L) == 1.5 && snap(1L) == -1.0 &&
      snap(4000L) == 4000.0)
  }
}
