package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.VersionedTable

/** The partition-scoped lakehouse merge (VERDICT r11 item 1):
  *  (a) untouched partition dirs ride commits verbatim — byte-
  *      identical files, no rewrite;
  *  (b) the [[CdcTarget]] contract (out-of-order, redelivery no-op,
  *      stale pre-delete, in-batch duplicates) holds, directly and
  *      through [[CdcStream.mergeInto]];
  *  (c) snapshots are EQUAL to [[InMemoryCdcTarget]]'s (the contract's
  *      reference model) under the same batch sequence;
  *  (d) the partition-count stamp and retention hold across restarts
  *      and maintenance.
  */
class PartitionedTableCdcTargetSpec extends SparkSpec {

  private lazy val s = spark
  import s.implicits._

  private val P = 8

  private def ap(uid: Long, id: Long, t: Long, v: Double,
      del: Boolean = false) =
    CdcApplied(uid, id, new Timestamp(t), v, del)

  private def freshRoot(): String =
    Files.createTempDirectory("graft-parttable").toString

  private def byKey(df: org.apache.spark.sql.DataFrame): Map[Long, CdcApplied] =
    df.as[CdcApplied].collect().map(r => r.user_id -> r).toMap

  private def pidOf(uid: Long): Int =
    s.range(1).select(pmod(hash(lit(uid)), lit(P))).first().getInt(0)

  /** (relative file path → (size, CRC32)) for every file under the
    * partition dirs of `parts` — the byte-identity witness. */
  private def fileState(root: String,
      parts: Map[String, Seq[String]]): Map[String, (Long, Long)] =
    parts.values.flatten.flatMap { rel =>
      val dir = Paths.get(root, rel)
      val w = Files.walk(dir)
      val files = try w.iterator.asScala.filter(Files.isRegularFile(_)).toSeq
      finally w.close()
      files.map { f =>
        val bytes = Files.readAllBytes(f)
        val crc = new java.util.zip.CRC32(); crc.update(bytes)
        s"$rel/${dir.relativize(f)}" -> (bytes.length.toLong, crc.getValue)
      }
    }.toMap

  test("untouched partitions are carried verbatim, never rewritten") {
    val root = freshRoot()
    val target = new PartitionedTableCdcTarget(spark, root, P)
    // enough keys to populate several pids
    target.merge(0, (1L to 40L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    val parts1 = VersionedTable.parts(root)
    assert(parts1.nonEmpty, "first merge must produce a partitioned manifest")

    val touchKey = 7L
    val touchedPid = pidOf(touchKey).toString
    val untouched1 = parts1 - touchedPid
    val before = fileState(root, untouched1)

    // a log append carries every partition's dirs
    target.merge(1, Seq(ap(touchKey, 100, 99999, 7.7)).toDS())
    assert(VersionedTable.parts(root) == parts1,
      "a log append must keep every partition's exact dirs")
    assert(byKey(target.snapshot)(touchKey).value == 7.7)

    // merges of the same key until the logs fold: the fold rewrites
    // the one partition its logs touch and carries the rest
    (2 to PartitionedMerge.MaxLogFiles).foreach { b =>
      target.merge(b, Seq(ap(touchKey, 100 + b, 99999 + b, 7.7 + b)).toDS())
    }
    val parts2 = VersionedTable.parts(root)
    assert(parts2 - touchedPid == untouched1,
      "untouched partitions must keep their exact dirs across a commit")
    assert(parts2(touchedPid) != parts1(touchedPid),
      "the touched partition must get a fresh dir")
    assert(fileState(root, untouched1) == before,
      "untouched partition files changed bytes across a commit")

    val snap = byKey(target.snapshot)
    assert(snap(touchKey).value == 7.7 + PartitionedMerge.MaxLogFiles &&
      snap(1L).value == 1.0 && snap.size == 40)
  }

  test("contract: out-of-order, redelivery no-op, stale pre-delete") {
    val root = freshRoot()
    val target = new PartitionedTableCdcTarget(spark, root, P)

    // in-batch duplicates keep the newest per key (the first merge)
    target.merge(0, Seq(ap(1, 1, 1000, 1.0), ap(1, 2, 2000, 2.0),
      ap(2, 3, 1500, 5.0), ap(2, 1, 1200, 4.0)).toDS())
    assert(byKey(target.snapshot)(1L).event_id == 2 &&
      byKey(target.snapshot)(2L).value == 5.0)
    // stale row for key 1 + newer delete for key 2 + in-batch
    // duplicates of key 3 (a later merge)
    val b1 = Seq(ap(1, 0, 500, 9.9), ap(2, 4, 2500, 0.0, del = true),
      ap(3, 7, 7000, 7.0), ap(3, 9, 9000, 9.0), ap(3, 8, 8000, 8.0))
    target.merge(1, b1.toDS())
    val snap = byKey(target.snapshot)
    assert(snap(1L).event_id == 2 && snap(1L).value == 2.0,
      "stale row regressed newer state")
    assert(!snap.contains(2L), "newer delete must tombstone the key")
    assert(snap(3L).event_id == 9, "in-batch duplicates kept an older row")

    // redelivery: whole-batch no-op, no new version
    val vBefore = VersionedTable.versions(root).size
    target.merge(1, b1.toDS())
    assert(byKey(target.snapshot) == snap)
    assert(VersionedTable.versions(root).size == vBefore,
      "redelivered batch committed a new version")

    // stale pre-delete row cannot resurrect
    target.merge(2, Seq(ap(2, 1, 1000, 8.8)).toDS())
    assert(!byKey(target.snapshot).contains(2L))
  }

  test("copy-on-write fold absorbs out-of-order, redelivery, stale pre-delete") {
    val root = freshRoot()
    val target = new PartitionedTableCdcTarget(spark, root, P)
    target.merge(0, Seq(ap(1, 2, 2000, 2.0), ap(2, 3, 1500, 5.0)).toDS())
    target.merge(1, Seq(ap(3, 1, 1000, 3.0)).toDS())
    assert(VersionedTable.head(root).get.logs.size == 1,
      "a one-row merge into the table must append a log")

    // stale row for key 1 + newer delete for key 2, in a batch whose
    // log outweighs the two-row base: it folds with the logged key 3
    val b1 = Seq(ap(1, 0, 500, 9.9), ap(2, 4, 2500, 0.0, del = true)) ++
      (1000L until 1200L).map(k => ap(k, k, 3000 + k, k.toDouble))
    target.merge(2, b1.toDS())
    assert(VersionedTable.head(root).get.logs.isEmpty,
      "a log past the base's bytes must fold")
    val snap = byKey(target.snapshot)
    assert(snap(1L).event_id == 2 && snap(1L).value == 2.0,
      "stale row regressed newer state")
    assert(!snap.contains(2L), "newer delete must tombstone the key")
    assert(snap(3L).value == 3.0 && snap.size == 2 + 200,
      "the fold lost a row")

    // redelivery of the folding batch: whole-batch no-op, no new version
    val vBefore = VersionedTable.versions(root).size
    target.merge(2, b1.toDS())
    assert(byKey(target.snapshot) == snap, "redelivered batch changed state")
    assert(VersionedTable.versions(root).size == vBefore,
      "redelivered batch committed a new version")

    // the fold kept the tombstone: a stale pre-delete row cannot
    // resurrect the key
    target.merge(3, Seq(ap(2, 1, 1000, 8.8)).toDS())
    assert(!byKey(target.snapshot).contains(2L),
      "stale pre-delete row resurrected a deleted key")
  }

  test("in-batch duplicates dedupe to latest-per-key") {
    val target = new PartitionedTableCdcTarget(spark, freshRoot(), P)
    // the first merge (copy-on-write)
    target.merge(0,
      Seq(ap(1, 1, 1000, 1.0), ap(1, 5, 5000, 5.0), ap(1, 3, 3000, 3.0)).toDS())
    val snap = byKey(target.snapshot)
    assert(snap(1L).event_id == 5 && snap(1L).value == 5.0)
    // a later merge (a log append): the newest duplicate is a delete
    target.merge(1, Seq(ap(1, 8, 8000, 0.0, del = true),
      ap(1, 6, 6000, 6.0), ap(1, 7, 7000, 7.0)).toDS())
    assert(!byKey(target.snapshot).contains(1L),
      "an older in-batch duplicate outlived the newer delete")
  }

  test("mergeInto streams micro-batches end-to-end into the table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    def ev(id: Long, t: Long, uid: Long, tpe: String, v: Double) =
      CdcEvent(id, new Timestamp(t), uid, tpe, v)

    val root = freshRoot()
    val target = new PartitionedTableCdcTarget(spark, root, P)
    val input = MemoryStream[CdcEvent]
    val checkpoint = Files.createTempDirectory("graft_tbl_ckpt").toString
    val q = CdcStream.mergeInto(input.toDS(), target, checkpoint)
    try {
      input.addData(ev(1, 1000, 1, "update", 1.0), ev(2, 2000, 2, "update", 2.0))
      q.processAllAvailable()
      input.addData(ev(3, 3000, 1, "update", 3.0), ev(4, 4000, 2, "error", 0.0))
      q.processAllAvailable()
      val snap = byKey(target.snapshot)
      assert(snap.keySet == Set(1L) && snap(1L).value == 3.0,
        s"stream merge end state wrong: $snap")
      // every micro-batch landed as its own version, its batch id the txn
      assert(VersionedTable.versions(root).size == 2)
      assert(VersionedTable.committedTxns(root) == Set(0L, 1L))
    } finally q.stop()
  }

  test("snapshot equality with the in-memory target") {
    val memory = new InMemoryCdcTarget
    val part = new PartitionedTableCdcTarget(spark, freshRoot(), P)
    val batches: Seq[Seq[CdcApplied]] = Seq(
      (1L to 25L).map(k => ap(k, k, 1000 + k, k.toDouble)),
      Seq(ap(3, 100, 50000, 3.3), ap(9, 101, 50001, 0.0, del = true),
        ap(26, 102, 50002, 26.0)),
      Seq(ap(3, 50, 900, 111.1), // stale, must lose on both targets
        ap(9, 103, 60000, 9.9))) // post-delete revive with newer seq
    batches.zipWithIndex.foreach { case (b, i) =>
      memory.merge(i.toLong, b.toDS()); part.merge(i.toLong, b.toDS())
    }
    assert(byKey(part.snapshot) == memory.snapshot,
      "the lakehouse merge diverged from the in-memory reference")
  }

  test("the manifest's partition count survives a misconfigured restart") {
    val root = freshRoot()
    val t1 = new PartitionedTableCdcTarget(spark, root, P)
    t1.merge(0, (1L to 20L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    assert(VersionedTable.partCount(root).contains(P),
      "first partitioned commit must stamp the partition count")

    // reborn writer configured with the WRONG count: the manifest
    // wins, so the update still lands in (and replaces) the key's
    // actual partition instead of hashing into a different one and
    // leaving a stale duplicate behind
    val t2 = new PartitionedTableCdcTarget(spark, root, numPartitions = 64)
    t2.merge(1, Seq(ap(5, 100, 90000, 5.5)).toDS())
    val snap = byKey(t2.snapshot)
    assert(snap.size == 20 && snap(5L).value == 5.5,
      s"misconfigured restart corrupted the table: ${snap.get(5L)}")
    assert(VersionedTable.partCount(root).contains(P),
      "the stamp must not drift to the misconfigured value")
  }

  test("expire + vacuum reclaim replaced partition dirs, never live ones") {
    val root = freshRoot()
    val target = new PartitionedTableCdcTarget(spark, root, P)
    target.merge(0, (1L to 20L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    target.merge(1, Seq(ap(5, 100, 90000, 5.5)).toDS())
    val expected = byKey(target.snapshot)
    // the head is a DELTA manifest (r14): retention floors at its
    // chain root, so the replaced dir is still referenced and must
    // SURVIVE — reclaiming it would break resolution of the retained
    // head (Delta's vacuum-below-the-checkpoint rule)
    VersionedTable.expire(root, keepLast = 1)
    assert(VersionedTable.vacuum(root, graceMillis = 0).isEmpty,
      "vacuum reclaimed a dir the retained delta chain references")
    assert(byKey(target.snapshot) == expected,
      "vacuum touched live partition data")
    // a CHECKPOINT cuts the chain: compaction forces one, after which
    // retention drops the pre-checkpoint manifests and vacuum
    // reclaims the replaced dirs
    VersionedTable.compactPartitions(spark, root, maxFilesPerPart = 0)
    VersionedTable.expire(root, keepLast = 1)
    val reclaimed = VersionedTable.vacuum(root, graceMillis = 0)
    assert(reclaimed.nonEmpty,
      "post-checkpoint retention must reclaim the replaced pid dirs")
    assert(byKey(target.snapshot) == expected,
      "checkpoint/vacuum changed table data")
    // every manifest-referenced path still exists on disk
    VersionedTable.parts(root).values.flatten.foreach { rel =>
      assert(Files.isDirectory(Paths.get(root, rel)), s"live dir $rel gone")
    }
  }
}
