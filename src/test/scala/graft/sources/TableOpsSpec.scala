package graft.sources

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import graft.streaming.{CdcApplied, PartitionedTableCdcTarget}

/** Operational reads over the manifest log (r14):
  *  (a) [[VersionedTable.history]] — the DESCRIBE HISTORY analog —
  *      reports every retained commit's time/op/writer/txn/labels
  *      from metadata alone;
  *  (b) [[VersionedTable.readKey]] point lookups read EXACTLY the one
  *      key-hash partition the value lives in (the layout is the
  *      index), matching a full-scan filter's answer. */
class TableOpsSpec extends SparkSpec {

  private lazy val s = spark
  import s.implicits._

  private val P = 8

  private def ap(uid: Long, id: Long, t: Long, v: Double,
      del: Boolean = false) =
    CdcApplied(uid, id, new Timestamp(t), v, del)

  private def freshRoot(): String =
    Files.createTempDirectory("graft-tops").toString

  test("history narrates the commit log from metadata alone") {
    val root = freshRoot()
    val target = new PartitionedTableCdcTarget(spark, root, P)
    target.merge(0, (1L to 40L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    target.merge(1, Seq(ap(3L, 300L, 90000L, 3.3)).toDS())
    VersionedTable.rescalePartitions(spark, root, "user_id", P * 2)
    VersionedTable.restore(spark, root, 2)

    val h = VersionedTable.history(spark, root)
      .orderBy("version").collect()
    assert(h.map(_.getAs[Int]("version")).toSeq == Seq(1, 2, 3, 4))
    assert(h.map(_.getAs[String]("op")).toSeq ==
      Seq("merge_parts", "append_log", "overwrite_parts", "restore"))
    assert(h.map(_.getAs[String]("writer")).toSeq ==
      Seq("batch", "batch", "maintenance", "batch"))
    // txn rides the streaming merges only
    assert(h.take(2).map(_.getAs[java.lang.Long]("txn")).toSeq
      == Seq(0L, 1L))
    assert(h.drop(2).forall(_.getAs[java.lang.Long]("txn") == null))
    // the rescale re-stamped the count; the restore stamped it BACK
    assert(h.map(_.getAs[Int]("nparts")).toSeq == Seq(P, P, P * 2, P))
    assert(h.forall(r => r.getAs[Timestamp]("ts").getTime > 0))
    // the log append (a delta) serialized no label; the restore
    // checkpoint re-serializes its target's full label set
    val labels = h.map(r =>
      r.getAs[Int]("version") -> r.getAs[Int]("labels")).toMap
    assert(labels(2) == 0)
    assert(labels(1) > 1 && labels(4) == labels(1))
    assert(h.map(_.getAs[Boolean]("is_delta")).toSeq ==
      Seq(false, true, false, false))
  }

  test("readKey reads one partition and matches the full-scan filter") {
    val root = freshRoot()
    val target = new PartitionedTableCdcTarget(spark, root, P)
    target.merge(0, (1L to 200L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())

    val hit = VersionedTable.readKey(spark, root, "user_id", 42L)
    assert(hit.as[CdcApplied].collect().map(r => (r.user_id, r.value)).toSeq
      == Seq((42L, 42.0)))

    // pruning witness: the lookup's file set is ONE partition's, a
    // strict subset of the full scan's
    val full = VersionedTable.read(spark, root)
    val partFiles = hit.inputFiles.toSet
    assert(partFiles.nonEmpty && partFiles.size < full.inputFiles.length,
      s"lookup must read fewer files than the table has " +
        s"(${partFiles.size} vs ${full.inputFiles.length})")
    // every file it reads belongs to exactly one manifest label
    // (inputFiles are file: URIs — match on the relative dir path)
    val owning = VersionedTable.parts(root).filter { case (_, dirs) =>
      partFiles.exists(f => dirs.exists(d => f.contains(s"/$d/")))
    }
    assert(owning.size == 1,
      s"lookup touched ${owning.size} partitions, want 1")

    // an absent key answers empty from the same single partition
    assert(VersionedTable.readKey(spark, root, "user_id", 4242L).count() == 0)
    // and the answer tracks the layout across a RESCALE
    VersionedTable.rescalePartitions(spark, root, "user_id", P * 4)
    assert(VersionedTable.readKey(spark, root, "user_id", 42L)
      .as[CdcApplied].head().value == 42.0)
  }
}
