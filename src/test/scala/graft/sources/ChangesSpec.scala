package graft.sources

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.streaming.{CdcApplied, PartitionedMerge, PartitionedTableCdcTarget,
  TableEvolvingCdcTarget}

/** The incremental change feed (Delta CDF / Iceberg incremental-scan
  * analog) over the versioned table:
  *  (a) insert/update/delete classification with correct image sides
  *      (post-image except deletes; an update writing NULL must not
  *      resurrect the old value);
  *  (b) PARTITION PRUNING — the diff's scan touches no file of a
  *      partition whose dirs did not move between the versions;
  *  (c) a compaction commit produces ZERO phantom changes;
  *  (d) a schema widen alone fabricates nothing, and post-widen
  *      updates carry the widened post-image. */
class ChangesSpec extends SparkSpec {

  private lazy val s = spark
  import s.implicits._

  private val P = 8

  private def ap(uid: Long, id: Long, t: Long, v: Double,
      del: Boolean = false) =
    CdcApplied(uid, id, new Timestamp(t), v, del)

  private def freshRoot(): String =
    Files.createTempDirectory("graft-changes").toString

  private def pidOf(uid: Long): Int =
    s.range(1).select(pmod(hash(lit(uid)), lit(P))).first().getInt(0)

  private def logsOf(root: String, v: Int): Seq[VersionedTable.LogFile] =
    VersionedTable.Manifest.parse(Files.readString(
      Paths.get(root, "_versions", f"v$v%08d.json"))).logs

  test("classification + partition pruning") {
    val root = freshRoot()
    val target = new PartitionedTableCdcTarget(spark, root, P)
    target.merge(0, (1L to 40L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    val v1 = VersionedTable.versions(root).last
    // touch exactly two keys: an update and a tombstone (which in the
    // CDC row model is an update of is_deleted)
    target.merge(1, Seq(ap(7, 100, 99000, 7.7),
      ap(8, 101, 99001, 0.0, del = true)).toDS())
    val v2 = VersionedTable.versions(root).last

    val ch = VersionedTable.changes(spark, root, v1, v2, "user_id")
    val rows = ch.collect().map(r =>
      r.getAs[Long]("user_id") ->
        (r.getAs[String]("_change_type"), r.getAs[Double]("value"),
          r.getAs[Boolean]("is_deleted"))).toMap
    assert(rows.keySet == Set(7L, 8L), s"unexpected change set: $rows")
    assert(rows(7L) == (("update", 7.7, false)))
    assert(rows(8L) == (("update", 0.0, true)),
      "tombstone must surface as an update of the full row image")

    // pruning witness: every file the diff plan scans sits under one
    // of the partitions the two keys hash into, or is the log the
    // merge appended (the only log either version holds)
    val added = logsOf(root, v2).map(l => s"/${l.dir}/")
    assert(added.size == 1 && logsOf(root, v1).isEmpty)
    val moved = Set(pidOf(7L), pidOf(8L)).map(k => s"/pid=$k/") ++ added
    val badFiles = ch.inputFiles.toSeq
      .filterNot(f => moved.exists(f.contains))
    assert(badFiles.isEmpty,
      s"diff scanned unchanged partitions: ${badFiles.take(3)}")

    // a fresh insert classifies as insert
    target.merge(2, Seq(ap(41, 200, 99500, 41.0)).toDS())
    val v3 = VersionedTable.versions(root).last
    val ins = VersionedTable.changes(spark, root, v2, v3, "user_id")
      .collect().map(r => r.getAs[Long]("user_id") ->
        r.getAs[String]("_change_type")).toMap
    assert(ins == Map(41L -> "insert"))
  }

  test("changes across log appends and across a fold emit no phantom rows") {
    val root = freshRoot()
    val target = new PartitionedTableCdcTarget(spark, root, P)
    // a base big enough that the logs fold on their count, not bytes
    target.merge(0, (1L to 4000L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    val v1 = VersionedTable.versions(root).last
    // a stale row (older than the base's), a re-delivered copy of the
    // base row and one real update: only the update is a change
    target.merge(1, Seq(ap(3, 1, 10, -1.0), ap(4, 4, 1004, 4.0),
      ap(5, 200, 99000, 5.5)).toDS())
    val v2 = VersionedTable.versions(root).last
    assert(logsOf(root, v2).size == 1)
    def feed(a: Int, b: Int) = VersionedTable.changes(spark, root, a, b, "user_id")
      .collect().map(r => r.getAs[Long]("user_id") ->
        (r.getAs[String]("_change_type"), r.getAs[Double]("value"))).toMap
    assert(feed(v1, v2) == Map(5L -> (("update", 5.5))))
    // more log appends, each with one new key and one stale row
    (2 to PartitionedMerge.MaxLogFiles).foreach { b =>
      target.merge(b.toLong, Seq(ap(10000L + b, b, 99000L + b, b.toDouble),
        ap(6, 0, 1, -6.0)).toDS())
    }
    val vFold = VersionedTable.versions(root).last
    assert(logsOf(root, vFold).isEmpty, "the last merge must have folded the logs")
    val vBeforeFold = vFold - 1
    assert(logsOf(root, vBeforeFold).size == PartitionedMerge.MaxLogFiles - 1)
    // the fold itself: only the folding batch's key changes
    val lastKey = 10000L + PartitionedMerge.MaxLogFiles
    assert(feed(vBeforeFold, vFold) == Map(lastKey ->
      (("insert", PartitionedMerge.MaxLogFiles.toDouble))))
    // across appends and the fold: exactly the inserted keys and the
    // update, no phantom from the stale rows or the rewritten bases
    val want = (2 to PartitionedMerge.MaxLogFiles)
      .map(b => (10000L + b) -> (("insert", b.toDouble))).toMap +
      (5L -> (("update", 5.5)))
    assert(feed(v1, vFold) == want)
    // a compaction of the folded table is data-identical
    assert(VersionedTable.compactPartitions(spark, root, maxFilesPerPart = 0).nonEmpty)
    assert(feed(vFold, VersionedTable.versions(root).last).isEmpty)
  }

  test("true row removal classifies as delete with the pre-image") {
    val root = freshRoot()
    // hand-built partitioned commits (the CDC targets never remove
    // rows, but overwrite committers can)
    def stage(rows: Seq[(Long, Double)]): Map[String, String] =
      VersionedTable.stagePartitioned(
        rows.toDF("id", "v")
          .withColumn("pid", pmod(hash(col("id")), lit(P))),
        root, "pid")
    VersionedTable.commitPartitions(
      stage(Seq(1L -> 1.0, 2L -> 2.0, 3L -> 3.0)), root, batchId = 0)
    val v1 = VersionedTable.versions(root).last
    VersionedTable.commitPartitions(
      stage(Seq(1L -> 1.0, 3L -> 3.5)), root, batchId = 1,
      overwriteAll = true)
    val v2 = VersionedTable.versions(root).last
    val ch = VersionedTable.changes(spark, root, v1, v2, "id")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("_change_type"), r.getAs[Double]("v"))).toMap
    assert(ch(2L) == (("delete", 2.0)),
      "removed row must emit delete with its pre-image")
    assert(ch(3L) == (("update", 3.5)))
    assert(!ch.contains(1L), "unchanged row leaked into the feed")
  }

  test("compaction emits zero phantom changes") {
    val root = freshRoot()
    val target = new PartitionedTableCdcTarget(spark, root, P)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", 5L)
    try target.merge(0,
      (1L to 80L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    finally spark.conf.set("spark.sql.files.maxRecordsPerFile", 0L)
    val v1 = VersionedTable.versions(root).last
    assert(VersionedTable.compactPartitions(spark, root).nonEmpty)
    val v2 = VersionedTable.versions(root).last
    assert(VersionedTable.changes(spark, root, v1, v2, "user_id").isEmpty,
      "data-identical compaction fabricated changes")
  }

  test("schema widen fabricates nothing; post-widen updates carry the new column") {
    val root = freshRoot()
    val t = new TableEvolvingCdcTarget(spark, root, numPartitions = P)
    t.addColumns(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("ts", LongType), StructField("v", DoubleType)))
    t.merge(0, (1L to 20L).map(k => (k, k, 1000 + k, k / 2.0))
      .toDF("user_id", "event_id", "ts", "v"))
    val v1 = VersionedTable.versions(root).last
    t.addColumns(Seq(StructField("note", StringType)))
    t.merge(1, Seq((5L, 100L, 9000L, 5.5, "n5"))
      .toDF("user_id", "event_id", "ts", "v", "note"))
    val v2 = VersionedTable.versions(root).last

    val ch = VersionedTable.changes(spark, root, v1, v2, "user_id").collect()
    assert(ch.length == 1 && ch.head.getAs[Long]("user_id") == 5L,
      s"widen fabricated changes: ${ch.toSeq}")
    assert(ch.head.getAs[String]("_change_type") == "update" &&
      ch.head.getAs[String]("note") == "n5")
  }
}
