package graft.sources

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable

import graft.SparkSpec
import graft.streaming.{CdcApplied, PartitionedMerge, PartitionedTableCdcTarget}

/** Merge-on-read tables (a merge appends a log file; the logs fold
  * into the base at a bound) under retention and point reads:
  *  (a) `vacuum(graceMillis = 0)` and `expire(keepLast = 1)` run after
  *      every log append, fold and compaction never delete a log a
  *      retained or tagged version references, and every retained or
  *      tagged version still reads its resolved rows;
  *  (b) a pre-fold version a tag pins reads its resolved rows after
  *      the fold and a retention pass;
  *  (c) `readKey` resolves a key's base row against the logs. */
class MergeOnReadSpec extends SparkSpec {

  private lazy val s = spark
  import s.implicits._

  private val P = 4

  private def ap(uid: Long, id: Long, t: Long, v: Double, del: Boolean = false) =
    CdcApplied(uid, id, new Timestamp(t), v, del)

  private def rows(df: org.apache.spark.sql.DataFrame): Set[CdcApplied] =
    df.select("user_id", "event_id", "ts", "value", "is_deleted")
      .as[CdcApplied].collect().toSet

  private def manifest(root: String, v: Int): VersionedTable.Manifest =
    VersionedTable.Manifest.parse(Files.readString(
      Paths.get(root, "_versions", f"v$v%08d.json")))

  test("retention between log appends and folds keeps every referenced log") {
    val root = Files.createTempDirectory("graft-mor-ret").toString
    val target = new PartitionedTableCdcTarget(spark, root, P)
    // each version's resolved rows, read right after its commit
    val states = mutable.Map.empty[Int, Set[CdcApplied]]
    def record(): Int = {
      val v = VersionedTable.versions(root).last
      states(v) = rows(VersionedTable.readAt(spark, root, v))
      v
    }
    def retain(): Unit = {
      VersionedTable.expire(root, keepLast = 1)
      VersionedTable.vacuum(root, graceMillis = 0)
      VersionedTable.versions(root).foreach { v =>
        manifest(root, v).logs.foreach(l => assert(
          Files.isDirectory(Paths.get(root, l.dir)), s"v$v's log ${l.dir} was vacuumed"))
        assert(rows(VersionedTable.readAt(spark, root, v)) == states(v),
          s"retained v$v no longer reads its rows")
      }
      VersionedTable.tags(root).foreach { case (name, v) =>
        assert(rows(VersionedTable.readAtTag(spark, root, name)) == states(v),
          s"tag $name (v$v) no longer reads its rows")
      }
    }
    // a base large enough that the logs fold on their count
    target.merge(0, (1L to 4000L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    record()
    target.merge(1, Seq(ap(1, 100, 9000, 1.5), ap(4001, 4001, 9000, 4001.0)).toDS())
    val pinned = record()
    assert(manifest(root, pinned).logs.size == 1)
    VersionedTable.tag(root, "one-log", pinned)
    retain()
    // log appends up to the count bound, which the last one folds
    (2 to PartitionedMerge.MaxLogFiles).foreach { b =>
      target.merge(b.toLong, Seq(ap(b.toLong, 100L + b, 9000L + b, -b.toDouble),
        ap(50, 1, 10, -50.0, del = true)).toDS()) // a stale tombstone
      record()
      retain()
    }
    val folded = VersionedTable.versions(root).last
    assert(manifest(root, folded).logs.isEmpty, "the count bound must have folded")
    // more appends, then a compaction folds them
    (100 to 102).foreach { b =>
      target.merge(b.toLong, Seq(ap(b.toLong, 500L + b, 20000L + b, b * 10.0)).toDS())
      record()
      retain()
    }
    VersionedTable.compactPartitions(spark, root, maxFilesPerPart = 0)
    record()
    retain()
    assert(manifest(root, VersionedTable.versions(root).last).logs.isEmpty)
    // the pinned pre-fold version still reads through its log
    val atTag = rows(VersionedTable.readAtTag(spark, root, "one-log"))
      .map(r => r.user_id -> r.value).toMap
    assert(atTag(1L) == 1.5 && atTag(4001L) == 4001.0 && atTag(2L) == 2.0)
    // the head: every update, the stale tombstones lost
    val head = rows(target.snapshot).map(r => r.user_id -> r.value).toMap
    assert(head.size == 4001 && head(50L) == 50.0 && head(2L) == -2.0 &&
      head(102L) == 1020.0 && head(4001L) == 4001.0)
    VersionedTable.dropTag(root, "one-log")
    VersionedTable.expire(root, keepLast = 1)
    assert(VersionedTable.vacuum(root, graceMillis = 0).nonEmpty,
      "once the pin drops, the folded logs reclaim")
    assert(rows(target.snapshot).map(r => r.user_id -> r.value).toMap == head)
  }

  test("a tagged pre-fold version reads its resolved rows after the fold") {
    val root = Files.createTempDirectory("graft-mor-tag").toString
    val target = new PartitionedTableCdcTarget(spark, root, P)
    target.merge(0, (1L to 40L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    target.merge(1, Seq(ap(7, 70, 9000, 7.5), ap(8, 1, 10, -8.0)).toDS())
    val preFold = VersionedTable.versions(root).last
    val want = rows(VersionedTable.readAt(spark, root, preFold))
    VersionedTable.tag(root, "pre-fold", preFold)
    VersionedTable.compactPartitions(spark, root, maxFilesPerPart = 0)
    VersionedTable.expire(root, keepLast = 1)
    VersionedTable.vacuum(root, graceMillis = 0)
    assert(rows(VersionedTable.readAt(spark, root, preFold)) == want)
    val byKey = want.map(r => r.user_id -> r.value).toMap
    assert(byKey(7L) == 7.5 && byKey(8L) == 8.0, "the stale log row must lose")
  }

  test("readKey resolves the key's partition against the logs") {
    val root = Files.createTempDirectory("graft-mor-key").toString
    val target = new PartitionedTableCdcTarget(spark, root, P)
    target.merge(0, (1L to 40L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    target.merge(1, Seq(ap(7, 70, 9000, 7.5), ap(8, 1, 10, -8.0),
      ap(41, 41, 9000, 41.0)).toDS())
    def key(k: Long) = rows(VersionedTable.readKey(spark, root, "user_id", k))
      .map(_.value).toSeq
    assert(key(7L) == Seq(7.5), "a log update must win")
    assert(key(8L) == Seq(8.0), "a stale log row must lose")
    assert(key(41L) == Seq(41.0), "a key only a log holds must read")
    assert(key(9L) == Seq(9.0))
    assert(key(99L).isEmpty)
  }
}
