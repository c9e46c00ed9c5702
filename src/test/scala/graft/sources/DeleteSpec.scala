package graft.sources

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.{CdcApplied, PartitionedTableCdcTarget, TableFollower}

/** Targeted deletion (r14): [[VersionedTable.deleteKeys]] (the
  * GDPR-erasure path) and [[VersionedTable.deleteWhere]]. Pinned:
  *  (a) deleteKeys removes exactly the named keys, rewrites ONLY the
  *      partitions that held them (untouched labels carry verbatim),
  *      and erasing absent keys commits nothing;
  *  (b) the change feed across a delete emits true `delete` rows and
  *      a follower converges the replica through an ordinary tick;
  *  (c) retention + vacuum complete the erasure: after expire/vacuum
  *      no retained version serves the rows and their bytes are gone;
  *  (d) deleteWhere removes rows where the predicate is TRUE (null
  *      and false keep rows, the SQL rule), rewriting only hit
  *      partitions; a no-match predicate commits nothing. */
class DeleteSpec extends SparkSpec {

  private lazy val s = spark
  import s.implicits._

  private val P = 8

  private def ap(uid: Long, id: Long, t: Long, v: Double,
      del: Boolean = false) =
    CdcApplied(uid, id, new Timestamp(t), v, del)

  private def freshRoot(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("deleteKeys erases exactly the named keys, O(touched partitions)") {
    val root = freshRoot("del-src")
    val target = new PartitionedTableCdcTarget(spark, root, P)
    target.merge(0, (1L to 200L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    val before = VersionedTable.parts(root)

    val (n, labels) = VersionedTable.deleteKeys(spark, root, "user_id",
      Seq(7L, 8L, 9L, 4242L).toDF("user_id")) // 4242 is absent
    assert(n == 3, s"3 of the 4 keys exist, got $n")
    assert(labels.nonEmpty && labels.size <= 3,
      s"at most one partition per key rewrites, got $labels")

    val remaining = VersionedTable.read(spark, root)
      .select("user_id").as[Long].collect().toSet
    assert(remaining == ((1L to 200L).toSet -- Set(7L, 8L, 9L)))

    // untouched partitions' dirs carried VERBATIM into the new manifest
    val after = VersionedTable.parts(root)
    (before.keySet -- labels.toSet).foreach { k =>
      assert(after(k) == before(k), s"partition $k rewrote needlessly")
    }

    // the pre-delete snapshot still serves the rows (time travel),
    // until retention completes the erasure
    assert(VersionedTable.readAt(spark, root, 1)
      .filter(col("user_id") === 7L).count() == 1)

    // erasing already-absent keys moves nothing and commits nothing
    val vBefore = VersionedTable.versions(root).size
    assert(VersionedTable.deleteKeys(spark, root, "user_id",
      Seq(7L, 5000L).toDF("user_id")) == ((0L, Nil)))
    assert(VersionedTable.versions(root).size == vBefore)

    // keys supplied in the WRONG type (Int vs the table's Long pk)
    // still erase: the key set is cast to the table's own pk type
    // before hashing, so pruning can't land on the wrong partitions
    val (n2, _) = VersionedTable.deleteKeys(spark, root, "user_id",
      Seq(10, 11).toDF("user_id"))
    assert(n2 == 2, s"Int-typed keys against a Long pk erased $n2 rows")
    assert(VersionedTable.read(spark, root)
      .filter(col("user_id").isin(10L, 11L)).count() == 0)
  }

  test("erasing every key leaves a readable, mergeable, compactable table") {
    // all labels gone writes "parts":{} — an empty label body, not a
    // missing one (which readers refuse as a flat manifest), and with
    // no data file left the erasure's schema stamp is what lets read()
    // serve an empty typed frame
    val root = freshRoot("del-all")
    val target = new PartitionedTableCdcTarget(spark, root, 4)
    target.merge(0, (1L to 3L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    val (n, _) = VersionedTable.deleteKeys(spark, root, "user_id",
      Seq(1L, 2L, 3L).toDF("user_id"))
    assert(n == 3)
    assert(VersionedTable.parts(root).isEmpty)
    assert(target.snapshot.count() == 0)
    assert(VersionedTable.read(spark, root).columns.contains("user_id"))

    // the next merge lands on the emptied table like on any other
    target.merge(1, Seq(ap(4L, 4L, 1004L, 4.0)).toDS())
    assert(target.snapshot.as[CdcApplied].collect().map(_.user_id).toSeq
      == Seq(4L))
    assert(VersionedTable.partCount(root).contains(4))

    // compaction and erasure apply to an emptied head
    VersionedTable.deleteKeys(spark, root, "user_id", Seq(4L).toDF("user_id"))
    assert(VersionedTable.compactPartitions(spark, root).isEmpty)
    assert(VersionedTable.deleteKeys(spark, root, "user_id",
      Seq(4L).toDF("user_id")) == ((0L, Nil)))
  }

  test("the feed emits true deletes; a replica converges; retention finishes the erasure") {
    val src = freshRoot("del-src2"); val dst = freshRoot("del-dst2")
    val upstream = new PartitionedTableCdcTarget(spark, src, P)
    val follower = new TableFollower(spark, src, dst, "user_id", P)
    upstream.merge(0, (1L to 40L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    follower.tick()

    val preDelete = VersionedTable.versions(src).last
    VersionedTable.deleteKeys(spark, src, "user_id",
      Seq(11L, 12L).toDF("user_id"))
    val postDelete = VersionedTable.versions(src).last

    // the change window is EXACTLY the two erasures, as deletes
    val feed = VersionedTable.changes(spark, src, preDelete, postDelete,
      "user_id").collect()
    assert(feed.map(r => (r.getAs[Long]("user_id"),
      r.getAs[String]("_change_type"))).sorted.toSeq ==
      Seq((11L, "delete"), (12L, "delete")))

    // the replica converges through the ordinary tick
    assert(follower.tick().isDefined)
    assert(follower.snapshot.select("user_id").as[Long].collect().toSet ==
      ((1L to 40L).toSet -- Set(11L, 12L)))

    // retention completes the erasure at the source: no retained
    // version serves the keys, and their bytes are vacuumed
    VersionedTable.expire(src, keepLast = 1)
    VersionedTable.vacuum(src, graceMillis = 0)
    VersionedTable.versions(src).foreach { v =>
      assert(VersionedTable.readAt(spark, src, v)
        .filter(col("user_id").isin(11L, 12L)).count() == 0,
        s"v$v still serves erased keys")
    }
  }

  test("deleteWhere: TRUE deletes, null/false keep, only hit partitions rewrite") {
    val root = freshRoot("del-src3")
    val target = new PartitionedTableCdcTarget(spark, root, P)
    val rows = (1L to 50L).map(k => ap(k, k, 1000 + k, -k.toDouble)) ++
      Seq(ap(51L, 51L, 1051L, -51.0))
    target.merge(0, rows.toDS())
    val before = VersionedTable.parts(root)

    // delete the strictly-negative tail below -45 — with the
    // condition NULL for key 51 (the SQL rule: null keeps the row,
    // even though its value would match)
    val (n, labels) = VersionedTable.deleteWhere(spark, root,
      when(col("user_id") === 51L, lit(null).cast("boolean"))
        .otherwise(col("value") < -45.0))
    assert(n == 5, s"values -46..-50 match, got $n")
    val remaining = VersionedTable.read(spark, root)
      .select("user_id").as[Long].collect().toSet
    assert(remaining == ((1L to 45L).toSet + 51L))
    val after = VersionedTable.parts(root)
    (before.keySet -- labels.toSet).foreach { k =>
      assert(after(k) == before(k), s"partition $k rewrote needlessly")
    }

    // a predicate matching nothing commits nothing
    val vBefore = VersionedTable.versions(root).size
    assert(VersionedTable.deleteWhere(spark, root,
      col("value") < -9999.0) == ((0L, Nil)))
    assert(VersionedTable.versions(root).size == vBefore)
  }

  test("updateWhere rewrites matched rows in place; set sees the OLD row") {
    val root = freshRoot("upd-src")
    val target = new PartitionedTableCdcTarget(spark, root, P)
    target.merge(0, (1L to 60L).map(k =>
      ap(k, 1000 + k, 10000 + k, k.toDouble)).toDS())
    val before = VersionedTable.parts(root)

    // swap-style double assignment: value gets event_id+value,
    // event_id gets value's OLD value — only correct if both
    // expressions evaluate against the pre-update row. The event_id
    // assignment is deliberately UNCAST (a DOUBLE expression into a
    // BIGINT column): updateWhere must cast to the target column's
    // type or the rewritten parquet drifts from the manifest schema
    // and the partitions stop reading
    val (n, labels) = VersionedTable.updateWhere(spark, root, "user_id",
      col("value") > 57.0,
      Map("value" -> (col("event_id") + col("value")),
        "event_id" -> col("value")))
    assert(n == 3, s"values 58..60 match, got $n")
    val rows = VersionedTable.read(spark, root)
      .select("user_id", "event_id", "value").collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("event_id"), r.getAs[Double]("value")))).toMap
    (58L to 60L).foreach { k =>
      assert(rows(k) == ((k, 1000.0 + 2 * k)),
        s"key $k: ${rows(k)} — a set expression read an updated column")
    }
    (1L to 57L).foreach(k => assert(rows(k) == ((1000 + k, k.toDouble))))

    // unmatched partitions carried verbatim; no-match commits nothing
    val after = VersionedTable.parts(root)
    (before.keySet -- labels.toSet).foreach { k =>
      assert(after(k) == before(k), s"partition $k rewrote needlessly")
    }
    val vBefore = VersionedTable.versions(root).size
    assert(VersionedTable.updateWhere(spark, root, "user_id",
      col("value") > 9999.0, Map("value" -> lit(0.0))) == ((0L, Nil)))
    assert(VersionedTable.versions(root).size == vBefore)

    // the layout key is refused as an update target, and a typo'd
    // key name fails loudly instead of disarming that guard
    val e = intercept[IllegalArgumentException] {
      VersionedTable.updateWhere(spark, root, "user_id",
        col("value") > 0.0, Map("user_id" -> lit(1L)))
    }
    assert(e.getMessage.contains("layout key"))
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.updateWhere(spark, root, "userid",
        col("value") > 0.0, Map("user_id" -> lit(1L)))
    }
    assert(e2.getMessage.contains("no column 'userid'"))
  }
}
