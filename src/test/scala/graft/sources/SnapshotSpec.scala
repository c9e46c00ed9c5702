package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.streaming.{CdcApplied, PartitionedTableCdcTarget}

/** Snapshot management (r14): RESTORE (Delta `RESTORE TABLE` analog),
  * named TAGS with retention pinning (Iceberg tags), and timestamp
  * time travel. What these tests pin:
  *  (a) restore publishes a forward commit whose content IS the old
  *      version's, METADATA-ONLY (zero new data dirs), history intact;
  *  (b) a partitioned restore re-stamps the target's layout (count +
  *      schema), cuts the delta chain (full manifest), and the change
  *      feed across it is the pruned, phantom-free inverse delta;
  *  (c) retention after a restore keeps the re-referenced dirs live
  *      and reclaims the abandoned head's;
  *  (d) tags pin their version — and the delta CHAIN that resolves
  *      it — through expire/vacuum however far the head advances;
  *      dropTag releases the pin; stale-incarnation tags pin nothing
  *      and read loudly;
  *  (e) versionAsOf/readAsOf resolve the newest commit at-or-before a
  *      wall-clock instant.
  * The `x` tables are [[KeyedFixture]]'s. */
class SnapshotSpec extends SparkSpec {

  private lazy val s = spark
  import s.implicits._
  import KeyedFixture.{append, overwrite}

  private val P = 4

  private def ap(uid: Long, id: Long, t: Long, v: Double,
      del: Boolean = false) =
    CdcApplied(uid, id, new Timestamp(t), v, del)

  private def freshRoot(): String =
    Files.createTempDirectory("graft-snap").toString

  private def manifestTxt(root: String, v: Int): String =
    Files.readString(Paths.get(root, "_versions", f"v$v%08d.json"))

  private def dataDirs(root: String): Set[String] = {
    val d = Paths.get(root, "data")
    if (!Files.isDirectory(d)) return Set.empty
    val s = Files.list(d)
    try s.iterator.asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }

  test("restore republishes an old snapshot without moving a byte") {
    val root = freshRoot()
    overwrite(Seq(1, 2, 3).toDF("x"), root)
    overwrite(Seq(99).toDF("x"), root)
    val before = dataDirs(root)
    val v3 = VersionedTable.restore(spark, root, 1)
    assert(v3 == 3, "restore must move history FORWARD")
    // metadata-only: no staged dir, the manifest re-references v1's
    assert(dataDirs(root) == before)
    assert(VersionedTable.read(spark, root).as[Int].collect().sorted
      === Array(1, 2, 3))
    // the abandoned commit stays readable for forensics
    assert(VersionedTable.readAt(spark, root, 2).as[Int].collect()
      === Array(99))
    // restoring a version that never existed / was expired is loud
    intercept[IllegalArgumentException] {
      VersionedTable.restore(spark, root, 7)
    }
  }

  test("partitioned restore: layout re-stamped, chain cut, feed is the inverse delta") {
    val root = freshRoot()
    val target = new PartitionedTableCdcTarget(spark, root, P)
    target.merge(0, (1L to 40L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    val good = VersionedTable.versions(root).last
    // the bad batch: clobber key 5 (one partition touched)
    target.merge(1, Seq(ap(5L, 500L, 99000L, -999.0)).toDS())
    val bad = VersionedTable.versions(root).last

    val restored = VersionedTable.restore(spark, root, good)
    assert(restored == bad + 1)
    // a restore is a checkpoint: full manifest, no base pointer
    assert(!manifestTxt(root, restored).contains("\"base\":"))
    // layout re-stamped from the target version
    assert(VersionedTable.partCount(root).contains(P))
    val snap = target.snapshot.as[CdcApplied].collect()
      .map(r => r.user_id -> r.value).toMap
    assert(snap(5L) == 5.0, "restore must revert the bad merge")
    assert(snap.size == 40)

    // change feed across the restore: exactly the inverse of the bad
    // merge — one row, the reverted key, no phantoms from the 39
    // untouched keys
    val feed = VersionedTable.changes(spark, root, bad, restored, "user_id")
      .collect()
    assert(feed.length == 1)
    assert(feed.head.getAs[Long]("user_id") == 5L)
    assert(feed.head.getAs[Double]("value") == 5.0)
    assert(feed.head.getAs[String]("_change_type") == "update")

    // and the feed across (good, restored) is EMPTY — content-equal
    // versions produce zero phantom changes even through a restore
    assert(VersionedTable.changes(spark, root, good, restored, "user_id")
      .count() == 0)
  }

  test("restore flips a later rescale back: stale-layout writers restage") {
    val root = freshRoot()
    val target = new PartitionedTableCdcTarget(spark, root, P)
    target.merge(0, (1L to 40L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    val preRescale = VersionedTable.versions(root).last
    VersionedTable.rescalePartitions(spark, root, "user_id", P * 2)
    assert(VersionedTable.partCount(root).contains(P * 2))

    VersionedTable.restore(spark, root, preRescale)
    assert(VersionedTable.partCount(root).contains(P),
      "restore must re-stamp the RESTORED version's partition count")
    // a writer still staged under the post-rescale count must restage,
    // the same PartitionCountChanged guard a live rescale race uses
    val staged = VersionedTable.stagePartitioned(
      Seq(ap(7L, 700L, 98000L, 7.5)).toDS().toDF()
        .withColumn(VersionedTable.PidCol,
          VersionedTable.keyPid("user_id", P * 2)),
      root, VersionedTable.PidCol)
    intercept[VersionedTable.PartitionCountChanged] {
      VersionedTable.commitPartitionsOnce(staged, root,
        VersionedTable.versions(root).last, nParts = Some(P * 2))
    }
    // restaged under the restored count, the merge lands
    target.merge(1, Seq(ap(7L, 700L, 98000L, 7.5)).toDS())
    assert(target.snapshot.as[CdcApplied].collect()
      .find(_.user_id == 7L).get.value == 7.5)
  }

  test("retention after a restore keeps re-referenced dirs, reclaims the abandoned head") {
    val root = freshRoot()
    overwrite(Seq(1, 2).toDF("x"), root)
    overwrite(Seq(99, 100).toDF("x"), root)
    VersionedTable.restore(spark, root, 1)
    VersionedTable.expire(root, keepLast = 1)
    assert(VersionedTable.versions(root) == Seq(3))
    val vacuumed = VersionedTable.vacuum(root, graceMillis = 0)
    assert(vacuumed.size == 1,
      s"exactly the abandoned overwrite's dir reclaims, got $vacuumed")
    // v1's dirs survive: the restore head still references them
    assert(VersionedTable.read(spark, root).as[Int].collect().sorted
      === Array(1, 2))
  }

  test("a tag pins its version and delta chain through expire and vacuum") {
    val root = freshRoot()
    val target = new PartitionedTableCdcTarget(spark, root, P)
    target.merge(0, (1L to 40L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    // a few delta commits so the tagged version sits MID-CHAIN: the
    // pin must retain its resolution ancestry, not just its own file
    for (b <- 1 to 3)
      target.merge(b.toLong, Seq(ap(b.toLong, 100L + b, 90000L + b,
        -b.toDouble)).toDS())
    val tagged = VersionedTable.versions(root).last
    assert(manifestTxt(root, tagged).contains("\"base\":"),
      "test setup: the tagged version must be a delta")
    assert(VersionedTable.tag(root, "release-1") == tagged)

    // drive the head past the tag AND past a chain checkpoint, so
    // expire's floor rises ABOVE the tagged version — without the pin
    // the tag (and its ancestry) would be dropped here
    for (b <- 4 to 20)
      target.merge(b.toLong, Seq(ap(b.toLong, 200L + b, 95000L + b,
        b * 10.0)).toDS())
    VersionedTable.expire(root, keepLast = 1)
    VersionedTable.vacuum(root, graceMillis = 0)

    // the tagged snapshot still reads EXACTLY (chain root..tag kept)
    val pinned = VersionedTable.readAtTag(spark, root, "release-1")
      .as[CdcApplied].collect().map(r => r.user_id -> r.value).toMap
    assert(pinned.size == 40)
    (1L to 3L).foreach(k => assert(pinned(k) == -k))
    (4L to 40L).foreach(k => assert(pinned(k) == k))
    val kept = VersionedTable.versions(root)
    assert(kept.contains(tagged))
    assert(kept.min < tagged,
      "the tag's chain ancestry must be retained too")
    assert(!kept.contains(tagged + 1),
      "unpinned versions between the tag and the floor must expire — " +
        s"retained $kept means the floor never rose and the pin was " +
        "not exercised")

    // tags are immutable references; re-pointing is drop + re-tag
    intercept[IllegalStateException] {
      VersionedTable.tag(root, "release-1")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.tag(root, "nope", 9999)
    }

    // dropTag releases the pin: the next maintenance pass reclaims
    assert(VersionedTable.dropTag(root, "release-1"))
    VersionedTable.expire(root, keepLast = 1)
    VersionedTable.vacuum(root, graceMillis = 0)
    assert(!VersionedTable.versions(root).contains(tagged))
    intercept[IllegalArgumentException] {
      VersionedTable.readAtTag(spark, root, "release-1")
    }
  }

  test("restoreTag recovers a pinned release by name") {
    val root = freshRoot()
    overwrite(Seq(1, 2).toDF("x"), root)
    VersionedTable.tag(root, "golden")
    append(Seq(3).toDF("x"), root)
    overwrite(Seq(4).toDF("x"), root)
    VersionedTable.restoreTag(spark, root, "golden")
    assert(VersionedTable.read(spark, root).as[Int].collect().sorted
      === Array(1, 2))
    intercept[IllegalStateException] {
      VersionedTable.restoreTag(spark, root, "no-such-tag")
    }
  }

  test("a stale tag from a previous incarnation pins nothing and reads loudly") {
    val root = freshRoot()
    overwrite(Seq(1).toDF("x"), root)
    VersionedTable.tag(root, "v1")
    // delete-and-recreate the table DATA but keep the _tags dir (the
    // operator nuked the table, the tag registry survived)
    def wipe(p: Path): Unit = {
      val w = Files.walk(p)
      val files = try w.iterator.asScala.toSeq.reverse finally w.close()
      files.foreach(Files.delete)
    }
    wipe(Paths.get(root, "_versions")); wipe(Paths.get(root, "data"))
    VersionedTable.invalidateTxns(root)
    overwrite(Seq(100, 200).toDF("x"), root)

    // the stale tag is excluded from the incarnation's tag set and
    // must not resolve against the new table's version numbers
    assert(VersionedTable.tags(root).isEmpty)
    intercept[IllegalStateException] {
      VersionedTable.readAtTag(spark, root, "v1")
    }
    // and it pins nothing: retention proceeds as if untagged
    overwrite(Seq(300).toDF("x"), root)
    VersionedTable.expire(root, keepLast = 1)
    assert(VersionedTable.versions(root).size == 1)
  }

  test("restore rewinds an evolving table's schema with its data; the self-heal re-widens") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{SchemaEvolution, TableEvolvingCdcTarget}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val root = freshRoot()
    val t1 = new TableEvolvingCdcTarget(spark, root, numPartitions = P)
    val in1 = MemoryStream[String]
    val checkpoint = Files.createTempDirectory("graft_snapevo").toString
    val q1 = SchemaEvolution.mergeEvolvingJson(in1.toDS(), t1, checkpoint,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
    val preWiden =
      try {
        in1.addData("""{"user_id":1,"event_id":1,"ts":1000,"v":1.5}""")
        q1.processAllAvailable()
        val v = VersionedTable.versions(root).last
        // the drifted batch widens schema AND data in one commit
        in1.addData("""{"user_id":2,"event_id":2,"ts":2000,"note":"n1"}""")
        q1.processAllAvailable()
        assert(t1.schema.get.fieldNames.contains("note"))
        v
      } finally q1.stop()

    // restore to the pre-widen version: schema and data rewind as ONE
    // unit — the manifest IS both
    VersionedTable.restore(spark, root, preWiden)
    assert(!VersionedTable.read(spark, root).columns.contains("note"))

    // a restarted writer reloads the RESTORED (narrow) schema from
    // the table itself, exactly the crash-restart contract
    val t2 = new TableEvolvingCdcTarget(spark, root, numPartitions = P)
    assert(t2.schema.get.fieldNames.toSet ==
      Set("user_id", "event_id", "ts", "v"))

    // and the self-heal is not torn: the same drift arriving again
    // re-widens cleanly, pre-widen rows serving the column as NULL.
    // The restart reuses the SAME source + checkpoint (that is what a
    // restart is — it keeps the manifest txn ids monotone; a fresh
    // checkpoint would replay ids from 0 and the txn guard would
    // rightly skip them as redeliveries)
    val q2 = SchemaEvolution.mergeEvolvingJson(in1.toDS(), t2, checkpoint,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
    try {
      in1.addData("""{"user_id":3,"event_id":3,"ts":3000,"note":"n2"}""")
      q2.processAllAvailable()
    } finally q2.stop()
    val rows = t2.snapshot.collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Any]("note")).toMap
    assert(rows == Map(1L -> null, 3L -> "n2"),
      "post-restore drift must re-widen; the restored row serves NULL")
  }

  test("maintain() honors tag pins end-to-end") {
    val root = freshRoot()
    val target = new PartitionedTableCdcTarget(spark, root, P)
    target.merge(0, (1L to 20L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    VersionedTable.tag(root, "golden")
    val tagged = VersionedTable.versions(root).last
    for (b <- 1 to 18) // past a checkpoint, so the floor rises
      target.merge(b.toLong, Seq(ap(b.toLong, 300L + b, 95000L + b,
        -b.toDouble)).toDS())
    // the one-call maintenance pass (what the managed loop runs):
    // retention + vacuum must leave the pinned snapshot fully readable
    VersionedTable.maintain(spark, root, "user_id",
      keepLast = 1, vacuumGraceMillis = 0)
    val pinned = VersionedTable.readAtTag(spark, root, "golden")
      .as[CdcApplied].collect().map(r => r.user_id -> r.value).toMap
    assert(pinned == (1L to 20L).map(k => k -> k.toDouble).toMap)
    assert(VersionedTable.versions(root).contains(tagged))
  }

  test("tag-name and identity guards refuse the silent-dead-pin shapes") {
    val root = freshRoot()
    overwrite(Seq(1).toDF("x"), root)
    // a leading-dot name would be skipped by tags() (dotfiles are
    // temp space) — created-but-pinning-nothing must be refused
    intercept[IllegalArgumentException] {
      VersionedTable.tag(root, ".release")
    }
    // identity-less legacy history: the NEXT commit mints an id and
    // the pin would silently die — refuse at creation
    val v1 = Paths.get(root, "_versions", f"v${1}%08d.json")
    Files.writeString(v1, Files.readString(v1)
      .replaceAll("\"tableid\":\"[0-9a-f-]+\",", ""))
    VersionedTable.invalidateTxns(root)
    val e = intercept[IllegalStateException] {
      VersionedTable.tag(root, "legacy")
    }
    assert(e.getMessage.contains("no incarnation identity"))
  }

  test("expire's condemn protocol: crash recovery resurrects, vacuum keeps condemned dirs") {
    val root = freshRoot()
    overwrite(Seq(1, 2).toDF("x"), root)
    overwrite(Seq(3, 4).toDF("x"), root)
    overwrite(Seq(5).toDF("x"), root)

    // simulate a pass that died between condemn and verdict
    val live = Paths.get(root, "_versions", f"v${1}%08d.json")
    val condemned = Paths.get(root, "_versions", f".condemn-v${1}%08d.json")
    Files.move(live, condemned)
    assert(VersionedTable.versions(root) == Seq(2, 3),
      "a condemned manifest must leave the listing")

    // a vacuum racing the condemned window must treat its dirs as
    // live — the pass may restore them
    val reclaimed = VersionedTable.vacuum(root, graceMillis = 0)
    assert(reclaimed.isEmpty,
      s"vacuum reclaimed a condemned version's dirs: $reclaimed")

    // the next expire resurrects the leftover, then applies its own
    // verdict (keepLast=3 retains everything here)
    assert(VersionedTable.expire(root, keepLast = 3).isEmpty)
    assert(VersionedTable.versions(root) == Seq(1, 2, 3))
    assert(VersionedTable.readAt(spark, root, 1).as[Int].collect().sorted
      === Array(1, 2))

    // and a real expire still drops it once unpinned
    assert(VersionedTable.expire(root, keepLast = 1) == Seq(1, 2))
  }

  test("timestamp time travel resolves the newest commit at-or-before") {
    val root = freshRoot()
    overwrite(Seq(1).toDF("x"), root)
    val t1 = VersionedTable.commitTime(root, 1)
    Thread.sleep(5)
    append(Seq(2).toDF("x"), root)
    val t2 = VersionedTable.commitTime(root, 2)
    assert(t1 <= t2, "commit stamps must be monotonic")

    assert(VersionedTable.versionAsOf(root, t1).contains(1))
    assert(VersionedTable.versionAsOf(root, t2).contains(2))
    assert(VersionedTable.versionAsOf(root, t1 - 1).isEmpty)
    assert(VersionedTable.readAsOf(spark, root, t1).as[Int].collect()
      === Array(1))
    assert(VersionedTable.readAsOf(spark, root, System.currentTimeMillis())
      .as[Int].collect().sorted === Array(1, 2))
    intercept[IllegalStateException] {
      VersionedTable.readAsOf(spark, root, t1 - 1)
    }
  }

  test("commit stamps clamp to the previous manifest under clock step-back") {
    // ADVICE r15: an NTP step-back (or cross-host skew on a shared
    // filesystem) must not produce out-of-order ts stamps — simulate
    // by hand-editing v1's stamp into the far future, then committing
    // v2 with the (older) real clock. The clamp keeps versionAsOf
    // resolving the NEWEST version at-or-before any instant.
    val root = freshRoot()
    overwrite(Seq(1).toDF("x"), root)
    val f = Paths.get(root, "_versions", "v00000001.json")
    val future = System.currentTimeMillis() + 3600L * 1000
    Files.writeString(f, Files.readString(f)
      .replaceAll("\"ts\":\\d+", s""""ts":$future"""))
    append(Seq(2).toDF("x"), root)
    val t1 = VersionedTable.commitTime(root, 1)
    val t2 = VersionedTable.commitTime(root, 2)
    assert(t1 === future)
    assert(t2 >= t1, "v2's stamp must clamp to v1's skewed stamp")
    assert(VersionedTable.versionAsOf(root, t2).contains(2))
  }

  test("history surfaces a newer-format manifest as a row, not a throw") {
    // ADVICE r15: the DESCRIBE HISTORY analog must stay readable in
    // exactly the mixed-version-writer incident mverGuard detects —
    // forge a future-format manifest as the head and list.
    val root = freshRoot()
    overwrite(Seq(1).toDF("x"), root)
    val v2 = Paths.get(root, "_versions", "v00000002.json")
    Files.writeString(v2,
      s"""{"version":2,"op":"append_log","mver":99,"ts":${System
        .currentTimeMillis()},"wkind":"batch","kinds":"batch","parts":{}}""")
    val rows = VersionedTable.history(spark, root)
      .select("version", "op").as[(Int, String)].collect().toMap
    assert(rows(1) === "overwrite_parts")
    assert(rows(2) === "unreadable:mver=99")
    // the data readers still refuse the future format loudly
    intercept[IllegalStateException] {
      VersionedTable.readAt(spark, root, 2).collect()
    }
  }
}
