package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sources.VersionedTable

/** Table→table replication over the change feed:
  *  (a) each tick converges the destination to the source snapshot,
  *      with the manifest-txn cursor making replays whole-batch
  *      no-ops and a fresh follower (crash-restart) resuming from the
  *      destination's own manifests;
  *  (b) an upstream compaction advances the cursor with a
  *      metadata-only commit (no data motion, no divergence);
  *  (c) a true row removal propagates — including a partition whose
  *      every key was deleted (the dropParts seam);
  *  (d) an upstream schema widen replicates: the destination's
  *      manifest schema follows the source's;
  *  (e) an expired-cursor follower auto-re-bootstraps;
  *  (f) an upstream RESTORE replicates like any commit — the tick
  *      applies its inverse delta and the replica converges — while a
  *      restore aimed at the DESTINATION is refused as a foreign
  *      write (restore the source, not the replica). */
class TableFollowerSpec extends SparkSpec {

  private lazy val s = spark
  import s.implicits._

  private val P = 8

  private def ap(uid: Long, id: Long, t: Long, v: Double,
      del: Boolean = false) =
    CdcApplied(uid, id, new Timestamp(t), v, del)

  private def freshRoot(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def byKey(df: org.apache.spark.sql.DataFrame): Map[Long, CdcApplied] =
    df.as[CdcApplied].collect().map(r => r.user_id -> r).toMap

  test("ticks converge, replays no-op, a reborn follower resumes") {
    val src = freshRoot("tf-src"); val dst = freshRoot("tf-dst")
    val upstream = new PartitionedTableCdcTarget(spark, src, P)
    val follower = new TableFollower(spark, src, dst, "user_id", P)

    assert(follower.tick().isEmpty, "empty source must not tick")

    upstream.merge(0, (1L to 30L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    assert(follower.tick().isDefined)
    assert(byKey(follower.snapshot) == byKey(VersionedTable.read(spark, src)))

    // two upstream batches, ONE tick: the window coalesces
    upstream.merge(1, Seq(ap(5, 100, 90000, 5.5)).toDS())
    upstream.merge(2, Seq(ap(31, 101, 90001, 31.0)).toDS())
    val w = follower.tick()
    assert(w.isDefined && follower.tick().isEmpty,
      "caught-up follower must not tick again")
    assert(byKey(follower.snapshot) == byKey(VersionedTable.read(spark, src)))

    // crash-restart: a FRESH follower's cursor comes from the
    // destination's manifests; nothing re-applies
    val reborn = new TableFollower(spark, src, dst, "user_id", P)
    val vBefore = VersionedTable.versions(dst).size
    assert(reborn.cursor == VersionedTable.versions(src).last)
    assert(reborn.tick().isEmpty)
    assert(VersionedTable.versions(dst).size == vBefore)

    // and it keeps following
    upstream.merge(3, Seq(ap(7, 102, 95000, 7.7)).toDS())
    assert(reborn.tick().isDefined)
    assert(byKey(reborn.snapshot)(7L).value == 7.7)
  }

  test("upstream compaction advances the cursor without data motion") {
    val src = freshRoot("tf-src2"); val dst = freshRoot("tf-dst2")
    val upstream = new PartitionedTableCdcTarget(spark, src, P)
    val follower = new TableFollower(spark, src, dst, "user_id", P)
    upstream.merge(0, (1L to 20L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    follower.tick()
    val partsBefore = VersionedTable.parts(dst)

    assert(VersionedTable.compactPartitions(spark, src,
      maxFilesPerPart = 0).nonEmpty)
    assert(follower.tick().isDefined, "compaction version must tick")
    assert(VersionedTable.parts(dst) == partsBefore,
      "a data-identical upstream window moved destination data")
    assert(follower.cursor == VersionedTable.versions(src).last)
    assert(byKey(follower.snapshot) == byKey(VersionedTable.read(spark, src)))
  }

  test("row removal propagates, including a fully-emptied partition") {
    val src = freshRoot("tf-src3"); val dst = freshRoot("tf-dst3")
    def stage(rows: Seq[(Long, Double)]): Map[String, String] =
      VersionedTable.stagePartitioned(
        rows.toDF("id", "v").withColumn("pid", pmod(hash(col("id")), lit(P))),
        src, "pid")
    // key 1 sits alone in its partition: deleting it EMPTIES the pid
    val lonely = 1L
    val others = (2L to 12L).map(k => k -> k.toDouble)
    VersionedTable.commitPartitions(
      stage((lonely -> 1.0) +: others), src, batchId = 0)
    val follower = new TableFollower(spark, src, dst, "id", P)
    follower.tick()
    assert(follower.snapshot.count() == 12)

    // overwrite upstream WITHOUT the lonely key and with one update
    VersionedTable.commitPartitions(
      stage(others.map { case (k, v) => if (k == 2L) k -> 2.5 else k -> v }),
      src, batchId = 1, overwriteAll = true)
    follower.tick()
    val got = follower.snapshot.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("v")).toMap
    assert(!got.contains(lonely), "deleted key resurrected in the follower")
    assert(got(2L) == 2.5 && got.size == 11)
  }

  test("schema widen replicates; expired cursor re-bootstraps") {
    val src = freshRoot("tf-src4"); val dst = freshRoot("tf-dst4")
    val upstream = new TableEvolvingCdcTarget(spark, src, numPartitions = P)
    upstream.addColumns(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("ts", LongType), StructField("v", DoubleType)))
    upstream.merge(0, (1L to 10L).map(k => (k, k, 1000 + k, k / 2.0))
      .toDF("user_id", "event_id", "ts", "v"))
    val follower = new TableFollower(spark, src, dst, "user_id", P)
    follower.tick()

    upstream.addColumns(Seq(StructField("note", StringType)))
    upstream.merge(1, Seq((11L, 11L, 9000L, 11.0, "n11"))
      .toDF("user_id", "event_id", "ts", "v", "note"))
    follower.tick()
    val dstSchema = VersionedTable.manifestSchema(spark, dst,
      VersionedTable.versions(dst).last)
    assert(dstSchema.map(_.fieldNames.toSet)
      .contains(Set("user_id", "event_id", "ts", "v", "note")),
      s"widen did not replicate: $dstSchema")
    val snap = follower.snapshot.collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(snap(11L).getAs[String]("note") == "n11" &&
      snap(1L).getAs[Any]("note") == null)

    // expire the cursor version upstream → the next tick re-bootstraps.
    // r14 delta chains floor retention at the chain root, so force a
    // CHECKPOINT first (compaction) — only then does expire actually
    // drop the cursor version and exercise the bootstrap path
    val cursorV = follower.cursor
    upstream.merge(2, Seq((1L, 99L, 99000L, 1.9, "n1"))
      .toDF("user_id", "event_id", "ts", "v", "note"))
    VersionedTable.compactPartitions(spark, src, maxFilesPerPart = 0)
    VersionedTable.expire(src, keepLast = 1)
    assert(!VersionedTable.versions(src).contains(cursorV),
      "precondition: the cursor version must really be expired")
    assert(follower.tick().isDefined, "expired cursor must re-bootstrap")
    assert(follower.snapshot.collect().map(r =>
      r.getAs[Long]("user_id") -> r).toMap
      .apply(1L).getAs[String]("note") == "n1")
    assert(follower.tick().isEmpty)
  }

  test("a foreign txn on the destination makes the next tick throw") {
    val src = freshRoot("tf-src5"); val dst = freshRoot("tf-dst5")
    val upstream = new PartitionedTableCdcTarget(spark, src, P)
    val follower = new TableFollower(spark, src, dst, "user_id", P)
    upstream.merge(0, (1L to 10L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    follower.tick()

    // a CdcTarget-style plain batch id committed to the FOLLOWED
    // destination (the ADVICE r12 scenario: shared txn space used to
    // silently skip replication windows) — must now be loud (the
    // provenance net fires first: the commit stamped wkind=batch)
    VersionedTable.commitPartitions(Map.empty, dst, batchId = 7)
    upstream.merge(1, Seq(ap(2, 100, 90000, 2.2)).toDS())
    val e = intercept[IllegalStateException] { follower.tick() }
    assert(e.getMessage.contains("foreign writer kind"), e.getMessage)
  }

  test("a follower-SHAPED foreign txn (≥ 2³²) is refused by provenance") {
    val src = freshRoot("tf-src5b"); val dst = freshRoot("tf-dst5b")
    val upstream = new PartitionedTableCdcTarget(spark, src, P)
    val follower = new TableFollower(spark, src, dst, "user_id", P)
    upstream.merge(0, (1L to 10L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    follower.tick()

    // VERDICT r13 item 1: a foreign writer choosing a huge batch id
    // used to be indistinguishable from prior-incarnation follower
    // history and slipped the txn-shape net — the wkind stamp makes
    // it loud regardless of the id it picked
    VersionedTable.commitPartitions(Map.empty, dst,
      batchId = (77L << 32) | 5L)
    upstream.merge(1, Seq(ap(2, 100, 90000, 2.2)).toDS())
    val e = intercept[IllegalStateException] { follower.tick() }
    assert(e.getMessage.contains("foreign writer kind"), e.getMessage)

    // the net is EXPIRY-PROOF: retention can drop the foreign commit's
    // own manifest before any cold reader scans it, but the kind it
    // contributed is carried forward by every later manifest (like
    // tableid) — a fresh JVM (cold memo) still refuses
    VersionedTable.compactPartitions(spark, dst, maxFilesPerPart = 0)
    VersionedTable.expire(dst, keepLast = 1)
    assert(VersionedTable.versions(dst).size == 1,
      "precondition: the foreign commit's manifest must be expired")
    VersionedTable.invalidateTxns(dst) // simulate a cold reader
    val e2 = intercept[IllegalStateException] { follower.tick() }
    assert(e2.getMessage.contains("foreign writer kind"), e2.getMessage)

    // MIGRATION boundary: a destination whose manifests predate the
    // cumulative-kinds carry (strip the field to forge the old
    // format) must fold the retained history into the FIRST carried
    // commit — else a pre-carry foreign commit older than the parent
    // vanishes from the carry and expiry reopens the hole
    val src3 = freshRoot("tf-src5d"); val dst3 = freshRoot("tf-dst5d")
    val up3 = new PartitionedTableCdcTarget(spark, src3, P)
    val f3 = new TableFollower(spark, src3, dst3, "user_id", P)
    up3.merge(0, (1L to 10L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    f3.tick()
    VersionedTable.commitPartitions(Map.empty, dst3,
      batchId = (91L << 32) | 2L) // foreign, follower-shaped id
    for (v <- VersionedTable.versions(dst3)) {
      val mf = java.nio.file.Paths.get(dst3, "_versions", f"v$v%08d.json")
      Files.writeString(mf, Files.readString(mf)
        .replaceAll("\"kinds\":\"[^\"]*\",", ""))
    }
    VersionedTable.invalidateTxns(dst3)
    // first post-migration commit: maintenance (also the checkpoint
    // that lets retention drop the foreign manifest itself)
    VersionedTable.compactPartitions(spark, dst3, maxFilesPerPart = 0)
    VersionedTable.expire(dst3, keepLast = 1)
    assert(VersionedTable.versions(dst3).size == 1,
      "precondition: pre-carry history incl. the foreign commit expired")
    VersionedTable.invalidateTxns(dst3) // cold reader
    up3.merge(1, Seq(ap(3, 102, 90002, 3.3)).toDS())
    val e3 = intercept[IllegalStateException] { f3.tick() }
    assert(e3.getMessage.contains("foreign writer kind"), e3.getMessage)

    // ...and replica MAINTENANCE stays sanctioned: on a healthy
    // follower pair, compacting the destination must not trip the net
    val src2 = freshRoot("tf-src5c"); val dst2 = freshRoot("tf-dst5c")
    val up2 = new PartitionedTableCdcTarget(spark, src2, P)
    val f2 = new TableFollower(spark, src2, dst2, "user_id", P)
    up2.merge(0, (1L to 10L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    f2.tick()
    VersionedTable.compactPartitions(spark, dst2, maxFilesPerPart = 0)
    up2.merge(1, Seq(ap(3, 101, 90001, 3.3)).toDS())
    assert(f2.tick().isDefined, "maintenance on the replica must not " +
      "be mistaken for a foreign writer")
    assert(byKey(f2.snapshot) == byKey(VersionedTable.read(spark, src2)))
  }

  test("a destination with non-follower history refuses to be followed") {
    val src = freshRoot("tf-src6"); val dst = freshRoot("tf-dst6")
    new PartitionedTableCdcTarget(spark, src, P)
      .merge(0, Seq(ap(1, 1, 1000, 1.0)).toDS())
    // txn-LESS foreign commit: invisible to committedTxns, caught by
    // the provenance check instead
    val s2 = spark; import s2.implicits._
    VersionedTable.commitPartitionsOnce(VersionedTable.stagePartitioned(
      Seq(1L).toDF("user_id")
        .withColumn(VersionedTable.PidCol, VersionedTable.keyPid("user_id", P)),
      dst, VersionedTable.PidCol), dst, expected = 0, nParts = Some(P))
    val follower = new TableFollower(spark, src, dst, "user_id", P)
    val e = intercept[IllegalStateException] { follower.tick() }
    assert(e.getMessage.contains("no follower provenance"), e.getMessage)
  }

  test("upstream deleted-and-recreated: re-bootstrap, not wedge/garbage") {
    val src = freshRoot("tf-src7"); val dst = freshRoot("tf-dst7")
    val up1 = new PartitionedTableCdcTarget(spark, src, P)
    up1.merge(0, (1L to 20L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    up1.merge(1, Seq(ap(2, 100, 90000, 2.2)).toDS())
    up1.merge(2, Seq(ap(3, 101, 90001, 3.3)).toDS())
    val follower = new TableFollower(spark, src, dst, "user_id", P)
    follower.tick()
    assert(follower.cursor == 3)

    // nuke and recreate the upstream root: NEW incarnation, new
    // tableId; its head (1) is BELOW the recorded cursor (3) — the
    // old follower wedged forever here, and with overlapping version
    // numbers it applied a cross-incarnation garbage delta
    def rmTree(p: java.nio.file.Path): Unit = {
      val w = Files.walk(p)
      val files = try w.iterator.asScala.toSeq.reverse finally w.close()
      files.foreach(Files.delete)
    }
    rmTree(Paths.get(src))
    VersionedTable.invalidateTxns(src)
    val up2 = new PartitionedTableCdcTarget(spark, src, P)
    up2.merge(0, (100L to 104L).map(k => ap(k, k, 5000 + k, -k.toDouble)).toDS())

    val w = follower.tick()
    assert(w.contains((0, 1)), s"expected identity re-bootstrap, got $w")
    assert(byKey(follower.snapshot) == byKey(VersionedTable.read(spark, src)),
      "replica diverged after upstream recreation")
    // and normal incremental replication resumes under the new identity
    up2.merge(1, Seq(ap(100, 200, 99000, 100.5)).toDS())
    assert(follower.tick().isDefined && follower.tick().isEmpty)
    assert(byKey(follower.snapshot)(100L).value == 100.5)
  }

  test("a restored prior identity re-bootstraps even over a burnt txn") {
    // era A replicated through head 2 → dst holds nsTxn_A(2); an
    // interloper table B lives at the path for a while (follower
    // re-bootstraps to B); then A is RESTORED FROM BACKUP at the same
    // head. The txn-dedup guard would skip A's re-bootstrap (its txn
    // is burnt from era 1) and the replica would keep serving B's
    // rows while tick() reports success — the forced identity
    // bootstrap exists for exactly this.
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      val w = Files.walk(from)
      val all = try w.iterator.asScala.toSeq finally w.close()
      all.foreach { p =>
        val t = to.resolve(from.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else { Files.createDirectories(t.getParent); Files.copy(p, t) }
      }
    }
    def rmTree(p: java.nio.file.Path): Unit = {
      val w = Files.walk(p)
      val files = try w.iterator.asScala.toSeq.reverse finally w.close()
      files.foreach(Files.delete)
    }
    val src = freshRoot("tf-era-src"); val dst = freshRoot("tf-era-dst")
    val eraA = new PartitionedTableCdcTarget(spark, src, P)
    eraA.merge(0, (1L to 10L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    eraA.merge(1, Seq(ap(3, 100, 90000, 3.3)).toDS())
    val follower = new TableFollower(spark, src, dst, "user_id", P)
    follower.tick()
    val aSnapshot = byKey(VersionedTable.read(spark, src))
    val backup = Files.createTempDirectory("tf-era-backup")
    copyTree(Paths.get(src), backup)

    // interloper era B at the same path
    rmTree(Paths.get(src)); VersionedTable.invalidateTxns(src)
    new PartitionedTableCdcTarget(spark, src, P)
      .merge(0, (100L to 110L).map(k => ap(k, k, 5000 + k, -k.toDouble)).toDS())
    follower.tick()
    assert(byKey(follower.snapshot).contains(100L), "B never replicated")

    // restore era A from backup: same tableId, same head, burnt txn
    rmTree(Paths.get(src)); copyTree(backup, Paths.get(src))
    VersionedTable.invalidateTxns(src)
    assert(follower.tick().isDefined)
    assert(byKey(follower.snapshot) == aSnapshot,
      "replica still serves the interloper's rows after A's restore")
    assert(VersionedTable.followSrc(dst) == VersionedTable.tableId(src))
    assert(follower.tick().isEmpty)
  }

  test("replica chains: a follower's destination can itself be followed") {
    val src = freshRoot("tf-chain-src")
    val mid = freshRoot("tf-chain-mid")
    val leaf = freshRoot("tf-chain-leaf")
    val upstream = new PartitionedTableCdcTarget(spark, src, P)
    val hop1 = new TableFollower(spark, src, mid, "user_id", P)
    val hop2 = new TableFollower(spark, mid, leaf, "user_id", P)

    upstream.merge(0, (1L to 15L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    hop1.tick(); hop2.tick()
    assert(byKey(VersionedTable.read(spark, leaf)) ==
      byKey(VersionedTable.read(spark, src)))

    // an update flows hop by hop; each hop's replay is a no-op
    upstream.merge(1, Seq(ap(7, 100, 90000, 7.7)).toDS())
    assert(hop2.tick().isEmpty, "leaf must see nothing before mid ticks")
    assert(hop1.tick().isDefined && hop1.tick().isEmpty)
    assert(hop2.tick().isDefined && hop2.tick().isEmpty)
    assert(byKey(hop2.snapshot)(7L).value == 7.7)
    assert(byKey(hop2.snapshot) == byKey(VersionedTable.read(spark, src)))

    // the two hops' cursors are independent namespaces: mid carries
    // hop1's txns AND its own identity for hop2 without collision
    assert(VersionedTable.followSrc(mid) ==
      VersionedTable.tableId(src))
    assert(VersionedTable.followSrc(leaf) ==
      VersionedTable.tableId(mid))
  }

  test("a destination-side rescale is adopted by the next tick") {
    val src = freshRoot("tf-src9"); val dst = freshRoot("tf-dst9")
    val upstream = new PartitionedTableCdcTarget(spark, src, P)
    val follower = new TableFollower(spark, src, dst, "user_id", P)
    upstream.merge(0, (1L to 30L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    follower.tick()

    // the replica fattened: rescale IT (its maintenance is independent
    // of the source's partition count)
    VersionedTable.rescalePartitions(spark, dst, "user_id", P * 4)
    upstream.merge(1, Seq(ap(5, 100, 90000, 5.5)).toDS())
    assert(follower.tick().isDefined)
    assert(VersionedTable.partCount(dst).contains(P * 4),
      "the follower's merge must not regress the destination's count")
    assert(byKey(follower.snapshot) == byKey(VersionedTable.read(spark, src)))
  }

  test("a destination rescale racing a tick restages under the new count") {
    val src = freshRoot("tf-src10"); val dst = freshRoot("tf-dst10")
    val upstream = new PartitionedTableCdcTarget(spark, src, P)
    val follower = new TableFollower(spark, src, dst, "user_id", P)
    upstream.merge(0, (1L to 25L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    follower.tick()

    upstream.merge(1, Seq(ap(9, 100, 90000, 9.9)).toDS())
    var fired = false
    follower.beforeCommit = () => if (!fired) {
      fired = true
      VersionedTable.rescalePartitions(spark, dst, "user_id", P * 4)
    }
    assert(follower.tick().isDefined)
    assert(fired, "the race seam never ran")
    assert(VersionedTable.partCount(dst).contains(P * 4),
      "the restaged tick must adopt the rescaled count, not regress it")
    assert(byKey(follower.snapshot) == byKey(VersionedTable.read(spark, src)))
    // and the tick is not double-applied: the window is committed once
    assert(follower.tick().isEmpty)
  }

  test("an in-namespace cursor beyond the source head throws") {
    val src = freshRoot("tf-src8"); val dst = freshRoot("tf-dst8")
    val upstream = new PartitionedTableCdcTarget(spark, src, P)
    upstream.merge(0, Seq(ap(1, 1, 1000, 1.0)).toDS())
    val follower = new TableFollower(spark, src, dst, "user_id", P)
    follower.tick()
    val head = VersionedTable.versions(src).last
    // forge a future-version follower txn (same namespace, same
    // recorded source id, follower-stamped provenance — i.e. NOT
    // explainable by recreation or a foreign writer)
    VersionedTable.commitPartitions(Map.empty, dst,
      batchId = (follower.namespace << 32) | (head + 5).toLong,
      followSrc = VersionedTable.followSrc(dst),
      writerKind = VersionedTable.KindFollower)
    upstream.merge(1, Seq(ap(2, 2, 2000, 2.0)).toDS())
    val e = intercept[IllegalStateException] { follower.tick() }
    assert(e.getMessage.contains("beyond source head"), e.getMessage)
  }

  test("a replica converges across an upstream RESTORE in one tick") {
    val src = freshRoot("tf-src11"); val dst = freshRoot("tf-dst11")
    val upstream = new PartitionedTableCdcTarget(spark, src, P)
    val follower = new TableFollower(spark, src, dst, "user_id", P)
    upstream.merge(0, (1L to 30L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    follower.tick()
    val good = VersionedTable.versions(src).last

    // the bad batch replicates...
    upstream.merge(1, Seq(ap(7, 700, 99000, -777.0)).toDS())
    follower.tick()
    assert(byKey(follower.snapshot)(7L).value == -777.0)

    // ...and the upstream restore replicates right back: the tick's
    // change window contains the restore commit's inverse delta, so
    // the replica converges to the RESTORED content — no re-bootstrap,
    // no operator action on the destination
    VersionedTable.restore(spark, src, good)
    assert(follower.tick().isDefined)
    assert(byKey(follower.snapshot) == byKey(VersionedTable.read(spark, src)))
    assert(byKey(follower.snapshot)(7L).value == 7.0)
    // converged: nothing further to apply, nothing fabricated
    assert(follower.tick().isEmpty)
  }

  test("restoring a followed DESTINATION directly is refused as a foreign write") {
    val src = freshRoot("tf-src12"); val dst = freshRoot("tf-dst12")
    val upstream = new PartitionedTableCdcTarget(spark, src, P)
    val follower = new TableFollower(spark, src, dst, "user_id", P)
    upstream.merge(0, (1L to 10L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    follower.tick()
    upstream.merge(1, Seq(ap(3, 300, 90000, 3.3)).toDS())
    follower.tick()

    // an operator "fixes" the replica by restoring it directly: the
    // restore commit changes content outside the replication stream
    // (KindBatch), so the next tick refuses the diverged destination
    // instead of silently merging on top — restore the SOURCE instead
    VersionedTable.restore(spark, dst, VersionedTable.versions(dst).head)
    upstream.merge(2, Seq(ap(4, 400, 91000, 4.4)).toDS())
    val e = intercept[IllegalStateException] { follower.tick() }
    assert(e.getMessage.contains("foreign writer"), e.getMessage)
  }
}
