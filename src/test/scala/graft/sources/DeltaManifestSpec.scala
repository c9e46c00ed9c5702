package graft.sources

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import graft.SparkSpec
import graft.streaming.{CdcApplied, PartitionedMerge, PartitionedTableCdcTarget}

/** Delta manifests (r14 — the Delta-log shape for this format): an
  * incremental partitioned commit serializes ONLY its touched labels
  * with a `base` pointer, a full checkpoint manifest lands every
  * [[VersionedTable]] checkpoint interval (and on every compaction /
  * full rewrite), and every reader resolves through the chain. What
  * these tests pin:
  *  (a) incremental manifests are O(touched) bytes, checkpoints O(P),
  *      and resolution (snapshot, parts, stats) is exact across both;
  *  (b) a cold reader (fresh memo) resolves identically;
  *  (c) dropped labels stay dropped through deltas AND checkpoints;
  *  (d) retention floors at the oldest retained version's chain root
  *      — vacuum never reclaims a dir a retained delta still needs —
  *      and a checkpoint releases the floor;
  *  (e) the change feed stays phantom-free and pruned across delta
  *      boundaries. */
class DeltaManifestSpec extends SparkSpec {

  private lazy val s = spark
  import s.implicits._

  private val P = 8

  private def ap(uid: Long, id: Long, t: Long, v: Double,
      del: Boolean = false) =
    CdcApplied(uid, id, new Timestamp(t), v, del)

  private def freshRoot(): String =
    Files.createTempDirectory("graft-delta").toString

  private def manifestBytes(root: String, v: Int): Long =
    Files.size(Paths.get(root, "_versions", f"v$v%08d.json"))

  private def manifestTxt(root: String, v: Int): String =
    Files.readString(Paths.get(root, "_versions", f"v$v%08d.json"))

  test("incremental commits are delta-sized; the interval checkpoints") {
    val root = freshRoot()
    val target = new PartitionedTableCdcTarget(spark, root, P)
    target.merge(0, (1L to 400L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    val fullBytes = manifestBytes(root, 1)
    assert(!manifestTxt(root, 1).contains("\"base\":"),
      "the first commit must be a full manifest")

    // one-key merges: each touches ONE partition, so each manifest
    // must stay O(1 label), far under the full manifest's size
    for (b <- 1 to 10)
      target.merge(b.toLong, Seq(ap(b.toLong, 1000L + b, 90000L + b,
        -b.toDouble)).toDS())
    // each carries the whole merge-on-read log list too, which the
    // fold rule bounds by a constant, not by the label count
    val logList = "\"logs\":\\[(\\[[^\\]]*\\],?)*\\],"
    val deltaSizes = (2 to 11).map(manifestTxt(root, _).replaceAll(logList, "").length)
    assert(deltaSizes.forall(_ < fullBytes / 2),
      s"deltas must be O(touched): $deltaSizes vs full $fullBytes")
    assert((2 to 11).forall(v => VersionedTable.Manifest.parse(manifestTxt(root, v))
      .logs.size < PartitionedMerge.MaxLogFiles), "the log list is unbounded")
    assert((2 to 11).forall(v => manifestTxt(root, v).contains("\"base\":")))

    // resolution is exact: every key's latest value
    val snap = target.snapshot.as[CdcApplied].collect()
      .map(r => r.user_id -> r.value).toMap
    assert(snap.size == 400)
    (1L to 10L).foreach(k => assert(snap(k) == -k,
      s"delta merge lost key $k"))
    (11L to 400L).foreach(k => assert(snap(k) == k))

    // drive the chain to the checkpoint interval: a full manifest
    // must land and reset the chain
    for (b <- 11 to 20)
      target.merge(b.toLong, Seq(ap(b.toLong, 2000L + b, 95000L + b,
        -b.toDouble)).toDS())
    val head = VersionedTable.versions(root).last
    val checkpoints = (2 to head)
      .filter(v => !manifestTxt(root, v).contains("\"base\":"))
    assert(checkpoints.nonEmpty,
      s"a chain of ${head - 1} commits must contain a checkpoint")
    assert(checkpoints.forall(_ >= 16),
      s"checkpoint landed early: $checkpoints")

    // cold reader: wipe the resolution memo and compare
    val warm = VersionedTable.parts(root)
    VersionedTable.invalidateTxns(root)
    assert(VersionedTable.parts(root) == warm,
      "cold chain walk diverged from the incremental memo")
    assert(VersionedTable.partStats(root).keySet - VersionedTable.LogsLabel == warm.keySet,
      "stats resolution lost labels")
  }

  test("dropped labels stay dropped through deltas and checkpoints") {
    val root = freshRoot()
    val target = new PartitionedTableCdcTarget(spark, root, P)
    target.merge(0, Seq(ap(1, 1, 1000, 1.0)).toDS())
    val key1Labels = VersionedTable.parts(root).keySet
    // merge keys until one hashing to a DIFFERENT partition lands in
    // the base (a fold of the logs): that partition becomes the victim
    assert((2L to 50L).exists { k =>
      val t = new PartitionedTableCdcTarget(spark, root, P)
      t.merge(k, Seq(ap(k, k, 1000 + k, k.toDouble)).toDS())
      VersionedTable.parts(root).keySet != key1Labels
    })
    val victim = (VersionedTable.parts(root).keySet -- key1Labels).head
    // drop it through the commit API (the dropParts seam the merge
    // uses for fully-emptied partitions) — the drop rides a DELTA
    VersionedTable.commitPartitions(Map.empty, root, batchId = 77,
      dropParts = Set(victim))
    assert(manifestTxt(root, VersionedTable.versions(root).last)
      .contains("\"drops\":"), "the drop must ride a delta manifest")
    assert(!VersionedTable.parts(root).contains(victim),
      "the dropped label must leave the resolved map")
    // ... and stay gone through later deltas and the next checkpoint
    for (b <- 2 to 18)
      target.merge(b.toLong + 100, Seq(ap(1, 1000L + b, 90000L + b,
        -b.toDouble)).toDS())
    assert(!VersionedTable.parts(root).contains(victim),
      "a later delta or checkpoint resurrected the dropped label")
    VersionedTable.invalidateTxns(root)
    assert(!VersionedTable.parts(root).contains(victim),
      "a cold walk resurrected the dropped label")
    assert(target.snapshot.filter(VersionedTable.keyPid("user_id", P) ===
      victim.toInt).isEmpty, "dropped partition rows resurrected")
  }

  test("retention floors at the chain root; a checkpoint releases it") {
    val root = freshRoot()
    val target = new PartitionedTableCdcTarget(spark, root, P)
    target.merge(0, (1L to 40L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    target.merge(1, Seq(ap(5, 100, 90000, 5.5)).toDS())
    target.merge(2, Seq(ap(6, 101, 90001, 6.5)).toDS())
    val expectRows = target.snapshot.count()

    // keepLast=1 retains head v3 (a delta) — its ancestry v1, v2 must
    // SURVIVE expire, and vacuum must reclaim nothing they reference
    assert(VersionedTable.expire(root, keepLast = 1).isEmpty,
      "expire dropped a version the retained delta chain needs")
    assert(VersionedTable.versions(root) == Seq(1, 2, 3))
    assert(VersionedTable.vacuum(root, graceMillis = 0).isEmpty)
    assert(target.snapshot.count() == expectRows)

    // compaction = checkpoint: the floor releases, history drops, and
    // the replaced dirs reclaim
    VersionedTable.compactPartitions(spark, root, maxFilesPerPart = 0)
    val dropped = VersionedTable.expire(root, keepLast = 1)
    assert(dropped == Seq(1, 2, 3), s"expected full history drop: $dropped")
    assert(VersionedTable.vacuum(root, graceMillis = 0).nonEmpty,
      "post-checkpoint vacuum must reclaim the pre-checkpoint dirs")
    assert(target.snapshot.count() == expectRows,
      "retention changed table data")
  }

  test("the change feed is pruned and phantom-free across deltas") {
    val root = freshRoot()
    val target = new PartitionedTableCdcTarget(spark, root, P)
    target.merge(0, (1L to 40L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    val v1 = VersionedTable.versions(root).last
    target.merge(1, Seq(ap(7, 100, 90000, 7.7)).toDS())
    val v2 = VersionedTable.versions(root).last

    val feed = VersionedTable.changes(spark, root, v1, v2, "user_id")
    val rows = feed.collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("user_id") == 7L,
      s"delta-boundary feed wrong: ${rows.mkString(",")}")
    // prune witness: only key 7's partition files are read
    val scanned = feed.inputFiles.length
    val totalDirs = VersionedTable.parts(root).values.flatten.size
    assert(scanned < totalDirs,
      s"feed read $scanned files over $totalDirs live dirs — unpruned")
  }
}
