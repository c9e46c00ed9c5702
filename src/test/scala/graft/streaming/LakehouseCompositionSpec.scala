package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.sources.{ChangeIngest, VersionedTable}

/** The lakehouse end-to-end: wire records → registry-provisioned
  * DEMUX pipeline → per-table VersionedTable commits — the multi-table
  * variant of IngestToWarehouseSpec, with a crash-restart at the demux
  * point and replays at the merge/commit point proven whole-batch
  * no-ops by the manifest txn guard. Composes only public surfaces:
  * [[PipelineRegistry.reconcileDemux]], [[PipelineManager.startDemux]],
  * [[CdcDemux.mergeInto]], [[PartitionedTableCdcTarget]],
  * [[VersionedTable]]. */
class LakehouseCompositionSpec extends SparkSpec {

  private def rec(tbl: String, id: Long, ts: String, uid: Long,
      tpe: String, v: Double): String =
    s"""{"table":"$tbl","event_id":$id,"ts":"$ts","user_id":$uid,""" +
      s""""event_type":"$tpe","value":$v}"""

  test("records -> reconcile -> demux -> versioned commits, crash-safe") {
    val s = spark
    import s.implicits._
    val wireDir = Files.createTempDirectory("graft_lh_wire").toString
    val rootEvents = Files.createTempDirectory("graft_lh_events").toString
    val rootUsers = Files.createTempDirectory("graft_lh_users").toString
    val ckpt = Files.createTempDirectory("graft_lh_ckpt").toString
    Files.write(Paths.get(wireDir, "b0.jsonl"), (Seq(
      rec("events", 1, "2024-01-01 00:00:00", 1, "click", 1.0),
      rec("events", 2, "2024-01-01 00:00:05", 1, "view", 2.5),
      rec("users", 10, "2024-01-01 00:00:01", 7, "signup", 0.5),
      rec("ghost", 99, "2024-01-01 00:00:02", 9, "click", 9.0), // unrouted
      "junk line the decoder must drop"
    ).mkString("\n") + "\n").getBytes("UTF-8"))

    val reg = new PipelineRegistry(
      "jdbc:derby:memory:lhreg;create=true", "pipes_lh")
    reg.upsert(PipelineSpec("lh_demux", source = wireDir,
      target = s"versioned:$rootEvents,$rootUsers", checkpoint = ckpt,
      enabled = true))
    // the "ghost" record has no registered target: CdcDemux counts it
    // as unrouted (log-and-skip), which must not fail the batch
    def build(p: PipelineSpec) = (
      ChangeIngest.readJsonFiles(s, p.source),
      Map[String, CdcTarget](
        "events" -> new PartitionedTableCdcTarget(s, rootEvents),
        "users" -> new PartitionedTableCdcTarget(s, rootUsers)))

    // --- first driver: provision from the table, land batch 0 -------
    val mgr1 = new PipelineManager(s)
    val r1 = reg.reconcileDemux(mgr1)(build)
    assert(r1.started == Seq("lh_demux"), r1.toString)
    mgr1.get("lh_demux").get.query.processAllAvailable()
    val evT = new PartitionedTableCdcTarget(s, rootEvents)
    val usT = new PartitionedTableCdcTarget(s, rootUsers)
    def snap(t: PartitionedTableCdcTarget): Map[Long, Double] =
      t.snapshot.as[CdcApplied].collect().map(r => r.user_id -> r.value).toMap
    assert(snap(evT) == Map(1L -> 2.5), s"events table: ${snap(evT)}")
    assert(snap(usT) == Map(7L -> 0.5), s"users table: ${snap(usT)}")
    val evVersions0 = VersionedTable.versions(rootEvents).size
    assert(VersionedTable.committedTxns(rootEvents).contains(0L))

    // --- crash at the demux point: kill the driver's manager wholesale
    // (no graceful registry disable) and reconverge a NEW manager from
    // durable state; the file-source checkpoint resumes, and batch 1
    // (landed while "down") flows through the restarted pipeline ------
    mgr1.stopAll()
    Files.write(Paths.get(wireDir, "b1.jsonl"), (Seq(
      rec("events", 0, "2023-12-31 23:59:59", 1, "click", 9.9), // stale
      rec("events", 3, "2024-01-01 00:01:00", 2, "click", 3.0),
      rec("users", 11, "2024-01-01 00:01:01", 7, "error", 0.0) // tombstone
    ).mkString("\n") + "\n").getBytes("UTF-8"))
    val mgr2 = new PipelineManager(s)
    try {
      val r2 = reg.reconcileDemux(mgr2) { p => build(p) }
      assert(r2.started == Seq("lh_demux"), "crash-restart must reconverge")
      mgr2.get("lh_demux").get.query.processAllAvailable()

      assert(snap(evT) == Map(1L -> 2.5, 2L -> 3.0),
        s"stale row regressed or batch lost: ${snap(evT)}")
      assert(snap(usT).isEmpty, "tombstone must delete user 7")

      // --- replay at the merge/commit point: redeliver the LAST batch
      // to each target (what a crash between sink success and offset
      // commit produces) — the manifest txn id makes it a WHOLE-BATCH
      // no-op: state identical, no new version committed --------------
      for (root <- Seq(rootEvents, rootUsers)) {
        val t = new PartitionedTableCdcTarget(s, root)
        val lastTxn = VersionedTable.committedTxns(root).max
        val vBefore = VersionedTable.versions(root).size
        val stateBefore = t.snapshot.as[CdcApplied].collect().toSet
        t.merge(lastTxn, Seq(
          CdcApplied(999L, 999L, new java.sql.Timestamp(0), 123.0,
            is_deleted = false)).toDS())
        assert(VersionedTable.versions(root).size == vBefore,
          s"$root: replayed batch committed a new version")
        assert(t.snapshot.as[CdcApplied].collect().toSet == stateBefore,
          s"$root: replayed batch changed state")
      }
      assert(VersionedTable.versions(rootEvents).size > evVersions0,
        "batch 1 must have committed a real new version before the replay")
    } finally mgr2.stopAll()
  }
}
