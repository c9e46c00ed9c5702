package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.SparkSpec
import graft.sources.VersionedTable

class CdcDemuxSpec extends SparkSpec {

  private def ev(tbl: String, id: Long, t: Long, uid: Long, tpe: String,
      v: Double) = TableCdcEvent(tbl, id, new Timestamp(t), uid, tpe, v)

  test("one multiplexed stream routes each table to its own merge target") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[TableCdcEvent]
    val orders = new InMemoryCdcTarget
    val users = new InMemoryCdcTarget
    val unrouted = new AtomicLong(0)
    val q = CdcDemux.mergeInto(input.toDS(),
      Map("orders" -> orders, "users" -> users),
      Files.createTempDirectory("graft_demux").toString,
      Trigger.ProcessingTime("50 milliseconds"), unrouted.addAndGet)

    input.addData(
      // commit-order interleaving, exactly like one replication slot
      ev("orders", 1, 1000, 1, "click", 1.0),
      ev("users", 2, 1500, 1, "signup", 5.0),
      ev("orders", 3, 2000, 1, "view", 2.0),   // newer for orders key 1
      ev("users", 4, 2500, 2, "error", 0.0),   // delete for users key 2
      ev("audit", 5, 3000, 9, "click", 3.0))   // no registered target
    try q.processAllAvailable() finally q.stop()

    // each target sees only its table, deduped to latest-per-key
    assert(orders.snapshot.keySet == Set(1L))
    assert(orders.snapshot(1L).event_id == 3,
      "orders must keep the newer of its two key-1 events")
    assert(users.snapshot.keySet == Set(1L))
    assert(users.snapshot(1L).event_id == 2)
    // the users DELETE landed as a tombstone, not in users' live
    // snapshot, and never leaked into orders
    assert(!users.snapshot.contains(2L))
    assert(unrouted.get() == 1, "the unregistered table's event is counted")
    // both targets merged the same batch ids (one slot, one schedule)
    assert(orders.batchesMerged == users.batchesMerged)
  }

  test("per-table sequence guards stay independent across the demux") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[TableCdcEvent]
    val a = new InMemoryCdcTarget
    val b = new InMemoryCdcTarget
    val q = CdcDemux.mergeInto(input.toDS(), Map("a" -> a, "b" -> b),
      Files.createTempDirectory("graft_demux2").toString,
      Trigger.ProcessingTime("50 milliseconds"))

    try {
      input.addData(ev("a", 10, 5000, 7, "click", 1.0),
        ev("b", 11, 1000, 7, "click", 2.0))
      q.processAllAvailable()
      // a LATE event for table b, key 7 — newer than b's state even
      // though table a's key 7 is far ahead: the guard is per (table, key)
      input.addData(ev("b", 12, 2000, 7, "view", 3.0),
        ev("a", 13, 1500, 7, "view", 9.0)) // stale for a: must be rejected
      q.processAllAvailable()
    } finally q.stop()

    assert(a.snapshot(7L).event_id == 10, "a's newer state must survive")
    assert(b.snapshot(7L).event_id == 12, "b must advance independently")
  }

  test("every table of a micro-batch merges at the same time") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    // each target's first merge waits until BOTH merges are in flight:
    // run one after the other, the first would time out and fail
    val inFlight = new CountDownLatch(2)
    def rendezvous(inner: CdcTarget): CdcTarget = new CdcTarget {
      private val calls = new AtomicInteger
      override def merge(batchId: Long, rows: Dataset[CdcApplied]): Unit = {
        if (calls.getAndIncrement() == 0) {
          inFlight.countDown()
          if (!inFlight.await(20, TimeUnit.SECONDS))
            sys.error(s"batch $batchId: the other table's merge never started")
        }
        inner.merge(batchId, rows)
      }
    }
    val input = MemoryStream[TableCdcEvent]
    val a = new InMemoryCdcTarget
    val b = new InMemoryCdcTarget
    val q = CdcDemux.mergeInto(input.toDS(),
      Map("a" -> rendezvous(a), "b" -> rendezvous(b)),
      Files.createTempDirectory("graft_demux3").toString,
      Trigger.ProcessingTime("50 milliseconds"))
    input.addData(ev("a", 1, 1000, 1, "click", 1.0),
      ev("b", 2, 1000, 2, "click", 2.0))
    try q.processAllAvailable() finally q.stop()
    assert(a.snapshot.keySet == Set(1L) && b.snapshot.keySet == Set(2L))
  }

  test("a failing table fails the batch only after the others finish; redelivery commits each once") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val rootA = Files.createTempDirectory("graft_demux_a").toString
    val rootB = Files.createTempDirectory("graft_demux_b").toString
    val failA = new AtomicBoolean(true)
    val bDone = new AtomicBoolean(false)
    val bSawCache = new AtomicBoolean(false)
    val bCalls = new AtomicInteger
    val a = new CdcTarget {
      private val inner = new PartitionedTableCdcTarget(s, rootA, 4)
      override def merge(batchId: Long, rows: Dataset[CdcApplied]): Unit =
        if (failA.get) sys.error("table a unavailable")
        else inner.merge(batchId, rows)
    }
    val b = new CdcTarget {
      private val inner = new PartitionedTableCdcTarget(s, rootB, 4)
      override def merge(batchId: Long, rows: Dataset[CdcApplied]): Unit = {
        if (bCalls.incrementAndGet() == 1) {
          // outlast a's failure, then check the batch is still cached:
          // a fresh plan over `rows` resolves to the cached relation
          Thread.sleep(1500)
          bSawCache.set(rows.toDF().queryExecution.withCachedData
            .collectFirst { case r: InMemoryRelation => r }.isDefined)
        }
        inner.merge(batchId, rows)
        bDone.set(true)
      }
    }
    val targets = Map[String, CdcTarget]("a" -> a, "b" -> b)
    val input = MemoryStream[TableCdcEvent]
    val checkpoint = Files.createTempDirectory("graft_demux4").toString
    input.addData(ev("a", 1, 1000, 1, "click", 1.0),
      ev("b", 2, 1000, 2, "click", 2.0), ev("b", 3, 2000, 2, "view", 3.0))

    val q1 = CdcDemux.mergeInto(input.toDS(), targets, checkpoint,
      Trigger.ProcessingTime("50 milliseconds"))
    val err = intercept[StreamingQueryException] {
      try q1.processAllAvailable() finally q1.stop()
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains("table a unavailable"))))
    assert(bDone.get, "the batch failed before table b's merge finished")
    assert(bSawCache.get, "the cached batch was released under b's running merge")
    assert(VersionedTable.committedTxns(rootB) == Set(0L))
    assert(VersionedTable.versions(rootA).isEmpty)

    // restart on the same checkpoint: batch 0 is redelivered; a commits
    // it now, b's txn guard skips it
    failA.set(false)
    val q2 = CdcDemux.mergeInto(input.toDS(), targets, checkpoint,
      Trigger.ProcessingTime("50 milliseconds"))
    try q2.processAllAvailable() finally q2.stop()
    assert(bCalls.get == 2, "redelivery must reach both tables")
    Seq(rootA, rootB).foreach { r =>
      assert(VersionedTable.versions(r).size == 1, s"$r committed more than once")
      assert(VersionedTable.committedTxns(r) == Set(0L))
    }
    assert(new PartitionedTableCdcTarget(s, rootB).snapshot
      .as[CdcApplied].collect().map(r => r.user_id -> r.event_id).toSeq == Seq(2L -> 3L))
    assert(new PartitionedTableCdcTarget(s, rootA).snapshot
      .as[CdcApplied].collect().map(r => r.user_id -> r.event_id).toSeq == Seq(1L -> 1L))
  }

  test("one micro-batch into two existing partitioned tables runs 3 jobs") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val sc = s.sparkContext
    val roots = Seq("a", "b").map(t => t -> Files.createTempDirectory(s"graft_demux_jobs_$t").toString)
    val targets: Map[String, CdcTarget] =
      roots.map { case (t, r) => t -> new PartitionedTableCdcTarget(s, r, 4) }.toMap
    // (query id, batch id) of every job, from the local properties a
    // streaming query sets on its micro-batch thread and the demux
    // pool threads inherit
    val jobs = mutable.ArrayBuffer.empty[(String, String)]
    val sentinel = s"graft.spec.demux.${java.util.UUID.randomUUID()}"
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).foreach { p =>
          if (p.getProperty("graft.spec.tag") == sentinel) drained.countDown()
          else jobs.synchronized(jobs += ((p.getProperty("sql.streaming.queryId"),
            p.getProperty("streaming.sql.batchId"))))
        }
    }
    val input = MemoryStream[TableCdcEvent]
    val unrouted = new AtomicLong
    val q = CdcDemux.mergeInto(input.toDS(), targets,
      Files.createTempDirectory("graft_demux5").toString,
      Trigger.ProcessingTime("50 milliseconds"), unrouted.addAndGet)
    sc.addSparkListener(listener)
    try {
      // batch 0 creates both tables; batch 1 merges into them, with
      // several rows per key and one unrouted event
      input.addData((1L to 8L).flatMap(k => Seq(ev("a", k, 1000, k, "click", k.toDouble),
        ev("b", 100 + k, 1000, k, "click", k.toDouble))): _*)
      q.processAllAvailable()
      input.addData(ev("a", 20, 2000, 1, "view", 1.5), ev("a", 21, 3000, 1, "view", 1.7),
        ev("b", 22, 2500, 2, "error", 0.0), ev("b", 23, 2000, 2, "view", 2.5),
        ev("b", 24, 2000, 9, "click", 9.0), ev("audit", 25, 2000, 1, "click", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    try {
      sc.setLocalProperty("graft.spec.tag", sentinel)
      try s.range(1).collect() finally sc.setLocalProperty("graft.spec.tag", null)
      assert(drained.await(60, TimeUnit.SECONDS), "listener events never drained")
    } finally sc.removeSparkListener(listener)

    val batch1 = jobs.synchronized(jobs.count(_ == (q.id.toString, "1")))
    // per table: the one-task log write; plus one narrow unrouted count
    assert(batch1 == 3, s"micro-batch 1 ran $batch1 jobs")
    assert(unrouted.get == 1)
    def snap(t: String) = new PartitionedTableCdcTarget(s, roots.toMap.apply(t)).snapshot
      .as[CdcApplied].collect().map(r => r.user_id -> r.event_id).toMap
    assert(snap("a")(1L) == 21L && snap("a")(2L) == 2L)
    assert(!snap("b").contains(2L), "the newer delete wins over the older view")
    assert(snap("b")(9L) == 24L)
  }
}
