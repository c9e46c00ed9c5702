package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

class MetricsSpec extends SparkSpec {

  test("prometheus text renders typed, labeled, sorted samples") {
    val listener = new LagListener() // no batches → Ok, zero counters
    val breaker = new CircuitBreaker(failureThreshold = 1)
    val text = Metrics.prometheusText(
      Metrics.snapshot("pipe\"a\"", listener, breaker))
    assert(text.contains("# TYPE graft_rows_processed_total counter"))
    assert(text.contains("# TYPE graft_lag_tier gauge"))
    assert(text.contains("""graft_rows_processed_total{pipeline="pipe\"a\""} 0"""),
      s"label escaping/zero counter wrong in:\n$text")
    assert(text.contains("""graft_breaker_state{pipeline="pipe\"a\""} 0"""))
    breaker.recordFailure() // threshold 1 → Open
    val open = Metrics.prometheusText(
      Metrics.snapshot("p", listener, breaker))
    assert(open.contains("""graft_breaker_state{pipeline="p"} 2"""))
    assert(open.contains("""graft_health_status{pipeline="p"} 2"""),
      "open breaker must export unhealthy status")
  }

  test("a live pipeline's counters surface in the scrape") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    def ev(id: Long, t: Long, uid: Long) =
      CdcEvent(id, new Timestamp(t), uid, "click", 1.0)

    val mgr = new PipelineManager(s)
    val in = MemoryStream[CdcEvent]
    val p = mgr.startCdc("scrape_me", in.toDS(), new InMemoryCdcTarget,
      Files.createTempDirectory("graft_metrics").toString,
      Trigger.ProcessingTime("50 milliseconds"))
    try {
      in.addData(ev(1, 1000, 1), ev(2, 2000, 2), ev(3, 3000, 3))
      p.query.processAllAvailable()
      // progress events deliver async after the batch commits
      val deadline = System.currentTimeMillis() + 30000
      while (p.listener.totalRows < 3 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)

      val samples = Metrics.snapshot(mgr, Seq("scrape_me", "absent"))
      assert(samples.map(_.name).distinct.size == 6,
        "absent pipelines must not emit samples; present ones emit all 6")
      val rows = samples.find(_.name == "graft_rows_processed_total").get
      assert(rows.value >= 3.0 && rows.labels("pipeline") == "scrape_me")
      val text = Metrics.prometheusText(samples)
      assert(text.contains("""graft_health_status{pipeline="scrape_me"} 0"""))
    } finally mgr.stopAll()
  }

  test("egress bytes meter the jdbc merge and the versioned-table commit") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val meter = new EgressMeter

    // streaming leg: JdbcCdcTarget merge — bytes = wire width (33) ×
    // landed rows, counted by the warehouse inside the merge txn
    val db = Files.createTempDirectory("graft_egress_db").toString + "/db"
    val target = new JdbcCdcTarget(s"jdbc:derby:$db;create=true", "egr_t",
      meter = Some(meter), pipeline = "pipe_a")
    val in = MemoryStream[CdcEvent]
    val q = CdcStream.mergeInto(in.toDS(), target,
      Files.createTempDirectory("graft_egress_ckpt").toString,
      Trigger.ProcessingTime("50 milliseconds"))
    try {
      in.addData(
        CdcEvent(1, new Timestamp(1000), 1, "click", 1.0),
        CdcEvent(2, new Timestamp(2000), 2, "view", 2.0),
        CdcEvent(3, new Timestamp(3000), 3, "buy", 3.0))
      q.processAllAvailable()
    } finally q.stop()
    assert(meter.bytes("pipe_a", "egr_t", "streaming") == 3 * 33L,
      s"jdbc leg: ${meter.bytes("pipe_a", "egr_t", "streaming")}")

    // table_copy leg: a txn-less VersionedTable commit — exact staged
    // parquet bytes on disk
    val root = Files.createTempDirectory("graft_egress_vt").toString
    def stage(rows: Seq[(Long, String)]) = {
      import graft.sources.VersionedTable.{keyPid, stagePartitioned, PidCol}
      stagePartitioned(rows.toDF("id", "v").withColumn(PidCol, keyPid("id", 4)),
        root, PidCol)
    }
    graft.sources.VersionedTable.commitPartitionsOnce(
      stage(Seq((1L, "a"), (2L, "b"))), root, expected = 0,
      overwriteAll = true, nParts = Some(4),
      meter = Some(meter), pipeline = "pipe_a")
    val copied = meter.bytes("pipe_a", root, "table_copy")
    assert(copied > 0, "commit must meter staged bytes")
    // exactly-once streaming sink leg rides the same meter with the
    // streaming processing type
    graft.sources.VersionedTable.commitPartitions(
      stage(Seq((3L, "c"))), root, batchId = 7L, nParts = Some(4),
      meter = Some(meter), pipeline = "pipe_a")
    assert(meter.bytes("pipe_a", root, "streaming") > 0)

    // the series ride the existing exposition
    val text = Metrics.prometheusText(meter.samples)
    assert(text.contains("# TYPE graft_egress_bytes_total counter"))
    assert(text.contains(
      """graft_egress_bytes_total{destination="egr_t",pipeline="pipe_a",processing_type="streaming"} 99"""),
      s"jdbc series missing in:\n$text")
    assert(text.contains(s"""processing_type="table_copy"} $copied"""))
  }

  test("manager sweep drives sustained alerts from live pipeline health") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    def ev(id: Long, t: Long, uid: Long) =
      CdcEvent(id, new Timestamp(t), uid, "click", 1.0)

    val mgr = new PipelineManager(s)
    val in = MemoryStream[CdcEvent]
    // warnBatchMillis = 0: every completed batch classifies Warning, so
    // the sweep observes a genuinely unhealthy live pipeline
    val p = mgr.startCdc("laggy", in.toDS(), new InMemoryCdcTarget,
      Files.createTempDirectory("graft_sweep").toString,
      Trigger.ProcessingTime("50 milliseconds"), warnBatchMillis = 0)
    val delivered = scala.collection.mutable.ArrayBuffer.empty[AlertManager.Alert]
    var now = 0L
    val alerts = new AlertManager(delivered += _, sustainMillis = 1000,
      clock = () => now, sleep = _ => ())
    try {
      in.addData(ev(1, 1000, 1))
      p.query.processAllAvailable()
      val deadline = System.currentTimeMillis() + 30000
      while (p.listener.health == LagListener.Ok &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(p.listener.health == LagListener.Warning)

      mgr.sweep(alerts)              // t=0: episode opens, not sustained
      assert(delivered.isEmpty)
      now = 1000; mgr.sweep(alerts)  // sustained → one alert
      assert(delivered.map(a => (a.pipeline, a.kind)) ==
        Seq(("laggy", AlertManager.Triggered)))
    } finally mgr.stopAll()
  }
}
