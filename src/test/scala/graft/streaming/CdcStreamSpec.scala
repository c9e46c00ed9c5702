package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

class CdcStreamSpec extends SparkSpec {

  private def ev(id: Long, t: Long, uid: Long, tpe: String, v: Double) =
    CdcEvent(id, new Timestamp(t), uid, tpe, v)

  test("streaming CDC apply keeps latest-per-key state across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[CdcEvent]
    val q = CdcStream.latestPerKey(input.toDS())
      .writeStream.format("memory").queryName("cdc_latest")
      .outputMode("update").start()
    try {
      input.addData(ev(1, 1000, 1, "click", 1.0), ev(2, 2000, 1, "view", 2.0))
      q.processAllAvailable()
      val afterB1 = s.table("cdc_latest").as[CdcApplied].collect()
        .groupBy(_.user_id).map { case (k, v) => k -> v.last }
      assert(afterB1(1L).event_id == 2 && afterB1(1L).value == 2.0)

      // an OLDER event must not displace newer state; a newer delete must
      input.addData(ev(0, 500, 1, "click", 9.9), ev(3, 3000, 2, "error", 0.0))
      q.processAllAvailable()
      val rows = s.table("cdc_latest").as[CdcApplied].collect()
      val latest1 = rows.filter(_.user_id == 1).last
      val latest2 = rows.filter(_.user_id == 2).last
      assert(latest1.event_id == 2, "stale event displaced newer state")
      assert(latest2.is_deleted, "delete op not reflected")
    } finally q.stop()
  }

  test("foreachBatch merge applies MERGE semantics into the target") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[CdcEvent]
    val target = new InMemoryCdcTarget
    val checkpoint = Files.createTempDirectory("graft_ckpt").toString
    // the data lands before the query starts: an AvailableNow query
    // whose first trigger finds the stream empty ends having merged
    // nothing
    input.addData(
      ev(1, 1000, 1, "click", 1.0), ev(2, 2000, 1, "view", 2.0),
      ev(3, 1500, 2, "signup", 5.0), ev(4, 2500, 3, "error", 0.0),
      ev(5, 1200, 3, "click", 7.0))
    val q = CdcStream.mergeInto(input.toDS(), target, checkpoint,
      Trigger.AvailableNow())
    q.processAllAvailable()
    q.awaitTermination(30000)

    val snap = target.snapshot
    assert(snap(1L).event_id == 2, "upsert should keep latest per key")
    assert(snap(2L).event_id == 3)
    assert(!snap.contains(3L), "latest DELETE must remove the key")
  }

  test("mergeInto resumes from the checkpoint without re-merging committed batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[CdcEvent]
    val target = new InMemoryCdcTarget
    val checkpoint = Files.createTempDirectory("graft_resume_ckpt").toString

    // run 1: two keys land, query terminates (AvailableNow drains)
    input.addData(ev(1, 1000, 1, "click", 1.0), ev(2, 2000, 2, "view", 2.0))
    val q1 = CdcStream.mergeInto(input.toDS(), target, checkpoint,
      Trigger.AvailableNow())
    q1.awaitTermination(60000)
    val afterRun1 = target.batchesMerged.size
    assert(target.snapshot.keySet == Set(1L, 2L))

    // run 2: same checkpoint, same source — only the NEW data flows.
    // An out-of-order stale row for key 2 rides along and must lose
    // to the sequence guard.
    input.addData(ev(3, 3000, 1, "view", 9.0), ev(0, 500, 2, "click", 8.8))
    val q2 = CdcStream.mergeInto(input.toDS(), target, checkpoint,
      Trigger.AvailableNow())
    q2.awaitTermination(60000)

    assert(target.snapshot(1L).event_id == 3, "new event not applied on resume")
    assert(target.snapshot(2L).event_id == 2,
      "stale cross-batch event regressed the key despite the sequence guard")
    val ids = target.batchesMerged
    assert(ids.size > afterRun1, "resumed query merged nothing")
    assert(ids == ids.sorted && ids.distinct == ids,
      s"batch was re-merged after restart: $ids")
  }

  test("file-source CDC stream end-to-end: restart picks up only new files") {
    val s = spark
    import s.implicits._

    val srcDir = Files.createTempDirectory("graft_cdc_files")
    val checkpoint = Files.createTempDirectory("graft_files_ckpt").toString
    val schema = implicitly[org.apache.spark.sql.Encoder[CdcEvent]].schema
    def writeFile(name: String, lines: Seq[String]): Unit =
      Files.writeString(srcDir.resolve(name), lines.mkString("\n"))
    def source = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").json(srcDir.toString).as[CdcEvent]
    def j(id: Long, t: String, uid: Long, tpe: String, v: Double) =
      s"""{"event_id":$id,"ts":"$t","user_id":$uid,"event_type":"$tpe","value":$v}"""

    val target = new InMemoryCdcTarget
    writeFile("a.json", Seq(
      j(1, "2026-01-01 00:00:01", 1, "click", 1.0),
      j(2, "2026-01-01 00:00:02", 2, "view", 2.0)))
    val q1 = CdcStream.mergeInto(source, target, checkpoint, Trigger.AvailableNow())
    q1.awaitTermination(60000)
    assert(target.snapshot.keySet == Set(1L, 2L))
    val rows1 = target.batchesMerged.size

    // new file after the first drain: a newer row for key 1, a new
    // key 3, and a stale row for key 2 (older ts — guard must hold)
    writeFile("b.json", Seq(
      j(3, "2026-01-01 00:00:05", 1, "view", 5.0),
      j(4, "2026-01-01 00:00:06", 3, "signup", 6.0),
      j(0, "2026-01-01 00:00:00", 2, "click", 9.9)))
    val q2 = CdcStream.mergeInto(source, target, checkpoint, Trigger.AvailableNow())
    q2.awaitTermination(60000)

    assert(target.snapshot(1L).event_id == 3)
    assert(target.snapshot(2L).event_id == 2, "stale file row regressed key 2")
    assert(target.snapshot(3L).event_id == 4)
    val ids = target.batchesMerged
    assert(ids.size > rows1 && ids == ids.sorted && ids.distinct == ids,
      s"file already committed in run 1 was re-processed: $ids")
  }

  test("a failing target trips the breaker and fails the query fast") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[CdcEvent]
    val flaky = new CdcTarget {
      override def merge(batchId: Long,
          rows: org.apache.spark.sql.Dataset[CdcApplied]): Unit =
        sys.error("destination unavailable")
    }
    val cb = new CircuitBreaker(failureThreshold = 1,
      recoveryTimeoutMillis = 60000)
    val checkpoint = Files.createTempDirectory("graft_breaker_ckpt").toString
    input.addData(ev(1, 1000, 1, "click", 1.0))
    val q = CdcStream.mergeInto(input.toDS(), flaky, checkpoint,
      Trigger.AvailableNow(), breaker = Some(cb))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(cb.state == CircuitBreaker.Open,
      "merge failure must open the breaker")
    assert(!cb.allowRequest(), "open breaker rejects until recovery timeout")
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(_.getMessage != null) &&
      causes(err).exists(c => Option(c.getMessage).exists(
        _.contains("destination unavailable"))))
  }

  test("streaming latest-per-key matches the batch cdc_dedupe_latest on sf0.001") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val batchEvents = graft.sources.Tables.events(s, sf)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[CdcEvent].collect().toSeq
    val expected = graft.SparkEntry.queries("cdc_dedupe_latest")(s, sf)
      .selectExpr("user_id", "event_id").as[(Long, Long)].collect().toMap

    val input = MemoryStream[CdcEvent]
    val q = CdcStream.latestPerKey(input.toDS())
      .writeStream.format("memory").queryName("cdc_parity")
      .outputMode("update").start()
    try {
      // two micro-batches to prove state carries across the seal
      val (b1, b2) = batchEvents.splitAt(batchEvents.size / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      val got = s.table("cdc_parity").as[CdcApplied].collect()
        .groupBy(_.user_id).map { case (k, v) => k -> v.last.event_id }
      assert(got == expected, "stream state diverged from batch dedupe")
    } finally q.stop()
  }
}
