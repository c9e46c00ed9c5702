package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}

import graft.SparkSpec

/** The five sink entry points all run their batch body under
  * [[Sink.guarded]]: a body that throws opens a one-failure breaker and
  * fails the query with that error; a body that succeeds is recorded
  * as a success and leaves the breaker closed. */
class SinkGuardSpec extends SparkSpec {

  private val trigger = Trigger.ProcessingTime("100 milliseconds")

  /** Counts the successes the sink reports, so a test can wait until
    * the breaker has seen one. */
  private class CountingBreaker extends CircuitBreaker(failureThreshold = 1) {
    val successes = new AtomicInteger
    override def recordSuccess(): Unit = {
      super.recordSuccess(); successes.incrementAndGet(); ()
    }
  }

  private val entryPoints = Seq("CdcStream.mergeInto",
    "CdcStream.mergeIntoTraced", "CdcDemux.mergeInto",
    "SchemaEvolution.mergeEvolvingJson", "TickStream.ticks")

  /** Start entry point `name` on fresh input whose target (or tick)
    * runs `body` once per micro-batch. */
  private def start(name: String, body: () => Unit, cb: CircuitBreaker,
      ckpt: String): StreamingQuery = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val target = new InMemoryCdcTarget {
      override def merge(batchId: Long, rows: Dataset[CdcApplied]): Unit = {
        body(); super.merge(batchId, rows)
      }
    }
    name match {
      case "CdcStream.mergeInto" =>
        val in = MemoryStream[CdcEvent]
        in.addData(CdcEvent(1, new Timestamp(1000), 1, "click", 1.0))
        CdcStream.mergeInto(in.toDS(), target, ckpt, trigger, Some(cb))
      case "CdcStream.mergeIntoTraced" =>
        val in = MemoryStream[TracedCdcEvent]
        in.addData(TracedCdcEvent("t1", "events", 1, new Timestamp(1000), 1,
          "click", 1.0))
        val tracing = new Tracing(() => "id")
        CdcStream.mergeIntoTraced("p", in.toDS(), target, ckpt, tracing,
          tracing.root("pipeline p"), new TraceRegistry, trigger, Some(cb))
      case "CdcDemux.mergeInto" =>
        val in = MemoryStream[TableCdcEvent]
        in.addData(TableCdcEvent("a", 1, new Timestamp(1000), 1, "click", 1.0))
        CdcDemux.mergeInto(in.toDS(), Map("a" -> target), ckpt, trigger,
          breaker = Some(cb))
      case "SchemaEvolution.mergeEvolvingJson" =>
        val in = MemoryStream[String]
        in.addData("""{"event_id":1,"user_id":1}""")
        val evolving = new InMemoryEvolvingTarget {
          override def merge(batchId: Long, rows: DataFrame): Unit = {
            body(); super.merge(batchId, rows)
          }
        }
        SchemaEvolution.mergeEvolvingJson(in.toDS(), evolving, ckpt, trigger,
          Some(cb))
      case "TickStream.ticks" =>
        TickStream.ticks(s, ckpt, trigger, Some(cb))(body)
    }
  }

  private def causes(t: Throwable): Seq[Throwable] =
    if (t == null) Nil else t +: causes(t.getCause)

  entryPoints.foreach { name =>
    test(s"$name: a failing body opens the breaker and fails the query") {
      val cb = new CountingBreaker
      val q = start(name, () => throw new IllegalStateException(s"boom in $name"),
        cb, Files.createTempDirectory("graft_guard").toString)
      val err = try intercept[StreamingQueryException](q.awaitTermination(60000))
        finally q.stop()
      assert(cb.state == CircuitBreaker.Open)
      assert(causes(err).exists(c =>
        Option(c.getMessage).exists(_.contains(s"boom in $name"))), err)
    }

    test(s"$name: a succeeding body leaves the breaker closed") {
      val cb = new CountingBreaker
      val runs = new AtomicInteger
      val q = start(name, () => { runs.incrementAndGet(); () }, cb,
        Files.createTempDirectory("graft_guard").toString)
      try {
        val deadline = System.currentTimeMillis() + 60000
        while (cb.successes.get == 0 && q.exception.isEmpty &&
            System.currentTimeMillis() < deadline) Thread.sleep(50)
      } finally q.stop()
      assert(q.exception.isEmpty, q.exception)
      assert(runs.get >= 1 && cb.successes.get >= 1,
        s"body ran ${runs.get} times, breaker saw ${cb.successes.get} successes")
      assert(cb.state == CircuitBreaker.Closed)
    }
  }
}
