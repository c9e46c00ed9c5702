package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** The one streaming sink under every CDC and tick pipeline — the
  * reference's seal → dedupe → guarded MERGE loop
  * (etl_snowflake/task.py:154-190) as a Structured Streaming
  * `foreachBatch` sink. [[CdcStream.mergeInto]],
  * [[CdcStream.mergeIntoTraced]], [[CdcDemux.mergeInto]],
  * [[SchemaEvolution.mergeEvolvingJson]] and [[TickStream.ticks]] each
  * supply only their batch body; the wiring and the failure policy
  * live here once. */
private[streaming] object Sink {

  /** Start `in` as an append-mode `foreachBatch` query on
    * `checkpoint`, firing on `trigger`. The checkpoint carries the
    * source offsets; `body` must make a redelivered batch harmless
    * under its own guard (a target's txn/sequence guard, a tick's
    * idempotent work). */
  def start[T](in: Dataset[T], checkpoint: String, trigger: Trigger)(
      body: (Dataset[T], Long) => Unit): StreamingQuery =
    in.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(body)
      .start()

  /** Run one batch's work: retries burn INSIDE the breaker, so
    * transient errors cost attempts and only an exhausted retry counts
    * as one breaker failure (the reference's per-write retry → breaker
    * order). An open breaker fails the batch fast; the checkpoint
    * redelivers it after recovery. */
  def guarded[A](breaker: Option[CircuitBreaker], attempts: Int = 1)(
      work: => A): A = {
    def run(): A = Retry.withBackoff(attempts)(work)
    breaker.fold(run())(_.protect(run()))
  }
}
