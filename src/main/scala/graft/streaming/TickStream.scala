package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Timer-driven managed work: Structured Streaming's rate source as
  * the scheduler (the reference runs its replication ticks and
  * cleanup.py sweeps on timers owned by the pipeline manager;
  * Spark-side the query scheduler IS the timer, so a tick loop gets
  * checkpointed cadence, the scoped lag listener, and the breaker
  * for free, exactly like the merge pipelines).
  *
  * The checkpoint persists ONLY the schedule position — a tick
  * carries no data — so everything `work` does must be exactly-once
  * or idempotent under ITS OWN transactional medium: a
  * [[TableFollower.tick]] is guarded by the destination manifest txn,
  * a [[graft.sources.VersionedTable.maintain]] pass is data-identical
  * by construction. A redelivered or skipped tick is therefore
  * harmless (the next one converges), which is why the rate source's
  * at-least-once delivery needs no further guard here.
  *
  * Each tick runs under [[Sink.guarded]], as the merge pipelines do:
  * a failing tick counts as one breaker failure, and an open breaker
  * fails ticks fast until the probe succeeds.
  */
object TickStream {

  def ticks(spark: SparkSession, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      breaker: Option[CircuitBreaker] = None)(work: () => Unit): StreamingQuery =
    Sink.start(spark.readStream.format("rate").option("rowsPerSecond", "1").load(),
      checkpoint, trigger) { (_, _) => Sink.guarded(breaker)(work()) }
}
