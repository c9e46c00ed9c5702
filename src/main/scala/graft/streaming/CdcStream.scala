package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.{CompletableFuture, CompletionException, ExecutorService,
  Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.{Failure, Try}

import org.apache.spark.sql.{classic, Dataset}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery, Trigger}

/** One decoded CDC event (the pgoutput-decoded row analog —
  * /root/reference/src/pipeline_manager.rs decodes logical-replication
  * messages into the same shape: PK, sequence, op, payload). */
case class CdcEvent(
    event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Latest known state of one PK, as emitted downstream. (ts, event_id)
  * is the event's total-order sequence — the LSN analog — carried so
  * targets can guard merges (see [[CdcTarget]]). */
case class CdcApplied(
    user_id: Long, event_id: Long, ts: Timestamp, value: Double,
    is_deleted: Boolean)

/** Streaming CDC apply — the continuous twin of CdcOps.
  *
  * The reference holds per-table buffers sealed by size/time and
  * merges them into the destination on a schedule; in Spark the
  * buffer/seal is the micro-batch trigger, per-key latest state lives
  * in the state store (mapGroupsWithState — no reshuffle across
  * batches, state is already hash-partitioned by key), and the merge
  * is a foreachBatch sink.
  */
object CdcStream {

  private[streaming] def newer(a: CdcEvent, b: CdcEvent): CdcEvent = {
    import scala.math.Ordering.Implicits._
    if ((b.ts.getTime, b.event_id) > (a.ts.getTime, a.event_id)) b else a
  }

  private[streaming] def applied(e: CdcEvent): CdcApplied =
    CdcApplied(e.user_id, e.event_id, e.ts, e.value,
      is_deleted = e.event_type == "error")

  /** Latest-per-key over a CDC event stream. Emits the updated state
    * of every key touched in the micro-batch (update output mode). */
  def latestPerKey(events: Dataset[CdcEvent]): Dataset[CdcApplied] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[CdcEvent, CdcApplied](GroupStateTimeout.NoTimeout) {
        (_: Long, batch: Iterator[CdcEvent], state: GroupState[CdcEvent]) =>
          val latest = (state.getOption.iterator ++ batch).reduce(newer)
          state.update(latest)
          applied(latest)
      }
  }

  /** Micro-batched CDC merge into an arbitrary target (the
    * foreachBatch sink = the reference's scheduled landing→target
    * MERGE task). Every event of the batch reaches the target as an
    * applied row, as every change lands in the reference's landing
    * table; the target keeps the newest row per key (see
    * [[CdcTarget]]). The rows stay a distributed Dataset — the target
    * decides how to consume them (a warehouse target issues a
    * distributed MERGE write; nothing funnels through the driver
    * here).
    *
    * With a breaker, a failing target opens the circuit and the query
    * fails fast instead of hammering it; the checkpoint + the target's
    * sequence guard make the post-recovery redelivery lossless and
    * idempotent (see [[CircuitBreaker]], [[Sink.guarded]]).
    */
  def mergeInto(
      events: Dataset[CdcEvent],
      target: CdcTarget,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      breaker: Option[CircuitBreaker] = None,
      mergeAttempts: Int = 1,
      drift: Option[DriftGate] = None): StreamingQuery =
    Sink.start(events, checkpoint, trigger) { (batch, batchId) =>
      import batch.sparkSession.implicits._
      // drift gate first, OUTSIDE the breaker: its batchId guard
      // (+ durable store txn) makes redelivery exactly-once, and a
      // failed histogram commit fails the micro-batch BEFORE the
      // merge so Spark re-delivers both together — the gate can
      // never observe a batch the target then didn't apply twice,
      // nor vice versa (each side is idempotent under its own guard)
      drift.foreach(_.observe(batch, batchId))
      Sink.guarded(breaker, mergeAttempts)(target.merge(batchId, batch.map(applied)))
    }

  /** [[mergeInto]] with trace propagation (tracing_context.rs's
    * per-operation spans made Spark-shaped): the pipeline's root
    * context spawns a child span per micro-batch merge, and when a
    * batch's merge fails, the span — plus the batch's smallest
    * record correlation id, the deterministic representative — lands
    * in `traces` under the pipeline name,
    * where the alert sweep ([[PipelineManager.sweep]]) and the
    * metrics scrape ([[Metrics.failureSample]]) pick it up. The
    * record-id reduction runs ONLY on the failure path (one
    * metadata-sized min/agg job against the already-computed batch);
    * the success path pays nothing beyond mergeInto. */
  def mergeIntoTraced(
      pipeline: String,
      events: Dataset[TracedCdcEvent],
      target: CdcTarget,
      checkpoint: String,
      tracing: Tracing,
      rootCtx: TraceContext,
      traces: TraceRegistry,
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      breaker: Option[CircuitBreaker] = None): StreamingQuery =
    Sink.start(events, checkpoint, trigger) { (batch, batchId) =>
      import batch.sparkSession.implicits._
      val span = tracing.child(rootCtx, s"merge batch=$batchId")
      try Sink.guarded(breaker)(target.merge(batchId, batch.map(r => applied(r.event))))
      catch { case e: Throwable =>
        val firstRec =
          try Option(batch.agg(
            org.apache.spark.sql.functions.min("trace_id")).head.getString(0))
          catch { case scala.util.control.NonFatal(_) => None }
        traces.recordFailure(pipeline, FailureTrace(
          span, firstRec, batchId, System.currentTimeMillis()))
        throw e
      }
    }
}

/** One decoded CDC event tagged with its source table — the shape of
  * a LOGICAL REPLICATION STREAM, which multiplexes every published
  * table's changes in commit order (pgoutput relation messages;
  * pipeline_manager.rs resolves relation ids to per-table buffers). */
case class TableCdcEvent(
    table: String, event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double) {
  def event: CdcEvent = CdcEvent(event_id, ts, user_id, event_type, value)
}

/** [[TableCdcEvent]] carrying its wire correlation id (see
  * [[graft.sources.ChangeIngest.decodeTraced]]) — the per-record leg
  * of the tracing_context.rs contract. */
case class TracedCdcEvent(
    trace_id: String, table: String, event_id: Long, ts: Timestamp,
    user_id: Long, event_type: String, value: Double) {
  def event: CdcEvent = CdcEvent(event_id, ts, user_id, event_type, value)
}

object CdcDemux {

  /** The driver threads the per-table merges run on. Daemon threads,
    * so an idle pool never holds the JVM open; cached, so the thread
    * count follows the number of tables in flight. */
  private lazy val pool: ExecutorService = {
    val n = new AtomicInteger
    Executors.newCachedThreadPool { r =>
      val t = new Thread(r, s"graft-cdc-demux-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  /** Route one multiplexed CDC stream to per-table merge targets —
    * the reference's one-replication-slot → many-table-buffers shape.
    * Each micro-batch is cached once, then each REGISTERED table's
    * slice, one applied row per event, is merged into that table's
    * target (same contract as [[CdcStream.mergeInto]]: the target
    * keeps the newest row per key, and its sequence guard makes
    * redelivery idempotent per table). Events for tables with no
    * registered target are counted through `onUnrouted` (the
    * reference logs-and-skips unpublished relations) — they are NOT
    * an error: replication slots commonly carry more tables than one
    * pipeline consumes.
    *
    * Concurrency: the tables merge AT THE SAME TIME, one driver
    * thread each, so a batch costs its slowest table's merge instead
    * of the sum of all of them (each merge is a handful of small,
    * driver-bound Spark jobs that leave the executors mostly idle).
    * The unrouted count runs beside them on the same pool, as one
    * narrow job (per-partition counts summed on the driver). Each
    * thread carries the micro-batch thread's Spark thread-locals
    * (active session, job group, local properties), so cancelling the
    * query cancels every table's jobs. The batch waits for EVERY
    * table and the count before it finishes: if any merge failed, the
    * first failure in table-name order is rethrown (inside the
    * breaker), after the other jobs have returned. `onUnrouted` fires
    * only once every merge has succeeded, and the cached batch is
    * unpersisted last — nothing unpersists the cache under a running
    * job. A table whose merge committed before a failure elsewhere is
    * skipped on redelivery by its own txn/sequence guard. Targets are
    * therefore called from several threads at once — one object
    * registered under two table names must be thread-safe.
    *
    * Scale: the demux adds no shuffle — each table's slice is a
    * filter over the cached batch, and the count is narrow. Targets
    * merge a distributed Dataset, never a driver-side copy. */
  def mergeInto(
      events: Dataset[TableCdcEvent],
      targets: Map[String, CdcTarget],
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      onUnrouted: Long => Unit = _ => (),
      breaker: Option[CircuitBreaker] = None): StreamingQuery =
    Sink.start(events, checkpoint, trigger) { (batch, batchId) =>
      import batch.sparkSession.implicits._
      val known = targets.keySet // closure-capture the names only
      val cached = batch.persist()
      val session = cached.sparkSession.asInstanceOf[classic.SparkSession]
      def onPool[A](work: => A): CompletableFuture[A] =
        SQLExecution.withThreadLocalCaptured(session, pool)(work)
      // join() waits uninterruptibly: every job has returned before a
      // failure surfaces or the cache is released
      def await[A](f: CompletableFuture[A]): Try[A] = Try(f.join()).recoverWith {
        case e: CompletionException if e.getCause != null => Failure(e.getCause)
      }
      try {
        // the breaker wraps the whole routing pass (one slot = one
        // circuit, as in mergeInto): a failing table target fails
        // the batch, and redelivery is per-table idempotent via
        // each target's txn/sequence guard
        val unrouted = Sink.guarded(breaker) {
          val merges = targets.toSeq.sortBy(_._1).map { case (tbl, target) =>
            onPool(target.merge(batchId,
              cached.filter(_.table == tbl).map(e => CdcStream.applied(e.event))))
          }
          val count = onPool(cached.mapPartitions(es =>
            Iterator.single(es.count(e => !known.contains(e.table)).toLong))
            .collect().sum)
          val failed = merges.map(await).collectFirst { case Failure(e) => e }
          val counted = await(count)
          failed.foreach(throw _)
          counted
        }.get
        if (unrouted > 0) onUnrouted(unrouted)
      } finally cached.unpersist()
    }
}

/** Merge destination abstraction (Snowflake/BigQuery/Iceberg writer
  * analog). `rows` is the micro-batch, one applied row per event, as
  * a distributed Dataset — implementations consume it with
  * distributed writes (e.g. a temp-table load + MERGE), never by
  * funnelling through the driver.
  *
  * Ordering contract: batches within one stream arrive with
  * increasing `batchId`. A batch may carry SEVERAL rows for one key,
  * in any order; the target keeps the newest by `(ts, event_id)` — the
  * reference's landing-table dedupe, done once, by the target. Rows
  * with equal `(ts, event_id)` are the same event (a redelivered
  * copy), so either may win. A key's events may also arrive out of
  * order ACROSS batches (late data), and a restarted query redelivers
  * its last batch (at-least-once). Implementations MUST therefore
  * guard on the sequence — apply a row only when `(ts, event_id)`
  * exceeds the target's stored pair for that key, the `WHEN MATCHED
  * AND source.seq > target.seq` MERGE predicate. That guard makes the
  * merge both out-of-order-safe and redelivery-idempotent.
  * [[PartitionedTableCdcTarget]] and [[TableCdcTarget]] keep the
  * newest row with one `max_by`, [[Jdbc.mergeBatch]] with its staging
  * anti-join and the MERGE guard, [[InMemoryCdcTarget]] with its
  * guard.
  *
  * Every CDC sink calls a target the same way: [[Sink.start]] drives
  * the micro-batches and the merge runs under [[Sink.guarded]] (retry
  * inside the circuit breaker). The JDBC targets share one warehouse
  * transaction, [[Jdbc.mergeBatch]]. */
trait CdcTarget extends Serializable {
  def merge(batchId: Long, rows: Dataset[CdcApplied]): Unit
}

/** In-memory convenience target for specs and local debugging — the
  * production-shaped implementation is [[JdbcCdcTarget]], which
  * enforces the same contract in warehouse-side SQL. The collect() here
  * is the test-only materialization of a tiny batch into a local map
  * — a real target consumes the Dataset distributively. */
class InMemoryCdcTarget extends CdcTarget {
  private val state = scala.collection.concurrent.TrieMap.empty[Long, CdcApplied]
  private val mergedBatches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()

  private def seq(r: CdcApplied): (Long, Long) = (r.ts.getTime, r.event_id)

  override def merge(batchId: Long, rows: Dataset[CdcApplied]): Unit = {
    mergedBatches.add(batchId)
    rows.collect().foreach { r =>
      import scala.math.Ordering.Implicits._
      // the sequence guard from the CdcTarget contract: stale rows
      // (out-of-order or redelivered) must not regress newer state
      // deletes are kept as tombstones (not removed) so the guard can
      // still reject a stale pre-delete row that arrives later
      val fresh = state.get(r.user_id).forall(cur => seq(r) > seq(cur))
      if (fresh) state.put(r.user_id, r)
    }
  }

  def snapshot: Map[Long, CdcApplied] =
    state.toMap.filter { case (_, r) => !r.is_deleted }

  /** The model of a physical erasure ([[graft.sources.VersionedTable
    * .deleteKeys]]): the keys' state goes, tombstones included, so a
    * later stale row for one of them is fresh again. */
  def erase(keys: Iterable[Long]): Unit = keys.foreach(state.remove)

  /** batchIds merged, in arrival order — lets specs assert resume
    * behavior (no re-merge of committed batches after a restart). */
  def batchesMerged: Seq[Long] = {
    import scala.jdk.CollectionConverters._
    mergedBatches.asScala.toSeq
  }
}
