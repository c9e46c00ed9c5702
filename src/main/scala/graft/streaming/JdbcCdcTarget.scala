package graft.streaming

import org.apache.spark.sql.Dataset

/** Warehouse-backed [[CdcTarget]]: the reference's core write path
  * (/root/reference/etl-snowflake-py/etl_snowflake/task.py:154-190 —
  * landing-table load, latest-per-key dedupe, guarded MERGE, landing
  * purge) against any JDBC warehouse, exercised in the specs against
  * embedded Derby. Each batch runs [[Jdbc.mergeBatch]], the one
  * landing → staging → MERGE → purge transaction, over CdcApplied's
  * columns keyed on `user_id` and guarded on `(ts, event_id)`.
  *
  * Crash safety is [[Jdbc.mergeBatch]]'s: a redelivered batch is
  * absorbed by the database (batch-scoped landing reads, DISTINCT,
  * the `WHEN MATCHED AND s.seq > t.seq` guard) — the [[CdcTarget]]
  * contract's idempotence, enforced by the database rather than
  * documented at the call site.
  *
  * Writer contract: ONE writer per target table (the reference's
  * scheduled merge task is likewise singular per table). A streaming
  * query calls merge sequentially per micro-batch, which satisfies
  * this; pointing two concurrent pipelines at the same target table
  * requires external serialization — the shared staging table is not
  * safe under concurrent merges.
  */
class JdbcCdcTarget(
    url: String, table: String,
    connOptions: Map[String, String] = Map.empty,
    meter: Option[EgressMeter] = None,
    pipeline: String = "default") extends CdcTarget {
  import Jdbc.q

  private val landing = Jdbc.landingOf(table)
  private val staging = Jdbc.stagingOf(table)

  /** CdcApplied's JDBC wire width: user_id/event_id BIGINT (8+8),
    * ts TIMESTAMP (8), value DOUBLE (8), is_deleted BOOLEAN (1) —
    * the byte-accounting unit for [[EgressMeter]] (etl_processed_
    * bytes' billing measure); multiplied by the landed row count the
    * warehouse itself reports, so metering never re-runs the batch. */
  private val rowBytes = 33L

  // quoted, lowercase — matches how Spark's JDBC writer quotes the
  // DataFrame's column names when appending to the landing table
  private val cols = Seq("user_id", "event_id", "ts", "value", "is_deleted")
  private val colList = cols.map(q).mkString(", ")

  ensureSchema()

  private def ensureSchema(): Unit = Jdbc.withConn(url, connOptions) { c =>
    val body =
      s"""${q("user_id")} BIGINT NOT NULL, ${q("event_id")} BIGINT NOT NULL,
         |${q("ts")} TIMESTAMP NOT NULL, ${q("value")} DOUBLE NOT NULL,
         |${q("is_deleted")} BOOLEAN NOT NULL""".stripMargin
    // vendor-portable idempotent re-attach (Jdbc scaladoc): the old
    // Derby-only X0Y32 guard crashed every non-Derby restart against
    // an existing target — the path the class doc promises to survive
    Jdbc.ensureTable(c, table,
      s"CREATE TABLE $table ($body, PRIMARY KEY (${q("user_id")}))")
    Jdbc.ensureTable(c, landing,
      s"CREATE TABLE $landing (${q("batch_id")} BIGINT NOT NULL, $body)")
    Jdbc.ensureTable(c, staging, s"CREATE TABLE $staging ($body)")
  }

  override def merge(batchId: Long, rows: Dataset[CdcApplied]): Unit =
    // byte accounting inside the txn, before the purge: the landed
    // row count is what the destination received this batch
    Jdbc.mergeBatch(url, connOptions, table, "user_id", Seq("ts", "event_id"),
      cols, batchId, rows.toDF(),
      meter.map(m => (n: Long) => m.add(pipeline, table, "streaming", n * rowBytes)))

  /** Live (non-tombstoned) target state — operational introspection
    * for specs/debugging; reads the target table over the control
    * connection (target cardinality = number of distinct keys, not
    * batch-sized). */
  def snapshot: Map[Long, CdcApplied] = Jdbc.withConn(url, connOptions) { c =>
    val rs = c.createStatement().executeQuery(
      s"SELECT $colList FROM $table WHERE ${q("is_deleted")} = FALSE")
    val out = Map.newBuilder[Long, CdcApplied]
    while (rs.next()) {
      val r = CdcApplied(rs.getLong(1), rs.getLong(2), rs.getTimestamp(3),
        rs.getDouble(4), rs.getBoolean(5))
      out += r.user_id -> r
    }
    out.result()
  }

  /** Row count left in the landing table (0 after a clean merge —
    * specs assert the purge). */
  def landingRows: Long = Jdbc.withConn(url, connOptions) { c =>
    val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $landing")
    rs.next(); rs.getLong(1)
  }
}
