package graft.streaming

/** Durable backing for [[DriftStream]]'s accumulated current-side
  * histogram (VERDICT r10 item 7): the batchId guard made RE-DELIVERY
  * exactly-once, but the cell map lived only in memory — a process
  * restart silently reset PSI to cold-start. This store persists the
  * (event_type, bucket) → n cells PLUS the last-applied batch id in
  * ONE JDBC transaction per micro-batch, so the durable state is
  * always an exact prefix of the delivered batch sequence:
  *
  *   - commit succeeds → cells and marker land together; a crash
  *     after it restarts with PSI continuity and skips the re-played
  *     batch via the reloaded marker.
  *   - commit fails → [[DriftStream.observeBatch]] rethrows, the
  *     micro-batch FAILS, Spark does not commit the source offset and
  *     re-delivers the batch — nothing was durably applied, so the
  *     retry is not a double-count.
  *
  * State volume is alphabet×bins — corpus-volume independent (the
  * same boundedness argument as the in-memory map), so a plain JDBC
  * row per cell is the right shape; exercised against embedded Derby
  * in the specs like the other JDBC-backed stores
  * (ReplicationStateStore's posture; the reference keeps equivalent
  * monitor state in its external store,
  * /root/reference/src/store/redis_store.rs:346-398). */
class DriftStateStore(url: String, table: String = "graft_drift_state") {

  import Jdbc.q

  ensureSchema()

  private def ensureSchema(): Unit = Jdbc.withConn(url) { c =>
    // vendor-portable + wildcard-escaped existence probe (Jdbc
    // scaladoc): a SQLState guard or an unescaped getTables pattern
    // both break exactly on the restart path this store exists for
    Jdbc.ensureTable(c, table,
      s"""CREATE TABLE ${q(table)} (
         |${q("typ")} VARCHAR(256) NOT NULL,
         |${q("bucket")} BIGINT NOT NULL,
         |${q("n")} BIGINT NOT NULL,
         |PRIMARY KEY (${q("typ")}, ${q("bucket")}))""".stripMargin)
    Jdbc.ensureTable(c, table + "_meta",
      s"""CREATE TABLE ${q(table + "_meta")} (
         |${q("id")} INT PRIMARY KEY,
         |${q("last_batch_id")} BIGINT NOT NULL)""".stripMargin)
  }

  /** The last durable snapshot: accumulated cells + the id of the
    * last batch they include (-1 = nothing applied yet). */
  def load(): (Map[(String, Long), Long], Long) = Jdbc.withConn(url) { c =>
    val cells = scala.collection.mutable.Map.empty[(String, Long), Long]
    val rs = c.createStatement().executeQuery(
      s"SELECT ${q("typ")}, ${q("bucket")}, ${q("n")} FROM ${q(table)}")
    while (rs.next())
      cells((rs.getString(1), rs.getLong(2))) = rs.getLong(3)
    val ms = c.createStatement().executeQuery(
      s"SELECT ${q("last_batch_id")} FROM ${q(table + "_meta")}")
    val bid = if (ms.next()) ms.getLong(1) else -1L
    (cells.toMap, bid)
  }

  /** Apply one micro-batch's cell DELTAS and advance the batch marker
    * in one transaction — all land or none do. The marker is what
    * makes redelivery exactly-once, so [[DriftStream]] REJECTS
    * unguarded (batchId < 0) folds when a store is configured; the
    * batchId < 0 branch here (cells without marker) exists only for
    * tooling that owns its own idempotence. */
  def commitBatch(batchId: Long,
      cells: Iterable[(String, Long, Long)]): Unit = Jdbc.withConn(url) { c =>
    c.setAutoCommit(false)
    try {
      val upd = c.prepareStatement(
        s"UPDATE ${q(table)} SET ${q("n")} = ${q("n")} + ? " +
          s"WHERE ${q("typ")} = ? AND ${q("bucket")} = ?")
      val ins = c.prepareStatement(
        s"INSERT INTO ${q(table)} (${q("typ")}, ${q("bucket")}, ${q("n")}) " +
          "VALUES (?, ?, ?)")
      cells.foreach { case (t, b, n) =>
        upd.setLong(1, n); upd.setString(2, t); upd.setLong(3, b)
        if (upd.executeUpdate() == 0) {
          ins.setString(1, t); ins.setLong(2, b); ins.setLong(3, n)
          ins.executeUpdate()
        }
      }
      if (batchId >= 0) {
        val um = c.prepareStatement(
          s"UPDATE ${q(table + "_meta")} SET ${q("last_batch_id")} = ? " +
            s"WHERE ${q("id")} = 0")
        um.setLong(1, batchId)
        if (um.executeUpdate() == 0) {
          val im = c.prepareStatement(
            s"INSERT INTO ${q(table + "_meta")} " +
              s"(${q("id")}, ${q("last_batch_id")}) VALUES (0, ?)")
          im.setLong(1, batchId)
          im.executeUpdate()
        }
      }
      c.commit()
    } catch {
      case e: Throwable => c.rollback(); throw e
    }
  }
}
