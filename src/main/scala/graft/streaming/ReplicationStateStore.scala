package graft.streaming

import java.sql.{Connection, Timestamp}

import scala.collection.concurrent.TrieMap

/** Durable per-table replication registry — the reference's state
  * store semantics (/root/reference/src/store/redis_store.rs:346-398:
  * memory updated first and always ahead of the backend, persists
  * retried with backoff and tolerated-on-exhaustion, last durable
  * state reloaded after a crash; :420-446 table-name mappings;
  * :485 cleanup) re-expressed over any JDBC database instead of
  * Redis, exercised in the specs against embedded Derby.
  *
  * Spark's own checkpoint already makes stream OFFSETS durable; this
  * registry carries the ORCHESTRATION state the checkpoint doesn't:
  * which lifecycle phase each replicated table is in (init → initial
  * data sync → synced → streaming-ready, or errored/skipped) and the
  * source→destination table mapping — what an operator consults to
  * answer "is this table fully backfilled and safe to query?".
  *
  * Consistency contract (the reference's, kept deliberately):
  * `update` writes memory first, then best-effort persists — a
  * process that loses its backend keeps running on memory and
  * re-persists on later updates (eventual consistency); a process
  * that CRASHES restarts from the last successful persist, which is
  * never ahead of what callers observed. Readers always see memory.
  */
object ReplicationState {
  sealed abstract class Phase(val name: String)
  case object Init extends Phase("init")
  case object DataSync extends Phase("data_sync")
  case object FinishedCopy extends Phase("finished_copy")
  case object Ready extends Phase("ready")
  case object Skipped extends Phase("skipped")
  final case class Errored(reason: String) extends Phase("errored")

  def parse(name: String, reason: String): Phase = name match {
    case "init" => Init
    case "data_sync" => DataSync
    case "finished_copy" => FinishedCopy
    case "ready" => Ready
    case "skipped" => Skipped
    case "errored" => Errored(reason)
    case other => sys.error(s"unknown replication phase '$other'")
  }
}

class ReplicationStateStore(
    url: String,
    table: String = "graft_replication_state",
    persistAttempts: Int = 3) {
  import ReplicationState._

  final case class Entry(phase: Phase, mapping: Option[String],
      updatedAt: Timestamp)

  private val mem = TrieMap.empty[String, Entry]

  ensureSchema()
  load()

  import Jdbc.q

  private def ensureSchema(): Unit = Jdbc.withConn(url) { c =>
    // vendor-portable probe (Jdbc scaladoc) — the old Derby-only
    // X0Y32 guard crashed every non-Derby RESTART, the exact path
    // the 'any JDBC database' contract promises to survive
    Jdbc.ensureTable(c, table,
      s"""CREATE TABLE ${q(table)} (
         |${q("tbl")} VARCHAR(256) PRIMARY KEY,
         |${q("phase")} VARCHAR(32) NOT NULL,
         |${q("reason")} VARCHAR(1024),
         |${q("mapping")} VARCHAR(512),
         |${q("updated_at")} TIMESTAMP NOT NULL)""".stripMargin)
  }

  /** Warm memory from the last durable snapshot (crash restart). */
  def load(): Int = Jdbc.withConn(url) { c =>
    val rs = c.createStatement().executeQuery(
      s"SELECT ${q("tbl")}, ${q("phase")}, ${q("reason")}, " +
        s"${q("mapping")}, ${q("updated_at")} FROM ${q(table)}")
    var n = 0
    while (rs.next()) {
      mem.put(rs.getString(1), Entry(
        parse(rs.getString(2), Option(rs.getString(3)).getOrElse("")),
        Option(rs.getString(4)), rs.getTimestamp(5)))
      n += 1
    }
    n
  }

  def get(tbl: String): Option[Phase] = mem.get(tbl).map(_.phase)
  def mapping(tbl: String): Option[String] = mem.get(tbl).flatMap(_.mapping)
  def all: Map[String, Phase] = mem.view.mapValues(_.phase).toMap

  /** Tables an operator may serve queries from. */
  def ready: Set[String] =
    mem.collect { case (t, e) if e.phase == Ready => t }.toSet

  /** Memory first, then retried best-effort persist (the reference
    * tolerates persist exhaustion — memory stays ahead, later
    * updates re-persist). Returns false iff persistence exhausted. */
  def update(tbl: String, phase: Phase,
      mapping: Option[String] = None): Boolean = {
    val entry = Entry(phase,
      mapping.orElse(mem.get(tbl).flatMap(_.mapping)),
      new Timestamp(System.currentTimeMillis()))
    mem.put(tbl, entry)
    try {
      Retry.withBackoff(maxAttempts = persistAttempts,
        baseDelayMillis = 50)(persist(tbl, entry))
      true
    } catch { case scala.util.control.NonFatal(_) => false }
  }

  /** Atomic multi-key transition — the reference's MULTI/EXEC
    * transaction (/root/reference/src/store/redis_transaction.rs:14
    * wraps table-state + mapping updates in one Redis transaction so
    * a crash can't leave them durably half-applied): every row in
    * `changes` persists in ONE JDBC transaction — all land or none
    * do. Memory still updates first (the store's documented
    * memory-ahead-of-backend contract), so a persist failure leaves
    * the process running on memory and the BACKEND consistently at
    * the pre-transaction snapshot; the crash-restart reload then
    * resumes from that snapshot, never from a torn one. Returns
    * false iff persistence exhausted its retries. */
  def updateAll(changes: Seq[(String, Phase, Option[String])]): Boolean = {
    val now = new Timestamp(System.currentTimeMillis())
    val entries = changes.map { case (tbl, phase, mapping) =>
      tbl -> Entry(phase,
        mapping.orElse(mem.get(tbl).flatMap(_.mapping)), now)
    }
    entries.foreach { case (tbl, e) => mem.put(tbl, e) }
    try {
      Retry.withBackoff(maxAttempts = persistAttempts,
        baseDelayMillis = 50)(persistAll(entries))
      true
    } catch { case scala.util.control.NonFatal(_) => false }
  }

  private def persistAll(entries: Seq[(String, Entry)]): Unit = Jdbc.withConn(url) { c =>
    c.setAutoCommit(false)
    try {
      entries.foreach { case (tbl, e) =>
        persistOn(c, tbl, e)
        afterRowPersist(tbl)
      }
      c.commit()
    } catch {
      case e: Throwable => c.rollback(); throw e
    }
  }

  /** Failure-injection seam for the atomicity spec: called after each
    * row's statement inside the transaction, BEFORE commit — a spec
    * override that throws models a crash mid-transaction. No-op in
    * production. */
  protected def afterRowPersist(tbl: String): Unit = ()

  /** Drop a table's state everywhere (reference cleanup_table_state). */
  def cleanup(tbl: String): Unit = {
    mem.remove(tbl)
    Jdbc.withConn(url) { c =>
      val del = c.prepareStatement(
        s"DELETE FROM ${q(table)} WHERE ${q("tbl")} = ?")
      del.setString(1, tbl); del.executeUpdate()
    }
  }

  private def persist(tbl: String, e: Entry): Unit =
    Jdbc.withConn(url)(persistOn(_, tbl, e))

  private def persistOn(c: Connection, tbl: String, e: Entry): Unit = {
    val reason = e.phase match {
      case Errored(r) => r
      case _ => null
    }
    val upd = c.prepareStatement(
      s"UPDATE ${q(table)} SET ${q("phase")} = ?, ${q("reason")} = ?, " +
        s"${q("mapping")} = ?, ${q("updated_at")} = ? WHERE ${q("tbl")} = ?")
    upd.setString(1, e.phase.name); upd.setString(2, reason)
    upd.setString(3, e.mapping.orNull); upd.setTimestamp(4, e.updatedAt)
    upd.setString(5, tbl)
    if (upd.executeUpdate() == 0) {
      val ins = c.prepareStatement(
        s"INSERT INTO ${q(table)} (${q("tbl")}, ${q("phase")}, " +
          s"${q("reason")}, ${q("mapping")}, ${q("updated_at")}) " +
          "VALUES (?, ?, ?, ?, ?)")
      ins.setString(1, tbl); ins.setString(2, e.phase.name)
      ins.setString(3, reason); ins.setString(4, e.mapping.orNull)
      ins.setTimestamp(5, e.updatedAt)
      ins.executeUpdate()
    }
  }
}
