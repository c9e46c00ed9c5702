package graft.streaming

import java.sql.{Connection, Timestamp}

/** Desired pipeline state as one config row — the reference's
  * `pipelines` table shape (migrations/001_create_tables.sql defines
  * sources/destinations/pipelines; src/repository/pipeline_repository.rs
  * reads it; src/main.rs polls and spawns/stops workers to match).
  * `source` and `target` are opaque connection descriptors the
  * reconciler's builder resolves (a path for the file/Kafka ingest, a
  * JDBC url + table for a warehouse target) — the registry stores and
  * diffs config, it never interprets it. */
final case class PipelineSpec(
    name: String,
    source: String,
    target: String,
    checkpoint: String,
    enabled: Boolean)

/** Registry-driven pipeline provisioning: desired state lives in a
  * database table, [[reconcile]] converges the running
  * [[PipelineManager]] to it — the reference's config-poll loop
  * (main.rs: every cycle, read the pipelines table, start workers for
  * new/enabled rows, stop workers whose rows are gone/disabled).
  *
  * The table IS the API: an operator (or a control plane) INSERTs /
  * UPDATEs rows and the next reconcile tick picks them up — no
  * redeploy, no driver restart. Because desired state is durable and
  * actual state is derived, a crashed driver reconverges from the
  * table alone on restart (the spec kills and rebuilds the manager
  * against the same registry and observes the same pipelines come
  * back).
  *
  * Same embedded-JDBC durability pattern as [[ReplicationStateStore]]
  * (Derby in tests; any JDBC database in production). Config
  * validation runs at [[upsert]] time — reject bad rows BEFORE they
  * land in the table (the reference's config_validation.rs gate:
  * fail at registration, not at spawn). */
class PipelineRegistry(url: String, table: String = "graft_pipelines") {

  import Jdbc.q

  ensureSchema()

  /** Vendor-portable existence check — now the shared
    * [[Jdbc.tableExists]] (this class had the first correct
    * implementation; r11 hoisted it so every store/target uses the
    * one escaped, portable probe). */
  private def tableExists(c: Connection): Boolean =
    Jdbc.tableExists(c, table)

  private def ensureSchema(): Unit = Jdbc.withConn(url) { c =>
    if (!tableExists(c)) {
      val ddl =
        s"""CREATE TABLE ${q(table)} (
           |${q("name")} VARCHAR(256) PRIMARY KEY,
           |${q("source")} VARCHAR(1024) NOT NULL,
           |${q("target")} VARCHAR(1024) NOT NULL,
           |${q("checkpoint")} VARCHAR(1024) NOT NULL,
           |${q("enabled")} INT NOT NULL,
           |${q("updated_at")} TIMESTAMP NOT NULL)""".stripMargin
      // two registrars can both see "absent" — the loser's duplicate
      // CREATE is fine as long as the table now exists
      try { c.createStatement().execute(ddl) }
      catch { case e: java.sql.SQLException if tableExists(c) => () }
    }
  }

  /** Reject obviously-broken config before it becomes desired state
    * (the reference validates source/destination connectivity and
    * names before a pipeline row is accepted). */
  private[streaming] def validate(spec: PipelineSpec): Unit = {
    require(spec.name.nonEmpty && spec.name.length <= 256 &&
      spec.name.matches("[A-Za-z0-9_.-]+"),
      s"invalid pipeline name '${spec.name}': use [A-Za-z0-9_.-]{1,256}")
    require(spec.source.trim.nonEmpty, s"${spec.name}: empty source")
    require(spec.target.trim.nonEmpty, s"${spec.name}: empty target")
    require(spec.checkpoint.trim.nonEmpty, s"${spec.name}: empty checkpoint")
  }

  /** Create or update a pipeline's desired state. UPDATE-then-INSERT
    * with a duplicate-key retry: two registrars racing the INSERT are
    * serialized by the PK — the loser's violation downgrades to an
    * UPDATE (vendor-neutral MERGE is not in the common dialect). */
  def upsert(spec: PipelineSpec): Unit = {
    validate(spec)
    Jdbc.withConn(url) { c =>
      val now = new Timestamp(System.currentTimeMillis())
      def update(): Int = {
        val upd = c.prepareStatement(
          s"UPDATE ${q(table)} SET ${q("source")} = ?, ${q("target")} = ?, " +
            s"${q("checkpoint")} = ?, ${q("enabled")} = ?, " +
            s"${q("updated_at")} = ? WHERE ${q("name")} = ?")
        upd.setString(1, spec.source); upd.setString(2, spec.target)
        upd.setString(3, spec.checkpoint)
        upd.setInt(4, if (spec.enabled) 1 else 0)
        upd.setTimestamp(5, now); upd.setString(6, spec.name)
        upd.executeUpdate()
      }
      if (update() == 0) {
        val ins = c.prepareStatement(
          s"INSERT INTO ${q(table)} (${q("name")}, ${q("source")}, " +
            s"${q("target")}, ${q("checkpoint")}, ${q("enabled")}, " +
            s"${q("updated_at")}) VALUES (?, ?, ?, ?, ?, ?)")
        ins.setString(1, spec.name); ins.setString(2, spec.source)
        ins.setString(3, spec.target); ins.setString(4, spec.checkpoint)
        ins.setInt(5, if (spec.enabled) 1 else 0); ins.setTimestamp(6, now)
        try ins.executeUpdate()
        catch {
          // SQLState class 23 = integrity-constraint violation on every
          // vendor; the racing row now exists, so overwrite it
          case e: java.sql.SQLException
              if Option(e.getSQLState).exists(_.startsWith("23")) =>
            require(update() == 1,
              s"${spec.name}: lost upsert race and retry UPDATE matched no row")
        }
      }
    }
  }

  /** Mark a pipeline disabled (kept in the table — history and
    * re-enable stay one UPDATE away; the next reconcile stops it). */
  def disable(name: String): Unit = setEnabled(name, enabled = false)

  def enable(name: String): Unit = setEnabled(name, enabled = true)

  private def setEnabled(name: String, enabled: Boolean): Unit =
    Jdbc.withConn(url) { c =>
      val upd = c.prepareStatement(
        s"UPDATE ${q(table)} SET ${q("enabled")} = ?, ${q("updated_at")} = ? " +
          s"WHERE ${q("name")} = ?")
      upd.setInt(1, if (enabled) 1 else 0)
      upd.setTimestamp(2, new Timestamp(System.currentTimeMillis()))
      upd.setString(3, name)
      require(upd.executeUpdate() == 1, s"no pipeline '$name' registered")
    }

  /** Remove a pipeline row entirely (the next reconcile stops it). */
  def remove(name: String): Unit = Jdbc.withConn(url) { c =>
    val del = c.prepareStatement(
      s"DELETE FROM ${q(table)} WHERE ${q("name")} = ?")
    del.setString(1, name); del.executeUpdate()
  }

  /** All desired state, enabled or not. */
  def list(): Seq[PipelineSpec] = Jdbc.withConn(url) { c =>
    val rs = c.createStatement().executeQuery(
      s"SELECT ${q("name")}, ${q("source")}, ${q("target")}, " +
        s"${q("checkpoint")}, ${q("enabled")} FROM ${q(table)}")
    val out = Seq.newBuilder[PipelineSpec]
    while (rs.next()) out += PipelineSpec(rs.getString(1), rs.getString(2),
      rs.getString(3), rs.getString(4), rs.getInt(5) == 1)
    out.result()
  }

  final case class ReconcileReport(
      started: Seq[String], stopped: Seq[String], failed: Map[String, String])

  /** One reconcile tick: converge `mgr` to the table's desired state.
    *   - desired-and-enabled but not running → build + start
    *   - running but disabled/absent → stop
    *   - running and desired → leave alone (config EDITS to a live
    *     pipeline take effect via disable → reconcile → enable, the
    *     reference's restart-on-change semantics made explicit)
    * A spec whose builder/start throws lands in `failed` and does NOT
    * abort the tick — one bad pipeline must not block the fleet's
    * convergence (the breaker/alert stack owns ongoing failure). Call
    * on the monitor cadence alongside [[PipelineManager.sweep]]. */
  def reconcile(mgr: PipelineManager)(
      build: PipelineSpec => (org.apache.spark.sql.Dataset[CdcEvent], CdcTarget))
      : ReconcileReport =
    reconcileCore(mgr) { spec =>
      val (events, target) = build(spec)
      mgr.startCdc(spec.name, events, target, spec.checkpoint); ()
    }

  /** [[reconcile]] whose builder also provisions a per-pipeline
    * [[DriftGate]] (VERDICT r11 item 7): the gate rides the managed
    * pipeline exactly like its breaker and lag listener — observed
    * in-batch by the merge query, swept into alerts by
    * [[PipelineManager.sweep]] under `<pipeline>:drift:<type>` keys —
    * so a reconciled (or crash-reconverged) pipeline gets durable PSI
    * continuity with NO bespoke foreachBatch wiring: the builder just
    * constructs the gate from its durable store, and the reloaded
    * store resumes the accumulated histogram (DriftStateStore's
    * crash-restart contract). */
  def reconcileGated(mgr: PipelineManager)(
      build: PipelineSpec =>
        (org.apache.spark.sql.Dataset[CdcEvent], CdcTarget, Option[DriftGate]))
      : ReconcileReport =
    reconcileCore(mgr) { spec =>
      val (events, target, gate) = build(spec)
      mgr.startCdc(spec.name, events, target, spec.checkpoint, drift = gate); ()
    }

  /** [[reconcile]] for EVOLVING pipelines — raw JSON change streams
    * into schema-widening targets via
    * [[PipelineManager.startEvolving]]: the reference manages
    * drifting pipelines through the same desired-state machinery as
    * fixed-schema ones (the self-heal lives at the destination,
    * schema_cache.rs), so a drift-prone source is enabled, disabled,
    * crash-reconverged, and swept exactly like any other registry
    * row — and on re-start the target's restart-reload contract
    * (manifest/DB schema) means the reborn pipeline keeps every
    * column the stream ever gained. */
  def reconcileEvolving(mgr: PipelineManager)(
      build: PipelineSpec =>
        (org.apache.spark.sql.Dataset[String], EvolvingCdcTarget))
      : ReconcileReport =
    reconcileCore(mgr) { spec =>
      val (raw, target) = build(spec)
      mgr.startEvolving(spec.name, raw, target, spec.checkpoint); ()
    }

  /** [[reconcile]] for REPLICATION pipelines — the builder resolves a
    * spec row to a [[TableFollower]], started through
    * [[PipelineManager.startFollower]]: replica fan-out is provisioned,
    * disabled, and crash-reconverged from the same desired-state table
    * as the merge pipelines (the reference manages its per-warehouse
    * replication workers through the same manager loop). */
  def reconcileFollower(mgr: PipelineManager)(
      build: PipelineSpec => TableFollower): ReconcileReport =
    reconcileCore(mgr) { spec =>
      mgr.startFollower(spec.name, build(spec), spec.checkpoint); ()
    }

  /** [[reconcile]] for table-MAINTENANCE pipelines: the row's
    * `source` is the table root and its `target` is a
    * [[MaintenanceConfig]] descriptor (`pk=...;bytes=...;files=...;
    * keep=...`) — and the budgets are read back from the TABLE at
    * every maintenance pass, not captured at start, so an operator
    * retunes a live table with one UPDATE to the row (VERDICT r13
    * item 6: the desired-state table is the config surface). Only
    * enable/disable/remove need a reconcile tick; budget edits take
    * effect on the running pipeline's next pass. A row whose
    * descriptor has gone unparsable fails THAT pass loudly (breaker
    * path), never silently reverts to defaults. */
  def reconcileMaintenance(mgr: PipelineManager): ReconcileReport =
    reconcileCore(mgr) { spec =>
      // validate the descriptor at provision time (bad rows land in
      // `failed`, the reference's config_validation gate) ...
      MaintenanceConfig.decode(spec.target)
      mgr.startMaintenanceFrom(spec.name, spec.source,
        // ... and re-resolve it per pass: the row is live config. A
        // row deleted mid-flight keeps the last-provisioned budgets
        // until the next reconcile stops the pipeline.
        () => lookup(spec.name).map(r => MaintenanceConfig.decode(r.target))
          .getOrElse(MaintenanceConfig.decode(spec.target)),
        checkpoint = spec.checkpoint); ()
    }

  /** One row by name (None when absent). */
  def lookup(name: String): Option[PipelineSpec] = Jdbc.withConn(url) { c =>
    val ps = c.prepareStatement(
      s"SELECT ${q("name")}, ${q("source")}, ${q("target")}, " +
        s"${q("checkpoint")}, ${q("enabled")} FROM ${q(table)} " +
        s"WHERE ${q("name")} = ?")
    ps.setString(1, name)
    val rs = ps.executeQuery()
    if (rs.next()) Some(PipelineSpec(rs.getString(1), rs.getString(2),
      rs.getString(3), rs.getString(4), rs.getInt(5) == 1))
    else None
  }

  /** [[reconcile]] for MULTI-TABLE demux pipelines: the builder
    * resolves a spec to one multiplexed change stream plus its
    * per-table targets, started through [[PipelineManager.startDemux]]
    * — the reference's per-source worker (one replication slot, many
    * table buffers) provisioned from the same desired-state table. */
  def reconcileDemux(mgr: PipelineManager)(
      build: PipelineSpec =>
        (org.apache.spark.sql.Dataset[TableCdcEvent], Map[String, CdcTarget]))
      : ReconcileReport =
    reconcileCore(mgr) { spec =>
      val (events, targets) = build(spec)
      mgr.startDemux(spec.name, events, targets, spec.checkpoint); ()
    }

  private def reconcileCore(mgr: PipelineManager)(
      start: PipelineSpec => Unit): ReconcileReport = {
    val desired = list().filter(_.enabled).map(s => s.name -> s).toMap
    val registered = mgr.names
    val running = registered.filter(n => mgr.get(n).exists(_.query.isActive))
    // stop EVERY undesired registration, dead or alive — a crashed
    // query that was then disabled must still release its manager
    // entry and session-global listener, or it leaks for the
    // driver's lifetime
    val toStop = registered.filterNot(desired.contains)
    val started = Seq.newBuilder[String]
    val stopped = Seq.newBuilder[String]
    val failed = Map.newBuilder[String, String]
    // each stop is guarded like each start: StreamingQuery.stop can
    // throw on timeout, and one refusing pipeline must not abort the
    // rest of the tick's convergence. A failed stop keeps its manager
    // registration (PipelineManager.stop removes only on success), so
    // the NEXT tick sees it still registered-but-undesired and
    // retries — `stopped` reports only stops that actually landed.
    toStop.toSeq.sorted.foreach { name =>
      try { mgr.stop(name); stopped += name }
      catch { case scala.util.control.NonFatal(e) =>
        failed += name -> Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // desired-but-dead registrations restart: the manager's start
    // replaces a non-active registration, releasing its stale
    // listener first
    desired.toSeq.sortBy(_._1).foreach { case (name, spec) =>
      if (!running.contains(name))
        try { start(spec); started += name }
        catch { case scala.util.control.NonFatal(e) =>
          failed += name -> Option(e.getMessage).getOrElse(e.getClass.getName)
        }
    }
    ReconcileReport(started.result(), stopped.result(), failed.result())
  }
}
