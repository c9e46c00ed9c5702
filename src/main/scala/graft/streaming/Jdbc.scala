package graft.streaming

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.lit

import graft.sources.Formats

/** The JDBC code every store and target shares: one connection
  * helper ([[withConn]]), identifier quoting ([[q]]), the one
  * warehouse CDC apply ([[mergeBatch]]), and vendor-portable metadata
  * probes for the stores and targets that promise crash-restart
  * against "any JDBC database": a CREATE guarded by a vendor SQLState list (Derby X0Y32, Postgres
  * 42P07, MySQL 42S01 all differ) crashes the RESTART path — the one
  * these classes exist for — on every backend but the one the guard
  * was written for. Probe DatabaseMetaData instead, with the
  * table-name search-pattern wildcards escaped (a bare '_' matches
  * any character, so "graft_state" would also match a hypothetical
  * "graftXstate" — PipelineRegistry hit this first; the helper keeps
  * every store on the one correct implementation). */
object Jdbc {

  /** A quoted identifier: exact case, as Spark's JDBC writer quotes
    * a DataFrame's column names. */
  def q(c: String): String = "\"" + c + "\""

  /** Run `f` on a fresh connection to `url`, closed afterwards. */
  def withConn[A](url: String, props: Map[String, String] = Map.empty)(
      f: Connection => A): A = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    val c = DriverManager.getConnection(url, p)
    try f(c) finally c.close()
  }

  private def escaped(md: java.sql.DatabaseMetaData, name: String): String = {
    val esc = md.getSearchStringEscape
    name.replace(esc, esc + esc)
      .replace("_", esc + "_").replace("%", esc + "%")
  }

  /** Table existence via DatabaseMetaData. Quoted DDL stores the
    * exact string; UNQUOTED DDL folds per vendor (Derby upper,
    * Postgres lower) — probe all three so both DDL styles resolve. */
  def tableExists(c: Connection, table: String): Boolean = {
    val md = c.getMetaData
    Seq(table, table.toUpperCase(java.util.Locale.ROOT),
        table.toLowerCase(java.util.Locale.ROOT)).distinct.exists { t =>
      val rs = md.getTables(null, null, escaped(md, t), null)
      try rs.next() finally rs.close()
    }
  }

  /** Run `ddl` iff `table` doesn't exist; a create RACE (another
    * process won between probe and CREATE) is re-probed and
    * tolerated. */
  def ensureTable(c: Connection, table: String, ddl: String): Unit =
    if (!tableExists(c, table)) {
      try { c.createStatement().execute(ddl); () }
      catch {
        case e: java.sql.SQLException =>
          if (!tableExists(c, table)) throw e
      }
    }

  /** (name, java.sql.Types code) pairs in ordinal (creation) order —
    * what an evolving target needs to rebuild its schema cache from
    * the database on restart. Empty = no such table. */
  def columnsWithTypes(c: Connection, table: String): Seq[(String, Int)] = {
    val md = c.getMetaData
    Seq(table, table.toUpperCase(java.util.Locale.ROOT),
        table.toLowerCase(java.util.Locale.ROOT)).distinct.view.map { t =>
      val rs = md.getColumns(null, null, escaped(md, t), null)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
      try {
        while (rs.next())
          out += ((rs.getString("COLUMN_NAME"), rs.getInt("DATA_TYPE")))
      } finally rs.close()
      out.toSeq
    }.find(_.nonEmpty).getOrElse(Seq.empty)
  }

  /** The landing and staging tables [[mergeBatch]] uses for `table`;
    * a target creates them next to `table`. */
  def landingOf(table: String): String = table + "_landing"
  def stagingOf(table: String): String = table + "_staging"

  /** The one warehouse CDC apply — the reference's write path
    * (etl_snowflake/task.py:154-190) for one micro-batch of `rows`,
    * whose columns are `cols`, into `table` keyed on `pk`:
    *  1. the batch appends to `<table>_landing` tagged with `batchId`,
    *     through Spark's distributed JDBC writer (executors write in
    *     parallel; no row funnels through the driver);
    *  2. one driver-side control transaction then runs set-based SQL:
    *     dedupe the batch's landing rows to latest-per-key into
    *     `<table>_staging` (Derby's MERGE needs a table source, and its
    *     ROW_NUMBER has no PARTITION BY — the NOT EXISTS anti-join is
    *     the portable rn=1), MERGE staging into the target under the
    *     sequence guard, purge the batch's landing rows, commit.
    *
    * `seqCols` order a key's rows lexicographically; a row replaces
    * the stored one only when strictly newer on that order. A crash
    * before the commit leaves landing rows behind and the query
    * redelivers the batch: the batch-scoped landing reads, the
    * DISTINCT (exact redelivered duplicates) and the guard (stale
    * rows) absorb both replays. `onLanded`, when given, receives the
    * batch's landed row count inside the transaction, before the
    * purge. The caller owns the three tables' DDL; ONE writer per
    * target table (the staging table is shared). */
  def mergeBatch(
      url: String, props: Map[String, String], table: String, pk: String,
      seqCols: Seq[String], cols: Seq[String], batchId: Long, rows: DataFrame,
      onLanded: Option[Long => Unit] = None): Unit = {
    val landing = landingOf(table)
    val staging = stagingOf(table)
    val colList = cols.map(q).mkString(", ")
    // seq(a) > seq(b) on the lexicographic seqCols order
    def newer(a: String, b: String): String =
      seqCols.reverse.foldLeft("1 = 0") { (rest, c0) =>
        s"($a.${q(c0)} > $b.${q(c0)} OR ($a.${q(c0)} = $b.${q(c0)} AND $rest))"
      }
    val inBatch = s"${q("batch_id")} = $batchId"
    Formats.writeJdbc(rows.withColumn("batch_id", lit(batchId)),
      url, landing, props, SaveMode.Append)
    withConn(url, props) { c =>
      c.setAutoCommit(false)
      val st = c.createStatement()
      onLanded.foreach { f =>
        val rs = st.executeQuery(s"SELECT COUNT(*) FROM $landing WHERE $inBatch")
        rs.next()
        f(rs.getLong(1))
      }
      st.execute(s"DELETE FROM $staging")
      // latest-per-key within the batch: keep a landing row iff no
      // strictly-newer row for its key exists in the same batch;
      // DISTINCT absorbs exact duplicates from a redelivered landing
      // load that crashed before its purge committed
      st.execute(
        s"""INSERT INTO $staging ($colList)
           |SELECT DISTINCT $colList FROM $landing a
           |WHERE a.$inBatch AND NOT EXISTS (
           |  SELECT 1 FROM $landing b
           |  WHERE b.$inBatch AND b.${q(pk)} = a.${q(pk)}
           |    AND ${newer("b", "a")})""".stripMargin)
      val setList = cols.filterNot(_ == pk)
        .map(c0 => s"${q(c0)} = s.${q(c0)}").mkString(", ")
      st.execute(
        s"""MERGE INTO $table t USING $staging s
           |ON t.${q(pk)} = s.${q(pk)}
           |WHEN MATCHED AND ${newer("s", "t")} THEN UPDATE SET $setList
           |WHEN NOT MATCHED THEN INSERT ($colList)
           |  VALUES (${cols.map(c0 => "s." + q(c0)).mkString(", ")})""".stripMargin)
      st.execute(s"DELETE FROM $landing WHERE $inBatch")
      c.commit()
    }
  }
}
