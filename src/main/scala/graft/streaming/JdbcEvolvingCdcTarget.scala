package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Schema-evolving warehouse target: the same guarded
  * landing→staging→MERGE transaction as [[JdbcCdcTarget]]
  * ([[Jdbc.mergeBatch]]), over a column list that widens with the
  * reference destination's schema self-heal (its schema_cache.rs —
  * "add missing columns, then retry") enforced by real `ALTER TABLE
  * ADD COLUMN` DDL instead of an in-memory log. Consumed through
  * [[SchemaEvolution.mergeEvolvingJson]]: by the time merge() runs,
  * the batch is already aligned to [[schema]], and a batch that
  * gained a column has already widened all three tables.
  *
  * Contract: rows carry a full-row image per key (CDC UPDATE
  * semantics — the new image replaces all non-key columns, including
  * columns the payload dropped, which arrive as healed NULLs).
  * `seqCols` order rows per key lexicographically; the MERGE guard
  * rejects stale images exactly like the fixed-schema target.
  * Single writer per target table, as with [[JdbcCdcTarget]].
  */
class JdbcEvolvingCdcTarget(
    url: String, table: String,
    pk: String = "user_id",
    seqCols: Seq[String] = Seq("ts", "event_id"),
    connOptions: Map[String, String] = Map.empty) extends EvolvingCdcTarget {
  import Jdbc.q

  JdbcEvolvingCdcTarget.ensureDerbyVarcharDialect()

  private val landing = Jdbc.landingOf(table)
  private val staging = Jdbc.stagingOf(table)

  @volatile private var current: Option[StructType] = reloadFromDb()

  override def schema: Option[StructType] = current

  /** Restart path: if the target already exists, rebuild the schema
    * cache from the DATABASE instead of assuming first-batch — the
    * old behavior re-ran CREATE TABLE on restart (crashing every
    * redelivery) and, even create-tolerant, would have FORGOTTEN
    * previously-evolved columns and silently dropped them from the
    * MERGE column list. The evolved type set is closed (ddlType), so
    * the JDBC type codes map back losslessly. */
  private def reloadFromDb(): Option[StructType] =
    Jdbc.withConn(url, connOptions) { c =>
      val cols = Jdbc.columnsWithTypes(c, table)
      if (cols.isEmpty) None
      else Some(StructType(cols.map { case (n, t) =>
        StructField(n, sparkType(n, t), nullable = true)
      }.toArray))
    }

  private def sparkType(name: String, sqlType: Int): DataType =
    sqlType match {
      case java.sql.Types.BIGINT => LongType
      case java.sql.Types.INTEGER => IntegerType
      case java.sql.Types.DOUBLE | java.sql.Types.FLOAT => DoubleType
      case java.sql.Types.REAL => FloatType
      case java.sql.Types.BOOLEAN => BooleanType
      case java.sql.Types.VARCHAR => StringType
      case java.sql.Types.TIMESTAMP => TimestampType
      case other => throw new IllegalStateException(
        s"$table.$name has JDBC type $other outside the evolved set — " +
          "not a table this target created")
    }

  /** Spark type → Derby/ANSI DDL type for evolved columns. JSON
    * payload inference only produces this closed set; anything else
    * is a loud error, not a silent mis-mapping. */
  private def ddlType(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INT"
    case DoubleType => "DOUBLE"
    case FloatType => "REAL"
    case BooleanType => "BOOLEAN"
    case StringType => "VARCHAR(4000)"
    case TimestampType => "TIMESTAMP"
    case other =>
      throw new IllegalArgumentException(s"unsupported evolved type $other")
  }

  override def addColumns(newCols: Seq[StructField]): Unit = synchronized {
    Jdbc.withConn(url, connOptions) { c =>
      val st = c.createStatement()
      current match {
        case None =>
          // first batch defines the base tables (current=None only
          // when reloadFromDb found nothing; ensureTable still guards
          // the create RACE); every non-key column is nullable so
          // later-evolved writers stay compatible
          val body = newCols.map(f => s"${q(f.name)} ${ddlType(f.dataType)}")
            .mkString(", ")
          require(newCols.exists(_.name == pk),
            s"first batch must carry the primary key column '$pk'")
          Jdbc.ensureTable(c, table,
            s"CREATE TABLE $table ($body, PRIMARY KEY (${q(pk)}))")
          Jdbc.ensureTable(c, landing,
            s"CREATE TABLE $landing (${q("batch_id")} BIGINT NOT NULL, $body)")
          Jdbc.ensureTable(c, staging, s"CREATE TABLE $staging ($body)")
        case Some(_) =>
          // the ADD COLUMN self-heal: existing rows read the new
          // columns as NULL, exactly the warehouse semantic
          for (f <- newCols; t <- Seq(table, landing, staging))
            st.execute(
              s"ALTER TABLE $t ADD COLUMN ${q(f.name)} ${ddlType(f.dataType)}")
      }
    }
    current = Some(StructType(
      current.map(_.fields).getOrElse(Array.empty[StructField]) ++ newCols))
  }

  /** TYPE promotion twin (`ALTER TABLE ALTER COLUMN SET DATA TYPE`),
    * attempted on all three tables in ONE transaction so a vendor
    * rejection cannot leave them diverged. Vendors differ on what SET
    * DATA TYPE permits (Derby allows only VARCHAR length growth;
    * warehouses allow the numeric chain) — a rejected promotion rolls
    * back and returns false, keeping the heal on its cast-to-target
    * fallback, which is exactly this target's pre-widen behavior. */
  override def widenColumn(name: String, to: DataType): Boolean =
    synchronized {
      val ddl =
        try ddlType(to)
        catch { case _: IllegalArgumentException => return false }
      Jdbc.withConn(url, connOptions) { c =>
        c.setAutoCommit(false)
        try {
          val st = c.createStatement()
          for (t <- Seq(table, landing, staging))
            st.execute(s"ALTER TABLE $t ALTER COLUMN ${q(name)} " +
              s"SET DATA TYPE $ddl")
          c.commit()
          current = current.map(s => StructType(s.fields.map(f =>
            if (f.name.equalsIgnoreCase(name)) f.copy(dataType = to) else f)))
          true
        } catch {
          case _: java.sql.SQLException => c.rollback(); false
        }
      }
    }

  /** [[Jdbc.mergeBatch]] with the column list taken from the CURRENT
    * (possibly just-widened) schema. */
  override def merge(batchId: Long, rows: DataFrame): Unit = {
    val want = current.getOrElse(
      throw new IllegalStateException("merge before first addColumns"))
    Jdbc.mergeBatch(url, connOptions, table, pk, seqCols,
      want.fieldNames.toSeq, batchId, rows)
  }

  /** All target rows keyed by pk (spec/debug introspection). */
  def snapshot: Map[Long, Map[String, Any]] =
    Jdbc.withConn(url, connOptions) { c =>
      val want = current.getOrElse(return Map.empty)
      val cols = want.fieldNames.toSeq
      val rs = c.createStatement().executeQuery(
        s"SELECT ${cols.map(q).mkString(", ")} FROM $table")
      val out = Map.newBuilder[Long, Map[String, Any]]
      while (rs.next()) {
        val row = cols.zipWithIndex
          .map { case (c0, i) => c0 -> rs.getObject(i + 1) }.toMap
        out += row(pk).asInstanceOf[Number].longValue() -> row
      }
      out.result()
    }
}

object JdbcEvolvingCdcTarget {
  import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}

  /** Spark's built-in Derby dialect maps StringType → CLOB, and Derby
    * CLOBs can be neither compared nor DISTINCT'ed — which breaks the
    * staging dedupe — while its null setter trips on VARCHAR columns.
    * Register (once) a Derby dialect that maps strings to VARCHAR and
    * keeps Derby-compatible mappings for the rest of the evolved type
    * set (registered dialects take precedence over built-ins). */
  private lazy val registerOnce: Unit =
    JdbcDialects.registerDialect(new JdbcDialect {
      override def canHandle(url: String): Boolean =
        url.startsWith("jdbc:derby")
      override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
        case StringType =>
          Some(JdbcType("VARCHAR(4000)", java.sql.Types.VARCHAR))
        case BooleanType => Some(JdbcType("BOOLEAN", java.sql.Types.BOOLEAN))
        case DoubleType => Some(JdbcType("DOUBLE", java.sql.Types.DOUBLE))
        case FloatType => Some(JdbcType("REAL", java.sql.Types.REAL))
        case ByteType | ShortType =>
          Some(JdbcType("SMALLINT", java.sql.Types.SMALLINT))
        case _ => None // common defaults are Derby-compatible
      }
    })

  private[streaming] def ensureDerbyVarcharDialect(): Unit = registerOnce
}
