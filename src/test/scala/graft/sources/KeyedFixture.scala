package graft.sources

import org.apache.spark.sql.DataFrame

/** The keyed table the table-format specs write: one int column `x`,
  * keyed on itself, over four key-hash partitions, written through
  * the partitioned writers ([[VersionedTable.commitPartitionsOnce]]).
  * A seed or a truncate-load is an `overwrite_parts` commit; an
  * append is one merge-on-read log (`append_log`), which adds a data
  * dir and rewrites none. */
object KeyedFixture {

  private val P = 4

  val Key = VersionedTable.TableKey("x", Seq("x"))

  private val Pid = VersionedTable.PidCol

  private def head(root: String): Int = VersionedTable.versions(root).lastOption.getOrElse(0)

  /** `df` staged under the key-hash layout: label → relative dir. */
  private def stage(df: DataFrame, root: String): Map[String, String] =
    VersionedTable.stagePartitioned(df.withColumn(Pid, VersionedTable.keyPid("x", P)),
      root, Pid)

  /** `df` staged as one log file. */
  def stageLog(df: DataFrame, root: String): Option[VersionedTable.LogFile] =
    VersionedTable.stageLog(df.coalesce(1), root)

  /** Replace the table's rows with `df`: one commit on the head. */
  def overwrite(df: DataFrame, root: String): Int =
    VersionedTable.commitPartitionsOnce(stage(df, root), root, head(root),
      overwriteAll = true, nParts = Some(P), key = Some(Key))

  /** Add `df`'s rows as one log, committing at `expected + 1`. */
  def appendAt(df: DataFrame, root: String, expected: Int): Int =
    VersionedTable.commitPartitionsOnce(Map.empty, root, expected,
      addLog = stageLog(df, root), key = Some(Key))

  def append(df: DataFrame, root: String): Int = appendAt(df, root, head(root))
}
