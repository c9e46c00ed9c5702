package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** Lakehouse-backed [[CdcTarget]]: the reference's guarded warehouse
  * MERGE (etl-snowflake task.py:154-190) re-expressed against the
  * transactional file table instead of a JDBC warehouse — the
  * Delta/Iceberg "CDC apply into a table" shape, self-contained.
  *
  * Write path per micro-batch (copy-on-write merge):
  *  1. read the current snapshot (nothing if the table is new);
  *  2. union it with the batch and keep latest-per-key under the
  *     (ts, event_id) sequence total order — ONE distributed
  *     `max_by` aggregation expresses both the landing dedupe and
  *     the `s.seq > t.seq` merge guard: a stale batch row loses to
  *     the newer committed state it would have regressed;
  *  3. publish as an overwrite commit carrying the batch id as the
  *     manifest txn id.
  *
  * Exactly-once: the txn check and the data publish are the same
  * atomic manifest link, so a batch redelivered after a checkpoint
  * restart is skipped whole (VersionedTable.commitBatch). A crash
  * mid-merge leaves orphan data dirs, never a partial table, and the
  * redelivered batch then merges against the last committed snapshot.
  *
  * Deletes persist as tombstones (`is_deleted`) so a stale
  * pre-delete row can never resurrect a key; [[snapshot]] filters
  * them, mirroring InMemoryCdcTarget/JdbcCdcTarget.
  *
  * Scale note: whole-table copy-on-write is the correct shape only
  * below ~table=O(batch) sizes — [[PartitionedTableCdcTarget]] is the
  * 100 TB form (a batch appends one log; only a fold rewrites the
  * partitions the logs touch). This class stays for two reasons: it is
  * the copy-on-write reference for the partitioned form
  * (PartitionedTableCdcTargetSpec checks the partitioned snapshots
  * against it; [[graft.LakehouseScale]] measures the bytes each writes
  * per batch), and it writes the flat layout that
  * [[PartitionedMerge]]'s `migrateFlat` reads, so a table it wrote
  * migrates in place on the partitioned form's first merge.
  */
class TableCdcTarget(spark: SparkSession, root: String) extends CdcTarget {

  override def merge(batchId: Long, rows: Dataset[CdcApplied]): Unit = {
    val current: DataFrame =
      if (VersionedTable.versions(root).isEmpty) rows.toDF().limit(0)
      else VersionedTable.read(spark, root)
    val merged = current.unionByName(rows.toDF())
      .groupBy("user_id")
      .agg(max_by(
        struct(col("user_id"), col("event_id"), col("ts"), col("value"),
          col("is_deleted")),
        struct(col("ts"), col("event_id"))).as("r"))
      .select("r.*")
    VersionedTable.commitBatch(merged, root, batchId, overwrite = true)
    ()
  }

  /** Live rows (tombstones excluded), as of the latest commit. */
  def snapshot: DataFrame =
    VersionedTable.read(spark, root).filter(!col("is_deleted"))
}
