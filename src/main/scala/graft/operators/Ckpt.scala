package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.graft.StagedRelation
import org.apache.spark.storage.StorageLevel

/** Eager lineage-truncation stage shared by every iterative / fan-out
  * operator (`df.transform(Ckpt.stage)`). The subtree runs ONCE: its
  * rows are persisted DISK_ONLY before the one counting job (a bare
  * eager reliable `Dataset.checkpoint()` recomputes the un-persisted
  * plan to write its files), and the frame re-enters the plan through
  * `StagedRelation` with its real row count, size and partitioning.
  *
  * Default mode: a local checkpoint — one job, blocks held by the
  * block manager. Production mode (`spark.graft.checkpoint.reliable=true`,
  * the one conf key Ckpt reads): a local checkpoint dies with its
  * executor, so long-running jobs on a multi-executor cluster set the
  * conf and get a directory-backed reliable checkpoint, whose write
  * reads the persisted blocks.
  */
object Ckpt {
  /** Lazy persisted staging for a frame that is REUSED within one
    * query (fan-out producer or loop-invariant join side). Unlike
    * [[stage]], materialization rides the consuming action instead of
    * an eager staging job, and the InMemoryRelation keeps its
    * outputPartitioning and size statistics. Executor loss recomputes
    * from lineage, so no reliable-mode variant is needed. Blocks are
    * held MEMORY_AND_DISK and free on the session's clearCache. */
  def cache(df: DataFrame): DataFrame =
    df.persist(StorageLevel.MEMORY_AND_DISK)

  /** `kernel` over every row of `df`, in ONE task: the shape for a
    * fixed point or greedy loop whose state is bounded by an op
    * constant (alphabet², 2ⁿ channel subsets, queries·pool²), so one
    * task is the right plan at any scale. `coalesce(1)` adds no
    * shuffle and reports SinglePartition to what follows. A per-round
    * DataFrame loop must stage every round (a lazy unroll plans the
    * prefix as a tree, OPTIMIZATION_r16.md finding 2); the kernel runs
    * one plain loop in the final action's task, and the corpus-sized
    * work that feeds `df` stays distributed. */
  def small[I: Encoder, O: Encoder](df: DataFrame)(
      kernel: Iterator[I] => Iterator[O]): Dataset[O] =
    df.coalesce(1).as[I].mapPartitions(kernel)

  /** Test seam: runs on every frame [[stage]] returns, so specs can
    * audit what each staged frame tells the planner. */
  @volatile private[graft] var onStage: DataFrame => Unit = _ => ()

  def stage(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val reliable = df.sparkSession.conf
      .getOption("spark.graft.checkpoint.reliable").exists(_.equalsIgnoreCase("true"))
    if (reliable && sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    // DISK_ONLY, deliberately: staged blocks free only when the
    // ContextCleaner finds the RDD unreachable, and MEMORY_AND_DISK
    // blocks piled up in the storage pool across a bench session and
    // starved later queries' execution memory (repeat pagerank runs
    // 4s -> 15s). Disk-backed blocks ride the page cache.
    val (staged, rdd) = StagedRelation(df) { rdd =>
      rdd.persist(StorageLevel.DISK_ONLY)
      if (reliable) rdd.checkpoint() else rdd.localCheckpoint()
      rdd.count()
    }
    if (reliable) rdd.unpersist(blocking = false)
    onStage(staged)
    staged
  }
}
