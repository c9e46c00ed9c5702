package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.storage.StorageLevel

/** Eager lineage-truncation stage shared by every iterative / fan-out
  * operator (`df.transform(Ckpt.stage)` replaces the former bare
  * `.checkpoint()` call sites).
  *
  * Why not a bare `Dataset.checkpoint()`: an eager RELIABLE checkpoint
  * runs TWO jobs over the subtree — the materializing count, then the
  * checkpoint-file write, which recomputes the un-persisted plan from
  * scratch (`RDD.checkpoint`'s documented recomputation). Every
  * checkpointed stage in the repo was paying its subtree twice plus a
  * file round-trip; for the fixed-point loops (pagerank, markov,
  * kmeans, BPE) that doubled the whole iteration cost.
  *
  * Default mode (`local`): `Dataset.localCheckpoint()` — one job,
  * blocks held DISK_ONLY by the block manager (see [[stage]]),
  * lineage truncated identically. The stage's data, partitioning and
  * downstream plan shape are the same as the reliable form (both
  * re-enter the plan as an ExistingRDD scan), so results and exchange
  * counts are unchanged; only the double-compute and the checkpoint
  * file round-trip disappear.
  *
  * Production mode (`spark.graft.checkpoint.reliable=true`, the one
  * conf key Ckpt reads): on a real multi-executor cluster a local
  * checkpoint dies with its executor, so long-running jobs that must
  * survive executor loss set the conf and get the former
  * directory-backed reliable checkpoint — now with a persist()
  * bracketing the write so the subtree still runs ONCE (the
  * checkpoint-write job reads the cached blocks instead of
  * recomputing the plan).
  */
object Ckpt {
  /** Lazy persisted staging for a frame that is REUSED within one
    * query (fan-out producer or loop-invariant join side). Unlike
    * [[stage]], the frame re-enters the plan as an InMemoryRelation,
    * which (a) keeps its outputPartitioning — a join/agg keyed the
    * same way downstream skips its exchange (guide §2.4; a staged
    * ExistingRDD is UnknownPartitioning(0) and re-exchanges every
    * consumer, measured in plans/r15/ft_item_pagerank_after.txt), and
    * (b) keeps size statistics, so broadcast decisions stay sound.
    * Also one job fewer: materialization rides the consuming action
    * instead of an eager staging job. Executor loss recomputes from
    * lineage (safer than a local checkpoint, which dies with its
    * blocks), so no reliable-mode variant is needed. Blocks are held
    * MEMORY_AND_DISK and free on the session's clearCache between
    * bench/verify queries. */
  def cache(df: DataFrame): DataFrame =
    df.persist(StorageLevel.MEMORY_AND_DISK)

  /** `kernel` over every row of `df`, in ONE task: the shape for a
    * fixed point or greedy loop whose state is bounded by an op
    * constant (alphabet², 2ⁿ channel subsets, queries·pool²) — the
    * same size at sf0.001 and at 100 TB, so one task is the right plan
    * at any scale. `coalesce(1)` adds no shuffle: it merges the
    * producer's partitions into the consuming task, and reports
    * SinglePartition to what follows. A per-round DataFrame loop over
    * the same state must stage every round eagerly (a lazy unroll that
    * reads the carried frame more than once per round plans the prefix
    * as a tree), and needs workarounds because joins against a bare
    * aggregate and anti joins re-exchange even SinglePartition inputs
    * (OPTIMIZATION_r16.md findings 2 and 1): staging jobs and
    * broadcasts every round, where the kernel runs one plain loop in
    * the final action's task. The corpus-sized work that feeds `df`
    * stays distributed. */
  def small[I: Encoder, O: Encoder](df: DataFrame)(
      kernel: Iterator[I] => Iterator[O]): Dataset[O] =
    df.coalesce(1).as[I].mapPartitions(kernel)

  def stage(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val reliable = spark.conf
      .getOption("spark.graft.checkpoint.reliable")
      .exists(_.equalsIgnoreCase("true"))
    if (reliable) {
      if (spark.sparkContext.getCheckpointDir.isEmpty)
        spark.sparkContext.setCheckpointDir(
          java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
      val cached = df.persist()
      try cached.checkpoint()
      finally cached.unpersist(blocking = false)
    } else {
      // DISK_ONLY, deliberately: the bench runs hundreds of queries in
      // one session and localCheckpoint blocks are only freed when the
      // ContextCleaner notices the RDD is unreachable — MEMORY_AND_DISK
      // blocks accumulate in the storage pool (protected from eviction
      // up to spark.memory.storageFraction) and starve later queries'
      // execution memory (measured: repeat pagerank runs degraded
      // 4s -> 15s under MEMORY_AND_DISK accumulation). Disk-backed
      // blocks ride the page cache, so the read-back stays cheap while
      // the JVM heap stays owned by execution.
      df.localCheckpoint(true, StorageLevel.DISK_ONLY)
    }
  }
}
