package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.streaming.{CdcApplied, PartitionedTableCdcTarget, TableCdcTarget}

/** Scale evidence for the partition-scoped lakehouse merge (VERDICT
  * r11 item 1's "rewrite bytes ∝ batch size, not table size"):
  * replays the SAME constant-size update batches against the
  * copy-on-write target and the partitioned target at growing table
  * sizes, measuring bytes physically written per commit (the write-
  * once data layout makes that an exact walk of `data/`).
  *
  * Partition count scales with the table (the 100 TB sizing rule in
  * PartitionedTableCdcTarget's scaladoc: hold per-partition bytes
  * near a constant budget, here ~800 keys/partition standing in for
  * ~1 GB) — under that rule the partitioned rewrite cost per batch is
  * touched-partitions × constant, i.e. ∝ batch, while copy-on-write
  * is ∝ table by construction.
  *
  * Usage: runMain graft.LakehouseScale [out.json]
  */
object LakehouseScale {

  private def ap(uid: Long, id: Long, t: Long, v: Double) =
    CdcApplied(uid, id, new Timestamp(t), v, is_deleted = false)

  private def dataBytes(root: String): Long = {
    val d = Paths.get(root, "data")
    if (!Files.isDirectory(d)) return 0L
    val w = Files.walk(d)
    try w.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally w.close()
  }

  /** Follower leg: measure the change-feed consumer's per-tick cost
    * as the SOURCE table grows — bytes written at the destination and
    * files scanned by the diff must track the (constant) batch, not
    * the table, or the "O(changed partitions)" claim is talk.
    * Usage: runMain graft.LakehouseScale follower [out.json] */
  private def followerLeg(spark: org.apache.spark.sql.SparkSession,
      out: String): Unit = {
    import spark.implicits._
    import graft.streaming.TableFollower
    import graft.sources.VersionedTable
    val updateKeys = 32
    val updateBatches = 5
    val rng = new scala.util.Random(7)
    val rows = Seq.newBuilder[String]
    for (tableKeys <- Seq(10000, 30000, 100000, 300000)) {
      val p = math.max(16, tableKeys / 800)
      val srcRoot = Files.createTempDirectory(s"tf_src_$tableKeys").toString
      val dstRoot = Files.createTempDirectory(s"tf_dst_$tableKeys").toString
      val src = new graft.streaming.PartitionedTableCdcTarget(
        spark, srcRoot, p)
      src.merge(0, (1L to tableKeys.toLong)
        .map(k => ap(k, k, 1000L + k, k.toDouble)).toDS())
      val follower = new TableFollower(spark, srcRoot, dstRoot, "user_id", p)
      follower.tick() // bootstrap (full copy, not part of the measure)
      var dstBytes = 0L; var scannedFiles = 0L; var scannedBytes = 0L
      for (b <- 1 to updateBatches) {
        val batch = Seq.fill(updateKeys)(rng.nextInt(tableKeys).toLong + 1L)
          .distinct
          .map(k => ap(k, 1000000L * b + k, 10000000L * b + k, -k.toDouble))
        src.merge(b.toLong, batch.toDS())
        val from = follower.cursor
        val head = VersionedTable.versions(srcRoot).last
        val diff = VersionedTable.changes(spark, srcRoot, from, head,
          "user_id")
        val files = diff.inputFiles
        scannedFiles += files.length
        scannedBytes += files.map(f => java.nio.file.Files.size(
          Paths.get(new java.net.URI(f)))).sum
        val d0 = dataBytes(dstRoot)
        follower.tick()
        dstBytes += dataBytes(dstRoot) - d0
      }
      val srcTotal = dataBytes(srcRoot)
      println(s"[follower-scale] rows=$tableKeys P=$p " +
        s"dst=${dstBytes / updateBatches} B/tick " +
        s"scan=${scannedBytes / updateBatches} B/tick " +
        s"(src table $srcTotal B)")
      rows += s"""{"table_rows":$tableKeys,"partitions":$p,""" +
        s""""batch_keys":$updateKeys,""" +
        s""""dst_bytes_per_tick":${dstBytes / updateBatches},""" +
        s""""scan_bytes_per_tick":${scannedBytes / updateBatches},""" +
        s""""scan_files_per_tick":${scannedFiles / updateBatches},""" +
        s""""src_table_bytes":$srcTotal}"""
      // equality witness after the replay
      val a = VersionedTable.read(spark, srcRoot)
        .orderBy("user_id").collect().toSeq
      val b2 = follower.snapshot.orderBy("user_id").collect().toSeq
      require(a == b2, s"follower diverged from source at $tableKeys")
    }
    val json =
      s"""{"metric":"follower_tick_cost","unit":"bytes_per_tick","update_keys":$updateKeys,"tables":[${rows.result().mkString(",")}]}"""
    println(json)
    Files.write(Paths.get(out), (json + "\n").getBytes("UTF-8"))
  }

  /** Rescale leg (VERDICT r12 item 1's scale requirement): ONE table,
    * grown 30× in place, with [[graft.sources.VersionedTable
    * .rescaleIfNeeded]] running in the maintenance loop under a FIXED
    * byte budget — bytes/batch for a constant-size update batch must
    * stay flat THROUGH the rescales (the r12 artifact held it flat
    * only by re-creating each bigger table at a bigger P, which a
    * production table cannot do). Requires ≥2 rescale events or the
    * leg fails. Usage: runMain graft.LakehouseScale rescale [out.json] */
  private def rescaleLeg(spark: org.apache.spark.sql.SparkSession,
      out: String,
      sizes: Seq[Long] = Seq(10000L, 30000L, 100000L, 300000L)): Unit = {
    import spark.implicits._
    import graft.sources.VersionedTable
    val updateKeys = 32
    val updateBatches = 5
    val rng = new scala.util.Random(11)
    val root = Files.createTempDirectory("lh_rescale").toString
    val target = new PartitionedTableCdcTarget(spark, root, 16)
    var nextKey = 1L
    var batchId = 0L
    def grow(to: Long): Unit = {
      // insert in update-batch-sized steps is pointless here; one
      // bulk merge per decade keeps the leg fast and the measured
      // UPDATE batches are what the metric reads
      target.merge({ batchId += 1; batchId },
        (nextKey until to).map(k => ap(k, k, 1000L + k, k.toDouble)).toDS())
      nextKey = to
    }
    grow(sizes.head + 1) // seed at the first size, P=16
    // budget = the seed table's measured mean partition bytes: the
    // table starts exactly at budget, so every decade of growth must
    // force rescales to hold the mean there (the production rule with
    // the ≈1 GB sweet spot scaled down to the test corpus)
    val budget = math.max(1L, dataBytes(root) / 16)
    val rescales = Seq.newBuilder[String]
    val rows = Seq.newBuilder[String]
    for (tableKeys <- sizes) {
      grow(tableKeys + 1)
      VersionedTable.expire(root, keepLast = 1); VersionedTable.vacuum(root, graceMillis = 0)
      VersionedTable.rescaleIfNeeded(spark, root, "user_id", budget)
        .foreach { case (o, n) =>
          println(s"[rescale-scale] at $tableKeys keys: P $o -> $n")
          rescales += s"""{"at_rows":$tableKeys,"from":$o,"to":$n}"""
          VersionedTable.expire(root, keepLast = 1)
          VersionedTable.vacuum(root, graceMillis = 0) // quiesced: measure live bytes
        }
      val p = VersionedTable.partCount(root).get
      var partTotal = 0L
      for (_ <- 1 to updateBatches) {
        val batch = Seq.fill(updateKeys)(
          (rng.nextLong().abs % tableKeys) + 1L).distinct
          .map(k => ap(k, 1000000L * batchId + k, 10000000L * batchId + k,
            -k.toDouble))
        val d0 = dataBytes(root)
        target.merge({ batchId += 1; batchId }, batch.toDS())
        partTotal += dataBytes(root) - d0
      }
      val avg = partTotal / updateBatches
      println(s"[rescale-scale] rows=$tableKeys P=$p part=$avg B/batch " +
        s"(table ${dataBytes(root)} B)")
      rows += s"""{"table_rows":$tableKeys,"partitions":$p,""" +
        s""""batch_keys":$updateKeys,"part_bytes_per_batch":$avg,""" +
        s""""table_bytes":${dataBytes(root)}}"""
    }
    val events = rescales.result()
    require(events.size >= 2,
      s"the leg must cross >=2 rescales, saw ${events.size}")
    // integrity witness: every key's latest value present
    require(target.snapshot.count() == sizes.last,
      "rescaled table lost rows")
    val json = s"""{"metric":"lakehouse_rescale_bytes",""" +
      s""""unit":"bytes_per_batch","update_keys":$updateKeys,""" +
      s""""budget_bytes_per_part":$budget,""" +
      s""""rescales":[${events.mkString(",")}],""" +
      s""""tables":[${rows.result().mkString(",")}]}"""
    println(json)
    Files.write(Paths.get(out), (json + "\n").getBytes("UTF-8"))
  }

  /** Wall-time leg (VERDICT r12 item 6): the full maintenance cycle —
    * merge → compaction check → change feed → follower tick — timed
    * per tick at 30× source growth with a FIXED batch size; per-tick
    * seconds must converge to touched-partitions × constant like the
    * bytes do. Usage: runMain graft.LakehouseScale cycle [out.json] */
  private def cycleLeg(spark: org.apache.spark.sql.SparkSession,
      out: String, sizes: Seq[Int]): Unit = {
    import spark.implicits._
    import graft.sources.VersionedTable
    import graft.streaming.TableFollower
    val updateKeys = 32
    val ticks = 5
    val rng = new scala.util.Random(3)
    def sec(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val rows = Seq.newBuilder[String]
    for (tableKeys <- sizes) {
      val p = math.max(16, tableKeys / 800)
      val srcRoot = Files.createTempDirectory(s"cy_src_$tableKeys").toString
      val dstRoot = Files.createTempDirectory(s"cy_dst_$tableKeys").toString
      val src = new PartitionedTableCdcTarget(spark, srcRoot, p)
      src.merge(0, (1L to tableKeys.toLong)
        .map(k => ap(k, k, 1000L + k, k.toDouble)).toDS())
      val follower = new TableFollower(spark, srcRoot, dstRoot, "user_id", p)
      follower.tick() // bootstrap excluded from the measure
      var mergeS = 0.0; var compactS = 0.0; var tickS = 0.0
      for (b <- 1 to ticks) {
        val batch = Seq.fill(updateKeys)(rng.nextInt(tableKeys).toLong + 1L)
          .distinct
          .map(k => ap(k, 1000000L * b + k, 10000000L * b + k, -k.toDouble))
        mergeS += sec { src.merge(b.toLong, batch.toDS()) }
        compactS += sec {
          VersionedTable.compactPartitions(spark, srcRoot); () }
        tickS += sec { follower.tick() }
      }
      println(f"[cycle-scale] rows=$tableKeys P=$p " +
        f"merge=${mergeS / ticks}%.3f compact=${compactS / ticks}%.3f " +
        f"tick=${tickS / ticks}%.3f s/tick")
      rows += f"""{"table_rows":$tableKeys,"partitions":$p,""" +
        f""""merge_s":${mergeS / ticks}%.4f,""" +
        f""""compact_s":${compactS / ticks}%.4f,""" +
        f""""tick_s":${tickS / ticks}%.4f}"""
      val a = VersionedTable.read(spark, srcRoot)
        .orderBy("user_id").collect().toSeq
      val b2 = follower.snapshot.orderBy("user_id").collect().toSeq
      require(a == b2, s"follower diverged at $tableKeys")
    }
    val json = s"""{"metric":"lakehouse_cycle_walltime",""" +
      s""""unit":"sec_per_tick","update_keys":$updateKeys,""" +
      s""""tables":[${rows.result().mkString(",")}]}"""
    println(json)
    Files.write(Paths.get(out), (json + "\n").getBytes("UTF-8"))
  }

  /** Replica-CHAIN leg (VERDICT r13 item 3): a 2-hop chain
    * src → mid → leaf, per-tick wall time AND bytes measured at EACH
    * hop as the source grows — the namespaced-cursor independence
    * claim as a measurement: every hop's cost must track its own
    * (constant) delta, not the table, and not the other hop. Run ONE
    * SIZE PER JVM (the SCALE_CYCLE_r13 lesson: accumulated session/GC
    * pressure fakes a 4× at the last leg of a combined run).
    * Usage: runMain graft.LakehouseScale chain out.json <size> */
  private def chainLeg(spark: org.apache.spark.sql.SparkSession,
      out: String, tableKeys: Int): Unit = {
    import spark.implicits._
    import graft.sources.VersionedTable
    import graft.streaming.TableFollower
    val updateKeys = 32
    val ticks = 5
    val rng = new scala.util.Random(13)
    def sec(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val p = math.max(16, tableKeys / 800)
    val srcRoot = Files.createTempDirectory(s"ch_src_$tableKeys").toString
    val midRoot = Files.createTempDirectory(s"ch_mid_$tableKeys").toString
    val leafRoot = Files.createTempDirectory(s"ch_leaf_$tableKeys").toString
    val src = new PartitionedTableCdcTarget(spark, srcRoot, p)
    src.merge(0, (1L to tableKeys.toLong)
      .map(k => ap(k, k, 1000L + k, k.toDouble)).toDS())
    val hop1 = new TableFollower(spark, srcRoot, midRoot, "user_id", p)
    val hop2 = new TableFollower(spark, midRoot, leafRoot, "user_id", p)
    hop1.tick(); hop2.tick() // bootstraps excluded from the measure
    var h1S = 0.0; var h2S = 0.0; var h1B = 0L; var h2B = 0L
    for (b <- 1 to ticks) {
      val batch = Seq.fill(updateKeys)(rng.nextInt(tableKeys).toLong + 1L)
        .distinct
        .map(k => ap(k, 1000000L * b + k, 10000000L * b + k, -k.toDouble))
      src.merge(b.toLong, batch.toDS())
      val m0 = dataBytes(midRoot)
      h1S += sec { hop1.tick() }
      h1B += dataBytes(midRoot) - m0
      val l0 = dataBytes(leafRoot)
      h2S += sec { hop2.tick() }
      h2B += dataBytes(leafRoot) - l0
    }
    // end-to-end equality witness through both hops
    val a = VersionedTable.read(spark, srcRoot)
      .orderBy("user_id").collect().toSeq
    val c = hop2.snapshot.orderBy("user_id").collect().toSeq
    require(a == c, s"leaf diverged from source at $tableKeys")
    val json = f"""{"metric":"lakehouse_chain","unit":"per_tick",""" +
      f""""table_rows":$tableKeys,"partitions":$p,""" +
      f""""update_keys":$updateKeys,""" +
      f""""hop1_s":${h1S / ticks}%.4f,"hop2_s":${h2S / ticks}%.4f,""" +
      f""""hop1_bytes":${h1B / ticks},"hop2_bytes":${h2B / ticks},""" +
      f""""src_table_bytes":${dataBytes(srcRoot)}}"""
    println(json)
    Files.write(Paths.get(out), (json + "\n").getBytes("UTF-8"))
  }

  /** Manifest-WRITE scaling probe (VERDICT r13 item 4): the commit
    * path serializes every label's full dir list per manifest —
    * measure that constant directly at P = 1k/10k/100k labels with
    * empty staged dirs (no data I/O, no Spark job: the probe isolates
    * manifest serialize+parse+link). Reports per-commit milliseconds
    * for a 32-label incremental merge and the manifest size on disk —
    * the number that decides whether the flat manifest needs the
    * Iceberg manifest-list split before the design point.
    * Usage: runMain graft.LakehouseScale manifest [out.json] */
  private def manifestLeg(out: String): Unit = {
    import graft.sources.VersionedTable
    val reps = 5
    val touched = 32
    def mkStaged(root: String, labels: Seq[Int]): Map[String, String] = {
      val uuid = java.util.UUID.randomUUID().toString
      labels.map { k =>
        val rel = s"data/$uuid/pid=$k"
        Files.createDirectories(Paths.get(root, rel))
        k.toString -> rel
      }.toMap
    }
    val rows = Seq.newBuilder[String]
    for (p <- Seq(1000, 10000, 100000)) {
      val root = Files.createTempDirectory(s"mf_probe_$p").toString
      // stage OUTSIDE the timer: the probe measures the commit path
      // (stat+serialize+link), not the P createDirectories of setup
      val seed = mkStaged(root, 0 until p)
      val t0 = System.nanoTime()
      VersionedTable.commitPartitionsOnce(seed, root, expected = 0,
        overwriteAll = true, nParts = Some(p))
      val fullMs = (System.nanoTime() - t0) / 1e6
      var incMs = 0.0
      for (r <- 1 to reps) {
        val staged = mkStaged(root, 0 until touched)
        val base = VersionedTable.versions(root).last
        val t1 = System.nanoTime()
        VersionedTable.commitPartitionsOnce(staged, root, base,
          nParts = Some(p))
        incMs += (System.nanoTime() - t1) / 1e6
      }
      val mBytes = Files.size(Paths.get(root,
        f"_versions/v${VersionedTable.versions(root).last}%08d.json"))
      println(f"[manifest-probe] P=$p full=$fullMs%.1f ms " +
        f"inc=${incMs / reps}%.1f ms manifest=$mBytes B")
      rows += f"""{"partitions":$p,"full_commit_ms":$fullMs%.1f,""" +
        f""""incremental_commit_ms":${incMs / reps}%.1f,""" +
        f""""manifest_bytes":$mBytes}"""
    }
    val json = s"""{"metric":"manifest_write_cost","unit":"ms_per_commit",""" +
      s""""touched_labels":$touched,"rows":[${rows.result().mkString(",")}]}"""
    println(json)
    Files.write(Paths.get(out), (json + "\n").getBytes("UTF-8"))
  }

  /** Snapshot-management scaling probe (r14): RESTORE must cost one
    * checkpoint write — O(P) manifest serialize+link, ZERO data
    * bytes — tag/dropTag must be O(1) files, and expire's tag-pin
    * walk must stay a metadata constant. Same empty-dir isolation as
    * [[manifestLeg]] (no data I/O, no Spark job on the timed path).
    * Usage: runMain graft.LakehouseScale snapshot [out.json] */
  private def snapshotLeg(spark: org.apache.spark.sql.SparkSession,
      out: String): Unit = {
    import graft.sources.VersionedTable
    val touched = 32
    def mkStaged(root: String, labels: Seq[Int]): Map[String, String] = {
      val uuid = java.util.UUID.randomUUID().toString
      labels.map { k =>
        val rel = s"data/$uuid/pid=$k"
        Files.createDirectories(Paths.get(root, rel))
        k.toString -> rel
      }.toMap
    }
    def dataDirCount(root: String): Int = {
      val s = Files.list(Paths.get(root, "data"))
      try s.iterator.asScala.size finally s.close()
    }
    val rows = Seq.newBuilder[String]
    for (p <- Seq(1000, 10000, 100000)) {
      val root = Files.createTempDirectory(s"snap_probe_$p").toString
      VersionedTable.commitPartitionsOnce(mkStaged(root, 0 until p), root,
        expected = 0, overwriteAll = true, nParts = Some(p))
      val target = VersionedTable.versions(root).last
      // advance the head: 5 incremental merges the restore abandons
      for (_ <- 1 to 5)
        VersionedTable.commitPartitionsOnce(mkStaged(root, 0 until touched),
          root, VersionedTable.versions(root).last, nParts = Some(p))
      val t0 = System.nanoTime()
      VersionedTable.tag(root, "release", target)
      val tagMs = (System.nanoTime() - t0) / 1e6
      val dirsBefore = dataDirCount(root)
      val t1 = System.nanoTime()
      VersionedTable.restore(spark, root, target)
      val restoreMs = (System.nanoTime() - t1) / 1e6
      require(dataDirCount(root) == dirsBefore,
        "restore must be metadata-only: no staged data dirs")
      val t2 = System.nanoTime()
      VersionedTable.expire(root, keepLast = 1)
      val expireMs = (System.nanoTime() - t2) / 1e6
      require(VersionedTable.versions(root).contains(target),
        "the tag pin must survive expire")
      println(f"[snapshot-probe] P=$p tag=$tagMs%.2f ms " +
        f"restore=$restoreMs%.1f ms expire_pinned=$expireMs%.1f ms")
      rows += f"""{"partitions":$p,"tag_ms":$tagMs%.2f,""" +
        f""""restore_ms":$restoreMs%.1f,"expire_pinned_ms":$expireMs%.1f,""" +
        f""""restore_data_bytes":0}"""
    }
    val json = s"""{"metric":"snapshot_mgmt_cost","unit":"ms_per_op",""" +
      s""""rows":[${rows.result().mkString(",")}]}"""
    println(json)
    Files.write(Paths.get(out), (json + "\n").getBytes("UTF-8"))
  }

  /** Erasure scaling probe (r14): deleteKeys of a CONSTANT 32-key set
    * against a table growing 10× with its partition count rescaled to
    * hold per-partition bytes at a budget (the production sizing
    * rule). Expected: bytes rewritten and wall time per erasure stay
    * FLAT — the key set's pids bound the work at touched-partitions ×
    * the constant partition size, table growth invisible. That is the
    * claim that makes a GDPR erasure affordable at 100 TB.
    * Usage: runMain graft.LakehouseScale erase [out.json] */
  private def eraseLeg(spark: org.apache.spark.sql.SparkSession,
      out: String,
      sizes: Seq[Long] = Seq(100000L, 300000L, 1000000L)): Unit = {
    import spark.implicits._
    import graft.sources.VersionedTable
    val eraseKeys = 32
    val rng = new scala.util.Random(17)
    val root = Files.createTempDirectory("lh_erase").toString
    val target = new PartitionedTableCdcTarget(spark, root, 16)
    var nextKey = 1L
    var batchId = 0L
    def grow(to: Long): Unit = {
      target.merge({ batchId += 1; batchId },
        (nextKey until to).map(k => ap(k, k, 1000L + k, k.toDouble)).toDS())
      nextKey = to
    }
    grow(sizes.head + 1)
    val budget = math.max(1L, dataBytes(root) / 16)
    val erased = scala.collection.mutable.Set[Long]()
    val rows = Seq.newBuilder[String]
    for (tableKeys <- sizes) {
      grow(tableKeys + 1)
      VersionedTable.expire(root, keepLast = 1)
      VersionedTable.vacuum(root, graceMillis = 0)
      VersionedTable.rescaleIfNeeded(spark, root, "user_id", budget).foreach {
        case (o, n) =>
          println(s"[erase-scale] at $tableKeys keys: P $o -> $n")
          VersionedTable.expire(root, keepLast = 1)
          VersionedTable.vacuum(root, graceMillis = 0)
      }
      val p = VersionedTable.partCount(root).get
      // sample keys not erased by an earlier size's pass, so the
      // erased-count and remaining-rows witnesses stay exact
      val pool = scala.collection.mutable.LinkedHashSet[Long]()
      while (pool.size < eraseKeys) {
        val c = (rng.nextLong().abs % tableKeys) + 1L
        if (!erased.contains(c)) pool += c
      }
      val doomed = pool.toSeq
      val d0 = dataBytes(root)
      val t0 = System.nanoTime()
      val (n, labels) = VersionedTable.deleteKeys(spark, root, "user_id",
        doomed.toDF("user_id"))
      val wallS = (System.nanoTime() - t0) / 1e9
      val bytes = dataBytes(root) - d0
      require(n == doomed.size, s"erased $n of ${doomed.size}")
      erased ++= doomed
      // correctness witness inside the probe: the keys are gone, the
      // rest intact
      val remaining = VersionedTable.read(spark, root).count()
      require(remaining == tableKeys - erased.size,
        s"table holds $remaining rows, want ${tableKeys - erased.size}")
      println(f"[erase-scale] rows=$tableKeys P=$p erased=$n " +
        f"wall=$wallS%.2f s bytes=$bytes labels=${labels.size}")
      rows += f"""{"table_rows":$tableKeys,"partitions":$p,""" +
        f""""erased":$n,"wall_s":$wallS%.3f,"bytes_rewritten":$bytes,""" +
        f""""partitions_rewritten":${labels.size}}"""
    }
    val json = s"""{"metric":"erasure_cost","unit":"per_delete",""" +
      s""""erase_keys":$eraseKeys,"rows":[${rows.result().mkString(",")}]}"""
    println(json)
    Files.write(Paths.get(out), (json + "\n").getBytes("UTF-8"))
  }

  /** Merge-on-read leg: the cost of a fixed 200-row merge as the
    * table grows, on the log path (one log file per batch) and on the
    * fold path (the copy-on-write body over the logs and the batch),
    * plus the snapshot read at the fold bound against a plain scan.
    * P stays 32 (the CDC benchmark's count), so a 200-key batch
    * touches nearly every partition: the fold rewrites ~the table,
    * the log append writes the batch.
    * Usage: runMain graft.LakehouseScale merge [out.json] [rows,...] */
  private def mergeLeg(spark: org.apache.spark.sql.SparkSession, out: String,
      sizes: Seq[Long]): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.sources.VersionedTable
    import graft.streaming.PartitionedMerge
    val p = 32
    val batchRows = 200
    val rng = new scala.util.Random(11)
    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val rows = Seq.newBuilder[String]
    for (n <- sizes) {
      val root = Files.createTempDirectory(s"lh_merge_$n").toString
      val target = new PartitionedTableCdcTarget(spark, root, p)
      val seedS = secs(target.merge(0, spark.range(1, n + 1).select(
        col("id").as("user_id"), col("id").as("event_id"),
        (col("id") + 1000L).cast("timestamp").as("ts"),
        col("id").cast("double").as("value"), lit(false).as("is_deleted"))
        .as[CdcApplied]))
      def read(): Double = median((1 to 3).map(_ => secs(
        VersionedTable.read(spark, root).write.format("noop").mode("overwrite").save())))
      val plainS = read()
      var b = 0L
      def merge(): Double = {
        b += 1
        val keys = Seq.fill(batchRows)(rng.nextLong().abs % n + 1L)
        val batch = keys.map(k => ap(k, n + b * batchRows + k % batchRows,
          10000000000000L + b, -k.toDouble))
        secs(target.merge(b, batch.toDS()))
      }
      // log appends up to one below the count bound, then the fold;
      // the resolved read every 4 logs traces the read-cost curve
      val curve = Seq.newBuilder[String]
      curve += f""""0":$plainS%.3f"""
      val logS = (1 until PartitionedMerge.MaxLogFiles).map { i =>
        val t = merge()
        if (i % 4 == 0) curve += f""""$i":${read()}%.3f"""
        t
      }
      val logs = VersionedTable.partStats(root).get(VersionedTable.LogsLabel)
      require(logs.exists(_._2 == PartitionedMerge.MaxLogFiles - 1),
        s"expected ${PartitionedMerge.MaxLogFiles - 1} logs, got $logs")
      val boundS = read()
      val foldS = merge()
      require(!VersionedTable.partStats(root).contains(VersionedTable.LogsLabel),
        "the merge at the count bound must fold")
      val count = VersionedTable.read(spark, root).count()
      require(count == n, s"table holds $count rows, want $n")
      println(f"[merge-scale] rows=$n P=$p seed=$seedS%.1f s " +
        f"log_merge=${median(logS)}%.3f s fold_merge=$foldS%.3f s " +
        f"plain_read=$plainS%.3f s read_at_bound=$boundS%.3f s")
      rows += f"""{"table_rows":$n,"partitions":$p,"seed_s":$seedS%.2f,""" +
        f""""log_merge_s":${median(logS)}%.3f,"log_merge_max_s":${logS.max}%.3f,""" +
        f""""fold_merge_s":$foldS%.3f,"plain_read_s":$plainS%.3f,""" +
        f""""snapshot_read_s_at_bound":$boundS%.3f,""" +
        s""""read_s_by_logs":{${curve.result().mkString(",")}},""" +
        f""""logs_at_bound":${PartitionedMerge.MaxLogFiles - 1}}"""
    }
    val json = s"""{"metric":"merge_on_read_cost","unit":"s","batch_rows":$batchRows,""" +
      s""""rows":[${rows.result().mkString(",")}]}"""
    println(json)
    Files.write(Paths.get(out), (json + "\n").getBytes("UTF-8"))
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("merge")) {
      val out = args.drop(1).headOption.getOrElse(
        Paths.get(System.getProperty("java.io.tmpdir"), "graft_merge_scale.json").toString)
      val sizes = args.drop(2).headOption
        .map(_.split(",").toSeq.map(_.trim.toLong))
        .getOrElse(Seq(1000000L, 10000000L))
      val spark = Engine.session("graft-merge-scale")
      mergeLeg(spark, out, sizes)
      spark.stop()
      return
    }
    if (args.headOption.contains("erase")) {
      val out = args.drop(1).headOption.getOrElse("SCALE_ERASE_r14.json")
      val spark = Engine.session("graft-erase-scale")
      eraseLeg(spark, out)
      spark.stop()
      return
    }
    if (args.headOption.contains("snapshot")) {
      val out = args.drop(1).headOption.getOrElse("SCALE_SNAPSHOT_r14.json")
      val spark = Engine.session("graft-snapshot-scale")
      snapshotLeg(spark, out)
      spark.stop()
      return
    }
    if (args.headOption.contains("chain")) {
      val out = args.drop(1).headOption.getOrElse("SCALE_CHAIN_r14.json")
      val size = args.drop(2).headOption.map(_.trim.toInt).getOrElse(10000)
      val spark = Engine.session("graft-chain-scale")
      chainLeg(spark, out, size)
      spark.stop()
      return
    }
    if (args.headOption.contains("manifest")) {
      manifestLeg(args.drop(1).headOption.getOrElse("SCALE_MANIFEST_r14.json"))
      return
    }
    if (args.headOption.contains("rescale")) {
      val out = args.drop(1).headOption.getOrElse("SCALE_RESCALE_r13.json")
      val sizes = args.drop(2).headOption
        .map(_.split(",").toSeq.map(_.trim.toLong))
        .getOrElse(Seq(10000L, 30000L, 100000L, 300000L))
      val spark = Engine.session("graft-rescale-scale")
      rescaleLeg(spark, out, sizes)
      spark.stop()
      return
    }
    if (args.headOption.contains("cycle")) {
      val out = args.drop(1).headOption.getOrElse("SCALE_CYCLE_r13.json")
      val sizes = args.drop(2).headOption
        .map(_.split(",").toSeq.map(_.trim.toInt))
        .getOrElse(Seq(10000, 30000, 100000, 300000))
      val spark = Engine.session("graft-cycle-scale")
      cycleLeg(spark, out, sizes)
      spark.stop()
      return
    }
    if (args.headOption.contains("follower")) {
      val out = args.drop(1).headOption.getOrElse("SCALE_FOLLOWER_r12.json")
      val spark = Engine.session("graft-follower-scale")
      followerLeg(spark, out)
      spark.stop()
      return
    }
    val out = args.headOption.getOrElse("SCALE_LAKEHOUSE_r12.json")
    val spark = Engine.session("graft-lakehouse-scale")
    import spark.implicits._

    val updateKeys = 32 // constant CDC batch size across every table
    val updateBatches = 5
    val rng = new scala.util.Random(42)

    val rows = Seq.newBuilder[String]
    // 30× across the legs: COW must grow ∝ table while the
    // partitioned rewrite converges to touched-partitions × the
    // constant per-partition budget (≈ flat once P ≫ batch keys —
    // the first leg has P < batch, i.e. every partition touched,
    // deliberately included as the degenerate floor)
    for (tableKeys <- Seq(10000, 30000, 100000, 300000)) {
      val p = math.max(16, tableKeys / 800) // constant per-partition budget
      val cowRoot = Files.createTempDirectory(s"lh_cow_$tableKeys").toString
      val partRoot = Files.createTempDirectory(s"lh_part_$tableKeys").toString
      val cow = new TableCdcTarget(spark, cowRoot)
      val part = new PartitionedTableCdcTarget(spark, partRoot, p)

      val load = (1L to tableKeys.toLong)
        .map(k => ap(k, k, 1000L + k, k.toDouble))
      cow.merge(0, load.toDS()); part.merge(0, load.toDS())

      var cowTotal = 0L; var partTotal = 0L
      for (b <- 1 to updateBatches) {
        val batch = Seq.fill(updateKeys)(
          rng.nextInt(tableKeys).toLong + 1L)
          .distinct
          .map(k => ap(k, 1000000L * b + k, 10000000L * b + k, -k.toDouble))
        val cow0 = dataBytes(cowRoot); val part0 = dataBytes(partRoot)
        cow.merge(b.toLong, batch.toDS())
        part.merge(b.toLong, batch.toDS())
        cowTotal += dataBytes(cowRoot) - cow0
        partTotal += dataBytes(partRoot) - part0
      }
      val cowAvg = cowTotal / updateBatches
      val partAvg = partTotal / updateBatches
      println(s"[lakehouse-scale] rows=$tableKeys P=$p " +
        s"cow=$cowAvg B/batch part=$partAvg B/batch " +
        f"ratio=${cowAvg.toDouble / partAvg}%.1f")
      rows += s"""{"table_rows":$tableKeys,"partitions":$p,""" +
        s""""batch_keys":$updateKeys,"cow_bytes_per_batch":$cowAvg,""" +
        s""""part_bytes_per_batch":$partAvg,""" +
        f""""cow_over_part":${cowAvg.toDouble / partAvg}%.2f}"""

      // equality witness: the two forms must agree after every replay
      val a = cow.snapshot.orderBy("user_id").collect().toSeq
      val b = part.snapshot.orderBy("user_id").collect().toSeq
      require(a == b, s"COW and partitioned snapshots diverged at $tableKeys")
    }
    val json =
      s"""{"metric":"lakehouse_rewrite_bytes","unit":"bytes_per_batch","update_keys":$updateKeys,"tables":[${rows.result().mkString(",")}]}"""
    println(json)
    Files.write(Paths.get(out), (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
