package graft.sources

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.streaming.{CdcApplied, PartitionedTableCdcTarget, TableEvolvingCdcTarget}

/** Partition-scoped compaction:
  *  (a) compactPartitions rewrites ONLY over-budget partitions (the
  *      rest are byte-identical across the commit), is data-lossless,
  *      and is a no-op (no commit) when nothing is over budget;
  *  (b) an evolving table's manifest schema SURVIVES its own
  *      compaction — a restarted writer still reloads every widened
  *      column;
  *  (c) a compaction racing a merge rebases: the merged state
  *      survives;
  *  (d) expire + vacuum reclaim the pre-compaction small-file dirs
  *      without touching live data.
  */
class CompactionSpec extends SparkSpec {

  private lazy val s = spark
  import s.implicits._

  private val P = 8

  private def ap(uid: Long, id: Long, t: Long, v: Double,
      del: Boolean = false) =
    CdcApplied(uid, id, new Timestamp(t), v, del)

  private def freshRoot(): String =
    Files.createTempDirectory("graft-compact").toString

  private def pidOf(uid: Long): Int =
    s.range(1).select(pmod(hash(lit(uid)), lit(P))).first().getInt(0)

  private def parquetCount(root: String, rel: String): Int = {
    val w = Files.walk(Paths.get(root, rel))
    try w.iterator.asScala.count(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet"))
    finally w.close()
  }

  /** (relative file path → (size, CRC32)) for the dirs of `parts`. */
  private def fileState(root: String,
      parts: Map[String, Seq[String]]): Map[String, (Long, Long)] =
    parts.values.flatten.flatMap { rel =>
      val dir = Paths.get(root, rel)
      val w = Files.walk(dir)
      val files = try w.iterator.asScala.filter(Files.isRegularFile(_)).toSeq
      finally w.close()
      files.map { f =>
        val bytes = Files.readAllBytes(f)
        val crc = new java.util.zip.CRC32(); crc.update(bytes)
        s"$rel/${dir.relativize(f)}" -> (bytes.length.toLong, crc.getValue)
      }
    }.toMap

  /** A partitioned table whose pid dirs hold SEVERAL parquet files
    * each (maxRecordsPerFile forces the split stagePartitioned's
    * one-task-per-pid layout otherwise avoids). */
  private def multiFileTable(root: String): PartitionedTableCdcTarget = {
    val target = new PartitionedTableCdcTarget(spark, root, P)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", 5L)
    try target.merge(0,
      (1L to 120L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    finally spark.conf.set("spark.sql.files.maxRecordsPerFile", 0L)
    target
  }

  test("compactPartitions rewrites only over-budget partitions, losslessly") {
    val root = freshRoot()
    val target = multiFileTable(root)
    // a follow-up rewrite of one key's pid (the copy-on-write form a
    // merge's fold takes) leaves that pid at ONE file — the
    // under-budget partition the compaction must NOT touch
    val quietKey = 7L
    val quietPid = pidOf(quietKey).toString
    val quietRows = target.snapshot
      .filter(pmod(hash(col("user_id")), lit(P)) === pidOf(quietKey) &&
        col("user_id") =!= quietKey)
      .unionByName(Seq(ap(quietKey, 500, 99999, 7.7)).toDS().toDF())
    VersionedTable.commitPartitions(VersionedTable.stagePartitioned(
      quietRows.withColumn(VersionedTable.PidCol, VersionedTable.keyPid("user_id", P)),
      root, VersionedTable.PidCol), root, batchId = 1, nParts = Some(P))

    val parts = VersionedTable.parts(root)
    assert(parts.keySet.exists(k =>
      k != quietPid && parts(k).map(parquetCount(root, _)).sum > 1),
      "precondition: some partition must hold several files")
    assert(parts(quietPid).map(parquetCount(root, _)).sum == 1,
      "precondition: the quiet pid must be at one file")
    val quietBefore = fileState(root, Map(quietPid -> parts(quietPid)))
    val before = target.snapshot.as[CdcApplied].collect()
      .map(r => r.user_id -> r).toMap

    val rewritten = VersionedTable.compactPartitions(spark, root)
    assert(!rewritten.contains(quietPid),
      "an under-budget partition was rewritten")
    assert(rewritten.nonEmpty, "over-budget partitions were skipped")

    val after = VersionedTable.parts(root)
    assert(after(quietPid) == parts(quietPid) &&
      fileState(root, Map(quietPid -> after(quietPid))) == quietBefore,
      "the under-budget partition must ride the commit verbatim")
    after.foreach { case (k, ds) =>
      assert(ds.map(parquetCount(root, _)).sum == 1,
        s"pid $k not compacted to one file")
    }
    assert(target.snapshot.as[CdcApplied].collect()
      .map(r => r.user_id -> r).toMap == before,
      "compaction changed the data")

    // idempotent: nothing left over budget → no commit at all
    val vBefore = VersionedTable.versions(root).size
    assert(VersionedTable.compactPartitions(spark, root).isEmpty)
    assert(VersionedTable.versions(root).size == vBefore,
      "a no-op compaction committed a version")

    // the partition-count stamp rides through compaction commits
    assert(VersionedTable.partCount(root).contains(P),
      "compaction dropped the partition-count stamp")
  }

  test("the evolving manifest schema survives compaction") {
    val root = freshRoot()
    val t = new TableEvolvingCdcTarget(spark, root, numPartitions = P)
    t.addColumns(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("ts", LongType), StructField("v", DoubleType)))
    t.merge(0, (1L to 20L).map(k => (k, k, 1000 + k, k / 2.0))
      .toDF("user_id", "event_id", "ts", "v"))
    t.addColumns(Seq(StructField("note", StringType)))
    t.merge(1, Seq((21L, 21L, 9000L, 21.0, "n21"))
      .toDF("user_id", "event_id", "ts", "v", "note"))
    val want = t.schema.get.fieldNames.toSet

    // force a full rewrite: every populated partition is "over budget"
    val rewritten = VersionedTable.compactPartitions(spark, root,
      maxFilesPerPart = 0)
    assert(rewritten.nonEmpty)

    // restart: a fresh writer must still reload the widened schema
    val reborn = new TableEvolvingCdcTarget(spark, root, numPartitions = P)
    assert(reborn.schema.map(_.fieldNames.toSet).contains(want),
      s"compaction dropped the manifest schema: ${reborn.schema}")
    val snap = reborn.snapshot.collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(snap.size == 21 && snap(21L).getAs[String]("note") == "n21" &&
      snap(1L).getAs[Any]("note") == null,
      "compaction changed evolving-table data")

    // and the reborn writer keeps merging on top of the compacted table
    reborn.merge(2, Seq((1L, 99L, 99000L, 1.9, "n1"))
      .toDF("user_id", "event_id", "ts", "v", "note"))
    assert(reborn.snapshot.collect().map(r =>
      r.getAs[Long]("user_id") -> r).toMap
      .apply(1L).getAs[String]("note") == "n1")
  }

  test("compaction bytes are metered as table_copy egress") {
    val root = freshRoot()
    multiFileTable(root)
    val meter = new graft.streaming.EgressMeter
    val rewritten = VersionedTable.compactPartitions(spark, root,
      meter = Some(meter), pipeline = "maint")
    assert(rewritten.nonEmpty)
    val billed = meter.bytes("maint", root, "table_copy")
    // exact contract: billed = on-disk bytes of the rewritten
    // partitions' new dirs (the staged data that got published)
    val newBytes = VersionedTable.parts(root)
      .filter { case (k, _) => rewritten.contains(k) }
      .values.flatten.map { rel =>
        val w = Files.walk(Paths.get(root, rel))
        try w.iterator.asScala.filter(Files.isRegularFile(_))
          .map(Files.size(_)).sum
        finally w.close()
      }.sum
    assert(billed == newBytes, s"billed $billed != staged $newBytes")
  }

  test("compactPartitions rebases on a racing merge: merged state survives") {
    // Single merge writer + concurrent compaction — the documented
    // safe pairing (compaction is data-identical, so the merge's
    // staged content stays valid whichever side wins each race; the
    // loser rebases). Final state must equal the sequential merge
    // outcome exactly.
    val root = freshRoot()
    val target = new PartitionedTableCdcTarget(spark, root, P)
    target.merge(0, (1L to 60L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    val batches = (1 to 6).map { b =>
      b.toLong -> (1L to 10L).map(i => ap(b * 10L + i, 1000L * b + i,
        50000L * b + i, b * 100.0 + i))
    }
    val writer = new Thread(() => {
      batches.foreach { case (id, rows) => target.merge(id, rows.toDS()) }
    })
    writer.start()
    try {
      while (writer.isAlive) {
        // maxFilesPerPart=0: every populated partition is always over
        // budget, so each loop turn really rewrites under the merge
        VersionedTable.compactPartitions(spark, root,
          maxFilesPerPart = 0, maxAttempts = 50)
      }
    } finally writer.join()
    val got = target.snapshot.as[CdcApplied].collect()
      .map(r => r.user_id -> r).toMap
    // sequential oracle: replay the same batches on a quiet table
    val quiet = freshRoot()
    val t2 = new PartitionedTableCdcTarget(spark, quiet, P)
    t2.merge(0, (1L to 60L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    batches.foreach { case (id, rows) => t2.merge(id, rows.toDS()) }
    val want = t2.snapshot.as[CdcApplied].collect()
      .map(r => r.user_id -> r).toMap
    assert(got == want, "concurrent compaction diverged from sequential merges")
  }

  test("expire + vacuum reclaim pre-compaction dirs, never live ones") {
    val root = freshRoot()
    val target = multiFileTable(root)
    val expected = target.snapshot.as[CdcApplied].collect()
      .map(r => r.user_id -> r).toMap
    assert(VersionedTable.compactPartitions(spark, root).nonEmpty)
    VersionedTable.expire(root, keepLast = 1)
    val reclaimed = VersionedTable.vacuum(root, graceMillis = 0)
    assert(reclaimed.nonEmpty, "the replaced small-file dirs must be reclaimed")
    assert(target.snapshot.as[CdcApplied].collect()
      .map(r => r.user_id -> r).toMap == expected,
      "vacuum touched live partition data")
    VersionedTable.parts(root).values.flatten.foreach { rel =>
      assert(Files.isDirectory(Paths.get(root, rel)), s"live dir $rel gone")
    }
  }
}
