package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{ChangeIngest, VersionedTable}
import graft.streaming.{CdcApplied, CdcDemux, CdcTarget, PartitionedTableCdcTarget}

/** One call of a target's merge, as seen from outside graft. */
final case class MergeCall(batch: Long, table: String, startMs: Long,
    endMs: Long, version: Int, commitMs: Long, touched: Int) {
  def json: String = Json.obj("batch" -> batch, "table" -> table,
    "start_ms" -> startMs, "end_ms" -> endMs, "version" -> version,
    "commit_ms" -> commitMs, "touched" -> touched)
}

/** Timing wrapper around a [[CdcTarget]]: records each merge call, the
  * version it committed and that version's `commitTime`, and names the
  * call's Spark jobs `cdc/b<batch>/merge/<table>`. With `trace` it also
  * counts the partitions the call rewrote by diffing `VersionedTable.parts`. */
final class TimedTarget(table: String, root: String, inner: CdcTarget,
    trace: Boolean) extends CdcTarget {
  override def merge(batchId: Long, rows: Dataset[CdcApplied]): Unit = {
    val spark = rows.sparkSession
    val before = if (trace) VersionedTable.parts(root) else Map.empty[String, Seq[String]]
    val t0 = System.currentTimeMillis()
    Tracer.within(spark, s"cdc/b$batchId/merge/$table")(inner.merge(batchId, rows))
    val t1 = System.currentTimeMillis()
    val v = VersionedTable.versions(root).lastOption.getOrElse(-1)
    val committed = VersionedTable.committedTxns(root).contains(batchId)
    val touched = if (!trace) -1 else {
      val after = VersionedTable.parts(root)
      (before.keySet ++ after.keySet).count(k => before.get(k) != after.get(k))
    }
    Cdc.calls.synchronized {
      Cdc.calls += MergeCall(batchId, table, t0, t1,
        if (committed) v else -1,
        if (committed) VersionedTable.commitTime(root, v) else -1L, touched)
    }
  }
}

/** The CDC workload (`cdc_trickle`). The wire files are generated
  * beforehand into `<work>/seed` and `<work>/staging`; this side lands
  * them, runs ChangeIngest.readJsonFiles → CdcDemux.mergeInto →
  * TimedTarget(PartitionedTableCdcTarget) → VersionedTable, and records raw
  * timings.
  *
  * The seed snapshot lands first and is the stream's first micro-batch;
  * each warm-up file is one more. Then the stream runs with CdcDemux's
  * default trigger while a generator thread lands one file every
  * `intervalMs`, on schedule, whether or not the stream keeps up. */
object Cdc {
  val Tables: Seq[String] = Seq("customer", "orders")

  val calls = mutable.ArrayBuffer.empty[MergeCall]

  private def listJson(dir: String): Seq[File] =
    Option(new File(dir).listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".json")).sortBy(_.getName)

  private def land(f: File, landDir: String): Long = {
    Files.move(f.toPath, Paths.get(landDir, f.getName), StandardCopyOption.ATOMIC_MOVE)
    System.currentTimeMillis()
  }

  def run(spark: SparkSession, o: Map[String, String], trace: Boolean): Seq[(String, Any)] = {
    val work = o("work")
    val root = s"$work/tables"
    val landDir = s"$work/land"
    val ckpt = s"$work/checkpoint"
    Files.createDirectories(Paths.get(landDir))
    val unrouted = new AtomicLong()
    val targets: Map[String, CdcTarget] = Tables.map { t =>
      t -> new TimedTarget(t, s"$root/$t", new PartitionedTableCdcTarget(spark, s"$root/$t"), trace)
    }.toMap
    // the seed snapshot is the stream's first micro-batch (a CDC bootstrap)
    val seed = listJson(s"$work/seed")
    val warm = listJson(s"$work/staging/warm")
    val timed = listJson(s"$work/staging/timed")
    val landed = mutable.ArrayBuffer.empty[(String, Long, Long)] // name, due, landed
    val warmStart = System.nanoTime()
    seed.foreach(land(_, landDir))
    val q = CdcDemux.mergeInto(ChangeIngest.readJsonFiles(spark, landDir, None),
      targets, ckpt, Trigger.ProcessingTime("1 second"),
      onUnrouted = n => { unrouted.addAndGet(n); () })
    q.processAllAvailable()
    // one warm-up micro-batch per warm-up file, then the schedule
    warm.foreach { f => land(f, landDir); q.processAllAvailable() }
    val warmupS = (System.nanoTime() - warmStart) / 1e9
    val interval = o("interval-ms").toLong
    val timedStartMs = System.currentTimeMillis() + 50
    val gen = new Thread(() => timed.zipWithIndex.foreach { case (f, i) =>
      val due = timedStartMs + i * interval
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val at = land(f, landDir)
      landed.synchronized { landed += ((f.getName, due, at)) }
    }, "perfbench-generator")
    gen.start(); gen.join()
    q.processAllAvailable()
    q.stop()
    q.exception.foreach(e => throw e)
    report(spark, work, root, landDir, trace, warmupS,
      timedStartMs, landed.toSeq, q.recentProgress.map(_.json).toSeq, unrouted.get)
  }

  private def dirBytes(p: String): Long =
    if (!Files.exists(Paths.get(p))) 0L
    else {
      val s = Files.walk(Paths.get(p))
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def report(spark: SparkSession, work: String, root: String,
      landDir: String, trace: Boolean, warmupS: Double,
      timedStartMs: Long, landed: Seq[(String, Long, Long)], progress: Seq[String],
      unrouted: Long): Seq[(String, Any)] = {
    // output checks run untimed, after the timed work
    val invalid = ChangeIngest.invalidRecords(spark.read.text(landDir)).count()
    Tables.foreach { t =>
      new PartitionedTableCdcTarget(spark, s"$root/$t").snapshot
        .write.mode("overwrite").parquet(s"$work/snap/$t")
    }
    val traced: Seq[(String, Any)] = if (!trace) Nil else {
      def timeNoop(df: => org.apache.spark.sql.DataFrame): Double = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val decodeS = Tracer.within(spark, "probe/decode")(
        timeNoop(ChangeIngest.readJsonFilesBatch(spark, landDir).toDF()))
      val readS = Tracer.within(spark, "probe/snapshot_read")(
        (1 to 3).map(_ => Tables.map(t => timeNoop(VersionedTable.read(spark, s"$root/$t"))).sum)
          .sorted.apply(1))
      val stats = Tables.map { t =>
        val r = s"$root/$t"
        val ps = VersionedTable.partStats(r).values
        t -> Map("versions" -> VersionedTable.versions(r).size,
          "manifest_bytes" -> dirBytes(s"$r/_versions"),
          "live_data_files" -> ps.map(_._2).sum,
          "data_bytes" -> ps.map(_._1).sum)
      }.toMap
      Seq("decode_s" -> decodeS, "snapshot_read_s" -> readS, "table_stats" -> stats)
    }
    Seq("warmup_s" -> warmupS,
      "timed_start_ms" -> timedStartMs,
      "landed" -> landed.map { case (n, d, a) => Seq(n, d, a) },
      "merges" -> Json.Raw(calls.synchronized(calls.map(_.json).mkString("[", ",", "]"))),
      "stream_progress" -> Json.Raw(progress.mkString("[", ",", "]")),
      "unrouted" -> unrouted, "invalid" -> invalid,
      "checkpoint" -> s"$work/checkpoint") ++ traced
  }
}
