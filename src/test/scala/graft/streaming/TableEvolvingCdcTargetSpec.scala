package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.sources.VersionedTable

/** The evolving-lakehouse contract (VERDICT r11 item 2): drifted
  * batches widen the table schema in the same commit as their data,
  * pre-widen files serve added columns as NULLs WITHOUT being
  * rewritten, and a restarted writer reloads the evolved schema from
  * the manifest — SchemaEvolutionSpec's scenarios against
  * [[TableEvolvingCdcTarget]]. */
class TableEvolvingCdcTargetSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("graft-evotable").toString

  private def rowsByKey(t: TableEvolvingCdcTarget): Map[Long, Map[String, Any]] =
    t.snapshot.collect().map { r =>
      r.getAs[Long]("user_id") ->
        r.schema.fieldNames.map(n => n -> r.getAs[Any](n)).toMap
    }.toMap

  test("drift widens the manifest schema; old partitions serve NULLs unrewritten") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val root = freshRoot()
    val target = new TableEvolvingCdcTarget(spark, root, numPartitions = 4)
    val input = MemoryStream[String]
    val checkpoint = Files.createTempDirectory("graft_evotbl_ckpt").toString
    val q = SchemaEvolution.mergeEvolvingJson(input.toDS(), target, checkpoint,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
    try {
      input.addData(
        """{"user_id":1,"event_id":1,"ts":1000,"v":1.5}""",
        """{"user_id":2,"event_id":2,"ts":1000,"v":2.5}""")
      q.processAllAvailable()
      assert(target.schema.get.fieldNames.toSet ==
        Set("user_id", "event_id", "ts", "v"))
      val partsBefore = VersionedTable.parts(root)
      assert(partsBefore.nonEmpty)

      // drifted batch: +props, -v, touching ONLY key 3's partition
      input.addData("""{"user_id":3,"event_id":3,"ts":2000,"props":"a=1"}""")
      q.processAllAvailable()
      assert(target.schema.get.fieldNames.toSet ==
        Set("user_id", "event_id", "ts", "v", "props"))

      val snap = rowsByKey(target)
      assert(snap(3L)("props") == "a=1" && snap(3L)("v") == null)
      assert(snap(1L)("props") == null,
        "pre-widen rows must serve the new column as NULL")
      assert(snap(1L)("v") == 1.5)

      // the widen rewrote NOTHING: every partition dir of the
      // pre-drift commit is carried verbatim into the post-drift
      // manifest, and key 3's row went to one log file
      assert(VersionedTable.parts(root) == partsBefore,
        "a pre-widen partition was rewritten on drift")
      assert(VersionedTable.partStats(root).get(VersionedTable.LogsLabel)
        .map(_._2).contains(1), "the drift commit must append one log")
    } finally q.stop()
  }

  test("restart reloads the evolved schema from the manifest; redelivery no-ops") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val root = freshRoot()
    val checkpoint = Files.createTempDirectory("graft_evotbl_rs").toString
    val t1 = new TableEvolvingCdcTarget(spark, root, numPartitions = 4)
    val in1 = MemoryStream[String]
    val q1 = SchemaEvolution.mergeEvolvingJson(in1.toDS(), t1, checkpoint,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
    try {
      in1.addData("""{"user_id":1,"event_id":1,"ts":1000,"v":1.5}""")
      q1.processAllAvailable()
      in1.addData("""{"user_id":2,"event_id":2,"ts":2000,"note":"n1"}""")
      q1.processAllAvailable()
      assert(t1.schema.get.fieldNames.toSet ==
        Set("user_id", "event_id", "ts", "v", "note"))
    } finally q1.stop()

    // crash-restart: a FRESH target instance must reload the evolved
    // schema from the table, not re-run first-batch creation
    val t2 = new TableEvolvingCdcTarget(spark, root, numPartitions = 4)
    assert(t2.schema.get.fieldNames.toSet ==
      Set("user_id", "event_id", "ts", "v", "note"),
      "restart forgot evolved columns")

    val vBefore = VersionedTable.versions(root).size
    // redelivered batch id (0): whole-batch no-op — version count flat
    t2.merge(0, t2.snapshot.limit(1).select(
      t2.schema.get.fieldNames.map(col).toSeq: _*))
    assert(VersionedTable.versions(root).size == vBefore,
      "redelivered batch committed a new version")

    // and the restarted writer keeps merging under the evolved schema.
    // The restart reuses the SAME source and checkpoint — that is what
    // a crash-restart IS, and it is what keeps the batch-id sequence
    // (the manifest txn ids) monotone; a fresh checkpoint would replay
    // ids from 0 and the txn guard would rightly skip them as
    // redeliveries (the single-writer-per-root contract)
    val q2 = SchemaEvolution.mergeEvolvingJson(in1.toDS(), t2, checkpoint,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
    try {
      in1.addData("""{"user_id":1,"event_id":9,"ts":9000,"v":9.5,"note":"n9"}""")
      q2.processAllAvailable()
      val snap = rowsByKey(t2)
      assert(snap(1L)("v") == 9.5 && snap(1L)("note") == "n9")
      assert(snap(2L)("note") == "n1" && snap(2L)("v") == null)
    } finally q2.stop()
  }

  test("type drift promotes the stored column; pre-widen files upcast " +
      "unrewritten, and the widened type survives restart") {
    // int→long on an EXISTING column (VERDICT r13 item 5): the widen
    // is metadata-only — the manifest schema retypes, pre-widen
    // int32 parquet pages upcast at read, nothing is rewritten
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val target = new TableEvolvingCdcTarget(spark, root, numPartitions = 4)
    val b0 = Seq((1L, 1L, 1000L, 7), (2L, 2L, 1000L, 8))
      .toDF("user_id", "event_id", "ts", "cnt")
    target.merge(0, SchemaEvolution.heal(target, b0))
    assert(target.schema.get("cnt").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val partsBefore = VersionedTable.parts(root)

    // the drifted batch carries cnt as LONG with a value no int holds
    val b1 = Seq((3L, 3L, 2000L, 9999999999L))
      .toDF("user_id", "event_id", "ts", "cnt")
    target.merge(1, SchemaEvolution.heal(target, b1))
    assert(target.schema.get("cnt").dataType ==
      org.apache.spark.sql.types.LongType,
      "heal must promote int→long, not narrow the batch")

    val snap = rowsByKey(new TableEvolvingCdcTarget(spark, root,
      numPartitions = 4))
    assert(snap(3L)("cnt") == 9999999999L)
    assert(snap(1L)("cnt") == 7L,
      "pre-widen int32 rows must upcast under the widened read schema")

    // metadata-only: no partition moved, key 3's row is one log file
    assert(VersionedTable.parts(root) == partsBefore,
      "the type widen rewrote a partition")
    assert(VersionedTable.partStats(root).get(VersionedTable.LogsLabel)
      .map(_._2).contains(1), "the type widen must append one log")

    // restart: a fresh instance reloads the WIDENED type from the
    // manifest, and keeps merging under it
    val t2 = new TableEvolvingCdcTarget(spark, root, numPartitions = 4)
    assert(t2.schema.get("cnt").dataType ==
      org.apache.spark.sql.types.LongType, "restart forgot the widen")
    t2.merge(2, SchemaEvolution.heal(t2,
      Seq((1L, 9L, 9000L, 8888888888L))
        .toDF("user_id", "event_id", "ts", "cnt")))
    assert(rowsByKey(t2)(1L)("cnt") == 8888888888L)
  }

  test("JSON inference drives a long→decimal widen through the stream") {
    // the drift that actually reaches a JSON pipeline: integer
    // literals beyond 19 digits infer as DECIMAL(p,0), so an evolved
    // LONG column widens in-stream — no operator intervention
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val root = freshRoot()
    val target = new TableEvolvingCdcTarget(spark, root, numPartitions = 4)
    val input = MemoryStream[String]
    val checkpoint = Files.createTempDirectory("graft_evotbl_wd").toString
    val q = SchemaEvolution.mergeEvolvingJson(input.toDS(), target, checkpoint,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
    try {
      input.addData("""{"user_id":1,"event_id":1,"ts":1000,"cnt":7}""")
      q.processAllAvailable()
      assert(target.schema.get("cnt").dataType ==
        org.apache.spark.sql.types.LongType)

      // 21-digit literal: DuckDB-sized HUGEINT territory — inference
      // yields DECIMAL(21,0), canWiden(long→decimal(21,0)) sanctions
      // the promotion, the stream keeps flowing
      input.addData(
        """{"user_id":2,"event_id":2,"ts":2000,"cnt":123456789012345678901}""")
      q.processAllAvailable()
      val dt = target.schema.get("cnt").dataType
      assert(dt.isInstanceOf[org.apache.spark.sql.types.DecimalType],
        s"stream widen did not promote: $dt")
      val snap = rowsByKey(target)
      assert(snap(2L)("cnt").toString == "123456789012345678901")
      assert(snap(1L)("cnt").toString == "7",
        "pre-widen long rows must upcast under the decimal read schema")
    } finally q.stop()
  }

  test("a natural source column named 'pid' survives the merge intact") {
    // the internal partition column uses a reserved name so a legal
    // source field called pid is data, not plumbing
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val t = new TableEvolvingCdcTarget(spark, root, numPartitions = 4)
    t.addColumns(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pid",
        org.apache.spark.sql.types.LongType)))
    t.merge(0, Seq((1L, 1L, 1000L, 777L), (2L, 2L, 1000L, 888L))
      .toDF("user_id", "event_id", "ts", "pid"))
    t.merge(1, Seq((1L, 9L, 9000L, 999L))
      .toDF("user_id", "event_id", "ts", "pid"))
    val snap = t.snapshot.collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("pid")).toMap
    assert(snap == Map(1L -> 999L, 2L -> 888L),
      s"source pid column was clobbered: $snap")
  }

  test("stale images lose the seq guard; in-batch duplicates dedupe") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val root = freshRoot()
    val target = new TableEvolvingCdcTarget(spark, root, numPartitions = 4)
    val input = MemoryStream[String]
    val q = SchemaEvolution.mergeEvolvingJson(input.toDS(), target,
      Files.createTempDirectory("graft_evotbl_seq").toString,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
    try {
      input.addData(
        """{"user_id":1,"event_id":5,"ts":5000,"v":5.0}""",
        """{"user_id":1,"event_id":3,"ts":3000,"v":3.0}""")
      q.processAllAvailable()
      assert(rowsByKey(target)(1L)("v") == 5.0,
        "in-batch duplicate did not dedupe to latest")

      // a later batch carrying an OLDER image must not regress state
      input.addData("""{"user_id":1,"event_id":1,"ts":1000,"v":1.0}""")
      q.processAllAvailable()
      assert(rowsByKey(target)(1L)("v") == 5.0,
        "stale image regressed newer committed state")
    } finally q.stop()
  }
}
