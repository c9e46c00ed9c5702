package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.streaming.{CdcApplied, PartitionedTableCdcTarget, TableFollower}

/** The manifest record ([[VersionedTable.Manifest]]) is the only code
  * that knows the on-disk format. Pinned:
  *  (a) every manifest shape the public APIs write parses and renders
  *      back to the same bytes — flat append/overwrite/compaction,
  *      full and delta partitioned commits (drops included), forced
  *      checkpoints, a rescale's overwrite_parts, flat and partitioned
  *      restores, a follower's followsrc stamp and an evolving
  *      table's schema;
  *  (b) manifests with hand-stripped stamps (history written before
  *      a field existed) read back through the public accessors with
  *      the answers their documented fallbacks give. */
class ManifestSpec extends SparkSpec {

  private lazy val s = spark
  import s.implicits._

  private val P = 4

  private def ap(uid: Long, v: Double) =
    CdcApplied(uid, uid, new Timestamp(1000 + uid), v, false)

  private def freshRoot(): String =
    Files.createTempDirectory("graft-manifest").toString

  private def manifests(root: String): Seq[Path] = {
    val ls = Files.list(Paths.get(root, "_versions"))
    try ls.iterator.asScala.filter(_.getFileName.toString.startsWith("v"))
      .toSeq.sortBy(_.getFileName.toString)
    finally ls.close()
  }

  private def assertRoundTrips(root: String): Seq[String] =
    manifests(root).map { f =>
      val txt = Files.readString(f)
      assert(VersionedTable.Manifest.parse(txt).render == txt,
        s"$f does not round-trip")
      VersionedTable.Manifest.parse(txt).op
    }

  test("every manifest shape renders back to its bytes") {
    val flat = freshRoot()
    VersionedTable.commit(Seq(1, 2).toDF("x"), flat)
    VersionedTable.commit(Seq(3).toDF("x"), flat)
    VersionedTable.commit(Seq(4).toDF("x"), flat, overwrite = true)
    VersionedTable.compact(spark, flat)
    VersionedTable.restore(spark, flat, 2)
    assert(assertRoundTrips(flat) ==
      Seq("append", "append", "overwrite", "overwrite", "restore"))

    val src = freshRoot()
    val target = new PartitionedTableCdcTarget(spark, src, P)
    target.merge(0, (1L to 40L).map(k => ap(k, k.toDouble)).toDS())
    target.merge(1, (1L to 5L).map(k => ap(k, -k.toDouble)).toDS())
    // a delta that drops a label
    val label = VersionedTable.parts(src).keys.toSeq.sorted.head
    val staged = VersionedTable.stagePartitioned(
      (41L to 44L).toDF("user_id")
        .withColumn(VersionedTable.PidCol, VersionedTable.keyPid("user_id", P))
        .filter(col(VersionedTable.PidCol) =!= label.toInt),
      src, VersionedTable.PidCol)
    VersionedTable.commitPartitions(staged, src, batchId = 2,
      dropParts = Set(label), nParts = Some(P))
    VersionedTable.compactPartitions(spark, src, maxFilesPerPart = 0)
    val present = VersionedTable.read(spark, src).select("user_id").as[Long].head()
    VersionedTable.deleteKeys(spark, src, "user_id", Seq(present).toDF("user_id"))
    VersionedTable.rescalePartitions(spark, src, "user_id", P * 2)
    VersionedTable.restore(spark, src, 2)
    val dst = freshRoot()
    val follower = new TableFollower(spark, src, dst, "user_id", P)
    follower.tick()
    VersionedTable.compactPartitions(spark, dst, maxFilesPerPart = 0)
    assert(assertRoundTrips(dst).last == "merge_parts")
    assert(VersionedTable.followSrc(dst) == VersionedTable.tableId(src))
    // an evolving commit: a schema with a quote to escape
    val ddl = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id BIGINT, note STRING COMMENT 'say \"hi\"'").toDDL
    VersionedTable.commitPartitions(VersionedTable.stagePartitioned(
      Seq((45L, "n")).toDF("user_id", "note")
        .withColumn(VersionedTable.PidCol, VersionedTable.keyPid("user_id", P)),
      src, VersionedTable.PidCol), src, batchId = 3, schemaDdl = Some(ddl),
      nParts = Some(P))
    assert(assertRoundTrips(src) == Seq("merge_parts", "append_log",
      "delta_parts", "merge_parts", "merge_parts", "overwrite_parts",
      "restore", "delta_parts"))
    assert(Files.readString(manifests(src)(2))
      .contains(s""""drops":["$label"]"""))
    // the merge-on-read shape: a log append stamps the key and lists
    // its log, declares format 3, and the raw delta after it carries
    // the log; the compaction folds it and declares format 2 again
    val txt = manifests(src).map(Files.readString(_))
    assert(txt(1).contains(""""mver":3,""") &&
      txt(1).contains(""""key":["user_id","ts","event_id"],"logs":[["data/"""))
    assert(txt(2).contains(""""logs":[["data/"""))
    assert(txt(3).contains(""""mver":2,""") && !txt(3).contains(""""logs":"""))
    // the restore of v2 brings its log back
    assert(txt(6).contains(""""logs":[["data/"""))
    assert(VersionedTable.manifestSchema(spark, src,
      VersionedTable.versions(src).last).map(_.toDDL).contains(ddl))
  }

  test("hand-stripped stamps read back through their fallbacks") {
    val root = freshRoot()
    val target = new PartitionedTableCdcTarget(spark, root, P)
    target.merge(0, (1L to 8L).map(k => ap(k, k.toDouble)).toDS())
    target.merge(1, (9L to 12L).map(k => ap(k, k.toDouble)).toDS())
    val partsBefore = VersionedTable.parts(root)
    val v2 = Paths.get(root, "_versions", "v00000002.json")
    Files.writeString(v2, Seq("\"mver\":\\d+,", "\"ts\":\\d+,",
      "\"tableid\":\"[0-9a-f-]+\",", "\"kinds\":\"[^\"]*\",", "\"nparts\":\\d+,")
      .foldLeft(Files.readString(v2))(_.replaceAll(_, "")))
    VersionedTable.invalidateTxns(root)

    assert(VersionedTable.partCount(root).isEmpty)
    assert(VersionedTable.tableId(root).isEmpty)
    assert(VersionedTable.committedTxns(root) == Set(0L, 1L))
    assert(VersionedTable.committedKinds(root) ==
      Set(VersionedTable.KindBatch, VersionedTable.KindUnstamped))
    assert(VersionedTable.commitTime(root, 2) ==
      Files.getLastModifiedTime(v2).toMillis)
    assert(VersionedTable.parts(root) == partsBefore)
    assert(VersionedTable.read(spark, root).count() == 12)
    val h = VersionedTable.history(spark, root).filter(col("version") === 2)
      .select("op", "writer", "nparts", "is_delta").collect().head
    assert(h.getString(0) == "append_log" && h.getString(1) == "batch" &&
      h.isNullAt(2) && h.getBoolean(3))
  }
}
