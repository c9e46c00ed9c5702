package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Transactional guarantees of the versioned-manifest table format:
  * atomic publish, snapshot isolation, optimistic concurrency, time
  * travel, vacuum of failed-commit debris. The tables are
  * [[KeyedFixture]]'s. */
class VersionedTableSpec extends SparkSpec {

  private lazy val s = spark
  import s.implicits._
  import KeyedFixture.{append, overwrite}

  private def freshRoot(): String =
    Files.createTempDirectory("graft-vtable").toString

  /** Every file under `data/`: relative path → bytes. */
  private def dataFiles(root: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val w = Files.walk(Paths.get(root, "data"))
    try w.iterator.asScala.filter(Files.isRegularFile(_))
      .map(f => Paths.get(root).relativize(f).toString -> Files.size(f)).toMap
    finally w.close()
  }

  test("overwrite commits are atomic versions with time travel") {
    val root = freshRoot()
    val v1 = overwrite(Seq(1, 2, 3).toDF("x"), root)
    val v2 = overwrite(Seq(10, 20).toDF("x"), root)
    assert(v1 == 1 && v2 == 2)
    assert(VersionedTable.read(spark, root).as[Int].collect().sorted
      === Array(10, 20))
    // the overwritten snapshot remains fully readable
    assert(VersionedTable.readAt(spark, root, 1).as[Int].collect().sorted
      === Array(1, 2, 3))
  }

  test("append accumulates data dirs without rewriting old ones") {
    val root = freshRoot()
    overwrite(Seq(1).toDF("x"), root)
    val seeded = dataFiles(root)
    append(Seq(2).toDF("x"), root)
    append(Seq(3).toDF("x"), root)
    assert(VersionedTable.read(spark, root).as[Int].collect().sorted
      === Array(1, 2, 3))
    assert(VersionedTable.versions(root) == Seq(1, 2, 3))
    // each append added one log dir; the seed's files are untouched
    val after = dataFiles(root)
    assert(seeded.forall { case (f, n) => after.get(f).contains(n) },
      "an append rewrote or removed an existing data file")
    assert(Files.list(Paths.get(root, "data")).count() == 3)
  }

  test("a crashed commit is invisible and vacuum reclaims its debris") {
    val root = freshRoot()
    overwrite(Seq(1).toDF("x"), root)
    // simulate a writer dying after staging data but before the
    // manifest link: orphan parquet under data/, no version file
    Seq(99).toDF("x").write.parquet(
      Paths.get(root, "data/deadbeef-0000-0000-0000-000000000000").toString)
    assert(VersionedTable.versions(root) == Seq(1))
    assert(VersionedTable.read(spark, root).as[Int].collect() === Array(1))
    val removed = VersionedTable.vacuum(root, graceMillis = 0)
    assert(removed == Seq("data/deadbeef-0000-0000-0000-000000000000"))
    // referenced dirs survive vacuum
    assert(VersionedTable.read(spark, root).as[Int].collect() === Array(1))
  }

  test("manifests stamp per-partition stats the maintenance loop reads") {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    import scala.jdk.CollectionConverters._
    val root = freshRoot()
    val P = 4
    def stage(keys: Seq[Long]) = VersionedTable.stagePartitioned(
      keys.toDF("id").withColumn("pid", pmod(hash(col("id")), lit(P))),
      root, "pid")
    def walked(rel: String): (Long, Int) = {
      val w = Files.walk(Paths.get(root, rel))
      try {
        val fs = w.iterator.asScala.filter(Files.isRegularFile(_)).toSeq
        (fs.map(Files.size(_)).sum,
          fs.count(_.getFileName.toString.endsWith(".parquet")))
      } finally w.close()
    }
    VersionedTable.commitPartitions(stage(1L to 40L), root, batchId = 0,
      nParts = Some(P))
    val parts1 = VersionedTable.parts(root)
    val s1 = VersionedTable.partStats(root)
    assert(s1.keySet == parts1.keySet, "every live label must be stamped")
    // truth: the stamp equals the physical walk, label by label
    parts1.foreach { case (k, ds) =>
      val truth = ds.map(walked).reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      assert(s1(k) == truth, s"label $k stamp $s1 != walked $truth")
    }

    // a one-label merge refreshes that label's stamp, carries the rest
    // VERBATIM (no walk of untouched partitions — the O(P) contract)
    val k7 = s.range(1).select(pmod(hash(lit(7L)), lit(P)))
      .first().getInt(0).toString
    VersionedTable.commitPartitions(stage(Seq(7L)), root, batchId = 1)
    val s2 = VersionedTable.partStats(root)
    assert(s2 - k7 == s1 - k7, "untouched labels' stats must carry")
    assert(s2(k7) != s1(k7), "the touched label's stats must refresh")

    // a dropped (emptied) label loses its stamp with its dirs
    VersionedTable.commitPartitions(Map.empty, root, batchId = 2,
      dropParts = Set(k7))
    val s3 = VersionedTable.partStats(root)
    assert(!s3.contains(k7) && s3 == s2 - k7)
  }

  test("vacuum's age grace protects in-flight staging") {
    val root = freshRoot()
    overwrite(Seq(1).toDF("x"), root)
    // an unreferenced dir that is BEING STAGED right now looks exactly
    // like commit debris — only its file age tells them apart (the
    // r13 managed-maintenance race: immediate vacuum deleted a
    // concurrent merge's staged files and the merge published a
    // manifest over partial data)
    val staging = "data/deadbeef-1111-0000-0000-000000000000"
    Seq(99).toDF("x").write.parquet(Paths.get(root, staging).toString)
    assert(VersionedTable.vacuum(root).isEmpty,
      "default grace must skip a freshly-written unreferenced dir")
    assert(Files.isDirectory(Paths.get(root, staging)))
    // past the grace (here: grace 0 stands in for aged-out), reclaim
    assert(VersionedTable.vacuum(root, graceMillis = 0) == Seq(staging))
  }

  test("a lost commit race throws ConcurrentCommit; retry lands on top") {
    val root = freshRoot()
    overwrite(Seq(1).toDF("x"), root)
    // squat version 2 (the concurrent winner)
    KeyedFixture.appendAt(Seq(2).toDF("x"), root, expected = 1)
    // a writer that still believes the table is at v1 must lose...
    val log = KeyedFixture.stageLog(Seq(3).toDF("x"), root)
    intercept[VersionedTable.ConcurrentCommit] {
      VersionedTable.commitPartitionsOnce(Map.empty, root, expected = 1,
        addLog = log, key = Some(KeyedFixture.Key))
    }
    // ...and the retrying commit replays the same staged log cleanly
    // on the new state
    val v = VersionedTable.commitPartitions(Map.empty, root, batchId = 0,
      addLog = log, key = Some(KeyedFixture.Key))
    assert(v.contains(3))
    assert(VersionedTable.read(spark, root).as[Int].collect().sorted
      === Array(1, 2, 3))
  }

  test("commitPartitions is an exactly-once streaming sink under redelivery") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = freshRoot()
    // one micro-batch, one log appended under the batch id's txn
    def commitBatch(df: org.apache.spark.sql.DataFrame, id: Long): Option[Int] =
      VersionedTable.commitPartitions(Map.empty, root, id,
        addLog = KeyedFixture.stageLog(df, root), key = Some(KeyedFixture.Key))
    val input = MemoryStream[Int]
    val q = input.toDS().toDF("x").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        commitBatch(df, id); ()
      }
      .outputMode("append").start()
    try {
      input.addData(1, 2); q.processAllAvailable()
      input.addData(3); q.processAllAvailable()
      assert(VersionedTable.read(spark, root).as[Int].collect().sorted
        === Array(1, 2, 3))
      // a restart redelivers the last batch: same batch id, same data —
      // the txn in the manifest makes the re-commit a no-op
      val again = commitBatch(Seq(3).toDF("x"), 1L)
      assert(again.isEmpty, "redelivered batch must be skipped")
      assert(VersionedTable.read(spark, root).as[Int].collect().sorted
        === Array(1, 2, 3))
      // a genuinely new batch id still lands
      assert(commitBatch(Seq(4).toDF("x"), 2L).nonEmpty)
      assert(VersionedTable.read(spark, root).count() == 4)
    } finally q.stop()
  }

  test("compact + expire + vacuum collapse append debris losslessly") {
    val root = freshRoot()
    overwrite(Seq(1).toDF("x"), root)
    append(Seq(2).toDF("x"), root)
    append(Seq(3).toDF("x"), root)
    // every populated label is over a zero-file budget, and the two
    // logs fold: one rewrite of the whole table
    assert(VersionedTable.compactPartitions(spark, root, maxFilesPerPart = 0)
      .nonEmpty)
    assert(VersionedTable.versions(root).last == 4)
    assert(VersionedTable.read(spark, root).as[Int].collect().sorted
      === Array(1, 2, 3), "compaction changed data")
    // retention: keep only the compacted version, then reclaim
    assert(VersionedTable.expire(root, keepLast = 1) == Seq(1, 2, 3))
    val removed = VersionedTable.vacuum(root, graceMillis = 0)
    assert(removed.size == 3,
      s"the seed dir and 2 log dirs should be reclaimed: $removed")
    assert(VersionedTable.read(spark, root).as[Int].collect().sorted
      === Array(1, 2, 3))
    val dataDirs = Files.list(Paths.get(root, "data")).count()
    assert(dataDirs == 1, "only the compacted dir remains")
  }

  test("a resolved snapshot keeps reading its own files across commits") {
    val root = freshRoot()
    overwrite(Seq(1, 2).toDF("x"), root)
    val snap = VersionedTable.read(spark, root) // resolves v1's manifest
    overwrite(Seq(100).toDF("x"), root)
    VersionedTable.vacuum(root, graceMillis = 0) // must not touch v1 refs
    assert(snap.as[Int].collect().sorted === Array(1, 2),
      "in-flight reader saw a concurrent overwrite")
  }
}
