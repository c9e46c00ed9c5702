package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.{SparkJobs, SparkSpec}

/** `Tables.load` reads each table's schema from one parquet footer on
  * the driver instead of running Spark's one-task inference job; the
  * schema must be the one that job infers. */
class TablesSpec extends SparkSpec {

  private val sfs = Seq("0.001", "0.01", "0.1")
    .map(x => s"${new java.io.File(sf).getParent}/sf$x")

  test("the footer schema equals Spark's inferred schema for every table at every SF") {
    for (dir <- sfs; t <- Tables.All) {
      val path = s"$dir/$t.parquet"
      assert(Tables.load(spark, dir, t).schema == spark.read.parquet(path).schema, path)
    }
  }

  test("a multi-file directory takes the schema of the file Spark's inference reads") {
    val dir = Files.createTempDirectory("graft_tables").toString
    // 32 part files (ScaleStress's layout), with _SUCCESS and .crc
    // files beside them
    Tables.lineitem(spark, sf).repartition(32).write.parquet(s"$dir/lineitem.parquet")
    val many = s"$dir/lineitem.parquet"
    assert(Files.list(java.nio.file.Paths.get(many)).toArray.count(
      _.toString.endsWith(".parquet")) == 32)
    assert(Tables.load(spark, dir, "lineitem").schema == spark.read.parquet(many).schema)
    // files whose schemas disagree: inference reads the first file by
    // path and ignores the rest, so the footer read must pick the same
    val mixed = s"$dir/mixed.parquet"
    for (i <- 1 to 4)
      spark.range(3).select(col("id"), expr(s"cast(id as ${if (i % 2 == 0) "int" else "string"}) as c$i"))
        .coalesce(1).write.mode("append").parquet(mixed)
    assert(Tables.load(spark, dir, "mixed").schema == spark.read.parquet(mixed).schema)
  }

  test("Tables.load starts no Spark job") {
    val (_, jobs) = SparkJobs.count(spark) {
      Tables.All.foreach(t => Tables.load(spark, sf, t))
      Tables.events(spark, sf)
    }
    assert(jobs == 0, s"loading ${Tables.All.size} tables ran $jobs jobs")
  }

  test("events.ts normalises to TimestampType with the same values as before") {
    for (dir <- sfs.take(2)) {
      // the inferred read, normalised as Tables.events did before it
      // read footers
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val before = raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampType => raw
        case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
      }
      val after = Tables.events(spark, dir)
      assert(after.schema("ts").dataType == TimestampType)
      assert(after.schema == before.schema)
      assert(after.collect().map(_.toString).sorted.toSeq ==
        before.collect().map(_.toString).sorted.toSeq, dir)
    }
  }
}
