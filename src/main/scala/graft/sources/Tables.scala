package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Table loader for the driver-generated parquet star schema.
  *
  * The reference ingests rows from PostgreSQL logical replication
  * (/root/reference/src/pipeline_manager.rs); here the equivalent
  * "source" abstraction is a columnar scan that Catalyst can push
  * filters/projections into. At 100 TB these would be partitioned
  * parquet/iceberg paths — the API stays the same.
  *
  * Every load reads its schema on the driver ([[schemaOf]]) and hands
  * it to the reader. Without it, `spark.read.parquet` infers the
  * schema with a one-task Spark job per load, and a batch query loads
  * its tables every time it is built: 13 of the 103 jobs of one
  * perfbench `batch_analytics` pass were these inference jobs. The
  * footer read is a few kilobytes on the driver whatever the table
  * size, and nothing is cached, so a table rewritten under the same
  * path is read with its new schema.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** The schema `spark.read.parquet(path)` infers (without schema
    * merging), from one footer read on the driver. Spark's inference
    * picks the first of `_common_metadata`, `_metadata` and the first
    * data file, over the path's visible leaf files sorted by path, and
    * reads that footer with the same conversion used here: Spark's
    * own schema in the `org.apache.spark.sql.parquet.row.metadata`
    * key when the writer stored one, else the session-configured
    * conversion of the parquet schema (so `nanosAsLong` and the other
    * read flags apply alike). */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => hidden(c.getPath.getName)).flatMap(leaves)
    val files = leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val file = named(CommonMetadata).orElse(named(Metadata))
      .orElse(files.find(f => !Summaries(f.getPath.getName)))
      .getOrElse(throw new IllegalArgumentException(s"no parquet file under $path"))
    val options = HadoopReadOptions.builder(conf)
      .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf), options)
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  private val CommonMetadata = "_common_metadata"
  private val Metadata = "_metadata"
  private val Summaries = Set(CommonMetadata, Metadata)

  /** Spark's file-listing filter: `_`/`.` names (but not the summary
    * files or `k=v` partition dirs) and in-flight copies are skipped. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith(CommonMetadata) && !name.startsWith(Metadata)

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts normalizes to TimestampType regardless of the file's
    * physical encoding — the generator has shipped both layouts:
    *  - TIMESTAMP(NANOS): Spark reads it as long under Engine's
    *    nanosAsLong; convert ns→µs with integer division (`div` — a
    *    double division would lose precision at 1.7e18).
    *  - TIMESTAMP(MICROS) (isAdjustedToUTC=false): Spark reads
    *    TIMESTAMP_NTZ; with the session pinned to UTC the cast to
    *    TimestampType preserves the wall clock, matching DuckDB's
    *    naive µs TIMESTAMP view of the same file. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
