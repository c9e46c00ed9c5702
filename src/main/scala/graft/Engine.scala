package graft

import org.apache.spark.sql.SparkSession

/** Session factory — single place for scale-relevant config.
  *
  * AQE is on so fact-fact shuffle joins get runtime coalesce + skew
  * splitting (the 100 TB story in SURVEY §5); shuffle partitions
  * default to the local core count (on a real cluster this would be
  * ~2-3× total executor cores, or left to AQE's coalesce).
  *
  * The local filesystem is swapped for [[NioLocalFileSystem]] (the
  * `FileSystem` side) and [[NioLocalFs]] (the `FileContext` side).
  * Without the native `libhadoop`, Hadoop's local filesystem forks a
  * `chmod` for every file and directory it creates and a `readlink`
  * for every `FileContext` rename. Counted with `PATH` wrappers on
  * perfbench's `cdc_trickle` (4-core host), that was about 200
  * `chmod` and 24 `readlink` processes per CDC micro-batch, which
  * held each streaming offset/commit log write at 60–90 ms (2 ms
  * without them). The swap sets the same mode bits through
  * `java.nio`; the bytes and the checksum files on disk are
  * unchanged.
  */
object Engine {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** `fs.file.impl` and `fs.AbstractFileSystem.file.impl`: the
    * fork-free local filesystem, see above. */
  val LocalFileSystemImpl: String = classOf[NioLocalFileSystem].getName
  val LocalFsImpl: String = classOf[NioLocalFs].getName

  def session(appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // staged frames (Ckpt.stage) free via the ContextCleaner, which
      // only fires on JVM GC; the default 30min periodic-GC interval
      // exceeds a whole bench run, so finished queries' DISK_ONLY
      // blocks accumulated for the session (r15). 3min bounds the
      // block-store footprint at any session length; scale-neutral.
      .config("spark.cleaner.periodicGC.interval", "3min")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
      // events.parquet stores TIMESTAMP(NANOS) which the Spark parquet
      // reader rejects; read as long and convert in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.hadoop.fs.file.impl", LocalFileSystemImpl)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", LocalFsImpl)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
