package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.{PipelineOps, SimilarityOps, TextOps}

/** The batch workload: passes over a fixed list of registered queries,
  * each called through `SparkEntry.queries(name)(spark, dir)` and then
  * written to the noop sink. Pass 0 is the untimed warm-up; after its noop
  * write it also writes each result as parquet, for the oracle check, in a
  * job group of its own, so every pass's final-job count is comparable. */
object Batch {
  /** Every memo hook graft has, called before each query so no query
    * reuses another run's work. */
  private def invalidateMemos(): Unit = {
    PipelineOps.invalidateClusterMemo()
    SimilarityOps.invalidateKmMemo()
    SimilarityOps.invalidatePqMemo()
    TextOps.invalidateBpeMemo()
    TextOps.invalidateDistillMemo()
  }

  private def jobsOf(spark: SparkSession, group: String): Int =
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).length

  def run(spark: SparkSession, o: Map[String, String]): Seq[(String, Any)] = {
    val work = o("work")
    val dir = o("data")
    val names = o("queries").split(",").toSeq
    val seconds = o("seconds").toDouble
    val sc = spark.sparkContext
    val oracle = SparkEntry.oracleSql
    val rows = mutable.ArrayBuffer.empty[String]
    def one(pass: Int, name: String): Unit = {
      invalidateMemos()
      spark.catalog.clearCache()
      val fn = SparkEntry.queries(name)
      val span = s"q/p$pass/$name"
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      sc.setJobGroup(s"$span/build", name)
      val df = Tracer.within(spark, s"$span/build")(fn(spark, dir))
      val t1 = System.nanoTime()
      sc.setJobGroup(s"$span/exec", name)
      Tracer.within(spark, s"$span/exec")(df.write.format("noop").mode("overwrite").save())
      val t2 = System.nanoTime()
      if (pass == 0) {
        sc.setJobGroup(s"$span/check", name)
        Tracer.within(spark, s"$span/check")(
          df.write.mode("overwrite").parquet(s"$work/out/$name"))
      }
      sc.clearJobGroup()
      rows += Json.obj("pass" -> pass, "name" -> name, "start_ms" -> start,
        "build_s" -> (t1 - t0) / 1e9, "exec_s" -> (t2 - t1) / 1e9,
        "build_jobs" -> jobsOf(spark, s"$span/build"),
        "exec_jobs" -> jobsOf(spark, s"$span/exec"))
    }
    val w0 = System.nanoTime()
    names.foreach(one(0, _))
    val warmupS = (System.nanoTime() - w0) / 1e9
    // timed passes: at least one, and another only while it is expected
    // (from the last pass) to end within `seconds`
    val timedStart = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var pass, lastNs = 0L
    while (pass < 1 || System.nanoTime() - t0 + lastNs <= seconds * 1e9) {
      pass += 1
      val p0 = System.nanoTime()
      names.foreach(one(pass.toInt, _))
      lastNs = System.nanoTime() - p0
    }
    Seq("warmup_s" -> warmupS, "timed_start_ms" -> timedStart,
      "queries" -> Json.Raw(rows.mkString("[", ",", "]")),
      "oracle_sql" -> names.map(n => n -> oracle.get(n)).toMap)
  }
}
