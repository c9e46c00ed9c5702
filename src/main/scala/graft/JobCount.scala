package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** Dev tool (r16): per-query execution-shape telemetry — the numbers
  * the final `.explain` cannot show for queries with eager staging
  * jobs (the whole point of VERDICT r15 item 1: per-ROUND exchanges
  * live in staging jobs, not the final plan fragment).
  *
  * For each named query it runs the full noop-sink action and reports
  * the REAL job count, stage count, task count and shuffle bytes
  * written across every job the query triggered (staging included).
  * Usage: runMain graft.JobCount [sfDir] <queryName...>
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val (dir, names) =
      if (args.nonEmpty && args.head.startsWith("/"))
        (args.head, args.tail.toSeq)
      else ("/root/testdata/sf0.1", args.toSeq)
    val spark = Engine.session("graft-jobcount")
    spark.sparkContext.setLogLevel("ERROR")
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var shuffleWrite = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        synchronized {
          stages += 1
          tasks += s.stageInfo.numTasks
          shuffleWrite += s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
    }
    spark.sparkContext.addSparkListener(listener)
    names.foreach { n =>
      spark.catalog.clearCache()
      operators.Memo.clearAll()
      jobs = 0; stages = 0; tasks = 0; shuffleWrite = 0L
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      // listener events are posted asynchronously; give the bus a
      // moment to drain before reading (dev tool — sleep is fine)
      Thread.sleep(300)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"$n%-28s jobs=$jobs%-4d stages=$stages%-4d tasks=$tasks%-5d " +
        f"shuffleMB=${shuffleWrite / 1e6}%-9.2f sec=$sec%.2f")
    }
    spark.stop()
  }
}
