package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Spark jobs a block starts, counted by a listener on a job tag: a
  * local property set around the block, which every thread the block's
  * actions start (broadcast builds, subqueries) inherits. Listener
  * events arrive asynchronously and in order, so a tagged sentinel job
  * after the block marks the point where every earlier event was
  * delivered.
  *
  * `Test/runMain graft.SparkJobs <sfDir> <query...>` prints each
  * query's counts, cold, through a noop sink: the staging jobs that
  * the final `.explain` cannot show included. */
object SparkJobs {
  private val TagKey = "graft.spec.jobs"

  /** What the tagged jobs ran: their stages that completed (a skipped
    * stage never runs), those stages' tasks and shuffle bytes written. */
  final case class Counts(jobs: Int, stages: Int, tasks: Int, shuffleWriteBytes: Long)

  def count[T](spark: SparkSession)(body: => T): (T, Int) = {
    val (v, c) = measure(spark)(body)
    (v, c.jobs)
  }

  def measure[T](spark: SparkSession)(body: => T): (T, Counts) = {
    val sc = spark.sparkContext
    val tag = UUID.randomUUID().toString
    val sentinel = s"$tag.sentinel"
    val jobs = new AtomicInteger
    val stageIds = ConcurrentHashMap.newKeySet[Int]()
    val (stages, tasks, shuffleWrite) = (new AtomicInteger, new AtomicInteger, new AtomicLong)
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty(TagKey)).foreach { t =>
          if (t == tag) {
            jobs.incrementAndGet()
            j.stageIds.foreach(stageIds.add)
          } else if (t == sentinel) drained.countDown()
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (stageIds.contains(s.stageInfo.stageId)) {
          stages.incrementAndGet()
          tasks.addAndGet(s.stageInfo.numTasks)
          shuffleWrite.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
    }
    def tagged[R](t: String)(f: => R): R = {
      sc.setLocalProperty(TagKey, t)
      try f finally sc.setLocalProperty(TagKey, null)
    }
    sc.addSparkListener(listener)
    try {
      val v = tagged(tag)(body)
      tagged(sentinel)(spark.range(1).collect())
      assert(drained.await(60, TimeUnit.SECONDS), "listener events never drained")
      (v, Counts(jobs.get, stages.get, tasks.get, shuffleWrite.get))
    } finally sc.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.SparkJobs <sfDir> <query...>")
    val spark = Engine.session("graft-jobcount")
    spark.sparkContext.setLogLevel("ERROR")
    args.tail.foreach { n =>
      spark.catalog.clearCache()
      operators.Memo.clearAll()
      val t0 = System.nanoTime()
      val (_, c) = measure(spark) {
        SparkEntry.queries(n)(spark, args.head)
          .write.format("noop").mode("overwrite").save()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"$n%-28s jobs=${c.jobs}%-4d stages=${c.stages}%-4d tasks=${c.tasks}%-5d " +
        f"shuffleMB=${c.shuffleWriteBytes / 1e6}%-9.2f sec=$sec%.2f")
    }
    spark.stop()
  }
}
