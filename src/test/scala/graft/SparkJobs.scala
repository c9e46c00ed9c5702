package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark jobs a block starts, counted by a listener on a job tag: a
  * local property set around the block, which every thread the block's
  * actions start (broadcast builds, subqueries) inherits. Listener
  * events arrive asynchronously and in order, so a tagged sentinel job
  * after the block marks the point where every earlier event was
  * delivered. */
object SparkJobs {
  private val TagKey = "graft.spec.jobs"

  def count[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = UUID.randomUUID().toString
    val sentinel = s"$tag.sentinel"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty(TagKey)).foreach { t =>
          if (t == tag) jobs.incrementAndGet()
          else if (t == sentinel) drained.countDown()
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
      (v, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
