package graft.operators

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, SparkSpec}
import graft.sources.Tables

/** One input per memo slot: a slot read after its table is rewritten
  * under the SAME dir, in the same session, must equal the read of a
  * fresh dir holding the new table — a memo keyed on the dir alone
  * would serve the artifact trained on the old rows. */
class MemoStalenessSpec extends SparkSpec {

  private val jobs = new AtomicInteger
  private lazy val listening = spark.sparkContext.addSparkListener(
    new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })

  /** Whether `f` ran a Spark job — the only observable recompute for a
    * width whose value the rewrite cannot move. Job-start events reach
    * the listener asynchronously, so a quiet read waits out a grace
    * period before it counts as a memo hit. */
  private def ranJob[T](f: => T): (T, Boolean) = {
    listening
    val before = jobs.get
    val v = f
    val deadline = System.nanoTime() + 2000000000L
    while (jobs.get == before && System.nanoTime() < deadline) Thread.sleep(50)
    (v, jobs.get > before)
  }

  private def query(name: String): String => Any =
    dir => SparkEntry.queries(name)(spark, dir).collect().toSeq.map(_.toString).sorted

  /** (slot, table it reads, its key column, read) */
  private val inputs: Seq[(String, String, String, String => Any)] = Seq(
    ("cluster_labels", "documents", "doc_id", query("pipe_dup_clusters")),
    ("kmeans_train", "embeddings", "vec_id", query("sim_kmeans")),
    ("pq_subdist", "embeddings", "vec_id", query("sim_pq_topk")),
    ("bpe_train", "documents", "doc_id", query("txt_bpe_train")),
    ("qd_features", "documents", "doc_id", query("txt_quality_distill")),
    ("distill_model", "documents", "doc_id",
      dir => TextOps.distillTrain(spark, dir)),
    ("lsh_planes", "embeddings", "vec_id", dir => ranJob(
      (LshWidth.labelPlanes(spark, dir), LshWidth.corpusPlanes(spark, dir)))),
    ("simhash_blocks", "documents", "doc_id",
      dir => ranJob(LshWidth.simhashBlocks(spark, dir))))

  /** Version 1 keeps a quarter of the spec table's rows, version 2 all. */
  private def write(dir: String, table: String, key: String, version: Int): Unit = {
    val rows = Tables.load(spark, sf, table)
    (if (version == 1) rows.filter(col(key) % 4 === 0) else rows)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$table.parquet")
  }

  inputs.foreach { case (slot, table, key, read) =>
    test(s"$slot recomputes when its $table table is rewritten under the same dir") {
      // Spark's own CacheManager keys persisted scans on the path, not
      // the files; clear it like every timing tool does between
      // queries so only the memo can serve stale rows
      def fresh(dir: String): Any = { spark.catalog.clearCache(); read(dir) }
      val dir = Files.createTempDirectory(s"graft_memo_$slot").toString
      write(dir, table, key, 1)
      fresh(dir)
      val hit = fresh(dir)
      write(dir, table, key, 2)
      val reread = fresh(dir)
      val other = Files.createTempDirectory(s"graft_memo_${slot}_b").toString
      write(other, table, key, 2)
      val want = fresh(other)
      assert(reread != hit, s"$slot: the rewrite is invisible to the read")
      assert(reread == want, s"$slot served a stale entry after the rewrite")
    }
  }
}
