package graft.operators

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session memo for cross-query artifacts: trained frames and
  * models several registered queries consume (dup-cluster labels,
  * k-means assignment, PQ sub-distances, the BPE vocab, the distill
  * features and model) and the corpus-derived LSH widths. Run
  * standalone, each consumer would pay the producing loop again; an
  * engine materializes the common subcomputation ONCE. Memoized frames
  * are Ckpt.stage-backed, so an entry holds materialized blocks and
  * replays nothing — never row data on the driver.
  *
  * Each [[Slot]] declares in one place its name, the tables it reads
  * under a data dir, and the registered query that produces it (if
  * any). An entry is keyed on (session, dir, slot, extra key) and
  * guarded by a fingerprint of the slot's tables: a lookup whose
  * fingerprint changed recomputes and replaces the entry, so a table
  * rewritten under the same dir within one session (re-materialization,
  * append) is never served a stale artifact — which the DuckDB oracles,
  * reading live, would flag as a spurious hash mismatch (ADVICE r10).
  * For non-local URIs the fingerprint degrades to a constant; a
  * deployment that rewrites such a table within one session must call
  * [[invalidate]] for its dir.
  *
  * Measurement policy — the two hooks every timing tool uses:
  *  - [[beforeTimed]] (Bench): producer pays. Clearing the slots a query
  *    produces before timing it records the full training cost under
  *    the producer, while consumers time against the materialization
  *    (warm-vs-warm across Bench's warm-up and timed rounds) — the
  *    reuse a real pipeline gets.
  *  - [[clearAll]] (SparkJobs, ScaleStress): every sample runs cold. A
  *    warm-up over one dir populates entries for that dir only, so a
  *    warm consumer would compare a memoized 1× run against a cold N×
  *    one — r12's tail sweep flagged pipe_curate_cc at 83× from exactly
  *    that asymmetry (cold-vs-cold it is ~linear).
  */
object Memo {

  final class Slot[V] private[Memo] (val name: String,
      val tables: Seq[String], val producer: Option[String])

  val clusterLabels = new Slot[DataFrame](
    "cluster_labels", Seq("documents"), Some("pipe_dup_clusters"))
  val kmeansTrain = new Slot[DataFrame](
    "kmeans_train", Seq("embeddings"), Some("sim_kmeans"))
  val pqSubDist = new Slot[DataFrame](
    "pq_subdist", Seq("embeddings"), Some("sim_pq_topk"))
  val bpeTrain = new Slot[(DataFrame, Seq[DataFrame])](
    "bpe_train", Seq("documents"), Some("txt_bpe_train"))
  val qdFeatures = new Slot[DataFrame](
    "qd_features", Seq("documents"), Some("txt_quality_distill"))
  /** No producer: txt_quality_distill computes the full training loop
    * itself; only auc/calibration read the frozen model. */
  val distillModel = new Slot[TextOps.DistillModel](
    "distill_model", Seq("documents"), None)
  val lshPlanes = new Slot[Int]("lsh_planes", Seq("embeddings"), None)
  val simhashBlocks = new Slot[Int]("simhash_blocks", Seq("documents"), None)

  val slots: Seq[Slot[_]] = Seq(clusterLabels, kmeansTrain, pqSubDist,
    bpeTrain, qdFeatures, distillModel, lshPlanes, simhashBlocks)

  /** (session, dir, slot, extra key) -> (fingerprint, value) */
  private val entries =
    TrieMap.empty[(SparkSession, String, Slot[_], Any), (String, Any)]

  /** The memoized value of `slot` for (session, dir, extra), computed
    * on a miss or when the slot's tables changed since it was stored. */
  def apply[V](slot: Slot[V], spark: SparkSession, dir: String,
      extra: Any = ())(compute: => V): V = {
    val key = (spark, dir, slot, extra)
    val fp = slot.tables.map(fingerprint(dir, _)).mkString(",")
    entries.get(key) match {
      case Some((`fp`, v)) => v.asInstanceOf[V]
      case _ =>
        val v = compute
        entries.put(key, (fp, v))
        v
    }
  }

  def clear(slot: Slot[_]): Unit =
    entries.keys.filter(_._3 eq slot).foreach(entries.remove)

  /** Producer pays: clear the slots `query` produces. */
  def beforeTimed(query: String): Unit =
    slots.filter(_.producer.contains(query)).foreach(clear)

  /** Every slot cold. */
  def clearAll(): Unit = entries.clear()

  /** Drop every entry under `dir` — for callers that rewrite a table
    * through a path the fingerprint cannot see. */
  def invalidate(dir: String): Unit =
    entries.keys.filter(_._2 == dir).foreach(entries.remove)

  /** Names of the slots holding at least one entry (for specs). */
  private[graft] def held: Set[String] = entries.keys.map(_._3.name).toSet

  /** The parquet directory's (name, mtime, length) listing, file count
    * and a CONTENT component (ADVICE r11): on filesystems with 1s mtime
    * granularity a same-second rewrite that reproduces the same names
    * and byte lengths would fingerprint identically, so a CRC of the
    * first data file's last 64 KiB — the parquet footer, with its row
    * counts and column stats — changes whenever its row population
    * does. "static" when the path is not a local directory. */
  private def fingerprint(dir: String, table: String): String = {
    val d = new java.io.File(s"$dir/$table.parquet")
    val fs = Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
    if (fs.isEmpty) "static"
    else {
      // skip zero-byte markers (_SUCCESS) — an empty tail CRCs to a
      // constant and would void the content component entirely
      val first = fs.filter(f => f.isFile && f.length > 0)
        .sortBy(_.getName).headOption
      val tailCrc = first.fold("nofile") { f =>
        try {
          val raf = new java.io.RandomAccessFile(f, "r")
          try {
            val n = math.min(f.length(), 65536L).toInt
            raf.seek(f.length() - n)
            val buf = new Array[Byte](n)
            raf.readFully(buf)
            val crc = new java.util.zip.CRC32()
            crc.update(buf)
            java.lang.Long.toHexString(crc.getValue)
          } finally raf.close()
        } catch { case _: java.io.IOException => "ioerr" }
      }
      val listing = fs.map(f => s"${f.getName}:${f.lastModified}:${f.length}")
        .sorted.mkString("|") + s"|n=${fs.length}|crc=$tailCrc"
      java.lang.Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(listing))
    }
  }
}
