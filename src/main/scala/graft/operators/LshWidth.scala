package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.{HyperplaneBuckets => HB}
import graft.sources.Tables

/** Corpus-derived hyperplane-LSH key widths (the fix for SCALE.md
  * finding 1: a compile-time plane count saturates its keyspace and
  * the within-bucket pair stage goes quadratic — 21.8×/75.5× measured
  * at a 10× corpus). Each blocking mode counts its population ONCE
  * per (dir) — one cheap aggregate over a narrow column, memoized in
  * [[Memo]] against the table's fingerprint — and keys at
  * `HB.derivePlanes(n)`, so bucket occupancy stays ≈ TARGET_BUCKET at
  * any corpus size. The DuckDB oracles derive the identical width in
  * SQL from the identical COUNT (HB.derivePlanesSql), so every derived
  * width stays hash-verified end to end.
  */
object LshWidth {

  /** Width for label-blocked dedup (pairs only form within a label):
    * the quadratic stage is per (label, table, key), so the driving
    * population is the LARGEST label. */
  def labelPlanes(spark: SparkSession, dir: String): Int =
    Memo(Memo.lshPlanes, spark, dir, "label") {
      val n = Tables.embeddings(spark, dir)
        .groupBy("label").count()
        .agg(coalesce(max("count"), lit(0L)).as("m"))
        .first().getLong(0)
      HB.derivePlanes(n)
    }

  /** Width for unblocked (whole-corpus) candidate generation — ANN
    * search, k-NN graph build, and the cluster-blocked SemDeDup pass
    * (conservative there: the true population is the largest cluster,
    * but the total is a safe upper bound that needs no training
    * pass first). */
  def corpusPlanes(spark: SparkSession, dir: String): Int =
    Memo(Memo.lshPlanes, spark, dir, "corpus")(
      HB.derivePlanes(Tables.embeddings(spark, dir).count()))

  /** Manku block count for the simhash/phash dedup families — the
    * same derive-once-per-corpus contract as the hyperplane widths,
    * driven by the documents population (a safe upper bound for both
    * consumers' filtered subsets; the oracle replays the identical
    * COUNT via [[docsCountSql]]). */
  def simhashBlocks(spark: SparkSession, dir: String): Int =
    Memo(Memo.simhashBlocks, spark, dir)(
      DedupOps.deriveSimhashBlocks(Tables.documents(spark, dir).count()))

  /** SQL twins of the population counts (embedded inside
    * HB.derivePlanesSql / DedupOps.deriveSimhashBlocksSql by the
    * oracle CTE builders). */
  val labelCountSql: String =
    "(SELECT COALESCE(MAX(c), 0) FROM " +
      "(SELECT COUNT(*) AS c FROM embeddings GROUP BY label) g)"
  val corpusCountSql: String = "(SELECT COUNT(*) FROM embeddings)"
  val docsCountSql: String = "(SELECT COUNT(*) FROM documents)"
}
