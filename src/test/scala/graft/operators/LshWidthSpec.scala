package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{HyperplaneBuckets => HB}

class LshWidthSpec extends SparkSpec {

  /** Write a tiny embeddings table with `n` rows in ONE label under
    * `dir` (the shape labelPlanes' population count reads). */
  private def writeEmbeddings(dir: String, n: Int): Unit = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (i.toLong, "L0",
        Array.fill(4)(0.5f)))
      .toDF("vec_id", "label", "embedding")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
  }

  test("derived widths re-derive when the table under a dir changes " +
      "(fingerprint-keyed memo, ADVICE r10)") {
    val dir = Files.createTempDirectory("graft_lshwidth").toString
    writeEmbeddings(dir, 10)
    val w1 = LshWidth.labelPlanes(spark, dir)
    assert(w1 == HB.PLANES, s"10 rows must derive the minimum width, got $w1")
    // grow the SAME dir past the width-6 threshold (2^6 · 8 = 512):
    // a dir-keyed memo would stay at 6 while the DuckDB oracle counts
    // live and derives 8 — the spurious-mismatch seam this closes
    writeEmbeddings(dir, 2000)
    val w2 = LshWidth.labelPlanes(spark, dir)
    assert(w2 == HB.derivePlanes(2000L) && w2 > w1,
      s"rewritten table must re-derive (got $w2 after $w1)")
    // same contract on the corpus-wide and simhash modes
    assert(LshWidth.corpusPlanes(spark, dir) == HB.derivePlanes(2000L))
  }

  test("explicit invalidate(dir) drops memoized widths") {
    val dir = Files.createTempDirectory("graft_lshwidth2").toString
    writeEmbeddings(dir, 10)
    assert(LshWidth.labelPlanes(spark, dir) == HB.PLANES)
    Memo.invalidate(dir) // must not throw, must leave re-derivation intact
    assert(LshWidth.labelPlanes(spark, dir) == HB.PLANES)
  }

  test("simhashBlocks derives from the documents count with the same " +
      "memo contract") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_lshwidth3").toString
    (0 until 5).map(i => (i.toLong, s"doc $i text here", 14L))
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(LshWidth.simhashBlocks(spark, dir) == 6,
      "a tiny corpus must key at the historical B=6")
  }
}
