package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the r16 loop rewrites to reference implementations at
  * sf0.001 — rewrites that changed JOIN SEMANTICS rather than just
  * staging, so a structural regression would silently change rows,
  * not plans.
  *
  * 1. pipe_dedup_report replaced 3 persisted pair frames + 6
  *    per-cell join/agg actions with ONE power-of-two mask
  *    aggregation. The mask form is exact only while every method
  *    emits an unordered pair AT MOST ONCE — this spec pins that
  *    precondition against each generator directly, so a future
  *    generator change that duplicates pairs fails here instead of
  *    silently double-counting a matrix cell.
  * 2. sim_mmr's output must stay a valid greedy trajectory (its kernel
  *    is checked against the former loop in MmrKernelSpec).
  */
class LoopRewriteSpec extends SparkSpec {

  test("every dedup-report pair generator emits unordered pairs at most once") {
    // the mask-agg rewrite's load-bearing precondition
    val exact = graft.sources.Tables.documents(spark, sf)
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("a_id"),
        collect_set(col("doc_id")).as("ids"))
      .select(col("a_id"), explode(col("ids")).as("b_id"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
    val jac = DedupOps.jaccardPairs(spark, sf).select("a_id", "b_id")
    val cont = DedupOps.containmentPairs(spark, sf)
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
    for ((name, pairs) <- Seq("exact" -> exact, "jaccard" -> jac,
        "containment" -> cont)) {
      val dups = pairs.groupBy("a_id", "b_id")
        .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
      assert(dups == 0L, s"$name emitted a pair more than once")
    }
  }

  test("sim_mmr ranks are a valid greedy trajectory per query") {
    // rank 1..k unique per q_id, mmr = 0.5*rel - 0.5*pen, and rank-1
    // rows carry zero penalty
    val out = graft.SparkEntry.queries("sim_mmr")(spark, sf)
    val perQ = out.groupBy("q_id").agg(
      count(lit(1)).as("n"),
      countDistinct(col("rank")).as("nr"),
      min(col("rank")).as("lo"), max(col("rank")).as("hi"))
    assert(perQ.filter(col("n") =!= col("nr") ||
      col("lo") =!= 1 || col("hi") =!= col("n")).isEmpty)
    assert(out.filter(col("rank") === 1 && col("penalty") =!= 0.0).isEmpty)
    val bad = out.filter(
      abs(col("mmr") - (lit(0.5) * col("rel") - lit(0.5) * col("penalty")))
        > 1e-6)
    assert(bad.isEmpty)
  }
}
