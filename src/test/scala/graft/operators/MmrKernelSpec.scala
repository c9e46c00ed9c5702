package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, col, desc, lit, max, row_number}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.{SparkEntry, SparkJobs, SparkSpec}

/** sim_mmr's greedy rounds run as one kernel in one task
  * (`SimilarityOps.mmrRanks`); it must pick what the staged
  * DataFrame loop it replaced picks, round for round. */
class MmrKernelSpec extends SparkSpec {

  private val k = 8

  /** The former loop, kept as the reference: rank 1 is the top rel per
    * q_id; each later round takes the max sim to the picked ones as
    * pen over a broadcast of the picks, drops the picked candidates
    * with a left-outer join and an isNull marker, and picks the top
    * mmr; ties go to the lower cand_id. Every round is staged. */
  private def loopRanks(pool0: DataFrame, psim0: DataFrame): DataFrame = {
    val byQ = Window.partitionBy("q_id")
    val psim = psim0.transform(Ckpt.stage).coalesce(1)
    val pool = pool0.transform(Ckpt.stage).coalesce(1)
    var selected = pool
      .withColumn("rn", row_number().over(
        byQ.orderBy(desc("rel"), col("cand_id"))))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("cand_id"), col("rel"),
        lit(0.0).as("pen"), (lit(0.5) * col("rel")).as("mmr"),
        lit(1).as("rank"))
      .transform(Ckpt.stage).coalesce(1)
    for (r <- 2 to k) {
      val pen = psim
        .join(broadcast(selected.select(col("q_id"),
          col("cand_id").as("b_id"))), Seq("q_id", "b_id"))
        .groupBy(col("q_id"), col("a_id").as("cand_id"))
        .agg(max(col("sim")).as("pen"))
        .coalesce(1)
      val pick = pool
        .join(broadcast(selected.select(col("q_id"), col("cand_id"),
          lit(1).as("sel_f"))), Seq("q_id", "cand_id"), "left")
        .filter(col("sel_f").isNull)
        .join(broadcast(pen), Seq("q_id", "cand_id"))
        .withColumn("mmr", lit(0.5) * col("rel") - lit(0.5) * col("pen"))
        .withColumn("rn", row_number().over(
          byQ.orderBy(desc("mmr"), col("cand_id"))))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("cand_id"), col("rel"), col("pen"),
          col("mmr"), lit(r).as("rank"))
      selected = selected.union(pick).transform(Ckpt.stage).coalesce(1)
    }
    selected.select("q_id", "rank", "cand_id", "rel", "pen", "mmr")
  }

  /** One case: candidates (q_id, cand_id, rel) and pair sims
    * (q_id, a_id, b_id, sim). */
  private case class Case(pool: Seq[(Long, Long, Double)],
      psim: Seq[(Long, Long, Long, Double)])

  private def frames(c: Case): (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    (c.pool.toDF("q_id", "cand_id", "rel"), c.psim.toDF("q_id", "a_id", "b_id", "sim"))
  }

  /** Rows per q_id, in rank order; −0.0 reads as 0.0, since a max over
    * sims that tie at ±0.0 may keep either sign, and the query rounds
    * the sign away. */
  private def ranks(df: DataFrame): Map[Long, Seq[String]] =
    df.collect().toSeq.map { r =>
      r.getLong(0) -> Row(r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3) + 0.0, r.getDouble(4) + 0.0, r.getDouble(5) + 0.0)
    }.groupMap(_._1)(_._2).view
      .mapValues(_.sortBy(_.getInt(1)).map(_.toString)).toMap

  private def check(c: Case, what: String): Map[Long, Seq[String]] = {
    val (pool, psim) = frames(c)
    val got = ranks(SimilarityOps.mmrRanks(pool, psim))
    assert(got == ranks(loopRanks(pool, psim)), s"$what: $c")
    got
  }

  // values from a small set, so rels, sims and mmrs tie often
  private val value: Gen[Double] = Gen.frequency(
    6 -> Gen.oneOf(0.9, 0.5, 0.25, 0.0, -0.25),
    4 -> Gen.choose(-1.0, 1.0),
    1 -> Gen.oneOf(-0.0, Double.NaN))

  /** One to three queries with pools of 1 to 14 candidates; every
    * ordered pair of a pool gets a sim, as the query's pair frame
    * does, but not symmetrically. */
  private val mmrCase: Gen[Case] = for {
    nq <- Gen.choose(1, 3)
    pools <- Gen.listOfN(nq, Gen.choose(1, 14).flatMap(n =>
      Gen.containerOfN[Set, Long](n, Gen.choose(0L, 40L))))
    rels <- Gen.listOfN(pools.map(_.size).sum, value)
    pairs = pools.zipWithIndex.flatMap { case (ids, q) =>
      for (a <- ids.toSeq; b <- ids.toSeq if a != b) yield (q.toLong, a, b) }
    sims <- Gen.listOfN(pairs.size, value)
  } yield Case(
    pools.zipWithIndex.flatMap { case (ids, q) => ids.toSeq.map(q.toLong -> _) }
      .zip(rels).map { case ((q, c), rel) => (q, c, rel) },
    pairs.zip(sims).map { case ((q, a, b), sim) => (q, a, b, sim) })

  test("the one-task kernel equals the staged loop on 24 random pools") {
    val picked = (0 until 24).map { i =>
      check(mmrCase(Gen.Parameters.default, Seed(5300L + i)).get, s"case $i")
    }
    // the seeds reach pools that run out before k and pools that do not
    val lengths = picked.flatMap(_.values.map(_.size))
    assert(lengths.contains(k) && lengths.exists(_ < k))
  }

  /** Every pair of `ids` under query 0, with sim `f(a, b)`. */
  private def allPairs(ids: Seq[Long])(f: (Long, Long) => Double) =
    for (a <- ids; b <- ids if a != b) yield (0L, a, b, f(a, b))

  test("ties go to the lower cand_id, in rel and in mmr") {
    val ids = Seq(9L, 4L, 7L, 1L, 12L, 3L, 10L, 6L, 2L, 5L)
    val got = check(Case(ids.map(c => (0L, c, 0.5)), allPairs(ids)((_, _) => 0.25)),
      "all tied")
    assert(got(0L).map(_.split(",")(2).toLong) == ids.sorted.take(k))
  }

  test("a pool smaller than k, and a query with one candidate, stop early") {
    val ids = Seq(3L, 1L, 2L)
    val got = check(Case(
      ids.map(c => (0L, c, c * 0.1)) :+ ((1L, 8L, 0.7)),
      allPairs(ids)((a, b) => (a + b) * 0.05)), "short pools")
    assert(got(0L).size == 3 && got(1L).size == 1)
  }

  test("NaN is the largest double and -0.0 ties with 0.0") {
    // rel: -0.0 and 0.0 tie, so cand 1 goes first; a NaN sim makes
    // cand 4's pen and mmr NaN, which ranks above every number
    val pool = Seq((0L, 2L, 0.0), (0L, 1L, -0.0), (0L, 3L, -0.0), (0L, 4L, -0.5))
    val psim = allPairs(Seq(1L, 2L, 3L, 4L)) {
      case (4L, 1L) => Double.NaN
      case (_, _) => -0.0
    }
    val got = check(Case(pool, psim), "NaN and -0.0")
    assert(got(0L).map(_.split(",")(2).toLong) == Seq(1L, 4L, 2L, 3L))
    // a NaN rel is the top rel
    val nanRel = check(Case(pool :+ ((0L, 9L, Double.NaN)),
      allPairs(Seq(1L, 2L, 3L, 4L, 9L))((_, _) => 0.5)), "NaN rel")
    assert(nanRel(0L).head.split(",")(2).toLong == 9L)
  }

  test("sim_mmr runs 5 Spark jobs at sf0.01") {
    spark.catalog.clearCache()
    Memo.clearAll()
    val (_, jobs) = SparkJobs.count(spark) {
      SparkEntry.queries("sim_mmr")(spark,
        java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString)
        .write.format("noop").mode("overwrite").save()
    }
    // the staged candidates (the query broadcast, the ranking window's
    // shuffle, the stage), the pair side's broadcast and the final
    // action; 36 when every round was staged
    assert(jobs == 5, s"sim_mmr ran $jobs jobs")
  }
}
