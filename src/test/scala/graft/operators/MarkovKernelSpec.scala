package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col, expr, lit, when}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.{SparkEntry, SparkJobs, SparkSpec}

/** ev_attribution_markov's fixed point runs as one kernel in one task
  * (`EventOps.markovValues`); it must equal the 12-round DataFrame
  * loop it replaced, value for value, and fail the same way. */
class MarkovKernelSpec extends SparkSpec {

  /** The former loop, kept as the reference: each round inner-joins
    * the transitions to the broadcast values on (variant, d), takes the
    * half-up micro quotient per (variant, s) and re-adds v0's CONV/NULL
    * rows, staged per round. */
  private def loopValues(trans: DataFrame, rounds: Int = 12): DataFrame = {
    val t = trans.transform(Ckpt.stage).coalesce(1)
    var v = t.select(col("variant"), col("d").as("node")).distinct()
      .withColumn("v",
        when(col("node") === "CONV", lit(1000000L)).otherwise(lit(0L)))
      .transform(Ckpt.stage).coalesce(1)
    val vAbs = v.filter(col("node").isin("CONV", "NULL"))
    for (_ <- 1 to rounds) {
      v = t
        .join(broadcast(v.select(col("variant"), col("node").as("d"),
          col("v"))), Seq("variant", "d"))
        .groupBy(col("variant"), col("s").as("node"))
        .agg(expr("cast((2 * sum(cnt * v) + sum(cnt)) " +
          "div (2 * sum(cnt)) as bigint)").as("v"))
        .unionAll(vAbs)
        .transform(Ckpt.stage).coalesce(1)
    }
    v
  }

  /** Rows as a sorted multiset, or the arithmetic failure. */
  private def outcome(f: => DataFrame): Either[String, Seq[String]] =
    try Right(f.select("variant", "node", "v").collect().map(_.toString).sorted.toSeq)
    catch {
      case e: Throwable
          if Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
            .exists(_.isInstanceOf[ArithmeticException]) => Left("overflow")
    }

  /** The query's variant rule: "full" keeps the counts; variant c
    * sends every transition out of c to NULL, summed per (s, d). */
  private def transOf(counts: Seq[(String, String, Long)]): Seq[(String, String, String, Long)] = {
    val channels = counts.map(_._1).filter(_ != "START").distinct
    counts.map { case (s, d, n) => ("full", s, d, n) } ++
      channels.flatMap { c =>
        counts.groupMapReduce { case (s, d, _) => (s, if (s == c) "NULL" else d) }(_._3)(_ + _)
          .map { case ((s, d), n) => (c, s, d, n) }
      }
  }

  private def frame(trans: Seq[(String, String, String, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    trans.toDF("variant", "s", "d", "cnt")
  }

  // sources never include CONV/NULL (CONV ends a path, NULL only ever
  // receives); "x" and null only ever receive, so after round 1 a
  // transition into them has no destination value and drops out
  private val counts: Gen[Seq[(String, String, Long)]] = {
    val src = Gen.oneOf("START", "a", "b", "c")
    val dst = Gen.frequency(8 -> Gen.oneOf("a", "b", "c", "CONV", "NULL"),
      1 -> Gen.const("x"), 1 -> Gen.const(null: String))
    val cnt = Gen.frequency(20 -> Gen.choose(1L, 1000L),
      1 -> Gen.choose(1L << 45, 1L << 55))
    Gen.choose(1, 14).flatMap(n => Gen.listOfN(n, Gen.zip(src, dst, cnt)))
      .map(_.groupMapReduce(r => (r._1, r._2))(_._3)(_ + _)
        .map { case ((s, d), n) => (s, d, n) }.toSeq)
  }

  test("the one-task kernel equals the 12-round loop on random count tables") {
    val outcomes = (0 until 24).map { i =>
      val c = counts(Gen.Parameters.default, Seed(7100L + i)).get
      val trans = frame(transOf(c))
      val want = outcome(loopValues(trans))
      assert(outcome(EventOps.markovValues(trans)) == want, s"case $i: $c")
      want
    }
    // the seeds reach both outcomes
    assert(outcomes.exists(_.isLeft) && outcomes.exists(_.isRight))
  }

  test("the kernel covers a dropped destination, a removed channel and an overflow") {
    val cases = Seq(
      // b is also a dead end: "x" never gets a value after round 1
      Seq(("START", "a", 3L), ("START", "b", 1L), ("a", "CONV", 2L),
        ("a", "NULL", 1L), ("b", "x", 4L), ("b", "CONV", 1L)),
      // removing a leaves START with a → NULL only
      Seq(("START", "a", 5L), ("a", "CONV", 5L)),
      // 2·Σcnt·v exceeds a Long
      Seq(("START", "a", 1L << 50), ("a", "CONV", 1L << 50)))
    val outcomes = cases.map { c =>
      val trans = frame(transOf(c))
      val got = outcome(EventOps.markovValues(trans))
      assert(got == outcome(loopValues(trans)), c)
      got
    }
    assert(outcomes(0).toOption.get.exists(_.startsWith("[full,b,")))
    assert(outcomes(1).toOption.get.contains("[a,START,0]"))
    assert(outcomes(2) == Left("overflow"))
    assertThrows[ArithmeticException](EventOps.markovRounds(
      transOf(cases(2)), 12))
  }

  test("ev_attribution_markov runs 8 Spark jobs") {
    spark.catalog.clearCache()
    Memo.clearAll()
    val (_, jobs) = SparkJobs.count(spark) {
      SparkEntry.queries("ev_attribution_markov")(spark, sf)
        .write.format("noop").mode("overwrite").save()
    }
    // two staged frames (counts, trans) and their broadcasts, plus the
    // final action; 10 while a staged frame re-entered unpartitioned
    // (the exchanges over the one-partition counts frame ran as jobs),
    // 36 when every round was staged
    assert(jobs == 8, s"ev_attribution_markov ran $jobs jobs")
  }
}
