package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.{SparkEntry, SparkJobs, SparkSpec}

/** ev_attribution_shapley's exact Shapley values come from one kernel
  * in one task (`EventOps.shapleyValues`); it must equal the staged
  * DataFrame plan it replaced, channel for channel, and fail the same
  * way. */
class ShapleyKernelSpec extends SparkSpec {

  /** The former plan, kept as the reference: the session windows,
    * then channel indexes by a count-of-smaller self-join, per-session
    * masks, and the per-mask counts; everything after the windows is
    * staged. */
  private def loopShapley(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val bySess = Window.partitionBy("user_id", "session_id")
      .orderBy(col("ts"), col("event_id"))
    val kept = ev
      .withColumn("new_s",
        when(col("ts") <
          lag(col("ts"), 1).over(byUser) + expr("INTERVAL 30 MINUTE"), 0)
          .otherwise(1))
      .withColumn("session_id",
        sum(col("new_s")).over(byUser.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
      .withColumn("pp", coalesce(
        sum(when(col("event_type") === "purchase", 1L)).over(
          bySess.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("pp") === 0)
      .select("user_id", "session_id", "event_type")
      .transform(Ckpt.stage)
    val alpha = kept.filter(col("event_type") =!= "purchase")
      .select(col("event_type").as("ch")).distinct()
      .transform(Ckpt.stage).coalesce(1)
    val idx = alpha.as("a")
      .join(alpha.as("b"), col("b.ch") < col("a.ch"), "left")
      .groupBy(col("a.ch").as("ch"))
      .agg(count(col("b.ch")).as("idx"))
      .transform(Ckpt.stage).coalesce(1)
    val sessions = kept
      .join(broadcast(idx), col("event_type") === col("ch"), "left")
      .groupBy("user_id", "session_id")
      .agg(coalesce(sum_distinct(
          expr("shiftleft(1L, cast(idx as int))")), lit(0L)).as("smask"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
    val cbm = sessions.groupBy("smask")
      .agg(sum(col("conv")).as("nc"), count(lit(1)).as("ns"))
      .transform(Ckpt.stage).coalesce(1)
    loopValues(idx, cbm)
  }

  /** The reference from the channel indexes (ch, idx) and the
    * per-mask counts (smask, nc, ns) on: v(S) by a submask join of the
    * counts against the 2ⁿ mask grid, then φ·n! per channel. */
  private def loopValues(idx: DataFrame, cbm: DataFrame): DataFrame = {
    val nDf = idx.agg(count(lit(1)).cast("int").as("n"))
    val masks = nDf.select(explode(
      sequence(lit(0L), expr("shiftleft(1L, n) - 1"))).as("s_mask"))
    val v = masks
      .join(cbm, expr("(smask & ~s_mask) = 0"), "left")
      .groupBy("s_mask").agg(coalesce(sum(col("nc")), lit(0L)).as("v"))
      .transform(Ckpt.stage)
    val contrib = v
      .crossJoin(broadcast(idx))
      .filter(expr("(s_mask & shiftleft(1L, cast(idx as int))) = 0"))
      .withColumn("s_with",
        expr("s_mask | shiftleft(1L, cast(idx as int))"))
      .join(v.select(col("s_mask").as("s_with"), col("v").as("v_with")),
        Seq("s_with"))
      .crossJoin(broadcast(nDf))
      .withColumn("wnum", expr(
        "factorial(bit_count(s_mask)) * factorial(n - 1 - bit_count(s_mask))"))
      .groupBy("ch")
      .agg(sum(col("wnum") * (col("v_with") - col("v"))).as("num"),
        max(col("n")).as("n"))
      .transform(Ckpt.stage).coalesce(1)
    val touched = idx
      .join(cbm, expr("((smask >> cast(idx as int)) & 1) = 1"), "left")
      .groupBy("ch").agg(coalesce(sum(col("ns")), lit(0L)).as("n_sessions"))
    val tot = contrib.agg(sum(col("num")).as("t"))
    contrib.join(touched, Seq("ch")).crossJoin(broadcast(tot))
      .select(col("ch").as("channel"), col("n_sessions"),
        expr("""(2 * num * 1000000 + factorial(n)) div
          | (2 * factorial(n))""".stripMargin)
          .cast("double").divide(lit(1000000.0)).as("shapley"),
        expr("""case when t > 0 then
          |  cast((2 * num * 1000000 + t) div (2 * t) as double) / 1000000.0
          |else 0.0 end""".stripMargin).as("share"))
  }

  /** Rows as a sorted list, or the arithmetic failure. */
  private def outcome(f: => DataFrame): Either[String, Seq[String]] =
    try Right(f.select("channel", "n_sessions", "shapley", "share")
      .collect().map(_.toString).sorted.toSeq)
    catch {
      case e: Throwable
          if Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
            .exists(_.isInstanceOf[ArithmeticException]) => Left("overflow")
    }

  /** (user_id, ts, event_id, event_type) */
  private type Event = (Long, Timestamp, Long, String)

  private def log(events: Seq[Event]): DataFrame = {
    val s = spark
    import s.implicits._
    events.toDF("user_id", "ts", "event_id", "event_type")
  }

  private def check(events: Seq[Event], what: String): Seq[String] = {
    val ev = log(events)
    val got = outcome(EventOps.shapleyOf(ev))
    assert(got == outcome(loopShapley(ev)), s"$what: $events")
    got.toOption.get
  }

  private val t0 = Timestamp.valueOf("2024-03-01 00:00:00").getTime

  /** (user, minutes after t0, type) triples as events with ids in
    * list order. */
  private def events(rows: (Long, Int, String)*): Seq[Event] =
    rows.zipWithIndex.map { case ((u, m, t), i) =>
      (u, new Timestamp(t0 + m * 60000L), i.toLong, t)
    }

  // a small channel alphabet, purchases, and NULL types; gaps over
  // 30 minutes split sessions, equal timestamps tie on event_id
  private val eventLog: Gen[Seq[Event]] = for {
    alphabet <- Gen.choose(1, 5).flatMap(Gen.pick(_,
      Seq("click", "view", "signup", "error", "email")))
    users <- Gen.choose(1, 6)
    perUser <- Gen.listOfN(users, Gen.choose(1, 12))
    rows <- Gen.sequence[List[List[(Long, Int, String)]], List[(Long, Int, String)]](
      perUser.zipWithIndex.map { case (n, u) =>
        for {
          gaps <- Gen.listOfN(n, Gen.frequency(6 -> Gen.choose(0, 10),
            1 -> Gen.choose(31, 200)))
          types <- Gen.listOfN(n, Gen.frequency(8 -> Gen.oneOf(alphabet.toSeq),
            3 -> Gen.const("purchase"), 1 -> Gen.const(null: String)))
        } yield gaps.scanLeft(0)(_ + _).tail.zip(types)
          .map { case (m, t) => (u.toLong, m, t) }
      })
  } yield events(rows.flatten: _*)

  test("the one-task kernel equals the staged plan on 24 random event logs") {
    val got = (0 until 24).map { i =>
      check(eventLog(Gen.Parameters.default, Seed(6200L + i)).get, s"case $i")
    }
    // the seeds reach one- and five-channel alphabets
    assert(got.exists(_.size == 1) && got.exists(_.size == 5))
  }

  test("the hand-computed two-channel game") {
    // converting sessions {click}, {click, view}; {view} does not
    // convert: v({c}) = 1, v({c, v}) = 2, so φ_click = 1.5, φ_view = 0.5
    val got = check(events(
      (1L, 0, "click"), (1L, 1, "purchase"),
      (2L, 0, "click"), (2L, 1, "view"), (2L, 2, "purchase"),
      (3L, 0, "view")), "two channels")
    assert(got == Seq("[click,2,1.5,0.75]", "[view,2,0.5,0.25]"))
  }

  test("sessions with no channel, NULL types and a one-channel alphabet") {
    // user 1 converts with no prior touch (v(∅) = 1); user 2's only
    // touch is NULL; user 3's second session starts after 31 minutes
    val got = check(events(
      (1L, 0, "purchase"),
      (2L, 0, null), (2L, 1, "purchase"),
      (3L, 0, "click"), (3L, 5, null), (3L, 36, "click"), (3L, 37, "purchase"),
      (3L, 38, "click")), "no-channel sessions")
    assert(got == Seq("[click,2,1.0,1.0]"))
    // no channel at all: no rows
    assert(check(events((1L, 0, "purchase"), (2L, 0, null)), "no channels").isEmpty)
  }

  test("an overflowing count raises in the kernel and in the reference") {
    val s = spark
    import s.implicits._
    Seq(
      // v({a, b}) = 2⁶³
      Seq((Seq("a"), 1L << 62, 1L), (Seq("b"), 1L << 62, 1L)),
      // v fits, 2·φ·n!·10⁶ does not
      Seq((Seq("a"), 1L << 45, 1L), (Seq("a", "b"), 1L, 1L))
    ).foreach { sets =>
      val channels = sets.flatMap(_._1).distinct.sorted
      val idx = channels.zipWithIndex.map { case (c, i) => (c, i.toLong) }.toDF("ch", "idx")
      val cbm = sets.map { case (set, nc, ns) =>
        (set.map(c => 1L << channels.indexOf(c)).sum, nc, ns)
      }.toDF("smask", "nc", "ns")
      assert(outcome(loopValues(idx, cbm)) == Left("overflow"), sets)
      assertThrows[ArithmeticException](EventOps.shapleyValues(sets))
    }
  }

  test("ev_attribution_shapley runs 3 Spark jobs at sf0.01") {
    spark.catalog.clearCache()
    Memo.clearAll()
    val (_, jobs) = SparkJobs.count(spark) {
      SparkEntry.queries("ev_attribution_shapley")(spark,
        java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString)
        .write.format("noop").mode("overwrite").save()
    }
    // the user_id shuffle, the shuffle by channel set and the final
    // action; 28 with the staged plan
    assert(jobs == 3, s"ev_attribution_shapley ran $jobs jobs")
  }
}
