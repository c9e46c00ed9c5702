package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StructField, TimestampType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** The lakehouse and warehouse targets against the in-memory
  * reference, on random CDC histories: for every seeded case the
  * snapshots of [[PartitionedTableCdcTarget]], [[TableEvolvingCdcTarget]]
  * (which reads touched partitions under its declared schema),
  * [[JdbcCdcTarget]] and [[JdbcEvolvingCdcTarget]] (both on embedded
  * Derby, through [[Jdbc.mergeBatch]]) equal [[InMemoryCdcTarget]]'s
  * row for row. Each history is split into
  * random micro-batches and carries duplicate (redelivered) events,
  * out-of-order sequences and deletes; one batch is also redelivered
  * whole under its batch id. */
class CdcTargetEquivalenceSpec extends SparkSpec {

  private lazy val s = spark
  import s.implicits._

  private val Cases = 25
  private val P = 4

  /** One history: events over a small key space, so keys collide
    * within and across batches, plus where to cut it into batches. */
  private val history: Gen[(Seq[CdcEvent], Seq[Int])] = for {
    n <- Gen.choose(1, 40)
    keys <- Gen.choose(1, 12)
    raw <- Gen.listOfN(n, for {
      uid <- Gen.choose(1L, keys.toLong)
      t <- Gen.choose(0L, 50L) // few distinct times: sequence ties on ts
      tpe <- Gen.frequency(5 -> "click", 3 -> "view", 2 -> "error")
      v <- Gen.choose(-100, 100)
    } yield (uid, t, tpe, v.toDouble))
    dups <- Gen.choose(0, n / 2)
    dupAt <- Gen.listOfN(dups, Gen.choose(0, n - 1))
    nCuts <- Gen.choose(0, 3)
    cuts <- Gen.listOfN(nCuts, Gen.choose(1, n + dups))
  } yield {
    val events = raw.zipWithIndex.map { case ((uid, t, tpe, v), i) =>
      CdcEvent(i.toLong, new Timestamp(1000L * t), uid, tpe, v)
    }
    // redelivered copies land later in the log, after newer events
    (events ++ dupAt.map(events), cuts.distinct.sorted)
  }

  private def split[T](xs: Seq[T], cuts: Seq[Int]): Seq[Seq[T]] =
    (0 +: cuts.filter(_ < xs.size) :+ xs.size).sliding(2)
      .collect { case Seq(a, b) if b > a => xs.slice(a, b) }.toSeq

  /** A batch deduped to latest row per key, as the sinks handed it
    * over before the targets owned the dedupe. */
  private def deduped(batch: Seq[CdcEvent]): Seq[CdcApplied] =
    batch.groupBy(_.user_id).values
      .map(es => CdcStream.applied(es.reduce(CdcStream.newer))).toSeq

  /** A batch as every CDC sink hands it to a target: one applied row
    * per event, several per key. */
  private def raw(batch: Seq[CdcEvent]): Seq[CdcApplied] =
    batch.map(CdcStream.applied)

  private def rows(df: org.apache.spark.sql.DataFrame): Set[CdcApplied] =
    df.select("user_id", "event_id", "ts", "value", "is_deleted")
      .as[CdcApplied].collect().toSet

  /** (test-name suffix, Derby database prefix, batch shape) */
  private val shapes = Seq[(String, String, Seq[CdcEvent] => Seq[CdcApplied])](
    ("random histories", "graftequiv", deduped),
    ("raw (un-deduped) random histories", "graftequivraw", raw))

  /** Case `c`'s batches in `shape`, each delivered once in order, then
    * one of them redelivered under its batch id. */
  private def deliveries(c: Int, shape: Seq[CdcEvent] => Seq[CdcApplied])
      : (String, Seq[(Seq[CdcApplied], Int)]) = {
    val seed = Seed(9000L + c)
    val (events, cuts) = history(Gen.Parameters.default, seed)
      .getOrElse(fail(s"case $c: generator gave no history"))
    val batches = split(events, cuts).map(shape)
    val redeliver = c % batches.size
    (s"case $c (${events.size} events, ${batches.size} batches)",
      batches.zipWithIndex :+ (batches(redeliver) -> redeliver))
  }

  shapes.foreach { case (name, db, shape) =>
    test(s"partitioned and evolving targets equal the in-memory target on $Cases $name") {
      (1 to Cases).foreach { c =>
        val (ctx, batches) = deliveries(c, shape)
        val reference = new InMemoryCdcTarget
        val partitioned = new PartitionedTableCdcTarget(spark,
          Files.createTempDirectory("graft-equiv-p").toString, P)
        val evolving = new TableEvolvingCdcTarget(spark,
          Files.createTempDirectory("graft-equiv-e").toString, numPartitions = P)
        evolving.addColumns(Seq(StructField("user_id", LongType),
          StructField("event_id", LongType), StructField("ts", TimestampType),
          StructField("value", DoubleType), StructField("is_deleted", BooleanType)))

        batches.foreach { case (b, id) =>
          val ds = b.toDS()
          reference.merge(id, ds)
          partitioned.merge(id, ds)
          evolving.merge(id, ds.toDF())
        }

        val want = reference.snapshot.values.toSet
        assert(rows(partitioned.snapshot) == want, s"$ctx: partitioned target diverged")
        assert(rows(evolving.snapshot.filter("not is_deleted")) == want,
          s"$ctx: evolving target diverged")
      }
    }

    test(s"JDBC and evolving JDBC targets equal the in-memory target on $Cases $name") {
      val derby = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
      (1 to Cases).foreach { c =>
        val (ctx, batches) = deliveries(c, shape)
        val url = s"jdbc:derby:memory:$db$c;create=true"
        val reference = new InMemoryCdcTarget
        val jdbc = new JdbcCdcTarget(url, "equiv_fixed", derby)
        val evolving = new JdbcEvolvingCdcTarget(url, "equiv_evolving",
          connOptions = derby)
        evolving.addColumns(Seq(StructField("user_id", LongType),
          StructField("event_id", LongType), StructField("ts", TimestampType),
          StructField("value", DoubleType), StructField("is_deleted", BooleanType)))

        batches.foreach { case (b, id) =>
          val ds = b.toDS()
          reference.merge(id, ds)
          jdbc.merge(id, ds)
          evolving.merge(id, ds.toDF())
        }

        val want = reference.snapshot.values.toSet
        assert(jdbc.snapshot.values.toSet == want, s"$ctx: JDBC target diverged")
        val evolved = evolving.snapshot.values.map(r => CdcApplied(
          r("user_id").asInstanceOf[Long], r("event_id").asInstanceOf[Long],
          r("ts").asInstanceOf[Timestamp], r("value").asInstanceOf[Double],
          r("is_deleted").asInstanceOf[Boolean])).filterNot(_.is_deleted).toSet
        assert(evolved == want, s"$ctx: evolving JDBC target diverged")
        assert(jdbc.landingRows == 0, s"$ctx: landing table not purged")
      }
    }
  }
}
