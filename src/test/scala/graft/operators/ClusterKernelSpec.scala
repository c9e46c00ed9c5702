package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, least, min}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.{SparkEntry, SparkJobs, SparkSpec}

/** pipe_dup_clusters labels its dup graph with one union-find kernel in
  * one task (`PipelineOps.labelClusters`); it must equal the min-label
  * propagation loop it replaced, doc for doc. */
class ClusterKernelSpec extends SparkSpec {

  /** The former loop, kept as the reference, keyed by a graph id `g`
    * so one run labels every graph: each round joins the undirected
    * edges to the current labels on v, takes the minimum neighbour
    * label per u and stages; it stops after a round that changed no
    * label. Docs no edge touches are singleton clusters. */
  private def loopLabels(docs: DataFrame, edges: DataFrame): DataFrame = {
    val undirected = edges
      .union(edges.select(col("g"), col("v").as("u"), col("u").as("v")))
      .repartition(col("g"), col("v"))
      .persist()
    val touched = undirected.select(col("g"), col("u").as("doc_id")).distinct()
      .transform(Ckpt.stage)
    var labels = touched.select(col("g"), col("doc_id"), col("doc_id").as("lbl"))
    var converged = false
    while (!converged) {
      val neighborMin = undirected
        .join(labels.select(col("g"), col("doc_id").as("v"), col("lbl").as("nlbl")),
          Seq("g", "v"))
        .groupBy(col("g"), col("u").as("doc_id")).agg(min(col("nlbl")).as("nmin"))
      val next = labels.join(neighborMin, Seq("g", "doc_id"), "left")
        .select(col("g"), col("doc_id"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"),
          (col("nmin") < col("lbl")).as("changed"))
        .transform(Ckpt.stage)
      converged = next.filter(col("changed")).limit(1).isEmpty
      labels = next.drop("changed")
    }
    undirected.unpersist()
    labels.select(col("g"), col("doc_id"), col("lbl").as("cluster_id"))
      .union(docs.join(touched, Seq("g", "doc_id"), "left_anti")
        .select(col("g"), col("doc_id"), col("doc_id").as("cluster_id")))
  }

  /** One graph: its docs (every edge end plus some untouched ids) and
    * its edges, as generated. */
  private case class Graph(docs: Seq[Long], edges: Seq[(Long, Long)])

  // ids from three bands: small, and the two ends of the Long range
  private val id: Gen[Long] = Gen.frequency(
    4 -> Gen.choose(0L, 10000L),
    1 -> Gen.choose(Long.MinValue, Long.MinValue + 64),
    1 -> Gen.choose(Long.MaxValue - 64, Long.MaxValue))

  /** The edges of one shape over `ids`, in path order. */
  private def shape(ids: Seq[Long]): Gen[Seq[(Long, Long)]] = {
    val chain = ids.zip(ids.tail)
    Gen.oneOf(
      Gen.const(chain),
      Gen.const(ids.tail.map(ids.head -> _)), // star
      Gen.const(chain :+ (ids.last -> ids.head)), // cycle
      Gen.listOfN(ids.size, Gen.zip(Gen.oneOf(ids), Gen.oneOf(ids)))) // random
  }

  private def shuffled[T](xs: Seq[T]): Gen[Seq[T]] =
    Gen.listOfN(xs.size, Gen.long).map(keys => xs.zip(keys).sortBy(_._2).map(_._1))

  /** One to four shapes over disjoint ids (a random shape may fall
    * apart into several components), then reversed and repeated
    * edges, self-loops and a shuffle; four more ids stay untouched. */
  private val graph: Gen[Graph] = for {
    sizes <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.frequency(
      3 -> Gen.choose(2, 6), 1 -> Gen.choose(10, 60))))
    pool <- Gen.containerOfN[Set, Long](sizes.sum + 4, id)
    ids <- shuffled(pool.toSeq)
    parts <- Gen.sequence[List[Seq[(Long, Long)]], Seq[(Long, Long)]](
      sizes.scanLeft(0)(_ + _).zip(sizes).collect {
        case (at, n) if at + n <= ids.size => shape(ids.slice(at, at + n))
      })
    flips <- Gen.listOfN(parts.flatten.size, Gen.oneOf(true, false))
    edges = parts.flatten.zip(flips).map { case (e, f) => if (f) e.swap else e }
    reversed <- Gen.someOf(edges)
    repeated <- Gen.someOf(edges)
    loops <- Gen.someOf(ids).map(_.take(2).map(x => x -> x))
    all <- shuffled(edges ++ reversed.map(_.swap) ++ repeated ++ loops)
  } yield Graph(ids, all)

  private def frames(graphs: Seq[Graph]): (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    val docs = graphs.zipWithIndex.flatMap { case (gr, g) => gr.docs.map(g -> _) }
      .toDF("g", "doc_id")
    val edges = graphs.zipWithIndex.flatMap { case (gr, g) =>
      gr.edges.map { case (u, v) => (g, u, v) } }.toDF("g", "u", "v")
    (docs, edges)
  }

  /** What labelClusters computes for one graph, in memory. */
  private def kernelLabels(gr: Graph): Map[Long, Long] = {
    val lbl = PipelineOps.components(gr.edges.iterator).toMap
    gr.docs.map(d => d -> lbl.getOrElse(d, d)).toMap
  }

  private def sparkLabels(gr: Graph): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    PipelineOps.labelClusters(gr.docs.toDF("doc_id"),
      gr.edges.toDF("a_id", "b_id"))
      .as[(Long, Long, Boolean)].collect()
      .map { case (d, c, keeper) =>
        assert(keeper == (d == c), s"doc $d: is_keeper $keeper, cluster $c")
        d -> c
      }.toMap
  }

  test("the union-find kernel equals the min-label loop on 120 random graphs") {
    val graphs = (0 until 120).map(i =>
      graph(Gen.Parameters.default, Seed(9100L + i)).get)
    val (docs, edges) = frames(graphs)
    val rows = loopLabels(docs, edges).collect()
      .groupMap(_.getInt(0))(r => r.getLong(1) -> r.getLong(2))
    val want = rows.view.mapValues(_.toMap).toMap
    graphs.zipWithIndex.foreach { case (gr, g) =>
      assert(rows(g).length == gr.docs.size,
        s"graph $g: the loop gave ${rows(g).length} rows for ${gr.docs.size} docs")
      assert(kernelLabels(gr) == want(g), s"graph $g: $gr")
    }
    // the seeds reach long chains, both ends of the Long range, and
    // graphs of several components
    val clusters = graphs.map(gr => kernelLabels(gr).groupMap(_._2)(_._1).values)
    assert(clusters.exists(_.exists(_.size > 40)))
    assert(graphs.exists(_.docs.exists(_ <= Long.MinValue + 64)))
    assert(graphs.exists(_.docs.exists(_ >= Long.MaxValue - 64)))
    assert(clusters.exists(_.count(_.size > 1) > 2))
    // the Spark path (coalesce, kernel, broadcast lookup) on a sample
    graphs.take(8).zipWithIndex.foreach { case (gr, g) =>
      assert(sparkLabels(gr) == want(g), s"graph $g through labelClusters")
    }
  }

  test("an a—b—c chain whose (a, c) pair was never compared has one keeper, a") {
    val s = spark
    import s.implicits._
    val (a, b, c, d) = (3L, 7L, 11L, 2L)
    val labels = PipelineOps.labelClusters(Seq(d, c, b, a).toDF("doc_id"),
      Seq((b, c), (a, b)).toDF("a_id", "b_id"))
    val keepers = labels.filter(col("is_keeper")).select("doc_id").as[Long]
      .collect().toSet
    assert(keepers == Set(a, d))
    assert(labels.filter(col("cluster_id") === a).count() == 3)
  }

  test("a pair with a NULL end is dropped") {
    val s = spark
    import s.implicits._
    val docs = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(3L), Some(4L)), (None, Some(1L)), (Some(2L), None), (None, None))
      .toDF("a_id", "b_id")
    val got = PipelineOps.labelClusters(docs, pairs)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == Set((1L, 1L, true), (2L, 2L, true), (3L, 3L, true), (4L, 3L, false)))
  }

  test("pipe_dup_clusters runs 8 Spark jobs at sf0.01") {
    spark.catalog.clearCache()
    Memo.clearAll()
    val (_, jobs) = SparkJobs.count(spark) {
      SparkEntry.queries("pipe_dup_clusters")(spark, "/root/testdata/sf0.01")
        .write.format("noop").mode("overwrite").save()
    }
    // the pair derivation's shuffle stages, the kernel's broadcast and
    // the stage, plus the final action, whose sort reads the
    // one-partition staged labels without an exchange; 10 while a
    // staged frame re-entered unpartitioned, 27 with the
    // label-propagation loop
    assert(jobs == 8, s"pipe_dup_clusters ran $jobs jobs")
  }
}
