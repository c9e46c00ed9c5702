package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables
import graft.functions.VectorMath.{cosineQ, dotQ, quantized}

/** Similarity search over `embeddings` (SURVEY §F).
  *
  * Scale design: the query set is small and broadcasts; the candidate
  * side streams. Brute-force top-k is the correctness baseline
  * (per-query partial top-k via a window over the broadcast join —
  * never a driver-side sort); the LSH variant buckets candidates by
  * random-hyperplane sign so each query compares only within its
  * bucket — the 100 TB path, where buckets shuffle-partition
  * independently. Centroids are the IVF building block: one
  * shuffle to (label, dim), exact decimal sums.
  */
object SimilarityOps extends Suite {

  /** Queries = vec_id < 10 (deterministic, tiny ⇒ broadcast). */
  private val nQueries = 10
  private val topK = 5

  // ---- sim_topk_exact: brute-force cosine top-5 ---------------------
  // Vectors are dec_quant'd once on the scan side (array<long>), so
  // the N×Q pair loop runs only dec_dot's long multiplies — the
  // quantization cost doesn't scale with |pairs|.
  private def simTopkExact(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), quantized(col("embedding")).as("v"))
      .withColumn("norm", dotQ(col("v"), col("v")))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("norm").as("qn"))
    val w = Window.partitionBy("q_id")
      .orderBy(desc("cosine"), col("cand_id"))
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cosine", cosineQ(col("qv"), col("v"), col("qn"), col("norm")))
      .select(col("q_id"), col("vec_id").as("cand_id"), col("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("cand_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("q_id", "rank")
  }

  private val simTopkExactSql =
    s"""WITH terms AS (
      |  SELECT vec_id, i,
      |    CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(12,8)) AS d
      |  FROM embeddings, range(1, 65) r(i)),
      |norms AS (
      |  SELECT vec_id, CAST(SUM(d * d) AS DOUBLE) AS norm
      |  FROM terms GROUP BY vec_id),
      |dots AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
      |    CAST(SUM(q.d * c.d) AS DOUBLE) AS dot
      |  FROM terms q JOIN terms c ON q.i = c.i
      |  WHERE q.vec_id < $nQueries AND c.vec_id <> q.vec_id
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT d.q_id, d.cand_id,
      |    d.dot / (sqrt(nq.norm) * sqrt(nc.norm)) AS cosine,
      |    ROW_NUMBER() OVER (PARTITION BY d.q_id
      |      ORDER BY d.dot / (sqrt(nq.norm) * sqrt(nc.norm)) DESC, d.cand_id
      |    ) AS rank
      |  FROM dots d
      |  JOIN norms nq ON d.q_id = nq.vec_id
      |  JOIN norms nc ON d.cand_id = nc.vec_id)
      |SELECT q_id, rank, cand_id, ROUND(cosine, 6) AS cosine
      |FROM scored WHERE rank <= $topK ORDER BY q_id, rank""".stripMargin

  // ---- sim_ann_lsh: multi-table random-hyperplane LSH ANN -----------
  // Candidates = any vector sharing one of the 24 hyperplane_buckets
  // keys with the query (the SAME codegen'd expression dedup_embedding
  // uses — one LSH construction in the codebase), at the
  // corpus-derived key width (LshWidth.corpusPlanes — the keyspace
  // grows with the corpus, SCALE.md finding 1); exact cosine then
  // ranks the candidate union. Hash-verified since r10: the oracle
  // replays the derived width, the wide plane table, the bucket
  // join, and the exact-decimal cosine ranking end to end (ties
  // break on cand_id on the unrounded cosine in both engines).
  // Recall vs sim_topk_exact is what a user tunes tables/planes
  // against; the invariant spec additionally pins every emitted
  // cosine to the exact path's value.
  private def simAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), quantized(col("embedding")).as("v"))
      .withColumn("norm", dotQ(col("v"), col("v")))
    val width = LshWidth.corpusPlanes(spark, dir)
    val keyed = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        posexplode(expr(s"hyperplane_buckets(embedding, $width)"))
          .as(Seq("tbl", "key")))
    val qk = keyed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("tbl"), col("key"))
    val cand = keyed.join(broadcast(qk), Seq("tbl", "key"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id")).distinct()
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qn"))
    val w = Window.partitionBy("q_id")
      .orderBy(desc("cosine"), col("cand_id"))
    cand
      .join(e.select(col("vec_id").as("cand_id"), col("v"), col("norm")),
        Seq("cand_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cosine", cosineQ(col("qv"), col("v"), col("qn"), col("norm")))
      .select(col("q_id"), col("cand_id"), col("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("cand_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("q_id", "rank")
  }

  /** The LSH candidate restriction replayed on the shared derived-
    * width key CTEs, then sim_topk_exact's hash-verified cosine/rank
    * arithmetic over exactly those candidates. */
  private lazy val simAnnLshSql =
    s"""WITH ${DedupOps.hyperKeysCtes(LshWidth.corpusCountSql)},
      |cand AS (
      |  SELECT DISTINCT kq.vec_id AS q_id, kc.vec_id AS cand_id
      |  FROM keys kq JOIN keys kc ON kq.t = kc.t AND kq.key = kc.key
      |  WHERE kq.vec_id < $nQueries AND kc.vec_id <> kq.vec_id),
      |terms AS (
      |  SELECT vec_id, i,
      |    CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(12,8)) AS d
      |  FROM embeddings, range(1, 65) r(i)),
      |norms AS (
      |  SELECT vec_id, CAST(SUM(d * d) AS DOUBLE) AS norm
      |  FROM terms GROUP BY vec_id),
      |dots AS (
      |  SELECT c.q_id, c.cand_id, CAST(SUM(q.d * t.d) AS DOUBLE) AS dot
      |  FROM cand c
      |  JOIN terms q ON q.vec_id = c.q_id
      |  JOIN terms t ON t.vec_id = c.cand_id AND t.i = q.i
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT d.q_id, d.cand_id,
      |    d.dot / (sqrt(nq.norm) * sqrt(nc.norm)) AS cosine,
      |    ROW_NUMBER() OVER (PARTITION BY d.q_id
      |      ORDER BY d.dot / (sqrt(nq.norm) * sqrt(nc.norm)) DESC, d.cand_id
      |    ) AS rank
      |  FROM dots d
      |  JOIN norms nq ON d.q_id = nq.vec_id
      |  JOIN norms nc ON d.cand_id = nc.vec_id)
      |SELECT q_id, rank, cand_id, ROUND(cosine, 6) AS cosine
      |FROM scored WHERE rank <= $topK ORDER BY q_id, rank""".stripMargin

  // ---- sim_range_search: cosine radius search -----------------------
  // The other half of the similarity API: every corpus vector within
  // cosine ≥ τ of a query ("find all near-duplicates / all relevant
  // neighbors"), not a fixed k. Cheaper than top-k at scale — the
  // query set broadcasts, the corpus streams through one map-side
  // cosine + filter, and NO ranking window runs: the only exchange is
  // the output sort, and the output is threshold-bounded rather than
  // k·|Q|. The threshold compares the unrounded cosine (exact-decimal
  // dot, single IEEE sqrt/divide — bit-identical cross-engine, so
  // boundary membership can't flip between Spark and the oracle).
  private val rangeTau = 0.3

  private def simRangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), quantized(col("embedding")).as("v"))
      .withColumn("norm", dotQ(col("v"), col("v")))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("norm").as("qn"))
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cosine", cosineQ(col("qv"), col("v"), col("qn"), col("norm")))
      .filter(col("cosine") >= rangeTau)
      .select(col("q_id"), col("vec_id").as("cand_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("q_id", "cand_id")
  }

  private val simRangeSearchSql =
    s"""WITH terms AS (
      |  SELECT vec_id, i,
      |    CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(12,8)) AS d
      |  FROM embeddings, range(1, 65) r(i)),
      |norms AS (
      |  SELECT vec_id, CAST(SUM(d * d) AS DOUBLE) AS norm
      |  FROM terms GROUP BY vec_id),
      |dots AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
      |    CAST(SUM(q.d * c.d) AS DOUBLE) AS dot
      |  FROM terms q JOIN terms c ON q.i = c.i
      |  WHERE q.vec_id < $nQueries AND c.vec_id <> q.vec_id
      |  GROUP BY 1, 2)
      |SELECT d.q_id, d.cand_id,
      |  ROUND(d.dot / (sqrt(nq.norm) * sqrt(nc.norm)), 6) AS cosine
      |FROM dots d
      |JOIN norms nq ON d.q_id = nq.vec_id
      |JOIN norms nc ON d.cand_id = nc.vec_id
      |WHERE d.dot / (sqrt(nq.norm) * sqrt(nc.norm)) >= $rangeTau
      |ORDER BY d.q_id, d.cand_id""".stripMargin

  // ---- sim_centroids: per-label centroid + distance stats -----------
  // The IVF building block. All cross-row arithmetic is exact decimal
  // (order-independent); dist = sqrt(Σ_i ((n·x_i − s_i)/n)²) computed
  // as sqrt(S)/n with the inner squares quantized to DECIMAL(24,6)
  // (int magnitude stays ≪ 2^53 so DuckDB's hugeint→double cast is
  // exactly the correctly-rounded conversion Spark does).
  private def simCentroids(spark: SparkSession, dir: String): DataFrame = {
    val exploded = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), col("label"), col("i"),
        col("x").cast("double").cast(DecimalType(12, 8)).as("d"))
    val sums = exploded.groupBy("label", "i")
      .agg(sum(col("d")).as("s"), count(lit(1)).as("n"))
    val dists = exploded.join(broadcast(sums), Seq("label", "i"))
      .withColumn("sq",
        ((col("n") * col("d") - col("s")).cast("double") *
          (col("n") * col("d") - col("s")).cast("double"))
          .cast(DecimalType(24, 6)))
      .groupBy("vec_id", "label")
      .agg(sum(col("sq")).as("ssq"), max(col("n")).as("n"))
      .withColumn("dist",
        sqrt(col("ssq").cast("double")) / col("n").cast("double"))
    dists.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("dist").cast(DecimalType(18, 8))).cast("double") /
          count(lit(1)), 6).as("avg_dist"),
        round(min(col("dist")), 6).as("min_dist"),
        round(max(col("dist")), 6).as("max_dist"))
      .orderBy("label")
  }

  private val simCentroidsSql =
    """WITH terms AS (
      |  SELECT vec_id, label, i,
      |    CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(12,8)) AS d
      |  FROM embeddings, range(1, 65) r(i)),
      |sums AS (
      |  SELECT label, i, SUM(d) AS s, COUNT(*) AS n
      |  FROM terms GROUP BY label, i),
      |dists AS (
      |  SELECT t.vec_id, t.label,
      |    sqrt(CAST(SUM(CAST(
      |      CAST(s.n * t.d - s.s AS DOUBLE) * CAST(s.n * t.d - s.s AS DOUBLE)
      |      AS DECIMAL(24,6))) AS DOUBLE)) / CAST(MAX(s.n) AS DOUBLE) AS dist
      |  FROM terms t JOIN sums s ON t.label = s.label AND t.i = s.i
      |  GROUP BY t.vec_id, t.label)
      |SELECT label, COUNT(*) AS n_vecs,
      |  ROUND(CAST(SUM(CAST(dist AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*), 6) AS avg_dist,
      |  ROUND(MIN(dist), 6) AS min_dist,
      |  ROUND(MAX(dist), 6) AS max_dist
      |FROM dists GROUP BY label ORDER BY label""".stripMargin

  // ---- sim_ivf_topk: IVF-probe ANN (coarse quantize → search list) --
  // The IVF search pattern (Jégou et al., "Product quantization for
  // nearest neighbor search", 2011 — coarse quantizer + inverted
  // lists): the 10 label centroids stand in for a trained k-means
  // codebook, each label's vectors are its inverted list. A query
  // probes its single nearest centroid (nprobe=1, squared-distance
  // argmin with label tie-break) and ranks exact cosine only within
  // that list — at 100 TB the scan touches 1/nlists of the corpus per
  // query instead of all of it. All cross-row arithmetic is exact
  // decimal, so the probe choice and ranking are oracle-identical.
  private def simIvfTopk(spark: SparkSession, dir: String): DataFrame = {
    val exploded = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), col("label"), col("i"),
        col("x").cast("double").cast(DecimalType(12, 8)).as("d"))
    val sums = exploded.groupBy(col("label").as("c_label"), col("i"))
      .agg(sum(col("d")).as("s"), count(lit(1)).as("n"))
    // squared distance from each query to each centroid: Σ((n·d−s)/n)²
    // — scaled by n² per centroid, so compare dist_sq/n² (double).
    val probe = exploded.filter(col("vec_id") < nQueries)
      .join(broadcast(sums), Seq("i"))
      .withColumn("sq",
        ((col("n") * col("d") - col("s")).cast("double") *
          (col("n") * col("d") - col("s")).cast("double"))
          .cast(DecimalType(24, 6)))
      .groupBy(col("vec_id").as("q_id"), col("c_label"))
      .agg((sum(col("sq")).cast("double") /
        (max(col("n")) * max(col("n"))).cast("double")).as("dist_sq"))
      .groupBy("q_id")
      .agg(min_by(col("c_label"), struct(col("dist_sq"), col("c_label")))
        .as("probe_label"))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), quantized(col("embedding")).as("v"))
      .withColumn("norm", dotQ(col("v"), col("v")))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qn"))
      .join(probe, Seq("q_id"))
    val w = Window.partitionBy("q_id").orderBy(desc("cosine"), col("cand_id"))
    e.join(broadcast(q), col("label") === col("probe_label") &&
        col("vec_id") =!= col("q_id"))
      .withColumn("cosine", cosineQ(col("qv"), col("v"), col("qn"), col("norm")))
      .select(col("q_id"), col("probe_label"), col("vec_id").as("cand_id"),
        col("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("probe_label"), col("cand_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("q_id", "rank")
  }

  private val simIvfTopkSql =
    s"""WITH terms AS (
      |  SELECT vec_id, label, i,
      |    CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(12,8)) AS d
      |  FROM embeddings, range(1, 65) r(i)),
      |sums AS (
      |  SELECT label AS c_label, i, SUM(d) AS s, COUNT(*) AS n
      |  FROM terms GROUP BY label, i),
      |probe AS (
      |  SELECT q_id, c_label AS probe_label FROM (
      |    SELECT t.vec_id AS q_id, s.c_label,
      |      CAST(SUM(CAST(
      |        CAST(s.n * t.d - s.s AS DOUBLE) * CAST(s.n * t.d - s.s AS DOUBLE)
      |        AS DECIMAL(24,6))) AS DOUBLE) /
      |        CAST(MAX(s.n) * MAX(s.n) AS DOUBLE) AS dist_sq
      |    FROM terms t JOIN sums s ON t.i = s.i
      |    WHERE t.vec_id < $nQueries
      |    GROUP BY t.vec_id, s.c_label) x
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
      |    ORDER BY dist_sq, c_label) = 1),
      |norms AS (
      |  SELECT vec_id, CAST(SUM(d * d) AS DOUBLE) AS norm
      |  FROM terms GROUP BY vec_id),
      |dots AS (
      |  SELECT p.q_id, p.probe_label, c.vec_id AS cand_id,
      |    CAST(SUM(qt.d * c.d) AS DOUBLE) AS dot
      |  FROM probe p
      |  JOIN terms qt ON qt.vec_id = p.q_id
      |  JOIN terms c ON c.label = p.probe_label AND c.i = qt.i
      |    AND c.vec_id <> p.q_id
      |  GROUP BY 1, 2, 3)
      |SELECT q_id, rank, probe_label, cand_id, ROUND(cosine, 6) AS cosine
      |FROM (
      |  SELECT d.q_id, d.probe_label, d.cand_id,
      |    d.dot / (sqrt(nq.norm) * sqrt(nc.norm)) AS cosine,
      |    ROW_NUMBER() OVER (PARTITION BY d.q_id
      |      ORDER BY d.dot / (sqrt(nq.norm) * sqrt(nc.norm)) DESC, d.cand_id
      |    ) AS rank
      |  FROM dots d
      |  JOIN norms nq ON d.q_id = nq.vec_id
      |  JOIN norms nc ON d.cand_id = nc.vec_id) t
      |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  // ---- sim_pq_topk: product-quantization ADC top-k ------------------
  // PQ (Jégou et al. 2011 §II): the 64-dim space splits into 8
  // subspaces of 8 dims; per subspace the 10 label sub-centroids
  // stand in for a trained codebook (the same surrogate sim_ivf_topk
  // uses for its coarse quantizer). Each corpus vector ENCODES as its
  // nearest sub-centroid per subspace (8 codes ≈ 8 bytes instead of
  // 256 — the 32× memory compression that lets 100 TB of vectors fit
  // an ANN serving tier), and queries rank candidates by ADC:
  // approx_dist = Σ_sub d²(query_sub, centroid[code]) — table lookups,
  // no per-candidate float math.
  //
  // Determinism: sub-distances are exact decimal sums with ONE double
  // division (bit-identical cross-engine, the sim_ivf pattern);
  // code assignment breaks ties by label. The ADC total would be an
  // order-dependent double sum under groupBy, so the 8 partials pivot
  // to fixed columns and add in a FIXED association — identical FP
  // rounding on both engines, which is what lets this op keep a hash
  // oracle at all. Cost shape: encode is O(N·D·K) map-side
  // multiply-adds behind one (vec, sub, label) aggregation; the ADC
  // lookup table is queries×subspaces×labels — broadcast-sized at any
  // corpus scale.
  //
  // What the oracle proves vs what it doesn't: the hash gate verifies
  // the PQ MACHINERY end-to-end (encode argmin, code table, ADC
  // lookup, fixed-association total, ranking). Retrieval quality is
  // bounded by the surrogate codebook: 10 codes per subspace means
  // same-label vectors share all 8 codes and tie under ADC (measured
  // top-5 overlap vs exact ≈ 0.16 at sf0.01). Production swaps in a
  // k-means-trained 256-code codebook per subspace — the frame shapes
  // and the determinism strategy are unchanged by that swap.
  private val pqSubspaces = 8

  /** (vec_id, sub, c_label, dist_sq): distance from every (vector,
    * subspace) to every label's sub-centroid, scaled by n²:
    * Σ((n·d−s)/n)² = Σ(n·d−s)²/n². Materialized ONCE per call via an
    * eager Ckpt.stage: both the encode branch (codes) and
    * the query-side lookup table (dq) consume it — without the
    * checkpoint the whole distance subtree plans (and runs) under
    * both branches. Shared by sim_pq_topk and sim_ivfpq. */
  private def pqSubDist(spark: SparkSession, dir: String): DataFrame =
    Memo(Memo.pqSubDist, spark, dir)(pqSubDistCompute(spark, dir))

  private def pqSubDistCompute(spark: SparkSession, dir: String): DataFrame = {
    // staged once (r15): the per-label sums AND the distance join both
    // consume the exploded terms — unstaged, the posexplode subtree
    // planned (and ran) under both
    val terms = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), col("label"),
        (col("i") / lit(pqSubspaces)).cast("int").as("sub"), col("i"),
        col("x").cast("double").cast(DecimalType(12, 8)).as("d"))
      .transform(Ckpt.stage)
    val sums = terms.groupBy(col("label").as("c_label"), col("i"))
      .agg(sum(col("d")).as("s"), count(lit(1)).as("n"))
    terms
      .join(broadcast(sums), Seq("i"))
      .withColumn("sq",
        ((col("n") * col("d") - col("s")).cast("double") *
          (col("n") * col("d") - col("s")).cast("double"))
          .cast(DecimalType(24, 6)))
      .groupBy(col("vec_id"), col("sub"), col("c_label"))
      .agg((sum(col("sq")).cast("double") /
        (max(col("n")) * max(col("n"))).cast("double")).as("dist_sq"))
      .transform(Ckpt.stage)
  }

  private def simPqTopk(spark: SparkSession, dir: String): DataFrame = {
    val subDist = pqSubDist(spark, dir)
    val codes = subDist
      .groupBy(col("vec_id").as("cand_id"), col("sub"))
      .agg(min_by(col("c_label"), struct(col("dist_sq"), col("c_label")))
        .as("code"))
    val dq = subDist.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("sub").as("q_sub"),
        col("c_label").as("q_code"), col("dist_sq"))
    val partialCols = (0 until pqSubspaces).map(s =>
      max(when(col("sub") === s, col("dist_sq"))).as(s"p$s"))
    val partials = codes
      .join(broadcast(dq),
        col("sub") === col("q_sub") && col("code") === col("q_code"))
      .filter(col("cand_id") =!= col("q_id"))
      .groupBy("q_id", "cand_id")
      .agg(partialCols.head, partialCols.tail: _*)
    val adc = (1 until pqSubspaces)
      .foldLeft(col("p0")) { (acc, s) => acc + col(s"p$s") }
    val w = Window.partitionBy("q_id")
      .orderBy(col("approx_dist"), col("cand_id"))
    partials.withColumn("approx_dist", adc)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("cand_id"),
        round(col("approx_dist"), 6).as("approx_dist"))
      .orderBy("q_id", "rank")
  }

  private val simPqTopkSql = {
    val pCols = (0 until pqSubspaces).map(s =>
      s"MAX(CASE WHEN c.sub = $s THEN q.dist_sq END) AS p$s").mkString(",\n      |    ")
    val adc = (1 until pqSubspaces).foldLeft("p0") { (acc, s) => s"($acc + p$s)" }
    s"""WITH terms AS (
      |  SELECT vec_id, label, ((i - 1) // 8) AS sub, i,
      |    CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(12,8)) AS d
      |  FROM embeddings, range(1, 65) r(i)),
      |sums AS (
      |  SELECT label AS c_label, i, SUM(d) AS s, COUNT(*) AS n
      |  FROM terms GROUP BY 1, 2),
      |subdist AS (
      |  SELECT t.vec_id, t.sub, s.c_label,
      |    CAST(SUM(CAST(
      |      CAST(s.n * t.d - s.s AS DOUBLE) * CAST(s.n * t.d - s.s AS DOUBLE)
      |      AS DECIMAL(24,6))) AS DOUBLE) /
      |      CAST(MAX(s.n) * MAX(s.n) AS DOUBLE) AS dist_sq
      |  FROM terms t JOIN sums s ON t.i = s.i
      |  GROUP BY 1, 2, 3),
      |codes AS (
      |  SELECT vec_id AS cand_id, sub, c_label AS code FROM subdist
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub
      |    ORDER BY dist_sq, c_label) = 1),
      |partials AS (
      |  SELECT q.vec_id AS q_id, c.cand_id,
      |    $pCols
      |  FROM codes c JOIN subdist q ON q.sub = c.sub AND q.c_label = c.code
      |  WHERE q.vec_id < $nQueries AND c.cand_id <> q.vec_id
      |  GROUP BY 1, 2)
      |SELECT q_id, rank, cand_id, ROUND(approx_dist, 6) AS approx_dist
      |FROM (
      |  SELECT q_id, cand_id, $adc AS approx_dist,
      |    ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY $adc, cand_id) AS rank
      |  FROM partials) x
      |WHERE rank <= $topK ORDER BY q_id, rank""".stripMargin
  }

  // ---- sim_kmeans: Lloyd's k-means codebook training ----------------
  // The trained-codebook step sim_ivf_topk and sim_pq_topk declare as
  // their production path (Jégou et al. 2011 §II-A trains coarse and
  // product quantizers with k-means; Lloyd 1982): k seed centroids =
  // the first k vectors by vec_id (deterministic init), then
  // `kmIters` rounds of assign-to-nearest + recompute-means.
  // Division-free determinism: a centroid is carried as its exact
  // decimal SUM vector s plus member count n, never a divided mean —
  // squared distance to the mean is Σ((n·d − s)/n)² computed as
  // (Σ exact-decimal (n·d − s)²)/n², so the only FP steps are one
  // decimal→double cast and one division per (vec, cluster), then the
  // argmin ties break on cluster id. Both engines therefore walk
  // IDENTICAL assignment sequences through every iteration — the
  // oracle unrolls the same three rounds as CTEs and must match
  // hash-for-hash.
  // Scale: the centroid frame is k×d rows (broadcast); each round is
  // one broadcast join + two map-side-combined aggs over the corpus —
  // the corpus is never reshuffled by cluster and no state ever
  // concentrates on the driver. This is the same round shape MLlib's
  // distributed k-means runs at petabyte scale.
  private val kmK = 8
  private[graft] val kmIters = 3

  private def simKmeans(spark: SparkSession, dir: String): DataFrame =
    kmeansStats(spark, dir, kmIters)

  /** single-row [(cluster, n, s_arr)] sorted by cluster id — the sort
    * fixes km_assign's strict-< tie-break to the lowest cluster id,
    * same as the oracle's ORDER BY dist_sq, cluster. */
  private def nestCentroids(perDim: DataFrame): DataFrame = perDim
    .groupBy("cluster")
    .agg(max(col("n")).as("n"),
      transform(array_sort(collect_list(struct(col("i"), col("s")))),
        e => e.getField("s")).as("s_arr"))
    .agg(array_sort(collect_list(
      struct(col("cluster"), col("n"), col("s_arr")))).as("cs"))

  /** per-dim exact integer sums of a (cluster, dq) frame — the
    * centroid-update aggregation (k×d rows after map-side combine). */
  private def centroidSums(assign: DataFrame): DataFrame = assign
    .select(col("cluster"), posexplode(col("dq")).as(Seq("i", "d")))
    .groupBy("cluster", "i")
    .agg(sum(col("d")).as("s"), count(lit(1)).as("n"))

  /** Lloyd's training core: returns the final checkpointed assignment
    * frame (vec_id, dq, cluster, dist_sq). Shared by the stats query,
    * the WSS-descent spec, and the trained-IVF/IVFADC searches through
    * Memo.kmeansTrain, per (session, dataset, iters). */
  private[graft] def kmeansTrain(spark: SparkSession, dir: String,
      iters: Int): DataFrame =
    Memo(Memo.kmeansTrain, spark, dir, iters)(
      kmeansTrainCompute(spark, dir, iters))

  private[graft] def invalidateKmMemo(): Unit = Memo.clear(Memo.kmeansTrain)
  private[graft] def invalidatePqMemo(): Unit = Memo.clear(Memo.pqSubDist)

  private def kmeansTrainCompute(spark: SparkSession, dir: String,
      iters: Int): DataFrame = {
    // corpus rows carry their vector as dec_quant's unscaled scale-8
    // longs; ASSIGNMENT IS MAP-ONLY: the k centroids ride along as
    // one broadcast single-row nested array of exact integer
    // (sum, count) pairs and the native km_assign kernel picks the
    // argmin per row — the corpus is never shuffled or joined during
    // assignment. Only the centroid UPDATE exchanges anything, and
    // map-side combine reduces that to k×d partial rows per task.
    // (A join formulation re-shuffled ~n·k rows per round; an
    // interpreted HOF fold computed the same kernel ~10× slower.)
    // the corpus side is LOOP-INVARIANT and read once per round —
    // lazily cached (r16), it re-enters every round as the same
    // InMemoryRelation, so the unrolled lineage stays LINEAR in the
    // round count (each round adds one agg chain over the shared
    // cache, not a re-expansion of the scan+dec_quant subtree)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("dec_quant(embedding)").as("dq"))
      .transform(Ckpt.cache)
    // rounds unroll LAZILY into the final stage job (r16): each
    // round's centroids are ONE small row riding a broadcast, and
    // each intermediate assignment is map-only over the cached corpus
    // consumed exactly once (by the next centroid update) — the
    // former per-round eager Ckpt.stage paid 5 corpus-sized
    // materializations per training run. Only the FINAL assignment
    // stages eagerly: it is the cross-query memoized artifact
    // (sim_silhouette / IVF searches / dedup_semantic read it after
    // the bench's clearCache, which would evict a mere cache and
    // silently re-run training in the consumer), and the truncation
    // keeps every consumer's audited plan flat.
    var cent = emb.filter(col("vec_id") < kmK)
      .select(col("vec_id").cast("long").as("cluster"), lit(1L).as("n"),
        col("dq").as("s_arr"))
      .agg(array_sort(collect_list(
        struct(col("cluster"), col("n"), col("s_arr")))).as("cs"))
    var assign: DataFrame = null
    for (it <- 1 to iters) {
      assign = emb.crossJoin(broadcast(cent))
        .withColumn("b", expr("km_assign(dq, cs)"))
        .select(col("vec_id"), col("dq"),
          col("b.cluster").as("cluster"),
          col("b.dist_sq").as("dist_sq"))
      if (it < iters)
        cent = nestCentroids(centroidSums(assign))
    }
    assign.transform(Ckpt.stage)
  }

  private[graft] def kmeansStats(spark: SparkSession, dir: String,
      iters: Int): DataFrame =
    kmeansTrain(spark, dir, iters).groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("dist_sq").cast(DecimalType(18, 8))).cast("double"), 6)
          .as("wss"),
        round(min(col("dist_sq")), 6).as("min_dist_sq"),
        round(max(col("dist_sq")), 6).as("max_dist_sq"))
      .orderBy("cluster")

  /** km_assign's per-(row, centroid) distance, replayed relationally:
    * exact decimal (n·d − s) per dim, ONE decimal→double cast,
    * squared, DECIMAL(24,6) per-term rounding, exact sum, ÷ n². */
  private val kmDistExpr =
    """CAST(SUM(CAST(
      |      CAST(s.n * t.d - s.s AS DOUBLE) * CAST(s.n * t.d - s.s AS DOUBLE)
      |      AS DECIMAL(24,6))) AS DOUBLE) /
      |      CAST(MAX(s.n) * MAX(s.n) AS DOUBLE)""".stripMargin

  /** WITH-body replaying kmeansTrain: terms, sums0..sums{iters-1},
    * assign1..assign{kmIters}, plus sums$kmIters (the trained means
    * the IVF probe needs). Shared by the kmeans and trained-IVF
    * oracles. */
  private[operators] val kmCtes: String = {
    val iters = (1 to kmIters).map { r =>
      val assign =
        s"""assign$r AS (
          |  SELECT vec_id, cluster, dist_sq FROM (
          |    SELECT t.vec_id, s.cluster, $kmDistExpr AS dist_sq
          |    FROM terms t JOIN sums${r - 1} s ON t.i = s.i
          |    GROUP BY t.vec_id, s.cluster) x
          |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
          |    ORDER BY dist_sq, cluster) = 1)""".stripMargin
      val update =
        s""",
          |sums$r AS (
          |  SELECT a.cluster, t.i, SUM(t.d) AS s, COUNT(*) AS n
          |  FROM terms t JOIN assign$r a USING (vec_id) GROUP BY 1, 2)""".stripMargin
      assign + update
    }.mkString(",\n")
    s"""terms AS (
      |  SELECT vec_id, i,
      |    CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(12,8)) AS d
      |  FROM embeddings, range(1, 65) r(i)),
      |sums0 AS (
      |  SELECT CAST(vec_id AS BIGINT) AS cluster, i, d AS s,
      |    CAST(1 AS BIGINT) AS n
      |  FROM terms WHERE vec_id < $kmK),
      |$iters""".stripMargin
  }

  private val simKmeansSql: String =
    s"""WITH $kmCtes
      |SELECT cluster, COUNT(*) AS n_vecs,
      |  ROUND(CAST(SUM(CAST(dist_sq AS DECIMAL(18,8))) AS DOUBLE), 6) AS wss,
      |  ROUND(MIN(dist_sq), 6) AS min_dist_sq,
      |  ROUND(MAX(dist_sq), 6) AS max_dist_sq
      |FROM assign$kmIters GROUP BY cluster ORDER BY cluster""".stripMargin

  // ---- sim_ivf_kmeans: IVF search over the TRAINED codebook ---------
  // Closes the loop sim_ivf_topk's surrogate declares: the coarse
  // quantizer here is the k-means-trained codebook (final means of
  // kmeansTrain), the inverted lists are its assignment — exactly
  // Jégou et al. 2011 §II-A's trained IVF. A query probes its nearest
  // trained centroid with the SAME km_assign kernel used in training
  // (nprobe=1) and exact-cosine-ranks only that list.
  // Scale: training amortizes across queries (checkpointed lists),
  // the probe is map-only against the broadcast codebook, and each
  // query touches 1/k of the corpus. The oracle replays training
  // via the shared CTE chain, then probes and ranks relationally —
  // hash-verifying codebook, probe choice, list membership, and
  // cosines end to end.
  private def simIvfKmeans(spark: SparkSession, dir: String): DataFrame = {
    val assign = kmeansTrain(spark, dir, kmIters)
    val trained = nestCentroids(centroidSums(assign)).transform(Ckpt.stage)
    val withNorm = assign.select(col("vec_id"), col("dq"), col("cluster"))
      .withColumn("norm", call_function("dec_dot", col("dq"), col("dq")))
    val probed = withNorm.filter(col("vec_id") < nQueries)
      .crossJoin(broadcast(trained))
      .withColumn("b", expr("km_assign(dq, cs)"))
      .select(col("vec_id").as("q_id"), col("dq").as("qdq"),
        col("norm").as("qn"), col("b.cluster").as("probe_cluster"))
    val w = Window.partitionBy("q_id").orderBy(desc("cosine"), col("cand_id"))
    withNorm.join(broadcast(probed),
        col("cluster") === col("probe_cluster") &&
          col("vec_id") =!= col("q_id"))
      .withColumn("cosine",
        call_function("dec_dot", col("qdq"), col("dq")) /
          (sqrt(col("qn")) * sqrt(col("norm"))))
      .select(col("q_id"), col("probe_cluster"), col("vec_id").as("cand_id"),
        col("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("probe_cluster"), col("cand_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("q_id", "rank")
  }

  private val simIvfKmeansSql =
    s"""WITH $kmCtes,
      |probe AS (
      |  SELECT vec_id AS q_id, cluster AS probe_cluster FROM (
      |    SELECT t.vec_id, s.cluster, $kmDistExpr AS dist_sq
      |    FROM terms t JOIN sums$kmIters s ON t.i = s.i
      |    WHERE t.vec_id < $nQueries
      |    GROUP BY t.vec_id, s.cluster) x
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY dist_sq, cluster) = 1),
      |norms AS (
      |  SELECT vec_id, CAST(SUM(d * d) AS DOUBLE) AS norm
      |  FROM terms GROUP BY vec_id),
      |dots AS (
      |  SELECT p.q_id, p.probe_cluster, c.vec_id AS cand_id,
      |    CAST(SUM(qt.d * ct.d) AS DOUBLE) AS dot
      |  FROM probe p
      |  JOIN assign$kmIters c ON c.cluster = p.probe_cluster
      |    AND c.vec_id <> p.q_id
      |  JOIN terms qt ON qt.vec_id = p.q_id
      |  JOIN terms ct ON ct.vec_id = c.vec_id AND ct.i = qt.i
      |  GROUP BY 1, 2, 3)
      |SELECT q_id, rank, probe_cluster, cand_id, ROUND(cosine, 6) AS cosine
      |FROM (
      |  SELECT d.q_id, d.probe_cluster, d.cand_id,
      |    d.dot / (sqrt(nq.norm) * sqrt(nc.norm)) AS cosine,
      |    ROW_NUMBER() OVER (PARTITION BY d.q_id
      |      ORDER BY d.dot / (sqrt(nq.norm) * sqrt(nc.norm)) DESC, d.cand_id
      |    ) AS rank
      |  FROM dots d
      |  JOIN norms nq ON d.q_id = nq.vec_id
      |  JOIN norms nc ON d.cand_id = nc.vec_id) t
      |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  // ---- sim_ivfpq: IVFADC — coarse probe + in-list ADC ranking -------
  // The complete system of Jégou et al. 2011 §III (IVFADC): the
  // k-means-trained coarse quantizer partitions the corpus into
  // inverted lists (sim_ivf_kmeans' frames), vectors inside a list
  // are stored as 8 PQ codes (sim_pq_topk's encoder), and a query
  // (a) probes its nearest trained centroid with the same km_assign
  // kernel (nprobe=1), then (b) ranks ONLY that list's members by
  // ADC table lookups. This is the memory-AND-compute shape real
  // vector stores run at 100 TB: each query touches 1/k of the
  // corpus, and what it touches is bytes of codes, not floats.
  // (The paper encodes RESIDUALS q(x − coarse(x)); raw-vector PQ here
  // keeps the shared encoder — the frame shapes are unchanged by
  // that swap.) Determinism: both quantizers and the
  // fixed-association ADC total are the audited constructions from
  // their parent ops, so the composition stays hash-oracle-exact —
  // the oracle replays coarse training (shared CTE chain) AND the PQ
  // encoder, then probes and ranks relationally.
  private def simIvfpq(spark: SparkSession, dir: String): DataFrame = {
    val assign = kmeansTrain(spark, dir, kmIters)
    val trained = nestCentroids(centroidSums(assign)).transform(Ckpt.stage)
    val subDist = pqSubDist(spark, dir)
    val codes = subDist
      .groupBy(col("vec_id").as("cand_id"), col("sub"))
      .agg(min_by(col("c_label"), struct(col("dist_sq"), col("c_label")))
        .as("code"))
    val dq = subDist.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("sub").as("q_sub"),
        col("c_label").as("q_code"), col("dist_sq"))
    val probed = assign.filter(col("vec_id") < nQueries)
      .crossJoin(broadcast(trained))
      .withColumn("b", expr("km_assign(dq, cs)"))
      .select(col("vec_id").as("q_id"), col("b.cluster").as("probe_cluster"))
    // candidate pairs = probed list members only (~N/k per query);
    // the codes join shuffles on cand_id, the ADC table broadcasts
    val cand = assign.select(col("vec_id").as("cand_id"), col("cluster"))
      .join(broadcast(probed),
        col("cluster") === col("probe_cluster") &&
          col("cand_id") =!= col("q_id"))
      .select("q_id", "probe_cluster", "cand_id")
    val partialCols = (0 until pqSubspaces).map(s =>
      max(when(col("sub") === s, col("dist_sq"))).as(s"p$s"))
    val partials = codes.join(cand, Seq("cand_id"))
      .join(broadcast(dq), Seq("q_id"))
      .filter(col("sub") === col("q_sub") && col("code") === col("q_code"))
      .groupBy("q_id", "probe_cluster", "cand_id")
      .agg(partialCols.head, partialCols.tail: _*)
    val adc = (1 until pqSubspaces)
      .foldLeft(col("p0")) { (acc, s) => acc + col(s"p$s") }
    val w = Window.partitionBy("q_id")
      .orderBy(col("approx_dist"), col("cand_id"))
    partials.withColumn("approx_dist", adc)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("probe_cluster"), col("cand_id"),
        round(col("approx_dist"), 6).as("approx_dist"))
      .orderBy("q_id", "rank")
  }

  private val simIvfpqSql = {
    val pCols = (0 until pqSubspaces).map(s =>
      s"MAX(CASE WHEN c.sub = $s THEN q.dist_sq END) AS p$s").mkString(",\n      |    ")
    val adc = (1 until pqSubspaces).foldLeft("p0") { (acc, s) => s"($acc + p$s)" }
    s"""WITH $kmCtes,
      |pterms AS (
      |  SELECT t.vec_id, e.label, ((t.i - 1) // 8) AS sub, t.i, t.d
      |  FROM terms t JOIN embeddings e USING (vec_id)),
      |psums AS (
      |  SELECT label AS c_label, i, SUM(d) AS s, COUNT(*) AS n
      |  FROM pterms GROUP BY 1, 2),
      |subdist AS (
      |  SELECT t.vec_id, t.sub, s.c_label, $kmDistExpr AS dist_sq
      |  FROM pterms t JOIN psums s ON t.i = s.i
      |  GROUP BY 1, 2, 3),
      |codes AS (
      |  SELECT vec_id AS cand_id, sub, c_label AS code FROM subdist
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub
      |    ORDER BY dist_sq, c_label) = 1),
      |probe AS (
      |  SELECT vec_id AS q_id, cluster AS probe_cluster FROM (
      |    SELECT t.vec_id, s.cluster, $kmDistExpr AS dist_sq
      |    FROM terms t JOIN sums$kmIters s ON t.i = s.i
      |    WHERE t.vec_id < $nQueries
      |    GROUP BY t.vec_id, s.cluster) x
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY dist_sq, cluster) = 1),
      |partials AS (
      |  SELECT q.vec_id AS q_id, p.probe_cluster, c.cand_id,
      |    $pCols
      |  FROM codes c
      |  JOIN assign$kmIters a ON a.vec_id = c.cand_id
      |  JOIN subdist q ON q.sub = c.sub AND q.c_label = c.code
      |  JOIN probe p ON p.q_id = q.vec_id AND a.cluster = p.probe_cluster
      |  WHERE q.vec_id < $nQueries AND c.cand_id <> q.vec_id
      |  GROUP BY 1, 2, 3)
      |SELECT q_id, rank, probe_cluster, cand_id,
      |  ROUND(approx_dist, 6) AS approx_dist
      |FROM (
      |  SELECT q_id, probe_cluster, cand_id, $adc AS approx_dist,
      |    ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY $adc, cand_id) AS rank
      |  FROM partials) x
      |WHERE rank <= $topK ORDER BY q_id, rank""".stripMargin
  }

  // ---- sim_recall_report: measured recall@k of every ANN path -------
  // The tuning report a user reads before trading exactness for
  // speed: per ANN method, micro-averaged and worst-query recall@k
  // against the exact brute-force top-k on the SAME queries (k = the
  // method's own cut: LSH 5, IVF 3, IVFPQ 5). Reuses the registered
  // query functions directly, so the report can never drift from
  // what the queries actually return; the trained-quantizer frames
  // are session-memoized, so the added cost over the underlying
  // paths is three left-semi joins on (q_id, cand_id) — query-set
  // sized, broadcast. Rows-only by design: the ground truth
  // (sim_topk_exact) is hash-verified separately and the ANN paths
  // are the system under measurement; the invariant spec pins
  // recall ∈ [0,1], per-method row presence, and a recall floor for
  // the LSH path.
  private def simRecallReport(spark: SparkSession, dir: String): DataFrame = {
    // staged ONCE (r16): the three method legs all derive their truth
    // sets from this frame, and un-staged the whole brute-force N×Q
    // cosine subtree planned (and ran) under every leg — the single
    // most expensive subtree in the query, paid 3× (guide §2.4). The
    // staged frame is queries×k rows, so the per-leg truth derivations
    // ride a coalesce(1) single partition with zero exchanges.
    val exact = simTopkExact(spark, dir)
      .select(col("q_id"), col("rank"), col("cand_id"))
      .transform(Ckpt.stage).coalesce(1)
    def row(method: String, frame: DataFrame, k: Int): DataFrame = {
      val truth = exact.filter(col("rank") <= k).select("q_id", "cand_id")
      // explicit hint: truth is queries×k rows (always broadcastable —
      // both are op constants) but rides a staged scan with no size
      // stats, which would otherwise plan as a sort-merge join and
      // re-exchange the corpus-scale method frame
      // coalesce(1) after each agg: joins against bare agg outputs
      // re-exchange both sides (the sim_mmr probe), and these frames
      // are queries-sized
      val hits = frame.select("q_id", "cand_id")
        .join(broadcast(truth), Seq("q_id", "cand_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
        .coalesce(1)
      truth.groupBy("q_id").agg(count(lit(1)).as("n_truth"))
        .coalesce(1).hint("merge")
        .join(hits, Seq("q_id"), "left")
        .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
        .agg(count(lit(1)).as("n_queries"),
          round(sum(col("n_hits")).cast("double") /
            sum(col("n_truth")).cast("double"), 6).as("recall"),
          round(min(col("n_hits").cast("double") /
            col("n_truth").cast("double")), 6).as("min_recall"))
        .select(lit(method).as("method"), lit(k).cast("long").as("k"),
          col("n_queries"), col("recall"), col("min_recall"))
    }
    row("lsh", simAnnLsh(spark, dir), topK)
      .unionByName(row("ivf_kmeans", simIvfKmeans(spark, dir), 3))
      .unionByName(row("ivfpq", simIvfpq(spark, dir), topK))
      .orderBy("method")
  }

  /** Oracle for the recall report — possible since r10, when every
    * measured ANN path became hash-verified itself: each method's
    * OWN oracle SQL runs as a scoped subquery (its CTE names shadow
    * safely inside the parentheses), the exact ground truth is
    * sim_topk_exact's verified SQL, and the recall arithmetic
    * mirrors the Spark expressions division-for-division. The hash
    * gate therefore verifies the measurement itself, not just its
    * inputs. */
  private lazy val simRecallReportSql: String = {
    def leg(method: String, k: Int, methodSql: String): String =
      s"""SELECT '$method' AS method, CAST($k AS BIGINT) AS k,
        |  CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  ROUND(CAST(SUM(n_hits) AS DOUBLE)
        |    / CAST(SUM(n_truth) AS DOUBLE), 6) AS recall,
        |  ROUND(MIN(CAST(n_hits AS DOUBLE)
        |    / CAST(n_truth AS DOUBLE)), 6) AS min_recall
        |FROM (
        |  WITH res AS ($methodSql),
        |  truth AS (SELECT q_id, cand_id FROM exact_res WHERE rank <= $k),
        |  hits AS (
        |    SELECT r.q_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        |    FROM (SELECT DISTINCT q_id, cand_id FROM res) r
        |    JOIN truth t ON t.q_id = r.q_id AND t.cand_id = r.cand_id
        |    GROUP BY 1),
        |  per AS (
        |    SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_truth
        |    FROM truth GROUP BY 1)
        |  SELECT p.q_id, p.n_truth, COALESCE(h.n_hits, 0) AS n_hits
        |  FROM per p LEFT JOIN hits h USING (q_id)) q""".stripMargin
    s"""WITH exact_res AS ($simTopkExactSql)
      |${leg("lsh", topK, simAnnLshSql)}
      |UNION ALL
      |${leg("ivf_kmeans", 3, simIvfKmeansSql)}
      |UNION ALL
      |${leg("ivfpq", topK, simIvfpqSql)}
      |ORDER BY method""".stripMargin
  }

  // ---- sim_hard_negatives: contrastive hard-negative mining ---------
  // The training-pair miner contrastive/embedding fine-tuning needs
  // (the "hard negatives matter" recipe of DPR/SimCSE-era pipelines):
  // for every vector, its hardest NON-duplicate neighbor — the
  // highest-cosine candidate below the τ=0.9 near-dup band, i.e.
  // similar enough to be informative, distinct enough to be a true
  // negative. Candidates come from dedup_embedding's hash-verified
  // LSH pair frame (cosine ≥ 0.4 floor, exact decimal cosines,
  // bucket-blocked — never all-pairs), so this op is pure
  // composition: symmetrize each surviving pair with ONE explode
  // (not a self-union, which would replay the pair producer twice),
  // rank per vector by (cosine desc, id), keep rank 1, and report the
  // per-vector candidate count. Vectors with no sub-band neighbor
  // have no hard negative and drop out — exactly the semantics a
  // pair-sampling dataloader wants.
  // Scale: inherits the pair frame's blocked plan; adds one
  // vec_id-partitioned window (rank + count share it) and a sort.
  private val hnTauDup = 0.9

  private def simHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val pairs = DedupOps.embeddingPairsAt(spark, dir,
      LshWidth.labelPlanes(spark, dir))
    val sym = pairs.filter(col("cosine") < hnTauDup)
      .select(explode(array(
        struct(col("a_id").as("vec_id"), col("b_id").as("neg_id"),
          col("cosine")),
        struct(col("b_id").as("vec_id"), col("a_id").as("neg_id"),
          col("cosine")))).as("p"))
      .select(col("p.vec_id").as("vec_id"), col("p.neg_id").as("neg_id"),
        col("p.cosine").as("cosine"))
    val byVec = Window.partitionBy("vec_id")
    sym
      .withColumn("rk", row_number().over(
        byVec.orderBy(desc("cosine"), col("neg_id"))))
      .withColumn("n_candidates", count(lit(1)).over(byVec))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("neg_id"), col("cosine"),
        col("n_candidates"))
      .orderBy("vec_id")
  }

  private val simHardNegativesSql: String =
    s"""WITH ${DedupOps.embPairsCtes},
      |sym AS (
      |  SELECT a_id AS vec_id, b_id AS neg_id, cosine FROM emb_pairs
      |  WHERE cosine < $hnTauDup
      |  UNION ALL
      |  SELECT b_id, a_id, cosine FROM emb_pairs
      |  WHERE cosine < $hnTauDup),
      |r AS (
      |  SELECT vec_id, neg_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY cosine DESC, neg_id) AS rk,
      |    CAST(COUNT(*) OVER (PARTITION BY vec_id) AS BIGINT)
      |      AS n_candidates
      |  FROM sym)
      |SELECT vec_id, neg_id, cosine, n_candidates
      |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin

  // ---- sim_silhouette: cluster-quality report over the trained model
  // The evaluation step the clustering family was missing: per-cluster
  // simplified silhouette (Hruschka et al. 2004 — the centroid-based
  // O(n·k) form; the classic pairwise silhouette is Θ(n²) and dies
  // first at scale) over kmeansTrain's final model, on SQUARED
  // distances: s = (b − a) / max(a, b) with a = dist²(x, own final
  // centroid), b = min over other clusters. Both distances come from
  // the SAME km_assign kernel as training — a over the centroid array
  // filtered to the own cluster, b over its complement (array-HOF
  // filter on the broadcast codebook, so assignment stays map-only) —
  // and the oracle replays them through the shared kmDistExpr chain,
  // hash-verifying model, distances, and the report end to end.
  // Negative s marks points better explained by a neighboring
  // cluster; n_neg surfaces them as an integer-exact diagnostic.
  // Per-cluster mean: each s is bit-identical double arithmetic over
  // hash-proven dist² values (subtract / max / divide are all
  // correctly-rounded IEEE ops, no transcendental), summed exactly as
  // DECIMAL(18,8) (sim_kmeans' wss contract) and divided by the
  // SIGN-SAFE half-up contract (s can be negative).
  // Scale: one broadcast of the k-row codebook + a map-only pass +
  // one k-row map-side-combined agg — nothing corpus-sized shuffles;
  // training amortizes via kmeansTrain's memoized checkpoint.
  private def simSilhouette(spark: SparkSession, dir: String): DataFrame = {
    val assign = kmeansTrain(spark, dir, kmIters)
    val trained = nestCentroids(centroidSums(assign)).transform(Ckpt.stage)
    val scored = assign.select(col("vec_id"), col("dq"),
        col("cluster").as("own_c"))
      .crossJoin(broadcast(trained))
      .withColumn("a_sq",
        expr("km_assign(dq, filter(cs, c -> c.cluster = own_c)).dist_sq"))
      .withColumn("b_sq",
        expr("km_assign(dq, filter(cs, c -> c.cluster != own_c)).dist_sq"))
      .withColumn("s", when(greatest(col("a_sq"), col("b_sq")) > 0,
        (col("b_sq") - col("a_sq")) / greatest(col("a_sq"), col("b_sq")))
        .otherwise(lit(0.0)))
    scored.groupBy(col("own_c").as("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        count(when(col("s") < 0, lit(1))).as("n_neg"),
        sum(col("s").cast(DecimalType(18, 8))).as("ssum"))
      .withColumn("sum_u", (col("ssum") * 100000000L).cast("long"))
      .select(col("cluster"), col("n_vecs"), col("n_neg"),
        (expr("(case when sum_u < 0 then -1L else 1L end) * " +
          "((2 * abs(sum_u) + n_vecs) div (2 * n_vecs))").cast("double")
          / lit(100000000.0)).as("mean_sil"))
      .orderBy("cluster")
  }

  private val simSilhouetteSql: String =
    s"""WITH $kmCtes,
      |dists AS (
      |  SELECT vec_id, cluster, dist_sq FROM (
      |    SELECT t.vec_id, s.cluster, $kmDistExpr AS dist_sq
      |    FROM terms t JOIN sums$kmIters s ON t.i = s.i
      |    GROUP BY t.vec_id, s.cluster) x),
      |ab AS (
      |  SELECT d.vec_id, a.cluster AS own_c,
      |    MAX(CASE WHEN d.cluster = a.cluster THEN d.dist_sq END) AS a_sq,
      |    MIN(CASE WHEN d.cluster <> a.cluster THEN d.dist_sq END) AS b_sq
      |  FROM dists d JOIN assign$kmIters a USING (vec_id)
      |  GROUP BY d.vec_id, a.cluster),
      |sil AS (
      |  SELECT own_c,
      |    CASE WHEN greatest(a_sq, b_sq) > 0
      |      THEN (b_sq - a_sq) / greatest(a_sq, b_sq) ELSE 0.0 END AS s
      |  FROM ab),
      |agg AS (
      |  SELECT own_c AS cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |    CAST(COUNT(CASE WHEN s < 0 THEN 1 END) AS BIGINT) AS n_neg,
      |    CAST(SUM(CAST(s AS DECIMAL(18,8))) * 100000000 AS BIGINT) AS sum_u
      |  FROM sil GROUP BY own_c)
      |SELECT cluster, n_vecs, n_neg,
      |  CAST((CASE WHEN sum_u < 0 THEN -1 ELSE 1 END) *
      |    ((2 * abs(sum_u) + n_vecs) // (2 * n_vecs)) AS DOUBLE)
      |    / 100000000.0 AS mean_sil
      |FROM agg ORDER BY cluster""".stripMargin

  // ---- sim_mmr: maximal-marginal-relevance diversified top-k --------
  // Carbonell & Goldstein 1998's MMR re-ranking — the
  // retrieval-diversification step RAG stacks and dataset-sampling
  // pipelines both run after a similarity search: per query, greedily
  // select k results maximizing λ·rel(c) − (1−λ)·max_{s∈selected}
  // sim(c, s), so each pick is relevant but NOT redundant with what's
  // already chosen. λ = 0.5, where the objective reduces to
  // (rel − pen)/2 and the 0.5 multiplies are exact IEEE (powers of
  // two) — the argmax and the reported score are cross-engine
  // deterministic given the quantized-dot cosine contract; ties break
  // on cand_id.
  // Scale: relevance is ONE broadcast-query pass over the corpus
  // (sim_topk_exact's plan), staged as the top-`mmrPool` candidate
  // frame; the pool²-sized pair similarities join it to its own
  // broadcast. Both are CONSTANT-sized at any corpus scale, so the
  // k greedy rounds run as one kernel in one task (`mmrRounds`
  // through Ckpt.small) — never one Spark job per round. The oracle
  // unrolls all k rounds as CTEs, so the hash gate verifies the
  // whole greedy trajectory.
  private val mmrQueries = 3
  private val mmrPool = 50
  private val mmrK = 8

  private def simMmr(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), quantized(col("embedding")).as("v"))
      .withColumn("norm", dotQ(col("v"), col("v")))
    val q = e.filter(col("vec_id") < mmrQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("norm").as("qn"))
    val cand = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("rel", cosineQ(col("qv"), col("v"), col("qn"), col("norm")))
      .withColumn("rk", row_number().over(Window.partitionBy("q_id")
        .orderBy(desc("rel"), col("vec_id"))))
      .filter(col("rk") <= mmrPool)
      .select(col("q_id"), col("vec_id").as("cand_id"), col("v"),
        col("norm"), col("rel"))
      .transform(Ckpt.stage)
    val psim = cand.select(col("q_id"), col("cand_id").as("a_id"),
        col("v").as("av"), col("norm").as("an"))
      .join(broadcast(cand.select(col("q_id"), col("cand_id").as("b_id"),
        col("v").as("bv"), col("norm").as("bn"))), Seq("q_id"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("q_id"), col("a_id"), col("b_id"),
        cosineQ(col("av"), col("bv"), col("an"), col("bn")).as("sim"))
    mmrRanks(cand.select(col("q_id"), col("cand_id"), col("rel")), psim)
      .select(col("q_id"), col("rank"), col("cand_id"),
        round(col("rel"), 6).as("rel"),
        round(col("pen"), 6).as("penalty"),
        round(col("mmr"), 6).as("mmr"))
      .orderBy("q_id", "rank")
  }

  /** The greedy selection over a candidate pool (q_id, cand_id, rel)
    * and its pair similarities (q_id, a_id, b_id, sim), as (q_id, rank,
    * cand_id, rel, pen, mmr) rows: [[mmrRounds]] in one task
    * ([[Ckpt.small]]) over both frames, a pool row carrying no b_id. */
  private[operators] def mmrRanks(pool: DataFrame, psim: DataFrame): DataFrame = {
    import pool.sparkSession.implicits._
    val rows = pool.select(col("q_id"), col("cand_id").as("a_id"),
        lit(null).cast("long").as("b_id"), col("rel").as("x"))
      .unionAll(psim.select(col("q_id"), col("a_id"), col("b_id"),
        col("sim").as("x")))
    Ckpt.small(rows) { it: Iterator[(Long, Long, Option[Long], Double)] =>
      mmrRounds(it, mmrK)
    }.toDF("q_id", "rank", "cand_id", "rel", "pen", "mmr")
  }

  /** Up to `k` greedy rounds per q_id, row for row what the SQL rounds
    * in [[simMmrSql]] pick: rank 1 is the top rel (pen 0, mmr 0.5·rel);
    * each later round gives every unpicked candidate that has a pair
    * row to a picked one pen = the max of those sims, and picks the
    * top mmr = 0.5·rel − 0.5·pen. Ties go to the lower cand_id; a
    * query stops when no candidate is left. Doubles compare as Spark
    * orders them (NaN largest, −0.0 = 0.0). Input rows are
    * (q_id, cand_id, None, rel) and (q_id, a_id, Some(b_id), sim). */
  private[operators] def mmrRounds(rows: Iterator[(Long, Long, Option[Long], Double)],
      k: Int): Iterator[(Long, Int, Long, Double, Double, Double)] = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    val (pool, pairs) = rows.toSeq.partition(_._3.isEmpty)
    // (q_id, b_id) -> (a_id, sim): the sims a pick of b adds to
    val simsTo = pairs.groupMap(r => (r._1, r._3.get))(r => (r._2, r._4))
    pool.groupMap(_._1)(r => (r._2, r._4)).iterator.flatMap { case (q, cands) =>
      val pen = scala.collection.mutable.LongMap.empty[Double]
      var left = cands
      Iterator.from(1).take(k).map { rank =>
        // (cand_id, rel, pen, mmr, the value ranked on)
        val scored = left.flatMap { case (c, rel) =>
          if (rank == 1) Some((c, rel, 0.0, 0.5 * rel, rel))
          else pen.get(c).map { p => val mmr = 0.5 * rel - 0.5 * p; (c, rel, p, mmr, mmr) }
        }
        scored.reduceOption { (a, b) =>
          val byKey = compareDoubles(a._5, b._5)
          if (byKey > 0 || (byKey == 0 && a._1 < b._1)) a else b
        }.map { case (c, rel, p, mmr, _) =>
          left = left.filter(_._1 != c)
          for ((a, sim) <- simsTo.getOrElse((q, c), Nil))
            if (pen.get(a).forall(compareDoubles(sim, _) > 0)) pen(a) = sim
          (q, rank, c, rel, p, mmr)
        }
      }.takeWhile(_.isDefined).flatten
    }
  }

  private val simMmrSql = {
    // rounds 2..k unroll as CTE pairs (pick_k, sel_k); multi-referenced
    // chains MUST be MATERIALIZED or DuckDB re-inlines the whole
    // prefix per reference (the BPE-oracle 3^n blowup)
    val rounds = (2 to mmrK).map { k =>
      s"""cand_$k AS MATERIALIZED (
        |  SELECT c.q_id, c.cand_id, c.rel, MAX(p.sim) AS pen
        |  FROM cand c
        |  JOIN psim p ON p.q_id = c.q_id AND p.a_id = c.cand_id
        |  JOIN sel_${k - 1} s ON s.q_id = p.q_id AND s.cand_id = p.b_id
        |  WHERE NOT EXISTS (SELECT 1 FROM sel_${k - 1} x
        |    WHERE x.q_id = c.q_id AND x.cand_id = c.cand_id)
        |  GROUP BY 1, 2, 3),
        |pick_$k AS MATERIALIZED (
        |  SELECT q_id, cand_id, rel, pen, 0.5 * rel - 0.5 * pen AS mmr,
        |    $k AS rank
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY 0.5 * rel - 0.5 * pen DESC, cand_id) AS rn
        |    FROM cand_$k) WHERE rn = 1),
        |sel_$k AS MATERIALIZED (
        |  SELECT q_id, cand_id, rel, pen, mmr, rank FROM sel_${k - 1}
        |  UNION ALL SELECT * FROM pick_$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH terms AS MATERIALIZED (
      |  SELECT vec_id, i,
      |    CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(12,8)) AS d
      |  FROM embeddings, range(1, 65) r(i)),
      |norms AS MATERIALIZED (
      |  SELECT vec_id, CAST(SUM(d * d) AS DOUBLE) AS norm
      |  FROM terms GROUP BY vec_id),
      |cand AS MATERIALIZED (
      |  SELECT q_id, cand_id, rel FROM (
      |    SELECT d.q_id, d.cand_id,
      |      d.dot / (sqrt(nq.norm) * sqrt(nc.norm)) AS rel,
      |      ROW_NUMBER() OVER (PARTITION BY d.q_id
      |        ORDER BY d.dot / (sqrt(nq.norm) * sqrt(nc.norm)) DESC,
      |          d.cand_id) AS rk
      |    FROM (
      |      SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
      |        CAST(SUM(q.d * c.d) AS DOUBLE) AS dot
      |      FROM terms q JOIN terms c ON q.i = c.i
      |      WHERE q.vec_id < $mmrQueries AND c.vec_id <> q.vec_id
      |      GROUP BY 1, 2) d
      |    JOIN norms nq ON d.q_id = nq.vec_id
      |    JOIN norms nc ON d.cand_id = nc.vec_id)
      |  WHERE rk <= $mmrPool),
      |cids AS MATERIALIZED (SELECT DISTINCT cand_id FROM cand),
      |pdots AS MATERIALIZED (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |    CAST(SUM(a.d * b.d) AS DOUBLE) AS dot
      |  FROM terms a
      |  JOIN cids ca ON ca.cand_id = a.vec_id
      |  JOIN terms b ON a.i = b.i
      |  JOIN cids cb ON cb.cand_id = b.vec_id
      |  WHERE a.vec_id <> b.vec_id
      |  GROUP BY 1, 2),
      |psim AS MATERIALIZED (
      |  SELECT c1.q_id, c1.cand_id AS a_id, c2.cand_id AS b_id,
      |    pd.dot / (sqrt(na.norm) * sqrt(nb.norm)) AS sim
      |  FROM cand c1
      |  JOIN cand c2 ON c1.q_id = c2.q_id AND c1.cand_id <> c2.cand_id
      |  JOIN pdots pd ON pd.a_id = c1.cand_id AND pd.b_id = c2.cand_id
      |  JOIN norms na ON na.vec_id = c1.cand_id
      |  JOIN norms nb ON nb.vec_id = c2.cand_id),
      |sel_1 AS MATERIALIZED (
      |  SELECT q_id, cand_id, rel, CAST(0 AS DOUBLE) AS pen,
      |    0.5 * rel AS mmr, 1 AS rank
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY rel DESC, cand_id) AS rn FROM cand) WHERE rn = 1),
      |$rounds
      |SELECT q_id, rank, cand_id, ROUND(rel, 6) AS rel,
      |  ROUND(pen, 6) AS penalty, ROUND(mmr, 6) AS mmr
      |FROM sel_$mmrK ORDER BY q_id, rank""".stripMargin
  }

  // ---- sim_vector_health: embedding-column QA ------------------------
  // The embedding-table health screen run before trusting ANY
  // downstream similarity op: per dimension the zero count (dead
  // dims), the exact mean (a shifted dim breaks cosine geometry),
  // and the exact population variance (a collapsed dim carries no
  // information; one dominating dim distorts every distance). All in
  // the quantized-integer contract: elements are dec_quant's
  // unscaled scale-8 longs, moment sums run in DECIMAL(38,0)/
  // HUGEINT, the signed mean takes the sign-safe half-up division
  // and the variance numerator n·Σx² − (Σx)² ≥ 0 stays in the plain
  // contract.
  // Scale: ONE posexplode pass into a d-row (64) map-side-combined
  // aggregate — the corpus never shuffles, only (dim, moments) cells.
  private def simVectorHealth(spark: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    Tables.embeddings(spark, dir)
      .select(posexplode(quantized(col("embedding"))).as(Seq("i", "x")))
      .groupBy((col("i") + 1).as("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        coalesce(sum(when(col("x") === 0, lit(1L))), lit(0L)).as("n_zero"),
        sum(col("x")).as("m"),
        sum(col("x").cast(d38) * col("x").cast(d38)).as("ss"))
      .select(col("dim"), col("n_vecs"), col("n_zero"),
        (expr("""(case when m < 0 then -1 else 1 end) *
          |  ((2 * abs(cast(m as decimal(38,0))) * 1000000
          |    + cast(n_vecs as decimal(38,0)) * 100000000)
          |   div (2 * cast(n_vecs as decimal(38,0)) * 100000000))"""
          .stripMargin).cast("double") / lit(1000000.0)).as("dim_mean"),
        (expr("""(2 * (cast(n_vecs as decimal(38,0)) * ss
          |    - cast(m as decimal(38,0)) * cast(m as decimal(38,0)))
          |    * 1000000
          |  + cast(n_vecs as decimal(38,0)) * n_vecs
          |    * 10000000000000000)
          | div (2 * cast(n_vecs as decimal(38,0)) * n_vecs
          |    * 10000000000000000)""".stripMargin).cast("double")
          / lit(1000000.0)).as("dim_var"))
      .orderBy("dim")
  }

  private val simVectorHealthSql =
    """WITH terms AS (
      |  SELECT vec_id, i,
      |    CAST(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(12,8))
      |      * 100000000 AS BIGINT) AS x
      |  FROM embeddings, range(1, 65) r(i)),
      |g AS (
      |  SELECT CAST(i AS INT) AS dim, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |    CAST(COALESCE(SUM(CASE WHEN x = 0 THEN 1 END), 0) AS BIGINT)
      |      AS n_zero,
      |    CAST(SUM(x) AS BIGINT) AS m,
      |    SUM(CAST(x AS HUGEINT) * x) AS ss
      |  FROM terms GROUP BY 1)
      |SELECT dim, n_vecs, n_zero,
      |  CAST((CASE WHEN m < 0 THEN -1 ELSE 1 END) *
      |    ((2 * abs(CAST(m AS HUGEINT)) * 1000000
      |      + CAST(n_vecs AS HUGEINT) * 100000000)
      |     // (2 * CAST(n_vecs AS HUGEINT) * 100000000)) AS DOUBLE)
      |    / 1000000.0 AS dim_mean,
      |  CAST((2 * (n_vecs * ss - CAST(m AS HUGEINT) * m) * 1000000
      |      + CAST(n_vecs AS HUGEINT) * n_vecs * 10000000000000000)
      |    // (2 * CAST(n_vecs AS HUGEINT) * n_vecs * 10000000000000000)
      |    AS DOUBLE) / 1000000.0 AS dim_var
      |FROM g ORDER BY dim""".stripMargin

  // ---- sim_knn_graph: LSH-blocked k-NN graph construction -----------
  // The all-vectors k-NN graph that seeds NN-Descent-style refinement
  // and graph-ANN serving indexes (every vector is a query — the
  // batch-build counterpart of sim_ann_lsh's per-query search): for
  // each vector, its top-5 exact-cosine neighbors among LSH bucket
  // mates. Candidates come from the FIRST knnGraphTables of the 24
  // shared hyperplane tables — graph construction needs less
  // per-edge recall than dedup (a missed edge is recovered by the
  // descent's neighbor-of-neighbor exploration; a missed dup is a
  // training-set leak), so probing fewer tables is the principled
  // cost knob, and the oracle replays the same t < T cut on the
  // shared key CTEs. Cosines are exact (dec_quant/dec_dot decimal
  // contract); ranking breaks ties on neighbor_id. Vectors whose
  // probed buckets are singletons emit no rows (the descent seeds
  // them from a random init instead — documented, not hidden).
  // Scale: bucket rows are narrow (id, tbl, key) — vectors never
  // ride the candidate shuffle; per-bucket fan-out is bounded by the
  // plane-width knob (HyperplaneBuckets scaladoc: +3 planes per 10×
  // corpus holds bucket sizes), so the edge stage is linear-per-
  // vector, never corpus-quadratic. The rank window rides the
  // vec_id shuffle the neighbor join already made.
  private val knnGraphTables = 8

  private def simKnnGraph(spark: SparkSession, dir: String): DataFrame =
    simKnnGraphAt(spark, dir,
      planes = LshWidth.corpusPlanes(spark, dir))

  /** Width-scaled variant — the corpus-growth knob (same contract as
    * DedupOps.embeddingPairsAt): the within-bucket candidate stage is
    * quadratic in bucket size, so at N× vectors the key must widen by
    * ~log2(N) bits to hold bucket sizes — and therefore the edge
    * stage — constant per vector (measured at a 10× corpus: 6-bit
    * ratio 75.5, 9-bit 12.1, 10-bit 8.9 ≈ linear —
    * SCALE_r09_r9knob.json). Since r10 the registered query DERIVES
    * the width from the corpus count (LshWidth.corpusPlanes) and the
    * oracle derives the identical width in SQL, so the scale knob
    * turns itself; the explicit-width form remains for the sweep
    * specs. */
  private[graft] def simKnnGraphAt(spark: SparkSession, dir: String,
      planes: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), quantized(col("embedding")).as("v"))
      .withColumn("norm", dotQ(col("v"), col("v")))
    val keyed = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        posexplode(expr(s"hyperplane_buckets(embedding, $planes)"))
          .as(Seq("tbl", "key")))
      .filter(col("tbl") < knnGraphTables)
    val cand = keyed.as("x").join(keyed.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.key") === col("y.key") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("vec_id"),
        col("y.vec_id").as("neighbor_id"))
      .distinct()
    val w = Window.partitionBy("vec_id")
      .orderBy(desc("cosine"), col("neighbor_id"))
    cand
      .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("nv"),
        col("norm").as("nn")), Seq("neighbor_id"))
      .join(e, Seq("vec_id"))
      .withColumn("cosine",
        cosineQ(col("v"), col("nv"), col("norm"), col("nn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("vec_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("vec_id", "rank")
  }

  private lazy val simKnnGraphSql =
    s"""WITH ${DedupOps.hyperKeysCtes(LshWidth.corpusCountSql)},
      |cand AS (
      |  SELECT DISTINCT ka.vec_id AS vec_id, kb.vec_id AS neighbor_id
      |  FROM keys ka JOIN keys kb ON ka.t = kb.t AND ka.key = kb.key
      |    AND ka.vec_id <> kb.vec_id
      |  WHERE ka.t < $knnGraphTables),
      |terms AS (
      |  SELECT vec_id, i,
      |    CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(12,8)) AS d
      |  FROM embeddings, range(1, 65) r(i)),
      |norms AS (
      |  SELECT vec_id, CAST(SUM(d * d) AS DOUBLE) AS norm
      |  FROM terms GROUP BY vec_id),
      |dots AS (
      |  SELECT c.vec_id, c.neighbor_id,
      |    CAST(SUM(a.d * b.d) AS DOUBLE) AS dot
      |  FROM cand c
      |  JOIN terms a ON a.vec_id = c.vec_id
      |  JOIN terms b ON b.vec_id = c.neighbor_id AND b.i = a.i
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT d.vec_id, d.neighbor_id,
      |    d.dot / (sqrt(na.norm) * sqrt(nb.norm)) AS cosine,
      |    ROW_NUMBER() OVER (PARTITION BY d.vec_id
      |      ORDER BY d.dot / (sqrt(na.norm) * sqrt(nb.norm)) DESC,
      |        d.neighbor_id) AS rank
      |  FROM dots d
      |  JOIN norms na ON d.vec_id = na.vec_id
      |  JOIN norms nb ON d.neighbor_id = nb.vec_id)
      |SELECT vec_id, rank, neighbor_id, ROUND(cosine, 6) AS cosine
      |FROM scored WHERE rank <= $topK ORDER BY vec_id, rank""".stripMargin

  // ---- sim_pca_power: exact unrolled power iteration -----------------
  // The leading principal direction of the embedding column (von
  // Mises power iteration) — what sim_vector_health's per-dim
  // variance can't see: a dominant CORRELATED direction (an "anisotropy
  // spike" from a batch-effect or a degenerate encoder — Mu & Viswanath
  // 2018 show top-component removal is even a quality post-process).
  // v_{r+1} ∝ Σ_i e_i (e_i · v_r), six rounds from the all-ones
  // start, every step exact integer work: scores Σ e·v on dec_quant's
  // scale-8 longs (≤ 6.4e15, int64-safe), rescaled to score/1e8 via
  // the SIGN-SAFE half-up contract; the back-projection Σ s·e runs in
  // DECIMAL(38,0)/HUGEINT (≈3e19 at sf0.1 — past int64); each round
  // renormalizes to ∞-norm 10⁶ micro-units with one sign-safe
  // division by the broadcast max — so the oracle unrolls all six
  // rounds as CTEs and the hash gate verifies the whole trajectory
  // (sim_kmeans' posture). `growth` = micro ratio of successive
  // norms, the classic power-iteration eigenvalue estimate — its
  // convergence to a constant is the dominance readout.
  // Scale: the terms frame (64 narrow rows per vector) checkpoints
  // once; each round is two equi-joins against 64-row / corpus-keyed
  // frames with map-side-combined aggs — 6 rounds = 12 bounded jobs,
  // nothing driver-side but the 64-row weight frame.
  private val pcaRounds = 6

  private def simPcaPower(spark: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    // loop-invariant corpus side: hash(vec_id)-partitioned BEFORE the
    // lazy cache (r16, guide §2.4) — the InMemoryRelation keeps the
    // partitioning, so BOTH per-round corpus aggs/joins (the score
    // groupBy(vec_id) and the back-projection join on vec_id) run
    // exchange-free every round; the former eager stage re-entered as
    // UnknownPartitioning and re-exchanged ~2 corpus-sized frames per
    // round × 6 rounds. One repartition at build replaces all of them.
    val terms = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        posexplode(quantized(col("embedding"))).as(Seq("d", "e")))
      .repartition(col("vec_id"))
      .transform(Ckpt.cache)
    var v = spark.range(64).select(col("id").cast("int").as("d"),
      lit(1000000L).as("v"))
    var mxPrev: DataFrame = null
    var mxCur: DataFrame = null
    for (_ <- 1 to pcaRounds) {
      // v is 64 rows at ANY scale (dim-bounded) but rides a staged
      // scan with no stats — broadcast explicitly
      val s = terms.join(broadcast(v), Seq("d"))
        .groupBy("vec_id").agg(sum(col("e") * col("v")).as("sc"))
        .select(col("vec_id"), expr(
          """case when sc >= 0 then (2 * sc + 100000000L) div 200000000L
            | else -((2 * (-sc) + 100000000L) div 200000000L) end"""
            .stripMargin).as("s"))
      // only `w` stages per round (r15): `mxCur` (1 row) and `v` (64
      // rows) are constant-depth derivations over the staged w, so
      // materializing them bought nothing but 2 extra jobs per round
      // (19 staging jobs → 7 across the 6 rounds)
      val w = terms.join(s, Seq("vec_id"))
        .groupBy("d")
        .agg(sum(col("s").cast(d38) * col("e").cast(d38)).as("w"))
        .transform(Ckpt.stage)
      mxPrev = mxCur
      mxCur = w.agg(max(abs(col("w"))).as("mx"))
      v = w.crossJoin(broadcast(mxCur))
        .select(col("d"), expr(
          """cast(case when w >= 0
            |  then (2 * 1000000 * w + mx) div (2 * mx)
            |  else -((2 * 1000000 * (-w) + mx) div (2 * mx))
            |end as long)""".stripMargin).as("v"))
    }
    val growth = mxCur.crossJoin(broadcast(
        mxPrev.select(col("mx").as("mx_prev"))))
      .select(expr("cast((2 * 1000000 * mx + mx_prev) div (2 * mx_prev)" +
        " as long)").as("growth_micro"))
    v.crossJoin(broadcast(growth))
      .select(col("d").cast("long").as("dim"), col("v").as("v_micro"),
        (col("v").cast("double") / 1000000L).as("loading"),
        (col("growth_micro").cast("double") / 1000000L).as("growth"))
      .orderBy("dim")
  }

  private val simPcaPowerSql: String = {
    def round(r: Int) = {
      def signDiv(num: String, den: String) =
        s"""CASE WHEN $num >= 0 THEN (2 * ($num) + $den) // (2 * ($den))
           |  ELSE -((2 * (-($num)) + $den) // (2 * ($den))) END"""
          .stripMargin
      s"""s$r AS MATERIALIZED (
        |  SELECT vec_id, CAST(${signDiv("sc", "100000000")} AS BIGINT)
        |    AS s
        |  FROM (SELECT t.vec_id, SUM(t.e * v.v) AS sc
        |    FROM terms t JOIN v${r - 1} v ON t.d = v.d GROUP BY 1) x),
        |w$r AS MATERIALIZED (
        |  SELECT t.d, SUM(CAST(s.s AS HUGEINT) * t.e) AS w
        |  FROM terms t JOIN s$r s ON t.vec_id = s.vec_id GROUP BY 1),
        |n$r AS (SELECT MAX(abs(w)) AS mx FROM w$r),
        |v$r AS MATERIALIZED (
        |  SELECT d, CAST(${signDiv("1000000 * w", "mx")} AS BIGINT) AS v
        |  FROM w$r, n$r)""".stripMargin
    }
    s"""WITH terms AS MATERIALIZED (
      |  SELECT vec_id, i - 1 AS d,
      |    CAST(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(12,8))
      |      * 100000000 AS BIGINT) AS e
      |  FROM embeddings, range(1, 65) r(i)),
      |v0 AS (SELECT CAST(d AS INT) AS d, CAST(1000000 AS BIGINT) AS v
      |  FROM range(0, 64) t(d)),
      |${(1 to pcaRounds).map(round).mkString(",\n")},
      |growth AS (
      |  SELECT CAST((2 * 1000000 * a.mx + b.mx) // (2 * b.mx) AS BIGINT)
      |    AS growth_micro
      |  FROM n$pcaRounds a, n${pcaRounds - 1} b)
      |SELECT CAST(d AS BIGINT) AS dim, v AS v_micro,
      |  CAST(v AS DOUBLE) / 1000000 AS loading,
      |  CAST(growth_micro AS DOUBLE) / 1000000 AS growth
      |FROM v$pcaRounds, growth ORDER BY dim""".stripMargin
  }

  override val ops: Seq[Op] = Seq(
    Op("sim_topk_exact", simTopkExact, Some(simTopkExactSql)),
    Op("sim_ann_lsh", simAnnLsh, Some(simAnnLshSql)),
    Op("sim_recall_report", simRecallReport, Some(simRecallReportSql)),
    Op("sim_range_search", simRangeSearch, Some(simRangeSearchSql)),
    Op("sim_centroids", simCentroids, Some(simCentroidsSql)),
    Op("sim_ivf_topk", simIvfTopk, Some(simIvfTopkSql)),
    Op("sim_pq_topk", simPqTopk, Some(simPqTopkSql)),
    Op("sim_kmeans", simKmeans, Some(simKmeansSql)),
    Op("sim_ivf_kmeans", simIvfKmeans, Some(simIvfKmeansSql)),
    Op("sim_ivfpq", simIvfpq, Some(simIvfpqSql)),
    Op("sim_silhouette", simSilhouette, Some(simSilhouetteSql)),
    Op("sim_hard_negatives", simHardNegatives, Some(simHardNegativesSql)),
    Op("sim_mmr", simMmr, Some(simMmrSql)),
    Op("sim_vector_health", simVectorHealth, Some(simVectorHealthSql)),
    Op("sim_knn_graph", simKnnGraph, Some(simKnnGraphSql)),
    Op("sim_pca_power", simPcaPower, Some(simPcaPowerSql)),
  )
}
