package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Corpus-curation composites (SURVEY §H) — the end-to-end shapes an
  * LLM training-data pipeline actually runs over `documents`,
  * composed from the §D/§E primitives so the single-op semantics and
  * the pipeline semantics can never drift.
  *
  * Scale design: every stage is the already-audited distributed op —
  * quality is a map-only pass, exact-dup keep is one hash
  * aggregation, the near-dup drop-list is the blocked co-occurrence
  * join, sampling is a per-row hash, budgeting is one window per
  * group. The composition adds only semi/anti equi-joins on doc_id
  * (shuffle-partitioned, no new quadratic stage).
  */
object PipelineOps extends Suite {

  // ---- pipe_curate: quality gate → exact-dup keep → near-dup drop ---
  // The canonical curation funnel:
  //  1. keep docs with quality ≥ 0.45 (txt_quality's exact score);
  //  2. exact dups: keep only the min doc_id of each md5(text) group;
  //  3. near-dups: drop the b-side (larger doc_id) of every
  //     jaccard ≥ 0.5 pair — the smallest member of a dup cluster
  //     survives through the a_id < b_id orientation.
  // Steps 2 and 3 run on the FULL corpus (dup identity is a property
  // of content, not of the quality-gated subset) — the gates then
  // intersect, so the result is order-independent and deterministic.
  private val qualityFloor = 0.45

  private def pipeCurate(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextOps.qualityScored(spark, dir)
      .select("doc_id", "lang", "n_tokens", "quality")
    val exactKeep = Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val nearDrop = DedupOps.jaccardPairs(spark, dir)
      .select(col("b_id").as("doc_id")).distinct()
    scored.filter(col("quality") >= qualityFloor)
      .join(exactKeep, Seq("doc_id"), "left_semi")
      .join(nearDrop, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  private val pipeCurateSql =
    s"""WITH scored AS (${TextOps.qualityScoredSql}),
      |exact_keep AS (
      |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      |near_drop AS (
      |  SELECT DISTINCT b_id AS doc_id FROM (${DedupOps.jaccardPairsSql}) p)
      |SELECT doc_id, lang, n_tokens, quality FROM scored
      |WHERE quality >= $qualityFloor
      |  AND doc_id IN (SELECT doc_id FROM exact_keep)
      |  AND doc_id NOT IN (SELECT doc_id FROM near_drop)
      |ORDER BY doc_id""".stripMargin

  // ---- pipe_sample: deterministic stratified hash sampling ----------
  // Reproducible training subsets: keep a doc iff its multiplicative
  // hash bucket (Knuth 1998 §6.4, golden-ratio constant) falls under
  // the per-language rate — integer arithmetic only, so any engine
  // reproduces the same subset with no RNG state. en is downsampled
  // to 20%, everything else kept at 60% (the usual "rebalance the
  // dominant language" mixture move). doc_id is reduced mod a prime
  // FIRST so the product stays ≪ int64 for every possible doc_id
  // (Spark with ANSI off would wrap silently; DuckDB would error —
  // the reduction keeps both engines in exact territory).
  private val hashBucket =
    ((col("doc_id") % 1000003L) * lit(2654435761L)) % 1000

  private def pipeSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), hashBucket.as("bucket"))
      .filter(col("bucket") <
        when(col("lang") === "en", lit(200)).otherwise(lit(600)))
      .orderBy("doc_id")

  private val pipeSampleSql =
    """SELECT doc_id, lang, ((doc_id % 1000003) * 2654435761) % 1000 AS bucket
      |FROM documents
      |WHERE ((doc_id % 1000003) * 2654435761) % 1000 <
      |  CASE WHEN lang = 'en' THEN 200 ELSE 600 END
      |ORDER BY doc_id""".stripMargin

  // ---- pipe_token_budget: per-language token budget -----------------
  // Mixture construction: within each language, admit documents in
  // (quality DESC, doc_id) order while the running token total stays
  // within the budget — one window per group, no driver loop. Docs
  // are ranked on the exact decimal-derived quality (bit-identical
  // cross-engine, so the order and therefore the cut is too).
  private val tokenBudget = 2000L

  private def pipeTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang")
      .orderBy(desc("quality"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    TextOps.qualityScored(spark, dir)
      .select("doc_id", "lang", "n_tokens", "quality")
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= tokenBudget)
      .orderBy("lang", "cum_tokens")
  }

  private val pipeTokenBudgetSql =
    s"""WITH scored AS (${TextOps.qualityScoredSql})
      |SELECT doc_id, lang, n_tokens, quality, cum_tokens FROM (
      |  SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY lang
      |    ORDER BY quality DESC, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_tokens
      |  FROM scored) x
      |WHERE cum_tokens <= $tokenBudget
      |ORDER BY lang, cum_tokens""".stripMargin

  // ---- pipe_dup_clusters: connected components over dup pairs -------
  // The canonical form of "drop the b-side of each pair" done right:
  // exact-dup and near-dup pairs form an undirected graph; a dup
  // CLUSTER is a connected component, and the keeper is the minimum
  // doc_id in the component (a→b→c chains collapse to one keeper even
  // when (a,c) was never compared). The graph is the pair set, not the
  // corpus (sf0.01: 6 pairs touching 12 docs; sf0.1: 85 pairs, 163 of
  // 5,000 docs; no cluster over 3 docs), so the pairs coalesce into ONE
  // task running a union-find kernel ([[components]]) that labels every
  // component in one pass, whatever its diameter. Its memory is one
  // LongMap entry per touched doc; the map is broadcast to a lookup
  // over documents (an untouched doc is its own cluster), and the
  // result is staged once for the four §H consumers (dup_clusters,
  // curate_cc, split, funnel_report) through Memo.clusterLabels.
  // A lookup, not a broadcast left join: the staged frame keeps its
  // plan's size estimate, and a left outer join's is the product of its
  // sides (70.8 TiB at sf0.001), which turns the consumers' joins into
  // shuffle joins.
  private def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    Memo(Memo.clusterLabels, spark, dir)(computeClusterLabels(spark, dir))

  private[graft] def invalidateClusterMemo(): Unit = Memo.clear(Memo.clusterLabels)

  private def computeClusterLabels(spark: SparkSession, dir: String): DataFrame = {
    val exactPairs = Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("a_id"), collect_set(col("doc_id")).as("ids"))
      .select(col("a_id"), explode(col("ids")).as("b_id"))
      .filter(col("a_id") < col("b_id"))
    val nearPairs = DedupOps.jaccardPairs(spark, dir).select("a_id", "b_id")
    labelClusters(Tables.documents(spark, dir).select("doc_id"),
      exactPairs.union(nearPairs))
  }

  /** (doc_id, cluster_id, is_keeper) for every doc of `docs`, given the
    * dup pairs (a_id, b_id): [[components]] in one task over the pairs
    * ([[Ckpt.small]]; a pair with a NULL end is dropped), its labels
    * broadcast to a lookup over the docs, staged. */
  private[operators] def labelClusters(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val labels = spark.sparkContext.broadcast(scala.collection.mutable.LongMap.from(
      Ckpt.small(pairs) { edges: Iterator[(Option[Long], Option[Long])] =>
        components(edges.collect { case (Some(u), Some(v)) => (u, v) })
      }.collect()))
    val clusterOf = udf((doc: Long) => labels.value.getOrElse(doc, doc))
    try docs.select(col("doc_id"), clusterOf(col("doc_id")).as("cluster_id"))
      .withColumn("is_keeper", col("doc_id") === col("cluster_id"))
      .transform(Ckpt.stage)
    finally labels.destroy()
  }

  /** Every doc an edge touches, with the minimum doc_id of its
    * connected component: union-find with path compression over a
    * LongMap, where the smaller root always wins a union, so each root
    * is its component's minimum. */
  private[operators] def components(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var y = x
      while (y != root) { val next = parent(y); parent(y) = root; y = next }
      root
    }
    edges.foreach { case (u, v) =>
      parent.getOrElseUpdate(u, u)
      parent.getOrElseUpdate(v, v)
      val (ru, rv) = (find(u), find(v))
      if (ru < rv) parent(rv) = ru else if (rv < ru) parent(ru) = rv
    }
    parent.keys.toArray.iterator.map(x => (x, find(x)))
  }

  private def pipeDupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir).orderBy("doc_id")

  // MATERIALIZED is load-bearing: DuckDB re-executes a plain CTE per
  // REFERENCE (and per recursive iteration for CTEs used in the
  // recursive term) — `near` wraps the expensive jaccard pair query
  // and `edges` is referenced every iteration of `reach`, so without
  // materialization this oracle multiplies a ~2-minute subquery by
  // 2× references × O(diameter) iterations at sf0.1.
  private val pipeDupClustersSql =
    s"""WITH RECURSIVE near AS MATERIALIZED (SELECT a_id, b_id FROM (${DedupOps.jaccardPairsSql}) j),
      |exact AS MATERIALIZED (
      |  SELECT MIN(doc_id) OVER w AS a_id, doc_id AS b_id
      |  FROM documents
      |  WINDOW w AS (PARTITION BY md5(text))),
      |edges AS MATERIALIZED (
      |  SELECT a_id AS u, b_id AS v FROM exact WHERE a_id < b_id
      |  UNION SELECT b_id, a_id FROM exact WHERE a_id < b_id
      |  UNION SELECT a_id, b_id FROM near
      |  UNION SELECT b_id, a_id FROM near),
      |reach(doc_id, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.u, r.lbl FROM reach r JOIN edges e ON e.v = r.doc_id)
      |SELECT doc_id, MIN(lbl) AS cluster_id,
      |  doc_id = MIN(lbl) AS is_keeper
      |FROM reach GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---- pipe_curate_cc: curation with cluster-keeper drop-list -------
  // pipe_curate's near-drop removes the b-side of every PAIR, which is
  // only correct when dup relations are complete; on a—b—c chains the
  // pair list may over- or under-drop relative to the intended "one
  // survivor per dup cluster". The connected-component keeper set IS
  // that semantic (and subsumes the exact-dup keep: exact groups are
  // edges, so only each cluster's min doc_id survives) — so the
  // correct funnel is quality gate ∩ cluster keepers, composed from
  // the two audited ops. Costs the same cluster labels plus one semi
  // join on doc_id.
  private def pipeCurateCc(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextOps.qualityScored(spark, dir)
      .select("doc_id", "lang", "n_tokens", "quality")
    val keepers = clusterLabels(spark, dir)
      .filter(col("is_keeper")).select("doc_id")
    scored.filter(col("quality") >= qualityFloor)
      .join(keepers, Seq("doc_id"), "left_semi")
      .orderBy("doc_id")
  }

  private val pipeCurateCcSql =
    s"""WITH scored AS (${TextOps.qualityScoredSql}),
      |clusters AS ($pipeDupClustersSql)
      |SELECT doc_id, lang, n_tokens, quality FROM scored
      |WHERE quality >= $qualityFloor
      |  AND doc_id IN (SELECT doc_id FROM clusters WHERE is_keeper)
      |ORDER BY doc_id""".stripMargin

  // ---- pipe_split: leakage-safe train/validation split --------------
  // Hash-splitting DOCUMENTS leaks: a near-duplicate pair lands on
  // both sides and the eval set scores memorization. The correct unit
  // of assignment is the dup CLUSTER — every member inherits the
  // split of its cluster_id, so no two (near-)duplicates can ever
  // straddle the boundary. The bucket is the first md5 byte of the
  // cluster id (content-stable, engine-portable: md5 of the decimal
  // string is bit-identical in Spark and DuckDB; the byte decodes via
  // hex-nibble positions — no conv() on the DuckDB side). val =
  // bucket < 26 (~10%). Cost = the cluster labels + a map-only pass.
  private val valBuckets = 26 // of 256 ≈ 10% eval slice

  private def pipeSplit(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir).select("doc_id", "cluster_id")
      .withColumn("bucket",
        conv(substring(md5(col("cluster_id").cast("string")), 1, 2), 16, 10)
          .cast("long"))
      .withColumn("split",
        when(col("bucket") < valBuckets, "val").otherwise("train"))
      .orderBy("doc_id")

  private val pipeSplitSql =
    s"""WITH clusters AS ($pipeDupClustersSql),
      |h AS (
      |  SELECT doc_id, cluster_id,
      |    (strpos('0123456789abcdef',
      |       substr(md5(CAST(cluster_id AS VARCHAR)), 1, 1)) - 1) * 16 +
      |    strpos('0123456789abcdef',
      |       substr(md5(CAST(cluster_id AS VARCHAR)), 2, 1)) - 1 AS bucket
      |  FROM clusters)
      |SELECT doc_id, cluster_id, bucket,
      |  CASE WHEN bucket < $valBuckets THEN 'val' ELSE 'train' END AS split
      |FROM h ORDER BY doc_id""".stripMargin

  // ---- pipe_shard_manifest: deterministic export sharding -----------
  // The export step of a curation pipeline: assign every document a
  // stable shard by content-independent hash (pipe_split's md5-byte
  // mechanism on doc_id — re-runs and backfills land each doc in the
  // SAME shard regardless of cluster layout or input order) and emit
  // the per-shard manifest a training loader consumes: doc count,
  // token count, byte count, and an order-insensitive content
  // fingerprint (md5 of the sorted id list) that lets an auditor
  // verify a delivered shard file against the manifest without
  // re-reading the corpus. At 100 TB this frame is the by-product of
  // `df.repartition(col("shard")).write` — one hash shuffle; the
  // manifest agg itself shuffles only (shard, counters) rows.
  private val nShards = 8

  private def pipeShardManifest(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), size(Tok.toks).cast("long").as("n_toks"),
        col("n_chars"))
      .withColumn("shard",
        conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("long") % nShards)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        md5(array_join(transform(sort_array(collect_list(col("doc_id"))),
          _.cast("string")), ",")).as("ids_fp"))
      .orderBy("shard")

  private val pipeShardManifestSql =
    s"""WITH d AS (
      |  SELECT doc_id, CAST(len(${Tok.toksSql}) AS BIGINT) AS n_toks,
      |    n_chars,
      |    ((strpos('0123456789abcdef',
      |        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 +
      |      strpos('0123456789abcdef',
      |        substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) % $nShards
      |      AS shard
      |  FROM documents)
      |SELECT shard, COUNT(*) AS n_docs,
      |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
      |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
      |    AS ids_fp
      |FROM d GROUP BY shard ORDER BY shard""".stripMargin

  // ---- pipe_decontaminate: benchmark-overlap flagging ---------------
  // Test-set decontamination: a corpus document is contaminated if it
  // shares ≥ 8 distinct 3-gram shingles with any benchmark document
  // (docs with doc_id < 10 stand in for the held-out set). The shape
  // differs from the dedup self-joins: the benchmark side is TINY and
  // broadcasts, so the corpus streams through one map-side hash join
  // on the shingle hash — no shuffle of corpus shingles at any scale,
  // the canonical "scan 100 TB against a fixed contamination list"
  // plan.
  private val contamMinShared = 8
  private val benchDocs = 10

  private def pipeDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val shingled = Tables.documents(spark, dir)
      .select(col("doc_id"), Tok.toks.as("t"))
      .select(col("doc_id"), expr("shingle_hash3(t)").as("s"))
    val corpus = shingled.filter(col("doc_id") >= benchDocs)
      .select(col("doc_id"), explode(col("s")).as("h"))
    val bench = shingled.filter(col("doc_id") < benchDocs)
      .select(col("doc_id").as("bench_id"), explode(col("s")).as("h"))
    corpus.join(broadcast(bench), Seq("h"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= contamMinShared)
      .orderBy("doc_id", "bench_id")
  }

  private val pipeDecontaminateSql = {
    import DedupOps.shinglesSqlExpr
    s"""WITH sh AS (
      |  SELECT doc_id, $shinglesSqlExpr AS s
      |  FROM (SELECT doc_id, ${Tok.toksSql} AS t FROM documents) x)
      |SELECT c.doc_id, b.doc_id AS bench_id,
      |  CAST(len(list_intersect(c.s, b.s)) AS BIGINT) AS n_shared
      |FROM sh c JOIN sh b ON b.doc_id < $benchDocs AND c.doc_id >= $benchDocs
      |WHERE len(list_intersect(c.s, b.s)) >= $contamMinShared
      |ORDER BY c.doc_id, bench_id""".stripMargin
  }

  // ---- pipe_bloom_decontaminate: sketch-prefiltered decontamination -
  // The same contract as pipe_decontaminate with the 100 TB middle
  // stage made real: the benchmark's shingle hashes fold into a Bloom
  // filter (Bloom 1970) via a DISTRIBUTED mergeable-sketch aggregate
  // (`df.stat.bloomFilter` — partial filters OR-merge; only the
  // KB-sized sketch ever reaches the driver), which then broadcasts
  // as a corpus-side prefilter. Where the exact op relies on
  // broadcasting the bench shingles into the join probe, the bloom
  // form matters when the contamination list outgrows a broadcast
  // hash table: the shuffle then carries only the ~fpp fraction of
  // corpus shingles that might match, instead of all of them.
  // Correctness is NOT probabilistic: Bloom filters have no false
  // negatives, and survivors go through the exact shared-shingle
  // verify — so the output is bit-identical to pipe_decontaminate
  // and the driver hash-checks it against the SAME exact oracle.
  // The probe is Spark's own codegen'd BloomFilterMightContain
  // (surfaced by GraftExtensions — the expression Spark uses for its
  // runtime row filters, kept off the public registry): the sketch
  // bytes collect once (the MODEL, never data — ~100 KB at these
  // parameters) and ride the probe as a binary literal inside
  // whole-stage codegen, replacing the former scala-UDF-over-
  // broadcast-object hop entirely.
  private val bloomItems = 1L << 16 // generous for the 10-doc bench
  private val bloomBits = 1L << 20 // ≈ fpp 0.01 at bloomItems

  private def pipeBloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val shingled = Tables.documents(spark, dir)
      .select(col("doc_id"), Tok.toks.as("t"))
      .select(col("doc_id"), expr("shingle_hash3(t)").as("s"))
    val bench = shingled.filter(col("doc_id") < benchDocs)
      .select(col("doc_id").as("bench_id"), explode(col("s")).as("h"))
    // a real run sizes from a count of the contamination list
    val bfBytes = bench
      .agg(call_function("bloom_filter_agg", col("h"),
        lit(bloomItems), lit(bloomBits)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val corpus = shingled.filter(col("doc_id") >= benchDocs)
      .select(col("doc_id"), explode(col("s")).as("h"))
      .filter(call_function("might_contain", lit(bfBytes), col("h")))
    corpus.join(broadcast(bench), Seq("h"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= contamMinShared)
      .orderBy("doc_id", "bench_id")
  }

  // ---- pipe_incremental_dedup: new batch vs historical corpus -------
  // The daily-ingest dedup shape: curation doesn't re-dedup 100 TB
  // per crawl — it checks the NEW slice against the standing index.
  // The new batch here is doc_id ≡ 4 (mod 5) (a deterministic 20%
  // standing in for today's crawl); each new doc classifies as
  //   exact  — md5(text) already in the historical corpus,
  //   near   — blocked shingle-jaccard ≥ 0.5 with a historical doc,
  //   unique — neither; match_id = the matched historical doc.
  // Scale shape is the point: the NEW side is the small side
  // everywhere. Exact: historical fingerprints SEMI-JOIN against the
  // broadcast new-batch digest set BEFORE aggregating, so only
  // matching groups aggregate. Near: the historical shingle stream
  // joins the broadcast new-side shingles map-side; only candidate
  // pairs (sharing a shingle, same (lang, band) block, size-ratio
  // pruned) shuffle. The 100 TB corpus is read once, never
  // re-shuffled, and nothing scales with corpus × batch.
  private def pipeIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val isNew = pmod(col("doc_id"), lit(5)) === 4
    val docs = Tables.documents(spark, dir)
    val fp = docs.select(col("doc_id"), md5(col("text")).as("fp"))
    val sh = DedupOps.hashedShingles(spark, dir)
      .select(col("doc_id"), col("lang"), col("band"),
        size(col("s")).as("n"), explode(col("s")).as("h"))
    incrementalDedupCore(
      newIds = docs.filter(isNew).select("doc_id"),
      newFp = fp.filter(isNew), histFp = fp.filter(!isNew),
      shNew = sh.filter(isNew), shHist = sh.filter(!isNew))
  }

  /** The exact/near/unique classification core of
    * pipe_incremental_dedup, parameterized by FRAMES instead of the
    * documents table's mod-5 split (VERDICT r13 item 7): the same
    * plan classifies a lakehouse change-feed delta against a
    * maintained corpus (LakehouseCurationSpec) and the registered
    * query's deterministic 20% slice. `*Fp` are (doc_id, fp) digests,
    * `sh*` exploded shingle frames (doc_id, lang, band, n, h),
    * `newIds` the (doc_id) universe to classify. The scale shape is
    * unchanged: the NEW side broadcasts everywhere, the corpus is
    * read once and never re-shuffled. */
  private[operators] def incrementalDedupCore(newIds: DataFrame,
      newFp: DataFrame, histFp: DataFrame,
      shNew: DataFrame, shHist: DataFrame): DataFrame = {
    val exact = histFp
      .join(broadcast(newFp.select("fp").distinct()), Seq("fp"), "leftsemi")
      .groupBy("fp").agg(min(col("doc_id")).as("exact_id"))
      .join(newFp, Seq("fp"))
      .select(col("doc_id"), col("exact_id"))
    val a = shHist.select(col("h"), col("lang"), col("band"),
      col("doc_id").as("a_id"), col("n").as("na"))
    val b = shNew.select(col("h"), col("lang"), col("band"),
      col("doc_id").as("b_id"), col("n").as("nb"))
    val near = a.join(broadcast(b), Seq("h", "lang", "band"))
      .filter(col("na") <= col("nb") * 2 && col("nb") <= col("na") * 2)
      .groupBy("a_id", "b_id", "na", "nb")
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")) >= 0.5)
      .groupBy(col("b_id").as("doc_id"))
      .agg(min(col("a_id")).as("near_id"))
    newIds.select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_id").isNotNull, "exact")
          .when(col("near_id").isNotNull, "near")
          .otherwise("unique").as("status"),
        coalesce(col("exact_id"), col("near_id"), lit(-1L)).as("match_id"))
      .orderBy("doc_id")
  }

  /** [[incrementalDedupCore]] from raw corpus frames (doc_id, lang,
    * text) — the entry the lakehouse composition runs: `newDocs` is
    * today's change-feed delta, `hist` the standing corpus snapshot.
    * Shingle construction IS [[DedupOps.hashedShinglesOf]] — one
    * definition, so the table-bound query and this path block
    * identically. */
  def incrementalDedupFrames(newDocs: DataFrame, hist: DataFrame): DataFrame = {
    def fp(df: DataFrame) = df.select(col("doc_id"), md5(col("text")).as("fp"))
    def sh(df: DataFrame) = DedupOps.hashedShinglesOf(df)
      .select(col("doc_id"), col("lang"), col("band"),
        size(col("s")).as("n"), explode(col("s")).as("h"))
    incrementalDedupCore(newDocs.select("doc_id"),
      fp(newDocs), fp(hist), sh(newDocs), sh(hist))
  }

  private val pipeIncrementalDedupSql = {
    import DedupOps.shinglesSqlExpr
    s"""WITH d AS (
      |  SELECT doc_id, lang, text, ${Tok.toksSql} AS t FROM documents),
      |ex AS (
      |  SELECT n.doc_id, MIN(h.doc_id) AS exact_id
      |  FROM d n JOIN d h ON h.doc_id % 5 <> 4 AND md5(h.text) = md5(n.text)
      |  WHERE n.doc_id % 5 = 4 GROUP BY 1),
      |sh AS (
      |  SELECT doc_id, lang, CAST(len(t) // 50 AS BIGINT) AS band,
      |    $shinglesSqlExpr AS s
      |  FROM d WHERE len(t) >= 3),
      |nr AS (
      |  SELECT b.doc_id, MIN(a.doc_id) AS near_id
      |  FROM sh b JOIN sh a ON a.doc_id % 5 <> 4
      |    AND a.lang = b.lang AND a.band = b.band
      |    AND len(a.s) <= len(b.s) * 2 AND len(b.s) <= len(a.s) * 2
      |  WHERE b.doc_id % 5 = 4
      |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |      len(list_distinct(list_concat(a.s, b.s))) >= 0.5
      |  GROUP BY 1)
      |SELECT d.doc_id,
      |  CASE WHEN ex.exact_id IS NOT NULL THEN 'exact'
      |       WHEN nr.near_id IS NOT NULL THEN 'near'
      |       ELSE 'unique' END AS status,
      |  COALESCE(ex.exact_id, nr.near_id, -1) AS match_id
      |FROM d LEFT JOIN ex ON ex.doc_id = d.doc_id
      |LEFT JOIN nr ON nr.doc_id = d.doc_id
      |WHERE d.doc_id % 5 = 4
      |ORDER BY d.doc_id""".stripMargin
  }

  // ---- pipe_threshold_sweep: quality-gate sensitivity curve ---------
  // The tuning curve read before fixing pipe_curate's floor: surviving
  // doc and token counts at each candidate quality threshold. ONE
  // aggregate pass computes all 9 thresholds as conditional sums
  // (never 9 scans), and the 1-row wide result explodes to a row per
  // threshold, q_profile-style. Shares remain exact integer ratios
  // divided once. The quality column is the exact decimal-derived
  // double (bit-identical cross-engine), and thresholds are the same
  // double literals in both engines, so each cut is deterministic.
  private val sweepThresholds = (30 to 70 by 5).map(_ / 100.0)

  private def pipeThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextOps.qualityScored(spark, dir)
      .select("doc_id", "n_tokens", "quality")
    val aggs = count(lit(1)).as("all_docs") +:
      sum(col("n_tokens")).as("all_tokens") +:
      sweepThresholds.zipWithIndex.flatMap { case (t, i) =>
        Seq(sum(when(col("quality") >= t, 1L).otherwise(0L)).as(s"d$i"),
          sum(when(col("quality") >= t, col("n_tokens")).otherwise(0L))
            .as(s"t$i"))
      }
    val one = scored.agg(aggs.head, aggs.tail: _*)
    one.select(explode(array(sweepThresholds.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("threshold"),
          col(s"d$i").cast("long").as("n_docs"),
          col(s"t$i").cast("long").as("n_tokens"),
          round(col(s"d$i").cast("double") / col("all_docs"), 6)
            .as("doc_frac"),
          round(col(s"t$i").cast("double") / col("all_tokens"), 6)
            .as("token_frac"))
      }: _*)).as("r"))
      .select("r.*")
      .orderBy("threshold")
  }

  private val pipeThresholdSweepSql = {
    val rows = sweepThresholds.map { t =>
      s"""SELECT CAST($t AS DOUBLE) AS threshold,
        |  CAST(SUM(CASE WHEN quality >= $t THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs,
        |  CAST(SUM(CASE WHEN quality >= $t THEN n_tokens ELSE 0 END)
        |    AS BIGINT) AS n_tokens,
        |  ROUND(CAST(SUM(CASE WHEN quality >= $t THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*), 6) AS doc_frac,
        |  ROUND(CAST(SUM(CASE WHEN quality >= $t THEN n_tokens ELSE 0 END)
        |    AS DOUBLE) / CAST(SUM(n_tokens) AS BIGINT), 6) AS token_frac
        |FROM scored""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH scored AS (${TextOps.qualityScoredSql})
      |$rows
      |ORDER BY threshold""".stripMargin
  }

  // ---- pipe_dedup_report: dedup-method overlap matrix ---------------
  // The QA report a curation team reads before picking thresholds:
  // how many pairs each dedup method flags and how the pair sets
  // overlap. Methods = the three oracle-exact pair generators (exact
  // md5, blocked jaccard ≥ 0.5, containment ≥ 0.9), pairs normalized
  // to unordered (a_id < b_id). Output = the symmetric count matrix
  // as (method_a ≤ method_b, n_pairs) rows — diagonal is a method's
  // own count, off-diagonal the intersection.
  // Scale: pair frames are dup-sized (orders of magnitude below the
  // corpus); each matrix cell is an equi-join + count on (a_id,
  // b_id). Exact pairs materialize per md5 group — group fanout is
  // C(n,2), bounded by real dup-group sizes (the min-keeper form in
  // dedup_exact is the aggregate-only alternative when groups can be
  // pathological).
  private def pipeDedupReport(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), md5(col("text")).as("fp"))
    val exact = d.as("a").join(d.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
    val jac = DedupOps.jaccardPairs(spark, dir).select("a_id", "b_id")
    val cont = DedupOps.containmentPairs(spark, dir)
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
    // ONE aggregation computes the whole matrix (r16, guide §2.4):
    // every method emits an unordered pair AT MOST ONCE (exact: one
    // row per fp-group pair; jaccard/containment: groupBy'd), so
    // summing distinct power-of-two tags per (a_id, b_id) yields an
    // exact membership mask, and each matrix cell |A∩B| (diagonal
    // |A|) is a conditional count over the mask — the former 3
    // persisted pair frames + 6 per-cell join/agg actions collapse
    // into one union + one pair-keyed agg + a 1-row agg; the
    // pairwise-join exchanges disappear. explodedShingles still
    // feeds the jaccard AND containment branches once (its persist).
    val bits = Seq("containment" -> 1, "exact" -> 2, "jaccard" -> 4)
    val tagged = cont.select(col("a_id"), col("b_id"), lit(1).as("m"))
      .unionAll(exact.select(col("a_id"), col("b_id"), lit(2).as("m")))
      .unionAll(jac.select(col("a_id"), col("b_id"), lit(4).as("m")))
    val masks = tagged.groupBy("a_id", "b_id").agg(sum(col("m")).as("mask"))
    val cellDefs = for {
      (na, ba) <- bits; (nb, bb) <- bits if na <= nb
    } yield (na, nb, ba | bb)
    val aggs = cellDefs.zipWithIndex.map { case ((_, _, m), i) =>
      sum(when(col("mask").bitwiseAND(lit(m)) === m, 1L).otherwise(0L))
        .as(s"c$i")
    }
    masks.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cellDefs.zipWithIndex.map { case ((na, nb, _), i) =>
        struct(lit(na).as("method_a"), lit(nb).as("method_b"),
          coalesce(col(s"c$i"), lit(0L)).as("n_pairs"))
      }: _*)).as("r"))
      .select("r.*")
      .orderBy("method_a", "method_b")
  }

  private val pipeDedupReportSql = {
    val cells = Seq(
      ("containment", "containment", "SELECT COUNT(*) FROM jc"),
      ("containment", "exact",
        "SELECT COUNT(*) FROM jc JOIN je USING (a_id, b_id)"),
      ("containment", "jaccard",
        "SELECT COUNT(*) FROM jc JOIN jj USING (a_id, b_id)"),
      ("exact", "exact", "SELECT COUNT(*) FROM je"),
      ("exact", "jaccard",
        "SELECT COUNT(*) FROM je JOIN jj USING (a_id, b_id)"),
      ("jaccard", "jaccard", "SELECT COUNT(*) FROM jj"),
    ).map { case (a, b, q) =>
      s"SELECT '$a' AS method_a, '$b' AS method_b, ($q) AS n_pairs"
    }.mkString("\nUNION ALL\n")
    s"""WITH je AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM documents a
      |  JOIN documents b ON md5(a.text) = md5(b.text)
      |    AND a.doc_id < b.doc_id),
      |jj AS (SELECT a_id, b_id FROM (${DedupOps.jaccardPairsSql}) x),
      |jc AS (SELECT LEAST(a_id, b_id) AS a_id, GREATEST(a_id, b_id) AS b_id
      |  FROM (${DedupOps.dedupContainmentSql}) x)
      |$cells
      |ORDER BY method_a, method_b""".stripMargin
  }

  // ---- pipe_mix_report: corpus composition by source×lang×band ------
  // The data-mixture report every training run starts from: per
  // (source, language, quality band) document and token counts with
  // their share of the corpus. One hash aggregation over the scored
  // frame plus a broadcast 1-row total — the report stays a two-agg
  // plan at any corpus size. Shares divide exact BIGINT sums (DuckDB
  // sums BIGINT into HUGEINT, so the oracle re-casts — the audited
  // type-drift trap), and band edges compare the exact decimal-derived
  // quality against double literals, so the banding is deterministic.
  private val bandHigh = 0.6

  private def pipeMixReport(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextOps.qualityScored(spark, dir)
      .select("doc_id", "lang", "n_tokens", "quality")
    val src = Tables.documents(spark, dir).select("doc_id", "source")
    val band = when(col("quality") >= bandHigh, "high")
      .when(col("quality") >= qualityFloor, "mid")
      .otherwise("low")
    val g = scored.join(src, Seq("doc_id"))
      .groupBy(col("source"), col("lang"), band.as("band"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
    val tot = g.agg(sum(col("tokens")).as("total_tokens"),
      sum(col("n_docs")).as("total_docs"))
    g.crossJoin(broadcast(tot))
      .withColumn("token_share",
        round(col("tokens").cast("double") / col("total_tokens"), 6))
      .withColumn("doc_share",
        round(col("n_docs").cast("double") / col("total_docs"), 6))
      .select("source", "lang", "band", "n_docs", "tokens",
        "token_share", "doc_share")
      .orderBy("source", "lang", "band")
  }

  private val pipeMixReportSql =
    s"""WITH scored AS (${TextOps.qualityScoredSql}),
      |g AS (
      |  SELECT d.source, s.lang,
      |    CASE WHEN s.quality >= CAST($bandHigh AS DOUBLE) THEN 'high'
      |         WHEN s.quality >= CAST($qualityFloor AS DOUBLE) THEN 'mid'
      |         ELSE 'low' END AS band,
      |    COUNT(*) AS n_docs,
      |    CAST(SUM(s.n_tokens) AS BIGINT) AS tokens
      |  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
      |  GROUP BY 1, 2, 3)
      |SELECT source, lang, band, n_docs, tokens,
      |  ROUND(CAST(tokens AS DOUBLE) /
      |    (SELECT CAST(SUM(tokens) AS BIGINT) FROM g), 6) AS token_share,
      |  ROUND(CAST(n_docs AS DOUBLE) /
      |    (SELECT CAST(SUM(n_docs) AS BIGINT) FROM g), 6) AS doc_share
      |FROM g ORDER BY source, lang, band""".stripMargin

  // ---- pipe_temperature_mix: α-temperature source-mixture weights ---
  // The multilingual/multi-source sampling recipe (Conneau & Lample,
  // "Cross-lingual Language Model Pretraining", 2019 §3.1; also
  // GPT-3's dataset mixture): sampling weight w_s ∝ share_s^α with
  // α = 0.5 upweights the tail sources relative to their raw token
  // share. Output per source: raw token share, temperature weight,
  // and the expected token draw from a fixed budget.
  // Determinism: token counts are integer-exact; share_s is ONE
  // double division of exact integers; sqrt is a single
  // correctly-rounded IEEE op; the normalizer Σ√share is summed in
  // DECIMAL(18,12) (order-independent), so the final weight divides
  // two identical doubles in both engines. No FP accumulation.
  // Scale: per-source token totals are one map-side-combined agg; the
  // source list (thousands at most) then computes entirely on a
  // broadcast-size frame.
  private val mixBudget = 1000000L // tokens drawn from the mixture

  /** Per-group (n_tokens, share, weight) with UNROUNDED doubles for
    * any grouping column — shared by the weight report (source) and
    * the oversampler (lang) so consumers can't disagree on the
    * mixture math. */
  private def mixWeights(spark: SparkSession, dir: String,
      key: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val perSource = Tables.documents(spark, dir)
      .select(col(key), Tok.toks.as("t"))
      .groupBy(key).agg(sum(size(col("t")).cast("long")).as("n_tokens"))
    val total = perSource.agg(sum(col("n_tokens")).as("total"))
    val sq = perSource.crossJoin(broadcast(total))
      .withColumn("share", col("n_tokens").cast("double") /
        col("total").cast("double"))
      .withColumn("sqrt_share",
        sqrt(col("share")).cast(DecimalType(18, 12)))
    val norm = sq.agg(sum(col("sqrt_share")).as("norm"))
    sq.crossJoin(broadcast(norm))
      .withColumn("weight",
        col("sqrt_share").cast("double") / col("norm").cast("double"))
  }

  private def pipeTemperatureMix(spark: SparkSession, dir: String): DataFrame =
    mixWeights(spark, dir, "source")
      .select(col("source"), col("n_tokens"),
        round(col("share"), 6).as("share"),
        round(col("weight"), 6).as("weight"),
        floor(col("weight") * mixBudget).cast("long").as("token_draw"))
      .orderBy("source")

  /** CTE prefix shared by the weight report and oversampler oracles —
    * the SQL twin of [[mixWeights]], parametric in the grouping key. */
  private def mixWeightCtes(key: String) =
    s"""per_source AS (
      |  SELECT $key, CAST(SUM(len(t)) AS BIGINT) AS n_tokens
      |  FROM (SELECT $key, ${Tok.toksSql} AS t FROM documents) x
      |  GROUP BY $key),
      |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM per_source),
      |sq AS (
      |  SELECT $key, n_tokens,
      |    CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS share,
      |    CAST(sqrt(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE))
      |      AS DECIMAL(18,12)) AS sqrt_share
      |  FROM per_source, tot),
      |nrm AS (SELECT SUM(sqrt_share) AS norm FROM sq)""".stripMargin

  private val pipeTemperatureMixSql =
    s"""WITH ${mixWeightCtes("source")}
      |SELECT source, n_tokens,
      |  ROUND(share, 6) AS share,
      |  ROUND(CAST(sqrt_share AS DOUBLE) / CAST(norm AS DOUBLE), 6) AS weight,
      |  CAST(FLOOR(CAST(sqrt_share AS DOUBLE) / CAST(norm AS DOUBLE)
      |    * $mixBudget) AS BIGINT) AS token_draw
      |FROM sq, nrm ORDER BY source""".stripMargin

  // ---- pipe_oversample: epoch replication from mixture weights ------
  // Materializing the mixture: each language is repeated
  // E·weight/share ≈ n_copies times, where weight is its α=0.5
  // temperature weight and E=2 is the epoch budget — the "multiple
  // epochs over tail languages" move (tail langs land ~3 copies, the
  // dominant one 1). The factor frame is language-count-sized and
  // broadcasts; the corpus streams through one map-side join +
  // sequence-explode — the output IS the repeated dataset, so its
  // only exchange is the sort. Copy counts come from one double
  // divide + floor(x+0.5) with identical structure both engines.
  private val epochBudget = 2L

  private def pipeOversample(spark: SparkSession, dir: String): DataFrame = {
    val factors = mixWeights(spark, dir, "lang")
      .select(col("lang"), greatest(lit(1L),
        floor(lit(epochBudget) * (col("weight") / col("share")) + lit(0.5))
          .cast("long")).as("n_copies"))
    Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
      .join(broadcast(factors), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_copies"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy"))
      .orderBy("doc_id", "copy")
  }

  private val pipeOversampleSql =
    s"""WITH ${mixWeightCtes("lang")},
      |f AS (
      |  SELECT lang, GREATEST(CAST(1 AS BIGINT),
      |    CAST(FLOOR($epochBudget * ((CAST(sqrt_share AS DOUBLE)
      |        / CAST(norm AS DOUBLE)) / share) + 0.5) AS BIGINT))
      |      AS n_copies
      |  FROM sq, nrm)
      |SELECT doc_id, lang, n_copies,
      |  UNNEST(generate_series(1, n_copies)) AS copy
      |FROM documents JOIN f USING (lang)
      |ORDER BY doc_id, copy""".stripMargin

  // ---- pipe_funnel_report: per-stage curation loss accounting -------
  // The observability row every curation run reports: how many
  // documents and tokens survive each successive gate (scored →
  // quality floor → exact-dup keeper → cluster keeper). The stages
  // NEST (cc keepers ⊆ exact keepers: every exact group is inside a
  // component and only the component min survives), so the report is
  // a monotone funnel — the spec pins that.
  // Shape: the gates land as boolean flags on one pass over the
  // scored frame (two doc_id equi-joins), then ONE aggregate computes
  // all four stages' conditional sums and a 4-row stack unpivots —
  // no per-stage rescan of the corpus.
  private def pipeFunnelReport(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextOps.qualityScored(spark, dir)
      .select("doc_id", "n_tokens", "quality")
    val exactKeep = Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      .withColumn("ek", lit(true))
    val ccKeep = clusterLabels(spark, dir)
      .filter(col("is_keeper")).select("doc_id")
      .withColumn("ck", lit(true))
    val flags = scored
      .withColumn("q", col("quality") >= qualityFloor)
      .join(exactKeep, Seq("doc_id"), "left")
      .join(ccKeep, Seq("doc_id"), "left")
    def stage(cond: org.apache.spark.sql.Column, i: Int) = Seq(
      count(when(cond, 1)).as(s"d$i"),
      sum(when(cond, col("n_tokens")).otherwise(0L)).as(s"t$i"))
    val stageCols = stage(lit(true), 0) ++ stage(col("q"), 1) ++
      stage(col("q") && col("ek").isNotNull, 2) ++
      stage(col("q") && col("ck").isNotNull, 3)
    val agg = flags.agg(stageCols.head, stageCols.tail: _*)
    agg.select(expr(
      """stack(4,
        |  0, 'scored',     d0, t0,
        |  1, 'quality',    d1, t1,
        |  2, 'exact_keep', d2, t2,
        |  3, 'cc_keep',    d3, t3) AS (stage, stage_name, n_docs, n_tokens)
      """.stripMargin))
      .select(col("stage").cast("long").as("stage"), col("stage_name"),
        col("n_docs"), col("n_tokens"))
      .orderBy("stage")
  }

  private val pipeFunnelReportSql =
    s"""WITH scored AS (${TextOps.qualityScoredSql}),
      |exact_keep AS (
      |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      |clusters AS ($pipeDupClustersSql),
      |q AS (SELECT doc_id, n_tokens FROM scored
      |  WHERE quality >= $qualityFloor)
      |SELECT * FROM (
      |  SELECT CAST(0 AS BIGINT) AS stage, 'scored' AS stage_name,
      |    CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS n_tokens
      |  FROM scored
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), 'quality', CAST(COUNT(*) AS BIGINT),
      |    CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM q
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), 'exact_keep', CAST(COUNT(*) AS BIGINT),
      |    CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM q
      |  WHERE doc_id IN (SELECT doc_id FROM exact_keep)
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT), 'cc_keep', CAST(COUNT(*) AS BIGINT),
      |    CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM q
      |  WHERE doc_id IN (SELECT doc_id FROM clusters WHERE is_keeper)) f
      |ORDER BY stage""".stripMargin

  // ---- pipe_pack_sequences: contiguous token-budget packing ---------
  // The training-data prep step after curation: documents stream into
  // fixed-capacity token sequences (the "sequence packing" every
  // pretraining pipeline runs before tokenization shards). Model:
  // contiguous greedy packing in deterministic (lang, doc_id) order —
  // doc d lands in bin floor(cum_before / B) of its language, where
  // cum_before is the running token total of all earlier docs. A doc
  // crossing a boundary starts spilling into the next bin (the
  // concat-then-chunk regime most pretraining packers use), so bins
  // fill to ~B exactly except each language's last.
  // Integer-only arithmetic end to end ⇒ bit-identical cross-engine.
  // Scale: one window cumsum per language partition + one aggregate —
  // same shape as pipe_token_budget; at 100 TB the window partitions
  // by (lang, shard) exactly like the budget op would.
  private val packBudget = 2048L

  private def pipePackSequences(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextOps.qualityScored(spark, dir)
      .select("doc_id", "lang", "n_tokens")
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val binned = scored
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("bin",
        expr(s"(cum - n_tokens) div $packBudget")) // integral div, not `/`
    binned.groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("lang", "bin")
  }

  private val pipePackSequencesSql =
    s"""WITH scored AS (${TextOps.qualityScoredSql}),
      |binned AS (
      |  SELECT doc_id, lang, n_tokens,
      |    CAST((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
      |      // $packBudget AS BIGINT) AS bin
      |  FROM scored)
      |SELECT lang, bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM binned GROUP BY 1, 2 ORDER BY lang, bin""".stripMargin

  // ---- pipe_domain_cap: per-source document cap ---------------------
  // The anti-spam curation move (C4/RefinedWeb-style domain caps): no
  // single source may contribute more than `domainCap` documents, and
  // the survivors are its BEST by the exact quality score (ties broken
  // by doc_id, so the cut is deterministic cross-engine). The score is
  // map-only with `source` carried through — no join on the Spark
  // side; the per-source ranking window is the only shuffle before
  // the output sort. At 100 TB a heavy domain is exactly the skewed
  // partition AQE splits — and the rank prunes it to `domainCap` rows
  // the moment it's computed.
  private val domainCap = 15

  private def pipeDomainCap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(desc("quality"), col("doc_id"))
    TextOps.scoreQuality(Tables.documents(spark, dir), carry = Seq("source"))
      .select("doc_id", "source", "lang", "quality")
      .withColumn("rank_in_source", row_number().over(w))
      .filter(col("rank_in_source") <= domainCap)
      .orderBy("doc_id")
  }

  private val pipeDomainCapSql =
    s"""WITH scored AS (${TextOps.qualityScoredSql}),
      |j AS (
      |  SELECT s.doc_id, d.source, s.lang, s.quality
      |  FROM scored s JOIN documents d USING (doc_id)),
      |r AS (
      |  SELECT doc_id, source, lang, quality,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY quality DESC, doc_id) AS rank_in_source
      |  FROM j)
      |SELECT * FROM r WHERE rank_in_source <= $domainCap
      |ORDER BY doc_id""".stripMargin

  // ---- pipe_dataset_card: the one-frame dataset datasheet -----------
  // The "datasheet for datasets" summary (Gebru et al. 2021) a
  // training run publishes next to the corpus: size facets (docs,
  // tokens, chars, languages, sources), exact-duplicate mass, mean
  // quality, and the token-length distribution's discrete p50/p90 —
  // one (metric, value) frame. Plan shape: ONE multi-distinct pass
  // over the raw table (q_profile's Expand form), ONE aggregate over
  // the shared scored frame, and percentiles from a token-count
  // HISTOGRAM (distinct-length-sized, bounded) via a triangle join —
  // never an unpartitioned window or a corpus sort. All values are
  // integer counts, exact-decimal means (quality re-quantized to its
  // scale-7 grid), or integer rank-indexed percentiles (cum·k ≥ q·n
  // in integers), so the frame is cross-engine bit-identical.
  private def pipeDatasetCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val raw = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("n_chars"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(md5(col("text"))).as("n_unique_texts"))
    val sc = TextOps.qualityScored(spark, dir).agg(
      count(lit(1)).as("n_scored"),
      sum(col("n_tokens")).as("sum_tokens"),
      sum(col("quality").cast(DecimalType(9, 7))).as("sum_q"))
    val hist = TextOps.qualityScored(spark, dir)
      .groupBy("n_tokens").agg(count(lit(1)).as("cnt"))
    val cum = hist.as("a")
      .join(broadcast(hist.as("b")), col("b.n_tokens") <= col("a.n_tokens"))
      .groupBy(col("a.n_tokens").as("nt"))
      .agg(sum(col("b.cnt")).as("cum"))
    val pcts = cum.crossJoin(broadcast(sc.select(col("n_scored").as("ns"))))
      .agg(
        min(when(col("cum") * 2 >= col("ns"), col("nt"))).as("p50"),
        min(when(col("cum") * 10 >= col("ns") * 9, col("nt"))).as("p90"))
    raw.crossJoin(broadcast(sc)).crossJoin(broadcast(pcts))
      .select(expr(
        """stack(11,
          |  'exact_dup_docs', cast(n_docs - n_unique_texts as double),
          |  'mean_quality', round(cast(sum_q as double) / n_scored, 6),
          |  'mean_tokens', round(cast(sum_tokens as double) / n_scored, 6),
          |  'n_chars', cast(n_chars as double),
          |  'n_docs', cast(n_docs as double),
          |  'n_langs', cast(n_langs as double),
          |  'n_scored_docs', cast(n_scored as double),
          |  'n_sources', cast(n_sources as double),
          |  'n_tokens', cast(sum_tokens as double),
          |  'p50_tokens', cast(p50 as double),
          |  'p90_tokens', cast(p90 as double)
          |) as (metric, value)""".stripMargin))
      .orderBy("metric")
  }

  private val pipeDatasetCardSql =
    s"""WITH scored AS (${TextOps.qualityScoredSql}),
      |raw AS (
      |  SELECT COUNT(*) AS n_docs, SUM(n_chars) AS n_chars,
      |    COUNT(DISTINCT lang) AS n_langs,
      |    COUNT(DISTINCT source) AS n_sources,
      |    COUNT(DISTINCT md5(text)) AS n_unique_texts
      |  FROM documents),
      |sc AS (
      |  SELECT COUNT(*) AS n_scored, SUM(n_tokens) AS sum_tokens,
      |    SUM(CAST(quality AS DECIMAL(9,7))) AS sum_q
      |  FROM scored),
      |hist AS (SELECT n_tokens, COUNT(*) AS cnt FROM scored GROUP BY 1),
      |cum AS (
      |  SELECT a.n_tokens AS nt, SUM(b.cnt) AS cum
      |  FROM hist a JOIN hist b ON b.n_tokens <= a.n_tokens GROUP BY 1),
      |pcts AS (
      |  SELECT
      |    MIN(CASE WHEN c.cum * 2 >= s.n_scored THEN c.nt END) AS p50,
      |    MIN(CASE WHEN c.cum * 10 >= s.n_scored * 9 THEN c.nt END) AS p90
      |  FROM cum c CROSS JOIN sc s)
      |SELECT metric, value FROM (
      |  SELECT 'exact_dup_docs' AS metric,
      |    CAST(n_docs - n_unique_texts AS DOUBLE) AS value FROM raw
      |  UNION ALL SELECT 'mean_quality',
      |    ROUND(CAST(sum_q AS DOUBLE) / n_scored, 6) FROM sc
      |  UNION ALL SELECT 'mean_tokens',
      |    ROUND(CAST(sum_tokens AS DOUBLE) / n_scored, 6) FROM sc
      |  UNION ALL SELECT 'n_chars', CAST(n_chars AS DOUBLE) FROM raw
      |  UNION ALL SELECT 'n_docs', CAST(n_docs AS DOUBLE) FROM raw
      |  UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM raw
      |  UNION ALL SELECT 'n_scored_docs', CAST(n_scored AS DOUBLE) FROM sc
      |  UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM raw
      |  UNION ALL SELECT 'n_tokens', CAST(sum_tokens AS DOUBLE) FROM sc
      |  UNION ALL SELECT 'p50_tokens', CAST(p50 AS DOUBLE) FROM pcts
      |  UNION ALL SELECT 'p90_tokens', CAST(p90 AS DOUBLE) FROM pcts
      |) u ORDER BY metric""".stripMargin

  // ---- pipe_dsir: importance-resampling data selection --------------
  // Data Selection via Importance Resampling (Xie et al. 2023, arXiv
  // 2302.03169 — the published recipe behind domain-targeted
  // pretraining mixes): score every raw document by how much more
  // likely its hashed-bigram profile is under a TARGET domain's
  // n-gram distribution than under the raw corpus's, then keep the
  // docs the ratio favors. Here the target domain is the corpus's
  // `lang = 'en'` slice (DSIR's Wikipedia stand-in); both
  // distributions are add-1-smoothed bags over B=256 hashed-bigram
  // buckets (the paper's hashed n-gram generative model; B is the
  // production knob — 10k+ buckets at 100 TB, same plan). The log
  // importance weight
  //   log w(doc) = Σ_bigram [ln p_target(bucket) − ln p_raw(bucket)]
  // decomposes per bucket, so each ln is quantized ONCE per integer
  // count to scale-6 decimal (txt_tfidf's ln-quantization contract)
  // and the per-doc sum is exact integer micro-nats — no float ever
  // accumulates, and the DuckDB oracle replays the model bit-for-bit.
  // The bucket hash is the engine-portable md5 first byte
  // (pipe_split's idiom). `selected` = log w > 0 (the doc is more
  // target-like than raw-like); zero/one-token docs stay in the
  // report with n_bigrams=0, log w = 0, unselected.
  // Scale: one bigram explode feeds (a) a B-row bucket aggregate
  // (map-side combined; B is a constant, so the post-agg frame never
  // grows with the corpus) and (b) a broadcast join of the B-row
  // log-ratio table back onto the exploded rows + ONE doc_id
  // aggregate — the corpus shuffles once, keyed by doc_id, carrying
  // 8-byte partial sums. Per-doc int64 bound: |lr_u| ≲ 4·ln(N)·10⁶
  // micro-nats, so overflow needs a single document of ~10¹¹ tokens.
  private val dsirBuckets = 256
  private val dsirTargetLang = "en"

  private def pipeDsir(spark: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), Tok.toks.as("t"))
      .filter(size(col("t")) > 1)
      .select(col("doc_id"), col("lang"),
        explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("bigram"))
      .withColumn("bucket",
        conv(substring(md5(col("bigram")), 1, 2), 16, 10).cast("long"))
    // collapse to per-(doc, bucket) counts ONCE (r15): the tokenize +
    // bigram explode used to plan (and run) under BOTH the bucket
    // stats and the per-doc scores; the collapsed frame is ≤ 256 rows
    // per doc at any corpus scale, and every downstream quantity is an
    // exact integer function of it (Σ lr_u per bigram ≡ Σ n·lr_u per
    // bucket), so both branches read the staged frame instead
    val docBuckets = bg
      .groupBy("doc_id", "lang", "bucket")
      .agg(count(lit(1)).as("n"))
      .transform(Ckpt.stage)
    val stats = docBuckets.groupBy("bucket").agg(
      sum(col("n")).as("c_r"),
      coalesce(sum(when(col("lang") === dsirTargetLang, col("n"))), lit(0L))
        .as("c_t"))
    val tot = stats.agg(
      sum(col("c_r")).as("n_r"), sum(col("c_t")).as("n_t"))
    val lr = stats.crossJoin(broadcast(tot)).select(col("bucket"),
      (Num.lnqU(col("c_t") + 1) - Num.lnqU(col("n_t") + dsirBuckets)
        - Num.lnqU(col("c_r") + 1) + Num.lnqU(col("n_r") + dsirBuckets)).as("lr_u"))
    val scores = docBuckets.join(broadcast(lr), Seq("bucket"))
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_bigrams"), sum(col("n") * col("lr_u")).as("w"))
    Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
      .join(scores, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (coalesce(col("w"), lit(0L)).cast("double") / lit(1000000.0))
          .as("logw"),
        when(coalesce(col("w"), lit(0L)) > 0, lit(1L)).otherwise(lit(0L))
          .as("selected"))
      .orderBy("doc_id")
  }

  private val pipeDsirSql =
    s"""WITH d AS (SELECT doc_id, lang, ${Tok.toksSql} AS t FROM documents),
      |bg AS (
      |  SELECT doc_id, lang,
      |    unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bigram
      |  FROM d WHERE len(t) > 1),
      |bk AS (
      |  SELECT doc_id, lang,
      |    (strpos('0123456789abcdef', substr(md5(bigram), 1, 1)) - 1) * 16 +
      |    strpos('0123456789abcdef', substr(md5(bigram), 2, 1)) - 1 AS bucket
      |  FROM bg),
      |st AS (
      |  SELECT bucket, COUNT(*) AS c_r,
      |    COUNT(CASE WHEN lang = '$dsirTargetLang' THEN 1 END) AS c_t
      |  FROM bk GROUP BY bucket),
      |tot AS (SELECT CAST(SUM(c_r) AS BIGINT) AS n_r,
      |  CAST(SUM(c_t) AS BIGINT) AS n_t FROM st),
      |lr AS (
      |  SELECT bucket,
      |    ${Num.lnqUSql("c_t + 1")} - ${Num.lnqUSql(s"n_t + $dsirBuckets")}
      |    - ${Num.lnqUSql("c_r + 1")} + ${Num.lnqUSql(s"n_r + $dsirBuckets")} AS lr_u
      |  FROM st, tot),
      |sc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(lr_u) AS BIGINT) AS w
      |  FROM bk JOIN lr USING (bucket) GROUP BY doc_id)
      |SELECT doc.doc_id, doc.lang,
      |  COALESCE(sc.n_bigrams, 0) AS n_bigrams,
      |  CAST(COALESCE(sc.w, 0) AS DOUBLE) / 1000000.0 AS logw,
      |  CAST(CASE WHEN COALESCE(sc.w, 0) > 0 THEN 1 ELSE 0 END
      |    AS BIGINT) AS selected
      |FROM documents doc LEFT JOIN sc ON doc.doc_id = sc.doc_id
      |ORDER BY doc.doc_id""".stripMargin

  // ---- pipe_epoch_shuffle: deterministic training-order shuffle -----
  // The "global shuffle" every training run needs, made deterministic
  // and cluster-layout-independent: per epoch, every document gets a
  // fresh pseudo-random order key md5(doc_id ':' epoch), lands in the
  // shard named by the key's first byte, and takes its position from
  // the WITHIN-SHARD rank of that key — re-running the job on any
  // cluster reproduces the identical epoch order, and no two epochs
  // share an order (the per-epoch salt re-keys everything). This is
  // the missing piece between pipe_shard_manifest (shard audit) and
  // pipe_pack_sequences (in-shard packing): WHICH doc goes WHERE in
  // WHAT order, as data.
  // Scale: the epoch fan-out is a constant-×E broadcast cross join;
  // shard assignment is map-side; the only ordering ever computed is
  // the per-(epoch, shard) window — exactly the local sort a
  // `repartition(shard).sortWithinPartitions(key)` writer performs;
  // no global sort exists anywhere.
  private val epochCount = 2
  private val epochShards = 8

  private def pipeEpochShuffle(spark: SparkSession, dir: String): DataFrame = {
    val epochs = spark.range(1, epochCount + 1)
      .select(col("id").cast("int").as("epoch"))
    Tables.documents(spark, dir)
      .select(col("doc_id"))
      .crossJoin(broadcast(epochs))
      .withColumn("okey", md5(concat(col("doc_id").cast("string"),
        lit(":"), col("epoch").cast("string"))))
      .withColumn("shard",
        conv(substring(col("okey"), 1, 2), 16, 10).cast("long")
          % epochShards)
      .withColumn("pos", row_number().over(
        Window.partitionBy("epoch", "shard")
          .orderBy(col("okey"), col("doc_id"))))
      .select(col("epoch"), col("shard"), col("pos"), col("doc_id"),
        col("okey"))
      .orderBy("epoch", "shard", "pos")
  }

  private val pipeEpochShuffleSql =
    s"""WITH e AS (SELECT UNNEST(range(1, ${epochCount + 1})) AS epoch),
      |k AS (
      |  SELECT CAST(epoch AS INT) AS epoch, doc_id,
      |    md5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR))
      |      AS okey
      |  FROM documents CROSS JOIN e),
      |s AS (
      |  SELECT epoch, doc_id, okey,
      |    ((strpos('0123456789abcdef', substr(okey, 1, 1)) - 1) * 16 +
      |      strpos('0123456789abcdef', substr(okey, 2, 1)) - 1)
      |      % $epochShards AS shard
      |  FROM k)
      |SELECT epoch, CAST(shard AS BIGINT) AS shard,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shard
      |    ORDER BY okey, doc_id) AS INT) AS pos,
      |  doc_id, okey
      |FROM s ORDER BY epoch, shard, pos""".stripMargin

  override val ops: Seq[Op] = Seq(
    Op("pipe_dsir", pipeDsir, Some(pipeDsirSql)),
    Op("pipe_dataset_card", pipeDatasetCard, Some(pipeDatasetCardSql)),
    Op("pipe_curate", pipeCurate, Some(pipeCurateSql)),
    Op("pipe_domain_cap", pipeDomainCap, Some(pipeDomainCapSql)),
    Op("pipe_mix_report", pipeMixReport, Some(pipeMixReportSql)),
    Op("pipe_sample", pipeSample, Some(pipeSampleSql)),
    Op("pipe_token_budget", pipeTokenBudget, Some(pipeTokenBudgetSql)),
    Op("pipe_dup_clusters", pipeDupClusters, Some(pipeDupClustersSql)),
    Op("pipe_curate_cc", pipeCurateCc, Some(pipeCurateCcSql)),
    Op("pipe_split", pipeSplit, Some(pipeSplitSql)),
    Op("pipe_shard_manifest", pipeShardManifest, Some(pipeShardManifestSql)),
    Op("pipe_decontaminate", pipeDecontaminate, Some(pipeDecontaminateSql)),
    // same exact oracle: the bloom stage is pure pruning (no false
    // negatives + exact verify on survivors)
    Op("pipe_bloom_decontaminate", pipeBloomDecontaminate,
      Some(pipeDecontaminateSql)),
    Op("pipe_incremental_dedup", pipeIncrementalDedup,
      Some(pipeIncrementalDedupSql)),
    Op("pipe_dedup_report", pipeDedupReport, Some(pipeDedupReportSql)),
    Op("pipe_threshold_sweep", pipeThresholdSweep, Some(pipeThresholdSweepSql)),
    Op("pipe_temperature_mix", pipeTemperatureMix, Some(pipeTemperatureMixSql)),
    Op("pipe_oversample", pipeOversample, Some(pipeOversampleSql)),
    Op("pipe_funnel_report", pipeFunnelReport, Some(pipeFunnelReportSql)),
    Op("pipe_pack_sequences", pipePackSequences, Some(pipePackSequencesSql)),
    Op("pipe_epoch_shuffle", pipeEpochShuffle, Some(pipeEpochShuffleSql)),
  )
}
