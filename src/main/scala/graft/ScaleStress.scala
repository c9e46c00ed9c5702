package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic 10× scale-stress harness — the only way, with the driver
  * data capped at sf0.1, to observe which plans FLIP as the data
  * outgrows broadcast thresholds and AQE boundaries (the question the
  * 100 TB design claims in SURVEY §5 are about).
  *
  * Phase 1 materializes two derived datasets under /tmp from the
  * sf0.1 parquet:
  *   - `b1x`: factor-1 (the comparison baseline)
  *   - `sfN`: factor-N (default 10), every SF-scaled table replicated
  *     with per-replica key shifts that PRESERVE referential
  *     integrity (orders.o_custkey of replica i joins customer keys
  *     of replica i, both shifted by i·10¹²); `region`/`nation` stay
  *     1× — dimensions don't grow with the corpus.
  *
  * Replica isolation keeps the stress measuring SCALE, not a
  * dup-storm: a naive 10× copy makes every document 10-way
  * duplicated, which blows pairwise candidate counts up ~100×
  * (C(10,2) per shingle group) and would measure a 90%-duplicate
  * corpus instead of a 10× corpus. So
  *   - `documents.text` gets a replica tag token injected after every
  *     2nd word — no 3-token window (shingle, 5-gram) survives
  *     untagged, so shingle/census blocking keys never collide across
  *     replicas and the dup RATE stays scale-invariant. The tag
  *     dilutes token stats identically in every replica, which is why
  *     the baseline is the TAGGED 1× copy, not raw sf0.1 — ratios
  *     then measure pure scale.
  *   - `embeddings.embedding` gets a per-replica dimension rotation
  *     (j → j+7i mod 64; gcd(7,64)=1): an orthogonal transform, so
  *     within-replica geometry (cosines, LSH bucket balance, cluster
  *     structure) is EXACTLY preserved while cross-replica cosines
  *     stay at the isotropic background level.
  *
  * Phase 2 times each stress query on both datasets (fresh logical
  * plan per sample so no shuffle-stage reuse fakes the numbers; memo
  * invalidation follows Bench's producer-pays convention) and records
  * the final AQE physical-plan signature (join strategies, exchanges,
  * skew splits) so a broadcast→SMJ flip at 10× is visible in the
  * committed artifact, not just a timing delta.
  *
  * Usage: runMain graft.ScaleStress [factor] [q1,q2,...]
  * Writes SCALE_r12.json + SCALE.md in the repo root.
  */
object ScaleStress {

  /** Key offset between replicas — far above any sf0.1 key. */
  private val OFF = 1000000000000L

  private val defaultQueries = Seq(
    // the 15 most expensive rows of bench_latest.json (r7)
    "ft_item_pagerank", "pipe_dup_clusters", "sim_pq_topk",
    "pipe_dedup_report", "sim_kmeans", "txt_bpe_train",
    "q9_profit_nation", "ft_cooccurrence", "txt_line_dedup",
    "dedup_substring_scrub", "dedup_embedding", "q7_volume_shipping",
    "pipe_curate", "dedup_edit", "sim_recall_report",
    // plus headline scan/join/window shapes whose plan flips matter
    "q1_pricing_summary", "q3_shipping_priority", "q18_big_orders",
    "ev_sessionize", "dedup_minhash", "ft_rolling_24h")

  private def shift(df: DataFrame, keys: Seq[String]): DataFrame =
    keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + col("rep") * OFF))

  /** Replicate `factor`× with shifted keys; `rep` column dropped. */
  private def replicate(spark: SparkSession, df: DataFrame, factor: Int)(
      transform: DataFrame => DataFrame): DataFrame = {
    val reps = spark.range(factor).select(col("id").cast("long").as("rep"))
    transform(df.crossJoin(broadcast(reps))).drop("rep")
  }

  private def materialize(
      spark: SparkSession, baseDir: String, outDir: String,
      factor: Int): Unit = {
    val marker = new java.io.File(s"$outDir/_GRAFT_SCALE_${factor}x")
    if (marker.exists()) { println(s"[scale] reuse $outDir (${factor}x)"); return }
    println(s"[scale] materializing ${factor}x into $outDir")
    def read(t: String) = sources.Tables.load(spark, baseDir, t)
    // 32 files per table: a real corpus is many files, and AQE's
    // skew split can only cut a reduce partition at MAP-output
    // boundaries — a single-file scan is one mapper, whose skewed
    // partition is physically unsplittable no matter the thresholds
    def write(t: String, df: DataFrame): Unit =
      df.repartition(32).write.mode("overwrite")
        .parquet(s"$outDir/$t.parquet")

    // dimensions stay fixed-size at any corpus scale
    write("region", read("region"))
    write("nation", read("nation"))

    write("customer", replicate(spark, read("customer"), factor)(
      shift(_, Seq("c_custkey"))))
    write("supplier", replicate(spark, read("supplier"), factor)(
      shift(_, Seq("s_suppkey"))))
    write("part", replicate(spark, read("part"), factor)(
      shift(_, Seq("p_partkey"))))
    write("orders", replicate(spark, read("orders"), factor)(
      shift(_, Seq("o_orderkey", "o_custkey"))))
    write("lineitem", replicate(spark, read("lineitem"), factor)(
      shift(_, Seq("l_orderkey", "l_partkey", "l_suppkey"))))
    write("events", replicate(spark, sources.Tables.events(spark, baseDir),
      factor)(shift(_, Seq("event_id", "user_id"))))

    // documents: tag after every 2nd word so no ≥3-token window is
    // shared across replicas (see header); n_chars tracks the new text
    write("documents", replicate(spark, read("documents"), factor) { d =>
      shift(d, Seq("doc_id"))
        .withColumn("text", regexp_replace(col("text"),
          lit("((?:\\S+\\s+){2})"),
          concat(lit("$1zq"), col("rep"), lit("z "))))
        .withColumn("n_chars", length(col("text")).cast("long"))
    })

    // embeddings: per-replica orthogonal dimension rotation
    write("embeddings", replicate(spark, read("embeddings"), factor) { d =>
      shift(d, Seq("vec_id"))
        .withColumn("embedding",
          expr("transform(sequence(0, 63), j -> element_at(embedding, " +
            "cast(pmod(j + 7 * rep, 64) as int) + 1))"))
    })
    marker.getParentFile.mkdirs(); marker.createNewFile(); ()
  }

  /** Count strategy markers in the final (post-AQE) plan string.
    * AdaptiveSparkPlanExec.toString prints BOTH "== Final Plan ==" and
    * "== Initial Plan ==" — keep only the final section, or every
    * marker double-counts and pre-AQE strategies show as false flips. */
  private def signature(planFull: String): Map[String, Int] = {
    val plan = planFull.indexOf("== Initial Plan ==") match {
      case -1 => planFull
      case i => planFull.substring(0, i)
    }
    def n(m: String) = m.r.findAllIn(plan).length
    Map(
      "broadcastHashJoin" -> n("BroadcastHashJoin"),
      "sortMergeJoin" -> n("SortMergeJoin"),
      "shuffledHashJoin" -> n("ShuffledHashJoin"),
      "nestedLoopJoin" -> n("BroadcastNestedLoopJoin"),
      "cartesian" -> n("CartesianProduct"),
      "shuffleHash" -> n("Exchange hashpartitioning"),
      "shuffleRange" -> n("Exchange rangepartitioning"),
      "shuffleSingle" -> n("Exchange SinglePartition"),
      "broadcastExchange" -> n("BroadcastExchange"),
      // Spark's split join prints "SortMergeJoin(skew=true)" and the
      // reader "AQEShuffleRead … skewed" — earlier rounds grepped a
      // non-existent "skewed=true" marker, which is why every prior
      // SCALE_SKEW artifact reported splits=0 even where none could
      // have fired anyway (see stressVariants note)
      "skewSplit" -> n("""skew=true"""))
  }

  /** Width-scaled stress variants NOT in the registered query map —
    * the knob settings the 100 TB prescriptions point at (wider LSH
    * keys for a grown corpus), runnable by name in a sweep so the
    * prescription is MEASURED, not asserted. */
  private val stressVariants
      : Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_knn_graph_w9" ->
      ((s, d) => operators.SimilarityOps.simKnnGraphAt(s, d, planes = 9)),
    "sim_knn_graph_w10" ->
      ((s, d) => operators.SimilarityOps.simKnnGraphAt(s, d, planes = 10)),
    // The skew-split witnesses (skew mode): every REGISTERED query's
    // big joins either broadcast their small side or pre-aggregate
    // before joining, so AQE's skew-join rewrite — which only touches
    // shuffle joins — never had an SMJ to split in earlier sweeps
    // (every prior SCALE_SKEW artifact shows splits=0 for that
    // reason). This pair forces the large-large shape a 100 TB
    // fact⋈fact join actually has: events joined to its own per-user
    // totals with a merge hint (broadcast would hide the skew), so
    // the hot key's shuffle partition exceeds the skew threshold —
    // the plain twin is where AQE's split (`SortMergeJoin(skew=true)`)
    // must appear, and the salted twin is the planned fallback for
    // the exchanges AQE can't observe. (AQE's rule also requires BOTH
    // join children to be raw shuffle stages — an aggregate between
    // the exchange and the join disqualifies the rewrite, which is
    // the other reason the registered queries never show splits.)
    "skew_join_plain" -> ((s, d) => {
      val li = sources.Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val ord = sources.Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"))
      li.join(ord.hint("merge"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("double").as("revenue"), count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),
    "skew_join_salted" -> ((s, d) => {
      val li = sources.Tables.lineitem(s, d)
        .select(col("l_orderkey").as("okey"),
          col("l_extendedprice"), col("l_discount"))
      val ord = sources.Tables.orders(s, d)
        .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
      operators.Skew.saltedJoin(li, ord, "okey", 8)
        .groupBy("o_orderpriority")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("double").as("revenue"), count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }))

  /** One fresh execution: rebuilt logical plan (no stage reuse),
    * InternalRow-level run of the adaptive plan, final plan string. */
  private def runOnce(spark: SparkSession, name: String, dir: String)
      : (Double, String) = {
    spark.catalog.clearCache()
    // EVERY sample runs cold (the Memo clearAll policy)
    operators.Memo.clearAll()
    // t0 BEFORE construction: iterative ops (pagerank, k-means, CC,
    // BPE) run their checkpointed loops eagerly while the DataFrame
    // is being built — Bench times them the same way
    val t0 = System.nanoTime()
    val df = stressVariants.getOrElse(name, SparkEntry.queries(name))(
      spark, dir)
    val plan = df.queryExecution.executedPlan
    plan.execute().foreachPartition(_ => ())
    val secs = (System.nanoTime() - t0) / 1e9
    (secs, plan.toString)
  }

  private def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  // ---- skew mode -----------------------------------------------------
  // `runMain graft.ScaleStress skew [factor]`: the replica scheme above
  // is deliberately skew-FREE, so the main run exercises growth but
  // never AQE's skew splitting. Skew mode derives a second Nx dataset
  // where 20% of orders collapse onto ONE hot customer and 20% of
  // events onto one hot user (FK-valid: the hot keys are replica 0's
  // key 1), then times the customer/user-keyed queries against the
  // unskewed Nx twin and records whether AQE split the hot partition
  // ("skewed=true" in the final plan). The skew thresholds are lowered
  // for the demonstration — at 10x toy SF the hot partition is ~30 MB,
  // under the 256 MB default that a real corpus would trip.
  private val skewQueries = Seq("q3_shipping_priority", "q10_returned_items",
    "q13_custdist", "q18_big_orders", "ev_sessionize", "ft_rolling_24h")

  private def materializeSkewed(
      spark: SparkSession, baseDir: String, outDir: String,
      factor: Int): Unit = {
    val marker = new java.io.File(s"$outDir/_GRAFT_SCALE_SKEW_${factor}x")
    if (marker.exists()) { println(s"[scale] reuse $outDir (skew ${factor}x)"); return }
    println(s"[scale] materializing skewed ${factor}x into $outDir")
    def read(t: String) = sources.Tables.load(spark, baseDir, t)
    // 32 files per table: a real corpus is many files, and AQE's
    // skew split can only cut a reduce partition at MAP-output
    // boundaries — a single-file scan is one mapper, whose skewed
    // partition is physically unsplittable no matter the thresholds
    def write(t: String, df: DataFrame): Unit =
      df.repartition(32).write.mode("overwrite")
        .parquet(s"$outDir/$t.parquet")
    write("region", read("region"))
    write("nation", read("nation"))
    write("customer", replicate(spark, read("customer"), factor)(
      shift(_, Seq("c_custkey"))))
    write("supplier", replicate(spark, read("supplier"), factor)(
      shift(_, Seq("s_suppkey"))))
    write("part", replicate(spark, read("part"), factor)(
      shift(_, Seq("p_partkey"))))
    write("orders", replicate(spark, read("orders"), factor) { d =>
      shift(d, Seq("o_orderkey", "o_custkey"))
        .withColumn("o_custkey",
          when(col("o_custkey") % 5 === 0, lit(1L)).otherwise(col("o_custkey")))
    })
    // lineitem: 20% of rows collapse onto ONE hot order (replica 0's
    // orderkey 1 — FK-valid) so the fact⋈fact orderkey join carries a
    // genuinely skewed shuffle partition, the shape AQE's skew-join
    // rewrite exists for (the custkey/user hot keys below never reach
    // an SMJ — their consumers broadcast or pre-aggregate)
    write("lineitem", replicate(spark, read("lineitem"), factor) { d =>
      shift(d, Seq("l_orderkey", "l_partkey", "l_suppkey"))
        .withColumn("l_orderkey",
          when(col("l_orderkey") % 5 === 0, lit(1L))
            .otherwise(col("l_orderkey")))
    })
    write("events", replicate(spark, sources.Tables.events(spark, baseDir),
      factor) { d =>
      shift(d, Seq("event_id", "user_id"))
        .withColumn("user_id",
          when(col("user_id") % 5 === 0, lit(1L)).otherwise(col("user_id")))
    })
    write("documents", replicate(spark, read("documents"), factor)(
      shift(_, Seq("doc_id"))))
    write("embeddings", replicate(spark, read("embeddings"), factor)(
      shift(_, Seq("vec_id"))))
    marker.getParentFile.mkdirs(); marker.createNewFile(); ()
  }

  // ---- token-isolated mode -------------------------------------------
  // `runMain graft.ScaleStress tokeniso [factor] [queries]`: the main
  // replica scheme tags documents with a SHARED per-replica token
  // ("zq<rep>z" after every 2nd word) — exactly what shingle-based
  // ops need (no 3-window survives untagged), but a UNIGRAM-signature
  // op (dedup_simhash hashes the token multiset) sees every doc in a
  // replica carrying ~1/3 identical tag mass: signatures collapse and
  // the 10× run measures an all-pairs dup-storm (94M within-replica
  // pairs observed), not scale — the harness header's own caveat at
  // token granularity. This mode derives a twin dataset whose tag is
  // DOC-UNIQUE ("zq<rep>x<doc_id>z"), so no token is shared across
  // docs: pair outputs go ~empty and the timing isolates the
  // signature + bucket machinery's pure cost growth, which is the
  // scale question for these ops. Baseline is the equally-tagged 1×.
  private def materializeTokenIso(
      spark: SparkSession, baseDir: String, outDir: String,
      factor: Int): Unit = {
    val marker = new java.io.File(s"$outDir/_GRAFT_SCALE_TOK_${factor}x")
    if (marker.exists()) { println(s"[scale] reuse $outDir (tok ${factor}x)"); return }
    println(s"[scale] materializing token-iso ${factor}x into $outDir")
    def read(t: String) = sources.Tables.load(spark, baseDir, t)
    def write(t: String, df: DataFrame): Unit =
      df.repartition(32).write.mode("overwrite")
        .parquet(s"$outDir/$t.parquet")
    write("documents", replicate(spark, read("documents"), factor) { d =>
      shift(d, Seq("doc_id"))
        .withColumn("text", regexp_replace(col("text"),
          lit("((?:\\S+\\s+){2})"),
          concat(lit("$1zq"), col("rep"), lit("x"), col("doc_id"),
            lit("z "))))
        .withColumn("n_chars", length(col("text")).cast("long"))
    })
    marker.getParentFile.mkdirs(); marker.createNewFile(); ()
  }

  // ---- cms shuffle-bytes mode ----------------------------------------
  // `runMain graft.ScaleStress cms [factors]`: the registered
  // ev_count_min's whole 100 TB argument is "the sketch pass shuffles
  // a FIXED d×w grid while the exact aggregate shuffles one row per
  // live key" — this mode makes that trade MEASURED, not asserted
  // (VERDICT r10 item 8). Two isolated variants run at each factor
  // with a task-level shuffle meter: `cms_grid` (the map-side-combined
  // d×w grid aggregation, the sketch's only corpus-sized stage) and
  // `cms_exact` (the per-key exact aggregate it replaces). Expected
  // signature: grid shuffle bytes ~FLAT across factors (bounded by
  // d·w·partitions regardless of corpus), exact bytes ~linear in the
  // live-key count.
  private final class ShuffleMeter extends org.apache.spark.scheduler.SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val records = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
  }

  // the registered op's own stage builders — a re-implementation here
  // would silently drift from what the witness claims to measure
  private val cmsVariants: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "cms_grid" -> ((s, d) => operators.EventOps.cmsGrid(
        sources.Tables.events(s, d).select(col("user_id")))),
      "cms_exact" -> ((s, d) => operators.EventOps.cmsExact(
        sources.Tables.events(s, d).select(col("user_id")))))

  private def runCms(spark: SparkSession, factors: Seq[Int], tag: String): Unit = {
    val baseDir = "/root/testdata/sf0.1"
    val root = "/tmp/graft_scale"
    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    factors.foreach { f =>
      val dir = if (f == 1) s"$root/b1x" else s"$root/sf$f"
      materialize(spark, baseDir, dir, f)
      cmsVariants.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        spark.catalog.clearCache()
        fn(spark, dir).queryExecution.executedPlan
          .execute().foreachPartition(_ => ()) // warmup (JIT + FS cache)
        val meter = new ShuffleMeter
        spark.sparkContext.addSparkListener(meter)
        val t0 = System.nanoTime()
        fn(spark, dir).queryExecution.executedPlan
          .execute().foreachPartition(_ => ())
        val secs = (System.nanoTime() - t0) / 1e9
        // listener events are delivered async — poll until the
        // counters go quiet (a fixed sleep undercounts exactly on
        // the big factors this mode exists for, when the bus lags)
        var last = -1L
        var spins = 0
        while (meter.bytes.get != last && spins < 50) {
          last = meter.bytes.get
          Thread.sleep(200)
          spins += 1
        }
        spark.sparkContext.removeSparkListener(meter)
        println(s"[scale] cms:$name ${f}x  bytes=${meter.bytes.get}  " +
          s"records=${meter.records.get}  t=${num(secs)}s")
        rows += s"""{"variant":"$name","factor":$f,""" +
          s""""shuffle_bytes":${meter.bytes.get},""" +
          s""""shuffle_records":${meter.records.get},"t":${num(secs)}}"""
      }
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"SCALE_CMS_r12$tag.json"),
      (s"""{"mode":"cms-shuffle-bytes","grid":"d=${
        operators.EventOps.cmsDepth} w=${operators.EventOps.cmsWidth}",""" +
        s""""runs":[${rows.mkString(",\n")}]}""" + "\n").getBytes("UTF-8"))
    println(s"[scale] wrote SCALE_CMS_r12$tag.json (${rows.size} runs)")
  }

  // ---- byte-isolated mode ---------------------------------------------
  // `runMain graft.ScaleStress byteiso [factor] [queries]`: tokeniso's
  // doc-unique tags isolate WORD-token signatures, but a BYTE-level
  // signature (mm_phash_dedup hashes hex byte-4-grams) still sees the
  // ~2/3 of every replica's bytes that are the shared base text — so
  // replica signatures stay within hamming ≤ 3 of each other and the
  // op CORRECTLY reports a ~99%-duplicated corpus (measured r11:
  // tokeniso-100× mm_phash = 1168×, i.e. C(100,2)·5000 ≈ 25M real
  // pairs — a dup-storm artifact of the measurement, not an operator
  // defect; the harness header's caveat at byte granularity). This
  // mode applies a PER-REPLICA ALPHABET ROTATION (the byte analog of
  // the embedding dimension rotation): letters Caesar-shift by
  // rep mod 52 over [a-zA-Z], a bijection that preserves each
  // replica's internal structure (within-replica near-dups stay
  // near-dups, text length and token boundaries unchanged) while
  // decorrelating almost every cross-replica byte-4-gram. Replicas
  // sharing a shift (rep ≡ rep' mod 52) still pair — C(⌈f/52⌉,2) per
  // base doc, 1 pair/doc at 100× — a known, bounded remainder.
  private def materializeByteIso(
      spark: SparkSession, baseDir: String, outDir: String,
      factor: Int): Unit = {
    val marker = new java.io.File(s"$outDir/_GRAFT_SCALE_BYTE_${factor}x")
    if (marker.exists()) { println(s"[scale] reuse $outDir (byte ${factor}x)"); return }
    println(s"[scale] materializing byte-iso ${factor}x into $outDir")
    def read(t: String) = sources.Tables.load(spark, baseDir, t)
    def write(t: String, df: DataFrame): Unit =
      df.repartition(32).write.mode("overwrite")
        .parquet(s"$outDir/$t.parquet")
    val syms = (('a' to 'z') ++ ('A' to 'Z')).mkString
    def shiftedAlphabet(i: Int) = syms.drop(i) + syms.take(i)
    val rotated = (1 until 52).foldLeft(col("text")) { (acc, i) =>
      when(pmod(col("rep"), lit(52)) === i,
        translate(col("text"), syms, shiftedAlphabet(i))).otherwise(acc)
    }
    write("documents", replicate(spark, read("documents"), factor) { d =>
      shift(d, Seq("doc_id")).withColumn("text", rotated)
    })
    marker.getParentFile.mkdirs(); marker.createNewFile(); ()
  }

  private def runByteIso(spark: SparkSession, factor: Int,
      queries: Seq[String], tag: String): Unit = {
    val baseDir = "/root/testdata/sf0.1"
    val root = "/tmp/graft_scale"
    val oneDir = s"$root/byte1x"
    val bigDir = s"$root/byte$factor"
    materializeByteIso(spark, baseDir, oneDir, 1)
    materializeByteIso(spark, baseDir, bigDir, factor)
    val rows = queries.flatMap { q =>
      try {
        runOnce(spark, q, oneDir)
        val r1 = Seq.fill(2)(runOnce(spark, q, oneDir))
        val rN = Seq.fill(2)(runOnce(spark, q, bigDir))
        val (t1, tN) = (r1.map(_._1).min, rN.map(_._1).min)
        println(s"[scale] byte:$q  1x=${num(t1)}s  ${factor}x=${num(tN)}s  " +
          s"ratio=${num(tN / t1)}")
        Some(s"""{"query":"$q","t_1x":${num(t1)},"t_${factor}x":${num(tN)},""" +
          s""""ratio":${num(tN / t1)}}""")
      } catch { case e: Throwable =>
        System.err.println(s"[scale] byte FAILED $q: ${e.getMessage}"); None
      }
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"SCALE_BYTE_r12$tag.json"),
      (s"""{"factor":$factor,"mode":"byte-isolated",""" +
        s""""queries":[${rows.mkString(",\n")}]}""" + "\n").getBytes("UTF-8"))
    println(s"[scale] wrote SCALE_BYTE_r12$tag.json (${rows.size} queries)")
  }

  private def runTokenIso(spark: SparkSession, factor: Int,
      queries: Seq[String], tag: String): Unit = {
    val baseDir = "/root/testdata/sf0.1"
    val root = "/tmp/graft_scale"
    val oneDir = s"$root/tok1x"
    val bigDir = s"$root/tok$factor"
    materializeTokenIso(spark, baseDir, oneDir, 1)
    materializeTokenIso(spark, baseDir, bigDir, factor)
    val rows = queries.flatMap { q =>
      try {
        runOnce(spark, q, oneDir)
        val r1 = Seq.fill(2)(runOnce(spark, q, oneDir))
        val rN = Seq.fill(2)(runOnce(spark, q, bigDir))
        val (t1, tN) = (r1.map(_._1).min, rN.map(_._1).min)
        println(s"[scale] tok:$q  1x=${num(t1)}s  ${factor}x=${num(tN)}s  " +
          s"ratio=${num(tN / t1)}")
        Some(s"""{"query":"$q","t_1x":${num(t1)},"t_${factor}x":${num(tN)},""" +
          s""""ratio":${num(tN / t1)}}""")
      } catch { case e: Throwable =>
        System.err.println(s"[scale] tok FAILED $q: ${e.getMessage}"); None
      }
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"SCALE_TOK_r12$tag.json"),
      (s"""{"factor":$factor,"mode":"token-isolated",""" +
        s""""queries":[${rows.mkString(",\n")}]}""" + "\n").getBytes("UTF-8"))
    println(s"[scale] wrote SCALE_TOK_r12$tag.json (${rows.size} queries)")
  }

  private def runSkew(spark: SparkSession, factor: Int,
      queries: Seq[String] = skewQueries, tag: String = ""): Unit = {
    val baseDir = "/root/testdata/sf0.1"
    val root = "/tmp/graft_scale"
    val evenDir = s"$root/sf$factor"
    val skewDir = s"$root/skew$factor"
    materialize(spark, baseDir, evenDir, factor)
    materializeSkewed(spark, baseDir, skewDir, factor)
    // demonstration thresholds (defaults only trip past ~256 MB/task;
    // skew sizes are COMPRESSED shuffle bytes, and the hot key's
    // constant join column compresses to almost nothing, so the toy
    // hot partition lands near ~1 MB)
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256k")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128k")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    val rows = queries.flatMap { q =>
      try {
        runOnce(spark, q, evenDir) // warmup
        val even = Seq.fill(2)(runOnce(spark, q, evenDir))
        val skewed = Seq.fill(2)(runOnce(spark, q, skewDir))
        val sigE = signature(even.last._2); val sigS = signature(skewed.last._2)
        println(s"[scale] skew:$q  even=${num(even.map(_._1).min)}s  " +
          s"skew=${num(skewed.map(_._1).min)}s  splits=${sigS("skewSplit")}")
        Some((q, even.map(_._1).min, skewed.map(_._1).min, sigE, sigS))
      } catch { case e: Throwable =>
        System.err.println(s"[scale] skew FAILED $q: ${e.getMessage}"); None
      }
    }
    val items = rows.map { case (q, te, ts, sigE, sigS) =>
      s"""{"query":"$q","t_even":${num(te)},"t_skew":${num(ts)},""" +
        s""""splits_even":${sigE("skewSplit")},"splits_skew":${sigS("skewSplit")}}"""
    }.mkString("[", ",\n", "]")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"SCALE_SKEW_r12$tag.json"),
      (s"""{"factor":$factor,"hot_share":0.2,"queries":$items}""" + "\n")
        .getBytes("UTF-8"))
    println(s"[scale] wrote SCALE_SKEW_r12$tag.json (${rows.size} queries)")
  }

  // ---- full-suite tail sweep ------------------------------------------
  // `runMain graft.ScaleStress tailsweep [factor]`: every diagnosed-
  // heavy family has multi-decade scale evidence, but most of the
  // registered suite had never run above sf0.1 — and an unswept
  // superlinear hides exactly there (dedup_embedding's 21.8× was
  // found this way in r8). One warmup + one timed sample at 1× and at
  // N× for EVERY registered query — a smoke for outliers, not a bench
  // (single samples carry this host's noise; anything near the flag
  // line gets re-measured by the focused modes above before being
  // believed). Queries already covered by dedicated iso modes run
  // here too — cheap, and the redundancy cross-checks the harness.
  private def runTailSweep(spark: SparkSession, factor: Int,
      tag: String): Unit = {
    val baseDir = "/root/testdata/sf0.1"
    val root = "/tmp/graft_scale"
    val oneDir = s"$root/b1x"
    val bigDir = s"$root/sf$factor"
    materialize(spark, baseDir, oneDir, 1)
    materialize(spark, baseDir, bigDir, factor)
    val names = SparkEntry.queries.keys.toSeq.sorted
    val rows = names.flatMap { q =>
      try {
        runOnce(spark, q, oneDir) // warmup (JIT + codegen cache)
        val t1 = runOnce(spark, q, oneDir)._1
        val tN = runOnce(spark, q, bigDir)._1
        val ratio = tN / t1
        // flag line: 2× over linear scaling on the measured factor
        val flag = ratio > 2.0 * factor
        println(s"[scale] sweep:$q  1x=${num(t1)}s  ${factor}x=${num(tN)}s" +
          s"  ratio=${num(ratio)}${if (flag) "  ** OVER 2x-LINEAR **" else ""}")
        Some(s"""{"query":"$q","t_1x":${num(t1)},"t_${factor}x":${num(tN)},""" +
          s""""ratio":${num(ratio)},"over_2x_linear":$flag}""")
      } catch { case e: Throwable =>
        System.err.println(s"[scale] sweep FAILED $q: ${e.getMessage}")
        // control chars (tabs in Spark plan fragments!) must not
        // reach the JSON raw — same rule as Verify's escaper
        val msg = Option(e.getMessage)
          .getOrElse(e.getClass.getName).linesIterator.take(1)
          .mkString.take(200).replace("\\", "\\\\").replace("\"", "'")
          .map(c => if (c < ' ') ' ' else c)
        Some(s"""{"query":"$q","error":${"\""}$msg${"\""}}""")
      }
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"SCALE_SWEEP_r12$tag.json"),
      (s"""{"factor":$factor,"mode":"full-suite-tail-sweep","n":${names.size},""" +
        s""""queries":[${rows.mkString(",\n")}]}""" + "\n").getBytes("UTF-8"))
    println(s"[scale] wrote SCALE_SWEEP_r12$tag.json (${rows.size} queries)")
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("tailsweep")) {
      val factor = args.drop(1).headOption.map(_.toInt).getOrElse(10)
      val tag = args.drop(2).headOption.getOrElse("")
      val spark = Engine.session("graft-scale-tailsweep")
      runTailSweep(spark, factor, tag)
      spark.stop()
      return
    }
    if (args.headOption.contains("cms")) {
      val factors = args.drop(1).headOption.filterNot(_.startsWith("_"))
        .map(_.split(",").toSeq.map(_.toInt)).getOrElse(Seq(1, 10, 30))
      val tag = args.drop(1).find(_.startsWith("_")).getOrElse("")
      val spark = Engine.session("graft-scale-cms")
      runCms(spark, factors, tag)
      spark.stop()
      return
    }
    if (args.headOption.contains("byteiso")) {
      val factor = args.drop(1).headOption.map(_.toInt).getOrElse(10)
      val queries = args.drop(2).headOption.filterNot(_.startsWith("_"))
        .map(_.split(",").toSeq)
        .getOrElse(Seq("mm_phash_dedup"))
      val tag = args.drop(2).find(_.startsWith("_")).getOrElse("")
      val spark = Engine.session("graft-scale-byteiso")
      runByteIso(spark, factor, queries, tag)
      spark.stop()
      return
    }
    if (args.headOption.contains("tokeniso")) {
      val factor = args.drop(1).headOption.map(_.toInt).getOrElse(10)
      val queries = args.drop(2).headOption.filterNot(_.startsWith("_"))
        .map(_.split(",").toSeq)
        .getOrElse(Seq("dedup_simhash", "mm_phash_dedup"))
      val tag = args.drop(2).find(_.startsWith("_")).getOrElse("")
      val spark = Engine.session("graft-scale-tokeniso")
      runTokenIso(spark, factor, queries, tag)
      spark.stop()
      return
    }
    if (args.headOption.contains("skew")) {
      val factor = args.drop(1).headOption.map(_.toInt).getOrElse(10)
      val queries = args.drop(2).headOption.filterNot(_.startsWith("_"))
        .map(_.split(",").toSeq).getOrElse(skewQueries)
      val tag = args.drop(2).find(_.startsWith("_")).getOrElse("")
      val spark = Engine.session("graft-scale-skew")
      runSkew(spark, factor, queries, tag)
      spark.stop()
      return
    }
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val queries = args.drop(1).headOption
      .map(_.split(",").toSeq).getOrElse(defaultQueries)
    // artifact suffix so a follow-up sweep doesn't clobber the main one
    val tag = args.drop(2).headOption.getOrElse("")
    val baseDir = "/root/testdata/sf0.1"
    val root = "/tmp/graft_scale"
    val oneDir = s"$root/b1x"
    val bigDir = s"$root/sf$factor"
    val spark = Engine.session("graft-scale-stress")

    materialize(spark, baseDir, oneDir, 1)
    materialize(spark, baseDir, bigDir, factor)

    final case class Row(name: String, t1: Seq[Double], tN: Seq[Double],
        sig1: Map[String, Int], sigN: Map[String, Int])
    val rows = queries.flatMap { q =>
      try {
        runOnce(spark, q, oneDir) // warmup at 1× (JIT + codegen cache)
        val r1 = Seq.fill(2)(runOnce(spark, q, oneDir))
        val rN = Seq.fill(2)(runOnce(spark, q, bigDir))
        val row = Row(q, r1.map(_._1), rN.map(_._1),
          signature(r1.last._2), signature(rN.last._2))
        println(s"[scale] $q  1x=${num(row.t1.min)}s  ${factor}x=" +
          s"${num(row.tN.min)}s  ratio=${num(row.tN.min / row.t1.min)}")
        Some(row)
      } catch { case e: Throwable =>
        System.err.println(s"[scale] FAILED $q: ${e.getMessage}")
        None
      }
    }

    def jmap(m: Map[String, Int]) = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val items = rows.map { r =>
      val flips = (r.sig1.keySet ++ r.sigN.keySet).toSeq.sorted
        .filter(k => r.sig1.getOrElse(k, 0) != r.sigN.getOrElse(k, 0))
        .map(k => s""""$k":[${r.sig1.getOrElse(k, 0)},${r.sigN.getOrElse(k, 0)}]""")
        .mkString("{", ",", "}")
      s"""{"query":"${r.name}","t_1x":${num(r.t1.min)},"t_${factor}x":${num(r.tN.min)},""" +
        s""""ratio":${num(r.tN.min / r.t1.min)},""" +
        s""""samples_1x":[${r.t1.map(num).mkString(",")}],""" +
        s""""samples_${factor}x":[${r.tN.map(num).mkString(",")}],""" +
        s""""sig_1x":${jmap(r.sig1)},"sig_${factor}x":${jmap(r.sigN)},""" +
        s""""plan_flips":$flips}"""
    }.mkString("[", ",\n", "]")
    val json = s"""{"factor":$factor,"base":"$baseDir","queries":$items}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(s"SCALE_r12$tag.json"),
      (json + "\n").getBytes("UTF-8"))

    val md = new StringBuilder
    md ++= s"# Scale stress — ${factor}× synthetic (derived from sf0.1)\n\n"
    md ++= "Baseline `1x` is the TAGGED/ROTATED factor-1 copy (same "
    md ++= "transform pipeline), so ratios measure pure scale. Linear "
    md ++= s"scaling at ${factor}× parallel work on fixed local cores "
    md ++= s"predicts ratio ≈ $factor; below that = fixed job overhead "
    md ++= "amortizing, far above = a superlinear stage (the thing this "
    md ++= "harness exists to catch).\n\n"
    md ++= s"| query | 1× s | ${factor}× s | ratio | plan flips (1×→${factor}×) |\n"
    md ++= "| --- | --- | --- | --- | --- |\n"
    rows.sortBy(r => -(r.tN.min / r.t1.min)).foreach { r =>
      val flips = (r.sig1.keySet ++ r.sigN.keySet).toSeq.sorted
        .filter(k => r.sig1.getOrElse(k, 0) != r.sigN.getOrElse(k, 0))
        .map(k => s"$k ${r.sig1.getOrElse(k, 0)}→${r.sigN.getOrElse(k, 0)}")
        .mkString(", ")
      md ++= s"| ${r.name} | ${num(r.t1.min)} | ${num(r.tN.min)} | " +
        s"${num(r.tN.min / r.t1.min)} | ${if (flips.isEmpty) "none" else flips} |\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"SCALE$tag.md"),
      md.toString.getBytes("UTF-8"))
    println(s"[scale] wrote SCALE_r12$tag.json + SCALE$tag.md (${rows.size} queries)")
    spark.stop()
  }
}
