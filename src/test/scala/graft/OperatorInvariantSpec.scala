package graft

import org.apache.spark.sql.functions._

/** Cross-operator invariants at sf0.001 — semantic checks the DuckDB
  * oracle can't express (it only hashes single-query outputs). */
class OperatorInvariantSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("every registered query returns rows and a stable schema on sf0.001") {
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val df = run(name)
      assert(df.columns.nonEmpty, s"$name: no columns")
      assert(df.count() > 0, s"$name: empty result")
    }
  }

  test("every oracle key has a matching query and vice-versa names align") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle without query: ${o.diff(q)}")
  }

  test("cdc_apply_snapshot = cdc_dedupe_latest minus deletes") {
    val dedupe = run("cdc_dedupe_latest")
    val apply = run("cdc_apply_snapshot")
    assert(apply.count() ==
      dedupe.filter(col("event_type") =!= "error").count())
    assert(apply.count() < dedupe.count()) // some keys end deleted
  }

  test("cdc_merge_batch over a split log equals the full apply") {
    val merged = run("cdc_merge_batch").select("user_id", "event_id", "ts", "value")
    val full = run("cdc_apply_snapshot").select("user_id", "event_id", "ts", "value")
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty,
      "two-phase merge diverged from single-pass apply")
  }

  test("cdc_scd2 has exactly one current version per surviving key") {
    val scd2 = run("cdc_scd2")
    val current = scd2.filter(col("is_current")).groupBy("user_id").count()
    assert(current.filter(col("count") =!= 1).isEmpty)
    val applied = run("cdc_apply_snapshot").select("user_id")
    assert(current.select("user_id").exceptAll(applied).isEmpty,
      "current SCD2 keys must be exactly the non-deleted keys")
  }

  test("ev_sessionize partitions all events into sessions") {
    val total = sources.Tables.events(spark, sf).count()
    val inSessions = run("ev_sessionize").agg(sum("n_events")).head.getLong(0)
    assert(inSessions == total)
  }

  test("ev_funnel stages are monotonically ordered in time") {
    val bad = run("ev_funnel")
      .filter(col("stage") === 3)
      .filter(!(col("signup_ts") < col("view_ts") &&
        col("view_ts") < col("purchase_ts")))
    assert(bad.isEmpty)
  }

  test("dedup_minhash candidates include every high-jaccard exact pair") {
    // LSH with 32 bands of 4 rows catches j>=0.5 pairs w.h.p.; the
    // planted near-dups (j=1.0) must all be present.
    val exact = run("dedup_ngram_jaccard").filter(col("jaccard") === 1.0)
      .select("a_id", "b_id")
    val lsh = run("dedup_minhash").select("a_id", "b_id")
    assert(exact.exceptAll(lsh).isEmpty,
      "minhash LSH missed an identical-shingle pair")
  }

  test("dedup_simhash bucket keys satisfy the hamming<=3 pigeonhole " +
      "at EVERY supported block count") {
    // Manku 2007 block construction, generalized to the corpus-derived
    // block count (r11): any two 64-bit signatures within hamming 3
    // MUST share at least one of the C(B,3) (B−3)-block keys — the
    // recall-1.0 guarantee the candidate join relies on, at any width
    // the derivation can pick.
    val rnd = new scala.util.Random(7)
    operators.DedupOps.simhashBlockCounts.foreach { bb =>
      (1 to 2000).foreach { _ =>
        val a = rnd.nextLong()
        val nFlips = rnd.nextInt(4) // 0..3 bit flips
        val b = (1 to nFlips).foldLeft(a)((v, _) => v ^ (1L << rnd.nextInt(64)))
        val shared = operators.DedupOps.simhashKeys(a, bb).zip(
          operators.DedupOps.simhashKeys(b, bb)).exists { case (x, y) => x == y }
        assert(shared, f"pigeonhole violated at B=$bb for $a%x vs $b%x")
      }
      // and a >3-bit pair is NOT guaranteed (sanity: keys CAN all differ)
      val far = operators.DedupOps.simhashKeys(0L, bb).zip(
        operators.DedupOps.simhashKeys(-1L, bb)).forall { case (x, y) => x != y }
      assert(far, s"all-ones vs all-zeros must share no key at B=$bb")
    }
  }

  test("simhash block derivation: B=6 historical identity, exact " +
      "power-of-two thresholds, monotone steps") {
    import operators.DedupOps._
    // the historical registered config must be byte-identical: same
    // lens/offsets/tables/key packing as the fixed-width r10 code
    assert(simhashBlockLens(6) == Seq(11, 11, 11, 11, 10, 10))
    assert(simhashBlockOffsets(6) == Seq(0, 11, 22, 33, 44, 54))
    assert(simhashTables(6).size == 20 && simhashShiftUnit(6) == 11)
    val sh = 0x123456789abcdefL
    def block(c: Int): Long =
      (sh >>> simhashBlockOffsets(6)(c)) & ((1L << simhashBlockLens(6)(c)) - 1)
    assert(simhashKeys(sh, 6) == simhashTables(6).map {
      case Seq(i, j, k) => (block(i) << 22) | (block(j) << 11) | block(k)
    }, "B=6 keys must reproduce the historical packing bit-for-bit")
    // derivation rule: min B with 2^(minKeyBits−3) ≥ n; thresholds are
    // exact powers of two so the SQL twin can't round differently
    assert(deriveSimhashBlocks(0L) == 6 && deriveSimhashBlocks(5000L) == 6)
    assert(deriveSimhashBlocks(1L << 28) == 6)
    assert(deriveSimhashBlocks((1L << 28) + 1) == 7)
    assert(deriveSimhashBlocks(1L << 33) == 7)
    assert(deriveSimhashBlocks((1L << 33) + 1) == 8)
    assert(deriveSimhashBlocks(Long.MaxValue) == 10, "cap at the largest B")
    // every supported B: keys fit a signed long, blocks tile 64 bits,
    // table count is C(B,3)
    simhashBlockCounts.foreach { bb =>
      assert(simhashBlockLens(bb).sum == 64)
      assert(simhashShiftUnit(bb) * (bb - 3) < 63,
        s"B=$bb packed key must fit a signed long")
      val c3 = bb * (bb - 1) * (bb - 2) / 6
      assert(simhashTables(bb).size == c3, s"B=$bb expects C($bb,3)=$c3")
    }
  }

  test("dedup_simhash column keys equal the pure simhashKeys twin " +
      "at every supported block count") {
    val s = spark
    import s.implicits._
    val samples = Seq(0L, -1L, 0x123456789abcdefL, Long.MinValue, 42L)
    operators.DedupOps.simhashBlockCounts.foreach { bb =>
      val df = samples.toDF("sh")
        .select(col("sh"),
          array(operators.DedupOps.simhashKeyCols(bb): _*).as("k"))
      df.collect().foreach { r =>
        val sh = r.getLong(0)
        val got = r.getSeq[Long](1)
        assert(got == operators.DedupOps.simhashKeys(sh, bb),
          s"key mismatch for $sh at B=$bb")
      }
    }
  }

  test("dedup_embedding is precise vs exact pairs and recall is bounded") {
    // exact all-pairs within label at sf0.001 (tiny) — the LSH op's
    // output must be a SUBSET with identical cosines (precision 1.0),
    // and candidate recall must hold the documented floor.
    import graft.functions.VectorMath.dotDec
    val e = sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
      .withColumn("norm", dotDec(col("v"), col("v")))
    val a = e.select(col("vec_id").as("a_id"), col("label"),
      col("v").as("av"), col("norm").as("an"))
    val b = e.select(col("vec_id").as("b_id"), col("label"),
      col("v").as("bv"), col("norm").as("bn"))
    val exact = a.join(b, Seq("label")).filter(col("a_id") < col("b_id"))
      .withColumn("cosine",
        dotDec(col("av"), col("bv")) / (sqrt(col("an")) * sqrt(col("bn"))))
      .filter(col("cosine") >= 0.4)
      .select(col("a_id"), col("b_id"), round(col("cosine"), 6).as("cosine"))
    val got = run("dedup_embedding")
    assert(got.exceptAll(exact).isEmpty,
      "LSH output contained a pair the exact computation rejects")
    val nExact = exact.count()
    val nGot = got.count()
    assert(nExact > 0 && nGot.toDouble / nExact >= 0.8,
      s"recall $nGot/$nExact under the 0.8 floor")
  }

  test("sim_topk_exact ranks are dense 1..k and cosine non-increasing") {
    val rows = run("sim_topk_exact")
      .select("q_id", "rank", "cosine").collect()
      .groupBy(_.getLong(0))
    rows.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.size),
        s"q$q ranks not dense")
      val cos = sorted.map(_.getDouble(2))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b },
        s"q$q cosine not non-increasing")
    }
  }

  test("sim_ann_lsh results are a subset of brute-force candidates' scores") {
    // every ANN hit must carry the same cosine the exact path computes
    val ann = run("sim_ann_lsh").select("q_id", "cand_id", "cosine")
    val exact = run("sim_topk_exact").select("q_id", "cand_id", "cosine")
    val joined = ann.as("a").join(exact.as("e"),
      Seq("q_id", "cand_id"))
    assert(joined.filter(col("a.cosine") =!= col("e.cosine")).isEmpty)
  }

  test("ev_top_paths ranks are dense, counts non-increasing, paths start at step1") {
    val rows = run("ev_top_paths").collect().groupBy(_.getString(0))
    assert(rows.nonEmpty)
    rows.foreach { case (step, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.size),
        s"$step ranks not dense")
      val ns = sorted.map(_.getLong(3))
      assert(ns.zip(ns.tail).forall { case (a, b) => a >= b },
        s"$step counts not non-increasing")
      assert(sorted.forall { r =>
        val parts = r.getString(2).split(">")
        parts.length == 3 && parts.head == step
      }, s"$step has a malformed path")
    }
  }

  test("ev_transitions probabilities sum to 1 per state and counts match paths") {
    val rows = run("ev_transitions").collect()
    rows.groupBy(_.getString(0)).foreach { case (cur, rs) =>
      val pSum = rs.map(_.getDouble(3)).sum
      assert(math.abs(pSum - 1.0) < 1e-4, s"$cur rows sum to $pSum")
    }
    // bigram totals must equal the number of (cur,next) steps the
    // trigram miner sees plus the penultimate step of each session —
    // cheaper cross-check: total transitions == sessions' (len-1) sum
    val nTransitions = rows.map(_.getLong(2)).sum
    val sessions = run("ev_sessionize").agg(
      sum(col("n_events") - 1)).collect()(0).getLong(0)
    assert(nTransitions == sessions,
      s"$nTransitions transitions != Σ(session_len-1) = $sessions")
  }

  test("pipe_oversample replicates whole languages with dense copy indices") {
    val rows = run("pipe_oversample").collect()
    // copies are dense 1..n_copies per doc
    rows.groupBy(_.getLong(0)).foreach { case (doc, rs) =>
      val copies = rs.map(_.getLong(3)).sorted.toSeq
      val n = rs.head.getLong(2)
      assert(copies == (1L to n), s"doc $doc copies not dense 1..$n")
    }
    // a language has ONE factor (no per-doc drift) and the dominant
    // language is never oversampled above a tail language
    val byLang = rows.groupBy(_.getString(1))
      .view.mapValues(_.map(_.getLong(2)).distinct).toMap
    byLang.foreach { case (lang, fs) =>
      assert(fs.length == 1, s"$lang has multiple factors $fs")
    }
    val en = byLang("en").head
    assert(byLang.filterKeys(_ != "en").values.forall(_.head >= en),
      "dominant language oversampled above a tail language")
  }

  // producer pays: one input per memo slot that has a producer query
  private val producerSlots = {
    import operators.Memo._
    Seq(clusterLabels -> "cluster-label memo survives invalidation with identical labels",
      kmeansTrain -> "k-means memo survives invalidation with identical cluster stats",
      pqSubDist -> "PQ memo survives invalidation with identical top-k",
      bpeTrain -> "BPE memo survives invalidation with identical merges",
      qdFeatures -> "distill-feature memo survives invalidation with identical rounds")
  }
  private def rows(name: String) = run(name).collect().toSeq.sortBy(_.toString)

  producerSlots.foreach { case (slot, title) =>
    test(title) {
      val q = slot.producer.get
      rows(q)
      val memoized = rows(q)
      val held = operators.Memo.held
      operators.Memo.beforeTimed(q)
      assert(held -- operators.Memo.held == Set(slot.name),
        s"beforeTimed($q) must clear exactly ${slot.name}")
      assert(memoized == rows(q),
        s"recomputed $q differs from the memoized ${slot.name}")
    }
  }

  test("beforeTimed clears only producer slots; each forwarder clears its own") {
    import operators.{Memo, LshWidth, PipelineOps => P, SimilarityOps => S,
      TextOps => T}
    def fill(): Unit = {
      producerSlots.foreach { case (slot, _) => run(slot.producer.get).collect() }
      T.distillTrain(spark, sf)
      LshWidth.labelPlanes(spark, sf)
      LshWidth.simhashBlocks(spark, sf)
      assert(Memo.held == Memo.slots.map(_.name).toSet)
    }
    def clears(hook: => Unit): Set[String] = {
      val held = Memo.held
      hook
      held -- Memo.held
    }
    fill()
    val producers = Memo.slots.flatMap(_.producer).toSet
    SparkEntry.queries.keys.filterNot(producers).foreach(q =>
      assert(clears(Memo.beforeTimed(q)).isEmpty, s"$q produces no slot"))
    Memo.slots.filter(_.producer.nonEmpty).foreach(slot =>
      assert(clears(Memo.beforeTimed(slot.producer.get)) == Set(slot.name)))
    fill()
    assert(clears(P.invalidateClusterMemo()) == Set(Memo.clusterLabels.name))
    assert(clears(S.invalidateKmMemo()) == Set(Memo.kmeansTrain.name))
    assert(clears(S.invalidatePqMemo()) == Set(Memo.pqSubDist.name))
    assert(clears(T.invalidateBpeMemo()) == Set(Memo.bpeTrain.name))
    assert(clears(T.invalidateDistillMemo()) == Set(Memo.distillModel.name))
  }

  test("sim_range_search returns exactly the τ-ball and agrees with the exact path") {
    val range = run("sim_range_search")
    // nothing below the radius (rounded output of an unrounded filter)
    assert(range.filter(col("cosine") < 0.3 - 1e-6).isEmpty,
      "range search emitted a pair below τ")
    // completeness + score identity vs brute force: every top-k pair
    // at or above τ must appear in the ball with the same cosine
    val above = run("sim_topk_exact")
      .filter(col("cosine") >= 0.3).select("q_id", "cand_id", "cosine")
    val missing = above.join(range.select("q_id", "cand_id", "cosine"),
      Seq("q_id", "cand_id", "cosine"), "left_anti")
    assert(missing.isEmpty,
      "a brute-force pair ≥ τ is missing from the range result")
  }

  test("pipe_split partitions the corpus and never splits a dup cluster") {
    val split = run("pipe_split")
    val nDocs = sources.Tables.documents(spark, sf).count()
    assert(split.count() == nDocs, "split must cover every doc exactly once")
    assert(split.select("doc_id").distinct().count() == nDocs)
    // leak-freedom: a dup cluster lands entirely on one side
    val straddled = split.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("n"))
      .filter(col("n") > 1)
    assert(straddled.isEmpty, "a dup cluster straddles train/val")
    // both sides exist and the val slice is in the hash-expected band
    val n = split.count().toDouble
    val nVal = split.filter(col("split") === "val").count().toDouble
    assert(nVal > 0 && nVal / n < 0.35,
      s"val share ${nVal / n} outside the plausible 26/256 band")
  }

  test("sim_ivf_topk candidates come from the probed list with exact-path cosines") {
    val ivf = run("sim_ivf_topk")
    val labels = sources.Tables.embeddings(spark, sf)
      .select(col("vec_id").as("cand_id"), col("label"))
    // every candidate belongs to the probed inverted list
    assert(ivf.join(labels, "cand_id")
      .filter(col("label") =!= col("probe_label")).isEmpty)
    // where a pair also appears in the brute-force op, cosines agree
    val exact = run("sim_topk_exact").select("q_id", "cand_id", "cosine")
    val joined = ivf.as("i").join(exact.as("e"), Seq("q_id", "cand_id"))
    assert(joined.filter(col("i.cosine") =!= col("e.cosine")).isEmpty)
  }

  test("q_approx_percentiles tracks the exact discrete quantiles within 5%") {
    val approx = run("q_approx_percentiles")
      .select("c_mktsegment", "o_orderpriority", "ap50", "ap90", "ap99")
    val exact = run("q_percentiles")
      .select("c_mktsegment", "o_orderpriority", "p50", "p90", "p99")
    approx.join(exact, Seq("c_mktsegment", "o_orderpriority")).collect()
      .foreach { r =>
        Seq(("p50", 2, 5), ("p90", 3, 6), ("p99", 4, 7)).foreach {
          case (name, ai, ei) =>
            val (a, e) = (r.getDouble(ai), r.getDouble(ei))
            assert(math.abs(a - e) / e <= 0.05,
              s"$name off by ${math.abs(a - e) / e} for ${r.getString(0)}")
        }
      }
  }

  test("q_approx_distinct HLL estimate is within 5% of the exact count") {
    run("q_approx_distinct").collect().foreach { r =>
      val approx = r.getAs[Long]("approx_parts").toDouble
      val exact = r.getAs[Long]("exact_parts").toDouble
      assert(math.abs(approx - exact) / exact <= 0.05,
        s"HLL error ${math.abs(approx - exact) / exact} over 5% for $r")
    }
  }

  test("ev_count_min never underestimates and overestimates within ε·N") {
    val rows = run("ev_count_min").collect()
    val n = rows.map(_.getAs[Long]("exact_n")).sum
    rows.foreach { r =>
      val over = r.getAs[Long]("over")
      assert(over >= 0, s"CMS underestimated: $r")
      // ε=0.001 ⇒ P(over > εN) ≤ δ=0.01 per key; with few hundred
      // keys allow the bound itself, not the probabilistic slack
      assert(over <= math.max(1L, (0.001 * n).ceil.toLong),
        s"CMS overestimate $over exceeds εN for $r")
    }
  }

  test("mm_phash_dedup finds every byte-identical blob pair at hamming 0") {
    val pairs = run("mm_phash_dedup").collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Int]("hamming"))).toSet
    // byte-identical blobs = md5(text) dup groups (blobs are utf-8
    // text bytes); every within-group pair must surface at hamming 0
    val groups = run("dedup_exact").collect()
      .filter(_.getAs[Long]("n_docs") > 1).map(_.getAs[String]("fp")).toSet
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "md5(text) AS fp").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("fp")))
    val dupPairs = for {
      fp <- groups.toSeq
      ids = docs.filter(_._2 == fp).map(_._1).sorted.toSeq
      i <- ids; j <- ids if i < j
    } yield (i, j)
    dupPairs.foreach { case (a, b) =>
      assert(pairs.contains((a, b, 0)),
        s"identical blobs ($a,$b) missing from phash pairs")
    }
    pairs.foreach { case (a, b, h) =>
      assert(a < b && h <= 3, s"malformed pair ($a,$b,$h)")
    }
  }

  test("mm_features n_bytes equals n_chars for ascii documents") {
    val mm = run("mm_features").select("doc_id", "n_bytes")
    val docs = sources.Tables.documents(spark, sf)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
    val bad = mm.join(docs, "doc_id")
      .filter(col("n_bytes") =!= col("n_chars"))
    assert(bad.isEmpty)
  }

  test("approx_percentile stays within rank-error bounds of exact q_percentiles") {
    // q_percentiles' header names the t-digest as the 100 TB path —
    // prove the substitution is sound: for each group, the sketch's
    // p50/p90/p99 must land within ±5% RANK of the exact discrete
    // answer (value-space distance is meaningless for quantiles).
    val exact = run("q_percentiles")
      .select("c_mktsegment", "o_orderpriority", "p50", "p90", "p99")
    val base = sources.Tables.orders(spark, sf)
      .join(sources.Tables.customer(spark, sf)
        .select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
    val approx = base.groupBy("c_mktsegment", "o_orderpriority")
      .agg(percentile_approx(col("o_totalprice"),
        array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("ap"))
    val joined = exact.join(approx, Seq("c_mktsegment", "o_orderpriority"))
      .collect()
    assert(joined.nonEmpty)
    val rows = base.select("c_mktsegment", "o_orderpriority", "o_totalprice")
      .collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
      .view.mapValues(_.map(_.getDouble(2)).sorted).toMap
    joined.foreach { r =>
      val vals = rows((r.getString(0), r.getString(1)))
      val ap = r.getSeq[Double](5)
      Seq(0.5, 0.9, 0.99).zipWithIndex.foreach { case (p, i) =>
        // rank of the sketch's answer within the sorted group
        val rank = vals.count(_ <= ap(i)).toDouble / vals.length
        assert(math.abs(rank - p) <= 0.05,
          s"group ${r.getString(0)}/${r.getString(1)} p$p: " +
            s"sketch value ${ap(i)} has rank $rank")
      }
    }
  }

  test("ev_inter_event_approx percentiles stay within rank-error of the exact gaps") {
    // the registered 100 TB twin: same schema, digest percentiles —
    // each approx value must land within ±5% RANK of its target in
    // the exact per-type gap distribution, and counts/means are the
    // exact op's (they share the identical pre-digest arithmetic)
    val exact = run("ev_inter_event")
      .select("event_type", "n_gaps", "mean_gap_s").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val approx = run("ev_inter_event_approx").collect()
    assert(approx.nonEmpty && approx.map(_.getString(0)).toSet == exact.keySet)
    // rebuild the exact gap distribution per type (spec SF is small)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gaps = sources.Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .filter(col("prev_ts").isNotNull)
      .select(col("event_type"),
        (unix_micros(col("ts")) - unix_micros(col("prev_ts"))).as("gap_us"))
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(1)).sorted).toMap
    approx.foreach { r =>
      val t = r.getString(0)
      assert((r.getLong(1), r.getDouble(2)) == exact(t),
        s"$t: count/mean must match the exact op")
      val vals = gaps(t)
      Seq((0.5, 3), (0.9, 4), (0.99, 5)).foreach { case (p, i) =>
        val rank = vals.count(_ <= r.getLong(i)).toDouble / vals.length
        assert(math.abs(rank - p) <= 0.05,
          s"$t p$p: digest value ${r.getLong(i)} has rank $rank")
      }
    }
  }

  test("ft_quantile_bins_approx bins partition rows with near-equal occupancy") {
    val approx = run("ft_quantile_bins_approx").collect()
    val exactTotal = run("ft_quantile_bins").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    assert(approx.nonEmpty)
    approx.groupBy(_.getString(0)).foreach { case (t, rows) =>
      // partition: approx bins cover exactly the exact fit's rows
      assert(rows.map(_.getLong(2)).sum == exactTotal(t),
        s"$t: approx bins must cover every row")
      // bins are labeled 1..10, ordered, with non-overlapping ranges
      val byBin = rows.sortBy(_.getInt(1))
      assert(byBin.map(_.getInt(1)).forall(b => b >= 1 && b <= 10))
      byBin.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getDouble(4) <= b.getDouble(3) ||
            math.abs(a.getDouble(4) - b.getDouble(3)) < 1e-9,
            s"$t: bin ranges overlap: ${a.getDouble(4)} > ${b.getDouble(3)}")
        case _ => ()
      }
      // near-equal occupancy: the sketch's rank error is n/10000, so
      // each bin holds n/10 within a generous ±20% relative band
      // (ties can only shift mass, and this table's values tie)
      val n = exactTotal(t).toDouble
      rows.foreach { r =>
        assert(math.abs(r.getLong(2) - n / 10) <= n / 10 * 0.5 + 2,
          s"$t bin ${r.getInt(1)}: ${r.getLong(2)} rows vs target ${n / 10}")
      }
    }
  }

  test("pipe_mix_report cells partition the corpus and shares sum to 1") {
    val rep = run("pipe_mix_report")
    val sums = rep.agg(sum(col("token_share")), sum(col("doc_share")),
      sum(col("n_docs"))).collect()(0)
    assert(math.abs(sums.getDouble(0) - 1.0) < 1e-3, "token shares")
    assert(math.abs(sums.getDouble(1) - 1.0) < 1e-3, "doc shares")
    // every scored doc lands in exactly one cell
    val scored = operators.TextOps
      .scoreQuality(sources.Tables.documents(spark, sf)).count()
    assert(sums.getLong(2) == scored, "cells must partition the corpus")
  }

  test("q_cube grand total equals the orders row count") {
    val grand = run("q_cube")
      .filter(col("g_status") === 1 && col("g_priority") === 1).collect()
    assert(grand.length == 1)
    assert(grand(0).getAs[Long]("n_orders") ==
      sources.Tables.orders(spark, sf).count())
  }

  test("FunnelStream.foldFunnel replays the registered ev_funnel query exactly") {
    // the streaming funnel's fold and the driver-hash-verified batch
    // operator implement the one rule — prove it on REAL event data
    // (µs timestamps included; sentinel '1970-01-01' ⇔ None)
    import graft.streaming.FunnelStream
    val byUser = sources.Tables.events(spark, sf)
      .filter(col("event_type").isin("signup", "view", "purchase"))
      .select("user_id", "ts", "event_type").collect()
      .groupBy(_.getLong(0))
    val folded = byUser.flatMap { case (uid, rows) =>
      FunnelStream.foldFunnel(uid, rows.toSeq.map(r =>
        (FunnelStream.epochMicros(r.getTimestamp(1)), r.getString(2))))
    }.map(f => (f.user_id,
      FunnelStream.epochMicros(f.signup_ts),
      f.view_ts.map(FunnelStream.epochMicros).getOrElse(0L),
      f.purchase_ts.map(FunnelStream.epochMicros).getOrElse(0L),
      f.stage.toLong)).toSet
    val batch = run("ev_funnel").collect().map(r => (r.getLong(0),
      FunnelStream.epochMicros(r.getTimestamp(1)),
      FunnelStream.epochMicros(r.getTimestamp(2)),
      FunnelStream.epochMicros(r.getTimestamp(3)),
      r.getInt(4).toLong)).toSet
    assert(folded == batch,
      s"stream fold diverged from ev_funnel: ${folded.diff(batch).take(3)} " +
        s"vs ${batch.diff(folded).take(3)}")
  }

  test("cdc_schema_reconcile preserves all rows and nulls the missing columns") {
    val rec = run("cdc_schema_reconcile")
    val total = sources.Tables.events(spark, sf).count()
    assert(rec.count() == total)
    assert(rec.filter(col("event_id") % 2 === 0)
      .filter(col("props").isNotNull).isEmpty)
    assert(rec.filter(col("event_id") % 2 === 1)
      .filter(col("event_type").isNotNull).isEmpty)
  }

  test("sim_kmeans covers the corpus and Lloyd's total WSS is non-increasing") {
    val n = sources.Tables.embeddings(spark, sf).count()
    val wssByIter = (1 to 3).map { it =>
      val stats = operators.SimilarityOps.kmeansStats(spark, sf, it)
      assert(stats.agg(sum(col("n_vecs"))).collect()(0).getLong(0) == n,
        s"iter $it: clusters must partition the corpus")
      stats.agg(sum(col("wss"))).collect()(0).getDouble(0)
    }
    // each extra round = one more (update means, reassign) step; both
    // halves of Lloyd's step can only lower the total objective
    assert(wssByIter(1) <= wssByIter(0) + 1e-6 &&
      wssByIter(2) <= wssByIter(1) + 1e-6,
      s"WSS must descend across iterations: $wssByIter")
  }

  test("txt_repetition fractions are hand-verifiable on a crafted doc") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("rep").toString
    // "a a a a b": top token 4/5; bigrams {a a,a a,a a,a b} → dup 2/4;
    // trigrams {aaa,aaa,aab} → dup 1/3. The 10-distinct-token doc has
    // top frac 0.1 — under the 0.15 cut (a 5-token all-distinct doc
    // would sit at 0.2 and legitimately flag: short docs are noisy).
    Seq((0L, "a a a a b", "en", "s", 9L),
        (1L, "q w e r t y u i o p", "en", "s", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("txt_repetition")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5)))
    assert(rows(0) == ((0L, 0.8, 0.5, round6(1.0 / 3), true)), s"${rows(0)}")
    assert(rows(1) == ((1L, 0.1, 0.0, 0.0, false)), s"${rows(1)}")
  }

  private def round6(x: Double) = math.rint(x * 1e6) / 1e6

  test("txt_boilerplate flags exactly the docs sharing a corpus-common shingle") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("boiler").toString
    // "p q r" appears in 5 docs (= boilerDf); doc 5 shares nothing
    val common = (0L to 4L).map(i => (i, s"p q r t$i u$i v$i", "en", "s", 9L))
    val docs = common :+ ((5L, "m n o k l j", "en", "s", 9L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("txt_boilerplate")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(4)))
      .toMap
    (0L to 4L).foreach { i =>
      assert(out(i) == ((4L, 1L, true)), s"doc $i: ${out(i)}")
    }
    assert(out(5L) == ((4L, 0L, false)), s"doc 5: ${out(5L)}")
  }

  test("ev_anomaly flags exactly the spike hour with the hand-computed z") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("anom").toString
    // "flat": constant hourly counts → sigma = 0 → excluded entirely.
    // "spiky": hourly counts 1,1,1,1,16 → mean 4, population variance
    // (4·(−3)² + 12²)/5 = 36, so z(16) = 12/6 = 2.0 exactly (flagged
    // at |z| ≥ 2) and z(1) = −0.5 (not flagged).
    // ts is written as a raw nanos long — the same physical shape the
    // driver's TIMESTAMP(NANOS) parquet presents to Tables.events.
    val hourNs = 3600L * 1000000000L
    def at(h: Int, k: Int) = (0 until k).map { j =>
      (h * 1000L + j, h * hourNs + j * 1000000000L, j.toLong, "spiky",
        1.0, "{}")
    }
    val flat = (0 until 4).map(h =>
      (9000L + h, h * hourNs, 99L, "flat", 1.0, "{}"))
    val events = (0 until 4).flatMap(at(_, 1)) ++ at(4, 16) ++ flat
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("ev_anomaly")(spark, dir).collect()
    assert(out.length == 1, out.mkString(";"))
    assert(out(0).getString(0) == "spiky" && out(0).getLong(2) == 16L &&
      out(0).getDouble(3) == 2.0, out(0).toString)
  }

  test("pipe_funnel_report stages nest monotonically and tie out to their ops") {
    val rep = run("pipe_funnel_report").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(rep.keySet == Set(0L, 1L, 2L, 3L))
    (0L to 2L).foreach { s =>
      assert(rep(s)._1 >= rep(s + 1)._1 && rep(s)._2 >= rep(s + 1)._2,
        s"stage $s must not gain docs/tokens: $rep")
    }
    // the terminal stage IS pipe_curate_cc's survivor set
    assert(rep(3L)._1 == run("pipe_curate_cc").count(),
      "cc_keep stage must equal the curate_cc output")
  }

  test("pipe_pack_sequences bins are contiguous, ordered, and conserve tokens") {
    val bins = run("pipe_pack_sequences").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val scored = operators.TextOps
      .scoreQuality(sources.Tables.documents(spark, sf))
    bins.groupBy(_._1).foreach { case (lang, rows) =>
      val sorted = rows.sortBy(_._2)
      // bin ids are dense 0..n
      assert(sorted.map(_._2).toSeq == (0L until sorted.length).toSeq,
        s"$lang: bins not contiguous")
      // doc-id ranges are disjoint and ordered (contiguous packing)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._5 < b._4,
          s"$lang: bin ${a._2} overlaps bin ${b._2}")
        case _ => ()
      }
      // token conservation per language
      val total = scored.filter(col("lang") === lang)
        .agg(sum(col("n_tokens"))).collect()(0).getLong(0)
      assert(rows.map(_._3).sum == total, s"$lang: tokens not conserved")
    }
  }

  test("txt_scrub redacts crafted PII and leaves clean text untouched") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("scrub").toString
    val dirty = "mail bob@example.com or call 555-123-4567 from 10.0.0.1 ok"
    val clean = "nothing sensitive here at all"
    Seq((0L, dirty, "en", "s", dirty.length.toLong),
        (1L, clean, "en", "s", clean.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("txt_scrub")(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4),
          r.getLong(5))).toMap
    val (em, ph, ip, fp, removed) = out(0L)
    assert((em, ph, ip) == ((1L, 1L, 1L)), s"counts: $em $ph $ip")
    // the scrubbed fingerprint equals md5 of the hand-scrubbed text
    val expected = "mail <EMAIL> or call <PHONE> from <IP> ok"
    val expectedMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(expected.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(fp == expectedMd5, "scrub output must match the hand redaction")
    assert(removed == dirty.length - expected.length)
    // clean doc: identity transform, zero counts
    assert(out(1L) == ((0L, 0L, 0L,
      java.security.MessageDigest.getInstance("MD5")
        .digest(clean.getBytes("UTF-8")).map("%02x".format(_)).mkString, 0L)))
  }

  test("pipe_temperature_mix weights sum to 1 and α=0.5 upweights the tail") {
    val mix = run("pipe_temperature_mix").collect()
    val wSum = mix.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wSum - 1.0) < 1e-4, s"weights sum to $wSum")
    val boost = mix.map(r =>
      r.getAs[Double]("share") -> r.getAs[Double]("weight") /
        r.getAs[Double]("share"))
    val minShare = boost.minBy(_._1)
    val maxShare = boost.maxBy(_._1)
    assert(minShare._2 > maxShare._2,
      "temperature must upweight the smallest source relative to the largest")
    assert(mix.map(_.getAs[Long]("token_draw")).sum <= 1000000L,
      "floor'd draws cannot exceed the budget")
  }

  test("dedup_substring spans are merged-maximal and tie out to the scrub") {
    import org.apache.spark.sql.expressions.Window
    val spans = run("dedup_substring")
    assert(spans.filter(col("span_tokens") < 5 ||
      col("span_tokens") =!= col("span_end") - col("span_start") + 1).isEmpty,
      "span under gram resolution or inconsistent bounds")
    // consecutive spans per doc must be separated by >=2 positions —
    // an adjacent pair would have merged into one island
    val w = Window.partitionBy("doc_id").orderBy("span_start")
    val unmerged = spans.withColumn("prev_end", lag(col("span_end"), 1).over(w))
      .filter(col("prev_end").isNotNull &&
        col("span_start") <= col("prev_end") + 1)
    assert(unmerged.isEmpty, "overlapping/adjacent spans failed to merge")
    // the scrub must remove exactly the span-covered token count
    val bySpan = spans.groupBy("doc_id").agg(sum("span_tokens").as("t"))
    val mismatch = run("dedup_substring_scrub")
      .join(bySpan, Seq("doc_id"), "left")
      .filter(coalesce(col("t"), lit(0L)) =!= col("n_removed"))
    assert(mismatch.isEmpty, "scrub n_removed diverges from the span mask")
  }

  test("pipe_shard_manifest shards partition the corpus exactly") {
    val m = run("pipe_shard_manifest")
    val d = sources.Tables.documents(spark, sf)
    assert(m.agg(sum("n_docs")).head.getLong(0) == d.count(),
      "shard doc counts must sum to the corpus")
    assert(m.agg(sum("n_chars")).head.getLong(0) ==
      d.agg(sum("n_chars")).head.getLong(0),
      "shard byte counts must sum to the corpus")
    assert(m.count() <= 8 &&
      m.select("shard").distinct().count() == m.count(),
      "at most nShards rows, one per shard")
  }

  test("dedup_semantic is precise within clusters and recall is bounded") {
    // exact all-pairs WITHIN each trained cluster at sf0.001 — the
    // blocked op's output must be a SUBSET with identical cosines
    // (precision 1.0), and the LSH secondary blocking must hold the
    // documented recall floor over the reported >= 0.3 band (sign-LSH
    // collision odds at cosine 0.3-0.5 give ~0.67-0.85 per-pair
    // recall; the is_dup >= 0.9 band is where the construction is
    // near-exhaustive)
    import graft.functions.VectorMath.{dotQ, cosineQ}
    val m = operators.SimilarityOps
      .kmeansTrain(spark, sf, operators.SimilarityOps.kmIters)
      .select(col("vec_id"), col("dq"), col("cluster"))
      .withColumn("norm", dotQ(col("dq"), col("dq")))
    val a = m.select(col("vec_id").as("a_id"), col("cluster"),
      col("dq").as("adq"), col("norm").as("an"))
    val b = m.select(col("vec_id").as("b_id"), col("cluster"),
      col("dq").as("bdq"), col("norm").as("bn"))
    val exact = a.join(b, Seq("cluster")).filter(col("a_id") < col("b_id"))
      .withColumn("cosine",
        cosineQ(col("adq"), col("bdq"), col("an"), col("bn")))
      .filter(col("cosine") >= 0.3)
      .select(col("cluster"), col("a_id"), col("b_id"),
        round(col("cosine"), 6).as("cosine"),
        (col("cosine") >= 0.9).cast("int").as("is_dup"))
    val got = run("dedup_semantic")
    assert(got.exceptAll(exact).isEmpty,
      "blocked output contained a pair the exact within-cluster " +
        "computation rejects")
    val nExact = exact.count()
    val nGot = got.count()
    assert(nExact > 0 && nGot.toDouble / nExact >= 0.55,
      s"recall $nGot/$nExact under the 0.55 floor")
    info(s"dedup_semantic band recall: $nGot/$nExact")
  }

  test("txt_bpe_train survives a vocabulary that runs dry before the last round") {
    // a corpus whose whole vocabulary collapses to single symbols
    // after one batched round: the empty-batch fold must carry the
    // remaining dry rounds without annihilating the vocab, the rule
    // table must contain only the real merges, and the encode report
    // must show the fully-merged symbol counts
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_dry").toString
    Seq(
      (1L, "ab ab ab", "en", "crawl", 8L),
      (2L, "ab", "en", "crawl", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rules = SparkEntry.queries("txt_bpe_train")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    // one real merge: (a, b) weighted 4 (3 + 1 occurrences of 'ab');
    // afterwards every word is one symbol — the dry rounds emit nothing
    assert(rules.toSeq == Seq((1L, "a", "b", 4L)), rules.mkString("|"))
    val enc = SparkEntry.queries("txt_bpe_apply")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    // doc 1: 3 words, 6 chars, 3 fully-merged symbols, compression 2.0
    assert(enc.toSeq == Seq((1L, 3L, 6L, 3L, 2.0), (2L, 1L, 2L, 1L, 2.0)),
      enc.mkString("|"))
  }

  test("hyperplane key width shrinks candidates without breaking precision") {
    // the LSH scale knob (SCALE.md r8: fixed 6-bit keys saturate at
    // 10x and go quadratic): widening planes must (a) stay
    // deterministic from the same seeded LCG, (b) cut the candidate
    // set, (c) keep precision 1.0 — every emitted pair is
    // exact-verified, so width only moves recall
    import graft.functions.{HyperplaneBuckets => HB}
    assert(HB.weightsFor(HB.PLANES).zip(HB.weights)
      .forall { case (a, b) => a.sameElements(b) },
      "weightsFor(PLANES) must reproduce the registered table")

    def candCount(planes: Int): Long = {
      val keyed = sources.Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("label"),
          posexplode(expr(s"hyperplane_buckets(embedding, $planes)"))
            .as(Seq("tbl", "key")))
      keyed.as("x").join(keyed.as("y"),
          col("x.label") === col("y.label") && col("x.tbl") === col("y.tbl") &&
            col("x.key") === col("y.key") && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id"), col("y.vec_id")).distinct().count()
    }
    val c6 = candCount(6); val c10 = candCount(10)
    assert(c6 > 0 && c10 > 0, s"vacuous: c6=$c6 c10=$c10")
    assert(c10 < c6, s"wider keys must prune candidates: c6=$c6 c10=$c10")

    // precision at the wider width: every emitted pair appears in the
    // exact label-blocked all-pairs set with the identical cosine
    import graft.functions.VectorMath.{cosineQ, dotQ, quantized}
    val m = sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), quantized(col("embedding")).as("q"))
      .withColumn("n", dotQ(col("q"), col("q")))
    val exact = m.as("a").join(m.as("b"),
        col("a.label") === col("b.label") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine",
        cosineQ(col("a.q"), col("b.q"), col("a.n"), col("b.n")))
      .filter(col("cosine") >= 0.4)
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        round(col("cosine"), 6).as("cosine"))
    val wide = operators.DedupOps.embeddingPairsAt(spark, sf, planes = 10)
    assert(wide.exceptAll(exact).isEmpty,
      "wider-key output contained a pair the exact computation rejects")
  }

  test("dedup_substring's xxhash64 census is span-identical to strings") {
    // the documented 100 TB census form (8-byte shuffle keys instead
    // of gram strings) must emit the exact same maximal spans — a
    // hash collision could only over-mark, and none occurs here
    val strings = run("dedup_substring")
    val hashed = operators.DedupOps.dupSpansHashed(spark, sf)
    assert(strings.exceptAll(hashed).isEmpty &&
      hashed.exceptAll(strings).isEmpty,
      "hashed census diverged from the string census")
    assert(strings.count() > 0, "vacuous identity: no spans at this SF")
  }

  test("txt_bpe_train batches disjoint merges and rejects conflicts") {
    // crafted pair counts (a,b)=5 > (c,d)=4 > (b,c)=3: one round must
    // admit BOTH disjoint winners (a,b) and (c,d) together, reject
    // (b,c) for sharing a symbol with each, then pick it up in round 2
    // once the conflict is gone — the batched-admission semantics
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_batch").toString
    Seq((1L, "ab ab ab ab ab cd cd cd cd bc bc bc", "en", "crawl", 35L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rules = SparkEntry.queries("txt_bpe_train")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(rules.toSeq == Seq(
      (1L, "a", "b", 5L), (1L, "c", "d", 4L), (2L, "b", "c", 3L)),
      rules.mkString("|"))
  }

  test("sim_recall_report measures every ANN path with recalls in [0,1]") {
    val rows = run("sim_recall_report")
      .select("method", "k", "n_queries", "recall", "min_recall").collect()
    assert(rows.map(_.getString(0)).sorted.toSeq ==
      Seq("ivf_kmeans", "ivfpq", "lsh"), "one row per ANN method")
    rows.foreach { r =>
      val (recall, minR) = (r.getDouble(3), r.getDouble(4))
      assert(recall >= 0.0 && recall <= 1.0 && minR >= 0.0 && minR <= recall,
        s"${r.getString(0)}: recall=$recall min=$minR out of bounds")
      assert(r.getLong(2) == 10L, "all 10 queries measured")
    }
    // the LSH candidate union is wide (24 tables); its top-5 should
    // dominate the single-probe quantized paths — pin a floor so a
    // bucketing regression (e.g. a broken hyperplane key) is caught
    val lsh = rows.find(_.getString(0) == "lsh").get.getDouble(3)
    assert(lsh >= 0.5, s"lsh recall@5 collapsed: $lsh")
  }

  test("ft_item_pagerank ranks are a probability-like descending top-20") {
    val rows = run("ft_item_pagerank")
      .select("p_partkey", "degree", "pagerank").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val pr = rows.map(_.getDouble(2))
    assert(pr.forall(p => p > 0.0 && p < 1.0), "ranks in (0,1)")
    assert(pr.zip(pr.tail).forall { case (a, b) => a >= b },
      "output ordered by rank desc")
    // rank mass is conserved up to per-node rounding: the full frame
    // sums to ~1.0; the top-20 alone must stay strictly below that
    assert(pr.sum < 1.0, "top-20 mass below total")
    assert(rows.map(_.getLong(1)).forall(_ >= 1L), "degrees >= 1")
  }

  test("txt_quality_distill descends from the majority prior toward the teacher") {
    val rows = run("txt_quality_distill").orderBy("round").collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L to 8L),
      "one report row per round, 0 = untrained baseline")
    val acc = rows.map(r => r.getDouble(r.fieldIndex("acc")))
    val n = rows.head.getLong(rows.head.fieldIndex("n"))
    // untrained w=0 scores every doc at p=0.5 → predicts all-positive,
    // so round 0's accuracy IS the teacher's positive rate
    val nCorrect0 = rows.head.getLong(rows.head.fieldIndex("n_correct"))
    assert(math.abs(acc(0) - nCorrect0.toDouble / n) < 1e-6)
    assert(acc(0) < 0.6, s"baseline should be near the ~0.56 prior: ${acc(0)}")
    // trained gate must clear the prior decisively and stay under the
    // 5% label-noise ceiling (the teacher disagrees with itself on
    // doc_id % 20 == 0 — no linear scorer can exceed ~0.95)
    assert(acc.last > 0.8 && acc.last <= 0.96,
      s"final accuracy ${acc.last} out of the learnable band")
    // descent actually moved the weights off the origin
    val last = rows.last
    assert(Seq("wb", "w1", "w2").exists(c =>
      last.getLong(last.fieldIndex(c)) != 0L))
  }

  test("pipe_dsir recovers the target domain from hashed-bigram weights") {
    val rows = run("pipe_dsir").collect()
    val docs = rows.length
    // every document stays in the report, zero-bigram ones at w=0
    assert(rows.forall(r => r.getLong(r.fieldIndex("n_bigrams")) >= 0L))
    assert(rows.forall { r =>
      r.getLong(r.fieldIndex("n_bigrams")) > 0L ||
        (r.getDouble(r.fieldIndex("logw")) == 0.0 &&
          r.getLong(r.fieldIndex("selected")) == 0L)
    }, "bigram-free docs must score 0 and stay unselected")
    // selected = logw > 0, exactly
    assert(rows.forall { r =>
      (r.getDouble(r.fieldIndex("logw")) > 0.0) ==
        (r.getLong(r.fieldIndex("selected")) == 1L)
    })
    // the importance weights must RECOVER the hidden target domain:
    // selected docs are 'en' far above the corpus base rate, and the
    // majority of 'en' docs make the cut (256 buckets over 5 langs)
    val en = rows.count(_.getString(1) == "en").toDouble
    val sel = rows.filter(_.getLong(rows.head.fieldIndex("selected")) == 1L)
    val selEn = sel.count(_.getString(1) == "en").toDouble
    assert(sel.nonEmpty && selEn / sel.length > (en / docs) + 0.15,
      s"precision ${selEn / sel.length} should beat base rate ${en / docs}")
    assert(selEn / en > 0.5, s"recall ${selEn / en} should exceed half")
  }

  test("ft_kaplan_meier: survival non-increasing, risk set strictly shrinking") {
    val km = run("ft_kaplan_meier").orderBy("tte_day").collect()
    assert(km.nonEmpty)
    // n_risk at the first day equals the whole label block
    val total = run("ft_time_to_event").count()
    assert(km.head.getLong(km.head.fieldIndex("n_risk")) == total,
      "first at-risk count must equal the observation count")
    km.sliding(2).withFilter(_.length == 2).foreach { case Array(a, b) =>
      assert(b.getLong(b.fieldIndex("n_risk")) <
        a.getLong(a.fieldIndex("n_risk")), "risk set must shrink")
      assert(b.getDouble(b.fieldIndex("ln_survival")) <=
        a.getDouble(a.fieldIndex("ln_survival")) + 1e-12,
        "ln-survival must be non-increasing")
    }
    km.foreach { r =>
      val h = r.getDouble(r.fieldIndex("hazard"))
      assert(h >= 0.0 && h <= 1.0, s"hazard $h out of [0,1]")
      assert(r.getDouble(r.fieldIndex("ln_survival")) <= 0.0)
    }
  }

  test("sim_mmr: picks distinct, first pick is the exact top-1, scores shrink") {
    val mmr = run("sim_mmr").collect()
    val byQ = mmr.groupBy(_.getLong(0))
    byQ.foreach { case (_, rows) =>
      val ids = rows.map(_.getLong(rows.head.fieldIndex("cand_id")))
      assert(ids.distinct.length == ids.length, "duplicate selection")
      // best-achievable mmr can only fall as the penalty set grows —
      // but only from rank 2 on: rank 1's pen is DEFINED as 0 (empty
      // selected set), so a negative-similarity pool can legally score
      // rank 2 above rank 1
      val scores = rows.sortBy(_.getInt(rows.head.fieldIndex("rank")))
        .map(_.getDouble(rows.head.fieldIndex("mmr"))).drop(1)
      scores.sliding(2).withFilter(_.length == 2).foreach {
        case Array(a, b) =>
          assert(b <= a + 1e-12, "mmr objective must be non-increasing")
      }
    }
    val top1 = run("sim_topk_exact").filter(col("rank") === 1)
      .select("q_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    mmr.filter(_.getInt(1) == 1).foreach { r =>
      assert(top1(r.getLong(0)) == r.getLong(2),
        "rank-1 MMR pick must be the plain exact top-1")
    }
  }

  test("ft_quantile_bins: bins contiguous and balanced within each type") {
    run("ft_quantile_bins").collect().groupBy(_.getString(0))
      .foreach { case (t, rows) =>
        val sorted = rows.sortBy(_.getInt(1))
        assert(sorted.map(_.getInt(1)).toSeq == (1 to 10),
          s"$t: bins must be 1..10")
        sorted.sliding(2).withFilter(_.length == 2).foreach {
          case Array(a, b) =>
            assert(a.getDouble(a.fieldIndex("hi")) <=
              b.getDouble(b.fieldIndex("lo")) + 1e-12,
              s"$t: bin ranges must not overlap")
        }
        val ns = sorted.map(_.getLong(sorted.head.fieldIndex("n")))
        assert(ns.max - ns.min <= 1, s"$t: equal-frequency bins must " +
          s"differ by at most one row, got ${ns.toSeq}")
      }
  }

  test("ft_assoc_rules: counts consistent, intersection bounded") {
    run("ft_assoc_rules").collect().foreach { r =>
      val (na, nb, nboth) = (r.getLong(r.fieldIndex("n_a")),
        r.getLong(r.fieldIndex("n_b")), r.getLong(r.fieldIndex("n_both")))
      assert(nboth <= math.min(na, nb), "intersection exceeds a side")
      val lift = r.getDouble(r.fieldIndex("lift"))
      val confAB = r.getDouble(r.fieldIndex("conf_a_b"))
      assert(lift >= 0.0 && confAB >= 0.0 && confAB <= 1.0)
    }
  }

  test("mm_shot_boundary: frame geometry matches byte lengths, shots bounded") {
    val docs = run("mm_shot_boundary")
      .join(SparkEntry.queries("txt_stats")(spark, sf)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars")),
        Seq("doc_id"))
      .collect()
    assert(docs.nonEmpty)
    docs.foreach { r =>
      val frames = r.getLong(r.fieldIndex("n_frames"))
      val shots = r.getLong(r.fieldIndex("n_shots"))
      val chars = r.getLong(r.fieldIndex("n_chars"))
      assert(frames == (chars + 63) / 64,
        s"doc ${r.getLong(0)}: frames $frames != ceil($chars/64)")
      assert(shots >= 1 && shots <= frames, "shot count out of bounds")
    }
  }

  test("ev_bot_detect: flag agrees with the reported cv2 at the 0.1 cut") {
    val rows = run("ev_bot_detect").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cv2 = r.getDouble(r.fieldIndex("cv2"))
      val bot = r.getInt(r.fieldIndex("is_bot"))
      if (bot == 1) assert(cv2 <= 0.1 + 1e-6, s"flagged at cv2=$cv2")
      else assert(cv2 >= 0.1 - 1e-6, s"unflagged at cv2=$cv2")
    }
  }

  test("txt_zipf: negative slope, rank frame is the min(1000, vocab) cut") {
    val r = run("txt_zipf").collect().head
    assert(r.getDouble(r.fieldIndex("zipf_slope")) < 0.0,
      "rank-frequency slope must be negative")
    val nTypes = r.getLong(r.fieldIndex("n_types"))
    assert(r.getLong(r.fieldIndex("n_ranks")) == math.min(1000L, nTypes))
    assert(r.getLong(r.fieldIndex("n_tokens")) >= nTypes)
  }

  test("cdc_log_compact preserves apply-snapshot state exactly") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val applied = run("cdc_log_compact")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "DELETE")
      .select("user_id", "event_id", "ts", "value")
    val full = run("cdc_apply_snapshot")
      .select("user_id", "event_id", "ts", "value")
    assert(applied.exceptAll(full).isEmpty &&
      full.exceptAll(applied).isEmpty,
      "applying the compacted log must yield the full-log state")
  }

  test("dq_quarantine rows are exactly the gate's worst offenders") {
    val gate = run("dq_outliers").select("event_type", "n_outliers")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = run("dq_quarantine").collect()
    rows.groupBy(_.getString(0)).foreach { case (t, rs) =>
      assert(rs.length == math.min(5L, gate(t)),
        s"$t: quarantine must export min(5, n_outliers) rows")
    }
    // every quarantined deviation clears the same fence the gate counts
    val stats = run("dq_outliers")
      .select("event_type", "mad").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      val dev = r.getDouble(r.fieldIndex("abs_dev"))
      assert(dev * 100 > stats(r.getString(0)) * 100 * 4.4478 - 1e-6,
        "quarantined row below the robust fence")
    }
  }

  test("pipe_epoch_shuffle: each epoch is a full permutation, orders differ") {
    val sh = run("pipe_epoch_shuffle").collect()
    val docs = run("txt_stats").count()
    sh.groupBy(_.getInt(0)).foreach { case (e, rows) =>
      val ids = rows.map(_.getLong(rows.head.fieldIndex("doc_id")))
      assert(ids.length == docs && ids.distinct.length == ids.length,
        s"epoch $e must contain every doc exactly once")
      // positions are dense 1..n within each shard
      rows.groupBy(_.getLong(rows.head.fieldIndex("shard")))
        .foreach { case (s, rs) =>
          val pos = rs.map(_.getInt(rs.head.fieldIndex("pos"))).sorted
          assert(pos.toSeq == (1 to rs.length), s"epoch $e shard $s: " +
            "positions must be dense ranks")
        }
    }
    // the per-epoch salt must actually re-order: the two epochs'
    // (shard, pos) layouts for the same doc differ somewhere
    val byDoc = sh.groupBy(_.getLong(sh.head.fieldIndex("doc_id")))
    assert(byDoc.exists { case (_, rs) =>
      rs.map(r => (r.getLong(r.fieldIndex("shard")),
        r.getInt(r.fieldIndex("pos")))).distinct.length > 1
    }, "epochs must not share an order")
  }

  test("sim_vector_health: variance non-negative, zero counts bounded") {
    val rows = run("sim_vector_health").collect()
    assert(rows.length == 64, "one row per embedding dimension")
    rows.foreach { r =>
      assert(r.getDouble(r.fieldIndex("dim_var")) >= 0.0)
      assert(r.getLong(r.fieldIndex("n_zero")) <=
        r.getLong(r.fieldIndex("n_vecs")))
    }
  }

  test("sim_recall_report agrees with a hand-computed lsh recall") {
    val exact = run("sim_topk_exact").select("q_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = run("sim_ann_lsh").select("q_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (ann & exact).size.toDouble / exact.size
    val got = run("sim_recall_report")
      .filter(col("method") === "lsh").select("recall")
      .collect().head.getDouble(0)
    assert(math.abs(got - want) < 1e-6, s"report $got != replay $want")
  }

  test("ev_lifecycle: daily identity and day-to-day flow conservation") {
    val rows = run("ev_lifecycle").collect()
      .sortBy(_.getTimestamp(0).getTime)
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("active")) ==
        r.getLong(r.fieldIndex("new_users")) +
          r.getLong(r.fieldIndex("retained")) +
          r.getLong(r.fieldIndex("resurrected")),
        s"active != new+retained+resurrected on ${r.getTimestamp(0)}")
    }
    // everyone active today either retains tomorrow or churns at d+1
    rows.sliding(2).foreach { case Array(d0, d1) =>
      assert(d0.getLong(d0.fieldIndex("active")) ==
        d1.getLong(d1.fieldIndex("retained")) +
          d1.getLong(d1.fieldIndex("churned")),
        s"flow broken ${d0.getTimestamp(0)} -> ${d1.getTimestamp(0)}")
    }
    // every user is new exactly once
    val totalNew = rows.map(_.getLong(rows.head.fieldIndex("new_users"))).sum
    val users = graft.sources.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(totalNew == users, s"sum(new)=$totalNew != $users users")
  }

  test("ev_inter_event: gap census complete, percentiles ordered") {
    val rows = run("ev_inter_event").collect()
    val ev = graft.sources.Tables.events(spark, sf)
    val expect = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_.getLong(rows.head.fieldIndex("n_gaps"))).sum == expect,
      "per-user gaps must number events - users")
    rows.foreach { r =>
      val (p50, p90, p99) = (r.getLong(r.fieldIndex("p50_us")),
        r.getLong(r.fieldIndex("p90_us")), r.getLong(r.fieldIndex("p99_us")))
      assert(p50 <= p90 && p90 <= p99, s"percentiles out of order: $r")
      assert(r.getDouble(r.fieldIndex("mean_gap_s")) >= 0.0)
    }
  }

  test("cdc_redelivery_audit: duplicates equal the constructed replays") {
    val rows = run("cdc_redelivery_audit").collect()
    val ev = graft.sources.Tables.events(spark, sf)
    val replays = ev.filter(col("event_id") % 37 === 0)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val originals = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val t = r.getString(r.fieldIndex("event_type"))
      val dup = r.getLong(r.fieldIndex("n_dup_deliveries"))
      assert(dup == replays.getOrElse(t, 0L),
        s"$t: dup count != constructed replays")
      assert(r.getLong(r.fieldIndex("n_landed")) ==
        originals(t) + replays.getOrElse(t, 0L))
      // only replays can arrive behind the high-water mark
      assert(r.getLong(r.fieldIndex("n_late")) <= dup)
    }
  }

  test("ft_graph_jaccard: similarity consistent with its own counts") {
    val rows = run("ft_graph_jaccard").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, d1, d2) = (r.getLong(r.fieldIndex("n_common")),
        r.getLong(r.fieldIndex("d1")), r.getLong(r.fieldIndex("d2")))
      assert(n >= 2 && n <= math.min(d1, d2), s"counts inconsistent: $r")
      val uni = d1 + d2 - n
      val micro = (2 * n * 1000000 + uni) / (2 * uni)
      assert(r.getDouble(r.fieldIndex("jaccard")) == micro.toDouble / 1e6,
        s"jaccard drifted from its counts: $r")
    }
  }

  test("ft_mutual_info: MI within information-theoretic bounds") {
    val rows = run("ft_mutual_info").collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val mi = r.getDouble(r.fieldIndex("mi_nats"))
      val k = r.getLong(r.fieldIndex("n_categories"))
      assert(k >= 1)
      // MI(X;Y) <= H(Y) <= ln 2 for a binary label; smoothing can
      // push a hair below zero
      assert(mi >= -0.001 && mi <= math.log(2.0) + 1e-9,
        s"${r.getString(0)}: mi=$mi out of [0, ln2]")
    }
  }

  test("txt_ngram_novelty: every distinct shingle is novel exactly once") {
    val rows = run("txt_ngram_novelty").collect()
    val totalNovel = rows.map(_.getLong(rows.head.fieldIndex("n_novel"))).sum
    val distinctShingles = graft.sources.Tables.documents(spark, sf)
      .select(graft.operators.Tok.toks.as("t"))
      .filter(size(col("t")) >= 3)
      .select(explode(expr("shingle_hash3(t)")).as("sh"))
      .select("sh").distinct().count()
    assert(totalNovel == distinctShingles,
      s"sum(n_novel)=$totalNovel != $distinctShingles distinct shingles")
    val first = rows.minBy(_.getLong(rows.head.fieldIndex("decile")))
    assert(rows.forall(r => first.getDouble(first.fieldIndex("novelty")) >=
      r.getDouble(r.fieldIndex("novelty"))),
      "the opening decile must be the novelty peak")
  }

  test("sim_knn_graph: ranks contiguous, cosines ordered, subset of exact") {
    val rows = run("sim_knn_graph").collect()
    assert(rows.nonEmpty)
    val byVec = rows.groupBy(_.getLong(rows.head.fieldIndex("vec_id")))
    byVec.foreach { case (v, rs) =>
      val ranked = rs.sortBy(_.getLong(rs.head.fieldIndex("rank")))
      assert(ranked.map(_.getLong(rs.head.fieldIndex("rank"))).toSeq ==
        (1L to ranked.length).toSeq, s"vec $v: ranks not contiguous")
      val cosines = ranked.map(_.getDouble(rs.head.fieldIndex("cosine")))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b },
        s"vec $v: cosine must not increase with rank")
      assert(ranked.forall(r =>
        r.getLong(r.fieldIndex("neighbor_id")) != v), s"vec $v: self edge")
    }
    // a bucket-blocked graph can never beat brute force: for the
    // exact suite's query vectors, the graph's best cosine is at most
    // the exact top-1
    val exactTop = run("sim_topk_exact")
      .filter(col("rank") === 1).select("q_id", "cosine")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    byVec.filterKeys(exactTop.contains).foreach { case (v, rs) =>
      val best = rs.map(_.getDouble(rs.head.fieldIndex("cosine"))).max
      assert(best <= exactTop(v) + 1e-9,
        s"vec $v: graph cosine $best beats exact ${exactTop(v)}")
    }
  }

  test("ev_ab_srm: healthy split reports clean; doctored split trips") {
    val clean = run("ev_ab_srm").collect()
    assert(clean.nonEmpty)
    clean.foreach { r =>
      assert(r.getInt(r.fieldIndex("srm")) == 0,
        s"healthy % 2 split flagged: $r")
      // chi2 recomputable from its own counts
      val (na, nb) = (r.getLong(r.fieldIndex("n_a")),
        r.getLong(r.fieldIndex("n_b")))
      val micro = (2 * 1000000L * (na - nb) * (na - nb) + (na + nb)) /
        (2 * (na + nb))
      assert(r.getDouble(r.fieldIndex("chi2")) == micro.toDouble / 1e6)
    }
    // sensitivity: a 60/40 doctored assignment over 1000 users has
    // chi2 = 200² / 1000 = 40 >> 3.84 — the gate must fire
    val s = spark
    import s.implicits._
    val doctored = (0 until 1000).map(u =>
      ("exp", u.toLong, if (u < 600) 0 else 1)).toDF(
      "event_type", "user_id", "arm")
    val row = graft.operators.EventOps.srmOf(doctored).collect()
      .find(_.getString(0) == "exp").get
    assert(row.getInt(row.fieldIndex("srm")) == 1, "doctored split missed")
    assert(row.getDouble(row.fieldIndex("chi2")) == 40.0)
  }

  test("ft_correlation: matrix complete, r bounded, self-consistent sign") {
    val rows = run("ft_correlation").collect()
    assert(rows.length == 6, "4 features -> 6 unordered pairs")
    rows.foreach { r =>
      val c = r.getDouble(r.fieldIndex("corr"))
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9, s"|r| > 1: $r")
      assert(r.getLong(r.fieldIndex("n_users")) > 0)
    }
    // activity counts are all positively related in this corpus —
    // events vs active_days especially (more events ⇒ more days seen)
    val ed = rows.find(r => r.getString(0) == "n_events" &&
      r.getString(1) == "active_days").get
    assert(ed.getDouble(ed.fieldIndex("corr")) > 0.0)
  }

  test("txt_distill_calibration: buckets bounded, gap self-consistent") {
    val rows = run("txt_distill_calibration").collect()
    val nDocs = rows.map(_.getLong(rows.head.fieldIndex("n_docs"))).sum
    val scored = graft.sources.Tables.documents(spark, sf)
      .select(graft.operators.Tok.toks.as("t"))
      .filter(size(col("t")) > 0).count()
    assert(nDocs == scored, "every scored doc lands in exactly one bucket")
    rows.foreach { r =>
      val b = r.getLong(r.fieldIndex("bucket"))
      val mp = r.getDouble(r.fieldIndex("mean_p"))
      val pr = r.getDouble(r.fieldIndex("pos_rate"))
      assert(b >= 0 && b <= 9)
      // a bucket's mean prediction lies inside the bucket (9 owns 1.0)
      assert(mp >= b / 10.0 - 1e-6 && mp <= (b + 1) / 10.0 + 1e-6,
        s"bucket $b mean_p $mp outside its range")
      assert(pr >= 0.0 && pr <= 1.0)
      assert(math.abs(r.getDouble(r.fieldIndex("gap")) - (mp - pr)) < 2e-6)
    }
    // discrimination: the top bucket must be genuinely more positive
    // than the bottom one, or the gate learned nothing
    val byB = rows.map(r => r.getLong(r.fieldIndex("bucket")) ->
      r.getDouble(r.fieldIndex("pos_rate"))).toMap
    assert(byB(byB.keys.max) > byB(byB.keys.min) + 0.2,
      "top score bucket is not more positive than the bottom")
  }

  test("dedup_minhash_recall: bands partition exact pairs; tail rises") {
    val rows = run("dedup_minhash_recall").collect()
    val exact = run("dedup_ngram_jaccard").count()
    assert(rows.map(_.getLong(rows.head.fieldIndex("n_pairs"))).sum == exact,
      "bands must partition the exact tau-pair universe")
    rows.foreach { r =>
      val (n, f) = (r.getLong(r.fieldIndex("n_pairs")),
        r.getLong(r.fieldIndex("n_found")))
      assert(f <= n, "found cannot exceed the band population")
      val rec = r.getDouble(r.fieldIndex("recall"))
      assert(rec >= 0.0 && rec <= 1.0)
    }
    // precision 1.0 by construction: every emitted minhash pair
    // carries its exact-verified jaccard >= tau (the minhash path is
    // NOT lang/size-blocked, so it may legitimately surface tau-pairs
    // outside the blocked ground-truth universe — recall here is
    // measured against what the blocked exact pipeline would dedupe)
    val mh = run("dedup_minhash").collect()
    assert(mh.forall(
      _.getDouble(mh.head.fieldIndex("jaccard")) >= 0.5 - 5e-7),
      "minhash emitted a sub-tau pair")
    // S-curve: the top band cannot recall worse than the bottom one
    val byBand = rows.map(r => r.getLong(r.fieldIndex("band")) ->
      r.getDouble(r.fieldIndex("recall"))).toMap
    assert(byBand(byBand.keys.max) >= byBand(byBand.keys.min),
      "banded-LSH recall must not fall with similarity")
  }

  test("ev_attribution_shapley: hand-computed game + efficiency axiom") {
    // crafted 2-channel game: sessions {click}→conv, {click,view}→conv,
    // {view}→no conv give v(∅)=0, v(c)=1, v(v)=0, v(cv)=2 and exact
    // Shapley φ_click = 1.5, φ_view = 0.5
    val s = spark
    import s.implicits._
    def t(m: Int) = new java.sql.Timestamp(m * 60000L)
    val ev = Seq(
      (1L, t(0), 1L, "click"), (1L, t(1), 2L, "purchase"),
      (2L, t(0), 3L, "click"), (2L, t(1), 4L, "view"),
      (2L, t(2), 5L, "purchase"),
      (3L, t(0), 6L, "view"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = graft.operators.EventOps.shapleyOf(ev).collect()
      .map(r => r.getString(0) -> r.getDouble(r.fieldIndex("shapley")))
      .toMap
    assert(got == Map("click" -> 1.5, "view" -> 0.5),
      s"hand-computed Shapley values diverged: $got")
    // efficiency on the real corpus: credit shares partition the pie
    val rows = run("ev_attribution_shapley").collect()
    val shares = rows.map(_.getDouble(rows.head.fieldIndex("share")))
    assert(math.abs(shares.sum - 1.0) < 1e-4,
      s"shares must sum to ~1 (got ${shares.sum})")
    assert(rows.forall(
      _.getDouble(rows.head.fieldIndex("shapley")) >= 0.0))
  }

  test("dq_benford: shares sum to ~1, MAD consistent, uniform data flagged") {
    val rows = run("dq_benford").collect()
    assert(rows.length == 9, "one row per leading digit 1-9")
    val shares = rows.map(r => math.round(
      r.getDouble(r.fieldIndex("share")) * 1e6))
    assert(math.abs(shares.sum - 1000000L) <= 9,
      s"digit shares must sum to ~1e6 micro (got ${shares.sum})")
    val madWant = rows.map(r =>
      math.round(r.getDouble(r.fieldIndex("abs_dev")) * 1e6)).sum / 9
    rows.foreach { r =>
      assert(math.abs(math.round(r.getDouble(r.fieldIndex("mad")) * 1e6) -
        madWant) <= 1, "reported MAD drifted from its own deviations")
    }
    // the uniform synthetic price table is legitimately non-Benford
    assert(rows.forall(_.getInt(rows.head.fieldIndex("nonconforming")) == 1))
  }

  test("sim_pca_power: unit infinity-norm, full dimension, sane growth") {
    val rows = run("sim_pca_power").collect()
    assert(rows.map(_.getLong(rows.head.fieldIndex("dim"))).toSet ==
      (0L to 63L).toSet, "one loading per dimension")
    val vm = rows.map(_.getLong(rows.head.fieldIndex("v_micro")))
    assert(vm.map(math.abs).max == 1000000L,
      "renormalized vector must have infinity-norm exactly 1e6")
    val g = rows.head.getDouble(rows.head.fieldIndex("growth"))
    assert(g > 0.0 && rows.forall(
      _.getDouble(rows.head.fieldIndex("growth")) == g),
      "growth must be a positive constant column")
  }

  test("q_skyline equals the brute-force Pareto frontier at spec SF") {
    def ms(v: Any): Long = v match {
      case t: java.sql.Timestamp => t.getTime
      case d: java.time.LocalDateTime =>
        d.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }
    val all = graft.sources.Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice", "o_orderdate").collect()
      .map(r => (r.getLong(0), r.getDouble(1), ms(r.get(2))))
    def dominated(x: (Long, Double, Long)) = all.exists(o =>
      o._2 <= x._2 && o._3 >= x._3 && (o._2 < x._2 || o._3 > x._3))
    val want = all.filterNot(dominated).map(_._1).toSet
    val got = run("q_skyline").collect()
      .map(_.getLong(0)).toSet
    assert(got == want,
      s"skyline diverged from brute force: extra=${got.diff(want)} " +
        s"missing=${want.diff(got)}")
  }

  test("txt_distill_auc equals a brute-force pair count at spec SF") {
    val r = run("txt_distill_auc").collect().head
    // brute-force Mann-Whitney over the same (score, label) pairs:
    // score docs with the same frozen model the op trains
    val m = graft.operators.TextOps.distillTrain(spark, sf)
    val docs = graft.operators.TextOps
      .distillScore(graft.sources.Tables.documents(spark, sf), m)
      .select(col("pq"),
        (lit(2) * size(array_distinct(graft.operators.Tok.toks)) >=
          size(graft.operators.Tok.toks)).as("rule"),
        (col("doc_id") % 20 === 0).as("flip"))
      .collect()
      .map(x => (x.getLong(0),
        if (x.getBoolean(1) ^ x.getBoolean(2)) 1 else 0))
    val pos = docs.filter(_._2 == 1).map(_._1)
    val neg = docs.filter(_._2 == 0).map(_._1)
    val conc = pos.map(p => neg.count(_ < p).toLong).sum
    val tie = pos.map(p => neg.count(_ == p).toLong).sum
    val micro = (2 * (2 * conc + tie) * 1000000L +
      2L * pos.length * neg.length) / (4L * pos.length * neg.length)
    assert(r.getLong(r.fieldIndex("n_pos")) == pos.length)
    assert(r.getLong(r.fieldIndex("n_neg")) == neg.length)
    assert(r.getDouble(r.fieldIndex("auc")) == micro.toDouble / 1e6,
      "two-phase AUC diverged from the brute-force pair count")
    assert(r.getDouble(r.fieldIndex("auc")) > 0.5,
      "the gate must rank better than chance")
  }

  test("knn-graph key width shrinks the edge set without corrupting it") {
    // the corpus-growth knob (simKnnGraphAt scaladoc): wider keys
    // split buckets, so candidate sets — and with them the emitted
    // edge set — can only thin out; what survives must still be a
    // well-formed ranked graph
    val narrow = run("sim_knn_graph").count()
    val wide = operators.SimilarityOps.simKnnGraphAt(spark, sf, planes = 9)
      .collect()
    assert(wide.length < narrow,
      s"9-bit keys kept ${wide.length} edges vs $narrow at 6 bits")
    assert(wide.nonEmpty, "9-bit graph lost every edge at spec SF")
    wide.groupBy(_.getLong(wide.head.fieldIndex("vec_id")))
      .foreach { case (v, rs) =>
        val ranked = rs.sortBy(_.getLong(rs.head.fieldIndex("rank")))
        assert(ranked.map(_.getLong(rs.head.fieldIndex("rank"))).toSeq ==
          (1L to ranked.length).toSeq, s"vec $v: ranks not contiguous")
        val cs = ranked.map(_.getDouble(rs.head.fieldIndex("cosine")))
        assert(cs.zip(cs.tail).forall { case (a, b) => a >= b },
          s"vec $v: cosine order broken at width 9")
        assert(cs.forall(c => c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9))
      }
  }
}
