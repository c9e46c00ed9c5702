package graft

import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression,
  PlanExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions.col

/** Plan-shape regression gate: the scale-killers caught in earlier
  * explain-audits must not be able to return silently. Asserts over
  * the compiled physical plan of EVERY registered query (sf0.001 —
  * plan shape, not data, is under test):
  *   - no CartesianProduct (a blocked pair join degrading to a cross
  *     join would pass correctness at test SF and die at 100 TB)
  *   - no unpartitioned Window (single-task sort of the whole input)
  *   - q1/q6 predicates reach the parquet scan (PushedFilters)
  */
class PlanAuditSpec extends SparkSpec {

  // sparkPlan = the statically-planned physical tree (executedPlan
  // wraps it in an AdaptiveSparkPlanExec with no children, which
  // would make node collection vacuously pass)
  private def physical(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan

  // a subquery in sparkPlan may still be logical (PlanSubqueries runs
  // with the executed plan's preparations; a runtime bloom filter's
  // ScalarSubquery is one): plan it and walk its physical tree
  private def collectAll(p: SparkPlan): Seq[SparkPlan] =
    (p +: p.children.flatMap(collectAll)) ++ p.expressions
      .flatMap(_.collect { case s: PlanExpression[_] => s.plan })
      .flatMap {
        case sp: SparkPlan => collectAll(sp)
        case lp: LogicalPlan => collectAll(spark.sessionState.executePlan(lp).sparkPlan)
      }

  test("no query plans a CartesianProduct") {
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val cart = collectAll(physical(name)).collect {
        case c: CartesianProductExec => c
      }
      assert(cart.isEmpty, s"$name plans a CartesianProduct")
    }
  }

  test("no query plans an unpartitioned Window over a non-constant input") {
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val bad = collectAll(physical(name)).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty,
        s"$name plans a Window with no PARTITION BY — single-task sort")
    }
  }

  test("the audits walk a runtime bloom filter's subquery") {
    // the filter's ScalarSubquery is still logical in sparkPlan (it is
    // planned with the executed plan's subqueries); force one onto a
    // shuffle join through lowered thresholds, scoped to this test
    val scoped = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = scoped.map { case (k, _) => k -> spark.conf.getOption(k) }
    scoped.foreach { case (k, v) => spark.conf.set(k, v) }
    val nodes = try collectAll(sources.Tables.lineitem(spark, sf)
        .join(sources.Tables.orders(spark, sf)
          .filter(col("o_orderstatus") === "F"), col("l_orderkey") === col("o_orderkey"))
        .queryExecution.sparkPlan)
      finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    def has(p: Expression => Boolean) = nodes.exists(_.expressions.exists(_.exists(p)))
    assert(has(_.isInstanceOf[BloomFilterMightContain]), "no runtime bloom filter planned")
    // the subquery's own tree was walked: its bloom filter aggregate
    assert(has(_.isInstanceOf[BloomFilterAggregate]), "the bloom filter subquery was not walked")
    assert(!nodes.exists {
      case _: CartesianProductExec => true
      case w: WindowExec => w.partitionSpec.isEmpty
      case _ => false
    })
  }

  test("q1/q6 filters are pushed down to the parquet scan") {
    Seq("q1_pricing_summary", "q6_revenue_change").foreach { name =>
      val plan = physical(name).toString
      // scan strings get truncated, so just require a non-empty list
      // opener ("PushedFilters: [" followed by anything but "]")
      assert("PushedFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined,
        s"$name: no non-empty PushedFilters in scan:\n$plan")
    }
  }

  test("per-query shuffle counts stay within the audited budget") {
    // Every shuffle is a cluster-wide barrier at 100 TB; these counts
    // were audited by hand (plans read, shapes approved) — a query
    // exceeding its pin means a new exchange snuck into the plan and
    // must be re-audited, not silently absorbed. Counts are stable
    // because the sf0.001 testdata (and so broadcast decisions) is
    // fixed.
    val budget = Map(
      "cdc_apply_snapshot" -> 2, "cdc_changelog_stats" -> 3,
      "cdc_dedupe_latest" -> 2, "cdc_merge_batch" -> 4, "cdc_scd2" -> 2,
      "cdc_schema_reconcile" -> 1, "dedup_embedding" -> 2,
      "dedup_exact" -> 2, "dedup_minhash" -> 2, "dedup_ngram_jaccard" -> 2,
      "dedup_simhash" -> 2,
      // candidate pair agg (the blocked co-occurrence join at the
      // loose floor) + two id joins back to texts + sort; the
      // levenshtein kernel is map-side on survivors only (r16
      // recount: cached pair subtree counted once, not per scan)
      "dedup_edit" -> 2, "ev_asof_join" -> 3, "ev_funnel" -> 2,
      "ev_sessionize" -> 2, "ev_sliding_2h" -> 2, "ev_tumbling_1h" -> 3,
      // broadcast at test SF (1 = sort); user_id shuffle form at scale
      "ev_attribution" -> 3,
      // cohort self-join shares the user_id shuffle; distinct-agg + sort
      "ev_retention_cohort" -> 4,
      "mm_features" -> 1, "pipe_curate" -> 5, "pipe_sample" -> 1,
      // doc_id join + group agg (appears under total and main; reused
      // at runtime) + sort
      "pipe_mix_report" -> 4,
      "pipe_token_budget" -> 2,
      // same shape as token_budget: lang-partitioned cumsum window +
      // bin agg reusing the partitioning; sort
      "pipe_pack_sequences" -> 2,
      // B-row bucket agg (map-side combined, constant-size result) +
      // 1-row totals agg + the doc_id score agg off the broadcast
      // log-ratio join + the docs⋈scores doc_id join (2 exchanges) +
      // the final sort — nothing post-agg outgrows B or the doc count
      "pipe_dsir" -> 6,
      // session agg (user_id) + one bucket-join exchange (the
      // session-replica side broadcasts at spec SF; at scale AQE
      // promotes it to the second bucket exchange) + event_id count
      // agg + sort — the points⋈counts join reuses the count agg's
      // event_id partitioning
      "ev_interval_join" -> 4,
      // final plan reads kmeansTrain's checkpointed assignment: the
      // k-row cluster agg (map-side combined) + the 8-row sort; the
      // codebook rides one broadcast and scoring is map-only
      "sim_silhouette" -> 2,
      // per-order detail agg + full-outer join on the same orderkey
      // (orphans on both sides fall out free) + statuses-sized final
      // agg + the 4-row sort
      "dq_reconcile" -> 4,
      // final plan reads the checkpointed alphabet-sized cell report
      // (producer: (user,type) agg + argmax window + per-user agg +
      // cell agg + 1-row totals, ONE corpus pass); remaining: the
      // TOTAL row's SinglePartition agg + the 6-row sort
      "ft_woe_iv" -> 2,
      // final plan reads the checkpointed histogram twice (producer:
      // (type,user) agg + histogram agg, ONE corpus pass); the
      // histogram-sized pair join broadcasts, the per-type agg and the
      // 5-row sort are the two exchanges
      "ev_engagement_gini" -> 2,
      // inherits dedup_embedding's blocked pair plan (its 2 audited
      // exchanges) + the symmetrize explode's vec_id window exchange
      // + the output sort
      "sim_hard_negatives" -> 3,
      // ONE user_id exchange feeds the lead window; the (user,cur,nxt)
      // agg, the (user,cur) window and the per-user agg all ride the
      // same partitioning; + the output sort
      "ev_markov_entropy" -> 2,
      // final plan reads the checkpointed ≤168·alphabet cell frame
      // (producer: ONE corpus pass); per marginal a (type,k) agg +
      // a type-window exchange (all alphabet-sized), the hod⋈dow
      // join broadcasts, + the output sort
      "ev_seasonality" -> 5,
      // hourly (type,hr) agg + the type-keyed series window exchange
      // (series-sized: corpus-lifetime hours) + the output sort
      "ev_changepoint" -> 3,
      // final plan reads the checkpointed centered series (producer:
      // hourly agg + type window, ONE corpus pass); den agg + the
      // two lag-join exchanges ride (type, hr); + the 5-row sort
      "ev_autocorrelation" -> 4,
      // ONE user_id exchange feeds the lag window; the moment agg
      // rides the same partitioning; + the output sort
      "ev_bot_detect" -> 2,
      // final plan reads the checkpointed alphabet²-sized rule counts
      // (producer: ONE orderkey shuffle + pair explode); totals ride
      // broadcast self-joins, the 1 exchange is the 300-row sort
      "ft_assoc_rules" -> 1,
      // ONE event_type exchange feeds the NTILE sort; the (type,bin)
      // agg rides the same partitioning (subset-key clustering);
      // + the output sort
      "ft_quantile_bins" -> 2,
      // two ranked type-keyed windows (value, then deviation), the
      // alphabet-sized median/MAD frames broadcast back, the final
      // conditional agg's exchange + the 5-row sort
      "dq_outliers" -> 5,
      // same two ranked stats windows; the fence filter is map-side
      // after the broadcast joins, the flagged-rows top-5 window +
      // the 25-row sort
      "dq_quarantine" -> 5,
      // ONE user_id shuffle for the latest-rank window (the 1-row
      // watermark broadcasts) + the (user,ts) output sort; the
      // scalar agg's SinglePartition exchange is the third
      "cdc_log_compact" -> 3,
      // final plan reads the checkpointed vocab + constant top-1000
      // frames (producer: ONE corpus token agg + a TakeOrdered cut);
      // the rank self-join broadcasts, the 1 exchange is the
      // rank-frame agg's SinglePartition (constant-sized input)
      "txt_zipf" -> 1,
      // final plan reads the staged candidates (producer: one
      // broadcast-query corpus pass + the ranking window), joins the
      // pool²-sized pairs to a broadcast of them and runs the greedy
      // kernel in one task (Ckpt.small); the 24-row output sort reads
      // that SinglePartition task, so nothing exchanges
      "sim_mmr" -> 0,
      // r16 re-audit: the whole census now plans as ONE action over
      // lazily-CACHED edges/deg/adj (no eager staging jobs), so the
      // audit finally sees the edge-build exchanges that formerly ran
      // in unaudited checkpoint jobs: edge pair-join okey exchange +
      // pa repartition (the distinct rides it) + deg union-agg + adj
      // collect agg (each counted ONCE however many scans reference
      // the cache) + the closure join/agg tail. Executed shuffle
      // BYTES dropped 82 MB -> 29 MB at sf0.1 (SparkJobs main)
      "ft_graph_triangles" -> 14,
      // r16: same one-action shape as triangles — the cached edgesD
      // keeps hash(src), so the 3 lazily-unrolled rank rounds
      // re-exchange only the k-row rank side; count covers the whole
      // query (edge build formerly hid in staging jobs); shuffle
      // bytes 78 MB -> 48 MB at sf0.1 (SparkJobs main)
      "ft_item_pagerank" -> 14,
      // label block inherits ft_time_to_event's ONE user_id shuffle;
      // day-cell agg + constant triangle joins (broadcast) + the
      // ≤31-row sort
      "ft_kaplan_meier" -> 2,
      // ONE doc_id exchange feeds the lag window; the per-doc agg
      // rides the same partitioning; + the output sort
      "mm_shot_boundary" -> 2,
      // final plan reads the 12th checkpointed value frame (producer:
      // ONE user_id shuffle for the session/truncation windows, then
      // alphabet-sized rounds); remaining: the START-filter aggs +
      // the 4-row sort
      "ev_attribution_markov" -> 2,
      // map-side shard/key assignment; ONE (epoch, shard) exchange
      // feeds the within-shard rank window (the writer's local
      // sort); + the output sort
      "pipe_epoch_shuffle" -> 2,
      // ONE posexplode pass into the 64-row map-side-combined dim
      // agg + the 64-row sort; the corpus never shuffles
      "sim_vector_health" -> 2,
      // map-only symbol counting + the alphabet-sized source agg
      // (map-side combined) + the 20-row sort
      "txt_code_detect" -> 2,
      // final plan reads the checkpointed phrase frame (producer:
      // posexplode + run-id window + (doc_id,run) agg, ONE corpus
      // pass); remaining: vocab word-stats agg, phrase-count agg,
      // score agg + the 20-row sort — the top-20 is a TakeOrdered,
      // not a global window
      "txt_keyphrases" -> 4,
      // final plan reads the checkpointed alphabet²-sized tagged
      // counts (producer: (user,type) agg + per-user set agg + pair
      // agg, ONE corpus pass); totals ride broadcast self-joins, the
      // 1 exchange is the 10-row sort
      "ev_audience_overlap" -> 1,
      // final plan reads the loop's checkpointed labels: sort only
      "pipe_dup_clusters" -> 2,
      // keeper semi-join broadcasts; the one exchange is the final sort
      "pipe_curate_cc" -> 1,
      "q1_pricing_summary" -> 2,
      "q3_shipping_priority" -> 1, "q5_local_supplier" -> 2,
      "q6_revenue_change" -> 1, "q7_volume_shipping" -> 2,
      "q10_returned_items" -> 1, "q14_promo_revenue" -> 2,
      "q4_priority_exists" -> 2, "q12_priority_class" -> 2,
      "q13_custdist" -> 3, "q18_big_orders" -> 1, "q19_disjunctive" -> 1,
      "q8_market_share" -> 2, "q9_profit_nation" -> 2,
      "q17_small_qty" -> 2, "q22_rich_idle" -> 3,
      "q16_supplier_breadth" -> 2,
      // (part,supp) agg + per-part min agg + join-back exchange
      "q2_min_cost_supp" -> 3,
      // per-part agg appears under both the total and the main branch
      // (ReuseExchange collapses them at runtime) + scalar + sort
      "q11_important_parts" -> 4,
      // pair agg + distinct + final sort; semi joins all broadcast
      "q20_promo_suppliers" -> 3,
      // order-stats agg shares the orderkey partitioning; name agg
      "q21_waiting_supplier" -> 2,
      // join + group-window exchange; final agg reuses the partitioning
      "q_percentiles" -> 2,
      // mergeable digests: one group agg exchange + sort — the
      // declared 100 TB quantile path (no per-group row sort)
      "q_approx_percentiles" -> 2,
      // lag window + segment join/agg + sort
      "q_order_gaps" -> 3,
      // three distinct-join legs × (agg exchange each side) at this
      // SF collapse to 6; single-row count aggs are exchange-free
      "q_set_ops" -> 6,
      // the (vec,sub,label) sub-distance frame is checkpointed and
      // shared by the encode and ADC branches (it used to plan — and
      // run — under both); remaining: codes agg + partials agg +
      // window + sort
      "sim_pq_topk" -> 4,
      // bigram count agg + bucketed-window + final-window + sort
      "txt_ngram_topk" -> 4,
      "pipe_decontaminate" -> 2,
      "q_approx_distinct" -> 3, "q_pivot" -> 3,
      "q_rollup" -> 2, "q_cube" -> 2,
      // one Expand + agg exchange feeds both summaries; sort
      "q_grouping_sets" -> 2,
      // two month-level pre-aggs; the full outer joins ~100-row frames
      "q_full_outer" -> 3,
      // spend agg + segment window + final agg reuses the window
      // partitioning; sort
      "q_ntile_spend" -> 3,
      // digest projected before the exchange — blobs never shuffle
      "mm_dedup" -> 2,
      // per-partition flatMap/map; the one exchange is the sort
      "mm_frame_sample" -> 1, "mm_resize" -> 1,
      "q_running_sum" -> 2, "q_semi_anti" -> 5,
      // join itself is exchange-free (bucketed SMJ); agg + sort remain
      "q_bucketed_join" -> 2,
      // dim broadcasts at test SF (salted keys still in the join); agg + sort
      "q_salted_join" -> 2,
      // gram census agg + covered-positions/island window + sort
      "dedup_substring" -> 3,
      // + the kept-tokens per-doc agg over the span mask
      "dedup_substring_scrub" -> 4,
      // shard agg + sort; the shard hash is map-only
      "pipe_shard_manifest" -> 2,
      // plain agg and 6-way-distinct agg each collapse to one
      // exchange (1-row outputs, broadcast recombine); sort
      "q_profile" -> 3,
      // broadcast query side, map-side cosine+filter: the ONLY
      // exchange is the output sort — the declared range-search shape
      "sim_range_search" -> 1,
      "q_top_suppliers" -> 1, "q_window_topn" -> 3, "sim_ann_lsh" -> 3,
      "sim_centroids" -> 4, "sim_ivf_topk" -> 5, "sim_topk_exact" -> 2,
      "txt_fingerprint" -> 1, "txt_langid" -> 1, "txt_quality" -> 1,
      "txt_stats" -> 1,
      // map-only per-row fractions; the one exchange is the sort
      "txt_repetition" -> 1,
      // map-only regex scrub; the one exchange is the sort
      "txt_scrub" -> 1,
      // shingle doc-frequency agg + join-back + per-doc agg; sort
      // reuses the doc partitioning
      "txt_boilerplate" -> 4,
      // (type,hour) agg + per-type stats agg (broadcast back) + sort
      "ev_anomaly" -> 4,
      // (day,user) distinct agg + dau agg + grid re-distinct + wau agg
      // + join + sort; only the first distinct is corpus-sized
      "ev_dau_wau" -> 7,
      // one corpus-sized user_id exchange feeds BOTH session windows;
      // then path-count agg (vocab-sized), bucket-local top-k window,
      // final window over steps×32×k candidates, sort
      "ev_top_paths" -> 5,
      // one user_id exchange for both session windows + 5×5 pair agg
      // + per-state normalizer window + sort (all post-agg frames are
      // state-alphabet-sized)
      "ev_transitions" -> 4,
      // JSON extraction is map-side; distinct-agg two-phase + sort
      "ev_props_stats" -> 3,
      // map-side bucket + type×bucket agg + share window + sort (the
      // window reuses the agg's type partitioning at runtime)
      "ev_value_hist" -> 3,
      // the production IVM plan is batch-PK agg + key-pruned state
      // probe + group-sized delta agg (3); the other 4 here derive
      // prior state AND its view from the log for self-containment
      // (stored tables in production) — the twin state1 subtrees
      // collapse via ReuseExchange at runtime
      "cdc_incremental_agg" -> 7,
      // one PK agg exchange per snapshot side; the full-outer diff
      // join REUSES the agg partitioning (latestPerKey keeps the
      // grouping key out of the struct exactly for this); sort
      "cdc_snapshot_diff" -> 3,
      // map-only regex counts + one double expression; sort
      "txt_readability" -> 1,
      // flags join on checkpointed cc labels + one global agg; the
      // 4-row stack is exchange-free
      "pipe_funnel_report" -> 2,
      // the factor frame shares pipe_temperature_mix's weight shape
      // (lang-count-sized aggs + single-row normalizers — small-data
      // exchanges only); the corpus itself joins broadcast and the
      // one corpus-sized exchange is the output sort
      "pipe_oversample" -> 8,
      // everything after the per-source token agg runs on a
      // source-count-sized frame: two single-row normalizer aggs and
      // their broadcast joins + sort — small-data exchanges only
      "pipe_temperature_mix" -> 8,
      // ASSIGNMENT IS MAP-ONLY (centroids ride a broadcast nested
      // array, the native km_assign kernel folds the argmin per row)
      // and every round ends in a reliable checkpoint, so the final
      // plan is just stats-agg + sort; the per-round centroid-update
      // exchanges (k×d rows after map-side combine) run inside the
      // loop's materializations — the corpus is never re-shuffled
      "sim_kmeans" -> 2,
      // suppkey agg appears under the max branch and the main branch
      // (ReuseExchange collapses them at runtime, q11-style) + the
      // 1-row max's SinglePartition + sort; winners broadcast
      "q15_top_supplier" -> 4,
      // queries broadcast, cosine + τ-filter are map-side, no ranking
      // window; the one exchange is the output sort
      "sim_range_search" -> 1,
      // cluster labels come checkpointed from the loop; bucket/split
      // are map-only over them, so only the sort exchanges
      "pipe_split" -> 1,
      // training is checkpointed (see sim_kmeans); probe is map-only
      // against the broadcast trained codebook, so the final plan is
      // the ranking window + sort
      "sim_ivf_kmeans" -> 2,
      // ONE aggregate pass: Expand(×6 distinct cols) + two-phase
      // distinct agg (hash exchange + SinglePartition final) + the
      // 6-row explode's sort
      "q_profile" -> 3,
      // train: (lang,tok) vocab agg + lang totals agg (+ their join);
      // score: model joins BROADCAST onto the exploded corpus, one
      // doc_id agg, sort — the corpus-sized exchanges are the doc agg
      // and the sort only
      "txt_lm_perplexity" -> 5,
      // same co-occurrence machinery as dedup_ngram_jaccard minus
      // the band block: pair join on (h, lang) + pair agg + sort
      "dedup_containment" -> 4,
      // (type,user) agg appears under both the pair branch and the
      // totals branch (ReuseExchange collapses them at runtime,
      // q15-style) + the types-row total agg (broadcasts back) + sort
      "ev_heavy_hitters" -> 4,
      // bloom build runs as its own sketch job; the main plan is the
      // broadcast verify join + pair agg + sort (corpus never shuffles
      // before the bloom gate)
      "pipe_bloom_decontaminate" -> 2,
      // coarse training + PQ sub-distances come checkpointed; the
      // final plan is the codes agg (reused under candidate join),
      // the cand_id join, ADC pivot agg, ranking window + sort —
      // the ADC table and probe list broadcast
      "sim_ivfpq" -> 5,
      // chunk census agg on the md5 digest + flag join-back + doc
      // reconstruction agg + the outer join and sort
      "txt_line_dedup" -> 6,
      // the new batch broadcasts everywhere (digest semi-join +
      // shingle co-occurrence); shuffles are the pruned hist fp agg,
      // candidate pair aggs, result joins + sort
      "pipe_incremental_dedup" -> 8,
      // the corpus-sized work (o⋈l fact join + per-order agg + daily
      // agg) runs once into the daily checkpoint; the final plan is
      // calendar-sized — year window, year-total agg, broadcast
      // triangle offsets, sort
      "q_orders_backlog" -> 4,
      // r10 DataFrame-native grid: the d×w counter agg (map-side
      // combined to grid size), the exact (user) agg — the probe
      // rides it via the broadcast grid join with no re-exchange —
      // and the sort
      "ev_count_min" -> 3,
      // tf agg + df agg + lang-count agg feed the broadcast model;
      // the tf frame reshuffles once for the per-doc ranking window
      // + sort (the tf subtree appears under the model branch too —
      // ReuseExchange collapses it at runtime)
      "txt_tfidf" -> 7,
      // six dup-sized matrix cells over three PERSISTED pair frames;
      // r16 recount: each cached pair subtree's exchanges counted
      // once (runtime reads the cached frames once each), not
      // re-expanded under every report cell as toString printed them
      "pipe_dedup_report" -> 14,
      // distinct (cust,month) agg + customer-window exchange; the
      // island and customer aggs reuse that partitioning; sort
      "q_order_streaks" -> 4,
      // ONE conditional-sum aggregate (SinglePartition final) + the
      // 9-row explode's sort
      "pipe_threshold_sweep" -> 3,
      // one user_id exchange feeds the RANGE-frame window; sort
      "ft_rolling_24h" -> 2,
      // daily agg + spans agg exchanges (the grid join and ffill
      // window reuse the user partitioning) + sort
      "ft_daily_ffill" -> 3,
      // label side exchanges for the user_id join at this SF (history
      // broadcasts); group agg reuses the partitioning; sort
      "ft_point_in_time" -> 2,
      // daily rollup agg + the label window's user_id exchange + sort
      "ft_label_next7d" -> 3,
      // directory-level prune leaves a 1/7th scan: agg + sort
      "q_partition_prune" -> 2,
      // two fused single-row agg passes (SinglePartition finals) + the
      // orphan join's agg + the 6-row stack's sort
      "dq_checks" -> 4,
      // alphabet×bin cells agg + per-type stats window whose
      // event_type partitioning the PSI agg reuses + sort
      "dq_drift" -> 3,
      // activity-day distinct agg + the unioned timeline's user_id
      // window exchange + sort; purchases ride the union map-side
      "ft_time_to_event" -> 3,
      // first-seen window's user exchange + the distinct-actives
      // Expand pair + the cohort windows' shared tiny-frame exchange
      // (sort rides it)
      "ev_cohort_ltv" -> 4,
      // the final plan reads 8 checkpointed 1-row merge frames: the
      // one exchange is the output sort (per-round pair aggs run
      // inside the training loop's checkpoint jobs)
      "txt_bpe_train" -> 1,
      // symtab broadcasts onto the corpus explode: doc_id agg + sort
      "txt_bpe_apply" -> 2,
      // 9 SinglePartition finals of the per-round accuracy aggregates
      // (each a d+1-column map-side-combined pass over the
      // checkpointed feature frame — the partial rows are one per
      // task, so each exchange moves ~task-count rows at any corpus
      // size) + the 9-row output sort; the gradient aggs run inside
      // the training loop's checkpoint jobs like txt_bpe_train's
      "txt_quality_distill" -> 10,
      // 3 × (map-side-combined key-count agg + 1-row moment agg) —
      // each leg's post-agg frames are keys-sized then single-row —
      // + the 3-row stack's sort
      "q_skew_report" -> 7,
      // (type, hour) agg + per-type distinct-hour Expand pass + the
      // 1-row watermark's SinglePartition agg + sort
      "dq_freshness" -> 4,
      // (type, hour) agg + the dense-grid lag window's event_type
      // exchange (grid join broadcasts the time-bounded series;
      // final agg reuses the window partitioning) + sort
      "ev_forecast_baseline" -> 3,
      // daily rollup's (user, day) agg (map-side-combined partials —
      // cheaper at scale than repartitioning raw events by user) +
      // the lag window's user_id exchange over the compact daily
      // frame + sort
      "ft_lag_features" -> 3,
      // conversions agg (the interval join broadcasts at this SF) +
      // hour-bucket ranking window + final agg reusing it + sort
      "ev_conversion_lag" -> 3,
      // map-only score (source carried, no join) + per-source ranking
      // window + sort
      "pipe_domain_cap" -> 2,
      // three independent aggregate passes (raw multi-distinct Expand,
      // scored totals, token histogram) + bounded histogram cum-agg +
      // stacked output sort — no corpus-sized window anywhere
      "pipe_dataset_card" -> 7,
      // a composite that EMBEDS four full query plans (exact + three
      // ANN paths, each audited on its own) plus three query-set-sized
      // semi-join/agg blocks; the count is the sum of its parts, not a
      // new shuffle introduced by the report itself
      "sim_recall_report" -> 25,
      // r9 additions, audited: lifecycle/MI read eager checkpoints
      // (one corpus pass each; the final plans are day-/alphabet-
      // sized); inter_event = user gap window + type rank window +
      // sort; redelivery = user hwm window + (user,event) rank window
      // + type agg; jaccard = basket self-join + pair agg + two
      // part-keyed degree joins; novelty = shingle first-seen agg +
      // hash join back + doc agg + decile agg; knn graph = bucket
      // self-join + neighbor/vector joins with the rank window riding
      // the vec_id partitioning
      // srm = two dedupe aggs (segment + TOTAL) + segment agg + sort;
      // correlation = per-user agg + countDistinct expand + the 1-row
      // moment agg (the 6-row explode adds nothing)
      "ev_ab_srm" -> 4, "ft_correlation" -> 3,
      // map-only scoring over the checkpointed feature frame + the
      // ≤10-row bucket agg + sort (training runs in the producer)
      "txt_distill_calibration" -> 2,
      // corpus explode + broadcast vocab join + countDistinct expand
      // into the language-sized agg + sort (training in the producer)
      "txt_bpe_fertility" -> 3,
      // benford reads its checkpointed 9-row frames (corpus agg runs
      // once in the producer); pca reads the checkpointed final
      // weight frame — the sort is the lone final-plan exchange
      "dq_benford" -> 2,
      // r15 re-audit: only the loop-carried w stages per round now; mx
      // (1 row) and v (64 rows) derive in the final plan, so it
      // carries their aggregate/sort exchanges over 64-row staged-w
      // scans — bounded by dim count at any corpus scale
      "sim_pca_power" -> 4,
      // one user_id shuffle (shared sessionize+truncation windows;
      // the per-session agg rides it) + the ≤2ⁿ-row agg by channel
      // set; the kernel runs in one task (Ckpt.small), so the output
      // sort reads a SinglePartition and does not exchange
      "ev_attribution_shapley" -> 2,
      // composition of the two audited pair frames + pair-keyed join
      // + band agg + sort
      "dedup_minhash_recall" -> 5,
      // distinct-score agg + decile windows + offset triangle + the
      // 1-row report (training in the producer)
      "txt_distill_auc" -> 4,
      // distinct-point agg runs in the checkpointed producer; banded
      // window + bands triangle + the point-key join back + sort
      "q_skyline" -> 4,
      "ev_lifecycle" -> 3, "ev_inter_event" -> 3,
      "cdc_redelivery_audit" -> 5, "ft_graph_jaccard" -> 7,
      "ft_mutual_info" -> 3, "txt_ngram_novelty" -> 5,
      "sim_knn_graph" -> 3)
    // counted by ShuffleCount.executedShuffles (r16): exchanges the
    // query EXECUTES — the former regex over executedPlan.toString
    // re-counted a cached subtree's exchanges once per referencing
    // scan, penalizing exactly the lazily-cached loop-invariant
    // frames (Ckpt.cache) that REMOVE per-round exchanges
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val n = ShuffleCount.executedShuffles(
        SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
      budget.get(name) match {
        case Some(cap) => assert(n <= cap,
          s"$name plans $n shuffles, audited budget is $cap — " +
            "re-audit the plan before raising the pin")
        case None => assert(n <= 5,
          s"new query $name plans $n shuffles — audit it and add a pin")
      }
    }
  }

  test("q_bucketed_join is an exchange-free sort-merge join; q_salted_join keys on the salt") {
    // the bucketed layout must remove the fact-fact shuffle: the
    // sort-merge join subtree reads the bucketed tables directly,
    // with no Exchange between scan and join
    val smj = collectAll(physical("q_bucketed_join")).collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.nonEmpty, "bucketed join must take the sort-merge path")
    val shufflesBelow = smj.flatMap(j => collectAll(j).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    })
    assert(shufflesBelow.isEmpty, "bucketed join still shuffles its inputs")

    // the salted join must actually join on (key, salt) — losing the
    // salt column would silently revert to the hot-key plan
    val keys = collectAll(physical("q_salted_join")).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.leftKeys.nonEmpty =>
        j.leftKeys.flatMap(_.references.map(_.name)).toSet
    }
    assert(keys.exists(k => k.exists(_.contains("salt"))),
      s"salted join lost its salt key — join keys were $keys")
  }

  test("q_partition_prune prunes at planning time, not with a data filter") {
    val scans = collectAll(physical("q_partition_prune")).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no file scan in q_partition_prune")
    // the year predicate must be a PARTITION filter (directory-level
    // prune at planning time) — if it shows up as a data filter the
    // layout isn't being used and every partition's files get read
    assert(scans.exists(_.partitionFilters.exists(
        _.references.exists(_.name == "o_year"))),
      "o_year is not a partition filter — scan reads all partitions")
    assert(scans.forall(_.dataFilters.forall(
        !_.references.exists(_.name == "o_year"))),
      "o_year leaked into the data filters — prune isn't directory-level")
  }

  test("dedup pair joins key on block/bucket columns, not bare label/lang") {
    // the candidate join's EQUI-JOIN KEYS themselves must include the
    // LSH/pigeonhole bucket — checking the whole plan string would
    // also match the distinct()'s HashAggregate(keys=...) and pass
    // even after a revert to a bare label join
    def joinKeyNames(name: String): Seq[Set[String]] =
      collectAll(physical(name)).collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if j.leftKeys.nonEmpty =>
          j.leftKeys.flatMap(_.references.map(_.name)).toSet
      }
    Seq("dedup_embedding", "dedup_simhash").foreach { name =>
      val keys = joinKeyNames(name)
      assert(keys.exists(k => k.contains("key") && k.contains("tbl")),
        s"$name: no join keyed on (tbl, key) buckets — join keys were $keys")
    }
    // dedup_semantic's pair join must block on the LSH bucket INSIDE
    // the cluster — a bare-cluster join is Θ(n²/k) at corpus scale
    val semKeys = joinKeyNames("dedup_semantic")
    assert(semKeys.exists(k =>
        k.contains("cluster") && k.contains("tbl") && k.contains("key")),
      s"dedup_semantic: pair join not keyed on (cluster, tbl, key) — $semKeys")
  }

  test("ev_interval_join's range join is an equi join on the time bucket") {
    // the point-in-interval theta join must reach the executor as an
    // EQUI join on the replicated hour bucket with the range predicate
    // demoted to a residual condition — a plain theta formulation
    // plans BroadcastNestedLoopJoin (which the CartesianProduct audit
    // does not catch) and is Θ(points × sessions) at corpus scale
    val plan = physical("ev_interval_join")
    val nlj = collectAll(plan).collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(nlj.isEmpty, "ev_interval_join plans a nested-loop join")
    val bucketKeyed = collectAll(plan).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.leftKeys.nonEmpty =>
        j.leftKeys.flatMap(_.references.map(_.name)).toSet
    }
    assert(bucketKeyed.exists(_.contains("bucket")),
      s"no equi join keyed on the time bucket — keys were $bucketKeyed")
  }
}
