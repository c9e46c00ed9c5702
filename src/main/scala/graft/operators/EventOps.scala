package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Event-stream analytics (SURVEY §C) — batch-verifiable analogs of
  * the reference's continuous-pipeline metrics and windows
  * (/root/reference/src/metrics.rs:65 `etl_events_processed_total`,
  * docs/data_flow.md §3 buffer/seal). The streaming twins live in
  * graft.streaming and are spec-tested with memory sinks.
  *
  * Scale notes: tumbling/sliding windows are plain hash aggregations
  * (map-side partial agg, one shuffle on the window key);
  * sessionization and the as-of join shuffle once by user_id; nothing
  * collects or cross-joins.
  */
object EventOps extends Suite {

  private val sentinelTs = "1970-01-01 00:00:00"

  // ---- ev_tumbling_1h: tumbling window agg by event_type ------------
  private def evTumbling(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        Num.dsum(col("value"), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("n_users"), col("sum_value"))
      .orderBy("window_start", "event_type")

  private val evTumblingSql =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |  COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  // ---- ev_sliding_2h: sliding 2h window every 1h --------------------
  // Each event lands in exactly two hourly-aligned 2h windows:
  // [trunc(ts)-1h, +2h) and [trunc(ts), +2h).
  private def evSliding(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"),
        Num.dsum(col("value"), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("n_events"),
        col("sum_value"))
      .orderBy("window_start")

  private val evSlidingSql =
    """SELECT ws AS window_start, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM (
      |  SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
      |                 date_trunc('hour', ts)]) AS ws, value
      |  FROM events) t
      |GROUP BY ws ORDER BY window_start""".stripMargin

  // ---- ev_sessionize: 30-min-gap sessions per user ------------------
  // Spark-native session_window: a session absorbs an event iff its ts
  // is strictly inside [session_start, last_ts + gap); session_end =
  // last event ts + gap. The oracle emulates with the classic
  // lag-gap-flag + running-sum construction.
  private def evSessionize(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        Num.dsum(col("value"), 2).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")

  private val evSessionizeSql =
    """WITH flagged AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id) < 1800000000
      |      THEN 0 ELSE 1 END AS new_s
      |  FROM events),
      |sess AS (
      |  SELECT user_id, ts, value,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged)
      |SELECT user_id, MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_start""".stripMargin

  // ---- ev_top_paths: top trigram session paths per entry step -------
  // Path mining: the k most frequent 3-step event-type sequences
  // inside 30-min-gap sessions, reported per entry step. Sessions use
  // the lag-gap-flag construction (same semantics ev_sessionize's
  // oracle pins, here needed per-event); paths come from two LEADs
  // over the session order — both windows ride the ONE user_id
  // shuffle (the session window's (user_id, session_id) clustering is
  // satisfied by the user_id partitioning). The ranking is two-phase
  // à la txt_ngram_topk — bucket-local top-k then a final window over
  // step×32×k candidate rows — so no task ever sorts a step's full
  // path vocabulary, and the final window is partitioned by step (no
  // global single-task sort). The oracle is the plain one-window
  // formulation, proving the two-phase plan semantics-preserving.
  private val pathK = 5
  private val pathBuckets = 32

  private def evTopPaths(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapped = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("new_s",
        when(col("ts") <
          lag(col("ts"), 1).over(byUser) + expr("INTERVAL 30 MINUTE"), 0)
          .otherwise(1))
      .withColumn("session_id",
        sum(col("new_s")).over(byUser.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
    val bySession = Window.partitionBy("user_id", "session_id")
      .orderBy(col("ts"), col("event_id"))
    val counts = gapped
      .withColumn("t2", lead(col("event_type"), 1).over(bySession))
      .withColumn("t3", lead(col("event_type"), 2).over(bySession))
      .filter(col("t3").isNotNull)
      .select(col("event_type").as("step1"),
        concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
      .groupBy("step1", "path").agg(count(lit(1)).as("n"))
    val bucketed = Window
      .partitionBy(col("step1"), pmod(hash(col("path")), lit(pathBuckets)))
      .orderBy(desc("n"), col("path"))
    counts.withColumn("rk0", row_number().over(bucketed))
      .filter(col("rk0") <= pathK).drop("rk0")
      .withColumn("rk", row_number().over(
        Window.partitionBy("step1").orderBy(desc("n"), col("path")))
        .cast("long"))
      .filter(col("rk") <= pathK)
      .select("step1", "rk", "path", "n")
      .orderBy("step1", "rk")
  }

  private val evTopPathsSql =
    s"""WITH flagged AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN ts < LAG(ts) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id)
      |      + INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_s
      |  FROM events),
      |sess AS (
      |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged),
      |paths AS (
      |  SELECT event_type AS step1,
      |    event_type || '>' || LEAD(event_type, 1) OVER w
      |      || '>' || LEAD(event_type, 2) OVER w AS path
      |  FROM sess
      |  WINDOW w AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
      |  QUALIFY LEAD(event_type, 2) OVER w IS NOT NULL),
      |counts AS (SELECT step1, path, COUNT(*) AS n FROM paths GROUP BY 1, 2)
      |SELECT step1, rk, path, n FROM (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY step1
      |    ORDER BY n DESC, path) AS BIGINT) AS rk
      |  FROM counts) x
      |WHERE rk <= $pathK ORDER BY step1, rk""".stripMargin

  // ---- ev_transitions: first-order Markov transition matrix ---------
  // The step-to-step behavior model: P(next event type | current)
  // within 30-min-gap sessions. Same lag-gap session construction as
  // ev_top_paths (both session windows ride the one user_id shuffle);
  // transition counts are one hash agg over 25 possible pairs, and
  // the per-state normalizer is a window PARTITIONED BY the current
  // state — never a global sort. p divides two exact BIGINTs once,
  // rounded at output: deterministic cross-engine.
  private def evTransitions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapped = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("new_s",
        when(col("ts") <
          lag(col("ts"), 1).over(byUser) + expr("INTERVAL 30 MINUTE"), 0)
          .otherwise(1))
      .withColumn("session_id",
        sum(col("new_s")).over(byUser.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
    val bySession = Window.partitionBy("user_id", "session_id")
      .orderBy(col("ts"), col("event_id"))
    gapped
      .withColumn("next_type", lead(col("event_type"), 1).over(bySession))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("cur"), col("next_type").as("next"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("cur")), 6))
      .orderBy("cur", "next")
  }

  private val evTransitionsSql =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN ts < LAG(ts) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id)
      |      + INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_s
      |  FROM events),
      |sess AS (
      |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged),
      |pairs AS (
      |  SELECT event_type AS cur,
      |    LEAD(event_type, 1) OVER (PARTITION BY user_id, session_id
      |      ORDER BY ts, event_id) AS next
      |  FROM sess
      |  QUALIFY next IS NOT NULL),
      |counts AS (SELECT cur, next, COUNT(*) AS n FROM pairs GROUP BY 1, 2)
      |SELECT cur, next, n,
      |  ROUND(CAST(n AS DOUBLE) /
      |    CAST(SUM(n) OVER (PARTITION BY cur) AS BIGINT), 6) AS p
      |FROM counts ORDER BY cur, next""".stripMargin

  // ---- ev_props_stats: semi-structured JSON property stats ----------
  // The schema-on-read path: `props` is a JSON string column (the
  // usual "properties bag" of event pipelines); extract a typed field
  // at scan time and aggregate per event type. get_json_object runs
  // map-side inside codegen — the JSON never reaches the shuffle, only
  // the extracted BIGINT does. Null/missing keys drop out of COUNT
  // identically in both engines. avg divides two exact integers once.
  private def evPropsStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        sum(col("k")).as("sum_k"),
        countDistinct(col("k")).as("n_distinct"))
      .withColumn("avg_k", round(col("sum_k").cast("double") / col("n"), 6))
      .orderBy("event_type")

  private val evPropsStatsSql =
    """SELECT event_type,
      |  COUNT(k) AS n, MIN(k) AS min_k, MAX(k) AS max_k,
      |  CAST(SUM(k) AS BIGINT) AS sum_k,
      |  COUNT(DISTINCT k) AS n_distinct,
      |  ROUND(CAST(CAST(SUM(k) AS BIGINT) AS DOUBLE) / COUNT(k), 6) AS avg_k
      |FROM (SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k
      |      FROM events) x
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- ev_value_hist: fixed-width value histogram per type ----------
  // The distribution primitive: 50-wide buckets of `value` per event
  // type with counts and within-type shares. The bucket is one
  // map-side floor(value/50) (single IEEE divide + floor — identical
  // both engines; no width_bucket in the oracle dialect), the agg is
  // type×bucket-sized, and the share normalizer is a window
  // PARTITIONED BY type. Nothing corpus-sized survives the agg.
  private val histWidth = 50.0

  private def evValueHist(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        floor(col("value") / histWidth).cast("long").as("bucket"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n"))
      .withColumn("share", round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("event_type")), 6))
      .withColumn("lo", col("bucket") * histWidth)
      .select("event_type", "bucket", "lo", "n", "share")
      .orderBy("event_type", "bucket")

  private val evValueHistSql =
    s"""WITH b AS (
      |  SELECT event_type,
      |    CAST(FLOOR(value / CAST($histWidth AS DOUBLE)) AS BIGINT) AS bucket
      |  FROM events),
      |c AS (SELECT event_type, bucket, COUNT(*) AS n FROM b GROUP BY 1, 2)
      |SELECT event_type, bucket,
      |  bucket * CAST($histWidth AS DOUBLE) AS lo, n,
      |  ROUND(CAST(n AS DOUBLE) /
      |    CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT), 6) AS share
      |FROM c ORDER BY event_type, bucket""".stripMargin

  // ---- ev_asof_join: purchase → latest click at-or-before ts --------
  // Spark lacks a native as-of join; the scalable composition is the
  // union-and-carry-forward trick: union both sides, one shuffle by
  // user_id, carry the last click (ts,value) forward with
  // last(ignoreNulls) over an ordered running frame, keep purchases.
  // Clicks sort before purchases on ts ties (src 0 < 1) so the join
  // is at-or-before inclusive. DuckDB's native ASOF JOIN is the twin.
  // The click side is pre-deduped to one row per (user_id, ts) —
  // max_by(value, event_id) in BOTH engines — because DuckDB's ASOF
  // returns an arbitrary row among exact-ts ties while the window
  // order here would pick a deterministic one.
  private def evAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max_by(col("value"), col("event_id")).as("value"))
      .select(col("user_id"), col("ts"), lit(0L).as("event_id"),
        lit(0).as("src"), col("ts").as("c_ts"), col("value").as("c_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("src"),
        lit(null).cast("timestamp").as("c_ts"),
        lit(null).cast("double").as("c_value"))
    val w = Window.partitionBy("user_id").orderBy("ts", "src", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("last_click_ts", last(col("c_ts"), ignoreNulls = true).over(w))
      .withColumn("last_click_value",
        last(col("c_value"), ignoreNulls = true).over(w))
      .filter(col("src") === 1)
      .select(col("event_id"), col("user_id"), col("ts"),
        coalesce(col("last_click_ts"), lit(sentinelTs).cast("timestamp"))
          .as("click_ts"),
        coalesce(col("last_click_value"), lit(-1.0)).as("click_value"))
      .orderBy("event_id")
  }

  private val evAsofJoinSql =
    s"""SELECT p.event_id, p.user_id, p.ts,
      |  COALESCE(c.ts, TIMESTAMP '$sentinelTs') AS click_ts,
      |  COALESCE(c.value, -1.0) AS click_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (
      |  SELECT user_id, ts, max_by(value, event_id) AS value
      |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts) c
      |  ON p.user_id = c.user_id AND c.ts <= p.ts
      |ORDER BY p.event_id""".stripMargin

  // ---- ev_funnel: signup → view → purchase ordered funnel -----------
  // Stage k requires an event strictly after the stage-(k-1) ts.
  // Single pass: one pruned scan (event_type IN the 3 stages), ONE
  // shuffle by user_id, then three stacked whole-partition window
  // minimums — t2's predicate references t1 (constant within the
  // user partition), t3's references t2 — and a co-partitioned final
  // aggregation (no extra exchange). Round 2 computed each stage as
  // its own join+agg and recomputed s1/s2 in the final assembly,
  // scanning events 5× and shuffling 6×.
  private def evFunnel(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    Tables.events(spark, dir)
      .filter(col("event_type").isin("signup", "view", "purchase"))
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t1",
        min(when(col("event_type") === "signup", col("ts"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "view" && col("ts") > col("t1"),
          col("ts"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("ts") > col("t2"),
          col("ts"))).over(w))
      .filter(col("t1").isNotNull)
      .groupBy("user_id")
      .agg(min(col("t1")).as("t1"), min(col("t2")).as("t2"),
        min(col("t3")).as("t3"))
      .select(col("user_id"),
        col("t1").as("signup_ts"),
        coalesce(col("t2"), lit(sentinelTs).cast("timestamp")).as("view_ts"),
        coalesce(col("t3"), lit(sentinelTs).cast("timestamp")).as("purchase_ts"),
        (lit(1) + col("t2").isNotNull.cast("int") +
          col("t3").isNotNull.cast("int")).as("stage"))
      .orderBy("user_id")
  }

  private val evFunnelSql =
    s"""WITH s1 AS (
      |  SELECT user_id, MIN(ts) AS t1 FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
      |  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
      |  WHERE e.event_type = 'view' GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
      |  JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
      |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      |SELECT s1.user_id, s1.t1 AS signup_ts,
      |  COALESCE(s2.t2, TIMESTAMP '$sentinelTs') AS view_ts,
      |  COALESCE(s3.t3, TIMESTAMP '$sentinelTs') AS purchase_ts,
      |  1 + CAST(s2.t2 IS NOT NULL AS INT) + CAST(s3.t3 IS NOT NULL AS INT) AS stage
      |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
      |LEFT JOIN s3 ON s1.user_id = s3.user_id
      |ORDER BY s1.user_id""".stripMargin

  // ---- ev_retention_cohort: daily cohort retention ------------------
  // The canonical product-analytics shape the reference's event
  // pipeline feeds: users bucketed by first-seen day, activity counted
  // per (cohort, day-offset). Cohort assignment is an aggregate
  // self-join on user_id (one shuffle, reused by the activity join);
  // day_offset arithmetic is exact integer day math on identically
  // truncated timestamps, so the grid is cross-engine deterministic.
  private def evRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
    val first = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    ev.join(first, Seq("user_id"))
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy("cohort_day", "day_offset")
  }

  private val evRetentionSql =
    """WITH e AS (SELECT user_id,
      |  CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events),
      |f AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY 1)
      |SELECT cohort_day, datediff('day', cohort_day, day) AS day_offset,
      |  COUNT(DISTINCT e.user_id) AS n_active
      |FROM e JOIN f ON e.user_id = f.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- ev_attribution: purchase ← view interval join ----------------
  // The batch form of graft.streaming.StreamJoin.intervalJoin — the
  // SAME builder runs here over the events table (withWatermark is a
  // no-op on batch input), so the driver's oracle hash-verifies the
  // exact join the streaming spec runs live: each purchase paired
  // with the same user's views in the preceding 30 minutes.
  private def evAttribution(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamJoin.intervalJoin(
      Tables.events(spark, dir), Tables.events(spark, dir),
      leftType = "purchase", rightType = "view")
      .select("l_id", "l_user", "l_ts", "l_value", "r_id", "r_ts")
      .orderBy("l_id", "r_id")

  private val evAttributionSql =
    """SELECT p.event_id AS l_id, p.user_id AS l_user, p.ts AS l_ts,
      |  p.value AS l_value, v.event_id AS r_id, v.ts AS r_ts
      |FROM events p JOIN events v ON p.user_id = v.user_id
      |  AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL '30 minutes'
      |WHERE p.event_type = 'purchase' AND v.event_type = 'view'
      |ORDER BY l_id, r_id""".stripMargin

  // ---- ev_conversion_lag: view→purchase delay percentiles -----------
  // How long after the triggering view does a purchase land, by hour
  // of day — the latency distribution of the attribution pairs
  // (product-analytics complement of ev_attribution's pair list).
  // Per purchase: the MIN lag to its in-window views (= the latest
  // prior view). Lag is integer seconds from an exact µs integer
  // division; percentiles are q_percentiles' discrete rank-index
  // form (ties permute rows, never the value at a rank). The ranking
  // window partitions by the hour-of-day bucket; conversions at
  // 100 TB would partition by (date, hour) so no bucket outgrows a
  // task — the frame here is already one row per CONVERSION, orders
  // of magnitude smaller than events.
  private def evConversionLag(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val conv = graft.streaming.StreamJoin.intervalJoin(ev, ev,
        leftType = "purchase", rightType = "view")
      .select(col("l_id"), hour(col("l_ts")).as("hr"),
        expr("(unix_micros(l_ts) - unix_micros(r_ts)) div 1000000")
          .as("lag_s"))
      .groupBy("l_id", "hr")
      .agg(min(col("lag_s")).as("lag_s"))
    val w = Window.partitionBy("hr")
    def at(p: Double) =
      max(when(col("rn") === greatest(lit(1L), ceil(lit(p) * col("n"))),
        col("lag_s")))
    conv
      .withColumn("rn", row_number().over(w.orderBy("lag_s")))
      .withColumn("n", count(lit(1)).over(w))
      .groupBy("hr")
      .agg(max(col("n")).as("n_conversions"),
        at(0.5).as("p50_lag_s"), at(0.9).as("p90_lag_s"),
        max(col("lag_s")).as("max_lag_s"))
      .orderBy("hr")
  }

  private val evConversionLagSql = {
    def at(p: String) =
      s"""MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(CAST($p AS DOUBLE) * n) AS BIGINT))
        |    THEN lag_s END)""".stripMargin
    s"""WITH conv AS (
      |  SELECT p.event_id AS l_id, hour(p.ts) AS hr,
      |    MIN((epoch_us(p.ts) - epoch_us(v.ts)) // 1000000) AS lag_s
      |  FROM events p JOIN events v ON p.user_id = v.user_id
      |    AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL '30 minutes'
      |  WHERE p.event_type = 'purchase' AND v.event_type = 'view'
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT hr, lag_s,
      |    ROW_NUMBER() OVER (PARTITION BY hr ORDER BY lag_s) AS rn,
      |    COUNT(*) OVER (PARTITION BY hr) AS n
      |  FROM conv)
      |SELECT hr, MAX(n) AS n_conversions,
      |  ${at("0.5")} AS p50_lag_s,
      |  ${at("0.9")} AS p90_lag_s,
      |  MAX(lag_s) AS max_lag_s
      |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- ev_anomaly: z-score outlier hours per event type -------------
  // Operational anomaly detection over the hourly throughput series
  // (the batch analog of the reference's WAL/throughput alerting,
  // wal_monitor.rs:157-166 — "this hour's volume is unusual for this
  // event type"). Per type: mean/variance over its hourly counts,
  // flag hours with |z| ≥ 2.
  // Cross-engine determinism: counts, Σc and Σc² are integer-exact,
  // so z = (n·c − Σc) / (n·σ) with σ = sqrt((n·Σc² − (Σc)²) / n²)
  // divides one exactly-represented integer double by one IEEE sqrt
  // product — identical in both engines; no FP accumulation anywhere.
  // Scale: one shuffle to (type, hour), then a broadcast-size
  // per-type stats frame joins back — the hourly series is ~10⁴ rows
  // per type even over years, so the stats side is always tiny.
  private val anomalyZ = 2.0

  private def evAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("c"))
    val stats = hourly.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("ss"))
      .withColumn("sigma",
        sqrt((col("n") * col("ss") - col("s") * col("s")).cast("double") /
          (col("n") * col("n")).cast("double")))
    hourly.join(broadcast(stats), Seq("event_type"))
      .withColumn("z", (col("n") * col("c") - col("s")).cast("double") /
        (col("n").cast("double") * col("sigma")))
      .filter(col("sigma") > 0 && abs(col("z")) >= anomalyZ)
      .select(col("event_type"), col("hr"), col("c").as("n_events"),
        round(col("z"), 6).as("z"))
      .orderBy("event_type", "hr")
  }

  private val evAnomalySql =
    s"""WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT event_type, COUNT(*) AS n, SUM(c) AS s, SUM(c * c) AS ss
      |  FROM hourly GROUP BY 1)
      |SELECT h.event_type, h.hr, h.c AS n_events,
      |  ROUND(CAST(s.n * h.c - s.s AS DOUBLE) /
      |    (CAST(s.n AS DOUBLE) * sqrt(CAST(s.n * s.ss - s.s * s.s AS DOUBLE)
      |      / CAST(s.n * s.n AS DOUBLE))), 6) AS z
      |FROM hourly h JOIN stats s USING (event_type)
      |WHERE sqrt(CAST(s.n * s.ss - s.s * s.s AS DOUBLE)
      |    / CAST(s.n * s.n AS DOUBLE)) > 0
      |  AND abs(CAST(s.n * h.c - s.s AS DOUBLE) /
      |    (CAST(s.n AS DOUBLE) * sqrt(CAST(s.n * s.ss - s.s * s.s AS DOUBLE)
      |      / CAST(s.n * s.n AS DOUBLE)))) >= $anomalyZ
      |ORDER BY event_type, hr""".stripMargin

  // ---- ev_cohort_ltv: cohort revenue / LTV curves -------------------
  // The value complement of ev_retention_cohort: users grouped by
  // first-seen day, and per (cohort, day-offset) the active-user
  // count, the period revenue, the cohort's cumulative revenue, and
  // LTV per cohort user — the payback-curve table a growth/finance
  // team reads next to the retention matrix. Cross-engine exactness:
  // revenue sums and the cumulative window run in DECIMAL(18,2)
  // (order-independent, exact), cohort sizes and distinct actives
  // are integers; revenue projections round exact 2-decimal values
  // (lossless), and the per-user LTV quotient rounds in INTEGER
  // micro-units (txt_lm_perplexity's (2m+n) div (2n) contract) —
  // cents over a user count lands on exact .5e-7 ties that double
  // rounding breaks differently per engine. The quotient is SIGN-SAFE:
  // it rounds half-away-from-zero via sign(m)·((2·|m|+n) div (2n)),
  // because for negative m the bare identity breaks twice (Spark div
  // truncates toward zero, DuckDB // floors — they disagree on every
  // negative inexact quotient) — so a refund/adjustment batch driving
  // a cohort's cum_rev negative still hashes identically cross-engine.
  // Scale: NO joins anywhere — first-seen is a user-partitioned
  // window over the event scan (one corpus shuffle), cells collapse
  // to cohort×offset (time-bounded, never corpus-sized), and the
  // cohort SIZE is recovered from the cells themselves (every cohort
  // user is active at offset 0, so cohort_users = n_active@0 via a
  // cohort window) — the cumsum and size windows ride one tiny-frame
  // exchange together.
  private def evCohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"),
        col("value").cast(DecimalType(18, 2)).as("v"))
      .withColumn("cohort_day",
        min(col("day")).over(Window.partitionBy("user_id")))
      .withColumn("day_offset",
        datediff(col("day"), col("cohort_day")).cast("long"))
    val cells = ev.groupBy("cohort_day", "day_offset")
      .agg(countDistinct(col("user_id")).as("n_active"),
        sum(col("v")).as("rev"))
    val wCum = Window.partitionBy("cohort_day").orderBy("day_offset")
    val wAll = Window.partitionBy("cohort_day")
    cells
      .withColumn("cum_rev", sum(col("rev")).over(wCum))
      .withColumn("cohort_users",
        max(when(col("day_offset") === 0, col("n_active"))).over(wAll))
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        col("cohort_users"),
        round(col("rev").cast("double"), 6).as("revenue"),
        round(col("cum_rev").cast("double"), 6).as("cum_revenue"),
        (expr("(case when cum_rev < 0 then -1L else 1L end) * " +
          "((2 * abs(cast(cum_rev * 100 as bigint) * 10000L) + cohort_users) " +
          "div (2 * cohort_users))").cast("double") / lit(1000000.0))
          .as("ltv_per_user"))
      .orderBy("cohort_day", "day_offset")
  }

  private val evCohortLtvSql =
    """WITH ev AS (
      |  SELECT user_id, day,
      |    CAST(date_diff('day', MIN(day) OVER (PARTITION BY user_id), day)
      |      AS BIGINT) AS day_offset,
      |    MIN(day) OVER (PARTITION BY user_id) AS cohort_day, v
      |  FROM (SELECT user_id,
      |          CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |          CAST(value AS DECIMAL(18,2)) AS v
      |        FROM events) x),
      |cells AS (
      |  SELECT cohort_day, day_offset,
      |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active,
      |    SUM(v) AS rev
      |  FROM ev GROUP BY 1, 2),
      |cum AS (
      |  SELECT cohort_day, day_offset, n_active, rev,
      |    SUM(rev) OVER (PARTITION BY cohort_day ORDER BY day_offset)
      |      AS cum_rev,
      |    MAX(CASE WHEN day_offset = 0 THEN n_active END)
      |      OVER (PARTITION BY cohort_day) AS cohort_users
      |  FROM cells)
      |SELECT cohort_day, day_offset, n_active, cohort_users,
      |  ROUND(CAST(rev AS DOUBLE), 6) AS revenue,
      |  ROUND(CAST(cum_rev AS DOUBLE), 6) AS cum_revenue,
      |  CAST((CASE WHEN cum_rev < 0 THEN -1 ELSE 1 END) *
      |    ((2 * ABS(CAST(cum_rev * 100 AS BIGINT) * 10000) + cohort_users)
      |      // (2 * cohort_users)) AS DOUBLE) / 1000000.0 AS ltv_per_user
      |FROM cum ORDER BY cohort_day, day_offset""".stripMargin

  // ---- ev_forecast_baseline: seasonal-naive backtest ----------------
  // The forecast-QA report every capacity/alerting pipeline starts
  // from: per event_type, the seasonal-naive hourly forecast
  // ŷ(t) = y(t − 24h) backtested over the type's own history —
  // MAE/RMSE/bias of the daily-seasonality baseline are the floor a
  // real model must beat (and the persistence error feeds alert
  // thresholds the way ev_anomaly's σ does). The hour grid is DENSE
  // per type (zero-event hours count as 0 — skipping them silently
  // inflates the baseline), built by exploding each type's
  // [first, last] hour span; the 24-row lag over that dense series
  // IS t−24h exactly.
  // Cross-engine determinism: counts and errors are integers, so
  // Σ|e|, Σe, Σe² are exact; MAE/bias are one integer-over-integer
  // double division each, RMSE one sqrt on an exactly-represented
  // ratio — identical in both engines.
  // Scale: the hourly series is alphabet×span-sized (~10⁴ rows per
  // type per year — never corpus-sized) but DOES grow with the type
  // alphabet and the time span, so it carries NO broadcast hint (the
  // §5 rule: hints only on frames bounded at any scale); AQE
  // broadcasts it while it fits and degrades to a shuffle join on a
  // wide-alphabet multi-year feed. The only corpus-sized stage is the
  // first map-side-combined hour agg.
  private def evForecastBaseline(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("c"))
    val grid = hourly.groupBy("event_type")
      .agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"),
          expr("interval 1 hour"))).as("hr"))
    val w = Window.partitionBy("event_type").orderBy("hr")
    grid.join(hourly, Seq("event_type", "hr"), "left")
      .withColumn("actual", coalesce(col("c"), lit(0L)))
      .withColumn("fc", lag(col("actual"), 24).over(w))
      .filter(col("fc").isNotNull)
      .withColumn("e", col("actual") - col("fc"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum(col("actual")).as("n_events"),
        sum(abs(col("e"))).as("sae"),
        sum(col("e")).as("se"),
        sum(col("e") * col("e")).as("sse"))
      .select(col("event_type"), col("n_hours"), col("n_events"),
        round(col("sae").cast("double") / col("n_hours").cast("double"), 6)
          .as("mae"),
        round(sqrt(col("sse").cast("double") / col("n_hours").cast("double")), 6)
          .as("rmse"),
        round(col("se").cast("double") / col("n_hours").cast("double"), 6)
          .as("bias"))
      .orderBy("event_type")
  }

  private val evForecastBaselineSql =
    """WITH hourly AS (
      |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
      |    COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |span AS (
      |  SELECT event_type, MIN(hr) AS lo, MAX(hr) AS hi
      |  FROM hourly GROUP BY 1),
      |grid AS (
      |  SELECT event_type,
      |    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
      |  FROM span),
      |dense AS (
      |  SELECT g.event_type, g.hr, COALESCE(h.c, 0) AS actual
      |  FROM grid g LEFT JOIN hourly h
      |    ON g.event_type = h.event_type AND g.hr = h.hr),
      |ev AS (
      |  SELECT event_type, actual,
      |    LAG(actual, 24) OVER (PARTITION BY event_type ORDER BY hr) AS fc
      |  FROM dense),
      |err AS (
      |  SELECT event_type, actual, actual - fc AS e
      |  FROM ev WHERE fc IS NOT NULL)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
      |  CAST(SUM(actual) AS BIGINT) AS n_events,
      |  ROUND(CAST(SUM(abs(e)) AS DOUBLE) / COUNT(*), 6) AS mae,
      |  ROUND(sqrt(CAST(SUM(e * e) AS DOUBLE) / COUNT(*)), 6) AS rmse,
      |  ROUND(CAST(SUM(e) AS DOUBLE) / COUNT(*), 6) AS bias
      |FROM err GROUP BY 1 ORDER BY event_type""".stripMargin

  // ---- ev_dau_wau: daily/weekly actives + stickiness ----------------
  // The engagement counters every event pipeline reports: per day,
  // distinct users that day (DAU), distinct users over the trailing
  // 7 days (WAU), and DAU/WAU stickiness. Exact distinct-over-
  // sliding-window doesn't decompose into partial aggs, so the WAU
  // side joins the (day, user) DISTINCT pairs to a trailing-week day
  // grid — the dedupe is the only corpus-sized aggregation, the
  // grid join fans each pair out 7× (bounded, not quadratic), and at
  // 100 TB the standard escape hatch is approx HLL sketch-merge per
  // day (q_approx_distinct's path) — this op is the exact baseline.
  // Stickiness = one double division of exact counts, ROUND(…, 6).
  private def evDauWau(spark: SparkSession, dir: String): DataFrame = {
    // day as a truncated TIMESTAMP, not DATE — the retention op's
    // convention (identical cross-engine arrow type)
    val dayUsers = Tables.events(spark, dir)
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .distinct()
    val dau = dayUsers.groupBy("day").agg(count(lit(1)).as("dau"))
    val grid = dayUsers.select(col("day").as("active_day"), col("user_id"))
      .crossJoin(broadcast(dayUsers.select(col("day")).distinct()))
      .filter(col("active_day") <= col("day") &&
        col("active_day") >= col("day") - expr("INTERVAL 6 DAYS"))
    val wau = grid.select(col("day"), col("user_id")).distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .withColumn("stickiness",
        round(col("dau").cast("double") / col("wau").cast("double"), 6))
      .orderBy("day")
  }

  private val evDauWauSql =
    """WITH day_users AS (
      |  SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |    user_id FROM events),
      |dau AS (SELECT day, COUNT(*) AS dau FROM day_users GROUP BY day),
      |days AS (SELECT DISTINCT day FROM day_users),
      |wau AS (
      |  SELECT d.day, COUNT(DISTINCT u.user_id) AS wau
      |  FROM days d JOIN day_users u
      |    ON u.day <= d.day AND u.day >= d.day - INTERVAL 6 DAY
      |  GROUP BY d.day)
      |SELECT day, dau, wau,
      |  ROUND(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE), 6) AS stickiness
      |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin

  // ---- ev_heavy_hitters: per-type frequent users --------------------
  // The frequent-items detector (abuse/bot surfacing, hot-key
  // discovery before a partitioning decision): users whose event
  // count within a type is ≥ 1.2× the uniform share. The cut is
  // lift-over-mean rather than an absolute φ so it is scale-free
  // (per-user counts thin as the user base grows; a fixed per-mille
  // threshold empties at 100×), and it is evaluated in pure integer
  // arithmetic (10·n·users ≥ 12·total) — no FP boundary to disagree
  // over. Scale shape: one (type, user) hash agg with map-side
  // partial combine carrying ≤1 row per partition×key, a types-row
  // total that BROADCASTS back, and the output sort. At 100 TB with
  // an unbounded key domain the same two-level shape runs on
  // Misra–Gries summaries per partition (merge = sum + re-prune) or
  // a count-min sketch + candidate heap — both mergeable in one agg
  // pass; the exact form here is the oracle for those.
  private def evHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.events(spark, dir)
      .groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("n_events"))
    val t = c.groupBy("event_type")
      .agg(sum(col("n_events")).as("total"), count(lit(1)).as("n_users"))
    c.join(broadcast(t), Seq("event_type"))
      .filter(col("n_events") * col("n_users") * 10 >= col("total") * 12)
      .select(col("event_type"), col("user_id"), col("n_events"),
        round(col("n_events").cast("double") / col("total"), 6).as("share"),
        round(col("n_events").cast("double") * col("n_users") / col("total"), 6)
          .as("lift"))
      .orderBy("event_type", "user_id")
  }

  private val evHeavyHittersSql =
    """WITH c AS (SELECT event_type, user_id, COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT event_type, SUM(n_events) AS total,
      |    COUNT(*) AS n_users FROM c GROUP BY 1)
      |SELECT event_type, user_id, n_events,
      |  ROUND(CAST(n_events AS DOUBLE) / total, 6) AS share,
      |  ROUND(CAST(n_events AS DOUBLE) * n_users / total, 6) AS lift
      |FROM c JOIN t USING (event_type)
      |WHERE n_events * n_users * 10 >= total * 12
      |ORDER BY event_type, user_id""".stripMargin

  // ---- ev_count_min: count-min frequency sketch vs exact ------------
  // ev_heavy_hitters' declared sketch path made real (Cormode &
  // Muthukrishnan 2005): per-user event frequencies estimated from a
  // count-min grid instead of the exact (type, user) aggregate. The
  // grid is a DATAFRAME — d=7 universal-hash positions per event
  // (h_r(u) = ((a_r·u + b_r) mod 2^61−1) mod w, w = 2000 = ⌈2/ε⌉,
  // d = ⌈−log₂ δ⌉ for ε=0.001, δ=0.01), map-side-combined to ≤ d×w
  // counter rows; the probe joins keys against the broadcast grid
  // and takes the row-wise MIN. At 100 TB the exact agg's shuffle
  // carries one row per live key while the sketch pass shuffles
  // nothing but the fixed grid — the trade every frequency pipeline
  // makes when the key domain explodes.
  // HASH-VERIFIED since r10 (was a seed-opaque sketch object behind
  // a scala UDF): the universal family's 122-bit products run
  // EXACTLY in DECIMAL(38,0) on the Spark side and HUGEINT on the
  // DuckDB side, so grid cells, probe positions, and every estimate
  // replay bit-for-bit from the embedded (a_r, b_r) literals — and
  // the whole op is codegen'd column arithmetic, no UDF, no
  // driver-side sketch. The invariant spec still pins the CMS
  // guarantees (est ≥ exact always; est ≤ exact + ε·N w.h.p.).
  private val cmsD = 7 // ⌈−log₂ 0.01⌉
  private val cmsW = 2000 // ⌈2 / 0.001⌉
  private[graft] def cmsDepth: Int = cmsD
  private[graft] def cmsWidth: Int = cmsW
  private[operators] val cmsSeeds: (Array[Long], Array[Long]) = {
    // draws ALL a's then all b's — a different SEQUENCE from
    // Mersenne61.drawPair's alternating order, so this family cannot
    // switch to the shared helper without changing its committed
    // seed values (the oracle embeds them as literals per run; the
    // range arithmetic itself is drawPair's, kept in sync by the
    // m61_uhash seed-range validation)
    val rnd = new java.util.Random(4242)
    val p = graft.functions.Mersenne61.P
    val a = Array.fill(cmsD)(((rnd.nextLong() & Long.MaxValue) % (p - 1)) + 1)
    val b = Array.fill(cmsD)((rnd.nextLong() & Long.MaxValue) % p)
    (a, b)
  }

  /** h_r(user_id) as a codegen'd column: the native m61_uhash
    * expression (Math.multiplyHigh + the base-2^61 digit fold — ~10
    * long ops inside whole-stage codegen; the equivalent
    * DECIMAL(38,0) chain measured 6× slower end-to-end) mod w. The
    * DuckDB oracle computes the identical value with HUGEINT
    * arithmetic. */
  private def cmsPos(r: Int): Column = {
    val (a, b) = cmsSeeds
    pmod(expr(s"m61_uhash(user_id, ${a(r)}L, ${b(r)}L)"),
      lit(cmsW.toLong)).cast("int")
  }

  /** The two corpus-sized stages of ev_count_min, as shared builders
    * so the ScaleStress shuffle-bytes witness measures EXACTLY the
    * registered op's stages (a re-implementation there would silently
    * drift if the seeds/width/position expression ever change). */
  private[graft] def cmsPosArr: Column = array((0 until cmsD).map(cmsPos): _*)
  private[graft] def cmsGrid(ev: DataFrame): DataFrame =
    ev.select(posexplode(cmsPosArr).as(Seq("r", "pos")))
      .groupBy("r", "pos").agg(count(lit(1)).as("n"))
  private[graft] def cmsExact(ev: DataFrame): DataFrame =
    ev.groupBy("user_id").agg(count(lit(1)).as("exact_n"))

  private def evCountMin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"))
    val grid = cmsGrid(ev)
    val est = cmsExact(ev).select(col("user_id"), col("exact_n"),
        posexplode(cmsPosArr).as(Seq("r", "pos")))
      .join(broadcast(grid), Seq("r", "pos"))
      .groupBy("user_id", "exact_n")
      .agg(min(col("n")).as("est_n"))
    est
      .withColumn("over", (col("est_n") - col("exact_n")).cast("long"))
      .select(col("user_id"), col("exact_n"), col("est_n"), col("over"))
      .orderBy("user_id")
  }

  private val evCountMinSql: String = {
    val (a, b) = cmsSeeds
    val seedRows = (0 until cmsD)
      .map(r => s"($r,${a(r)},${b(r)})").mkString(", ")
    s"""WITH seeds(r, a, b) AS (VALUES $seedRows),
      |pos AS (
      |  SELECT e.user_id, s.r,
      |    CAST(((CAST(s.a AS HUGEINT)
      |        * (e.user_id & ${graft.functions.Mersenne61.P}) + s.b)
      |      % ${graft.functions.Mersenne61.P}) % $cmsW AS INT) AS pos
      |  FROM events e, seeds s),
      |grid AS (SELECT r, pos, COUNT(*) AS n FROM pos GROUP BY 1, 2),
      |exact AS (
      |  SELECT user_id, COUNT(*) AS exact_n FROM events GROUP BY 1),
      |est AS (
      |  SELECT p.user_id, MIN(g.n) AS est_n
      |  FROM (SELECT DISTINCT user_id, r, pos FROM pos) p
      |  JOIN grid g USING (r, pos) GROUP BY 1)
      |SELECT e.user_id, e.exact_n, s.est_n,
      |  CAST(s.est_n - e.exact_n AS BIGINT) AS over
      |FROM exact e JOIN est s USING (user_id)
      |ORDER BY user_id""".stripMargin
  }

  // ---- ev_ab_test: deterministic-split experiment readout -----------
  // Two-sample experiment analysis over the event stream: users split
  // into arms by a deterministic hash (user_id % 2 — every engine and
  // every re-run lands a user in the same arm), per event_type the
  // arms' mean `value` is compared with a Welch z statistic
  // z = (mA − mB) / sqrt(varA/nA + varB/nB). The A/B readout is the
  // other half of the experimentation story next to ev_anomaly's
  // time-series alerting.
  // Cross-engine determinism: value quantizes to exact centi-units
  // (ft_scaler's contract), so per-arm n/Σx/Σx² are exact int64
  // moments; the z expression is a fixed dag of single IEEE ops on
  // exactly-represented integer doubles — identical bits both
  // engines. z is scale-invariant, so it runs entirely in
  // centi-units; means divide back by 100 for display.
  // Scale: ONE conditional-aggregation pass (both arms' moments ride
  // the same scan — adding an arm adds zero scans), alphabet-sized
  // output. The variance's n·ss − s² cross terms are formed in
  // DECIMAL(38,0) (int64 would overflow near 10^7 rows/arm); at
  // 100 TB the moment SUMs themselves widen to DECIMAL(38,0) too —
  // plan unchanged.
  private def evAbTest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("arm", (col("user_id") % 2).cast("int"))
      .withColumn("q100",
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long"))
    def m(a: Int, f: Column => Column, as: String): Column =
      f(when(col("arm") === a, col("q100"))).as(as)
    val stats = ev.groupBy("event_type").agg(
      count(when(col("arm") === 0, lit(1))).as("n_a"),
      m(0, sum, "s_a"),
      sum(when(col("arm") === 0, col("q100") * col("q100"))).as("ss_a"),
      count(when(col("arm") === 1, lit(1))).as("n_b"),
      m(1, sum, "s_b"),
      sum(when(col("arm") === 1, col("q100") * col("q100"))).as("ss_b"))
    // n·ss and s² leave int64 around 10^6-10^7 rows per arm (q100 up
    // to ~5.6e4): form the difference in DECIMAL(38,0) — exact, like
    // DuckDB's int128 — and only the final quotient goes double
    def sampleVar(n: Column, s: Column, ss: Column): Column = {
      val d = DecimalType(38, 0)
      (n.cast(d) * ss.cast(d) - s.cast(d) * s.cast(d)).cast("double") /
        (n.cast(d) * (n - 1).cast(d)).cast("double")
    }
    stats
      .withColumn("se", sqrt(
        sampleVar(col("n_a"), col("s_a"), col("ss_a")) /
          col("n_a").cast("double") +
        sampleVar(col("n_b"), col("s_b"), col("ss_b")) /
          col("n_b").cast("double")))
      .withColumn("zraw",
        (col("s_a").cast("double") / col("n_a").cast("double") -
          col("s_b").cast("double") / col("n_b").cast("double")) / col("se"))
      .filter(col("n_a") > 1 && col("n_b") > 1 && col("se") > 0)
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(col("s_a").cast("double") /
          (col("n_a") * 100).cast("double"), 6).as("mean_a"),
        round(col("s_b").cast("double") /
          (col("n_b") * 100).cast("double"), 6).as("mean_b"),
        round(col("zraw"), 6).as("z"),
        (abs(col("zraw")) >= 1.96).cast("int").as("significant"))
      .orderBy("event_type")
  }

  private val evAbTestSql =
    """WITH ev AS (
      |  SELECT event_type, CAST(user_id % 2 AS INT) AS arm,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS q100
      |  FROM events),
      |stats AS (
      |  SELECT event_type,
      |    COUNT(CASE WHEN arm = 0 THEN 1 END) AS n_a,
      |    SUM(CASE WHEN arm = 0 THEN q100 END) AS s_a,
      |    SUM(CASE WHEN arm = 0 THEN q100 * q100 END) AS ss_a,
      |    COUNT(CASE WHEN arm = 1 THEN 1 END) AS n_b,
      |    SUM(CASE WHEN arm = 1 THEN q100 END) AS s_b,
      |    SUM(CASE WHEN arm = 1 THEN q100 * q100 END) AS ss_b
      |  FROM ev GROUP BY 1),
      |z AS (
      |  SELECT *,
      |    sqrt(CAST(n_a * ss_a - s_a * s_a AS DOUBLE)
      |        / CAST(n_a * (n_a - 1) AS DOUBLE) / CAST(n_a AS DOUBLE)
      |      + CAST(n_b * ss_b - s_b * s_b AS DOUBLE)
      |        / CAST(n_b * (n_b - 1) AS DOUBLE) / CAST(n_b AS DOUBLE)) AS se
      |  FROM stats),
      |zz AS (
      |  SELECT *,
      |    (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      |      - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / se AS zraw
      |  FROM z)
      |SELECT event_type, n_a, n_b,
      |  ROUND(CAST(s_a AS DOUBLE) / CAST(n_a * 100 AS DOUBLE), 6) AS mean_a,
      |  ROUND(CAST(s_b AS DOUBLE) / CAST(n_b * 100 AS DOUBLE), 6) AS mean_b,
      |  ROUND(zraw, 6) AS z,
      |  CAST(abs(zraw) >= 1.96 AS INT) AS significant
      |FROM zz
      |WHERE n_a > 1 AND n_b > 1 AND se > 0
      |ORDER BY event_type""".stripMargin

  // ---- ev_audience_overlap: exact segment-intersection matrix -------
  // The "audience overlap" table every activation/analytics stack
  // exposes (vendors run it on Theta/MinHash sketches; at this
  // cardinality the EXACT answer is one aggregation cheaper): for
  // every unordered event-type pair, how many users are in BOTH
  // ENGAGED audiences (≥ 15 events of the type — a bare any-event
  // membership saturates: on this corpus every user touches every
  // type), with Jaccard |A∩B| / |A∪B| via the half-up micro
  // contract. The sketch path stays available through
  // ev_count_min/q_approx_distinct; this op is their exact ground
  // truth at segment counts where exactness is affordable.
  // Scale: the corpus is touched ONCE — a (user, type) count
  // aggregate (map-side combined), a per-user sorted type-set agg,
  // then ONE explode emitting each user's singles ('' sentinel) AND
  // C(k,2) ordered pairs (k = type alphabet, bounded — never
  // corpus-scaled) into an alphabet²-sized count, eagerly
  // checkpointed so the three downstream reads (pairs + two
  // broadcast self-joins for the per-type totals) never replay the
  // corpus lineage. Nothing after the first agg grows with the
  // event count.
  private val aoMinEvents = 15

  private def evAudienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val tagged = Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= aoMinEvents)
      .groupBy("user_id")
      .agg(sort_array(collect_set(col("event_type"))).as("ts"))
      .select(explode(expr(
        """flatten(transform(ts, (x, i) -> concat(
          |  array(struct(x AS a, '' AS b)),
          |  transform(slice(ts, i + 2, size(ts)), y ->
          |    struct(x AS a, y AS b)))))""".stripMargin)).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n"))
      .transform(Ckpt.stage)
    val singles = tagged.filter(col("b") === lit(""))
    tagged.filter(col("b") =!= lit(""))
      .select(col("a").as("type_a"), col("b").as("type_b"),
        col("n").as("n_both"))
      .join(singles.select(col("a").as("type_a"),
        col("n").as("n_a")), Seq("type_a"))
      .join(singles.select(col("a").as("type_b"),
        col("n").as("n_b")), Seq("type_b"))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_both"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"), col("n_union"),
        (expr("(2 * n_both * 1000000 + n_union) div (2 * n_union)")
          .cast("double") / lit(1000000.0)).as("jaccard"))
      .orderBy("type_a", "type_b")
  }

  private val evAudienceOverlapSql =
    s"""WITH ut AS (
      |  SELECT user_id, event_type FROM events
      |  GROUP BY 1, 2 HAVING COUNT(*) >= $aoMinEvents),
      |tot AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM ut GROUP BY event_type),
      |pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_both
      |  FROM ut a JOIN ut b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, ta.n AS n_a, tb.n AS n_b, n_both,
      |  ta.n + tb.n - n_both AS n_union,
      |  CAST((2 * n_both * 1000000 + (ta.n + tb.n - n_both))
      |    // (2 * (ta.n + tb.n - n_both)) AS DOUBLE) / 1000000.0
      |    AS jaccard
      |FROM pairs
      |JOIN tot ta ON ta.event_type = type_a
      |JOIN tot tb ON tb.event_type = type_b
      |ORDER BY type_a, type_b""".stripMargin

  // ---- ev_markov_entropy: behavioral predictability per user --------
  // The information-theoretic "how predictable is this user" score
  // (Song et al. 2010's predictability-limit framing, on the
  // first-order behavior chain): the conditional entropy of the
  // user's event-type transition process, H(next|cur) =
  // Σ_{c,n} (cnt_cn/T)·ln(cnt_c/cnt_cn) — 0 for a user who always
  // follows c with the same n, ln(k) for uniform transitions. Exact
  // cross-engine: each term is cnt_cn·(lnq(cnt_c) − lnq(cnt_cn)) in
  // integer micro-nats (ln-quantization contract; numerator ≥ 0 by
  // cnt_c ≥ cnt_cn), summed exactly and divided by T via the
  // half-up contract. Output also carries the transition count and
  // the user's distinct (cur, next) support size.
  // Scale: ONE user_id shuffle — the lead window, the (user, cur,
  // next) count agg, the (user, cur) re-agg, and the per-user sum
  // all ride the same partitioning; per-user state is alphabet²-
  // bounded. The term products cnt_cn·lnq brush int64 near ~4·10¹¹
  // transitions in one user — Spark wraps silently (non-ANSI) where
  // DuckDB raises, so the products run in DECIMAL(38,0)/HUGEINT in
  // BOTH engines (ADVICE r9 pattern, applied r11).
  private def evMarkovEntropy(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("cur"))
      .withColumn("nxt", lead(col("cur"), 1).over(byUser))
      .filter(col("nxt").isNotNull)
      .groupBy(col("user_id"), col("cur"), col("nxt"))
      .agg(count(lit(1)).as("cnt_cn"))
    val withCur = trans.withColumn("cnt_c",
      sum(col("cnt_cn")).over(Window.partitionBy("user_id", "cur")))
    withCur.groupBy("user_id")
      .agg(sum(col("cnt_cn")).as("t"),
        count(lit(1)).as("support"),
        sum(col("cnt_cn").cast(DecimalType(38, 0)) *
          (Num.lnqU(col("cnt_c")) - Num.lnqU(col("cnt_cn")))
            .cast(DecimalType(38, 0))).as("h_sum_u"))
      .select(col("user_id"), col("t").as("n_transitions"), col("support"),
        (expr("(2 * h_sum_u + t) div (2 * t)").cast("double")
          / lit(1000000.0)).as("cond_entropy"))
      .orderBy("user_id")
  }

  private val evMarkovEntropySql =
    s"""WITH seq AS (
      |  SELECT user_id, event_type AS cur,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS nxt
      |  FROM events),
      |tc AS (
      |  SELECT user_id, cur, nxt, CAST(COUNT(*) AS BIGINT) AS cnt_cn
      |  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2, 3),
      |wc AS (
      |  SELECT *, SUM(cnt_cn) OVER (PARTITION BY user_id, cur) AS cnt_c
      |  FROM tc)
      |SELECT user_id, CAST(SUM(cnt_cn) AS BIGINT) AS n_transitions,
      |  CAST(COUNT(*) AS BIGINT) AS support,
      |  CAST((2 * SUM(CAST(cnt_cn AS HUGEINT) * (${Num.lnqUSql("cnt_c")}
      |      - ${Num.lnqUSql("cnt_cn")}))
      |    + SUM(cnt_cn)) // (2 * SUM(cnt_cn)) AS DOUBLE) / 1000000.0
      |    AS cond_entropy
      |FROM wc GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- ev_engagement_gini: exact inequality of engagement -----------
  // The concentration metric behind "does 1% of the audience generate
  // 90% of the events": per event type, the Gini coefficient of
  // per-user event counts, EXACT — not the usual sampled/sorted
  // approximation. The trick that makes exactness scale: Gini's
  // mean-absolute-difference numerator only depends on the COUNT
  // HISTOGRAM, N = Σ_{v,w} h_v·h_w·|v−w| over distinct count values,
  // so after the (type, user) aggregate the corpus collapses to a
  // histogram whose width is bounded by the max per-user count — the
  // self-join is histogram², never users². G = N / (2·n·S) and the
  // mean S/n go through the half-up micro contract (all terms
  // non-negative integers). The term products h_v·h_w·|v−w| top out
  // at ~(users/width)²·width — past ~3·10⁸ users per type that wraps
  // int64, so they run in DECIMAL(38,0) on the Spark side and
  // HUGEINT on the oracle side (ev_ab_test's pattern; ADVICE r9
  // applied here in r11) — exact to the 38-digit ceiling, and the
  // G/mean quotients widen with them.
  // Scale: one corpus-sized (type, user) agg (map-side combined),
  // then histogram-sized everything; the pair join keys on
  // event_type — alphabet-bounded, never corpus-keyed.
  private def evEngagementGini(spark: SparkSession, dir: String): DataFrame = {
    // both pair-join sides read the histogram: eager-checkpoint it so
    // the self-join reads histogram-sized rows, not the corpus twice
    val hist = Tables.events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("v"))
      .groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("h"))
      .transform(Ckpt.stage)
    val a = hist.select(col("event_type"), col("v").as("va"),
      col("h").as("ha"))
    val b = hist.select(col("event_type"), col("v").as("vb"),
      col("h").as("hb"))
    val d38 = DecimalType(38, 0)
    a.join(b, Seq("event_type"))
      .groupBy("event_type")
      .agg(
        sum(when(col("vb") === col("va"), col("ha"))).as("n_users"),
        sum(when(col("vb") === col("va"), col("ha") * col("va"))).as("s"),
        sum(col("ha").cast(d38) * col("hb").cast(d38) *
          abs(col("va") - col("vb")).cast(d38)).as("nad"))
      .select(col("event_type"), col("n_users"), col("s").as("n_events"),
        (expr("""(2 * CAST(s AS DECIMAL(38,0)) * 1000000 + n_users)
            | div (2 * n_users)""".stripMargin)
          .cast("double") / lit(1000000.0)).as("mean_per_user"),
        (expr("""(2 * nad * 1000000
            |   + 2 * CAST(n_users AS DECIMAL(38,0)) * s)
            | div (4 * CAST(n_users AS DECIMAL(38,0)) * s)""".stripMargin)
          .cast("double") / lit(1000000.0)).as("gini"))
      .orderBy("event_type")
  }

  private val evEngagementGiniSql =
    """WITH uc AS (
      |  SELECT event_type, user_id, COUNT(*) AS v
      |  FROM events GROUP BY 1, 2),
      |hist AS (
      |  SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS h
      |  FROM uc GROUP BY 1, 2),
      |g AS (
      |  SELECT a.event_type,
      |    CAST(SUM(CASE WHEN a.v = b.v THEN a.h END) AS BIGINT) AS n_users,
      |    CAST(SUM(CASE WHEN a.v = b.v THEN a.h * a.v END) AS BIGINT) AS s,
      |    SUM(CAST(a.h AS HUGEINT) * b.h * abs(a.v - b.v)) AS nad
      |  FROM hist a JOIN hist b ON a.event_type = b.event_type
      |  GROUP BY 1)
      |SELECT event_type, n_users, s AS n_events,
      |  CAST((2 * CAST(s AS HUGEINT) * 1000000 + n_users)
      |    // (2 * n_users) AS DOUBLE) / 1000000.0 AS mean_per_user,
      |  CAST((2 * nad * 1000000 + 2 * CAST(n_users AS HUGEINT) * s)
      |    // (4 * CAST(n_users AS HUGEINT) * s) AS DOUBLE)
      |    / 1000000.0 AS gini
      |FROM g ORDER BY event_type""".stripMargin

  // ---- ev_interval_join: bucketed point-in-interval join ------------
  // The range-join shape Spark has no native operator for (vendors
  // ship it as a "range join hint"): join point events to every
  // INTERVAL covering them — here, each purchase to all OTHER users'
  // 30-min-gap sessions active at that instant, i.e. "how busy was
  // the site when this purchase happened". A naive formulation is a
  // non-equi theta join → CartesianProduct at any scale. This one is
  // the standard bucket-replication decomposition: time is cut into
  // fixed W=1h buckets, each session is replicated to the ⌈span/W⌉
  // buckets it overlaps (sequence + explode on integer bucket ids),
  // each point joins its single bucket with an EQUI key, and the
  // range predicate filters locally inside the bucket. Every
  // (session, point) pair co-occurs in exactly the point's bucket, so
  // no post-join dedup is needed. The DuckDB oracle runs the plain
  // theta join (its IEJoin handles it), proving the bucketed plan
  // semantics-preserving — txt_ngram_topk's two-phase-vs-one-window
  // pattern applied to joins.
  // Scale: cost = |sessions|·(span/W) replicas + |points|, shuffled
  // on the bucket key (corpus-lifetime hours — tens of thousands of
  // distinct keys at any SF; add minute-salting inside a hot hour if
  // one bucket dominates). W is the knob: pick it near the typical
  // interval span so per-bucket work tracks output size. Session
  // derivation rides the ONE user_id shuffle ev_sessionize audited.
  private val ivjBucketUs = 3600L * 1000000L // 1h in epoch micros

  private def evIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val sess = Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id").as("s_user"),
        unix_micros(col("w.start")).as("s_start"),
        unix_micros(col("w.end")).as("s_end"))
    val repl = sess.select(col("s_user"), col("s_start"), col("s_end"),
      explode(sequence(
        col("s_start") divide lit(ivjBucketUs) cast "long",
        col("s_end") divide lit(ivjBucketUs) cast "long")).as("bucket"))
    val points = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        unix_micros(col("ts")).as("p_us"),
        (unix_micros(col("ts")) divide lit(ivjBucketUs) cast "long")
          .as("bucket"))
    val hits = points.join(repl,
        points("bucket") === repl("bucket") &&
          col("p_us") >= col("s_start") && col("p_us") < col("s_end") &&
          col("s_user") =!= col("user_id"))
      .groupBy(points("event_id").as("event_id"))
      .agg(count(lit(1)).as("n"))
    points.select(col("event_id"), col("user_id"), col("ts"))
      .join(hits, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"), col("ts"),
        coalesce(col("n"), lit(0L)).as("n_concurrent"))
      .orderBy("event_id")
  }

  private val evIntervalJoinSql =
    """WITH flagged AS (
      |  SELECT user_id, ts,
      |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id) < 1800000000
      |      THEN 0 ELSE 1 END AS new_s
      |  FROM events),
      |numbered AS (
      |  SELECT user_id, ts,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged),
      |sess AS (
      |  SELECT user_id AS s_user, epoch_us(MIN(ts)) AS s_start,
      |    epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS s_end
      |  FROM numbered GROUP BY user_id, session_id),
      |p AS (
      |  SELECT event_id, user_id, ts, epoch_us(ts) AS p_us
      |  FROM events WHERE event_type = 'purchase'),
      |hits AS (
      |  SELECT p.event_id, COUNT(*) AS n
      |  FROM p JOIN sess s
      |    ON p.p_us >= s.s_start AND p.p_us < s.s_end
      |      AND s.s_user <> p.user_id
      |  GROUP BY p.event_id)
      |SELECT p.event_id, p.user_id, p.ts,
      |  CAST(COALESCE(hits.n, 0) AS BIGINT) AS n_concurrent
      |FROM p LEFT JOIN hits ON p.event_id = hits.event_id
      |ORDER BY p.event_id""".stripMargin

  // ---- ev_seasonality: hour-of-day / day-of-week activity profile ---
  // The traffic-shape diagnostic every capacity planner and
  // bot-triage queue starts from: per event type, WHEN does activity
  // concentrate — peak hour-of-day and day-of-week with their load
  // shares, plus the entropy of each marginal profile (ln 24 /
  // ln 7 for perfectly flat traffic, 0 for a single-slot spike).
  // Exactness: shares and entropies run the established integer
  // contracts — counts are exact, entropy terms are
  // c·(lnq(T)−lnq(c)) micro-nats (ev_markov_entropy's identity),
  // quotients take the half-up micro division. dow is normalized to
  // Sunday=0 on both engines (Spark dayofweek()−1 = DuckDB dow).
  // Scale: ONE corpus pass collapses to the (type, hod, dow) cell
  // frame — ≤ 168·alphabet rows at ANY corpus size — which is
  // eager-checkpointed (the fan-out lesson: two marginal branches
  // would otherwise replay the corpus agg twice); everything after
  // is alphabet-sized window/agg work. The c·Δlnq entropy terms and
  // the share numerators run in DECIMAL(38,0)/HUGEINT in both
  // engines (APPLIED r11 — int64 wrapped near ~4.6·10¹¹ events/type).
  private def evSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select(col("event_type"), hour(col("ts")).as("hod"),
        (dayofweek(col("ts")) - 1).as("dow"))
      .groupBy("event_type", "hod", "dow")
      .agg(count(lit(1)).as("c"))
      .transform(Ckpt.stage)
    // one marginal profile: peak slot (count desc, slot asc) + share
    // + entropy over the given dimension, all alphabet-sized
    def marginal(dim: String, peak: String, share: String,
        ent: String): DataFrame = {
      val byType = Window.partitionBy("event_type")
      cells.groupBy(col("event_type"), col(dim).as("k"))
        .agg(sum(col("c")).as("c"))
        .withColumn("t", sum(col("c")).over(byType))
        .withColumn("rn", row_number().over(
          byType.orderBy(col("c").desc, col("k").asc)))
        .groupBy("event_type")
        // the c·Δlnq entropy terms wrap int64 near ~4.6·10¹¹ events
        // per type — products and sum run in DECIMAL(38,0)/HUGEINT in
        // both engines (APPLIED r11), as does the peak_c·10⁶ share
        // numerator (wraps near 4.6·10¹² events/slot)
        .agg(max(col("t")).as("t"),
          max(when(col("rn") === 1, col("k"))).as(peak),
          max(when(col("rn") === 1, col("c"))).as("peak_c"),
          sum(col("c").cast(DecimalType(38, 0)) *
            (Num.lnqU(col("t")) - Num.lnqU(col("c")))
              .cast(DecimalType(38, 0))).as("h_sum"))
        .select(col("event_type"), col("t"), col(peak),
          (expr("""(2 * CAST(peak_c AS DECIMAL(38,0)) * 1000000 + t)
              | div (2 * t)""".stripMargin).cast("double")
            / lit(1000000.0)).as(share),
          (expr("(2 * h_sum + t) div (2 * t)").cast("double")
            / lit(1000000.0)).as(ent))
    }
    val hod = marginal("hod", "peak_hod", "peak_hod_share", "hod_entropy")
    val dow = marginal("dow", "peak_dow", "peak_dow_share", "dow_entropy")
      .drop("t")
    hod.join(dow, Seq("event_type"))
      .select(col("event_type"), col("t").as("n_events"),
        col("peak_hod"), col("peak_hod_share"), col("hod_entropy"),
        col("peak_dow"), col("peak_dow_share"), col("dow_entropy"))
      .orderBy("event_type")
  }

  private val evSeasonalitySql = {
    def marginal(dimExpr: String, cte: String) =
      s"""${cte}p AS (
        |  SELECT event_type, $dimExpr AS k, CAST(SUM(c) AS BIGINT) AS c
        |  FROM cells GROUP BY 1, 2),
        |${cte}w AS (
        |  SELECT *, SUM(c) OVER (PARTITION BY event_type) AS t,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY c DESC, k ASC) AS rn
        |  FROM ${cte}p),
        |${cte}r AS (
        |  SELECT event_type, CAST(MAX(t) AS BIGINT) AS t,
        |    MAX(CASE WHEN rn = 1 THEN k END) AS peak,
        |    CAST(MAX(CASE WHEN rn = 1 THEN c END) AS BIGINT) AS peak_c,
        |    SUM(CAST(c AS HUGEINT)
        |      * (${Num.lnqUSql("t")} - ${Num.lnqUSql("c")})) AS h_sum
        |  FROM ${cte}w GROUP BY 1)""".stripMargin
    s"""WITH cells AS MATERIALIZED (
      |  SELECT event_type, CAST(hour(ts) AS INT) AS hod,
      |    CAST(dayofweek(ts) AS INT) AS dow, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2, 3),
      |${marginal("hod", "h")},
      |${marginal("dow", "d")}
      |SELECT h.event_type, h.t AS n_events,
      |  h.peak AS peak_hod,
      |  CAST((2 * CAST(h.peak_c AS HUGEINT) * 1000000 + h.t)
      |    // (2 * h.t) AS DOUBLE) / 1000000.0 AS peak_hod_share,
      |  CAST((2 * h.h_sum + h.t) // (2 * h.t) AS DOUBLE)
      |    / 1000000.0 AS hod_entropy,
      |  d.peak AS peak_dow,
      |  CAST((2 * CAST(d.peak_c AS HUGEINT) * 1000000 + d.t)
      |    // (2 * d.t) AS DOUBLE) / 1000000.0 AS peak_dow_share,
      |  CAST((2 * d.h_sum + d.t) // (2 * d.t) AS DOUBLE)
      |    / 1000000.0 AS dow_entropy
      |FROM hr h JOIN dr d ON h.event_type = d.event_type
      |ORDER BY h.event_type""".stripMargin
  }

  // ---- ev_changepoint: exact-integer CUSUM level-shift detection ----
  // Where did the series change level? Page's CUSUM statistic over
  // the hourly count series per event type, kept EXACT by clearing
  // the mean's denominator: S_t = H·(Σ_{i≤t} c_i) − t·T is H times
  // the classic Σ(c_i − mean) partial sum, so argmax|S_t| is the
  // same changepoint with pure int64 arithmetic (no per-step double
  // drift, unlike the usual streaming CUSUM). The report carries the
  // peak hour, the normalized peak, and the level estimate on each
  // side of the split — the before/after means a capacity alert
  // shows. Ties in |S| break to the earliest hour; S_H ≡ 0, so with
  // H ≥ 2 the argmax never lands on the final point and the
  // post-split mean's denominator H−t* stays ≥ 1.
  // Scale: hourly collapse is one map-side-combined agg; everything
  // after is series-sized (corpus-lifetime hours — tens of
  // thousands of rows at any SF) and rides one event_type-keyed
  // exchange. S is computed in DECIMAL(38,0) (HUGEINT on the oracle
  // side) — r12 widening of the r11 int64 seam: |S| ≤ H·T wrapped
  // int64 past ~9·10¹³ events per type at H=10⁵ lifetime hours;
  // decimal pushes the wrap past 10³³ (no corpus). The widening is
  // FREE here because it touches only this series-sized aggregated
  // frame, never the per-row path, and the argmax/tie-break stay
  // exact. The emitted cusum_abs_peak becomes DOUBLE on both engines
  // (both round the same exact integer, so the hash oracle holds;
  // an emitted DECIMAL column would not survive the oracle's pandas
  // materialization, which floats decimals).
  private def evChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy("event_type")
    val ord = byType.orderBy("hr")
    Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("c"))
      .withColumn("t_idx", row_number().over(ord))
      .withColumn("cum", sum(col("c")).over(ord))
      .withColumn("h", count(lit(1)).over(byType))
      .withColumn("tot", sum(col("c")).over(byType))
      .withColumn("s", col("h").cast("decimal(38,0)") * col("cum") -
        col("t_idx").cast("decimal(38,0)") * col("tot"))
      .withColumn("rn", row_number().over(
        byType.orderBy(abs(col("s")).desc, col("hr").asc)))
      .filter(col("rn") === 1 && col("h") >= 2)
      .select(col("event_type"), col("h").as("n_hours"),
        col("tot").as("n_events"), col("hr").as("cp_ts"),
        abs(col("s")).cast("double").as("cusum_abs_peak"),
        (expr("(2 * cast(cum as decimal(38,0)) * 1000000 + t_idx) " +
          "div (2 * t_idx)")
          .cast("double") / lit(1000000.0)).as("pre_mean"),
        (expr("(2 * cast(tot - cum as decimal(38,0)) * 1000000 + " +
          "(h - t_idx)) div (2 * (h - t_idx))").cast("double") /
          lit(1000000.0)).as("post_mean"))
      .withColumn("shift", col("post_mean") - col("pre_mean"))
      .orderBy("event_type")
  }

  private val evChangepointSql =
    """WITH hourly AS (
      |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |scored AS (
      |  SELECT event_type, hr, c,
      |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS t_idx,
      |    CAST(SUM(c) OVER w AS BIGINT) AS cum,
      |    CAST(COUNT(*) OVER p AS BIGINT) AS h,
      |    CAST(SUM(c) OVER p AS BIGINT) AS tot
      |  FROM hourly
      |  WINDOW w AS (PARTITION BY event_type ORDER BY hr
      |      ROWS UNBOUNDED PRECEDING),
      |    p AS (PARTITION BY event_type)),
      |cusum AS (
      |  SELECT *,
      |    CAST(h AS HUGEINT) * cum - CAST(t_idx AS HUGEINT) * tot AS s,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY abs(CAST(h AS HUGEINT) * cum
      |        - CAST(t_idx AS HUGEINT) * tot) DESC, hr ASC) AS rn
      |  FROM scored)
      |SELECT event_type, h AS n_hours, tot AS n_events, hr AS cp_ts,
      |  CAST(abs(s) AS DOUBLE) AS cusum_abs_peak,
      |  CAST((2 * CAST(cum AS HUGEINT) * 1000000 + t_idx)
      |    // (2 * t_idx) AS DOUBLE) / 1000000.0 AS pre_mean,
      |  CAST((2 * CAST(tot - cum AS HUGEINT) * 1000000 + (h - t_idx))
      |    // (2 * (h - t_idx)) AS DOUBLE) / 1000000.0 AS post_mean,
      |  CAST((2 * CAST(tot - cum AS HUGEINT) * 1000000 + (h - t_idx))
      |      // (2 * (h - t_idx)) AS DOUBLE) / 1000000.0
      |    - CAST((2 * CAST(cum AS HUGEINT) * 1000000 + t_idx)
      |      // (2 * t_idx) AS DOUBLE) / 1000000.0 AS shift
      |FROM cusum WHERE rn = 1 AND h >= 2
      |ORDER BY event_type""".stripMargin

  // ---- ev_bot_detect: inter-event-gap regularity screen -------------
  // The timing-regularity bot heuristic (humans are bursty;
  // schedulers tick): per user with ≥ 20 inter-event gaps, the
  // squared coefficient of variation of the gap series — cv² → 0 for
  // a metronome, ~1 for Poisson arrivals — with the bot flag decided
  // by the EXACT integer inequality 100·(n·Σg² − (Σg)²) < (Σg)²
  // (cv < 0.1), no floating point anywhere near the decision
  // boundary. Gaps are epoch-µs int64 deltas; Σg² runs in
  // DECIMAL(38,0) (a day-long gap squared is ~10²² — past int64;
  // DuckDB side uses HUGEINT), the population-variance identity
  // n·Σg² − (Σg)² ≥ 0 by Cauchy–Schwarz so the half-up micro
  // quotients stay in the non-negative contract. Users whose every
  // event shares one timestamp (Σg = 0 — no timing signal) are
  // excluded, documented, rather than divided by zero.
  // Scale: ONE user_id shuffle carries the lag window and the
  // moment agg; per-user state is three integers. The n ≥ 20
  // support cut bounds output by active users.
  private def evBotDetect(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val d38 = DecimalType(38, 0)
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("g", col("us") - lag(col("us"), 1).over(byUser))
      .filter(col("g").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("g")).as("sum_g"),
        sum(col("g").cast(d38) * col("g").cast(d38)).as("sum_g2"))
      .filter(col("n_gaps") >= 20 && col("sum_g") > 0)
      .withColumn("v", col("n_gaps").cast(d38) * col("sum_g2") -
        col("sum_g").cast(d38) * col("sum_g").cast(d38))
      .withColumn("sg2", col("sum_g").cast(d38) * col("sum_g").cast(d38))
      .select(col("user_id"), col("n_gaps"),
        (expr("(2 * sum_g + n_gaps) div (2 * n_gaps)").cast("double")
          / lit(1000000.0)).as("mean_gap_s"),
        (expr("(2 * v * 1000000 + sg2) div (2 * sg2)").cast("double")
          / lit(1000000.0)).as("cv2"),
        (col("v") * 100 < col("sg2")).cast("int").as("is_bot"))
      .orderBy("user_id")
  }

  private val evBotDetectSql =
    """WITH gaps AS (
      |  SELECT user_id,
      |    epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS g
      |  FROM events),
      |mom AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |    CAST(SUM(g) AS BIGINT) AS sum_g,
      |    SUM(CAST(g AS HUGEINT) * g) AS sum_g2
      |  FROM gaps WHERE g IS NOT NULL GROUP BY 1
      |  HAVING COUNT(*) >= 20 AND SUM(g) > 0),
      |vv AS (
      |  SELECT *, n_gaps * sum_g2 - CAST(sum_g AS HUGEINT) * sum_g AS v,
      |    CAST(sum_g AS HUGEINT) * sum_g AS sg2
      |  FROM mom)
      |SELECT user_id, n_gaps,
      |  CAST((2 * sum_g + n_gaps) // (2 * n_gaps) AS DOUBLE)
      |    / 1000000.0 AS mean_gap_s,
      |  CAST((2 * v * 1000000 + sg2) // (2 * sg2) AS DOUBLE)
      |    / 1000000.0 AS cv2,
      |  CAST(v * 100 < sg2 AS INT) AS is_bot
      |FROM vv ORDER BY user_id""".stripMargin

  // ---- ev_attribution_markov: removal-effect channel attribution ----
  // Markov-chain attribution (Anderl et al. 2014 — the data-driven
  // model vendors sell next to the positional rules ev_attribution
  // implements): sessions become absorbing-chain paths
  // START → touches → CONV (first purchase) | NULL (session dies),
  // conversion probability is the chain's absorption mass at CONV,
  // and a channel's credit is its REMOVAL EFFECT — how much
  // conversion drops when the channel is knocked out (made absorbing
  // to NULL). All variants (full + one per channel) iterate
  // TOGETHER in ONE task: the staged transition counts
  // ((alphabet+3)²·variants rows, constant in the corpus) go through
  // Ckpt.small into one kernel (`markovRounds`) that
  // runs the 12 fixed-point rounds over the value vector keyed
  // (variant, node) in the task's memory — never one chain per
  // channel, never one Spark job per round.
  // Exactness: transition weights stay integer COUNTS (never
  // pre-divided probabilities); each round's value update is the
  // half-up micro quotient of Σcnt·v / Σcnt in exact Long arithmetic
  // (overflow raises, as ANSI SQL does), so the oracle's 12 unrolled
  // CTE rounds replay the trajectory bit-for-bit — the hash gate
  // verifies the whole fixed-point computation, the
  // sim_kmeans/txt_quality_distill loop contract. Removal effects
  // clamp at 0 (quantization can wobble ±1µ around a no-op removal)
  // and the share denominator guards the all-zero case with the 0.0
  // sentinel.
  // Scale: path derivation rides ONE user_id shuffle (the
  // ev_transitions session windows + a prior-purchase truncation
  // window on the same key); each kept event emits its transitions
  // via ONE explode (no union fan-out of the corpus lineage); the
  // count frame checkpoints at alphabet²+3 rows and everything
  // after is alphabet-sized.
  private val markovIters = 12

  private def evAttributionMarkov(spark: SparkSession,
      dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val bySess = Window.partitionBy("user_id", "session_id")
      .orderBy(col("ts"), col("event_id"))
    val kept = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("new_s",
        when(col("ts") <
          lag(col("ts"), 1).over(byUser) + expr("INTERVAL 30 MINUTE"), 0)
          .otherwise(1))
      .withColumn("session_id",
        sum(col("new_s")).over(byUser.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .withColumn("pp", coalesce(
        sum(when(col("event_type") === "purchase", 1L)).over(
          bySess.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("pp") === 0)
      .withColumn("node", when(col("event_type") === "purchase", "CONV")
        .otherwise(col("event_type")))
    val counts = kept
      .withColumn("src", coalesce(lag(col("node"), 1).over(bySess),
        lit("START")))
      .withColumn("is_last", lead(col("node"), 1).over(bySess).isNull)
      .select(expr(
        """explode(concat(
          |  array(struct(src AS s, node AS d)),
          |  CASE WHEN is_last AND node <> 'CONV'
          |    THEN array(struct(node AS s, 'NULL' AS d))
          |    ELSE slice(array(struct(node AS s, 'NULL' AS d)), 1, 0)
          |  END)) AS tr""".stripMargin))
      .groupBy(col("tr.s").as("s"), col("tr.d").as("d"))
      .agg(count(lit(1)).as("cnt"))
      .transform(Ckpt.stage)
    val channels = counts.select(col("s")).distinct()
      .filter(col("s") =!= "START")
    // everything below `counts` is alphabet-bounded ((alphabet+3) ×
    // (channels+1) rows — constant in the corpus), so the 12 rounds run
    // in one task (Ckpt.small; 36 jobs per query when each round was
    // staged, against 10); `counts` above remains the staged
    // corpus-lineage truncation point.
    val trans = counts
      .select(lit("full").as("variant"), col("s"), col("d"), col("cnt"))
      .unionAll(counts
        .crossJoin(broadcast(channels.select(col("s").as("variant"))))
        .withColumn("d",
          when(col("s") === col("variant"), lit("NULL")).otherwise(col("d")))
        .groupBy("variant", "s", "d").agg(sum(col("cnt")).as("cnt"))
        .select(col("variant"), col("s"), col("d"), col("cnt")))
      .transform(Ckpt.stage)
    val v = markovValues(trans)
    val conv = v.filter(col("node") === "START")
      .select(col("variant"), col("v"))
    val base = conv.filter(col("variant") === "full")
      .select(col("v").as("base_u"))
    val re = conv.filter(col("variant") =!= "full")
      .crossJoin(broadcast(base))
      .withColumn("re_u", greatest(lit(0L), col("base_u") - col("v")))
    re.crossJoin(broadcast(re.agg(sum(col("re_u")).as("tot_u"))))
      .select(col("variant").as("channel"),
        (col("base_u").cast("double") / 1000000.0).as("base_conv"),
        (col("v").cast("double") / 1000000.0).as("removed_conv"),
        (col("re_u").cast("double") / 1000000.0).as("removal_effect"),
        when(col("tot_u") > 0,
          expr("(2 * re_u * 1000000 + tot_u) div (2 * tot_u)")
            .cast("double") / 1000000.0).otherwise(lit(0.0))
          .as("attribution"))
      .orderBy("channel")
  }

  /** The value vector after [[markovIters]] fixed-point rounds over a
    * transition frame (variant, s, d, cnt), as (variant, node, v)
    * rows: [[markovRounds]] in one task ([[Ckpt.small]]). */
  private[operators] def markovValues(trans: DataFrame): DataFrame = {
    import trans.sparkSession.implicits._
    Ckpt.small(trans.select(col("variant"), col("s"), col("d"), col("cnt"))) {
      rows: Iterator[(String, String, String, Long)] =>
        markovRounds(rows.toSeq, markovIters).iterator
    }.toDF("variant", "node", "v")
  }

  /** `rounds` value iterations of the SQL round in
    * [[evAttributionMarkovSql]], row for row: v0 is every distinct
    * (variant, d) at 1e6 for CONV and 0 otherwise; each round inner-
    * joins the transitions to the current values on (variant, d) —
    * a transition whose destination has no value (or a NULL key) is
    * dropped from both sums, and a source left with no transition has
    * no value next round — sets (2·Σcnt·v + Σcnt) div (2·Σcnt) per
    * (variant, s) and carries the CONV/NULL rows of v0 over (UNION
    * ALL, so a value row is kept per union branch). Every product and
    * sum is exact: an overflow raises [[ArithmeticException]] where
    * ANSI SQL raises its arithmetic overflow error. */
  private[operators] def markovRounds(trans: Seq[(String, String, String, Long)],
      rounds: Int): Seq[(String, String, Long)] = {
    val v0 = trans.map { case (variant, _, d, _) => (variant, d) }.distinct
      .map { case (variant, d) => (variant, d, if (d == "CONV") 1000000L else 0L) }
    val absorbing = v0.filter { case (_, node, _) => node == "CONV" || node == "NULL" }
    (1 to rounds).foldLeft(v0) { (v, _) =>
      val values = v.filter { case (variant, node, _) => variant != null && node != null }
        .groupMap { case (variant, node, _) => (variant, node) }(_._3)
      val sums = scala.collection.mutable.LinkedHashMap.empty[(String, String), (Long, Long)]
      for ((variant, s, d, cnt) <- trans; x <- values.getOrElse((variant, d), Nil)) {
        val (n, nv) = sums.getOrElse((variant, s), (0L, 0L))
        sums((variant, s)) =
          (Math.addExact(n, cnt), Math.addExact(nv, Math.multiplyExact(cnt, x)))
      }
      sums.toSeq.map { case ((variant, s), (n, nv)) =>
        (variant, s, Math.addExact(Math.multiplyExact(2L, nv), n) /
          Math.multiplyExact(2L, n))
      } ++ absorbing
    }
  }

  private val evAttributionMarkovSql = {
    val rounds = (1 to markovIters).map { k =>
      s"""v$k AS MATERIALIZED (
        |  SELECT t.variant, t.s AS node,
        |    CAST((2 * SUM(t.cnt * p.v) + SUM(t.cnt))
        |      // (2 * SUM(t.cnt)) AS BIGINT) AS v
        |  FROM trans t JOIN v${k - 1} p
        |    ON p.variant = t.variant AND p.node = t.d
        |  GROUP BY 1, 2
        |  UNION ALL
        |  SELECT variant, node, v FROM v${k - 1}
        |  WHERE node IN ('CONV', 'NULL'))""".stripMargin
    }.mkString(",\n")
    s"""WITH flagged AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN ts < LAG(ts) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id)
      |      + INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_s
      |  FROM events),
      |sess AS (
      |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged),
      |kept AS MATERIALIZED (
      |  SELECT user_id, session_id, ts, event_id,
      |    CASE WHEN event_type = 'purchase' THEN 'CONV'
      |      ELSE event_type END AS node
      |  FROM (SELECT *, COALESCE(SUM(CASE WHEN event_type = 'purchase'
      |      THEN 1 END) OVER (PARTITION BY user_id, session_id
      |      ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND 1 PRECEDING), 0) AS pp
      |    FROM sess)
      |  WHERE pp = 0),
      |steps AS MATERIALIZED (
      |  SELECT user_id, session_id, node,
      |    COALESCE(LAG(node) OVER w, 'START') AS src,
      |    LEAD(node) OVER w IS NULL AS is_last
      |  FROM kept
      |  WINDOW w AS (PARTITION BY user_id, session_id
      |    ORDER BY ts, event_id)),
      |counts AS MATERIALIZED (
      |  SELECT s, d, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
      |    SELECT src AS s, node AS d FROM steps
      |    UNION ALL
      |    SELECT node, 'NULL' FROM steps WHERE is_last AND node <> 'CONV')
      |  GROUP BY 1, 2),
      |channels AS (SELECT DISTINCT s FROM counts WHERE s <> 'START'),
      |trans AS MATERIALIZED (
      |  SELECT 'full' AS variant, s, d, cnt FROM counts
      |  UNION ALL
      |  SELECT c.s AS variant, x.s,
      |    CASE WHEN x.s = c.s THEN 'NULL' ELSE x.d END AS d,
      |    CAST(SUM(x.cnt) AS BIGINT) AS cnt
      |  FROM counts x CROSS JOIN channels c
      |  GROUP BY 1, 2, 3),
      |v0 AS MATERIALIZED (
      |  SELECT DISTINCT variant, d AS node,
      |    CAST(CASE WHEN d = 'CONV' THEN 1000000 ELSE 0 END AS BIGINT)
      |      AS v
      |  FROM trans),
      |$rounds,
      |conv AS MATERIALIZED (
      |  SELECT variant, v FROM v$markovIters WHERE node = 'START'),
      |re AS MATERIALIZED (
      |  SELECT c.variant AS channel, b.v AS base_u, c.v AS rm_u,
      |    greatest(0, b.v - c.v) AS re_u
      |  FROM conv c CROSS JOIN (SELECT v FROM conv
      |    WHERE variant = 'full') b
      |  WHERE c.variant <> 'full'),
      |tot AS (SELECT CAST(SUM(re_u) AS BIGINT) AS tot_u FROM re)
      |SELECT channel,
      |  CAST(base_u AS DOUBLE) / 1000000.0 AS base_conv,
      |  CAST(rm_u AS DOUBLE) / 1000000.0 AS removed_conv,
      |  CAST(re_u AS DOUBLE) / 1000000.0 AS removal_effect,
      |  CASE WHEN tot_u > 0 THEN
      |    CAST((2 * re_u * 1000000 + tot_u) // (2 * tot_u) AS DOUBLE)
      |      / 1000000.0
      |  ELSE 0.0 END AS attribution
      |FROM re CROSS JOIN tot
      |ORDER BY channel""".stripMargin
  }

  // ---- ev_autocorrelation: exact series ACF at lag 1h / 24h ---------
  // The seasonality-strength readout that complements ev_seasonality
  // (shape) and ev_changepoint (level): the autocorrelation of the
  // hourly count series at lag 1 (persistence) and lag 24 (daily
  // cycle). Exact by clearing the mean: x_t = H·c_t − T centers the
  // series in pure integers (Σx = 0 identically), ACF_k =
  // Σ x_t·x_{t+k} / Σ x_t² with both sums in DECIMAL(38,0)/HUGEINT
  // (x ~ H·c, so x² ~ 10¹⁴ and the sum brushes int64) and the
  // quotient through the SIGN-SAFE half-up contract (ACF is signed).
  // Lagged pairs come from an EQUI-join on (type, hr + k) — a
  // missing hour simply contributes no pair (sparse-pair semantics,
  // documented), never a wrong-distance pair the way LEAD over a
  // gapped series would.
  // Scale: one map-side-combined hourly agg, then series-sized
  // joins/aggs on the (type, hr) key; nothing after the first agg
  // grows with the corpus.
  private def evAutocorrelation(spark: SparkSession,
      dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val byType = Window.partitionBy("event_type")
    val x = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("c"))
      .withColumn("h", count(lit(1)).over(byType))
      .withColumn("t", sum(col("c")).over(byType))
      .withColumn("x", col("h") * col("c") - col("t"))
      .select(col("event_type"), col("hr"), col("x"))
      .transform(Ckpt.stage)
    def lagSum(k: Int): DataFrame = x
      .join(x.select(col("event_type"),
          (col("hr") - expr(s"INTERVAL $k HOUR")).as("hr"),
          col("x").as("xk")),
        Seq("event_type", "hr"))
      .groupBy("event_type")
      .agg(sum(col("x").cast(d38) * col("xk").cast(d38)).as(s"num_$k"),
        count(lit(1)).as(s"pairs_$k"))
    val den = x.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum(col("x").cast(d38) * col("x").cast(d38)).as("den"))
    def acf(k: Int) = expr(
      s"""(case when num_$k < 0 then -1 else 1 end) *
        |  ((2 * abs(num_$k) * 1000000 + den) div (2 * den))"""
        .stripMargin).cast("double") / lit(1000000.0)
    den.join(lagSum(1), Seq("event_type"))
      .join(lagSum(24), Seq("event_type"))
      .filter(col("den") > 0)
      .select(col("event_type"), col("n_hours"),
        col("pairs_1"), acf(1).as("acf_1"),
        col("pairs_24"), acf(24).as("acf_24"))
      .orderBy("event_type")
  }

  private val evAutocorrelationSql =
    """WITH hourly AS (
      |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP)
      |    AS hr, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |x AS MATERIALIZED (
      |  SELECT event_type, hr,
      |    CAST(COUNT(*) OVER w * c - SUM(c) OVER w AS BIGINT) AS x
      |  FROM hourly WINDOW w AS (PARTITION BY event_type)),
      |den AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
      |    SUM(CAST(x AS HUGEINT) * x) AS den
      |  FROM x GROUP BY 1),
      |l1 AS (
      |  SELECT a.event_type,
      |    SUM(CAST(a.x AS HUGEINT) * b.x) AS num_1,
      |    CAST(COUNT(*) AS BIGINT) AS pairs_1
      |  FROM x a JOIN x b ON a.event_type = b.event_type
      |    AND b.hr = a.hr + INTERVAL 1 HOUR
      |  GROUP BY 1),
      |l24 AS (
      |  SELECT a.event_type,
      |    SUM(CAST(a.x AS HUGEINT) * b.x) AS num_24,
      |    CAST(COUNT(*) AS BIGINT) AS pairs_24
      |  FROM x a JOIN x b ON a.event_type = b.event_type
      |    AND b.hr = a.hr + INTERVAL 24 HOUR
      |  GROUP BY 1)
      |SELECT den.event_type, n_hours,
      |  pairs_1,
      |  CAST((CASE WHEN num_1 < 0 THEN -1 ELSE 1 END) *
      |    ((2 * abs(num_1) * 1000000 + den) // (2 * den)) AS DOUBLE)
      |    / 1000000.0 AS acf_1,
      |  pairs_24,
      |  CAST((CASE WHEN num_24 < 0 THEN -1 ELSE 1 END) *
      |    ((2 * abs(num_24) * 1000000 + den) // (2 * den)) AS DOUBLE)
      |    / 1000000.0 AS acf_24
      |FROM den
      |JOIN l1 ON l1.event_type = den.event_type
      |JOIN l24 ON l24.event_type = den.event_type
      |WHERE den > 0
      |ORDER BY den.event_type""".stripMargin

  // ---- ev_attribution_shapley: coalition-game channel credit ---------
  // Shapley-value attribution (Zhao et al. 2018 — the third
  // attribution model next to ev_attribution's positional rules and
  // ev_attribution_markov's removal effects; the one with the
  // axiomatic fairness story): sessions are coalitions — each
  // pre-first-purchase session contributes its SET of touched
  // channels, v(S) = converted sessions whose touch set ⊆ S, and
  // channel credit is the exact Shapley value
  // φ_c = Σ_{S∌c} |S|!(n−1−|S|)!/n! · (v(S∪c) − v(S)).
  // Everything is exact integer work (`shapleyValues`): channel bits
  // in name order, v(S) by a subset-sum over the 2ⁿ mask grid, φ·n!
  // in Long arithmetic that raises on overflow, and φ through the
  // half-up micro contract with the n! division LAST (φ·n! stays
  // integral throughout). Efficiency axiom Σφ = v(full) − v(∅) is the
  // invariant spec's pin (v(∅) = sessions converting with zero prior
  // touches — credit no channel can claim).
  // Scale: ONE user_id shuffle (the shared 30-min sessionization +
  // prior-purchase truncation windows) collapses the corpus to one
  // sorted channel set per session, and one aggregate by set to ≤2ⁿ
  // (set, converted, sessions) rows; the kernel runs on those in one
  // task (Ckpt.small). Exact Shapley is inherently 2ⁿ in the CHANNEL
  // alphabet (n ≤ 20, where n! fits a Long; permutation-sampling is
  // the documented wide-alphabet path) — never in the corpus.
  private def evAttributionShapley(spark: SparkSession,
      dir: String): DataFrame =
    shapleyOf(Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type")))

  /** The attribution core over any (user_id, ts, event_id,
    * event_type) frame — factored so the invariant spec can pin a
    * crafted two-channel log against the hand-computed exact Shapley
    * values (φ_click = 1.5, φ_view = 0.5 on the 3-session example). */
  private[graft] def shapleyOf(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val bySess = Window.partitionBy("user_id", "session_id")
      .orderBy(col("ts"), col("event_id"))
    val sets = ev
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
      .groupBy("user_id", "session_id")
      .agg(array_sort(collect_set(
          when(col("event_type") =!= "purchase", col("event_type")))).as("set"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
      .groupBy("set")
      .agg(sum(col("conv")).as("nc"), count(lit(1)).as("ns"))
    Ckpt.small(sets) { rows: Iterator[(Seq[String], Long, Long)] =>
      shapleyValues(rows.toSeq).iterator
    }.toDF("channel", "n_sessions", "shapley", "share")
      .orderBy("channel")
  }

  /** (channel, n_sessions, shapley, share) per channel, row for row
    * what [[evAttributionShapleySql]] gives, from (set, nc, ns) rows:
    * a session channel set, its converted and its total sessions. The
    * channels are those of the sets; v(S) = Σ nc over sets ⊆ S;
    * φ·n! = Σ_{S∌c} |S|!(n−1−|S|)!·(v(S∪c) − v(S)), reported as the
    * half-up micro quotient by n!, and share as the half-up micro
    * quotient by t = Σ φ·n! (0.0 when t ≤ 0). Every sum and product
    * is exact: an overflow raises [[ArithmeticException]] where ANSI
    * SQL raises its arithmetic overflow error. */
  private[operators] def shapleyValues(
      sets: Seq[(Seq[String], Long, Long)]): Seq[(String, Long, Double, Double)] = {
    import Math.{addExact, multiplyExact, subtractExact}
    val channels = sets.flatMap(_._1).distinct.sorted.toIndexedSeq
    val n = channels.size
    require(n <= 20, s"exact Shapley over $n channels needs n! in a Long (n ≤ 20)")
    val bit = channels.zipWithIndex.map { case (c, i) => c -> (1 << i) }.toMap
    val v = new Array[Long](1 << n)
    val sessions = new Array[Long](n)
    for ((set, nc, ns) <- sets) {
      val m = set.foldLeft(0)(_ | bit(_))
      v(m) = addExact(v(m), nc)
      for (i <- 0 until n if (m >> i & 1) == 1) sessions(i) = addExact(sessions(i), ns)
    }
    for (i <- 0 until n; m <- v.indices if (m >> i & 1) == 1)
      v(m) = addExact(v(m), v(m ^ 1 << i))
    val fact = (1 to n).scanLeft(1L)(_ * _)
    val num = (0 until n).map { i =>
      v.indices.filter(m => (m >> i & 1) == 0).foldLeft(0L) { (acc, m) =>
        val s = Integer.bitCount(m)
        addExact(acc, multiplyExact(multiplyExact(fact(s), fact(n - 1 - s)),
          subtractExact(v(m | 1 << i), v(m))))
      }
    }
    val t = num.foldLeft(0L)(addExact)
    def micro(x: Long, d: Long): Double =
      (addExact(multiplyExact(multiplyExact(2L, x), 1000000L), d) /
        multiplyExact(2L, d)).toDouble / 1000000.0
    (0 until n).map { i =>
      (channels(i), sessions(i), micro(num(i), fact(n)),
        if (t > 0) micro(num(i), t) else 0.0)
    }
  }

  private val evAttributionShapleySql =
    """WITH base AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN ts < LAG(ts) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id) + INTERVAL 30 MINUTE
      |      THEN 0 ELSE 1 END AS new_s
      |  FROM events),
      |sess0 AS (
      |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM base),
      |kept AS (
      |  SELECT * FROM (
      |    SELECT *, COALESCE(SUM(CASE WHEN event_type = 'purchase'
      |        THEN 1 END) OVER (PARTITION BY user_id, session_id
      |        ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pp
      |    FROM sess0) t
      |  WHERE pp = 0),
      |alpha AS (SELECT DISTINCT event_type AS ch FROM kept
      |  WHERE event_type <> 'purchase'),
      |idx AS (
      |  SELECT a.ch, CAST(COUNT(b.ch) AS BIGINT) AS idx
      |  FROM alpha a LEFT JOIN alpha b ON b.ch < a.ch GROUP BY a.ch),
      |nn AS (SELECT CAST(COUNT(*) AS INT) AS n FROM idx),
      |sessions AS (
      |  SELECT k.user_id, k.session_id,
      |    CAST(COALESCE(SUM(DISTINCT (CAST(1 AS BIGINT) << i.idx)), 0)
      |      AS BIGINT) AS smask,
      |    MAX(CASE WHEN k.event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS conv
      |  FROM kept k LEFT JOIN idx i ON k.event_type = i.ch
      |  GROUP BY 1, 2),
      |cbm AS (SELECT smask, CAST(SUM(conv) AS BIGINT) AS nc,
      |    CAST(COUNT(*) AS BIGINT) AS ns
      |  FROM sessions GROUP BY 1),
      |masks AS (SELECT unnest(range(0,
      |  (CAST(1 AS BIGINT) << (SELECT n FROM nn)))) AS s_mask),
      |v AS (
      |  SELECT m.s_mask, CAST(COALESCE(SUM(c.nc), 0) AS BIGINT) AS v
      |  FROM masks m LEFT JOIN cbm c ON (c.smask & ~m.s_mask) = 0
      |  GROUP BY 1),
      |contrib AS (
      |  SELECT i.ch,
      |    CAST(SUM(CAST(factorial(CAST(bit_count(vs.s_mask) AS INT))
      |        AS BIGINT)
      |      * CAST(factorial(n - 1 - CAST(bit_count(vs.s_mask) AS INT))
      |        AS BIGINT)
      |      * (vw.v - vs.v)) AS BIGINT) AS num,
      |    MAX(n) AS n
      |  FROM v vs CROSS JOIN idx i CROSS JOIN nn
      |  JOIN v vw ON vw.s_mask =
      |    (vs.s_mask | (CAST(1 AS BIGINT) << i.idx))
      |  WHERE (vs.s_mask & (CAST(1 AS BIGINT) << i.idx)) = 0
      |  GROUP BY 1),
      |touched AS (
      |  SELECT i.ch, CAST(COALESCE(SUM(c.ns), 0) AS BIGINT) AS n_sessions
      |  FROM idx i LEFT JOIN cbm c ON ((c.smask >> i.idx) & 1) = 1
      |  GROUP BY 1),
      |tot AS (SELECT CAST(SUM(num) AS BIGINT) AS t FROM contrib)
      |SELECT ch AS channel, n_sessions,
      |  CAST((2 * num * 1000000 + CAST(factorial(n) AS BIGINT))
      |    // (2 * CAST(factorial(n) AS BIGINT)) AS DOUBLE) / 1000000
      |    AS shapley,
      |  CASE WHEN t > 0 THEN
      |    CAST((2 * num * 1000000 + t) // (2 * t) AS DOUBLE) / 1000000.0
      |  ELSE 0.0 END AS share
      |FROM contrib JOIN touched USING (ch) CROSS JOIN tot
      |ORDER BY channel""".stripMargin

  // ---- ev_ab_srm: sample-ratio-mismatch audit ------------------------
  // The assignment-integrity check that must PASS before ev_ab_test's
  // readout is trusted (Fabijan et al. 2019: SRM is the most common
  // way an experiment silently lies): per exposure segment (users who
  // emitted each event type, plus the TOTAL experiment population),
  // compare arm counts under the deterministic user_id % 2 split
  // against the designed 50/50 with the χ² statistic — which for two
  // arms collapses to (n_a − n_b)² / (n_a + n_b), an exact rational
  // routed through the half-up integer micro contract; the srm flag
  // compares MICRO-integers against the preregistered critical value
  // 3.841459 (df=1, α=0.05), so the cut can't flip on a double tie.
  // The unit is the USER (distinct per segment), not the event — an
  // event-weighted ratio would confound traffic with assignment.
  // Overflow posture (ADVICE r9, now applied): the squared-imbalance
  // product runs in DECIMAL(38,0)/HUGEINT in BOTH engines, so the
  // exact-integer contract holds to ~10¹⁶ users of arm imbalance
  // (the 38-digit ceiling) instead of wrapping int64 at ~2·10⁶.
  // Scale: one (type, user) dedupe agg + one distinct-user pass for
  // TOTAL; both collapse to alphabet-sized frames before anything
  // else runs.
  private def evAbSrm(spark: SparkSession, dir: String): DataFrame =
    srmOf(Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"),
        (col("user_id") % 2).cast("int").as("arm")))

  /** The audit core over any (event_type, user_id, arm) frame —
    * factored so the sensitivity spec can prove a doctored
    * assignment trips the flag (the registered query's all-green
    * report on the healthy % 2 split is the desired outcome, not
    * evidence the gate can't fire). */
  private[graft] def srmOf(ev: DataFrame): DataFrame = {
    val seg = ev.select("event_type", "user_id", "arm").distinct()
    val tot = ev.select("user_id", "arm").distinct()
      .withColumn("event_type", lit("TOTAL"))
    val counts = seg.unionByName(tot.select("event_type", "user_id", "arm"))
      .groupBy(col("event_type").as("segment"))
      .agg(count(when(col("arm") === 0, lit(1))).as("n_a"),
        count(when(col("arm") === 1, lit(1))).as("n_b"))
    counts
      .withColumn("chi2_micro", expr(
        """(2 * 1000000 * CAST(n_a - n_b AS DECIMAL(38,0))
          |   * CAST(n_a - n_b AS DECIMAL(38,0)) + (n_a + n_b))
          | div (2 * (n_a + n_b))""".stripMargin))
      .select(col("segment"), col("n_a"), col("n_b"),
        (col("chi2_micro").cast("double") / 1000000L).as("chi2"),
        (col("chi2_micro") >= 3841459L).cast("int").as("srm"))
      .orderBy("segment")
  }

  private val evAbSrmSql =
    """WITH ev AS (
      |  SELECT event_type, user_id,
      |    CAST(user_id % 2 AS INT) AS arm FROM events),
      |seg AS (
      |  SELECT DISTINCT event_type, user_id, arm FROM ev
      |  UNION ALL
      |  SELECT DISTINCT 'TOTAL', user_id, arm FROM ev),
      |counts AS (
      |  SELECT event_type AS segment,
      |    CAST(COUNT(CASE WHEN arm = 0 THEN 1 END) AS BIGINT) AS n_a,
      |    CAST(COUNT(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS n_b
      |  FROM seg GROUP BY 1),
      |scored AS (
      |  SELECT segment, n_a, n_b,
      |    CAST((2 * 1000000 * CAST(n_a - n_b AS HUGEINT)
      |        * CAST(n_a - n_b AS HUGEINT) + (n_a + n_b))
      |      // (2 * (n_a + n_b)) AS BIGINT) AS chi2_micro
      |  FROM counts)
      |SELECT segment, n_a, n_b,
      |  CAST(chi2_micro AS DOUBLE) / 1000000 AS chi2,
      |  CAST(chi2_micro >= 3841459 AS INT) AS srm
      |FROM scored ORDER BY segment""".stripMargin

  // ---- ev_lifecycle: daily growth accounting ------------------------
  // The Social-Capital-style growth-accounting ledger every product
  // pipeline reports (and the reference's throughput counters are the
  // degenerate single-tier form of): per calendar day, active users
  // split into NEW (first-ever day), RETAINED (also active the
  // previous day) and RESURRECTED (seen before, but not yesterday),
  // plus CHURNED (active yesterday, absent today) and the quick
  // ratio (new + resurrected) / churned. Churn falls out of each
  // user's own day sequence (a gap or series end emits a churn event
  // on day+1, capped at the corpus max day so the frozen corpus
  // can't "churn" everyone after its last day) — no global day-lag
  // window is needed, so nothing here single-task-sorts. The day
  // grid is DENSE over [min, max] (a globally-quiet day still shows
  // its churn). All counts are exact integers; quick_ratio is one
  // int-over-int double division, ROUND(…, 6), with churn FLOORED AT
  // 1 in the denominator (the zero-churn day would otherwise emit a
  // NULL double, which pandas-side oracle plumbing coerces to NaN —
  // a cross-engine trap; the raw counts sit beside it regardless).
  // Scale: the (user, day) dedupe is the only corpus-sized exchange;
  // the lag/lead windows ride the SAME user_id hash partitioning
  // (day dedupe keys are a superset), daily aggregates are
  // calendar-sized, and the grid/churn joins touch days-sized frames
  // only. The 1-row max-day scalar is the lone broadcast. The
  // (user, day) frame fans out three ways (sequence window, max-day
  // scalar, grid bounds) and the lag/lead frame two ways
  // (daily classes, churn events) — both eager-checkpointed so no
  // branch replays the corpus dedupe: one corpus pass runs, ever
  // (un-checkpointed the final plan carried 9 exchanges across
  // replayed subtrees; now the producers pay theirs once and the
  // final plan is 3).
  private def evLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val dayUsers = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
      .transform(Ckpt.stage)
    val w = Window.partitionBy("user_id").orderBy("day")
    val seq0 = dayUsers
      .withColumn("prev_day", lag(col("day"), 1).over(w))
      .withColumn("next_day", lead(col("day"), 1).over(w))
    val maxDay = dayUsers.agg(max(col("day")).as("max_day"))
    val tagged = seq0.crossJoin(broadcast(maxDay)).transform(Ckpt.stage)
    val daily = tagged.groupBy("day")
      .agg(count(lit(1)).as("active"),
        count(when(col("prev_day").isNull, lit(1))).as("new_users"),
        count(when(col("prev_day") === col("day") - expr("INTERVAL 1 DAY"),
          lit(1))).as("retained"),
        count(when(col("prev_day").isNotNull &&
          col("prev_day") < col("day") - expr("INTERVAL 1 DAY"),
          lit(1))).as("resurrected"))
    val churn = tagged
      .filter(col("day") + expr("INTERVAL 1 DAY") <= col("max_day") &&
        (col("next_day").isNull ||
          col("next_day") > col("day") + expr("INTERVAL 1 DAY")))
      .groupBy((col("day") + expr("INTERVAL 1 DAY")).as("day"))
      .agg(count(lit(1)).as("churned"))
    val grid = dayUsers.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("day"))
    grid.join(daily, Seq("day"), "left").join(churn, Seq("day"), "left")
      .na.fill(0L,
        Seq("active", "new_users", "retained", "resurrected", "churned"))
      .withColumn("quick_ratio",
        round((col("new_users") + col("resurrected")).cast("double") /
          greatest(col("churned"), lit(1L)).cast("double"), 6))
      .orderBy("day")
  }

  private val evLifecycleSql =
    """WITH day_users AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events),
      |seq AS (
      |  SELECT user_id, day,
      |    LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
      |    LEAD(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
      |  FROM day_users),
      |bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM day_users),
      |daily AS (
      |  SELECT day, CAST(COUNT(*) AS BIGINT) AS active,
      |    CAST(COUNT(*) FILTER (WHERE prev_day IS NULL) AS BIGINT)
      |      AS new_users,
      |    CAST(COUNT(*) FILTER (WHERE prev_day = day - INTERVAL 1 DAY)
      |      AS BIGINT) AS retained,
      |    CAST(COUNT(*) FILTER (WHERE prev_day IS NOT NULL
      |      AND prev_day < day - INTERVAL 1 DAY) AS BIGINT) AS resurrected
      |  FROM seq GROUP BY day),
      |churn AS (
      |  SELECT day + INTERVAL 1 DAY AS day, CAST(COUNT(*) AS BIGINT)
      |    AS churned
      |  FROM seq, bounds
      |  WHERE day + INTERVAL 1 DAY <= hi
      |    AND (next_day IS NULL OR next_day > day + INTERVAL 1 DAY)
      |  GROUP BY 1),
      |grid AS (
      |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
      |  FROM bounds)
      |SELECT g.day,
      |  CAST(COALESCE(d.active, 0) AS BIGINT) AS active,
      |  CAST(COALESCE(d.new_users, 0) AS BIGINT) AS new_users,
      |  CAST(COALESCE(d.retained, 0) AS BIGINT) AS retained,
      |  CAST(COALESCE(d.resurrected, 0) AS BIGINT) AS resurrected,
      |  CAST(COALESCE(c.churned, 0) AS BIGINT) AS churned,
      |  ROUND(CAST(COALESCE(d.new_users, 0) + COALESCE(d.resurrected, 0)
      |    AS DOUBLE) / GREATEST(COALESCE(c.churned, 0), 1), 6)
      |    AS quick_ratio
      |FROM grid g
      |LEFT JOIN daily d ON g.day = d.day
      |LEFT JOIN churn c ON g.day = c.day
      |ORDER BY g.day""".stripMargin

  // ---- ev_inter_event: inter-arrival gap profile ---------------------
  // The inter-event-time distribution that calibrates ev_sessionize's
  // gap threshold and capacity models' arrival assumptions: each
  // user's consecutive-event gaps (total order (ts, event_id), so
  // same-timestamp rows can't flip the pairing between engines),
  // attributed to the LATER event's type, reported per type as exact
  // count, mean, and exact discrete p50/p90/p99 in integer
  // microseconds (q_percentiles' rank-indexing idiom — interpolation
  // would be two FP ops with per-engine rounding; the value at rank
  // ceil(p·n) is exact). unix-micros subtraction keeps every gap an
  // exact int64; the mean is one int-over-int double division chain
  // written identically in both engines.
  // Scale: the gap window rides one user_id shuffle; the per-type
  // rank windows are the exact-percentile correctness baseline (same
  // contract as q_percentiles — at 100 TB the production path is the
  // mergeable approx_percentile sketch, q_approx_percentiles' form).
  private def evInterEvent(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gaps = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .filter(col("prev_ts").isNotNull)
      .select(col("event_type"), col("event_id"),
        (unix_micros(col("ts")) - unix_micros(col("prev_ts"))).as("gap_us"))
    val wt = Window.partitionBy("event_type")
    val ranked = gaps
      .withColumn("rn",
        row_number().over(wt.orderBy(col("gap_us"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(wt))
    def at(p: Double) =
      max(when(col("rn") === greatest(lit(1L), ceil(lit(p) * col("n"))),
        col("gap_us")))
    ranked.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        round(sum(col("gap_us")).cast("double") / count(lit(1)) / 1000000L,
          6).as("mean_gap_s"),
        at(0.5).as("p50_us"), at(0.9).as("p90_us"), at(0.99).as("p99_us"))
      .orderBy("event_type")
  }

  private val evInterEventSql = {
    def at(p: String) =
      s"""MAX(CASE WHEN rn = GREATEST(1,
        |    CAST(CEIL(CAST($p AS DOUBLE) * n) AS BIGINT))
        |    THEN gap_us END)""".stripMargin
    s"""WITH gaps AS (
      |  SELECT event_type, event_id,
      |    epoch_us(ts) - epoch_us(LAG(ts) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      |  FROM events QUALIFY gap_us IS NOT NULL),
      |ranked AS (
      |  SELECT event_type, gap_us,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY gap_us, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM gaps)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |  ROUND(CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) / 1000000, 6)
      |    AS mean_gap_s,
      |  ${at("0.5")} AS p50_us,
      |  ${at("0.9")} AS p90_us,
      |  ${at("0.99")} AS p99_us
      |FROM ranked GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  // ---- ev_inter_event_approx: the declared 100 TB gap profile -------
  // ev_inter_event's production form, now REGISTERED: the percentile
  // legs come from approx_percentile's mergeable digest — one
  // map-side-combined agg per type over the same gap frame, NO
  // per-type rank windows — so only the user_id shuffle (which the
  // gap pairing itself owns) remains. Same output schema as the
  // exact op. Rows-only (digest internals are impl-specific); the
  // invariant spec binds each approx percentile to the exact gap
  // distribution within rank-error bounds.
  private def evInterEventApprox(spark: SparkSession,
      dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gaps = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .filter(col("prev_ts").isNotNull)
      .select(col("event_type"),
        (unix_micros(col("ts")) - unix_micros(col("prev_ts"))).as("gap_us"))
    gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        round(sum(col("gap_us")).cast("double") / count(lit(1)) / 1000000L,
          6).as("mean_gap_s"),
        percentile_approx(col("gap_us"),
          array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("ap"))
      .select(col("event_type"), col("n_gaps"), col("mean_gap_s"),
        element_at(col("ap"), 1).as("p50_us"),
        element_at(col("ap"), 2).as("p90_us"),
        element_at(col("ap"), 3).as("p99_us"))
      .orderBy("event_type")
  }

  override val ops: Seq[Op] = Seq(
    Op("ev_tumbling_1h", evTumbling, Some(evTumblingSql)),
    Op("ev_sliding_2h", evSliding, Some(evSlidingSql)),
    Op("ev_sessionize", evSessionize, Some(evSessionizeSql)),
    Op("ev_top_paths", evTopPaths, Some(evTopPathsSql)),
    Op("ev_transitions", evTransitions, Some(evTransitionsSql)),
    Op("ev_props_stats", evPropsStats, Some(evPropsStatsSql)),
    Op("ev_value_hist", evValueHist, Some(evValueHistSql)),
    Op("ev_asof_join", evAsofJoin, Some(evAsofJoinSql)),
    Op("ev_funnel", evFunnel, Some(evFunnelSql)),
    Op("ev_retention_cohort", evRetention, Some(evRetentionSql)),
    Op("ev_attribution", evAttribution, Some(evAttributionSql)),
    Op("ev_conversion_lag", evConversionLag, Some(evConversionLagSql)),
    Op("ev_anomaly", evAnomaly, Some(evAnomalySql)),
    Op("ev_dau_wau", evDauWau, Some(evDauWauSql)),
    Op("ev_heavy_hitters", evHeavyHitters, Some(evHeavyHittersSql)),
    Op("ev_count_min", evCountMin, Some(evCountMinSql)),
    Op("ev_ab_test", evAbTest, Some(evAbTestSql)),
    Op("ev_forecast_baseline", evForecastBaseline, Some(evForecastBaselineSql)),
    Op("ev_cohort_ltv", evCohortLtv, Some(evCohortLtvSql)),
    Op("ev_interval_join", evIntervalJoin, Some(evIntervalJoinSql)),
    Op("ev_audience_overlap", evAudienceOverlap, Some(evAudienceOverlapSql)),
    Op("ev_engagement_gini", evEngagementGini, Some(evEngagementGiniSql)),
    Op("ev_markov_entropy", evMarkovEntropy, Some(evMarkovEntropySql)),
    Op("ev_seasonality", evSeasonality, Some(evSeasonalitySql)),
    Op("ev_changepoint", evChangepoint, Some(evChangepointSql)),
    Op("ev_bot_detect", evBotDetect, Some(evBotDetectSql)),
    Op("ev_attribution_markov", evAttributionMarkov,
      Some(evAttributionMarkovSql)),
    Op("ev_autocorrelation", evAutocorrelation, Some(evAutocorrelationSql)),
    Op("ev_attribution_shapley", evAttributionShapley,
      Some(evAttributionShapleySql)),
    Op("ev_ab_srm", evAbSrm, Some(evAbSrmSql)),
    Op("ev_lifecycle", evLifecycle, Some(evLifecycleSql)),
    Op("ev_inter_event", evInterEvent, Some(evInterEventSql)),
    Op("ev_inter_event_approx", evInterEventApprox, None),
  )
}
