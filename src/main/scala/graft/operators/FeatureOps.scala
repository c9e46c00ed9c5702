package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Feature engineering over the event stream and order history
  * (SURVEY §I) — the point-in-time-correct feature shapes a training
  * pipeline derives from raw logs before model training. The reference's
  * continuous pipeline delivers the events (docs/data_flow.md §1–3);
  * these operators are what the downstream consumer computes from
  * them, with the one invariant that matters for training data:
  * every feature at time t is a function of events at or before t
  * only (no leakage from the future).
  *
  * Scale notes: everything here shuffles at most once by user_id.
  * Only RUNNING (unbounded-preceding) window frames appear in hot
  * paths — Spark maintains those incrementally, while a SLIDING
  * frame re-aggregates its buffer per frame move, which is quadratic
  * on a hot key and has no AQE escape (see ft_rolling_24h's
  * interval-delta form and SCALE_SKEW_r08.json for the measurement);
  * the time grid is a bounded explode (days-active per user); the
  * point-in-time join is an equi-join on user_id whose range
  * predicate bounds the match set by the lookback horizon, so the
  * joined cardinality per user is O(events in window), never O(n²).
  */
object FeatureOps extends Suite {

  // ---- ft_rolling_24h: trailing-24h rolling features per event ------
  // For every event: how many events (and how much value) did this
  // user generate in the 24 hours ending at — and including — this
  // event. Count is integer-exact; the value sum runs in fixed-scale
  // decimal (order-independent, so the delta cancellations below are
  // bit-exact) and casts to double only at the end, so both engines
  // emit identical bits.
  //
  // SKEW-PROOF FORM (measured, SCALE_SKEW_r08.json): the obvious
  // sliding RANGE frame is NOT what runs here. Spark re-aggregates a
  // sliding frame's buffer every time the frame moves (no retract
  // path), so a hot user's partition is O(rows × frame) — a 20%-hot
  // user at 10× took the RANGE form from 1.7 s to 17.3 s, and window
  // skew has no AQE escape (skew-join splits joins, never windows).
  // Instead each event emits an arrival delta (+1, +v) at ts and an
  // expiry delta (−1, −v) at ts + 24h, and ONE running cumulative
  // frame over the per-user (t, kind) timeline — Spark's running
  // frame IS incremental — reconstructs the trailing aggregate in
  // O(rows) per user (q_orders_backlog's interval-delta trick at
  // per-event grain). Expiries sort AFTER arrivals at the same
  // instant (kind 0 < 1) because an event 24h old is still inside
  // the closed [t−24h, t] window; arrivals tied on ts are RANGE
  // peers of the default cumulative frame, exactly the tie semantics
  // of the plain RANGE form the oracle replays. 2n narrow rows, the
  // same single user_id shuffle.
  private val dayUs = 86400000000L // 24h in microseconds

  private def ftRolling(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        unix_micros(col("ts")).as("ts_us"),
        col("value").cast(DecimalType(18, 2)).as("v"))
    val arrivals = base.select(col("event_id"), col("user_id"), col("ts"),
      col("ts_us").as("t"), lit(0).as("k"),
      lit(1L).as("dn"), col("v").as("dv"))
    val expiries = base.select(col("event_id"), col("user_id"), col("ts"),
      (col("ts_us") + dayUs).as("t"), lit(1).as("k"),
      lit(-1L).as("dn"), (-col("v")).as("dv"))
    // default frame of an ordered window = RANGE UNBOUNDED PRECEDING
    // .. CURRENT ROW, peers included — the running, truly-incremental
    // frame shape
    val w = Window.partitionBy("user_id").orderBy(col("t"), col("k"))
    arrivals.unionAll(expiries)
      .withColumn("n_24h", sum(col("dn")).over(w))
      .withColumn("sum_24h", sum(col("dv")).over(w).cast("double"))
      .filter(col("k") === 0)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("n_24h"), col("sum_24h"))
      .orderBy("event_id")
  }

  private val ftRollingSql =
    """SELECT event_id, user_id, ts,
      |  COUNT(*) OVER w AS n_24h,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_24h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts
      |  RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  // ---- ft_daily_ffill: gap-filled daily grid with forward-fill ------
  // Resample each user's irregular event stream onto a regular daily
  // grid from their first to their last active day: day-level event
  // count (0 on silent days) and the last observed `value` carried
  // forward — the align-to-training-grid shape (a model consumes a
  // fixed-frequency series; sensors/logs don't emit one). The in-day
  // "last" is deterministic via max_by on the (ts, event_id) total
  // order, never a tie-broken double. The grid explode is bounded by
  // days-active per user (a 10-year user is ~3.7k rows), and the
  // forward-fill window rides the same user_id partitioning as the
  // grid join. Day 1 of every user has an event by construction, so
  // the fill never sees a leading NULL.
  private def ftDailyFfill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val daily = ev
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        max_by(col("value"), struct(col("ts"), col("event_id")))
          .as("day_last"))
    val spans = ev.groupBy("user_id")
      .agg(date_trunc("day", min(col("ts"))).as("d0"),
        date_trunc("day", max(col("ts"))).as("d1"))
    val grid = spans.select(col("user_id"),
      explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY")))
        .as("day"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("day_last"), ignoreNulls = true).over(w).as("value_ffill"))
      .orderBy("user_id", "day")
  }

  private val ftDailyFfillSql =
    """WITH ranked AS (
      |  SELECT user_id, date_trunc('day', ts) AS day, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', ts)
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events),
      |daily AS (
      |  SELECT user_id, day, COUNT(*) AS n_events,
      |    MAX(CASE WHEN rn = 1 THEN value END) AS day_last
      |  FROM ranked GROUP BY 1, 2),
      |spans AS (
      |  SELECT user_id, date_trunc('day', min(ts)) AS d0,
      |    date_trunc('day', max(ts)) AS d1
      |  FROM events GROUP BY 1),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      |  FROM spans)
      |SELECT g.user_id, g.day,
      |  COALESCE(d.n_events, 0) AS n_events,
      |  LAST_VALUE(d.day_last IGNORE NULLS) OVER (
      |    PARTITION BY g.user_id ORDER BY g.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
      |FROM grid g LEFT JOIN daily d
      |  ON g.user_id = d.user_id AND g.day = d.day
      |ORDER BY 1, 2""".stripMargin

  // ---- ft_point_in_time: leakage-safe features per label event ------
  // The feature-store point-in-time join: for every purchase (the
  // label event), the user's activity STRICTLY BEFORE the purchase —
  // views in the prior 7 days, any events in the prior 24 hours,
  // exact-decimal value sum over 7 days. `h_ts < p_ts` (never <=) is
  // the leakage guard: a feature computed from the label's own
  // instant would train on the answer. Left join keeps cold-start
  // purchases (no prior activity) as all-zero feature rows — count
  // over the null-extended side is 0 without special-casing.
  private def ftPointInTime(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"))
    val h = ev.select(col("user_id").as("h_user"), col("ts").as("h_ts"),
      col("event_type").as("h_type"), col("value").as("h_value"))
    p.join(h,
        p("user_id") === h("h_user") &&
          h("h_ts") < p("p_ts") &&
          h("h_ts") >= p("p_ts") - expr("INTERVAL 7 DAYS"),
        "left")
      .groupBy(col("p_id"), col("user_id"), col("p_ts"))
      .agg(count(col("h_ts")).as("n_events_7d"),
        count(when(col("h_type") === "view", lit(1))).as("n_views_7d"),
        count(when(col("h_ts") >= col("p_ts") - expr("INTERVAL 24 HOURS"),
          lit(1))).as("n_events_24h"),
        coalesce(sum(col("h_value").cast(DecimalType(18, 2))),
          lit(0).cast(DecimalType(18, 2))).cast("double").as("sum_value_7d"))
      .orderBy("p_id")
  }

  private val ftPointInTimeSql =
    """SELECT p.event_id AS p_id, p.user_id, p.ts AS p_ts,
      |  COUNT(h.ts) AS n_events_7d,
      |  COUNT(CASE WHEN h.event_type = 'view' THEN 1 END) AS n_views_7d,
      |  COUNT(CASE WHEN h.ts >= p.ts - INTERVAL 24 HOURS THEN 1 END)
      |    AS n_events_24h,
      |  CAST(COALESCE(SUM(CAST(h.value AS DECIMAL(18,2))),
      |    CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS sum_value_7d
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN events h
      |  ON p.user_id = h.user_id
      |  AND h.ts < p.ts AND h.ts >= p.ts - INTERVAL 7 DAYS
      |GROUP BY 1, 2, 3 ORDER BY p_id""".stripMargin

  // ---- ft_label_next7d: forward-window label generation -------------
  // The mirror image of ft_point_in_time: features look strictly
  // BACK, labels look strictly FORWARD. For every active (user, day):
  // did the user purchase within the next 7 days, exclusive of the
  // label day itself ((day, day+7] — a same-day purchase would leak
  // the outcome into its own features). The RANGE frame runs on an
  // integer epoch-day index, identical in both engines; the purchase
  // day-counts it sums are integer-exact. One user_id shuffle for the
  // daily rollup; the label window reuses that partitioning.
  private def ftLabelNext7d(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day_idx"))
      .agg(count(lit(1)).as("n_events"),
        count(when(col("event_type") === "purchase", lit(1)))
          .as("n_purchases"))
    val w = Window.partitionBy("user_id").orderBy(col("day_idx"))
      .rangeBetween(1L, 7L)
    daily
      .withColumn("label_purchase_7d",
        (coalesce(sum(col("n_purchases")).over(w), lit(0L)) > 0)
          .cast("int"))
      .select(col("user_id"), col("day"), col("n_events"),
        col("label_purchase_7d"))
      .orderBy("user_id", "day")
  }

  private val ftLabelNext7dSql =
    """WITH daily AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_idx,
      |    COUNT(*) AS n_events,
      |    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases
      |  FROM events GROUP BY 1, 2, 3)
      |SELECT user_id, day, n_events,
      |  CAST(COALESCE(SUM(n_purchases) OVER (
      |    PARTITION BY user_id ORDER BY day_idx
      |    RANGE BETWEEN 1 FOLLOWING AND 7 FOLLOWING), 0) > 0 AS INT)
      |    AS label_purchase_7d
      |FROM daily
      |ORDER BY user_id, day""".stripMargin

  // ---- ft_target_encode: leave-one-out categorical encoding ---------
  // Target-encode the customer market segment by mean order total,
  // LEAVE-ONE-OUT per order: each order's encoding is the segment
  // mean computed WITHOUT that order — the standard guard against the
  // encoding leaking the row's own target into its features. The
  // segment stats frame is category-cardinality-sized (a handful of
  // rows at any corpus size) and broadcasts; the encode itself is
  // map-only over the fact scan. Sums are exact DECIMAL(18,2), so
  // loo = CAST(seg_sum - own AS DOUBLE) / (seg_n - 1) is one IEEE
  // division of bit-identical operands in both engines.
  private def ftTargetEncode(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumn("q", col("o_totalprice").cast(DecimalType(18, 2)))
    val seg = o.join(
        Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
    val stats = seg.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"))
    seg.join(broadcast(stats), Seq("c_mktsegment"))
      .withColumn("loo_enc",
        round((col("s") - col("q")).cast("double") /
          (col("n") - lit(1)).cast("double"), 6))
      .select(col("o_orderkey"), col("c_mktsegment"), col("loo_enc"))
      .orderBy("o_orderkey")
  }

  private val ftTargetEncodeSql =
    """WITH seg AS (
      |  SELECT o.o_orderkey, c.c_mktsegment,
      |    CAST(o.o_totalprice AS DECIMAL(18,2)) AS q
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |stats AS (
      |  SELECT c_mktsegment, COUNT(*) AS n, SUM(q) AS s
      |  FROM seg GROUP BY 1)
      |SELECT o_orderkey, seg.c_mktsegment,
      |  ROUND(CAST(s - q AS DOUBLE) / CAST(n - 1 AS DOUBLE), 6) AS loo_enc
      |FROM seg JOIN stats USING (c_mktsegment)
      |ORDER BY o_orderkey""".stripMargin

  // ---- ft_scaler: per-category z-score + min-max normalization ------
  // Train-and-apply feature scaling per event_type: standardized and
  // min-max-scaled `value` for every event. The train step reduces
  // to alphabet-sized per-type moments (n, Σx, Σx², min, max) that
  // broadcast back; the apply step is map-only — the canonical
  // "fit on the corpus, transform the corpus" shape with one
  // alphabet-keyed aggregation and zero extra fact shuffles.
  // Determinism: value quantizes to exact centi-units
  // (CAST(DECIMAL(18,2)) · 100 → BIGINT), every moment is an exact
  // integer, and σ/z/minmax mirror ev_anomaly's single-IEEE-op
  // structure so both engines emit identical bits. At 100 TB the
  // int64 moments widen to DECIMAL(38,0) sums — same plan.
  private def ftScaler(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("q100",
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long"))
    val stats = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("q100")).as("s"),
        sum(col("q100") * col("q100")).as("ss"),
        min(col("q100")).as("mn"), max(col("q100")).as("mx"))
      .withColumn("sigma",
        sqrt((col("n") * col("ss") - col("s") * col("s")).cast("double") /
          (col("n") * col("n")).cast("double")))
    ev.join(broadcast(stats), Seq("event_type"))
      .filter(col("sigma") > 0 && col("mx") > col("mn"))
      .select(col("event_id"), col("event_type"), col("value"),
        round((col("n") * col("q100") - col("s")).cast("double") /
          (col("n").cast("double") * col("sigma")), 6).as("z_value"),
        round((col("q100") - col("mn")).cast("double") /
          (col("mx") - col("mn")).cast("double"), 6).as("mm_value"))
      .orderBy("event_id")
  }

  private val ftScalerSql =
    """WITH ev AS (
      |  SELECT event_id, event_type, value,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS q100
      |  FROM events),
      |stats AS (
      |  SELECT event_type, COUNT(*) AS n, SUM(q100) AS s,
      |    SUM(q100 * q100) AS ss, MIN(q100) AS mn, MAX(q100) AS mx
      |  FROM ev GROUP BY 1),
      |sig AS (
      |  SELECT *, sqrt(CAST(n * ss - s * s AS DOUBLE)
      |    / CAST(n * n AS DOUBLE)) AS sigma
      |  FROM stats)
      |SELECT e.event_id, e.event_type, e.value,
      |  ROUND(CAST(g.n * e.q100 - g.s AS DOUBLE)
      |    / (CAST(g.n AS DOUBLE) * g.sigma), 6) AS z_value,
      |  ROUND(CAST(e.q100 - g.mn AS DOUBLE)
      |    / CAST(g.mx - g.mn AS DOUBLE), 6) AS mm_value
      |FROM ev e JOIN sig g USING (event_type)
      |WHERE g.sigma > 0 AND g.mx > g.mn
      |ORDER BY e.event_id""".stripMargin

  // ---- ft_cooccurrence: top co-purchased part pairs -----------------
  // Market-basket co-occurrence mining (the input to item-item
  // recommenders and association rules): the 20 part pairs appearing
  // together in the most orders. The self-join is keyed on
  // l_orderkey, so the pair fan-out per order is C(items, 2) — a
  // BOUNDED constant (TPC-H orders hold ≤ 7 lineitems), never a
  // corpus-quadratic blowup; a pathological mega-basket is the skew
  // AQE splits. The global top-20 runs as TakeOrderedAndProject
  // (partial top-k per partition; only 20 rows per partition reach
  // the driver-side merge). Count ties break on (p1, p2) so the cut
  // is cross-engine deterministic.
  private def ftCooccurrence(spark: SparkSession, dir: String): DataFrame = {
    // one okey exchange shared by the distinct and both self-join
    // sides (hash(okey) clusters (okey, pk) — r15, guide §2.4)
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .repartition(col("l_orderkey"))
      .distinct()
    val a = li.select(col("l_orderkey"), col("l_partkey").as("p1"))
    val b = li.select(col("l_orderkey"), col("l_partkey").as("p2"))
    a.join(b, Seq("l_orderkey")).filter(col("p1") < col("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("p1"), col("p2"))
      .limit(20)
  }

  private val ftCooccurrenceSql =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_orders
      |FROM li a JOIN li b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |GROUP BY 1, 2
      |ORDER BY n_orders DESC, p1, p2 LIMIT 20""".stripMargin

  // ---- ft_rfm: recency/frequency/monetary segmentation --------------
  // Classic RFM customer scoring: per customer, days since last
  // order (R), order count (F), exact-decimal lifetime spend (M);
  // each scored into within-segment quartiles (NTILE(4) PARTITIONED
  // by market segment — a global unpartitioned quartile would be a
  // single-task sort at scale, the shape PlanAuditSpec forbids), and
  // rolled up to the (segment, rfm_code) distribution with average
  // spend. The reference date is the corpus max order date (one
  // broadcast scalar row), so the op is deterministic for a frozen
  // corpus rather than wall-clock-dependent. Every NTILE ordering
  // ends in c_custkey, a total order — quartile boundaries cannot
  // flip between engines.
  private def ftRfm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, dir)
    val cust = o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("f"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("m"))
    val maxDate = o.agg(max(col("o_orderdate")).as("ref_date"))
    val seg = cust
      .crossJoin(broadcast(maxDate))
      .withColumn("r_days",
        datediff(col("ref_date").cast("date"), col("last_order").cast("date")))
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
    def q(order: Seq[org.apache.spark.sql.Column]) = ntile(4).over(
      Window.partitionBy("c_mktsegment").orderBy(order: _*))
    val scored = seg
      .withColumn("rq", q(Seq(col("r_days").asc, col("o_custkey").asc)))
      .withColumn("fq", q(Seq(col("f").desc, col("o_custkey").asc)))
      .withColumn("mq", q(Seq(col("m").desc, col("o_custkey").asc)))
      .withColumn("rfm_code",
        (col("rq") * 100 + col("fq") * 10 + col("mq")).cast("long"))
    scored.groupBy("c_mktsegment", "rfm_code")
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("m")).cast("double") /
          count(lit(1)).cast("double"), 6).as("avg_monetary"))
      .orderBy("c_mktsegment", "rfm_code")
  }

  private val ftRfmSql =
    """WITH cust AS (
      |  SELECT o_custkey, MAX(o_orderdate) AS last_order,
      |    COUNT(*) AS f,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS m
      |  FROM orders GROUP BY 1),
      |ref AS (SELECT MAX(o_orderdate) AS ref_date FROM orders),
      |seg AS (
      |  SELECT cust.*, c.c_mktsegment,
      |    datediff('day', CAST(last_order AS DATE),
      |      CAST(ref.ref_date AS DATE)) AS r_days
      |  FROM cust CROSS JOIN ref
      |  JOIN customer c ON cust.o_custkey = c.c_custkey),
      |scored AS (
      |  SELECT c_mktsegment, m,
      |    NTILE(4) OVER (PARTITION BY c_mktsegment
      |      ORDER BY r_days ASC, o_custkey ASC) * 100 +
      |    NTILE(4) OVER (PARTITION BY c_mktsegment
      |      ORDER BY f DESC, o_custkey ASC) * 10 +
      |    NTILE(4) OVER (PARTITION BY c_mktsegment
      |      ORDER BY m DESC, o_custkey ASC) AS rfm_code
      |  FROM seg)
      |SELECT c_mktsegment, rfm_code, COUNT(*) AS n_customers,
      |  ROUND(CAST(SUM(m) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
      |    AS avg_monetary
      |FROM scored GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---- ft_item_pagerank: PageRank over the co-purchase graph --------
  // The iterative-graph shape (Page et al. 1999) done Spark-first:
  // items are nodes, an undirected edge links parts bought together
  // in at least one order, and 3 power-iteration rounds of
  // r' = (1-d)/N + d·Σ r(u)/deg(u) rank items by graph centrality —
  // the item-importance prior a recommender starts from. Per
  // iteration the plan is the canonical distributed PageRank: ranks
  // join edges on src (one shuffle), contributions aggregate on dst
  // (one shuffle); the edge list and degrees are built once and
  // persisted across rounds. At 100 TB edges pre-partition by src so
  // the per-round join reuses one partitioning; the iteration count
  // is fixed, so the lineage stays bounded without checkpoints.
  // Cross-engine exactness: the ENTIRE iteration runs in integer
  // pico-units (rank mass 1.0 ≡ 10^12) — per-edge contribution
  // r/deg, the 0.85 damping, and the teleport term are all half-up
  // integer divisions over positive longs ((2a+b) div (2b) — the
  // txt_lm_perplexity trick), sums are long sums, and the only
  // floating-point op is the final output division. Both engines
  // walk bit-identical rank sequences, so the oracle replays all 3
  // iterations as CTEs. (ROUND(double, 12) is NOT cross-engine-safe:
  // Spark rounds the exact binary expansion, DuckDB rounds in double
  // arithmetic — observed 3e-12 drift; integer units dodge the whole
  // class.) Isolated parts (never co-purchased) are outside the
  // graph by construction; every node has deg ≥ 1 (no dangling-mass
  // term).
  private val prIters = 3
  private val prUnit = 1000000000000L // pico-units: 1.0 rank mass

  private def ftItemPagerank(spark: SparkSession, dir: String): DataFrame = {
    // ONE l_orderkey exchange feeds both the (okey, pk) distinct and
    // both self-join sides (hash(okey) clusters (okey, pk), so the
    // distinct agg and the join reuse it — r15, guide §2.4), and deg
    // rides a src window on the edge frame instead of a groupBy +
    // join-back (one src exchange instead of two): 10 planned
    // exchanges → 5, edge build measured 2.7 s → 1.2 s warm at sf0.1.
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .repartition(col("l_orderkey"))
      .distinct()
    // the pair distinct runs under hash(src) (a subset of its
    // grouping keys), so the SAME exchange serves the deg window too
    // — one src exchange instead of (src, dst) + src (r15)
    val edges = li.select(col("l_orderkey"), col("l_partkey").as("src"))
      .join(li.select(col("l_orderkey"), col("l_partkey").as("dst")),
        Seq("l_orderkey"))
      .filter(col("src") =!= col("dst"))
      .select("src", "dst")
      .repartition(col("src"))
      .distinct()
    // Ckpt.cache, not Ckpt.stage (r16): the loop-invariant edge frame
    // re-enters every round as an InMemoryRelation that KEEPS its
    // hash(src) partitioning, so the per-round rank join and the
    // final deg distinct+join run without re-exchanging the edges
    // (guide §2.4), and no staging job runs.
    val edgesD = edges
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
      .transform(Ckpt.cache)
    val n = edgesD.select(col("src").as("node")).distinct()
      .agg(count(lit(1)).as("n"))
    // r0 = 1/N, tp = 0.15/N, both half-up in pico-units. The
    // teleport term is the SAME constant for every node, so it RIDES
    // the rank rows as a column and survives the dst aggregation as
    // max(tp) — no per-iteration broadcast of anything (the r6 form
    // broadcast a node-keyed (node, tp) frame every round, which
    // scales with the item vocabulary), no extra frame in the loop.
    // Every dst in the symmetric edge list is also a src, so the
    // contribution agg already lands on exactly the node set and no
    // join-back filter is needed.
    // the 3 rounds unroll LAZILY over the cached edge frame (r16):
    // each round is join(cached edges, prev ranks) + one dst agg, so
    // the whole iteration runs as ONE action instead of 4 eager
    // staging jobs — the former combinatorial re-embedding of the
    // edge-building subtree (the reason the loop checkpointed) is
    // gone because every round's edge reference is the same
    // InMemoryRelation, and the rank lineage grows only linearly in
    // the fixed 3 rounds.
    val init = edgesD.select(col("src").as("node")).distinct()
      .crossJoin(broadcast(n))
      .select(col("node"),
        expr(s"(2 * ${prUnit}L + n) div (2 * n)").as("r"),
        expr(s"(2 * ${prUnit / 100 * 15}L + n) div (2 * n)").as("tp"))
    val ranks = (1 to prIters).foldLeft(init) { (prev, _) =>
      edgesD
        .join(prev.select(col("node").as("src"), col("r"), col("tp")),
          Seq("src"))
        .withColumn("c", expr("(2 * r + deg) div (2 * deg)"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("c")).as("s"), max(col("tp")).as("tp"))
        .select(col("node"),
          (col("tp") + expr("(2 * 85 * s + 100) div 200")).as("r"),
          col("tp"))
    }
    ranks
      .join(edgesD.select(col("src").as("node"), col("deg")).distinct(),
        Seq("node"))
      .orderBy(col("r").desc, col("node"))
      .limit(20)
      .select(col("node").as("p_partkey"), col("deg").as("degree"),
        (col("r").cast("double") / lit(prUnit.toDouble)).as("pagerank"))
  }

  private val ftItemPagerankSql = {
    def iter(k: Int) =
      s"""c$k AS (
        |  SELECT e.dst AS node, SUM((2 * r.r + e.deg) // (2 * e.deg)) AS s
        |  FROM edges e JOIN r${k - 1} r ON e.src = r.node GROUP BY 1),
        |r$k AS (
        |  SELECT c.node, i.tp + ((2 * 85 * c.s + 100) // 200) AS r
        |  FROM c$k c JOIN r0 i ON c.node = i.node)""".stripMargin
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |pairs AS (
      |  SELECT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      |  GROUP BY 1, 2),
      |degs AS (SELECT src, COUNT(*) AS deg FROM pairs GROUP BY 1),
      |edges AS (SELECT p.src, p.dst, d.deg FROM pairs p
      |  JOIN degs d ON p.src = d.src),
      |nn AS (SELECT COUNT(DISTINCT src) AS n FROM pairs),
      |r0 AS (
      |  SELECT src AS node,
      |    (2 * ${prUnit} + n) // (2 * n) AS r,
      |    (2 * ${prUnit / 100 * 15} + n) // (2 * n) AS tp
      |  FROM (SELECT DISTINCT src FROM pairs) s CROSS JOIN nn),
      |${(1 to prIters).map(iter).mkString(",\n")}
      |SELECT r.node AS p_partkey, d.deg AS degree,
      |  CAST(r.r AS DOUBLE) / ${prUnit}.0 AS pagerank
      |FROM r$prIters r JOIN degs d ON r.node = d.src
      |ORDER BY r.r DESC, r.node LIMIT 20""".stripMargin
  }

  // ---- ft_lag_features: previous-active-day lag features ------------
  // The standard autoregressive feature block a tabular model trains
  // on: per (user, active day), that day's count/value rollup plus
  // the SAME metrics lagged 1 and 7 ACTIVE days back, the day-gap to
  // the previous active day, and the day-over-day delta. Lags are by
  // row offset over the user's active days (the feature-store
  // convention for irregular streams — ft_daily_ffill is the dense-
  // grid complement when a model needs calendar alignment), so a
  // returning user's features say both "what did they do last time"
  // and "how long ago was that". Leakage-safe by construction: every
  // lagged value is strictly from earlier days. Cold-start rows are
  // explicit, not NULL: is_first flags them and lag/gap features
  // coalesce to 0 (models need a dense numeric block; the flag keeps
  // "no history" distinguishable from "zero activity").
  // Cross-engine determinism: counts are integers, day sums are
  // exact DECIMAL(18,2) (centi-exact input values), gap is integer
  // date arithmetic; doubles appear only in the final rounded
  // projection.
  // Scale: the daily rollup is a map-side-combined (user, day) agg
  // (the shuffle carries compact partials, not raw events), then the
  // lag windows re-exchange only the daily frame — orders of
  // magnitude smaller than the corpus — on user_id; nothing else
  // exchanges.
  private def ftLagFeatures(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("d_cnt"),
        sum(col("value").cast(DecimalType(18, 2))).as("d_sum"))
    val w = Window.partitionBy("user_id").orderBy("day")
    daily
      .withColumn("prev_day", lag(col("day"), 1).over(w))
      .withColumn("lag1_cnt", coalesce(lag(col("d_cnt"), 1).over(w), lit(0L)))
      .withColumn("lag1_sum", coalesce(lag(col("d_sum"), 1).over(w),
        lit(java.math.BigDecimal.ZERO).cast(DecimalType(18, 2))))
      .withColumn("lag7_cnt", coalesce(lag(col("d_cnt"), 7).over(w), lit(0L)))
      .select(col("user_id"), col("day"), col("d_cnt"),
        col("d_sum").cast("double").as("d_sum"),
        col("prev_day").isNull.cast("int").as("is_first"),
        coalesce(datediff(col("day"), col("prev_day")).cast("long"), lit(0L))
          .as("gap_days"),
        col("lag1_cnt"),
        col("lag1_sum").cast("double").as("lag1_sum"),
        (col("d_cnt") - col("lag1_cnt")).as("delta_cnt"),
        col("lag7_cnt"))
      .orderBy("user_id", "day")
  }

  private val ftLagFeaturesSql =
    """WITH daily AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |    COUNT(*) AS d_cnt,
      |    SUM(CAST(value AS DECIMAL(18,2))) AS d_sum
      |  FROM events GROUP BY 1, 2),
      |lagged AS (
      |  SELECT user_id, day, d_cnt, d_sum,
      |    LAG(day, 1) OVER w AS prev_day,
      |    COALESCE(LAG(d_cnt, 1) OVER w, 0) AS lag1_cnt,
      |    COALESCE(LAG(d_sum, 1) OVER w, CAST(0 AS DECIMAL(18,2)))
      |      AS lag1_sum,
      |    COALESCE(LAG(d_cnt, 7) OVER w, 0) AS lag7_cnt
      |  FROM daily
      |  WINDOW w AS (PARTITION BY user_id ORDER BY day))
      |SELECT user_id, day, d_cnt, CAST(d_sum AS DOUBLE) AS d_sum,
      |  CAST(prev_day IS NULL AS INT) AS is_first,
      |  COALESCE(CAST(date_diff('day', prev_day, day) AS BIGINT), 0)
      |    AS gap_days,
      |  CAST(lag1_cnt AS BIGINT) AS lag1_cnt,
      |  CAST(lag1_sum AS DOUBLE) AS lag1_sum,
      |  CAST(d_cnt - lag1_cnt AS BIGINT) AS delta_cnt,
      |  CAST(lag7_cnt AS BIGINT) AS lag7_cnt
      |FROM lagged ORDER BY user_id, day""".stripMargin

  // ---- ft_time_to_event: survival labels with horizon censoring -----
  // The churn/conversion-model label op: for each (user, active day),
  // whole days until the user's NEXT purchase strictly after that day
  // (same exclusive-of-the-label-day convention as ft_label_next7d,
  // so same-day outcomes cannot leak into same-day features), capped
  // at a 30-day horizon with the standard survival-analysis
  // convention — censored observations carry tte_days = horizon and
  // event_observed = 0, so the label block is dense integers (no
  // NULLs, the driver-compare convention).
  // Implemented as ONE forward-looking window over a unioned
  // (activity-boundary ∪ purchase) timeline per user: activity rows
  // sort at their day boundary before any purchase at the same
  // instant, and MIN(purchase ts) over ROWS CURRENT..UNBOUNDED
  // FOLLOWING is the next-purchase lookup — the reverse of
  // ev_asof_join's carry-forward, riding the SAME single user_id
  // shuffle; no self-join, no per-row subquery.
  private val tteHorizonDays = 30

  private def ftTimeToEvent(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val acts = ev
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
      .select(col("user_id"), col("day"),
        (col("day") + expr("INTERVAL 1 DAY")).as("t"),
        lit(0).as("kind"), lit(null).cast("timestamp").as("p_ts"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), lit(null).cast("timestamp").as("day"),
        col("ts").as("t"), lit(1).as("kind"), col("ts").as("p_ts"))
    val w = Window.partitionBy("user_id").orderBy(col("t"), col("kind"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    acts.unionAll(purch)
      .withColumn("next_p", min(col("p_ts")).over(w))
      .filter(col("kind") === 0)
      .withColumn("raw_days",
        datediff(date_trunc("day", col("next_p")), col("day")).cast("long"))
      .select(col("user_id"), col("day"),
        least(coalesce(col("raw_days"), lit(tteHorizonDays.toLong + 1)),
          lit(tteHorizonDays.toLong)).as("tte_days"),
        (coalesce(col("raw_days"), lit(tteHorizonDays.toLong + 1))
          <= tteHorizonDays).cast("int").as("event_observed"))
      .orderBy("user_id", "day")
  }

  private val ftTimeToEventSql =
    s"""WITH acts AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
      |  FROM events),
      |timeline AS (
      |  SELECT user_id, day, day + INTERVAL 1 DAY AS t, 0 AS kind,
      |    CAST(NULL AS TIMESTAMP) AS p_ts
      |  FROM acts
      |  UNION ALL
      |  SELECT user_id, CAST(NULL AS TIMESTAMP), ts, 1, ts
      |  FROM events WHERE event_type = 'purchase'),
      |nxt AS (
      |  SELECT user_id, day, kind,
      |    MIN(p_ts) OVER (PARTITION BY user_id ORDER BY t, kind
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_p
      |  FROM timeline),
      |lab AS (
      |  SELECT user_id, day,
      |    CAST(date_diff('day', day, CAST(date_trunc('day', next_p)
      |      AS TIMESTAMP)) AS BIGINT) AS raw_days
      |  FROM nxt WHERE kind = 0)
      |SELECT user_id, day,
      |  LEAST(COALESCE(raw_days, ${tteHorizonDays + 1}), $tteHorizonDays)
      |    AS tte_days,
      |  CAST(COALESCE(raw_days, ${tteHorizonDays + 1}) <= $tteHorizonDays
      |    AS INT) AS event_observed
      |FROM lab ORDER BY user_id, day""".stripMargin

  // ---- ft_session_features: per-user session-behavior block ---------
  // The user-level engagement features a churn/propensity model
  // consumes: session count, event volume, events-per-session, mean
  // session duration, and the longest session — computed from the
  // SAME 30-min-gap sessionization ev_sessionize pins (here via the
  // lag-gap-flag construction, whose equivalence to session_window is
  // what ev_sessionize's oracle verifies). Counts and durations are
  // exact integers (µs); the two ratios round via the half-up integer
  // micro-division contract (events/sessions and µs/sessions both
  // land on exact .5e-7 ties under double division).
  // Scale: session flags + ids ride ONE user_id shuffle (two RUNNING
  // frames — the incremental kind, see the header note); the session
  // and user rollups reuse that partitioning, so nothing re-exchanges
  // and no stage grows superlinearly on a hot user.
  private def ftSessionFeatures(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapped = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("new_s",
        when(col("ts") <
          lag(col("ts"), 1).over(byUser) + expr("INTERVAL 30 MINUTE"), 0)
          .otherwise(1))
      .withColumn("session_id",
        sum(col("new_s")).over(byUser.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
    val sess = gapped.groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_ev"),
        (max(col("ts_us")) - min(col("ts_us"))).as("dur_us"))
    sess.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_ev")).as("n_events"),
        max(col("n_ev")).as("max_session_events"),
        sum(col("dur_us")).as("dur_us"))
      .withColumn("events_per_session",
        expr("(2 * n_events * 1000000L + n_sessions) div (2 * n_sessions)")
          .cast("double") / lit(1000000.0))
      .withColumn("mean_session_secs",
        expr("(2 * dur_us + n_sessions) div (2 * n_sessions)")
          .cast("double") / lit(1000000.0))
      .select(col("user_id"), col("n_sessions"), col("n_events"),
        col("max_session_events"), col("events_per_session"),
        col("mean_session_secs"))
      .orderBy("user_id")
  }

  private val ftSessionFeaturesSql =
    """WITH flagged AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id) < 1800000000
      |      THEN 0 ELSE 1 END AS new_s
      |  FROM events),
      |sess AS (
      |  SELECT user_id, ts_us,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged),
      |per_sess AS (
      |  SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_ev,
      |    MAX(ts_us) - MIN(ts_us) AS dur_us
      |  FROM sess GROUP BY 1, 2),
      |per_user AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
      |    CAST(SUM(n_ev) AS BIGINT) AS n_events,
      |    CAST(MAX(n_ev) AS BIGINT) AS max_session_events,
      |    CAST(SUM(dur_us) AS BIGINT) AS dur_us
      |  FROM per_sess GROUP BY 1)
      |SELECT user_id, n_sessions, n_events, max_session_events,
      |  CAST((2 * n_events * 1000000 + n_sessions) // (2 * n_sessions)
      |    AS DOUBLE) / 1000000.0 AS events_per_session,
      |  CAST((2 * dur_us + n_sessions) // (2 * n_sessions)
      |    AS DOUBLE) / 1000000.0 AS mean_session_secs
      |FROM per_user ORDER BY user_id""".stripMargin

  // ---- ft_woe_iv: weight-of-evidence / information-value screen -----
  // The credit-scoring-standard categorical screen (Siddiqi 2006;
  // what a feature platform runs before committing an encoder): per
  // category c of a candidate feature, WoE_c = ln((g_c/g_t)/(b_c/b_t))
  // and the information-value term (g_c/g_t − b_c/b_t)·WoE_c whose
  // sum grades the feature (<0.02 useless, >0.3 strong). Unit here =
  // user; label = "engaged purchaser" (≥15 purchase events); feature
  // = the user's dominant event type (deterministic argmax: count
  // desc, type asc — a row_number window riding the user_id
  // shuffle). Cells are Laplace-smoothed (+1 per cell, +K per total)
  // so WoE is finite on empty cells, and everything is exact: WoE =
  // lnq(g'_c·b'_t) − lnq(b'_c·g'_t) on integer products (the
  // ln-quantization contract), the IV term = num·woe_u/den on
  // integers via the SIGN-SAFE half-up contract (num < 0 when the
  // category skews bad), and the TOTAL row is an exact integer sum.
  // num·woe_u ≲ users²·2·10⁷ wraps int64 at modest user counts, so
  // that product runs in DECIMAL(38,0)/HUGEINT in both engines
  // (APPLIED r11; ev_ab_test's pattern — see the inline note for why
  // the lnq input products deliberately stay int64).
  // Scale: one (user, type) count agg + the argmax window riding the
  // user shuffle + an alphabet-sized cell agg + broadcast 1-row
  // totals. Nothing post-agg grows with the corpus.
  private val woeMinPurchases = 15

  private def ftWoeIv(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(desc("cnt"), col("event_type"))
    val users = Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        count(when(col("event_type") === "purchase", lit(1)))
          .as("n_purch"))
      .withColumn("rk", row_number().over(byUser))
      .groupBy("user_id")
      .agg(max(when(col("rk") === 1, col("event_type"))).as("category"),
        (sum(col("n_purch")) >= woeMinPurchases).as("good"))
    val cells = users.groupBy("category")
      .agg(count(when(col("good"), lit(1))).as("g"),
        count(when(!col("good"), lit(1))).as("b"))
    val totals = cells.agg(sum(col("g")).as("gt"), sum(col("b")).as("bt"),
      count(lit(1)).as("k"))
    val scored = cells.crossJoin(broadcast(totals))
      .withColumn("gp", col("g") + 1).withColumn("bp", col("b") + 1)
      .withColumn("gtp", col("gt") + col("k"))
      .withColumn("btp", col("bt") + col("k"))
      .withColumn("woe_u",
        Num.lnqU(col("gp") * col("btp")) - Num.lnqU(col("bp") * col("gtp")))
      .withColumn("num", col("gp") * col("btp") - col("bp") * col("gtp"))
      .withColumn("den", col("gtp") * col("btp"))
      // num·woe_u wraps int64 well inside real user counts — the
      // product runs in DECIMAL(38,0)/HUGEINT in both engines
      // (ADVICE r9 pattern, applied r11). The lnq INPUT products
      // stay int64 deliberately: their bound (~3·10⁹ users per cell
      // product) needs both factors at planet scale, and a decimal
      // ln argument would reopen the decimal→double conversion seam
      // the lnq contract exists to avoid.
      .withColumn("p",
        col("num").cast(DecimalType(38, 0)) *
          col("woe_u").cast(DecimalType(38, 0)))
      .withColumn("iv_u", expr(
        """(case when p < 0 then -1L else 1L end) *
          |((2 * abs(p) + den) div (2 * den))""".stripMargin))
      // the alphabet-sized cell report feeds BOTH the per-category
      // output and the TOTAL row — eager-checkpoint it so the fan-out
      // reads k rows instead of replaying the corpus lineage twice
      .transform(Ckpt.stage)
    val perCat = scored.select(col("category"), col("g").as("n_good"),
      col("b").as("n_bad"),
      (col("woe_u").cast("double") / lit(1000000.0)).as("woe"),
      (col("iv_u").cast("double") / lit(1000000.0)).as("iv_term"))
    val total = scored.agg(sum(col("g")).as("n_good"),
        sum(col("b")).as("n_bad"), sum(col("iv_u")).as("iv_u"))
      .select(lit("__TOTAL__").as("category"), col("n_good"),
        col("n_bad"), lit(0.0).as("woe"),
        (col("iv_u").cast("double") / lit(1000000.0)).as("iv_term"))
    perCat.unionAll(total).orderBy("category")
  }

  private val ftWoeIvSql =
    s"""WITH uc AS (
      |  SELECT user_id, event_type, COUNT(*) AS cnt,
      |    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purch
      |  FROM events GROUP BY 1, 2),
      |users AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN rk = 1 THEN event_type END) AS category,
      |    SUM(n_purch) >= $woeMinPurchases AS good
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY cnt DESC, event_type) AS rk FROM uc) r
      |  GROUP BY user_id),
      |cells AS (
      |  SELECT category,
      |    CAST(COUNT(CASE WHEN good THEN 1 END) AS BIGINT) AS g,
      |    CAST(COUNT(CASE WHEN NOT good THEN 1 END) AS BIGINT) AS b
      |  FROM users GROUP BY category),
      |tot AS (
      |  SELECT CAST(SUM(g) AS BIGINT) AS gt, CAST(SUM(b) AS BIGINT) AS bt,
      |    CAST(COUNT(*) AS BIGINT) AS k
      |  FROM cells),
      |sc AS (
      |  SELECT category, g, b,
      |    ${Num.lnqUSql("(g + 1) * (bt + k)")}
      |      - ${Num.lnqUSql("(b + 1) * (gt + k)")} AS woe_u,
      |    (g + 1) * (bt + k) - (b + 1) * (gt + k) AS num,
      |    (gt + k) * (bt + k) AS den
      |  FROM cells, tot),
      |sc2 AS (
      |  SELECT *,
      |    (CASE WHEN CAST(num AS HUGEINT) * woe_u < 0 THEN -1 ELSE 1 END) *
      |    ((2 * abs(CAST(num AS HUGEINT) * woe_u) + den) // (2 * den))
      |    AS iv_u
      |  FROM sc)
      |SELECT category, g AS n_good, b AS n_bad,
      |  CAST(woe_u AS DOUBLE) / 1000000.0 AS woe,
      |  CAST(iv_u AS DOUBLE) / 1000000.0 AS iv_term
      |FROM sc2
      |UNION ALL
      |SELECT '__TOTAL__', CAST(SUM(g) AS BIGINT), CAST(SUM(b) AS BIGINT),
      |  0.0, CAST(SUM(iv_u) AS DOUBLE) / 1000000.0
      |FROM sc2
      |ORDER BY category""".stripMargin

  // ---- ft_assoc_rules: brand-level association rules ----------------
  // The market-basket rule mining step on top of ft_cooccurrence's
  // raw pair counts (Agrawal 1993's support/confidence frame plus
  // lift): per unordered brand pair co-purchased in an order, the
  // support share, both directed confidences, and the lift
  // N·n_ab/(n_a·n_b) — the >1/<1 signal an item-item recommender
  // thresholds on. Brand level keeps the rule table
  // alphabet²-bounded (the part-level pair table stays available
  // through ft_cooccurrence).
  // Exactness: all counts are integers; every ratio runs the
  // half-up micro contract; lift's N·n_ab·10⁶ cross term runs in
  // DECIMAL(38,0)/HUGEINT from the start (at 10¹¹ baskets it is
  // ~10²⁸ — int64 dies at toy-adjacent scale here, unlike the other
  // micro quotients).
  // Scale: the corpus is touched ONCE — basket = per-order sorted
  // distinct-brand set (one orderkey shuffle, fan-out C(k,2) with
  // k ≤ brands-per-order, bounded like ft_cooccurrence), and ONE
  // explode emits a per-basket sentinel (total-basket count), each
  // basket's singles, and its pairs into one alphabet²-sized
  // checkpointed count frame; totals ride broadcast self-joins.
  private def ftAssocRules(spark: SparkSession, dir: String): DataFrame = {
    val tagged = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir).select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("okey"), col("p_brand").as("brand"))
      .groupBy("okey")
      .agg(sort_array(collect_set(col("brand"))).as("bs"))
      .select(explode(expr(
        """concat(array(struct('#' AS a, '#' AS b)),
          |  flatten(transform(bs, (x, i) -> concat(
          |    array(struct(x AS a, '' AS b)),
          |    transform(slice(bs, i + 2, size(bs)), y ->
          |      struct(x AS a, y AS b))))))""".stripMargin)).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n"))
      .transform(Ckpt.stage)
    val singles = tagged.filter(col("a") =!= lit("#") && col("b") === lit(""))
    val baskets = tagged.filter(col("a") === lit("#"))
      .select(col("n").as("n_orders"))
    tagged.filter(col("a") =!= lit("#") && col("b") =!= lit(""))
      .select(col("a").as("brand_a"), col("b").as("brand_b"),
        col("n").as("n_both"))
      .join(singles.select(col("a").as("brand_a"),
        col("n").as("n_a")), Seq("brand_a"))
      .join(singles.select(col("a").as("brand_b"),
        col("n").as("n_b")), Seq("brand_b"))
      .crossJoin(baskets)
      .select(col("brand_a"), col("brand_b"), col("n_a"), col("n_b"),
        col("n_both"),
        (expr("(2 * n_both * 1000000 + n_orders) div (2 * n_orders)")
          .cast("double") / lit(1000000.0)).as("support"),
        (expr("(2 * n_both * 1000000 + n_a) div (2 * n_a)")
          .cast("double") / lit(1000000.0)).as("conf_a_b"),
        (expr("(2 * n_both * 1000000 + n_b) div (2 * n_b)")
          .cast("double") / lit(1000000.0)).as("conf_b_a"),
        (expr("""(2 * cast(n_orders as decimal(38,0)) * n_both * 1000000
          |  + cast(n_a as decimal(38,0)) * n_b)
          |  div (2 * cast(n_a as decimal(38,0)) * n_b)""".stripMargin)
          .cast("double") / lit(1000000.0)).as("lift"))
      .orderBy("brand_a", "brand_b")
  }

  // Oracle: the plain self-join formulation (pairs via ob⋈ob on the
  // order key) — semantically identical to the one-explode plan, so
  // the hash gate proves the set-explode decomposition.
  private val ftAssocRulesSql =
    """WITH ob AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |nb AS (SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n_orders
      |  FROM ob),
      |tot AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM ob GROUP BY 1),
      |pairs AS (
      |  SELECT a.brand AS brand_a, b.brand AS brand_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_both
      |  FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
      |  GROUP BY 1, 2)
      |SELECT brand_a, brand_b, ta.n AS n_a, tb.n AS n_b, n_both,
      |  CAST((2 * n_both * 1000000 + n_orders) // (2 * n_orders)
      |    AS DOUBLE) / 1000000.0 AS support,
      |  CAST((2 * n_both * 1000000 + ta.n) // (2 * ta.n)
      |    AS DOUBLE) / 1000000.0 AS conf_a_b,
      |  CAST((2 * n_both * 1000000 + tb.n) // (2 * tb.n)
      |    AS DOUBLE) / 1000000.0 AS conf_b_a,
      |  CAST((2 * CAST(n_orders AS HUGEINT) * n_both * 1000000
      |      + CAST(ta.n AS HUGEINT) * tb.n)
      |    // (2 * CAST(ta.n AS HUGEINT) * tb.n) AS DOUBLE)
      |    / 1000000.0 AS lift
      |FROM pairs
      |JOIN tot ta ON ta.brand = brand_a
      |JOIN tot tb ON tb.brand = brand_b
      |CROSS JOIN nb
      |ORDER BY brand_a, brand_b""".stripMargin

  // ---- ft_graph_triangles: degree-ordered triangle census -----------
  // Exact triangle counting on the part co-purchase graph — the
  // graph-health companion to ft_item_pagerank (triangle count and
  // global clustering coefficient are the standard cohesion metrics
  // over the same edges an item-item recommender consumes). The
  // algorithm is the distributed standard (Suri & Vassilvitskii
  // 2011's MR adaptation of Schank's degree ordering): orient every
  // edge from its (degree, id)-smaller endpoint, then per ORIENTED
  // edge (u,v) count the common out-neighborhood |N⁺(u) ∩ N⁺(v)| —
  // each triangle u≺v≺w is counted exactly once, at its (u,v) edge.
  // Degree ordering caps out-degree near √(2m), so total
  // intersection work is O(m^{3/2}) instead of Σd² (41M oriented vs
  // 148M open wedges on this graph at sf0.1) — and the edge-iterator
  // form keeps that work INSIDE a map-side array_intersect over two
  // bounded adjacency arrays instead of materializing a wedge-sized
  // shuffle (the explicit wedge join moved 41M rows and ran 4×
  // slower).
  // Exactness: all counts integer; clustering = 3T/Σ C(d,2) via the
  // half-up micro contract in DECIMAL(38,0)/HUGEINT. The DuckDB
  // oracle counts by the INDEPENDENT id-ordered triple join — the
  // hash match proves the oriented decomposition, not just replays
  // it.
  // Scale: pair fan-out per order is C(items,2), bounded
  // (ft_cooccurrence's argument); edges/degrees checkpoint once;
  // every join is equi-keyed (okey, node, src, (v,w)) — no
  // cartesian anywhere; the wedge join shuffles on src and the
  // closure is a left-semi on the (v,w) pair key.
  private def ftGraphTriangles(spark: SparkSession, dir: String): DataFrame = {
    // one okey exchange shared by the distinct and both self-join
    // sides (hash(okey) clusters (okey, pk) — r15, guide §2.4)
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("pk"))
      .repartition(col("okey"))
      .distinct()
    // Ckpt.cache, not Ckpt.stage (r16): edges/deg/adj are fan-out
    // producers consumed 2-3× within this one query — cached they
    // keep partitioning + size stats (deg broadcasts into the
    // orientation joins; adj's hash(src) serves one side of the
    // closure join) and the whole census runs as ONE action instead
    // of three eager staging jobs (20 jobs -> measured drop, r16).
    // The distinct runs under hash(pa) (a subset of its keys), so the
    // cached edge frame is hash(pa)-partitioned for the pa-side
    // orientation join.
    val edges = items
      .join(items.select(col("okey"), col("pk").as("pk2")), Seq("okey"))
      .filter(col("pk") < col("pk2"))
      .select(col("pk").as("pa"), col("pk2").as("pb"))
      .repartition(col("pa"))
      .distinct()
      .transform(Ckpt.cache)
    val deg = edges.select(col("pa").as("node"))
      .unionAll(edges.select(col("pb").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
      .transform(Ckpt.cache)
    val lower = struct(col("da"), col("pa")) < struct(col("db"), col("pb"))
    // oriented feeds ONLY the adjacency agg now (see tri below), so it
    // needs no staging of its own (r15)
    val oriented = edges
      .join(deg.select(col("node").as("pa"), col("d").as("da")), Seq("pa"))
      .join(deg.select(col("node").as("pb"), col("d").as("db")), Seq("pb"))
      .select(when(lower, col("pa")).otherwise(col("pb")).as("src"),
        when(lower, col("pb")).otherwise(col("pa")).as("dst"))
    // edge-iterator form: per oriented edge (u,v), triangles closing
    // above both endpoints = |N⁺(u) ∩ N⁺(v)| — the intersection runs
    // map-side over two ≤√(2m) adjacency arrays, so nothing
    // wedge-sized is ever materialized as rows (the explicit wedge
    // join shuffled 41M rows at sf0.1 and took 4× longer)
    val adj = oriented.groupBy(col("src"))
      .agg(collect_list(col("dst")).as("nbrs"))
      .transform(Ckpt.cache)
    // exploding nbrs reconstructs every oriented edge WITH N⁺(u)
    // already attached — the former oriented ⋈ adj(src) join (and its
    // src exchange) was recomputing exactly that (r15, guide §2.4)
    val tri = adj.select(col("src"), col("nbrs").as("nu"),
        explode(col("nbrs")).as("dst"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nv")),
        Seq("dst"), "left")
      .select(when(col("nv").isNull, lit(0L))
        .otherwise(size(array_intersect(col("nu"), col("nv"))).cast("long"))
        .as("closed"))
      .agg(sum(col("closed")).as("n_triangles"))
    val stats = deg.agg(count(lit(1)).as("n_nodes"),
      max(col("d")).as("max_deg"),
      sum(expr("(d * (d - 1)) div 2")).as("n_wedges"))
    val ne = edges.agg(count(lit(1)).as("n_edges"))
    tri.crossJoin(broadcast(stats)).crossJoin(broadcast(ne))
      .select(col("n_nodes"), col("n_edges"), col("max_deg"),
        col("n_wedges"), col("n_triangles"),
        (expr("""(2 * cast(3 as decimal(38,0)) * n_triangles * 1000000
          |  + n_wedges) div (2 * cast(n_wedges as decimal(38,0)))"""
          .stripMargin).cast("double") / lit(1000000.0)).as("clustering"))
  }

  private val ftGraphTrianglesSql =
    """WITH it AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk
      |  FROM lineitem),
      |e AS MATERIALIZED (
      |  SELECT DISTINCT a.pk AS pa, b.pk AS pb
      |  FROM it a JOIN it b ON a.okey = b.okey AND a.pk < b.pk),
      |deg AS MATERIALIZED (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      |  FROM (SELECT pa AS node FROM e UNION ALL SELECT pb FROM e)
      |  GROUP BY 1),
      |tri AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      |  FROM e x JOIN e y ON x.pb = y.pa
      |  JOIN e z ON z.pa = x.pa AND z.pb = y.pb),
      |st AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |    CAST(MAX(d) AS BIGINT) AS max_deg,
      |    CAST(SUM((d * (d - 1)) // 2) AS BIGINT) AS n_wedges
      |  FROM deg),
      |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
      |SELECT n_nodes, n_edges, max_deg, n_wedges, n_triangles,
      |  CAST((2 * CAST(3 AS HUGEINT) * n_triangles * 1000000 + n_wedges)
      |    // (2 * CAST(n_wedges AS HUGEINT)) AS DOUBLE)
      |    / 1000000.0 AS clustering
      |FROM tri, st, ne""".stripMargin

  // ---- ft_kaplan_meier: survival curve over the tte labels ----------
  // The Kaplan–Meier estimator (1958) on ft_time_to_event's label
  // block — the curve a churn/conversion analyst reads before
  // trusting any survival model: per day t, the number at risk,
  // events, censored, the discrete hazard d_t/n_t, and the
  // LOG-survival ln S(t) = Σ_{s≤t} (ln(n_s−d_s) − ln(n_s)).
  // Survival is reported in LN SPACE deliberately: each factor's log
  // is exact in integer micro-nats (lnq of two integers — the lnq
  // contract), the running sum is exact, while exp() is not
  // correctly-rounded IEEE and would diverge cross-engine (consumers
  // exp() client-side). If a day exhausts everyone at risk
  // (n_s = d_s), survival is 0 from then on: ln_survival pins the
  // 0.0 sentinel with is_defined = 0 (the NULL-double repr trap).
  // Scale: the label block (one user_id shuffle, inherited from
  // ft_time_to_event) collapses to a ≤ horizon+1-row day-cell frame
  // in one agg; n-at-risk and the running log-sum are
  // count-of-prior triangle joins on the CONSTANT checkpointed cell
  // frame — no unpartitioned window anywhere.
  private def ftKaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    val cells = ftTimeToEvent(spark, dir)
      .groupBy(col("tte_days").as("t"))
      .agg(
        coalesce(sum(when(col("event_observed") === 1, lit(1L))), lit(0L))
          .as("d"),
        coalesce(sum(when(col("event_observed") === 0, lit(1L))), lit(0L))
          .as("c"))
      .transform(Ckpt.stage)
    val total = cells.agg(sum(col("d") + col("c")).as("total"))
    val risk = cells.crossJoin(broadcast(total))
      .join(cells.select(col("t").as("bt"),
        (col("d") + col("c")).as("bdc")), col("bt") < col("t"), "left")
      .groupBy("t", "d", "c", "total")
      .agg(coalesce(sum(col("bdc")), lit(0L)).as("prior"))
      .withColumn("n_risk", col("total") - col("prior"))
      .transform(Ckpt.stage)
    risk
      .join(risk.select(col("t").as("bt"),
        col("n_risk").as("bn"), col("d").as("bd")), col("bt") <= col("t"))
      .groupBy(col("t"), col("d"), col("c"), col("n_risk"))
      .agg(
        sum(when(col("bn") > col("bd"),
          Num.lnqU(col("bn") - col("bd")) - Num.lnqU(col("bn")))
          .otherwise(lit(0L))).as("ls"),
        min(col("bn") - col("bd")).as("mindiff"))
      .select(col("t").as("tte_day"), col("n_risk"),
        col("d").as("n_events"), col("c").as("n_censored"),
        (expr("(2 * d * 1000000 + n_risk) div (2 * n_risk)")
          .cast("double") / lit(1000000.0)).as("hazard"),
        when(col("mindiff") > 0, col("ls").cast("double") / lit(1000000.0))
          .otherwise(lit(0.0)).as("ln_survival"),
        (col("mindiff") > 0).cast("int").as("is_defined"))
      .orderBy("tte_day")
  }

  private val ftKaplanMeierSql =
    s"""WITH tte AS MATERIALIZED ($ftTimeToEventSql),
      |cells AS MATERIALIZED (
      |  SELECT tte_days AS t,
      |    CAST(COALESCE(SUM(CASE WHEN event_observed = 1 THEN 1 END), 0)
      |      AS BIGINT) AS d,
      |    CAST(COALESCE(SUM(CASE WHEN event_observed = 0 THEN 1 END), 0)
      |      AS BIGINT) AS c
      |  FROM tte GROUP BY 1),
      |tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS total FROM cells),
      |risk AS MATERIALIZED (
      |  SELECT a.t, a.d, a.c,
      |    total - CAST(COALESCE(SUM(b.d + b.c), 0) AS BIGINT) AS n_risk
      |  FROM cells a CROSS JOIN tot
      |  LEFT JOIN cells b ON b.t < a.t
      |  GROUP BY a.t, a.d, a.c, total)
      |SELECT a.t AS tte_day, a.n_risk, a.d AS n_events,
      |  a.c AS n_censored,
      |  CAST((2 * a.d * 1000000 + a.n_risk) // (2 * a.n_risk) AS DOUBLE)
      |    / 1000000.0 AS hazard,
      |  CASE WHEN MIN(b.n_risk - b.d) > 0 THEN
      |    CAST(SUM(CASE WHEN b.n_risk > b.d THEN
      |      ${Num.lnqUSql("b.n_risk - b.d")} - ${Num.lnqUSql("b.n_risk")}
      |      ELSE 0 END) AS DOUBLE) / 1000000.0
      |    ELSE 0.0 END AS ln_survival,
      |  CAST(MIN(b.n_risk - b.d) > 0 AS INT) AS is_defined
      |FROM risk a JOIN risk b ON b.t <= a.t
      |GROUP BY a.t, a.n_risk, a.d, a.c
      |ORDER BY tte_day""".stripMargin

  // ---- ft_quantile_bins: equal-frequency discretizer fit ------------
  // The quantile-binning "fit" step of a feature pipeline (the
  // report a QuantileDiscretizer persists): per event type, `value`
  // cut into 10 equal-frequency bins — per bin the row count, the
  // exact [lo, hi] value range, and the exact mean. Bin assignment
  // is NTILE over (value, event_id) — the secondary key makes the
  // split cross-engine deterministic when a value straddles a bin
  // boundary, and both engines give the first n mod 10 bins the
  // extra row. Values quantize to exact centi-units (ft_scaler's
  // contract) so bin sums are exact int64 and the mean takes the
  // half-up micro division; lo/hi are raw doubles (min/max compare
  // exactly).
  // Scale: one event_type shuffle carries the NTILE sort and the
  // (type, bin) agg. The per-type sort is the exact-correctness
  // baseline (q_percentiles' posture); at 100 TB the production
  // path fits bins from q_approx_percentiles' mergeable digest
  // edges instead — same output schema. int64: Σq100·10⁴ ≤
  // 5.6·10¹⁰·rows-per-bin — widen past ~10⁸ rows per (type, bin).
  private def ftQuantileBins(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type")
    Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), col("value"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
          .as("q100"))
      .withColumn("bin",
        ntile(10).over(w.orderBy(col("q100"), col("event_id"))))
      .groupBy("event_type", "bin")
      // Σq100 (cents) wraps int64 near ~10^14 rows/bin in non-ANSI
      // mode while DuckDB's HUGEINT sum doesn't — widen to
      // DECIMAL(38,0) (ADVICE r10; ev_ab_test's pattern) so both
      // engines stay exact to the 38-digit ceiling
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("lo"), max(col("value")).as("hi"),
        sum(col("q100").cast(DecimalType(38, 0))).as("sq"))
      .select(col("event_type"), col("bin"), col("n"), col("lo"),
        col("hi"),
        (expr("(2 * sq * 10000 + n) div (2 * n)").cast("double")
          / lit(1000000.0)).as("mean"))
      .orderBy("event_type", "bin")
  }

  // ---- ft_quantile_bins_approx: the declared 100 TB discretizer -----
  // ft_quantile_bins' production form, now REGISTERED (not just named
  // in a comment): bin edges come from percentile_approx's MERGEABLE
  // sketch — partial digests combine map-side, so the shuffle carries
  // one digest per (partition, type) instead of riding every row
  // through the per-type NTILE sort. Rows then bin by a broadcast
  // edge lookup (map-only; value > edge ⇒ later bin, ties stay low)
  // and the (type, bin) agg reports the SAME schema as the exact fit.
  // Duplicate sketch edges can leave a bin empty — it simply emits no
  // row, like an empty group anywhere else. Rows-only (digest
  // internals are impl-specific); the invariant spec binds per-bin
  // occupancy and the edges to the exact fit within rank-error
  // bounds (q_approx_percentiles' posture).
  private def ftQuantileBinsApprox(spark: SparkSession,
      dir: String): DataFrame = {
    val q = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
          .as("q100"))
    val edges = q.groupBy("event_type")
      .agg(percentile_approx(col("q100"),
        array((1 to 9).map(i => lit(i / 10.0)): _*), lit(10000)).as("edges"))
    q.join(broadcast(edges), Seq("event_type"))
      .withColumn("bin",
        (size(filter(col("edges"), e => e < col("q100"))) + 1))
      .groupBy("event_type", "bin")
      // same DECIMAL(38,0) widening as the exact fit above (ADVICE
      // r10 flagged this op specifically: Σq100 wraps silently in
      // non-ANSI int64, skewing the reported per-bin mean at scale)
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("lo"), max(col("value")).as("hi"),
        sum(col("q100").cast(DecimalType(38, 0))).as("sq"))
      .select(col("event_type"), col("bin"), col("n"), col("lo"),
        col("hi"),
        (expr("(2 * sq * 10000 + n) div (2 * n)").cast("double")
          / lit(1000000.0)).as("mean"))
      .orderBy("event_type", "bin")
  }

  private val ftQuantileBinsSql =
    """WITH q AS (
      |  SELECT event_type, event_id, value,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS q100
      |  FROM events WHERE value IS NOT NULL),
      |b AS (
      |  SELECT *, NTILE(10) OVER (PARTITION BY event_type
      |    ORDER BY q100, event_id) AS bin
      |  FROM q)
      |SELECT event_type, CAST(bin AS INT) AS bin,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  MIN(value) AS lo, MAX(value) AS hi,
      |  CAST((2 * SUM(q100) * 10000 + COUNT(*))
      |    // (2 * COUNT(*)) AS DOUBLE) / 1000000.0 AS mean
      |FROM b GROUP BY 1, 2
      |ORDER BY event_type, bin""".stripMargin

  // ---- ft_graph_jaccard: common-neighbor item similarity ------------
  // The neighborhood-overlap item similarity an item-item recommender
  // ranks by (the set-similarity complement of ft_cooccurrence's raw
  // pair counts, which favor popular items): for part pairs sharing
  // ≥ 2 orders, Jaccard = |orders(A) ∩ orders(B)| / |A ∪ B| with
  // |A ∪ B| = d_A + d_B − inter from per-part order-degrees — no
  // second pair pass. The pair join is keyed on l_orderkey (bounded
  // basket fan-out, ft_cooccurrence's argument); degrees join back on
  // part keys with NO broadcast hint (part-sized frames grow with the
  // catalog — AQE decides). The quotient goes through the half-up
  // integer micro contract (inputs non-negative), so the top-20 cut
  // orders on an exact integer — a double Jaccard tie at the
  // boundary can't flip rows between engines; ties break (p1, p2).
  // Scale: one basket self-join + one (p1,p2) agg + two part-keyed
  // joins; global top-20 runs as TakeOrderedAndProject.
  private def ftGraphJaccard(spark: SparkSession, dir: String): DataFrame = {
    // one okey exchange shared by the distinct and both self-join
    // sides (hash(okey) clusters (okey, pk) — r15, guide §2.4)
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .repartition(col("l_orderkey"))
      .distinct()
    val deg = li.groupBy("l_partkey").agg(count(lit(1)).as("d"))
    val a = li.select(col("l_orderkey"), col("l_partkey").as("p1"))
    val b = li.select(col("l_orderkey"), col("l_partkey").as("p2"))
    a.join(b, Seq("l_orderkey")).filter(col("p1") < col("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= 2)
      .join(deg.select(col("l_partkey").as("p1"), col("d").as("d1")),
        Seq("p1"))
      .join(deg.select(col("l_partkey").as("p2"), col("d").as("d2")),
        Seq("p2"))
      .withColumn("uni", col("d1") + col("d2") - col("n_common"))
      .withColumn("jaccard_micro",
        expr("(2 * n_common * 1000000 + uni) div (2 * uni)"))
      .orderBy(col("jaccard_micro").desc, col("p1"), col("p2"))
      .limit(20)
      .select(col("p1"), col("p2"), col("n_common"), col("d1"), col("d2"),
        (col("jaccard_micro").cast("double") / 1000000L).as("jaccard"))
  }

  private val ftGraphJaccardSql =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |deg AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS d
      |  FROM li GROUP BY 1),
      |pairs AS (
      |  SELECT a.l_partkey AS p1, b.l_partkey AS p2,
      |    CAST(COUNT(*) AS BIGINT) AS n_common
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |scored AS (
      |  SELECT p1, p2, n_common, d1.d AS d1, d2.d AS d2,
      |    d1.d + d2.d - n_common AS uni,
      |    (2 * n_common * 1000000 + (d1.d + d2.d - n_common))
      |      // (2 * (d1.d + d2.d - n_common)) AS jaccard_micro
      |  FROM pairs
      |  JOIN deg d1 ON d1.l_partkey = p1
      |  JOIN deg d2 ON d2.l_partkey = p2)
      |SELECT p1, p2, n_common, d1, d2,
      |  CAST(jaccard_micro AS DOUBLE) / 1000000 AS jaccard
      |FROM scored
      |ORDER BY jaccard_micro DESC, p1, p2 LIMIT 20""".stripMargin

  // ---- ft_correlation: exact integer-moment Pearson matrix ----------
  // The feature-redundancy screen run before committing a feature set
  // (two features correlated ≥ ~0.9 carry one signal; a target
  // encoder downstream double-counts it): pairwise Pearson over four
  // per-user activity counts (events, purchases, 00–06h events,
  // active days). Exactness: every feature is an integer count, so
  // n/Σx/Σx²/Σxy are exact; r = (nΣxy − ΣxΣy) / (√(nΣx²−(Σx)²) ·
  // √(nΣy²−(Σy)²)) forms its cross terms in DECIMAL(38,0)
  // (ev_ab_test's widening), and only the final quotient runs in
  // doubles with the identical op dag both engines. Magnitudes stay
  // far under 2⁵³ at any tested SF so the decimal→double hop is
  // exact (the dq_reconcile trap bound, documented there); past
  // ~10⁹ users the known divergence bound applies.
  // Scale: ONE per-user aggregation pass (all four features ride the
  // same agg, countDistinct(day) included), then a single 1-row
  // moment aggregate — the matrix explode is 6 rows. Nothing after
  // the user agg grows with the corpus.
  private val corrFeats = Seq(
    "e" -> "n_events", "p" -> "n_purchases",
    "g" -> "night_events", "d" -> "active_days")
  private val corrPairs = Seq(
    ("e", "p"), ("e", "g"), ("e", "d"), ("p", "g"), ("p", "d"), ("g", "d"))

  private def ftCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("e"),
        count(when(col("event_type") === "purchase", lit(1))).as("p"),
        count(when(hour(col("ts")) < 7, lit(1))).as("g"),
        countDistinct(date_trunc("day", col("ts"))).as("d"))
    val keys = corrFeats.map(_._1)
    // widen BEFORE the sums (ADVICE r9): the oracle accumulates in
    // HUGEINT, so the Spark moments must not pass through an int64
    // accumulator that could wrap silently (non-ANSI) at very large
    // corpora — DECIMAL(38,0) covers the accumulation itself, not
    // just the final cross terms
    val d38 = DecimalType(38, 0)
    def w(f: String) = col(f).cast(d38)
    val aggs = Seq(count(lit(1)).as("n")) ++
      keys.map(f => sum(w(f)).as(s"s_$f")) ++
      keys.map(f => sum(w(f) * w(f)).as(s"q_$f")) ++
      corrPairs.map { case (a, b) =>
        sum(w(a) * w(b)).as(s"p_${a}_$b") }
    val m = users.agg(aggs.head, aggs.tail: _*)
    def dvar(f: String) =
      col("n").cast(d38) * col(s"q_$f").cast(d38) -
        col(s"s_$f").cast(d38) * col(s"s_$f").cast(d38)
    def corr(a: String, b: String) =
      (col("n").cast(d38) * col(s"p_${a}_$b").cast(d38) -
        col(s"s_$a").cast(d38) * col(s"s_$b").cast(d38)).cast("double") /
        (sqrt(dvar(a).cast("double")) * sqrt(dvar(b).cast("double")))
    val named = corrFeats.toMap
    m.select(col("n"), explode(array(corrPairs.map { case (a, b) =>
        struct(lit(named(a)).as("x"), lit(named(b)).as("y"),
          round(corr(a, b), 6).as("r"))
      }: _*)).as("c"))
      .select(col("c.x").as("x"), col("c.y").as("y"),
        col("n").as("n_users"), col("c.r").as("corr"))
      .orderBy("x", "y")
  }

  private val ftCorrelationSql = {
    val named = corrFeats.toMap
    val pairRows = corrPairs.map { case (a, b) =>
      s"""SELECT '${named(a)}' AS x, '${named(b)}' AS y, n AS n_users,
        |  ROUND(CAST(n * p_${a}_$b - s_$a * s_$b AS DOUBLE) /
        |    (sqrt(CAST(n * q_$a - s_$a * s_$a AS DOUBLE)) *
        |     sqrt(CAST(n * q_$b - s_$b * s_$b AS DOUBLE))), 6) AS corr
        |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH u AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS e,
      |    CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
      |      AS p,
      |    CAST(COUNT(*) FILTER (WHERE EXTRACT(hour FROM ts) < 7) AS BIGINT)
      |      AS g,
      |    CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS d
      |  FROM events GROUP BY user_id),
      |m AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    ${corrFeats.map { case (f, _) =>
          s"CAST(SUM($f) AS HUGEINT) AS s_$f, " +
            s"CAST(SUM($f * $f) AS HUGEINT) AS q_$f" }.mkString(",\n    ")},
      |    ${corrPairs.map { case (a, b) =>
          s"CAST(SUM($a * $b) AS HUGEINT) AS p_${a}_$b" }
          .mkString(",\n    ")}
      |  FROM u)
      |SELECT x, y, CAST(n_users AS BIGINT) AS n_users, corr FROM (
      |$pairRows) t
      |ORDER BY x, y""".stripMargin
  }

  // ---- ft_mutual_info: mutual-information feature screen -------------
  // The model-free feature screen that complements ft_woe_iv's
  // monotone-odds IV with a symmetric dependence measure: for each
  // candidate user-level categorical feature, MI(X; engaged) =
  // Σ_cells p(c,y)·ln(p(c,y)/(p(c)p(y))) against the same
  // engaged-purchaser label (≥ 15 purchase events — cross-op
  // comparable by construction). Three features ride ONE per-user
  // pass: the dominant event type (woe_iv's deterministic argmax),
  // an activity band relative to the corpus mean events-per-user
  // (low < 0.9·mean ≤ mid ≤ 10/9·mean < high), and a night-owl flag
  // (user's 00–06h share strictly above the corpus's). The relative
  // cuts are exact integer CROSS-MULTIPLICATIONS against broadcast
  // 1-row corpus totals (q11's scale-invariant-cut pattern) — fixed
  // absolute thresholds would collapse every user into one band as
  // density grows with SF, and a band alphabet of 1 makes MI
  // degenerately 0. Cells are DENSE
  // (every category × {true,false}, absent combinations included at
  // count 0 — skipping them changes MI) and Laplace-smoothed (+1 per
  // cell): n'_cy = n_cy+1, n'_c = n_c+2, n'_y = n_y+K, N' = N+2K.
  // Exactness: each cell's ln ratio is lnqU(n'_cy·N') −
  // lnqU(n'_c·n'_y) on integer products (the ln-quantization
  // contract); cell terms n'_cy·Δ run in DECIMAL(38,0)/HUGEINT in
  // both engines (APPLIED r11) and sum exactly; ONE final sign-safe
  // half-up division by N' lands micro-nats. The lnq input products
  // (≤ N'²) stay int64 deliberately — see the inline note.
  // Scale: one (user,type) agg + the argmax window riding the
  // user_id shuffle + one per-user agg; the melted cell table is
  // 3·alphabet-sized, and every join after it is alphabet×2-sized.
  // The per-user frame fans out to the totals scalar AND the banding
  // pass, and the cell table to the category grid AND the count join
  // — both are eager-checkpointed (the ft_woe_iv fan-out rule: a
  // branched producer otherwise replays its whole subtree per
  // branch; un-checkpointed the final plan carried 14 exchanges
  // across replays, now each producer pays once and the final plan
  // is 3).
  private def ftMutualInfo(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(desc("cnt"), col("event_type"))
    val users = Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        count(when(col("event_type") === "purchase", lit(1))).as("n_purch"),
        count(when(hour(col("ts")) < 7, lit(1))).as("n_night"))
      .withColumn("rk", row_number().over(byUser))
      .groupBy("user_id")
      .agg(max(when(col("rk") === 1, col("event_type")))
          .as("dominant_type"),
        sum(col("cnt")).as("n_events"),
        sum(col("n_night")).as("night_events"),
        (sum(col("n_purch")) >= woeMinPurchases).as("good"))
      .transform(Ckpt.stage)
    val totals = users.agg(count(lit(1)).as("u"),
      sum(col("n_events")).as("t"), sum(col("night_events")).as("tn"))
    val banded = users.crossJoin(broadcast(totals))
      // n vs 0.9·mean and 10/9·mean cross-multiplied: low when
      // n·u·10 < t·9, high when n·u·9 > t·10 — exact integers, no
      // division
      .withColumn("activity_band",
        when(col("n_events") * col("u") * 10 < col("t") * 9, "low")
          .when(col("n_events") * col("u") * 9 > col("t") * 10, "high")
          .otherwise("mid"))
      .withColumn("night_owl",
        when(col("night_events") * col("t") > col("n_events") * col("tn"),
          "night").otherwise("day"))
    val melted = banded.select(col("good"), explode(array(
      struct(lit("dominant_type").as("feature"),
        col("dominant_type").as("category")),
      struct(lit("activity_band").as("feature"),
        col("activity_band").as("category")),
      struct(lit("night_owl").as("feature"),
        col("night_owl").as("category")))).as("fx"))
      .select(col("fx.feature").as("feature"),
        col("fx.category").as("category"), col("good"))
    val cells = melted.groupBy("feature", "category", "good")
      .agg(count(lit(1)).as("n"))
      .transform(Ckpt.stage)
    // dense grid: every observed category × both labels
    val cats = cells.select("feature", "category").distinct()
    import spark.implicits._
    val dense = cats
      .crossJoin(broadcast(Seq(true, false).toDF("good")))
      .join(cells, Seq("feature", "category", "good"), "left")
      .na.fill(0L, Seq("n"))
    val wf = Window.partitionBy("feature")
    val scored = dense
      .withColumn("np", col("n") + 1)
      .withColumn("nc", sum(col("n")).over(
        Window.partitionBy("feature", "category")) + 2)
      .withColumn("k", (count(lit(1)).over(wf) / 2).cast("long"))
      .withColumn("ny", sum(col("n")).over(
        Window.partitionBy("feature", "good")) + col("k"))
      .withColumn("nt", sum(col("n")).over(wf) + col("k") * 2)
      // the np·Δlnq products and their sum run in DECIMAL(38,0)/
      // HUGEINT in both engines (APPLIED r11); the lnq INPUT products
      // stay int64 deliberately — their ~3·10⁹-users-per-cell bound
      // needs planet-scale cells, and a decimal ln argument would
      // reopen the decimal→double conversion seam the lnq contract
      // avoids (documented at ft_woe_iv)
      .withColumn("term",
        col("np").cast(DecimalType(38, 0)) *
          (Num.lnqU(col("np") * col("nt")) -
            Num.lnqU(col("nc") * col("ny"))).cast(DecimalType(38, 0)))
    scored.groupBy("feature")
      .agg(max(col("k")).as("n_categories"),
        max(col("nt") - col("k") * 2).as("n_users"),
        sum(col("term")).as("num"), max(col("nt")).as("den"))
      .withColumn("mi_micro", expr(
        """(case when num < 0 then -1L else 1L end) *
          |((2 * abs(num) + den) div (2 * den))""".stripMargin))
      .select(col("feature"), col("n_categories"), col("n_users"),
        (col("mi_micro").cast("double") / 1000000L).as("mi_nats"))
      .orderBy("feature")
  }

  private val ftMutualInfoSql = {
    val ln = Num.lnqUSql _
    s"""WITH per_type AS (
      |  SELECT user_id, event_type, COUNT(*) AS cnt,
      |    COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purch,
      |    COUNT(*) FILTER (WHERE EXTRACT(hour FROM ts) < 7) AS n_night,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY COUNT(*) DESC, event_type) AS rk
      |  FROM events GROUP BY user_id, event_type),
      |users AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN rk = 1 THEN event_type END) AS dominant_type,
      |    CAST(SUM(cnt) AS BIGINT) AS n_events,
      |    CAST(SUM(n_night) AS BIGINT) AS night_events,
      |    SUM(n_purch) >= $woeMinPurchases AS good
      |  FROM per_type GROUP BY user_id),
      |totals AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS u,
      |    CAST(SUM(n_events) AS BIGINT) AS t,
      |    CAST(SUM(night_events) AS BIGINT) AS tn
      |  FROM users),
      |feat AS (
      |  SELECT user_id, good,
      |    dominant_type,
      |    CASE WHEN n_events * u * 10 < t * 9 THEN 'low'
      |      WHEN n_events * u * 9 > t * 10 THEN 'high'
      |      ELSE 'mid' END AS activity_band,
      |    CASE WHEN night_events * t > n_events * tn THEN 'night'
      |      ELSE 'day' END AS night_owl
      |  FROM users CROSS JOIN totals),
      |melted AS (
      |  SELECT 'dominant_type' AS feature, dominant_type AS category,
      |    good FROM feat
      |  UNION ALL
      |  SELECT 'activity_band', activity_band, good FROM feat
      |  UNION ALL
      |  SELECT 'night_owl', night_owl, good FROM feat),
      |cells AS (
      |  SELECT feature, category, good, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM melted GROUP BY 1, 2, 3),
      |cats AS (SELECT DISTINCT feature, category FROM cells),
      |dense AS (
      |  SELECT c.feature, c.category, y.good,
      |    CAST(COALESCE(n.n, 0) AS BIGINT) AS n
      |  FROM cats c
      |  CROSS JOIN (SELECT true AS good UNION ALL SELECT false) y
      |  LEFT JOIN cells n ON n.feature = c.feature
      |    AND n.category = c.category AND n.good = y.good),
      |scored AS (
      |  SELECT feature, n + 1 AS np,
      |    SUM(n) OVER (PARTITION BY feature, category) + 2 AS nc,
      |    CAST(COUNT(*) OVER (PARTITION BY feature) / 2 AS BIGINT) AS k,
      |    SUM(n) OVER (PARTITION BY feature, good)
      |      + CAST(COUNT(*) OVER (PARTITION BY feature) / 2 AS BIGINT)
      |      AS ny,
      |    SUM(n) OVER (PARTITION BY feature)
      |      + 2 * CAST(COUNT(*) OVER (PARTITION BY feature) / 2 AS BIGINT)
      |      AS nt
      |  FROM dense),
      |terms AS (
      |  SELECT feature, k, nt,
      |    CAST(np AS HUGEINT) * (${ln("np * nt")} - ${ln("nc * ny")})
      |      AS term
      |  FROM scored),
      |agg AS (
      |  SELECT feature, CAST(MAX(k) AS BIGINT) AS n_categories,
      |    CAST(MAX(nt - 2 * k) AS BIGINT) AS n_users,
      |    SUM(term) AS num, CAST(MAX(nt) AS BIGINT) AS den
      |  FROM terms GROUP BY 1)
      |SELECT feature, n_categories, n_users,
      |  CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
      |    ((2 * abs(num) + den) // (2 * den)) AS DOUBLE) / 1000000
      |    AS mi_nats
      |FROM agg ORDER BY feature""".stripMargin
  }

  override val ops: Seq[Op] = Seq(
    Op("ft_rolling_24h", ftRolling, Some(ftRollingSql)),
    Op("ft_session_features", ftSessionFeatures, Some(ftSessionFeaturesSql)),
    Op("ft_daily_ffill", ftDailyFfill, Some(ftDailyFfillSql)),
    Op("ft_point_in_time", ftPointInTime, Some(ftPointInTimeSql)),
    Op("ft_label_next7d", ftLabelNext7d, Some(ftLabelNext7dSql)),
    Op("ft_target_encode", ftTargetEncode, Some(ftTargetEncodeSql)),
    Op("ft_scaler", ftScaler, Some(ftScalerSql)),
    Op("ft_cooccurrence", ftCooccurrence, Some(ftCooccurrenceSql)),
    Op("ft_rfm", ftRfm, Some(ftRfmSql)),
    Op("ft_item_pagerank", ftItemPagerank, Some(ftItemPagerankSql)),
    Op("ft_lag_features", ftLagFeatures, Some(ftLagFeaturesSql)),
    Op("ft_time_to_event", ftTimeToEvent, Some(ftTimeToEventSql)),
    Op("ft_woe_iv", ftWoeIv, Some(ftWoeIvSql)),
    Op("ft_assoc_rules", ftAssocRules, Some(ftAssocRulesSql)),
    Op("ft_quantile_bins", ftQuantileBins, Some(ftQuantileBinsSql)),
    Op("ft_quantile_bins_approx", ftQuantileBinsApprox, None),
    Op("ft_graph_triangles", ftGraphTriangles, Some(ftGraphTrianglesSql)),
    Op("ft_kaplan_meier", ftKaplanMeier, Some(ftKaplanMeierSql)),
    Op("ft_graph_jaccard", ftGraphJaccard, Some(ftGraphJaccardSql)),
    Op("ft_mutual_info", ftMutualInfo, Some(ftMutualInfoSql)),
    Op("ft_correlation", ftCorrelation, Some(ftCorrelationSql)),
  )
}
