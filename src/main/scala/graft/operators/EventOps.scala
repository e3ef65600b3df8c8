package graft.operators

import graft.{QueryModule, Tables}
import graft.util.Parity._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

/** Event-stream operators over the `events` table, expressed with
  * batch semantics here (oracle-comparable) and re-used by the real
  * Structured Streaming pipeline in graft.streaming (same window
  * semantics; see StreamingSpec for the streaming-vs-batch equality
  * test). The reference is batch-only (SURVEY §2.9) — this is the
  * beyond-reference streaming seam.
  */
object EventOps extends QueryModule {

  /** q32 — 5-minute tumbling-window aggregation per event type:
    * epoch-aligned windows, count/sum/distinct-users. Streaming twin:
    * groupBy(window($"ts","5 minutes"), $"event_type") + watermark. */
  def eventWindows(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events")
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        moneySum(col("value")).as("total_value"),
        countDistinct(col("user_id")).as("distinct_users"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"), col("distinct_users"))
      .orderBy(col("window_start"), col("event_type"))

  private val eventWindowsSql =
    """SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
      |       time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) + INTERVAL '5 minutes' AS window_end,
      |       event_type,
      |       count(1) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value,
      |       count(DISTINCT user_id) AS distinct_users
      |FROM events
      |GROUP BY 1, 2, 3
      |ORDER BY window_start, event_type""".stripMargin

  /** q33 — gap-based sessionization (30-min inactivity): lag + running
    * sum of session starts per user, then per-session rollup. The
    * stateful-streaming twin lives in graft.streaming (
    * flatMapGroupsWithState); identical session boundaries. */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "events")
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser))
    val isNew = when(gapUs.isNull || gapUs > lit(30L * 60 * 1000000), 1L).otherwise(0L)
    e.withColumn("is_new", isNew)
      .withColumn("session_seq",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        moneySum(col("value")).as("session_value"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  private val sessionizeSql =
    """WITH ev AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |         epoch_us(CAST(ts AS TIMESTAMP)) - lag(epoch_us(CAST(ts AS TIMESTAMP)))
      |           OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_us
      |  FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END AS is_new
      |  FROM ev),
      |sessions AS (
      |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      |  FROM flagged)
      |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
      |       min(ts) AS session_start,
      |       max(ts) AS session_end,
      |       count(1) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS session_value
      |FROM sessions
      |GROUP BY 1, 2
      |ORDER BY user_id, session_seq""".stripMargin

  /** q132 — gap sessionization via Spark's NATIVE session_window
    * operator (the built-in q33's hand-rolled lag/cumsum pipeline
    * predates; both ship because their plans differ): session_window
    * plans a dedicated SessionWindow aggregation — per-key sorted
    * merge of [start, ts+gap) intervals, no window-function pass —
    * and the SAME operator runs under Structured Streaming with
    * watermark-driven state eviction, which the lag/cumsum form
    * cannot. Boundary semantics differ from q33 by one edge: the
    * native operator starts a NEW session at gap ≥ 30 min (intervals
    * merge only when the next event falls STRICTLY inside the
    * previous event's ts+gap), where q33's lag test keeps gap == 30
    * min together — the oracle mirrors the native rule exactly, so
    * the parity holds on any data, ties included. */
  def sessionWindows(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        moneySum(col("value")).as("session_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("session_value"))
      .orderBy(col("user_id"), col("session_start"))

  private val sessionWindowsSql =
    """WITH ev AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |         epoch_us(CAST(ts AS TIMESTAMP)) - lag(epoch_us(CAST(ts AS TIMESTAMP)))
      |           OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_us
      |  FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END AS is_new
      |  FROM ev),
      |sessions AS (
      |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      |  FROM flagged)
      |SELECT user_id, min(ts) AS session_start,
      |       count(1) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS session_value
      |FROM sessions
      |GROUP BY user_id, session_seq
      |ORDER BY user_id, session_start""".stripMargin

  /** q133 — UNPIVOT/melt via Spark's native `unpivot` (the inverse of
    * q65's pivot, completing the reshape pair): the four lineitem
    * measures fold into (measure, value) long form and aggregate per
    * measure — the shape feature stores and metric catalogs ingest.
    * unpivot plans a bounded Expand (×4, one row per measure — the
    * same bounded-constant criterion as ROLLUP/CUBE and the sliding
    * window, allow-listed in PlanSweep), then ONE aggregation; sums
    * fold in decimal (values are ≤2-dp money/fractions, so the fold
    * is exact and engine-identical). */
  def meltMeasures(s: SparkSession, dir: String): DataFrame = {
    val measures = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    Tables.t(s, dir, "lineitem")
      .select((col("l_orderkey") +: measures.map(col)): _*)
      .unpivot(Array(col("l_orderkey")), measures.map(col).toArray,
        "measure", "value")
      .groupBy(col("measure"))
      .agg(count(lit(1)).as("n_rows"),
        snapRound(sum(col("value").cast(DecimalType(38, 6))).cast(DoubleType), 4)
          .as("total"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy(col("measure"))
  }

  private val meltMeasuresSql = {
    val arms = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .map(c => s"SELECT '$c' AS measure, $c AS value FROM lineitem")
      .mkString("\n  UNION ALL ")
    s"""WITH m AS (
       |  $arms)
       |SELECT measure, count(1) AS n_rows,
       |       ${snapRoundSql("CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)", 4)} AS total,
       |       min(value) AS min_value, max(value) AS max_value
       |FROM m GROUP BY 1
       |ORDER BY measure""".stripMargin
  }

  /** q44 — JSON metadata extraction: events.props is a JSON string;
    * pull a typed field out, bucket it, aggregate. (The reference
    * only ever SERIALIZES json — to_json payloads,
    * silver/silver_builder.py:464-469; parsing is the beyond-reference
    * direction every metadata-rich pipeline needs.) */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
      .groupBy(col("event_type"), floor(col("k") / lit(10.0)).cast(IntegerType).as("k_bucket"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"), col("k_bucket"))

  private val jsonExtractSql =
    """SELECT event_type, CAST(floor(CAST(json_extract_string(props, '$.k') AS INTEGER) / 10.0) AS INTEGER) AS k_bucket,
      |       count(1) AS n,
      |       min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
      |       max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY event_type NULLS FIRST, k_bucket NULLS FIRST""".stripMargin

  /** q45 — ROLLUP hierarchy totals (region → segment → grand total)
    * with grouping ids: subtotal semantics the reference approximates
    * with separate queries; one pass here. */
  def rollupSales(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.t(s, dir, "orders")
    val c = Tables.t(s, dir, "customer")
    val n = Tables.t(s, dir, "nation")
    val r = Tables.t(s, dir, "region")
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("orders"),
        moneySum(col("o_totalprice")).as("total_price"),
        grouping_id().as("grouping_level"))
      .orderBy(col("grouping_level"), col("r_name"), col("c_mktsegment"))
  }

  private val rollupSalesSql =
    """SELECT r_name, c_mktsegment, count(1) AS orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total_price,
      |       GROUPING(r_name) * 2 + GROUPING(c_mktsegment) AS grouping_level
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, c_mktsegment)
      |ORDER BY grouping_level, r_name NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin

  /** q53 — CUBE over (status, priority): every subtotal combination
    * (including the segment-only slice ROLLUP cannot produce) in one
    * pass, disambiguated by grouping_id. */
  def cubeOrders(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("orders"),
        moneySum(col("o_totalprice")).as("total_price"),
        grouping_id().as("grouping_level"))
      .orderBy(col("grouping_level"), col("o_orderstatus"), col("o_orderpriority"))

  private val cubeOrdersSql =
    """SELECT o_orderstatus, o_orderpriority, count(1) AS orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total_price,
      |       GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS grouping_level
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY grouping_level, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** q135 — arbitrary GROUPING SETS, the general form q45's ROLLUP and
    * q53's CUBE specialize: a hand-picked set list — (region, segment),
    * (region), (segment) — over the sales star, disambiguated by
    * grouping_id. Exactly the slices a dashboard needs, WITHOUT the
    * grand total or the empty set CUBE would also compute; Spark 4's
    * native Dataset.groupingSets plans the same bounded Expand as
    * ROLLUP/CUBE — breadth = |sets| = 3, the allow-list criterion. */
  def groupingSetsSales(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.t(s, dir, "orders")
    val c = Tables.t(s, dir, "customer")
    val n = Tables.t(s, dir, "nation")
    val r = Tables.t(s, dir, "region")
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupingSets(
        Seq(Seq(col("r_name"), col("c_mktsegment")), Seq(col("r_name")), Seq(col("c_mktsegment"))),
        col("r_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("orders"),
        moneySum(col("o_totalprice")).as("total_price"),
        grouping_id().as("grouping_level"))
      .orderBy(col("grouping_level"), col("r_name"), col("c_mktsegment"))
  }

  private val groupingSetsSalesSql =
    """SELECT r_name, c_mktsegment, count(1) AS orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total_price,
      |       GROUPING(r_name) * 2 + GROUPING(c_mktsegment) AS grouping_level
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY GROUPING SETS ((r_name, c_mktsegment), (r_name), (c_mktsegment))
      |ORDER BY grouping_level, r_name NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin

  /** q46 — as-of join: each purchase matched to the same user's
    * latest view at-or-before it. Spark lacks a native ASOF JOIN;
    * per the preference order (SURVEY §7.3 / guide) it composes from
    * built-ins: tag both sides, union, one window pass with
    * last_value(ignoreNulls) — refs sort before probes at equal ts so
    * the <= bound is inclusive. ONE shuffle on the key, no range
    * explosion — this is the scalable formulation (a custom
    * SparkPlan would save only the tag column). The oracle is
    * DuckDB's native ASOF LEFT JOIN — two independent
    * implementations of the semantics. */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "events")
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"), lit(0).as("tag"),
        col("event_id").as("view_event_id"), col("ts").as("view_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("tag"),
        lit(null).cast(LongType).as("view_event_id"),
        lit(null).cast(TimestampType).as("view_ts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    views.unionByName(purchases)
      .withColumn("matched_view_id", last(col("view_event_id"), ignoreNulls = true).over(w))
      .withColumn("matched_view_ts", last(col("view_ts"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("purchase_ts"),
        col("matched_view_id"), col("matched_view_ts"),
        (unix_micros(col("ts")) - unix_micros(col("matched_view_ts"))).as("gap_micros"))
      .orderBy(col("purchase_id"))
  }

  /** q57 — the SAME as-of semantics as q46 through the native Catalyst
    * operator (graft.plans.AsOfJoin: custom LogicalPlan + Strategy +
    * merge-join SparkPlan). Both sides pre-project to disjoint names;
    * the view event id is the right-side tiebreak so equal-timestamp
    * views resolve to the newest — exactly the composed q46's window
    * order (ts, tag, event_id). Verified three ways: against the
    * DuckDB ASOF oracle, and against q46 in AsOfJoinSpec. */
  def asofJoinNative(s: SparkSession, dir: String): DataFrame = {
    val purchases = Tables.t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    val views = Tables.t(s, dir, "events")
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"),
        col("event_id").as("matched_view_id"), col("ts").as("matched_view_ts"))
    graft.plans.AsOf.join(purchases, views,
        leftKeys = Seq("user_id"), rightKeys = Seq("v_user_id"),
        leftTs = "purchase_ts", rightTs = "matched_view_ts",
        rightTiebreak = Seq("matched_view_id"))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("matched_view_id"), col("matched_view_ts"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("matched_view_ts")))
          .as("gap_micros"))
      .orderBy(col("purchase_id"))
  }

  private val asofJoinSql =
    """SELECT p.event_id AS purchase_id, p.user_id,
      |       CAST(p.ts AS TIMESTAMP) AS purchase_ts,
      |       v.event_id AS matched_view_id,
      |       CAST(v.ts AS TIMESTAMP) AS matched_view_ts,
      |       epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(v.ts AS TIMESTAMP)) AS gap_micros
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON p.user_id = v.user_id AND v.ts <= p.ts
      |ORDER BY purchase_id""".stripMargin

  /** q64 — bin-bucketed range join: for every event, how many OTHER
    * events (and distinct users) land within ±2 minutes. The naive
    * form is a full inequality self-join — quadratic, and Spark plans
    * it as BroadcastNestedLoop/cartesian. The scale shape bins time
    * into radius-sized buckets: the probe side fans out to its bucket
    * and both neighbors (3 rows), the build side keys by its own
    * bucket, and the equi-join on bucket makes it a plain hash
    * shuffle — any |Δt| ≤ radius pair shares exactly one probe
    * bucket (bin size = radius ⇒ bins differ by ≤ 1), so no pair
    * dedup is needed. Work is O(pairs-in-radius), not O(N²); skewed
    * hot windows fall out of AQE's skew-join handling like any other
    * hash join. Oracle: DuckDB's IEJoin on the raw BETWEEN predicate
    * — same answer, different physical strategy. */
  def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val radiusUs = 120L * 1000000
    val e = Tables.t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        unix_micros(col("ts")).as("tus"))
    // only the join-relevant columns ride through the 3× fan-out and
    // the bucket-join shuffle (ts re-joins from the base scan at the
    // end; user_id is only needed on the build side)
    val probes = e.select(col("event_id"), col("tus"),
      explode(array(lit(-1L), lit(0L), lit(1L))).as("dbin"))
      .withColumn("bin", floor(col("tus") / radiusUs).cast(LongType) + col("dbin"))
      .drop("dbin")
    val build = e.select(col("event_id").as("o_id"), col("user_id").as("o_user"),
      col("tus").as("o_tus"))
      .withColumn("bin", floor(col("o_tus") / radiusUs).cast(LongType))
    val matched = probes.join(build,
        probes("bin") === build("bin") &&
          col("o_id") =!= col("event_id") &&
          col("o_tus") >= col("tus") - radiusUs && col("o_tus") <= col("tus") + radiusUs)
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("neighbor_count"),
        countDistinct(col("o_user")).as("neighbor_users"))
    e.select(col("event_id"), col("ts"))
      .join(matched, Seq("event_id"), "left")
      .select(col("event_id"), col("ts"),
        coalesce(col("neighbor_count"), lit(0L)).as("neighbor_count"),
        coalesce(col("neighbor_users"), lit(0L)).as("neighbor_users"))
      .orderBy(col("event_id"))
  }

  private val rangeJoinSql =
    """WITH e AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS tus
      |  FROM events)
      |SELECT a.event_id, a.ts,
      |       count(b.event_id) AS neighbor_count,
      |       count(DISTINCT b.user_id) AS neighbor_users
      |FROM e a
      |LEFT JOIN e b ON b.event_id <> a.event_id
      |  AND b.tus BETWEEN a.tus - 120000000 AND a.tus + 120000000
      |GROUP BY 1, 2
      |ORDER BY a.event_id""".stripMargin

  /** q74 — weekly cohort retention: each user joins the cohort of
    * their first active ISO week; for every (cohort, week-offset)
    * cell, how many of the cohort's users were active — the retention
    * matrix every product-analytics stack derives from an event
    * stream. Scale: user-week activity dedups FIRST (one narrow
    * distinct on (user, week) — the event fan-in never reaches the
    * cohort join), first-week is a min-aggregation on the same
    * shuffle key, and the cells aggregate the deduped frame; all
    * joins are derived-vs-derived on user_id. The offset uses
    * floor(days/7) in BOTH engines (a bare int cast truncates in
    * Spark but ROUNDS in DuckDB — cross-engine trap). */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "events")
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast(DateType).as("w"))
      .distinct()
    val cohorts = e.groupBy(col("user_id")).agg(min(col("w")).as("cohort_week"))
    val cells = e.join(cohorts, "user_id")
      .groupBy(col("cohort_week"),
        floor(datediff(col("w"), col("cohort_week")) / lit(7.0)).cast(IntegerType).as("week_offset"))
      .agg(count(lit(1)).as("active_users")) // (user, w) already distinct
    val sizes = cohorts.groupBy(col("cohort_week")).agg(count(lit(1)).as("cohort_size"))
    cells.join(sizes, "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("active_users"), col("cohort_size"),
        (col("active_users").cast(DoubleType) / col("cohort_size").cast(DoubleType))
          .as("retention_rate"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  private val cohortRetentionSql =
    """WITH e AS (
      |  SELECT DISTINCT user_id,
      |         CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS w
      |  FROM events),
      |cohorts AS (SELECT user_id, min(w) AS cohort_week FROM e GROUP BY 1),
      |cells AS (
      |  SELECT cohort_week,
      |         CAST(floor(date_diff('day', cohort_week, w) / 7.0) AS INTEGER) AS week_offset,
      |         count(1) AS active_users
      |  FROM e JOIN cohorts USING (user_id)
      |  GROUP BY 1, 2),
      |sizes AS (SELECT cohort_week, count(1) AS cohort_size FROM cohorts GROUP BY 1)
      |SELECT cohort_week, week_offset, active_users, cohort_size,
      |       CAST(active_users AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention_rate
      |FROM cells JOIN sizes USING (cohort_week)
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** q76 — ordered funnel conversion (view → click → purchase): a
    * user reaches stage N only with a stage-N event STRICTLY AFTER
    * their stage-N−1 time (first-touch semantics: min qualifying ts
    * per stage). The classic product-analytics funnel, expressed as
    * cascaded conditional min-aggregations — each stage is one
    * filter + join-on-user + min-agg, all keyed on user_id, so the
    * three stages reuse one shuffle key end to end; no window over
    * the event fan-in. The final 3-row frame ranks with a global lag
    * (bounded — 3 rows) for stage-over-stage conversion. */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    def stageAfter(evType: String, prev: DataFrame, prevT: String, asT: String) =
      e.filter(col("event_type") === evType)
        .join(prev.select(col("user_id"), col(prevT)), "user_id")
        .filter(col("ts") > col(prevT))
        .groupBy(col("user_id")).agg(min(col("ts")).as(asT))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val c = stageAfter("click", v, "t1", "t2")
    val p = stageAfter("purchase", c, "t2", "t3")
    val stages =
      v.agg(count(lit(1)).as("users")).select(lit(1).as("stage"), lit("view").as("stage_name"), col("users"))
        .unionByName(c.agg(count(lit(1)).as("users")).select(lit(2).as("stage"), lit("click").as("stage_name"), col("users")))
        .unionByName(p.agg(count(lit(1)).as("users")).select(lit(3).as("stage"), lit("purchase").as("stage_name"), col("users")))
    stages
      .withColumn("conversion_rate",
        col("users").cast(DoubleType) /
          lag(col("users"), 1).over(Window.orderBy(col("stage"))).cast(DoubleType))
      .orderBy(col("stage"))
  }

  private val funnelSql =
    """WITH v AS (
      |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t1
      |  FROM events WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t2
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.t1
      |  GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t3
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t2
      |  GROUP BY 1),
      |stages AS (
      |  SELECT 1 AS stage, 'view' AS stage_name, count(1) AS users FROM v
      |  UNION ALL
      |  SELECT 2, 'click', count(1) FROM c
      |  UNION ALL
      |  SELECT 3, 'purchase', count(1) FROM p)
      |SELECT stage, stage_name, users,
      |       CAST(users AS DOUBLE) / CAST(lag(users) OVER (ORDER BY stage) AS DOUBLE) AS conversion_rate
      |FROM stages
      |ORDER BY stage""".stripMargin

  // ---- q89: multi-touch attribution -------------------------------

  /** Attribution lookback: touches within 7 days of the purchase. */
  private[graft] val AttrWindowMicros = 7L * 24 * 3600 * 1000000

  /** q89 — multi-touch attribution: for every purchase, the FIRST and
    * LAST touch (click/view) by the same user inside a 7-day lookback,
    * plus the touch count; purchases with no touch in window attribute
    * to 'direct'. This is the per-user as-of join (q46/q57) fused into
    * the event scan: instead of joining purchases against touches, one
    * RANGE window over the unioned stream carries both answers —
    * min/max of a (ts, event_id, type) struct, so ties at identical
    * timestamps break on event_id deterministically (a bare
    * first/last inside a RANGE frame would be peer-order-dependent).
    * Scale: ONE shuffle on user_id, no self-join — at 100 TB the
    * join formulation would shuffle the event stream twice and skew
    * on hot users; this shape shuffles once and the window state is
    * the lookback horizon per user. */
  def attribution(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    val touch = col("event_type").isin("click", "view")
    val tstruct = when(touch,
      struct(col("ts"), col("event_id").as("eid"), col("event_type").as("et")))
    val win = Window.partitionBy(col("user_id")).orderBy(unix_micros(col("ts")))
      .rangeBetween(-AttrWindowMicros, Window.currentRow)
    e.withColumn("lt", max(tstruct).over(win))
      .withColumn("ft", min(tstruct).over(win))
      .withColumn("touches_7d", sum(when(touch, 1L).otherwise(0L)).over(win))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"),
        col("touches_7d"),
        coalesce(col("ft.et"), lit("direct")).as("first_touch_type"),
        col("ft.ts").as("first_touch_ts"),
        coalesce(col("lt.et"), lit("direct")).as("last_touch_type"),
        col("lt.ts").as("last_touch_ts"))
      .orderBy(col("event_id"))
  }

  private val attributionSql =
    s"""WITH e AS (SELECT user_id, event_id, ts, event_type FROM events),
      |w AS (
      |  SELECT e.*,
      |    max(CASE WHEN event_type IN ('click','view')
      |             THEN struct_pack(ts := ts, eid := event_id, et := event_type) END)
      |      OVER win AS lt,
      |    min(CASE WHEN event_type IN ('click','view')
      |             THEN struct_pack(ts := ts, eid := event_id, et := event_type) END)
      |      OVER win AS ft,
      |    sum(CASE WHEN event_type IN ('click','view') THEN 1 ELSE 0 END) OVER win AS touches
      |  FROM e
      |  WINDOW win AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |                 RANGE BETWEEN $AttrWindowMicros PRECEDING AND CURRENT ROW))
      |SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS purchase_ts,
      |  CAST(touches AS BIGINT) AS touches_7d,
      |  coalesce(ft.et, 'direct') AS first_touch_type,
      |  CAST(ft.ts AS TIMESTAMP) AS first_touch_ts,
      |  coalesce(lt.et, 'direct') AS last_touch_type,
      |  CAST(lt.ts AS TIMESTAMP) AS last_touch_ts
      |FROM w WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin

  // ---- q94: DAU / WAU stickiness -----------------------------------

  /** q94 — engagement stickiness over the event stream: per day, the
    * distinct active users (DAU), the trailing-7-day distinct actives
    * (WAU), and their ratio. The trailing distinct can't decompose
    * into daily partials (distinct isn't additive), so WAU uses the
    * CONTRIBUTION EXPLODE: each deduped (user, day) fans out to the 7
    * target days it keeps the user active for, then one dedup+count
    * per target day — a bounded 7× expansion of user-DAYS (already
    * deduped, ≪ events), never a range self-join and never a window
    * that holds user sets in state. Reported for days that have at
    * least one event. */
  def stickiness(s: SparkSession, dir: String): DataFrame = {
    val userDays = Tables.t(s, dir, "events")
      .select(col("user_id"), col("ts").cast(DateType).as("ds")).distinct()
    val dau = userDays.groupBy(col("ds")).agg(count(lit(1)).as("dau"))
    val wau = userDays
      .select(col("user_id"), explode(sequence(col("ds"), date_add(col("ds"), 6))).as("ds"))
      .distinct()
      .groupBy(col("ds")).agg(count(lit(1)).as("wau"))
    dau.join(wau, "ds")
      .select(col("ds"), col("dau"), col("wau"),
        (col("dau").cast(DoubleType) / col("wau").cast(DoubleType)).as("stickiness"))
      .orderBy(col("ds"))
  }

  private val stickinessSql =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS ds FROM events),
      |dau AS (SELECT ds, count(1) AS dau FROM ud GROUP BY 1),
      |contrib AS (
      |  SELECT DISTINCT user_id, CAST(unnest(generate_series(ds, ds + 6, INTERVAL 1 DAY)) AS DATE) AS ds
      |  FROM ud),
      |wau AS (SELECT ds, count(1) AS wau FROM contrib GROUP BY 1)
      |SELECT d.ds, d.dau, w.wau,
      |       CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE) AS stickiness
      |FROM dau d JOIN wau w ON d.ds = w.ds
      |ORDER BY d.ds""".stripMargin

  // ---- q96: forward as-of with tolerance ---------------------------

  /** Conversion-latency tolerance: a purchase more than 1 hour after
    * the view doesn't count as its conversion. */
  private[graft] val ConvTolMicros = 3600000000L

  /** q96 — FORWARD as-of with a tolerance bound (the two merge_asof
    * dials q46/q57 don't exercise): each view matched to the same
    * user's EARLIEST purchase at-or-after it, and matches farther
    * than 1 hour out are nulled — the view-to-purchase conversion
    * latency surface. Same one-shuffle composed-window formulation as
    * q46 with the traversal reversed: ORDER BY (ts DESC, tag ASC,
    * event_id DESC) puts later timestamps first and purchases before
    * views at equal ts, so last_value(ignoreNulls) holds the earliest
    * at-or-after purchase (ties on ts break to the LOWEST purchase
    * id — can't arise while (user, ts) is unique, pinned anyway).
    * The tolerance is a post-window null-out, not a join predicate —
    * the plan is identical to the unbounded forward as-of. Oracle:
    * DuckDB's native ASOF LEFT JOIN with a <= condition — an
    * independent implementation of the forward direction. */
  def viewToPurchase(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), lit(0).as("tag"),
        col("event_id").as("p_id"), col("ts").as("p_ts"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("tag"),
        lit(null).cast(LongType).as("p_id"),
        lit(null).cast(TimestampType).as("p_ts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("tag"), col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val latency = unix_micros(col("np_ts")) - unix_micros(col("ts"))
    val ok = col("np_ts").isNotNull && latency <= lit(ConvTolMicros)
    purchases.unionByName(views)
      .withColumn("np_id", last(col("p_id"), ignoreNulls = true).over(w))
      .withColumn("np_ts", last(col("p_ts"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("view_ts"),
        when(ok, col("np_id")).as("next_purchase_id"),
        when(ok, col("np_ts")).as("next_purchase_ts"),
        when(ok, latency).as("latency_micros"))
      .orderBy(col("view_id"))
  }

  private val viewToPurchaseSql =
    s"""WITH v AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'view'),
      |p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'purchase'),
      |m AS (
      |  SELECT v.event_id AS view_id, v.user_id, v.ts AS view_ts,
      |         p.event_id AS np_id, p.ts AS np_ts
      |  FROM v ASOF LEFT JOIN p
      |    ON v.user_id = p.user_id AND v.ts <= p.ts)
      |SELECT view_id, user_id, view_ts,
      |       CASE WHEN ok THEN np_id END AS next_purchase_id,
      |       CASE WHEN ok THEN np_ts END AS next_purchase_ts,
      |       CASE WHEN ok THEN lat END AS latency_micros
      |FROM (SELECT *, epoch_us(np_ts) - epoch_us(view_ts) AS lat,
      |             np_ts IS NOT NULL AND epoch_us(np_ts) - epoch_us(view_ts) <= $ConvTolMicros AS ok
      |      FROM m)
      |ORDER BY view_id""".stripMargin

  // ---- q97: event transition matrix --------------------------------

  /** q97 — first-order event-type transition matrix: per user, each
    * consecutive event pair (lag window, event_id tiebreak) counts a
    * (from, to) transition; output is counts plus the row-conditional
    * probability P(to | from) — the Markov-chain view of user
    * behavior that surfaces broken flows (e.g. error→error loops).
    * Scale: ONE shuffle on user_id for the lag, then a 25-cell
    * aggregate; the probability is a single IEEE division of exact
    * counts against a window sum over ≤5 rows per `from`. */
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = Tables.t(s, dir, "events")
      .withColumn("from_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("transitions"))
    val perFrom = Window.partitionBy(col("from_type"))
    pairs
      .withColumn("p_to_given_from",
        col("transitions").cast(DoubleType) /
          sum(col("transitions")).over(perFrom).cast(DoubleType))
      .orderBy(col("from_type"), col("to_type"))
  }

  private val eventTransitionsSql =
    """WITH pairs AS (
      |  SELECT from_type, event_type AS to_type, count(1) AS transitions
      |  FROM (SELECT event_type,
      |               lag(event_type) OVER (PARTITION BY user_id
      |                 ORDER BY CAST(ts AS TIMESTAMP), event_id) AS from_type
      |        FROM events)
      |  WHERE from_type IS NOT NULL
      |  GROUP BY 1, 2)
      |SELECT from_type, to_type, transitions,
      |       CAST(transitions AS DOUBLE) /
      |         CAST(sum(transitions) OVER (PARTITION BY from_type) AS DOUBLE) AS p_to_given_from
      |FROM pairs
      |ORDER BY from_type, to_type""".stripMargin

  // ---- q98: exact per-group quantiles ------------------------------

  private val GroupQuantilePs = Seq(0.5, 0.9, 0.99)

  /** q98 — exact per-group nearest-rank quantiles: p50/p90/p99 of
    * event value per type, picked by RANK EQUALITY (row_number over a
    * (value, event_id) total order == ceil(p·n)) — no interpolation
    * mode to disagree on, so the quantile is an actual data value and
    * bit-identical in any engine. One window shuffle on the group
    * key; the per-group sort is the cost, which is exactly what the
    * q88 bottom-k hash-sample sketch replaces once a group no longer
    * fits a sort (q12 keeps the reference's interpolated-percentile
    * semantics for its oracle surface — this is the portable exact
    * form, that is the approximate scale form). */
  def groupQuantiles(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    Tables.t(s, dir, "events")
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .select(col("event_type"), col("rn"), col("n"), col("value"),
        explode(array(GroupQuantilePs.map(lit): _*)).as("quantile_p"))
      .filter(col("rn") === greatest(lit(1L), ceil(col("quantile_p") * col("n"))))
      .select(col("event_type"), col("quantile_p"),
        col("n").as("n_rows"), col("value").as("quantile_value"))
      .orderBy(col("event_type"), col("quantile_p"))
  }

  private val groupQuantilesSql =
    s"""WITH ranked AS (
      |  SELECT event_type, value,
      |         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |         count(1) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |ps AS (SELECT unnest([${GroupQuantilePs.mkString(", ")}]) AS quantile_p)
      |SELECT event_type, quantile_p, n AS n_rows, value AS quantile_value
      |FROM ranked, ps
      |WHERE rn = greatest(1, CAST(ceil(quantile_p * n) AS BIGINT))
      |ORDER BY event_type, quantile_p""".stripMargin

  // ---- q127: winsorized robust statistics ---------------------------

  private val WinsorLoP = 0.05
  private val WinsorHiP = 0.95

  /** q127 — winsorized (clipped) robust statistics per group: the
    * outlier-capping every metric pipeline needs before means and
    * trends (one fat-finger event otherwise owns the aggregate).
    * Bounds are the exact nearest-rank p05/p95 picked by RANK
    * EQUALITY (q98's portable rule — an actual data value, no
    * interpolation mode to disagree on); values clamp into [lo, hi]
    * and the winsorized mean folds through an exact decimal sum.
    * Scale: one window shuffle on the group key for the ranks, the
    * group-count-sized bounds frame broadcasts back onto the fact —
    * the fact never joins the fact. */
  def winsorizedStats(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    val ranked = Tables.t(s, dir, "events")
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    val bounds = ranked.groupBy(col("event_type")).agg(
      min(when(col("rn") === greatest(lit(1L), ceil(lit(WinsorLoP) * col("n"))),
        col("value"))).as("lo"),
      min(when(col("rn") === greatest(lit(1L), ceil(lit(WinsorHiP) * col("n"))),
        col("value"))).as("hi"))
    Tables.t(s, dir, "events")
      .select(col("event_type"), col("value"))
      .join(broadcast(bounds), "event_type")
      .withColumn("wv", when(col("value") < col("lo"), col("lo"))
        .when(col("value") > col("hi"), col("hi"))
        .otherwise(col("value")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("lo")).as("lo"), min(col("hi")).as("hi"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_clamped_lo"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_clamped_hi"),
        snapRound(sum(col("wv").cast(DecimalType(38, 10))).cast(DoubleType) /
          count(lit(1)), 6).as("winsorized_mean"))
      .orderBy(col("event_type"))
  }

  private val winsorizedStatsSql =
    s"""WITH ranked AS (
       |  SELECT event_type, value,
       |         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
       |         count(1) OVER (PARTITION BY event_type) AS n
       |  FROM events),
       |bounds AS (
       |  SELECT event_type,
       |         min(CASE WHEN rn = greatest(1, CAST(ceil($WinsorLoP * n) AS BIGINT))
       |                  THEN value END) AS lo,
       |         min(CASE WHEN rn = greatest(1, CAST(ceil($WinsorHiP * n) AS BIGINT))
       |                  THEN value END) AS hi
       |  FROM ranked GROUP BY 1)
       |SELECT event_type, count(1) AS n_rows, min(lo) AS lo, min(hi) AS hi,
       |       CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_lo,
       |       CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_hi,
       |       ${snapRoundSql("CAST(sum(CAST(CASE WHEN value < lo THEN lo WHEN value > hi THEN hi ELSE value END AS DECIMAL(38,10))) AS DOUBLE) / count(1)", 6)} AS winsorized_mean
       |FROM events JOIN bounds USING (event_type)
       |GROUP BY 1
       |ORDER BY event_type""".stripMargin

  // ---- q128: per-group OLS trend -------------------------------------

  /** q128 — per-group linear trend (OLS slope/intercept of daily
    * revenue vs day index), the "is this segment growing?" statistic
    * behind every metrics dashboard, computed the GlobalAR way: all
    * five sufficient statistics (n, Σx, Σx², Σy, Σxy) fold as exact
    * LONGS (x = day offset from the group's first day; y = the day's
    * value total in CENTS — integer-valued money, the 12×-faster long
    * path that still matches the decimal oracle bit-for-bit), so the
    * only floating-point steps are the final divisions, snapped 6-dp
    * from identical integer inputs on both engines. Two aggregations:
    * fact → (group, day) totals, then group-day rows → 1 row per
    * group; no fact-sized window or join. */
  def groupTrend(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("ds"))
      .agg(sum((col("value").cast(DecimalType(30, 2)) * 100).cast(LongType))
        .as("cents"))
    val based = daily
      .withColumn("x", datediff(col("ds"),
        min(col("ds")).over(Window.partitionBy(col("event_type")))).cast(LongType))
    based.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("cents")).as("sy"), sum(col("cents") * col("x")).as("sxy"))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
      // a single-day group has den = 0 (no slope is defined): NULL on
      // both engines rather than 0/0 (NaN casts diverge cross-engine)
      .withColumn("slope_per_day", when(col("den") =!= 0,
        snapRound((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          col("den").cast(DoubleType) / 100.0, 6)))
      .select(col("event_type"), col("n").as("n_days"), col("slope_per_day"),
        when(col("den") =!= 0,
          snapRound((col("sy").cast(DoubleType) / 100.0 -
            col("slope_per_day") * col("sx").cast(DoubleType)) / col("n"), 6))
          .as("intercept"))
      .orderBy(col("event_type"))
  }

  /** Snapped slope expression, NULL for a single-day group (den = 0);
    * nested inside intercept so both engines use the SAME snapped
    * slope value. */
  private val groupTrendSlopeSql = snapRoundSql(
    "CAST(n * sxy - sx * sy AS DOUBLE) / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE) / 100.0", 6)

  private val groupTrendSql =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS ds,
       |         CAST(sum(CAST(CAST(value AS DECIMAL(30,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
       |  FROM events GROUP BY 1, 2),
       |based AS (
       |  SELECT event_type, cents,
       |         datediff('day', min(ds) OVER (PARTITION BY event_type), ds) AS x
       |  FROM daily),
       |agg AS (
       |  SELECT event_type, count(1) AS n, CAST(sum(x) AS BIGINT) AS sx,
       |         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(cents) AS BIGINT) AS sy,
       |         CAST(sum(cents * x) AS BIGINT) AS sxy
       |  FROM based GROUP BY 1)
       |SELECT event_type, n AS n_days,
       |       ${groupTrendSlopeSql} AS slope_per_day,
       |       ${snapRoundSql(s"(CAST(sy AS DOUBLE) / 100.0 - ($groupTrendSlopeSql) * CAST(sx AS DOUBLE)) / n", 6)} AS intercept
       |FROM agg
       |ORDER BY event_type""".stripMargin

  // ---- q129: market-basket association rules ------------------------

  /** Minimum co-purchase count for a rule to be reported. */
  private val BasketMinSupport = 2

  /** q129 — market-basket association rules (Agrawal et al. 1993):
    * which parts are bought together? Per ordered part pair sharing
    * ≥ 2 orders: support count, confidence P(b|a) and P(a|b), and
    * lift — all from integer counts with one snapped IEEE division
    * each (the q126 no-libm ratio rule). Baskets are orders; the
    * in-basket pair join is keyed on the order and quadratic only in
    * a basket's DISTINCT parts (bounded by order width — the same
    * per-container bound as q126's per-doc terms); item marginals are
    * part-dictionary-sized and broadcast back. */
  def marketBasket(s: SparkSession, dir: String): DataFrame = {
    // eager localCheckpoint (the q131/q78 rule): the distinct basket
    // projection feeds FOUR consumers below (both self-join sides,
    // the per-part frequencies, the basket count) — lazy, the distinct
    // shuffle recomputed per consumer. Two-long rows, disk-backed
    // storage level, so the pin is bounded by the projected fact.
    val li = Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct().localCheckpoint()
    val freq = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_orders"))
    val n = li.select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= BasketMinSupport)
      .join(freq.select(col("l_partkey").as("part_a"), col("n_orders").as("n_a")), "part_a")
      .join(freq.select(col("l_partkey").as("part_b"), col("n_orders").as("n_b")), "part_b")
      .crossJoin(n)
      .select(col("part_a"), col("part_b"), col("support"), col("n_a"), col("n_b"),
        snapRound(col("support").cast(DoubleType) / col("n_a").cast(DoubleType), 6)
          .as("conf_a_to_b"),
        snapRound(col("support").cast(DoubleType) / col("n_b").cast(DoubleType), 6)
          .as("conf_b_to_a"),
        snapRound((col("support") * col("n_baskets")).cast(DoubleType) /
          (col("n_a") * col("n_b")).cast(DoubleType), 6).as("lift"))
      // per-partition sort (guide §2.4, the q04 rule): the pair table
      // scales quadratically within baskets; the compare gates are
      // row-order-insensitive
      .sortWithinPartitions(col("part_a"), col("part_b"))
  }

  private val marketBasketSql =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |freq AS (SELECT l_partkey, count(1) AS n_orders FROM li GROUP BY 1),
       |n AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM li),
       |pairs AS (
       |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(1) AS support
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2)
       |SELECT part_a, part_b, support, fa.n_orders AS n_a, fb.n_orders AS n_b,
       |       ${snapRoundSql("CAST(support AS DOUBLE) / CAST(fa.n_orders AS DOUBLE)", 6)} AS conf_a_to_b,
       |       ${snapRoundSql("CAST(support AS DOUBLE) / CAST(fb.n_orders AS DOUBLE)", 6)} AS conf_b_to_a,
       |       ${snapRoundSql("CAST(support * n_baskets AS DOUBLE) / CAST(fa.n_orders * fb.n_orders AS DOUBLE)", 6)} AS lift
       |FROM pairs
       |JOIN freq fa ON part_a = fa.l_partkey
       |JOIN freq fb ON part_b = fb.l_partkey
       |CROSS JOIN n
       |WHERE support >= $BasketMinSupport
       |ORDER BY part_a, part_b""".stripMargin

  // ---- q100: sliding windows ---------------------------------------

  /** q100 — SLIDING (hopping) window aggregation: 10-minute windows
    * every 5 minutes per event type — the smoothed-rate view q32's
    * tumbling windows can't give. Spark's `window(ts, 10m, 5m)` plans
    * a deliberate Expand: each event replicates into exactly
    * window/slide = 2 windows — a bounded constant factor, which is
    * precisely the allow-list criterion (vs the unbounded
    * multi-distinct Expand the sweep bans). Oracle: explicit unnest
    * of the two epoch-aligned bucket starts. */
  def slidingWindows(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        moneySum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  private val slidingWindowsSql =
    """SELECT ws AS window_start, ws + INTERVAL 10 MINUTE AS window_end,
      |       event_type, count(1) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
      |FROM (
      |  SELECT event_type, value,
      |         unnest([time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)),
      |                 time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) - INTERVAL 5 MINUTE]) AS ws
      |  FROM events)
      |GROUP BY 1, 2, 3
      |ORDER BY window_start, event_type""".stripMargin

  /** q104 — skew-resilient top-k per HOT key: the highest-value
    * events per event_type, a key with single-digit cardinality —
    * every row of a type lands in ONE window task under the naive
    * `Window.partitionBy(event_type)` (the classic hot-partition
    * bottleneck; ranking is not decomposable, so neither map-side
    * combine nor AQE's join-skew splitting helps). Runs through
    * [[graft.util.SkewJoin.saltedTopK]]: rank within (type, salt-of-8)
    * — the hot type spreads over 8 tasks — then re-rank the ≤ 40
    * survivors per type. Provably identical to the naive window
    * (the total (value DESC, event_id) order makes the per-salt top-k
    * union a superset of the global top-k; ScaleSpec pins equality on
    * a deliberately Zipfian fixture and that the plan's first Window
    * partitions by (key, salt)). The DuckDB oracle IS the naive
    * window — oracle-green means the salted rewrite changed nothing
    * but the plan. */
  def hotKeyTopEvents(s: SparkSession, dir: String): DataFrame =
    graft.util.SkewJoin.saltedTopK(
      Tables.t(s, dir, "events")
        .select(col("event_type"), col("event_id"), col("user_id"), col("value")),
      "event_type", Seq(col("value").desc, col("event_id")), k = 5, salts = 8)
      .select(col("event_type"), col("rank"), col("event_id"),
        col("user_id"), col("value"))
      .orderBy(col("event_type"), col("rank"))

  private val hotKeyTopEventsSql =
    """SELECT event_type, CAST(rank AS INTEGER) AS rank, event_id, user_id, value
      |FROM (
      |  SELECT event_type, event_id, user_id, value,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY value DESC, event_id) AS rank
      |  FROM events)
      |WHERE rank <= 5
      |ORDER BY event_type, rank""".stripMargin

  // ---- q122: SCD Type-2 dimension history from a changelog ---------

  /** q122 — SCD Type-2 dimension history built from the event
    * changelog (Kimball's slowly-changing-dimension type 2, the
    * warehouse-standard way to keep attribute HISTORY instead of
    * overwriting it): per user, consecutive runs of the same tracked
    * attribute (event_type here) collapse into one version row with
    * `[valid_from, valid_to)` validity, a per-user version number,
    * and an is_current flag on the open interval — the table an
    * as-of join (q46/q57) probes to answer "what was this user's
    * state at time T". Gaps-and-islands shape: lag marks changes, a
    * running sum numbers the runs, one aggregation folds each run,
    * and lead closes each interval with the next one's start. Scale:
    * events shuffle ONCE on user_id (lag + running sum share the
    * same window spec, so one sort serves both), the run aggregation
    * re-uses that partitioning, and the closing lead runs on
    * run-count rows — never the raw log. */
  def scd2History(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val versioned = Tables.t(s, dir, "events")
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .withColumn("chg", // null-safe: IS DISTINCT FROM, like the oracle
        when(!(col("prev_type") <=> col("event_type")), 1L).otherwise(0L))
      .withColumn("version_nr", sum(col("chg")).over(byUser))
    val byVersion = Window.partitionBy(col("user_id")).orderBy(col("version_nr"))
    versioned
      .groupBy(col("user_id"), col("version_nr"))
      .agg(min(col("event_type")).as("tracked_type"), // constant within a run
        min(col("ts")).as("valid_from"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byVersion))
      .select(col("user_id"), col("version_nr"), col("tracked_type"),
        col("valid_from"), col("valid_to"), col("n_events"),
        col("valid_to").isNull.as("is_current"))
      .orderBy(col("user_id"), col("version_nr"))
  }

  private val scd2HistorySql =
    """WITH versioned AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
      |         CAST(sum(chg) OVER (PARTITION BY user_id
      |           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS BIGINT) AS version_nr
      |  FROM (SELECT *,
      |          CASE WHEN lag(event_type) OVER (PARTITION BY user_id
      |                 ORDER BY CAST(ts AS TIMESTAMP), event_id)
      |               IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      |        FROM events)),
      |runs AS (
      |  SELECT user_id, version_nr, min(event_type) AS tracked_type,
      |         min(ts) AS valid_from, count(1) AS n_events
      |  FROM versioned GROUP BY 1, 2)
      |SELECT user_id, version_nr, tracked_type, valid_from,
      |       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version_nr) AS valid_to,
      |       n_events,
      |       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version_nr) IS NULL AS is_current
      |FROM runs
      |ORDER BY user_id, version_nr""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q127_winsorized_stats" -> winsorizedStats,
    "q128_group_trend" -> groupTrend,
    "q129_market_basket" -> marketBasket,
    "q132_session_window" -> sessionWindows,
    "q133_unpivot_measures" -> meltMeasures,
    "q122_scd2_history" -> scd2History,
    "q104_hot_key_topk" -> hotKeyTopEvents,
    "q100_sliding_windows" -> slidingWindows,
    "q98_group_quantiles" -> groupQuantiles,
    "q97_event_transitions" -> eventTransitions,
    "q96_view_to_purchase" -> viewToPurchase,
    "q94_stickiness" -> stickiness,
    "q89_attribution" -> attribution,
    "q32_event_windows" -> eventWindows,
    "q33_sessionize" -> sessionize,
    "q44_json_extract" -> jsonExtract,
    "q45_rollup_sales" -> rollupSales,
    "q53_cube_orders" -> cubeOrders,
    "q135_grouping_sets" -> groupingSetsSales,
    "q46_asof_join" -> asofJoin,
    "q57_asof_native" -> asofJoinNative,
    "q64_range_join" -> rangeJoin,
    "q74_cohort_retention" -> cohortRetention,
    "q76_funnel" -> funnel)

  override def oracles: Map[String, String] = Map(
    "q127_winsorized_stats" -> winsorizedStatsSql,
    "q128_group_trend" -> groupTrendSql,
    "q129_market_basket" -> marketBasketSql,
    "q132_session_window" -> sessionWindowsSql,
    "q133_unpivot_measures" -> meltMeasuresSql,
    "q122_scd2_history" -> scd2HistorySql,
    "q104_hot_key_topk" -> hotKeyTopEventsSql,
    "q100_sliding_windows" -> slidingWindowsSql,
    "q98_group_quantiles" -> groupQuantilesSql,
    "q97_event_transitions" -> eventTransitionsSql,
    "q96_view_to_purchase" -> viewToPurchaseSql,
    "q94_stickiness" -> stickinessSql,
    "q89_attribution" -> attributionSql,
    "q32_event_windows" -> eventWindowsSql,
    "q33_sessionize" -> sessionizeSql,
    "q44_json_extract" -> jsonExtractSql,
    "q45_rollup_sales" -> rollupSalesSql,
    "q53_cube_orders" -> cubeOrdersSql,
    "q135_grouping_sets" -> groupingSetsSalesSql,
    "q46_asof_join" -> asofJoinSql,
    "q57_asof_native" -> asofJoinSql,
    "q64_range_join" -> rangeJoinSql,
    "q74_cohort_retention" -> cohortRetentionSql,
    "q76_funnel" -> funnelSql)
}
