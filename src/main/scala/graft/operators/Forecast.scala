package graft.operators

import graft.{QueryModule, Tables}
import graft.util.Parity._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

/** The reference's forecasting pipeline (forecasting.py) re-expressed
  * as one distributed job: series building (A9), gap-filling reindex
  * (W3), lag/rolling features (W1/W2), and two pure-SQL-expressible
  * models — linear trend (closed-form OLS from exact sums; stands in
  * for Prophet's trend component) and seasonal-naive (period 4).
  * Prophet/SARIMAX/LightGBM have no JVM port; SURVEY §7.4 documents
  * the substitution: same output interface (ds/yhat/bounds/entity),
  * and the reference's yhat*0.8/1.2 default-bounds rule
  * (forecasting.py:421-425).
  *
  * Scale: the reference re-queries Postgres per entity
  * (forecasting.py:256-258); here every entity's series is built in
  * ONE pass — entities are a groupBy key, not a task loop.
  */
object Forecast extends QueryModule {

  /** Session-lifetime cache of the gap-filled series — the stored
    * demand-series silver table a deployment would materialize once
    * and share across every forecasting consumer (q34/q35/q50).
    * Per-key memo (graft.util.Memo) so independent keys materialize
    * concurrently. */
  private val seriesCache = new graft.util.Memo[(SparkSession, String, String), DataFrame](_._1.sparkContext.isStopped)

  private[graft] def dailySeries(s: SparkSession, dir: String): DataFrame =
    seriesCache.getOrBuild((s, "daily", dir), {
      val d = buildDailySeries(s, dir).persist()
      d.count()
      d
    })

  /** Build the shared series artifacts eagerly (Bench prepare phase).
    * Both granularities — q36/q37/q55 consume the weekly series, and
    * rebuilding its groupBy + calendar join per query tripled its
    * cost in the bench — and every forecasting LEVEL (q70 consumes
    * the product/region weekly series; building them lazily inside
    * the first timed q70 run hid ~10 s of artifact construction from
    * the prep phase, against the bench's own "preps build, queries
    * consume" methodology). The four series are independent jobs, so
    * they materialize CONCURRENTLY — the scheduler interleaves their
    * stages across the same cores, hiding the shorter builds behind
    * the longest. */
  def prepareArtifacts(s: SparkSession, dir: String): Unit = {
    val builds: Seq[(String, () => Any)] = Seq(
      "daily-supplier" -> (() => dailySeries(s, dir)),
      "weekly-supplier" -> (() => weekly(s, dir)),
      "weekly-product" -> (() => weeklyAt(s, dir, "product")),
      "weekly-region" -> (() => weeklyAt(s, dir, "region")))
    // job-group each build from INSIDE its thread (setJobGroup is a
    // thread-local property): the four concurrent prep jobs get
    // attributable names in the Spark UI and are cancellable as a unit
    // via sparkContext.cancelJobGroup
    graft.util.Par.all(builds.map { case (name, b) => () =>
      s.sparkContext.setJobGroup(s"forecast-prep-$name",
        s"demand-series artifact build: $name", interruptOnCancel = true)
      try b() finally s.sparkContext.clearJobGroup()
    })
  }

  /** Bench prep-hash probe: the four stored series frames. */
  private[graft] def prepProbe(s: SparkSession, dir: String): Seq[DataFrame] =
    Seq(dailySeries(s, dir), weekly(s, dir),
      weeklyAt(s, dir, "product"), weeklyAt(s, dir, "region"))

  /** Daily demand per supplier with gap-filled calendar (W3):
    * lag + sequence-explode of each gap run (see gapFill). */
  private def buildDailySeries(s: SparkSession, dir: String): DataFrame =
    dailySeriesOver(Tables.t(s, dir, "lineitem"))

  /** Per-LEVEL entity frame — the reference's `fetch_series` level
    * mapping (forecasting.py:108-140) on the testdata star: its
    * product/warehouse/region levels land as product (l_partkey),
    * supplier (l_suppkey — the warehouse analog, the shipping entity),
    * and region (the supplier's region name via the supplier→nation→
    * region dims, as the reference joins silver.warehouses for its
    * region mapping — INNER, like its region branch).
    *
    * Scale: the dim chain is ~100 rows at any SF — broadcast, so the
    * region series costs one narrow map over the fact plus the same
    * groupBy every other level pays. Output: (entity, l_shipdate,
    * l_quantity) ready for the series builders' entity column. */
  private[graft] def levelFrame(level: String, tbl: String => DataFrame): DataFrame = level match {
    case "supplier" => tbl("lineitem")
      .select(col("l_suppkey").as("entity"), col("l_shipdate"), col("l_quantity"))
    case "product" => tbl("lineitem")
      .select(col("l_partkey").as("entity"), col("l_shipdate"), col("l_quantity"))
    case "region" =>
      val dims = broadcast(
        tbl("supplier").select(col("s_suppkey"), col("s_nationkey"))
          .join(tbl("nation").select(col("n_nationkey"), col("n_regionkey")),
            col("s_nationkey") === col("n_nationkey"))
          .join(tbl("region").select(col("r_regionkey"), col("r_name")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"), col("r_name")))
      tbl("lineitem").select(col("l_suppkey"), col("l_shipdate"), col("l_quantity"))
        .join(dims, col("l_suppkey") === col("s_suppkey"))
        .select(col("r_name").as("entity"), col("l_shipdate"), col("l_quantity"))
    case other => throw new IllegalArgumentException(
      s"no forecasting level '$other' — supported: supplier, product, region")
  }

  /** Weekly series at a forecasting level, memoized like the supplier
    * artifact (the supplier level IS the existing shared artifact). */
  private[graft] def weeklyAt(s: SparkSession, dir: String, level: String): DataFrame =
    if (level == "supplier") weekly(s, dir)
    else seriesCache.getOrBuild((s, s"weekly:$level", dir), {
      val w = weeklyOver(levelFrame(level, Tables.t(s, dir, _)), col("entity")).persist()
      w.count()
      w
    })

  /** Gap-fill an observed (entity, date, y) series to a dense
    * per-entity calendar: between consecutive observed dates, emit the
    * missing steps as y=0 via lag + sequence-explode. This is
    * join-free on purpose — the older calendar-LEFT-JOIN formulation
    * sort-merge-joined the EXPLODED calendar (dense rows ≫ observed
    * rows) against the observations, so the shuffle/sort was sized by
    * the output; here the one window shuffle is sized by the observed
    * rows and the dense rows are born in a narrow explode after it
    * (measured 9.7 s → ~2 s on the 20k-entity × 6.7M-row product-level
    * weekly build at sf0.1). Same result frame: every date in
    * [min, max] stepping `stepDays`, observed y where present, else
    * 0.0. */
  private def gapFill(observed: DataFrame, dateCol: String, stepDays: Int): DataFrame = {
    val byEntity = Window.partitionBy(col("entity")).orderBy(col(dateCol))
    observed
      .withColumn("prev_d", lag(col(dateCol), 1).over(byEntity))
      .select(col("entity"), col(dateCol).as("obs_d"), col("y").as("obs_y"),
        explode(when(col("prev_d").isNull, array(col(dateCol)))
          .otherwise(sequence(date_add(col("prev_d"), stepDays), col(dateCol),
            expr(s"interval $stepDays day")))).as(dateCol))
      .select(col("entity"), col(dateCol),
        when(col(dateCol) === col("obs_d"), col("obs_y")).otherwise(lit(0.0)).as("y"))
  }

  /** Series build over a caller-supplied lineitem frame — the seam
    * that lets the Pipeline derive forecasts from the WRITTEN
    * silver.lineitem instead of raw source (medallion lineage).
    * `entity` selects the forecasting level's key (default: the
    * supplier level). */
  private[graft] def dailySeriesOver(l: DataFrame,
      entity: org.apache.spark.sql.Column = col("l_suppkey")): DataFrame = {
    val daily = l.groupBy(entity.as("entity"),
        col("l_shipdate").cast(DateType).as("ds"))
      .agg(moneySum(col("l_quantity")).as("y"))
    gapFill(daily, "ds", 1)
  }

  private[operators] val dailySeriesSql =
    """WITH daily AS (
      |  SELECT l_suppkey AS entity, CAST(l_shipdate AS DATE) AS ds,
      |         CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS y
      |  FROM lineitem GROUP BY 1, 2),
      |spans AS (SELECT entity, min(ds) AS min_ds, max(ds) AS max_ds FROM daily GROUP BY 1),
      |calendar AS (
      |  SELECT entity, CAST(unnest(generate_series(min_ds, max_ds, INTERVAL 1 DAY)) AS DATE) AS ds
      |  FROM spans)
      |SELECT c.entity, c.ds, coalesce(d.y, 0.0) AS y
      |FROM calendar c LEFT JOIN daily d ON c.entity = d.entity AND c.ds = d.ds""".stripMargin

  /** q34 — W3 gap-filled series (aggregated checksum form so the
    * verify output stays compact at any SF: per entity, days, zero
    * days, total). */
  def gapfillSeries(s: SparkSession, dir: String): DataFrame =
    dailySeries(s, dir)
      .groupBy(col("entity"))
      .agg(count(lit(1)).as("n_days"),
        count(when(col("y") === 0.0, 1)).as("zero_days"),
        min(col("ds")).as("min_ds"), max(col("ds")).as("max_ds"),
        // integer-valued y: long sum == the oracle's decimal fold
        sum(col("y").cast(LongType)).cast(DoubleType).as("total_y"))
      .orderBy(col("entity"))

  private val gapfillSeriesSql =
    s"""WITH series AS ($dailySeriesSql)
       |SELECT entity, count(1) AS n_days,
       |       count(CASE WHEN y = 0.0 THEN 1 END) AS zero_days,
       |       min(ds) AS min_ds, max(ds) AS max_ds,
       |       CAST(sum(CAST(y AS DECIMAL(38,8))) AS DOUBLE) AS total_y
       |FROM series GROUP BY 1 ORDER BY entity""".stripMargin

  /** q35 — W1/W2 lag + trailing-window features per entity (the LGBM
    * feature builder, forecasting.py:244-322, as window functions).
    * Restricted to one quarter so the row-level output stays
    * verify-sized; the window spec is SF-independent. */
  def lagFeatures(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("entity")).orderBy(col("ds"))
    val w7 = w.rowsBetween(-6, 0)
    dailySeries(s, dir)
      .withColumn("lag_1", lag(col("y"), 1).over(w))
      .withColumn("lag_7", lag(col("y"), 7).over(w))
      .withColumn("lag_14", lag(col("y"), 14).over(w))
      // y is integer-valued (sum of integer quantities, 0-filled), so
      // the window sum is an exact LONG — same value as the oracle's
      // decimal-sum-to-double, without per-row BigDecimal in the
      // sliding frame (Spark re-evaluates bounded frames per row)
      .withColumn("rolling_7",
        (sum(col("y").cast(LongType)).over(w7).cast(DoubleType) / count(col("y")).over(w7)))
      .filter(col("ds") >= lit("1998-01-01").cast(DateType) &&
        col("ds") < lit("1998-04-01").cast(DateType))
      .orderBy(col("entity"), col("ds"))
  }

  private val lagFeaturesSql =
    s"""WITH series AS ($dailySeriesSql),
       |feat AS (
       |  SELECT entity, ds, y,
       |         lag(y, 1) OVER w AS lag_1,
       |         lag(y, 7) OVER w AS lag_7,
       |         lag(y, 14) OVER w AS lag_14,
       |         CAST(sum(CAST(y AS DECIMAL(38,8))) OVER (PARTITION BY entity ORDER BY ds
       |              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
       |           / count(y) OVER (PARTITION BY entity ORDER BY ds
       |              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS rolling_7
       |  FROM series
       |  WINDOW w AS (PARTITION BY entity ORDER BY ds))
       |SELECT * FROM feat
       |WHERE ds >= DATE '1998-01-01' AND ds < DATE '1998-04-01'
       |ORDER BY entity, ds""".stripMargin

  /** Weekly (ISO-Monday) series per entity, GAP-FILLED like the daily
    * series: every Monday between an entity's first and last observed
    * week appears, missing weeks as y=0. Without this, window ROW
    * offsets are not week offsets — lag_7 could reach back half a
    * year, seasonal replay pairs wrong weeks, and zero-demand weeks
    * silently vanish from every fit (92% of fixture entities have at
    * least one gap week). */
  private[operators] def weekly(s: SparkSession, dir: String): DataFrame =
    seriesCache.getOrBuild((s, "weekly", dir), {
      val w = buildWeekly(s, dir).persist()
      w.count()
      w
    })

  private def buildWeekly(s: SparkSession, dir: String): DataFrame =
    weeklyOver(Tables.t(s, dir, "lineitem"))

  /** Weekly twin of `dailySeriesOver`: the same caller-supplied
    * lineitem seam, ISO-Monday steps. */
  private[graft] def weeklyOver(l: DataFrame,
      entity: org.apache.spark.sql.Column = col("l_suppkey")): DataFrame = {
    val observed = l
      .groupBy(entity.as("entity"),
        date_trunc("week", col("l_shipdate")).cast(DateType).as("week"))
      .agg(moneySum(col("l_quantity")).as("y"))
    gapFill(observed, "week", 7)
  }

  /** Oracle-side twin of `levelFrame`: (entity expression, FROM
    * clause) per level. */
  private[operators] def levelSql(level: String): (String, String) = level match {
    case "supplier" => ("l_suppkey", "lineitem")
    case "product" => ("l_partkey", "lineitem")
    case "region" => ("r_name",
      "lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey")
  }

  // self-contained (nested WITH) so call sites can wrap it as a CTE body
  private[operators] def weeklySqlAt(entityExpr: String, fromClause: String): String =
    s"""WITH wobs AS (
      |  SELECT $entityExpr AS entity, CAST(date_trunc('week', l_shipdate) AS DATE) AS week,
      |         CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS y
      |  FROM $fromClause GROUP BY 1, 2),
      |wspans AS (SELECT entity, min(week) AS min_w, max(week) AS max_w FROM wobs GROUP BY 1),
      |wcal AS (
      |  SELECT entity, CAST(unnest(generate_series(min_w, max_w, INTERVAL 7 DAY)) AS DATE) AS week
      |  FROM wspans)
      |SELECT c.entity, c.week, coalesce(o.y, 0.0) AS y
      |FROM wcal c LEFT JOIN wobs o ON c.entity = o.entity AND c.week = o.week""".stripMargin

  private[operators] val weeklySql = weeklySqlAt("l_suppkey", "lineitem")

  /** q36 — linear-trend forecast: per-entity closed-form OLS over
    * (day-index, y) from exact sums, projected 4 weeks ahead, with
    * the reference's 0.8/1.2 default bounds. */
  def forecastLinear(s: SparkSession, dir: String): DataFrame =
    forecastLinearOver(weekly(s, dir))

  /** Shared closed-form OLS trend fit over a (entity, week, y) series:
    * (entity, last_week, slope, intercept). ONE definition of the
    * parity-critical fit arithmetic — the linear model and the
    * seasonal_trend decomposition both consume it (the long-sum
    * optimization previously had to be applied to two hand-kept
    * copies; a divergence here would make q36 and q81 fit different
    * models with no test catching it).
    * y and x·y are exact integers: LONG sums produce the SAME integer
    * a DECIMAL(38,2) fold does, converted to double identically — but
    * run as codegen'd long adds instead of the interpreted Decimal128
    * path (the global_ar fit's measured 12×; the oracle keeps its
    * decimal spelling, value-identical). */
  private[operators] def olsFit(weeklySeries: DataFrame, minLen: Int): DataFrame = {
    val wk = weeklySeries
      .withColumn("x", datediff(col("week"), lit("1995-01-02").cast(DateType)).cast(LongType))
    val fitAll = wk.groupBy(col("entity")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"),
      sum(col("y").cast(LongType)).cast(DoubleType).as("sy"),
      sum((col("x") * col("x"))).as("sxx"),
      sum(col("x") * col("y").cast(LongType)).cast(DoubleType).as("sxy"),
      max(col("week")).as("last_week"))
    val fit = if (minLen > 0) fitAll.filter(col("n") >= minLen) else fitAll
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)
    fit.withColumn("slope", slope)
      .withColumn("intercept",
        (col("sy") - col("slope") * col("sx").cast(DoubleType)) / col("n"))
      .select(col("entity"), col("last_week"), col("slope"), col("intercept"))
  }

  /** SQL twin of olsFit: the shared wk/xy/fit/params CTE chain both
    * model oracles open with. */
  private def olsCtesSql(wkSql: String, minLen: Int): String =
    s"""wk AS ($wkSql),
       |xy AS (SELECT entity, week, y,
       |              CAST(date_diff('day', DATE '1995-01-02', week) AS BIGINT) AS x FROM wk),
       |fit AS (
       |  SELECT entity, count(1) AS n, sum(x) AS sx,
       |         CAST(sum(CAST(y AS DECIMAL(38,2))) AS DOUBLE) AS sy,
       |         sum(x * x) AS sxx,
       |         CAST(sum(CAST(CAST(x AS DOUBLE) * y AS DECIMAL(38,2))) AS DOUBLE) AS sxy,
       |         max(week) AS last_week
       |  FROM xy GROUP BY 1${if (minLen > 0) s" HAVING count(1) >= $minLen" else ""}),
       |params AS (
       |  SELECT entity, last_week,
       |         (n * sxy - sx * sy) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
       |         (sy - ((n * sxy - sx * sy) / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) / n AS intercept
       |  FROM fit)""".stripMargin

  /** `minLen` drops entities with fewer than that many series points
    * before fitting — the reference's MIN_SERIES_LEN=14 gate
    * (forecasting.py:58,172). 0 = no gate (the supplier-level q36
    * surface, where every series is long). The gate also keeps the
    * slope denominator n·sxx−sx² nonzero: a 1-point series would
    * divide 0/0, and double-division-by-zero semantics (NaN vs NULL)
    * are exactly the kind of cross-engine edge the oracles must not
    * depend on.
    *
    * `stepDays`/`horizon` select the granularity: weekly steps of 7
    * days × 4 steps (the q36 surface), or daily steps × 90 — the
    * reference's DEFAULT_HORIZON_DAYS (forecasting.py:56,439: 90 days
    * daily, 12 weeks weekly; the weekly-4 horizon predates this knob
    * and is oracle-pinned). The input frame's date column is named
    * `week` whatever the granularity (daily callers rename `ds`). */
  private[operators] def forecastLinearOver(weeklySeries: DataFrame,
      minLen: Int = 0, stepDays: Int = 7, horizon: Int = 4): DataFrame =
    forecastLinearFromFit(olsFit(weeklySeries, minLen), stepDays, horizon)

  /** Linear forecast from an already-computed `olsFit` frame — the
    * seam that lets the backtest fit each group's params ONCE and
    * serve both the linear and seasonal_trend refits from it (the fit
    * groupBy is a full-series pass; computing it twice per group was
    * a measured ~1.3 s/group at sf0.1). Same arithmetic as the
    * inline path by construction: the public entry point delegates
    * here. */
  private[operators] def forecastLinearFromFit(fit: DataFrame,
      stepDays: Int = 7, horizon: Int = 4): DataFrame = {
    val horizons = explode(sequence(lit(1), lit(horizon))).as("h")
    fit
      .select(col("entity"), col("last_week"), col("slope"), col("intercept"), horizons)
      .withColumn("ds", expr(s"date_add(last_week, $stepDays * h)"))
      .withColumn("x_future",
        datediff(col("ds"), lit("1995-01-02").cast(DateType)).cast(DoubleType))
      .select(
        col("entity"), col("ds"),
        snapRound(col("intercept") + col("slope") * col("x_future"), 4).as("yhat"),
        snapRound((col("intercept") + col("slope") * col("x_future")) * lit(0.8), 4).as("yhat_lower"),
        snapRound((col("intercept") + col("slope") * col("x_future")) * lit(1.2), 4).as("yhat_upper"))
      .orderBy(col("entity"), col("ds"))
  }

  private[operators] def forecastLinearSqlOver(wkSql: String, minLen: Int = 0,
      stepDays: Int = 7, horizon: Int = 4): String =
    s"""WITH ${olsCtesSql(wkSql, minLen)},
       |fc AS (
       |  SELECT entity, last_week, slope, intercept, unnest(generate_series(1, $horizon)) AS h
       |  FROM params)
       |SELECT entity, last_week + CAST($stepDays * h AS INTEGER) AS ds,
       |       ${snapRoundSql(s"intercept + slope * CAST(date_diff('day', DATE '1995-01-02', last_week + CAST($stepDays * h AS INTEGER)) AS DOUBLE)", 4)} AS yhat,
       |       ${snapRoundSql(s"(intercept + slope * CAST(date_diff('day', DATE '1995-01-02', last_week + CAST($stepDays * h AS INTEGER)) AS DOUBLE)) * 0.8", 4)} AS yhat_lower,
       |       ${snapRoundSql(s"(intercept + slope * CAST(date_diff('day', DATE '1995-01-02', last_week + CAST($stepDays * h AS INTEGER)) AS DOUBLE)) * 1.2", 4)} AS yhat_upper
       |FROM fc
       |ORDER BY entity, ds""".stripMargin

  private[operators] val forecastLinearSql = forecastLinearSqlOver(weeklySql)

  /** q37 — seasonal-naive (period 4): yhat(T+h) = y(T+h-4), i.e. the
    * 4 newest observed weeks replay as the 4 forecast weeks. */
  def forecastSeasonalNaive(s: SparkSession, dir: String): DataFrame =
    forecastSeasonalNaiveOver(weekly(s, dir))

  /** `stepDays`/`period` select the granularity: weekly replays the
    * 4 newest weeks (q37), daily replays the 7 newest days — the
    * reference's daily seasonal period (its SARIMAX uses s=7 daily,
    * s=52 weekly, forecasting.py:196; a naive seasonal replay is one
    * period long by construction). */
  private[operators] def forecastSeasonalNaiveOver(weeklySeries: DataFrame,
      minLen: Int = 0, stepDays: Int = 7, period: Int = 4): DataFrame = {
    val wk = weeklySeries
    val lastAll = wk.groupBy(col("entity"))
      .agg(max(col("week")).as("last_week"), count(lit(1)).as("n_weeks"))
    // MIN_SERIES_LEN gate, as in forecastLinearOver (inner join drops
    // the short entities)
    val last = (if (minLen > 0) lastAll.filter(col("n_weeks") >= minLen) else lastAll)
      .select(col("entity"), col("last_week"))
    forecastSeasonalNaiveFromGate(wk, last, stepDays, period)
  }

  /** Seasonal-naive replay from a precomputed (entity, last_week)
    * gate frame — the backtest's shared-fit seam: `olsFit`'s output
    * carries exactly the gated entities and their last_week (same
    * count >= minLen filter), so the group's params frame serves this
    * model too and the per-model gate groupBy (a full-series pass)
    * disappears. Public path delegates with its own inline gate. */
  private[operators] def forecastSeasonalNaiveFromGate(wk: DataFrame,
      last: DataFrame, stepDays: Int = 7, period: Int = 4): DataFrame = {
    val w = Window.partitionBy(col("entity")).orderBy(col("week").desc)
    // tail prefilter (same dense-series argument as GlobalAR's
    // history pass): the replayed newest `period` ROWS are the rows
    // within period−1 steps of last_week, so the ranking window sorts
    // ≤period rows per entity instead of the whole series; the
    // broadcast gate join moves ahead of the window for free
    wk.join(broadcast(last), "entity")
      .filter(col("week") >= date_sub(col("last_week"), (period - 1) * stepDays))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= period)
      .select(col("entity"),
        expr(s"date_add(last_week, $stepDays * (${period + 1} - rn))").as("ds"),
        col("y").as("yhat"),
        snapRound(col("y") * lit(0.8), 4).as("yhat_lower"),
        snapRound(col("y") * lit(1.2), 4).as("yhat_upper"))
      .orderBy(col("entity"), col("ds"))
  }

  private[operators] def forecastSeasonalNaiveSqlOver(wkSql: String,
      minLen: Int = 0, stepDays: Int = 7, period: Int = 4): String = {
    val gate = if (minLen > 0) s" AND n_pts >= $minLen" else ""
    val nCol = if (minLen > 0) ",\n       |         count(1) OVER (PARTITION BY entity) AS n_pts" else ""
    s"""WITH wk AS ($wkSql),
       |ranked AS (
       |  SELECT entity, week, y,
       |         row_number() OVER (PARTITION BY entity ORDER BY week DESC) AS rn,
       |         max(week) OVER (PARTITION BY entity) AS last_week$nCol
       |  FROM wk)
       |SELECT entity, last_week + CAST($stepDays * (${period + 1} - rn) AS INTEGER) AS ds, y AS yhat,
       |       ${snapRoundSql("y * 0.8", 4)} AS yhat_lower,
       |       ${snapRoundSql("y * 1.2", 4)} AS yhat_upper
       |FROM ranked WHERE rn <= $period$gate
       |ORDER BY entity, ds""".stripMargin
  }

  private[operators] val forecastSeasonalNaiveSql = forecastSeasonalNaiveSqlOver(weeklySql)

  /** q81 — seasonal-trend forecast: the closest closed-form JVM
    * analogue of the reference's Prophet model family
    * (forecasting.py:168-189 — Prophet is additive trend +
    * seasonality), and the missing middle between the pure trend
    * (q36) and the pure replay (q37): classical additive
    * decomposition. Per entity: (1) the exact-sums OLS trend (same
    * fit as q36); (2) seasonal indices = mean DETRENDED residual per
    * seasonal position (position = steps-since-anchor mod period:
    * 52 weekly, 7 daily); (3) yhat(t) = trend(t) + s(pos(t)), with
    * the reference's 0.8/1.2 default bounds.
    *
    * Parity: slope/intercept come from exact decimal sums (identical
    * doubles both engines), so each residual is one identical IEEE
    * expression — snapped at 6 dp, folded through DECIMAL(38,10)
    * (order-independent), mean snapped again. pmod handles pre-anchor
    * weeks (negative x) identically to the oracle's
    * ((x % p) + p) % p.
    *
    * Scale: one groupBy fit + one residual pass + one
    * (entity × period) aggregation, all keyed on entity; the
    * forecast join is derived-vs-derived (entity × horizon vs
    * entity × period). */
  def forecastSeasonalTrend(s: SparkSession, dir: String): DataFrame =
    forecastSeasonalTrendOver(weekly(s, dir))

  private[operators] def forecastSeasonalTrendOver(weeklySeries: DataFrame,
      minLen: Int = 0, stepDays: Int = 7, horizon: Int = 4,
      period: Int = 52): DataFrame =
    forecastSeasonalTrendFromFit(weeklySeries, olsFit(weeklySeries, minLen),
      stepDays, horizon, period)

  /** Seasonal-trend forecast from an already-computed `olsFit` frame
    * (the backtest's shared-fit seam; the public path delegates, so
    * the decomposition arithmetic has ONE definition). The params
    * join is explicitly broadcast: params is entity-count-sized (one
    * row per fitted series — the per-entity model-parameter frame
    * every classical-decomposition implementation broadcasts), while
    * the series side is the big one; without the hint Catalyst's
    * size estimate for the aggregate-derived frame exceeds the
    * auto-broadcast threshold and the resid pass sort-merge-joins
    * the FULL series (measured: the product-level refit's 4.5 s vs
    * ~1.5 s at sf0.1). */
  private[operators] def forecastSeasonalTrendFromFit(weeklySeries: DataFrame,
      params: DataFrame, stepDays: Int = 7, horizon: Int = 4,
      period: Int = 52): DataFrame = {
    val wk = weeklySeries
      .withColumn("x", datediff(col("week"), lit("1995-01-02").cast(DateType)).cast(LongType))
    def posOf(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      pmod((x.cast(DoubleType) / lit(stepDays)).cast(LongType), lit(period.toLong))
    val future = params
      .select(col("entity"), col("last_week"), col("slope"), col("intercept"),
        explode(sequence(lit(1), lit(horizon))).as("h"))
      .withColumn("ds", expr(s"date_add(last_week, $stepDays * h)"))
      .withColumn("x_future",
        datediff(col("ds"), lit("1995-01-02").cast(DateType)).cast(LongType))
      .withColumn("pos", posOf(col("x_future")))
    // prune the seasonal aggregation to the (entity, pos) pairs the
    // forecast actually probes — horizon of period positions per
    // entity (weekly: 4 of 52, an ~13× cut of the agg's input). The
    // dropped groups could only have produced seasonal rows no future
    // row joins (the left join's coalesce treats them as absent either
    // way), so the output is row-identical to the unpruned form. The
    // probe-key set is entity-count × horizon — broadcast.
    val futKeys = future.select(col("entity"), col("pos")).distinct()
    // the semi join runs BELOW the residual projection: pos is cheap
    // (one pmod) while r pays a per-row decimal snap (snapRound), so
    // filtering to the probed (entity, pos) pairs first means the snap
    // runs on the ~horizon/period surviving fraction (weekly: 4/52)
    // instead of every series row. Row-identical: r is computed from
    // the same columns on exactly the rows the old plan aggregated.
    val resid0 = wk.join(broadcast(params.select(col("entity"), col("slope"), col("intercept"))), "entity")
      .select(col("entity"), posOf(col("x")).as("pos"), col("y"), col("x"),
        col("slope"), col("intercept"))
    // horizon >= period makes the probe cover EVERY seasonal position
    // of every fitted entity (the h=1..horizon steps are consecutive,
    // so their positions mod period are all of them, and resid0 is
    // already inner-joined to params' entities) — the semi join is a
    // no-op there; skip its broadcast (daily groups: period 7,
    // horizons 7 and 90)
    val resid1 = if (horizon >= period) resid0
      else resid0.join(broadcast(futKeys), Seq("entity", "pos"), "left_semi")
    val resid = resid1
      .select(col("entity"), col("pos"),
        snapRound(col("y") - (col("intercept") + col("slope") * col("x").cast(DoubleType)), 6).as("r"))
    val seasonal = resid.groupBy(col("entity"), col("pos"))
      .agg(snapRound(
        sum(col("r").cast(DecimalType(38, 10))).cast(DoubleType) / count(lit(1)), 6).as("s"))
    val base = col("intercept") + col("slope") * col("x_future").cast(DoubleType) +
      coalesce(col("s"), lit(0.0))
    // seasonal is now ≤ entity-count × horizon rows — broadcast the
    // probe join too; no shuffle anywhere downstream of the resid pass
    future.join(broadcast(seasonal), Seq("entity", "pos"), "left")
      .select(col("entity"), col("ds"),
        snapRound(base, 4).as("yhat"),
        snapRound(base * lit(0.8), 4).as("yhat_lower"),
        snapRound(base * lit(1.2), 4).as("yhat_upper"))
      .orderBy(col("entity"), col("ds"))
  }

  private[operators] def forecastSeasonalTrendSqlOver(wkSql: String, minLen: Int = 0,
      stepDays: Int = 7, horizon: Int = 4, period: Int = 52): String = {
    def posSql(x: String) =
      s"((CAST(CAST($x AS DOUBLE) / $stepDays AS BIGINT) % $period) + $period) % $period"
    s"""WITH ${olsCtesSql(wkSql, minLen)},
       |resid AS (
       |  SELECT xy.entity, ${posSql("xy.x")} AS pos,
       |         ${snapRoundSql("xy.y - (p.intercept + p.slope * CAST(xy.x AS DOUBLE))", 6)} AS r
       |  FROM xy JOIN params p ON xy.entity = p.entity),
       |seasonal AS (
       |  SELECT entity, pos,
       |         ${snapRoundSql("CAST(sum(CAST(r AS DECIMAL(38,10))) AS DOUBLE) / count(1)", 6)} AS s
       |  FROM resid GROUP BY 1, 2),
       |future AS (
       |  SELECT entity, last_week, slope, intercept, unnest(generate_series(1, $horizon)) AS h
       |  FROM params),
       |fc AS (
       |  SELECT entity, last_week + CAST($stepDays * h AS INTEGER) AS ds, slope, intercept,
       |         CAST(date_diff('day', DATE '1995-01-02', last_week + CAST($stepDays * h AS INTEGER)) AS BIGINT) AS xf
       |  FROM future)
       |SELECT fc.entity AS entity, fc.ds AS ds,
       |       ${snapRoundSql("fc.intercept + fc.slope * CAST(fc.xf AS DOUBLE) + coalesce(sn.s, 0.0)", 4)} AS yhat,
       |       ${snapRoundSql("(fc.intercept + fc.slope * CAST(fc.xf AS DOUBLE) + coalesce(sn.s, 0.0)) * 0.8", 4)} AS yhat_lower,
       |       ${snapRoundSql("(fc.intercept + fc.slope * CAST(fc.xf AS DOUBLE) + coalesce(sn.s, 0.0)) * 1.2", 4)} AS yhat_upper
       |FROM fc LEFT JOIN seasonal sn
       |  ON fc.entity = sn.entity AND ${posSql("fc.xf")} = sn.pos
       |ORDER BY fc.entity, fc.ds""".stripMargin
  }

  private[operators] val forecastSeasonalTrendSql = forecastSeasonalTrendSqlOver(weeklySql)

  // ---- q85: demand anomaly detection -------------------------------

  /** Spike/drop thresholds. Both directions need an `AnomalyRatio`×
    * move against the trailing-28-day mean; each direction then has
    * its own floor so near-zero sparse series don't flag noise —
    * a spike must MOVE at least `SpikeMinLift` units (the baseline
    * may legitimately be ~0), a drop must fall from a baseline of at
    * least `DropMinBase` (a quiet day in an already-quiet series is
    * not an anomaly). */
  private[graft] val AnomalyRatio = 3.0
  private[graft] val SpikeMinLift = 50.0
  private[graft] val DropMinBase = 20.0
  private[graft] val AnomalyWindow = 28
  private[graft] val AnomalyMinTrailing = 14

  /** q85 — demand anomalies over the stored daily series: each day
    * compared to its own trailing 28-day mean (at least 14 prior days
    * required), flagged as a spike (≥3× and +50 over the mean) or a
    * drop (≤1/3× of a ≥20 baseline). The operational twin of the
    * forecasting stack — the same series artifact, read for monitoring
    * instead of prediction.
    *
    * Parity: y is an integer-valued series (daily sums of integer
    * quantities — the same fact GlobalAR's sInt sums exploit), so the
    * sliding window sums LONGs — exact, order-independent, and ~30×
    * cheaper than a per-row BigDecimal fold over the 28-row frame;
    * the oracle folds the same values through DECIMAL(18,2), equal on
    * integral inputs. Then one snapped division; the threshold
    * comparisons are single IEEE ops on snapped values.
    *
    * Scale: one window over the per-entity daily series — partition-
    * local after the series' own shuffle, state bounded by the 28-row
    * frame; no new exchange. */
  def demandAnomalies(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("entity")).orderBy(col("ds")).rowsBetween(-AnomalyWindow, -1)
    val base = dailySeries(s, dir).select(col("entity"), col("ds"), col("y"),
      count(lit(1)).over(w).as("n_trailing"),
      snapRound(sum(col("y").cast(LongType)).over(w).cast(DoubleType) /
        count(lit(1)).over(w), 4).as("trailing_mean"))
    val spike = col("y") >= col("trailing_mean") * AnomalyRatio &&
      col("y") - col("trailing_mean") >= SpikeMinLift
    val drop = col("y") <= col("trailing_mean") / AnomalyRatio &&
      col("trailing_mean") >= DropMinBase
    base.filter(col("n_trailing") >= AnomalyMinTrailing && (spike || drop))
      .select(col("entity"), col("ds"), col("y"), col("trailing_mean"),
        snapRound(col("y") - col("trailing_mean"), 4).as("lift"),
        when(spike, lit("spike")).otherwise(lit("drop")).as("direction"))
      .orderBy(col("entity"), col("ds"))
  }

  private val demandAnomaliesSql = {
    val spike = s"(y >= trailing_mean * $AnomalyRatio AND y - trailing_mean >= $SpikeMinLift)"
    val drop = s"(y <= trailing_mean / $AnomalyRatio AND trailing_mean >= $DropMinBase)"
    s"""WITH series AS ($dailySeriesSql),
       |t AS (
       |  SELECT entity, ds, y,
       |         count(1) OVER w AS n_trailing,
       |         ${snapRoundSql("CAST(sum(CAST(y AS DECIMAL(18,2))) OVER w AS DOUBLE) / count(1) OVER w", 4)} AS trailing_mean
       |  FROM series
       |  WINDOW w AS (PARTITION BY entity ORDER BY ds ROWS BETWEEN $AnomalyWindow PRECEDING AND 1 PRECEDING))
       |SELECT entity, ds, y, trailing_mean,
       |       ${snapRoundSql("y - trailing_mean", 4)} AS lift,
       |       CASE WHEN $spike THEN 'spike' ELSE 'drop' END AS direction
       |FROM t
       |WHERE n_trailing >= $AnomalyMinTrailing AND ($spike OR $drop)
       |ORDER BY entity, ds""".stripMargin
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q34_gapfill_series" -> gapfillSeries,
    "q35_lag_features" -> lagFeatures,
    "q36_forecast_linear" -> forecastLinear,
    "q37_forecast_seasonal_naive" -> forecastSeasonalNaive,
    "q81_forecast_seasonal_trend" -> forecastSeasonalTrend,
    "q85_demand_anomalies" -> demandAnomalies)

  override def oracles: Map[String, String] = Map(
    "q34_gapfill_series" -> gapfillSeriesSql,
    "q35_lag_features" -> lagFeaturesSql,
    "q36_forecast_linear" -> forecastLinearSql,
    "q37_forecast_seasonal_naive" -> forecastSeasonalNaiveSql,
    "q81_forecast_seasonal_trend" -> forecastSeasonalTrendSql,
    "q85_demand_anomalies" -> demandAnomaliesSql)
}
