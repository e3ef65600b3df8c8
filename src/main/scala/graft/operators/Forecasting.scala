package graft.operators

import graft.QueryModule
import graft.util.Par
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The forecasting model family behind the reference's
  * `run_forecasting_pipeline` (forecasting.py:168-211,434-449), which
  * selects ONE model per run by name and emits every model's rows
  * through the single `gold.forecasts` interface (ds / yhat /
  * yhat_lower / yhat_upper / granularity / model / level / entity_id,
  * forecasting.py:67-81; run_id is stamped by the caller's run-scoped
  * overwrite, as in Pipeline.runGold).
  *
  * One builder, two scopes: `groupParts` is the only way a forecast
  * group — one (granularity, level) series, its shared OLS fit and
  * each requested model's rows — is built.
  *  - The Pipeline (`runOverLevels`, gold.forecasts) runs ONE model at
  *    EVERY level, gated at `minSeriesLen`, over series derived from
  *    the written silver tables.
  *  - The query surface (`fullDispatch`, q66/q71/q90/q103) runs EVERY
  *    model: weekly at every level with the supplier level ungated
  *    (the q36/q37/q55 surface), plus daily at the supplier level.
  *
  * Model substitutions are those documented in SURVEY §7.4 (no JVM
  * Prophet/SARIMAX/LightGBM): "linear" is the closed-form OLS trend,
  * "seasonal_naive" the one-period replay, "seasonal_trend" the
  * additive trend + seasonality decomposition, "global_ar" the pooled
  * 5-feature autoregressive model — each oracle-verified on its own
  * (q36/q37/q81/q50/q55); q66 verifies the dispatch: all models
  * conformed to the one output interface, model column included.
  *
  * Which model should a caller pick? The reference claims "85%+
  * forecast accuracy" (README:364) but computes no accuracy anywhere;
  * here the held-out backtest (Backtest / q79, gold.forecast_metrics)
  * measures it, the q83 leaderboard ranks it live, and the q82
  * champion table (gold.model_selection) answers per series. At
  * sf0.01, mean per-entity sMAPE (0–200 scale):
  * dense aggregated series (region level, weekly) — global_ar 13.9,
  * linear 16.1, seasonal_trend 16.9, seasonal_naive 21.6;
  * mid-density (supplier weekly) — global_ar 79.9, linear 80.4,
  * seasonal_trend 87.5, seasonal_naive 113.5; sparse mostly-zero
  * series (product weekly / supplier daily) — seasonal_naive wins
  * (70.7 / 83.0) because it forecasts 0 for zero-demand periods
  * where any trend-based model pays the full 200 sMAPE saturation.
  * Rule of thumb the numbers support: pooled AR for dense series,
  * seasonal replay for sparse ones; seasonal_trend (the Prophet-
  * family trend+seasonality analogue, q81) tracks linear closely on
  * this synthetic data because the fixtures carry little true
  * seasonality — the backtest MEASURES that instead of assuming it.
  */
object Forecasting extends QueryModule {

  /** The models, in the backtest's order. Every model runs at both
    * granularities, like the reference (prophet/sarimax run
    * per-granularity with daily=90 days / weekly horizons,
    * forecasting.py:177,434-449). */
  val models: Seq[String] = Seq("linear", "seasonal_naive", "seasonal_trend", "global_ar")

  /** Per-granularity knobs: the series' date column, the step between
    * points, the forecast horizon of the trend models (weekly 4 — the
    * oracle-pinned q36 surface; daily 90 — the reference's
    * DEFAULT_HORIZON_DAYS, forecasting.py:56,439), the seasonal-naive
    * replay period and the seasonal_trend position period (the
    * reference's SARIMAX s=7 daily, s=52 weekly, forecasting.py:196). */
  private[operators] case class Knobs(dateCol: String, stepDays: Int, horizon: Int,
      naivePeriod: Int, seasonPeriod: Int)

  private[operators] val knobs: Map[String, Knobs] = Map(
    "weekly" -> Knobs("week", 7, 4, 4, 52),
    "daily" -> Knobs("ds", 1, 90, 7, 7))

  /** The granularity a model runs at when the caller doesn't choose:
    * global_ar's native horizon is daily, the other models' is weekly.
    * Shared by every entry point (CLI and programmatic). */
  def defaultGranularity(model: String): String =
    if (model == "global_ar") "daily" else "weekly"

  /** The forecasting levels — the reference iterates its
    * product/warehouse/region levels per run (`run_parallel_forecasts`
    * and the LGBM panel both loop `for level in levels`,
    * forecasting.py:108-118,265); see Forecast.levelFrame for how they
    * map onto the testdata star. */
  val levels: Seq[String] = Seq("supplier", "product", "region")

  /** The reference's MIN_SERIES_LEN=14 gate (forecasting.py:58,172):
    * series shorter than this are skipped by every per-entity model. */
  val minSeriesLen: Int = 14

  /** Reject an unknown model or granularity before anything is built
    * or written, naming the supported values. */
  def requireSupported(models: Seq[String], granularity: String): Unit =
    if (!knobs.contains(granularity) || !models.forall(this.models.contains))
      throw new IllegalArgumentException(
        s"no forecasting model ${models.mkString("'", "', '", "'")} at granularity " +
          s"'$granularity' — supported models: ${this.models.mkString(", ")}; " +
          s"granularities: ${knobs.keys.toSeq.sorted.mkString(", ")}")

  /** Conform a bare (entity, ds, yhat, bounds) frame to the reference
    * forecasts interface. */
  private def conform(df: DataFrame, model: String, granularity: String,
      level: String): DataFrame =
    df.select(
      col("entity").cast(StringType).as("entity_id"),
      col("ds"), col("yhat"), col("yhat_lower"), col("yhat_upper"),
      lit(granularity).as("granularity"),
      lit(model).as("model"),
      lit(level).as("level"))

  /** THE per-entity model: (entity, ds, yhat, yhat_lower, yhat_upper)
    * from a (entity, week, y) series and its `Forecast.olsFit` frame.
    * linear consumes the fit directly, seasonal_trend skips its own fit
    * pass, seasonal_naive reuses the fit's (entity, last_week) as its
    * gate (olsFit applies the identical count >= minLen filter). The
    * FromFit/FromGate seams are what the public models delegate to, so
    * the arithmetic has one definition. The backtest passes its holdout
    * as `horizon`; the replay always emits one naive period. */
  private[operators] def entityForecast(model: String, series: DataFrame, fit: DataFrame,
      granularity: String, horizon: Int): DataFrame = {
    val k = knobs(granularity)
    model match {
      case "linear" => Forecast.forecastLinearFromFit(fit, k.stepDays, horizon)
      case "seasonal_naive" =>
        Forecast.forecastSeasonalNaiveFromGate(series,
          fit.select(col("entity"), col("last_week")), k.stepDays, k.naivePeriod)
      case "seasonal_trend" =>
        Forecast.forecastSeasonalTrendFromFit(series, fit, k.stepDays, horizon, k.seasonPeriod)
    }
  }

  /** THE forecast group builder, shared by the query surface and the
    * Pipeline: one dense (entity, date, y) series at one (granularity,
    * level), and each requested model's forecasts in the one forecasts
    * interface. Returns one part per model, each pinned through
    * `materialize`.
    *
    * The per-entity models drop series shorter than `minLen` and
    * consume ONE shared OLS fit, pinned through `materialize` before
    * any branch launches (lazily persisted frames shared by concurrent
    * jobs race on cache-fill block locks — the Backtest.groupParts
    * rule); a model subset without a per-entity model skips the fit.
    * The branches then build AND materialize concurrently: a branch's
    * output is tiny (entities × horizon), so the overlap keeps every
    * core busy instead of leaving the parallelism to one union job's
    * stage scheduler. The pooled global_ar branch is separate — the
    * recorded r9 lesson: fusing AR fits couples their driver-side
    * solves and loses, not wins. The caller releases every pin. */
  private[operators] def groupParts(series: DataFrame, granularity: String, level: String,
      minLen: Int, models: Seq[String], materialize: DataFrame => DataFrame): Seq[DataFrame] = {
    val k = knobs(granularity)
    val wk = series.select(col("entity"), col(k.dateCol).as("week"), col("y"))
    val fit = Option.when(models.exists(_ != "global_ar"))(materialize(Forecast.olsFit(wk, minLen)))
    Par.all(models.map(m => () => materialize(
      if (m == "global_ar")
        GlobalAR.globalArCore(series.select(col("entity"), col(k.dateCol).as("ds"), col("y")),
          k.stepDays, granularity, level)
      else conform(entityForecast(m, wk, fit.get, granularity, k.horizon), m, granularity, level))))
  }

  /** The reference's per-run level loop (`run_parallel_forecasts`
    * iterates product/warehouse/region and pools every level's rows
    * into the one gold.forecasts write, forecasting.py:339-352): the
    * chosen model over EVERY level's series, level column varying,
    * the levels built concurrently. `resolve` maps table name -> frame
    * so the Pipeline can hand in the WRITTEN silver tables (the region
    * level needs the dims); `materialize` pins each level's series,
    * fit and forecasts, and is therefore called from concurrent
    * threads.
    *
    * Per-entity models apply the reference's MIN_SERIES_LEN gate —
    * at the product level most entities have short, sparse series and
    * an ungated linear fit on a 1-point series is 0/0. Documented
    * deviation for global_ar: the pooled model trains per LEVEL (three
    * small fits) rather than the reference LGBM's single all-level
    * panel — a level's scale is homogeneous (region sums are ~1000×
    * product sums), so per-level pooling is the better-conditioned
    * model and keeps the supplier-level oracle semantics (q50/q55)
    * unchanged. */
  def runOverLevels(resolve: String => DataFrame, model: String, granularity: String,
      materialize: DataFrame => DataFrame = identity,
      atLevels: Seq[String] = levels): DataFrame = {
    requireSupported(Seq(model), granularity)
    Par.all(atLevels.map { lv => () =>
      val frame = Forecast.levelFrame(lv, resolve)
      val series =
        if (granularity == "daily") Forecast.dailySeriesOver(frame, col("entity"))
        else Forecast.weeklyOver(frame, col("entity"))
      groupParts(materialize(series), granularity, lv, minSeriesLen, Seq(model), materialize)
    }).flatten.reduce(_ unionByName _)
      // one partition per level (no shuffle: coalesce reads the pins
      // locally). A pinned part keeps its cached plan's full
      // shuffle.partitions split — AQE does not coalesce a cached
      // plan's output — so writing it as is would spread each level's
      // entity × horizon rows over that many tiny files, and every
      // reader of gold.forecasts would pay a task per file
      .coalesce(atLevels.size)
  }

  /** Session-lifetime memo of the weekly dispatch frame: q66 builds
    * it, q90 (champion application) re-reads it — the stored
    * gold.forecasts design, so applying the selection doesn't re-fit
    * four models.
    *
    * Since round 12 the frame is DERIVED from the full dispatch
    * artifact (filter on granularity/level + the q66 total order)
    * instead of being built by its own four fits: fullDispatch's
    * supplier-weekly group unions exactly these four frames (the
    * FromFit seams are value-identical to the public model paths by
    * construction — they delegate), so the filter returns the same
    * rows and the forecast prep family pays ONE build instead of
    * two overlapping ones (the r12 ask: dispatch 27.3 s + full 19.1 s
    * in the r11 window for largely shared work). */
  private val dispatchCache = new graft.util.Memo[(SparkSession, String), DataFrame](_._1.sparkContext.isStopped)

  /** q66 — the dispatch surface end-to-end: every weekly-capable model
    * through the one forecasts interface, distinguished by the model
    * column. */
  def forecastDispatch(s: SparkSession, dir: String): DataFrame =
    dispatchCache.getOrBuild((s, dir), {
      // eager localCheckpoint, not persist: it pins the rows AND
      // truncates the logical plan to a LogicalRDD leaf. The stored
      // artifacts' caches were already hit, but consumers re-paid
      // Catalyst analysis of the full 16-branch lineage on every
      // execution (~1 s/run driver-side at sf0.1, the r12 q90
      // regression) — a stored table's consumers should see a leaf,
      // exactly as if it were the written gold.forecasts parquet.
      fullDispatch(s, dir)
        .filter(col("granularity") === "weekly" && col("level") === "supplier")
        .orderBy(col("model"), col("entity_id"), col("ds"))
        .localCheckpoint()
    })

  private def conformSql(inner: String, model: String,
      granularity: String = "weekly", level: String = "supplier") =
    s"""SELECT CAST(entity AS VARCHAR) AS entity_id, ds, yhat, yhat_lower, yhat_upper,
       |       '$granularity' AS granularity, '$model' AS model, '$level' AS level
       |FROM ($inner)""".stripMargin

  private[operators] val forecastDispatchSql: String = {
    val globalWeekly = GlobalAR.globalArSql(
      s"SELECT entity, week AS ds, y FROM (${Forecast.weeklySql})",
      stepDays = 7, granularity = "weekly")
    s"""${conformSql(Forecast.forecastLinearSql, "linear")}
       |UNION ALL
       |${conformSql(Forecast.forecastSeasonalNaiveSql, "seasonal_naive")}
       |UNION ALL
       |${conformSql(Forecast.forecastSeasonalTrendSql, "seasonal_trend")}
       |UNION ALL
       |SELECT * FROM ($globalWeekly)
       |ORDER BY model, entity_id, ds""".stripMargin
  }

  /** Session-lifetime FULL dispatch artifact — the query surface's
    * scope of the one builder: every model weekly at all three levels
    * plus daily at the artifact level (supplier), exactly the
    * (granularity, level) surfaces the backtest scores, in the one
    * forecasts interface. The champion application (q103) filters
    * THIS frame by the q82 selection, so serving the measured-best
    * model per series costs a broadcast join, not a refit; q66 and
    * q71 are filters of it too.
    *
    * Four `groupParts` calls over the memoized series artifacts, built
    * concurrently: weekly supplier is the ungated q66 surface (minLen
    * 0), the other three groups gate at MIN_SERIES_LEN. */
  private val fullDispatchCache = new graft.util.Memo[(SparkSession, String), DataFrame](_._1.sparkContext.isStopped)

  def fullDispatch(s: SparkSession, dir: String): DataFrame =
    fullDispatchCache.getOrBuild((s, dir), {
      val pins = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]
      val pin: DataFrame => DataFrame = { df => val p = df.persist(); p.count(); pins.add(p); p }
      val groups: Seq[() => Seq[DataFrame]] =
        levels.map(lv => () => groupParts(Forecast.weeklyAt(s, dir, lv), "weekly", lv,
          if (lv == "supplier") 0 else minSeriesLen, models, pin)) :+
          (() => groupParts(Forecast.dailySeries(s, dir), "daily", "supplier",
            minSeriesLen, models, pin))
      // coalesce(16), not repartition: the final artifact collapses
      // from 16 × shuffle.partitions task-launch units to 16 like the
      // old repartition did, but each of the 16 tasks reads its slice
      // of the per-branch caches LOCALLY — no shuffle and no 500+
      // upstream task launches for the collapse pass (the branches are
      // already materialized, so coalescing costs 16 cache-read
      // tasks). The branch + fit pins release afterwards — the
      // artifact is its own storage. Eager localCheckpoint instead of
      // persist+count: same materialization, but the memoized frame's
      // plan becomes a LogicalRDD LEAF, so consumers (q66/q71/q90/q103
      // and the champion joins) stop re-paying Catalyst analysis of
      // the 16-branch lineage on every run — the stored-table
      // semantics a written gold.forecasts would have.
      val d = Par.all(groups).flatten.reduce(_ unionByName _).coalesce(16).localCheckpoint()
      pins.forEach(_.unpersist(false))
      d
    })

  private[operators] val fullDispatchSql: String = {
    val globalWeeklySup = GlobalAR.globalArSql(
      s"SELECT entity, week AS ds, y FROM (${Forecast.weeklySql})",
      stepDays = 7, granularity = "weekly")
    val weeklySupplier = Seq(
      conformSql(Forecast.forecastLinearSql, "linear"),
      conformSql(Forecast.forecastSeasonalNaiveSql, "seasonal_naive"),
      conformSql(Forecast.forecastSeasonalTrendSql, "seasonal_trend"),
      s"SELECT * FROM ($globalWeeklySup)")
    val weeklyOther = for {
      lv <- levels.filterNot(_ == "supplier")
      m <- models.sorted
    } yield {
      val (entityExpr, fromClause) = Forecast.levelSql(lv)
      val series = Forecast.weeklySqlAt(entityExpr, fromClause)
      m match {
        case "linear" =>
          conformSql(Forecast.forecastLinearSqlOver(series, minSeriesLen), "linear", "weekly", lv)
        case "seasonal_naive" =>
          conformSql(Forecast.forecastSeasonalNaiveSqlOver(series, minSeriesLen), "seasonal_naive", "weekly", lv)
        case "seasonal_trend" =>
          conformSql(Forecast.forecastSeasonalTrendSqlOver(series, minSeriesLen), "seasonal_trend", "weekly", lv)
        case "global_ar" =>
          s"SELECT * FROM (${GlobalAR.globalArSql(s"SELECT entity, week AS ds, y FROM ($series)", stepDays = 7, granularity = "weekly", level = lv)})"
      }
    }
    val dailyWk = s"SELECT entity, ds AS week, y FROM (${Forecast.dailySeriesSql})"
    val daily = Seq(
      conformSql(Forecast.forecastLinearSqlOver(dailyWk, minSeriesLen, stepDays = 1, horizon = 90), "linear", "daily"),
      conformSql(Forecast.forecastSeasonalNaiveSqlOver(dailyWk, minSeriesLen, stepDays = 1, period = 7), "seasonal_naive", "daily"),
      conformSql(Forecast.forecastSeasonalTrendSqlOver(dailyWk, minSeriesLen, stepDays = 1, horizon = 90, period = 7), "seasonal_trend", "daily"),
      s"SELECT * FROM (${GlobalAR.globalArSql(Forecast.dailySeriesSql, stepDays = 1, granularity = "daily")})")
    (weeklySupplier ++ weeklyOther ++ daily).map(q => s"($q)").mkString("\nUNION ALL\n")
  }

  /** q70 — the level dimension end-to-end: the linear model at every
    * forecasting level (supplier / product / region) through the one
    * forecasts interface, level column varying, the reference's
    * MIN_SERIES_LEN gate applied per entity. (level, entity_id, ds)
    * is the output's unique key.
    *
    * Scale: three independent fits; the product level dominates (one
    * groupBy at l_partkey cardinality), the region level is the same
    * fact scan with a broadcast dim chain — no new shuffle shape. */
  def forecastLevels(s: SparkSession, dir: String): DataFrame =
    levels.map { lv =>
      conform(
        Forecast.forecastLinearOver(Forecast.weeklyAt(s, dir, lv), minSeriesLen),
        "linear", "weekly", lv)
    }.reduce(_ unionByName _)
      .orderBy(col("level"), col("entity_id"), col("ds"))

  private val forecastLevelsSql = {
    val parts = levels.map { lv =>
      val (entityExpr, fromClause) = Forecast.levelSql(lv)
      val inner = Forecast.forecastLinearSqlOver(
        Forecast.weeklySqlAt(entityExpr, fromClause), minSeriesLen)
      s"""SELECT CAST(entity AS VARCHAR) AS entity_id, ds, yhat, yhat_lower, yhat_upper,
         |       'weekly' AS granularity, 'linear' AS model, '$lv' AS level
         |FROM ($inner)""".stripMargin
    }
    parts.mkString("\nUNION ALL\n") + "\nORDER BY level, entity_id, ds"
  }

  /** q71 — the daily per-entity models through the dispatch: trend
    * over 90 days, 7-day seasonal replay, one output interface. A
    * filter of the full dispatch artifact (its daily supplier group),
    * like q66. */
  def forecastDailyModels(s: SparkSession, dir: String): DataFrame =
    fullDispatch(s, dir)
      .filter(col("granularity") === "daily" && col("level") === "supplier" &&
        col("model").isin("linear", "seasonal_naive"))
      .orderBy(col("model"), col("entity_id"), col("ds"))

  private val forecastDailyModelsSql = {
    val dailyWk = s"SELECT entity, ds AS week, y FROM (${Forecast.dailySeriesSql})"
    conformSql(Forecast.forecastLinearSqlOver(dailyWk, minSeriesLen, stepDays = 1, horizon = 90),
      "linear", "daily") +
      "\nUNION ALL\n" +
      conformSql(Forecast.forecastSeasonalNaiveSqlOver(dailyWk, minSeriesLen, stepDays = 1, period = 7),
        "seasonal_naive", "daily") +
      "\nORDER BY model, entity_id, ds"
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q66_forecast_dispatch" -> forecastDispatch,
    "q70_forecast_levels" -> forecastLevels,
    "q71_forecast_daily_models" -> forecastDailyModels)

  override def oracles: Map[String, String] = Map(
    "q66_forecast_dispatch" -> forecastDispatchSql,
    "q70_forecast_levels" -> forecastLevelsSql,
    "q71_forecast_daily_models" -> forecastDailyModelsSql)
}
