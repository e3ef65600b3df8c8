package graft.operators

import graft.QueryModule
import graft.util.Par
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-run model dispatch — the reference's `run_forecasting_pipeline`
  * (forecasting.py:168-211,434-449) selects ONE model per run by name
  * and emits every model's rows through the single `gold.forecasts`
  * interface (ds / yhat / yhat_lower / yhat_upper / granularity /
  * model / level / entity_id, forecasting.py:67-81; run_id is stamped
  * by the caller's run-scoped overwrite, as in Pipeline.runGold).
  *
  * Model substitutions are those documented in SURVEY §7.4 (no JVM
  * Prophet/SARIMAX/LightGBM): "linear" is the closed-form OLS trend,
  * "seasonal_naive" the period-4 replay, "global_ar" the pooled
  * 5-feature autoregressive model — each oracle-verified on its own
  * (q36/q37/q50/q55); q66 verifies the DISPATCH: all models conformed
  * to the one output interface, model column included.
  *
  * Scale: dispatch adds nothing to the plans — it conforms column
  * shape only; both series granularities stay shared artifacts.
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

  /** model -> supported granularities. Every model runs at both, like
    * the reference (prophet/sarimax run per-granularity with daily=90
    * days / weekly horizons, forecasting.py:177,434-449). */
  val models: Map[String, Seq[String]] = Map(
    "linear" -> Seq("daily", "weekly"),
    "seasonal_naive" -> Seq("daily", "weekly"),
    "seasonal_trend" -> Seq("daily", "weekly"),
    "global_ar" -> Seq("daily", "weekly"))

  /** The granularity a model runs at when the caller doesn't choose:
    * global_ar's native horizon is daily; the other models are
    * weekly-only. Shared by every entry point (CLI and programmatic)
    * so "linear" without a granularity never dispatches to an
    * unsupported (linear, daily) pair. */
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

  /** Conform a bare (entity, ds, yhat, bounds) frame to the reference
    * forecasts interface. */
  private def conform(df: DataFrame, model: String, granularity: String,
      level: String = "supplier"): DataFrame =
    df.select(
      col("entity").cast(StringType).as("entity_id"),
      col("ds"), col("yhat"), col("yhat_lower"), col("yhat_upper"),
      lit(granularity).as("granularity"),
      lit(model).as("model"),
      lit(level).as("level"))

  private def unsupported(model: String, granularity: String): Nothing =
    throw new IllegalArgumentException(
      s"no forecasting model '$model' at granularity '$granularity' — " +
        s"supported: ${models.toSeq.sortBy(_._1).map { case (m, gs) => s"$m(${gs.mkString("/")})" }.mkString(", ")}")

  /** Dispatch over the shared series artifacts (query surface /
    * ad-hoc callers): supplier level, weekly ungated (the q36/q37/q55
    * surface), daily at the reference's MIN_SERIES_LEN gate. */
  def run(s: SparkSession, dir: String, model: String,
      granularity: String = "weekly"): DataFrame =
    dispatch(Forecast.weekly(s, dir), Forecast.dailySeries(s, dir), "supplier",
      model, granularity, weeklyMinLen = 0, dailyMinLen = minSeriesLen)

  /** THE (model, granularity) dispatch table over one level's weekly
    * (entity, week, y) and daily (entity, ds, y) series; only the
    * requested granularity's series is evaluated. Daily per-entity
    * models run with the reference's daily knobs: 90-day horizon
    * (DEFAULT_HORIZON_DAYS) for the trend models, one 7-day seasonal
    * period for the replay. */
  private def dispatch(weekly: => DataFrame, daily: => DataFrame, level: String,
      model: String, granularity: String, weeklyMinLen: Int,
      dailyMinLen: Int): DataFrame = {
    def dailyWk = dailyAsWeekCols(daily)
    (model, granularity) match {
      case ("linear", "weekly") =>
        conform(Forecast.forecastLinearOver(weekly, weeklyMinLen), "linear", "weekly", level)
      case ("seasonal_naive", "weekly") =>
        conform(Forecast.forecastSeasonalNaiveOver(weekly, weeklyMinLen),
          "seasonal_naive", "weekly", level)
      case ("seasonal_trend", "weekly") =>
        conform(Forecast.forecastSeasonalTrendOver(weekly, weeklyMinLen),
          "seasonal_trend", "weekly", level)
      case ("linear", "daily") =>
        conform(Forecast.forecastLinearOver(dailyWk, dailyMinLen, stepDays = 1, horizon = 90),
          "linear", "daily", level)
      case ("seasonal_naive", "daily") =>
        conform(Forecast.forecastSeasonalNaiveOver(dailyWk, dailyMinLen, stepDays = 1, period = 7),
          "seasonal_naive", "daily", level)
      case ("seasonal_trend", "daily") =>
        conform(Forecast.forecastSeasonalTrendOver(dailyWk, dailyMinLen, stepDays = 1,
          horizon = 90, period = 7), "seasonal_trend", "daily", level)
      case ("global_ar", "daily") =>
        GlobalAR.globalArCore(daily, stepDays = 1, granularity = "daily", level = level)
      case ("global_ar", "weekly") =>
        GlobalAR.globalArCore(weekly.select(col("entity"), col("week").as("ds"), col("y")),
          stepDays = 7, granularity = "weekly", level = level)
      case _ => unsupported(model, granularity)
    }
  }

  /** The per-entity fit cores name their date column `week` at any
    * granularity; rename a daily (entity, ds, y) series into them. */
  private def dailyAsWeekCols(daily: DataFrame): DataFrame =
    daily.select(col("entity"), col("ds").as("week"), col("y"))

  /** The reference's per-run level loop (`run_parallel_forecasts`
    * iterates product/warehouse/region and pools every level's rows
    * into the one gold.forecasts write, forecasting.py:339-352): the
    * chosen model over EVERY level's series, level column varying.
    * `resolve` maps table name -> frame so the Pipeline can hand in
    * the WRITTEN silver tables (the region level needs the dims);
    * `materialize` pins the derived series across the model's passes.
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
      atLevels: Seq[String] = levels): DataFrame =
    atLevels.map { lv =>
      val frame = Forecast.levelFrame(lv, resolve)
      dispatch(materialize(Forecast.weeklyOver(frame, col("entity"))),
        materialize(Forecast.dailySeriesOver(frame, col("entity"))), lv,
        model, granularity, weeklyMinLen = minSeriesLen, dailyMinLen = minSeriesLen)
    }.reduce(_ unionByName _)

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

  /** Session-lifetime FULL dispatch artifact: every (model ×
    * granularity × level) combination the backtest scores — the four
    * models weekly at all three levels plus daily at the artifact
    * level (supplier) — in the one forecasts interface. The champion
    * application (q103) filters THIS frame by the q82 selection, so
    * serving the measured-best model per series costs a broadcast
    * join, not a refit.
    *
    * This is THE build of the dispatch family (q66's weekly-supplier
    * frame is a filter of it, see forecastDispatch). Structure is the
    * backtest's fit-group shape: one (level, granularity) group per
    * series artifact, the group's three per-entity models consuming
    * ONE shared OLS fit through the FromFit/FromGate seams (value-
    * identical to the public model paths by construction — those
    * delegate here), so the full-series fit groupBy runs once per
    * group instead of three times. The four pooled global_ar arms
    * stay separate branches — the recorded r9 lesson: fusing AR fits
    * couples their driver-side solves and loses, not wins. */
  private val fullDispatchCache = new graft.util.Memo[(SparkSession, String), DataFrame](_._1.sparkContext.isStopped)

  def fullDispatch(s: SparkSession, dir: String): DataFrame =
    fullDispatchCache.getOrBuild((s, dir), {
      // one fit group per (level, granularity); knobs mirror run()'s
      // arms exactly: weekly supplier is the ungated q66 surface
      // (minLen 0, horizon 4, naive period 4, trend period 52), the
      // other levels gate at MIN_SERIES_LEN, daily runs the 90-day
      // trend horizon and 7-day seasonal period
      case class Group(level: String, gran: String, series: DataFrame,
        minLen: Int, stepDays: Int, linHorizon: Int, naivePeriod: Int,
        trendHorizon: Int, trendPeriod: Int)
      val groups = Seq(
        Group("supplier", "weekly", Forecast.weekly(s, dir), 0, 7, 4, 4, 4, 52),
        Group("product", "weekly", Forecast.weeklyAt(s, dir, "product"),
          minSeriesLen, 7, 4, 4, 4, 52),
        Group("region", "weekly", Forecast.weeklyAt(s, dir, "region"),
          minSeriesLen, 7, 4, 4, 4, 52),
        Group("supplier", "daily", dailyAsWeekCols(Forecast.dailySeries(s, dir)),
          minSeriesLen, 1, 90, 7, 90, 7))
      // phase 1: the four shared fits, materialized EAGERLY before any
      // consumer thread launches (the Backtest.groupParts rule: lazily
      // persisted frames shared by concurrent jobs race on cache-fill
      // block locks — a measured 9 s → 65 s prep lottery). Entity-
      // count-sized; the four fits overlap on their own threads.
      val fits = Par.all(groups.map(g => () => {
        val f = Forecast.olsFit(g.series, g.minLen).persist()
        f.count()
        f
      }))
      // phase 2: 16 branches (4 groups × 3 per-entity models + 4
      // pooled AR arms), each building AND materializing on its own
      // thread (the prep_kmeans pattern): a branch's output is tiny
      // (entities × horizon), so persist+count per branch overlaps
      // all fits on the 32 cores instead of leaving the parallelism
      // to one union job's stage scheduler.
      val branchBuilds: Seq[() => DataFrame] =
        groups.zip(fits).flatMap { case (g, fit) =>
          Seq(
            () => conform(Forecast.forecastLinearFromFit(fit, g.stepDays, g.linHorizon),
              "linear", g.gran, g.level),
            () => conform(Forecast.forecastSeasonalNaiveFromGate(g.series,
              fit.select(col("entity"), col("last_week")), g.stepDays, g.naivePeriod),
              "seasonal_naive", g.gran, g.level),
            () => conform(Forecast.forecastSeasonalTrendFromFit(g.series, fit,
              g.stepDays, g.trendHorizon, g.trendPeriod),
              "seasonal_trend", g.gran, g.level))
        } ++ groups.map(g => () =>
          GlobalAR.globalArCore(g.series.select(col("entity"), col("week").as("ds"), col("y")),
            g.stepDays, g.gran, g.level))
      val built = Par.all(branchBuilds.map(b => () => { val p = b().persist(); p.count(); p }))
      // coalesce(16), not repartition: the final artifact collapses
      // from 16 × shuffle.partitions task-launch units to 16 like the
      // old repartition did, but each of the 16 tasks reads its slice
      // of the per-branch caches LOCALLY — no shuffle and no 500+
      // upstream task launches for the collapse pass (the branches are
      // already materialized, so coalescing costs 16 cache-read
      // tasks). The branch + fit caches release afterwards — the
      // artifact is its own storage. Eager localCheckpoint instead of
      // persist+count: same materialization, but the memoized frame's
      // plan becomes a LogicalRDD LEAF, so consumers (q66/q90/q103 and
      // the champion joins) stop re-paying Catalyst analysis of the
      // 16-branch lineage on every run — the stored-table semantics a
      // written gold.forecasts would have.
      val d = built.reduce(_ unionByName _).coalesce(16).localCheckpoint()
      built.foreach(_.unpersist(false))
      fits.foreach(_.unpersist(false))
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
      m <- models.keys.toSeq.sorted
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
    * over 90 days, 7-day seasonal replay, one output interface. */
  def forecastDailyModels(s: SparkSession, dir: String): DataFrame =
    run(s, dir, "linear", "daily")
      .unionByName(run(s, dir, "seasonal_naive", "daily"))
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
