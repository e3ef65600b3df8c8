package graft.operators

import graft.QueryModule
import graft.util.Par
import graft.util.Parity._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Held-out backtest of the forecasting dispatch — the accuracy
  * measurement the reference CLAIMS but never computes: its README
  * advertises "85%+ forecast accuracy" (/root/reference/README.md:364)
  * yet no code path ever scores a model against actuals, so a user
  * choosing between models has nothing but the claim. Here every
  * (model × granularity × level) combination is scored on a
  * deterministic holdout: the final H periods of each entity's
  * gap-filled series are withheld (weekly H=4 — the weekly horizon,
  * daily H=7 — the AR horizon), the model refits on the truncated
  * series only, and its forecasts are joined back to the held-out
  * actuals. Metrics per entity: MAE and sMAPE (the 0-200 symmetric
  * form, 0 when actual and forecast are both zero), both as exact
  * decimal folds so the numbers are cross-engine deterministic.
  *
  * One builder, two scopes: `groupParts` is the only way a backtest
  * group — one (granularity, level) series, its split, the shared fit
  * and the scored parts — is built.
  *  - The Pipeline (`metricsOverLevels`, gold.forecast_metrics) scores
  *    BOTH granularities at EVERY level, over series derived from the
  *    written silver tables.
  *  - The query surface (`backtestMetrics`, q79 and its consumers)
  *    scores weekly at every level plus daily at the supplier level,
  *    over the memoized series artifacts — the scope its DuckDB oracle
  *    (`metricsSql`) encodes.
  *
  * Scale: the split is one tiny per-entity max-aggregation broadcast
  * back against the (already materialized) series — the series itself
  * never shuffles for the split; the per-entity models share one fit
  * per group. The metrics join is forecast-vs-holdout, both derived
  * frames keyed by entity — at most H rows per entity on either side.
  */
object Backtest extends QueryModule {

  /** Holdout lengths per granularity: the model-native horizons
    * (weekly models emit 4 steps, the daily AR emits 7), so every
    * forecast step has an actual to score against. */
  val HoldoutWeekly = 4
  val HoldoutDaily = 7

  /** The models whose fits are PER-ENTITY — an entity's metrics depend
    * only on its own series, so incremental re-scoring can restrict
    * the fact to the delta's entities. global_ar is excluded: its
    * pooled coefficients couple every series (Pipeline.
    * refreshModelSelection re-fits it over the full fact instead). */
  private[graft] val perEntityModels: Seq[String] = Forecasting.models.filterNot(_ == "global_ar")

  /** The per-entity model forecast over the truncated series (the
    * forecast builder's `Forecasting.entityForecast`, the holdout as
    * its horizon), normalized to (entity_id, ds, yhat, model). `fit` is
    * the group's one olsFit(trunc, minLen) frame. */
  private def entityFc(model: String, trunc: DataFrame, fit: DataFrame,
      h: Int, granularity: String): DataFrame =
    Forecasting.entityForecast(model, trunc, fit, granularity, h)
      .select(col("entity").cast(StringType).as("entity_id"), col("ds"), col("yhat"),
        lit(model).as("model"))

  /** The pooled global_ar refit over the truncated series; it scores
    * the holdout-overlapping prefix of its fixed 7-step horizon
    * (weekly: the first 4 of 7 steps). */
  private def globalArFc(trunc: DataFrame, stepDays: Int, granularity: String): DataFrame =
    GlobalAR.globalArCore(
      trunc.select(col("entity"), col("week").as("ds"), col("y")), stepDays, granularity)
      .select(col("entity_id"), col("ds"), col("yhat"), lit("global_ar").as("model"))

  /** Forecast-vs-holdout scoring of one or more model-tagged forecast
    * frames: one broadcast join (hold is entity-count × h rows — the
    * withheld horizon; at 1000× entities it is still ≤ 8 rows per
    * entity) and one (entity, model) aggregation. Fusing the three
    * per-entity models through here — ONE unioned plan instead of
    * three — was measured ~2× cheaper per group at sf0.1: the join,
    * the metric fold, and their codegen are paid once. Row-identical
    * to scoring each model separately: the union is tagged by model,
    * the fold groups on (entity, model), and the decimal sums are
    * order-independent. */
  private def scoreAgainst(hold: DataFrame, granularity: String, level: String)(
      taggedFcs: Seq[DataFrame]): DataFrame = {
    val fc = taggedFcs.reduce(_ unionByName _)
    val j = fc.join(
      broadcast(hold.select(col("entity").cast(StringType).as("entity_id"), col("ds"), col("y"))),
      Seq("entity_id", "ds"))
    val absErr = abs(col("yhat") - col("y"))
    val smapeRow = when(abs(col("y")) + abs(col("yhat")) === 0.0, lit(0.0))
      .otherwise(snapRound(absErr * lit(200.0) / (abs(col("y")) + abs(col("yhat"))), 6))
    def fold(c: Column, scale: Int): Column =
      snapRound(sum(c.cast(DecimalType(38, scale))).cast(DoubleType) / count(lit(1)), 4)
    j.select(col("entity_id"), col("model"), absErr.as("abs_err"), smapeRow.as("smape_row"))
      .groupBy(col("entity_id"), col("model"))
      .agg(count(lit(1)).as("n"),
        fold(col("abs_err"), 8).as("mae"),
        fold(col("smape_row"), 10).as("smape"))
      .select(lit(granularity).as("granularity"), lit(level).as("level"),
        col("entity_id"), col("model"), col("n"), col("mae"), col("smape"))
  }

  /** Session-lifetime metrics artifact — the stored
    * gold.forecast_metrics table a deployment materializes once per
    * run (Pipeline.runGold writes the real thing) and every consumer
    * READS, the same stored-layer design as the q38 DQ marts. */
  private val metricsCache = new graft.util.Memo[(SparkSession, String), DataFrame](_._1.sparkContext.isStopped)

  /** Build the backtest artifacts eagerly (Bench prepare phase; runs
    * after prep_demand_series, so the series artifacts it refits are
    * already persisted). Builds BOTH stored tables of the family:
    * gold.forecast_metrics and the champion selection derived from it
    * (gold.model_selection) — r12's bench showed every champion
    * consumer (q82/q90/q103) re-paying the selection window ~1.5-2 s
    * per run because only the metrics frame was stored. */
  def prepareArtifacts(s: SparkSession, dir: String): Unit = { championTable(s, dir); () }

  /** Bench prep-hash probe: the stored backtest-metrics frame and the
    * stored champion-selection table. */
  private[graft] def prepProbe(s: SparkSession, dir: String): Seq[DataFrame] =
    Seq(backtestMetrics(s, dir), championTable(s, dir))

  /** Session-lifetime champion-selection artifact — the stored
    * gold.model_selection table (Pipeline.runGold writes the real
    * thing): one row per backtested (granularity, level, entity_id)
    * naming the measured-best model. q82 serves it, q90/q103 filter
    * their dispatch artifacts by it. Entity-count-sized; coalesce(1)
    * because consumers broadcast it. */
  private val championCache = new graft.util.Memo[(SparkSession, String), DataFrame](_._1.sparkContext.isStopped)

  private def championTable(s: SparkSession, dir: String): DataFrame =
    championCache.getOrBuild((s, dir),
      championOver(backtestMetrics(s, dir)).coalesce(1).localCheckpoint())

  /** The q79 scope over the memoized series artifacts: four groups
    * (weekly × supplier/product/region, daily × supplier), each under
    * its own job group, built concurrently. */
  private def backtestMetrics(s: SparkSession, dir: String): DataFrame =
    metricsCache.getOrBuild((s, dir), {
      val pin: DataFrame => DataFrame = { df => val p = df.persist(); p.count(); p }
      val groups: Seq[(String, () => Seq[DataFrame])] =
        Forecasting.levels.map(lv => s"weekly-$lv" -> (() =>
          groupParts(Forecast.weeklyAt(s, dir, lv), "weekly", lv, Forecasting.models, pin))) :+
        ("daily-supplier" -> (() =>
          groupParts(Forecast.dailySeries(s, dir), "daily", "supplier", Forecasting.models, pin)))
      val parts = Par.all(groups.map { case (name, build) => () =>
        s.sparkContext.setJobGroup(s"backtest-prep-$name",
          s"forecast backtest refits: $name", interruptOnCancel = true)
        try build() finally s.sparkContext.clearJobGroup()
      }).flatten
      // persist the UNIONED artifact, not just the 8 parts: every
      // consumer (q79/q82/q83/q90) re-pays a multi-branch union per job
      // otherwise — at sf0.1 that stage-launch overhead alone was
      // 4.3–4.9 s per query (BENCH_r08) on entity-count-sized data.
      // coalesce(8): the bare union inherits parts × shuffle.partitions
      // cached partitions, and consumers then pay hundreds of task
      // launches per job over entity-count-sized data (parts are
      // already persisted here, so the collapse costs one cheap pass).
      // Eager localCheckpoint, not persist+count: same materialization
      // barrier, but the memoized frame's plan becomes a LogicalRDD
      // leaf — consumers (q79/q82/q83 and the champion build) stop
      // re-paying Catalyst analysis of the refit lineage on every run
      // (measured ~1 s/run driver-side at sf0.1), matching the stored
      // gold.forecast_metrics semantics.
      val unioned = parts.reduce(_ unionByName _).coalesce(8).localCheckpoint()
      parts.foreach(_.unpersist())
      unioned
    })

  /** THE backtest group builder, shared by the query surface and the
    * Pipeline: one dense (entity, date, y) series at one (granularity,
    * level), split at cutoff = max(date) − step·H per entity into the
    * truncated series (refit input) and the held-out actuals, then the
    * requested `models` scored against the holdout. Returns the
    * group's metric parts (at most two: the fused per-entity models
    * and the pooled global_ar), each pinned through `materialize`.
    *
    * Per-entity models keep the reference's MIN_SERIES_LEN gate on the
    * TRUNCATED length — an entity must still have 14 points after the
    * holdout is withheld, like a deployment scoring on history it
    * actually has. All of them consume ONE shared OLS fit; a model
    * subset without a per-entity model skips that fit, and one
    * without global_ar skips the pooled refit.
    *
    * Error folds: yhat is snapRound'd scale-4, y is an exact series
    * value, so |yhat−y| is within 1 ulp of a 4-dp rational — summing
    * through DECIMAL(38,8) (4 guard digits) is exact and
    * order-independent in both engines. The per-row sMAPE quotient is
    * IEEE-identical cross-engine, snapped at scale 6, then folded the
    * same way. */
  private def groupParts(series: DataFrame, granularity: String, level: String,
      models: Seq[String], materialize: DataFrame => DataFrame): Seq[DataFrame] = {
    val Forecasting.Knobs(dateCol, stepDays, _, _, _) = Forecasting.knobs(granularity)
    val h = if (granularity == "daily") HoldoutDaily else HoldoutWeekly
    val entityModels = perEntityModels.filter(models.contains)
    // trunc is deliberately NOT persisted: it is ~the whole series
    // (the split withholds only h of hundreds of points per entity),
    // the series is already pinned, and the cutoff frame is a
    // persisted per-entity scalar — so each consumer's trunc scan is
    // the cached series scan plus a fused broadcast-probe filter,
    // while a second full-size cache copy cost a measured ~1.6 s of
    // serial materialization per large group at sf0.1
    val cut = series.groupBy(col("entity"))
      .agg(date_sub(max(col(dateCol)), stepDays * h).as("cutoff")).persist()
    val j = series.join(broadcast(cut), "entity")
    val trunc = j.filter(col(dateCol) <= col("cutoff"))
      .select(col("entity"), col(dateCol).as("week"), col("y"))
    val hold = j.filter(col(dateCol) > col("cutoff"))
      .select(col("entity"), col(dateCol).as("ds"), col("y")).persist()
    // ONE OLS fit per group, persisted (entity-count-sized): linear,
    // seasonal_trend, and seasonal_naive's gate all consume it, so the
    // fit's full-series groupBy pass runs once instead of three times
    val sharedFit =
      if (entityModels.isEmpty) None
      else Some(Forecast.olsFit(trunc, Forecasting.minSeriesLen).persist())
    try {
      // EAGER counts: lazily-persisted frames shared by the concurrent
      // scoring jobs made them race on cache-fill block locks — with 4
      // group threads × 2 job threads, 8 jobs contending on lazy fills
      // measured a 9 s → 65 s prep lottery across otherwise clean
      // bench windows. cut first; hold and the fit depend only on it,
      // so they materialize concurrently.
      cut.count()
      Par.all(Seq(() => hold.count()) ++ sharedFit.map(f => () => f.count()))
      // independent jobs over the shared persisted split + fit,
      // materialized concurrently: the FUSED per-entity scoring (the
      // models through one union–join–fold plan) and the pooled
      // global_ar refit (whose driver-side solve fetch would serialize
      // anything behind it)
      val score = scoreAgainst(hold, granularity, level) _
      val entityPart = sharedFit.map(fit => () =>
        score(entityModels.map(m => entityFc(m, trunc, fit, h, granularity))))
      val arPart = Option.when(models.contains("global_ar"))(() =>
        score(Seq(globalArFc(trunc, stepDays, granularity))))
      Par.all((entityPart ++ arPart).toSeq.map(part => () => materialize(part())))
    } finally { cut.unpersist(); hold.unpersist(); sharedFit.foreach(_.unpersist()) }
  }

  /** q79 — the backtest surface over the shared series artifacts.
    * (granularity, level, model, entity_id) is the output's unique
    * key. Reads the stored metrics artifact. */
  def forecastBacktest(s: SparkSession, dir: String): DataFrame =
    backtestMetrics(s, dir)
      .orderBy(col("granularity"), col("level"), col("model"), col("entity_id"))

  /** The Pipeline's gold.forecast_metrics build: `atModels` × BOTH
    * granularities × `atLevels`, series derived from `resolve` (the
    * WRITTEN silver tables — medallion lineage, like gold.forecasts).
    * The 2 × levels groups build concurrently; `materialize` pins each
    * group's series and its scoring parts, and is therefore called
    * from concurrent threads. */
  def metricsOverLevels(resolve: String => DataFrame,
      materialize: DataFrame => DataFrame = identity,
      atLevels: Seq[String] = Forecasting.levels,
      atModels: Seq[String] = Forecasting.models): DataFrame =
    Par.all(atLevels.flatMap { lv =>
      val frame = Forecast.levelFrame(lv, resolve)
      Seq(
        () => groupParts(materialize(Forecast.weeklyOver(frame, col("entity"))),
          "weekly", lv, atModels, materialize),
        () => groupParts(materialize(Forecast.dailySeriesOver(frame, col("entity"))),
          "daily", lv, atModels, materialize))
    }).flatten.reduce(_ unionByName _)
      .orderBy(col("granularity"), col("level"), col("model"), col("entity_id"))

  /** Champion model per series from a metrics frame: the
    * (granularity, level, entity_id) row with minimum held-out sMAPE,
    * ties broken by mae then model name — the measured answer to
    * "which model should this series use?" that turns the backtest
    * into an actionable selection table (gold.model_selection in the
    * Pipeline). Deterministic: the tie-break order is total.
    *
    * Scale: one window over the metrics frame — which is
    * entity-count-sized (at most models × levels × granularities rows
    * per entity), never the series or the fact. */
  def championOver(metrics: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("granularity"), col("level"), col("entity_id"))
      .orderBy(col("smape"), col("mae"), col("model"))
    metrics.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("granularity"), col("level"), col("entity_id"),
        col("model").as("best_model"), col("smape"), col("mae"))
      .orderBy(col("granularity"), col("level"), col("entity_id"))
  }

  /** q82 — the champion-model selection: serves the STORED selection
    * table (the orderBy re-asserts the output's total order — cache
    * partition order is not a contract). (granularity, level,
    * entity_id) is the unique key. */
  def modelSelection(s: SparkSession, dir: String): DataFrame =
    championTable(s, dir)
      .orderBy(col("granularity"), col("level"), col("entity_id"))

  /** Aggregate accuracy per (granularity, level, model): mean
    * per-entity sMAPE/MAE as exact decimal folds (the per-entity
    * metrics are scale-4, so DECIMAL(38,8) sums are exact and
    * order-independent), ranked within each (granularity, level) by
    * mean sMAPE — the leaderboard the model-dispatch scaladoc cites. */
  def leaderboardOver(metrics: DataFrame): DataFrame = {
    def meanOf(c: Column): Column =
      snapRound(sum(c.cast(DecimalType(38, 8))).cast(DoubleType) / count(lit(1)), 4)
    val agg = metrics.groupBy(col("granularity"), col("level"), col("model"))
      .agg(count(lit(1)).as("series"),
        meanOf(col("smape")).as("mean_smape"),
        meanOf(col("mae")).as("mean_mae"))
    val w = Window.partitionBy(col("granularity"), col("level"))
      .orderBy(col("mean_smape"), col("model"))
    agg.withColumn("model_rank", row_number().over(w))
      .orderBy(col("granularity"), col("level"), col("model_rank"))
  }

  /** q83 — the model leaderboard over the stored backtest artifact. */
  def modelLeaderboard(s: SparkSession, dir: String): DataFrame =
    leaderboardOver(backtestMetrics(s, dir))

  // ---- DuckDB oracle twins -----------------------------------------

  /** Truncated / held-out twins of groupParts' split, normalized to
    * the model generators' (entity, week, y) / (entity, ds, y) shapes. */
  private def truncSql(seriesSql: String, dateCol: String, back: Int): String =
    s"""WITH btsrc AS ($seriesSql),
       |btcut AS (SELECT entity, max($dateCol) - $back AS cutoff FROM btsrc GROUP BY 1)
       |SELECT btsrc.entity, btsrc.$dateCol AS week, btsrc.y
       |FROM btsrc JOIN btcut ON btsrc.entity = btcut.entity
       |WHERE btsrc.$dateCol <= btcut.cutoff""".stripMargin

  private def holdSql(seriesSql: String, dateCol: String, back: Int): String =
    s"""WITH btsrc AS ($seriesSql),
       |btcut AS (SELECT entity, max($dateCol) - $back AS cutoff FROM btsrc GROUP BY 1)
       |SELECT btsrc.entity, btsrc.$dateCol AS ds, btsrc.y
       |FROM btsrc JOIN btcut ON btsrc.entity = btcut.entity
       |WHERE btsrc.$dateCol > btcut.cutoff""".stripMargin

  private def metricsSql(seriesSql: String, dateCol: String, stepDays: Int,
      h: Int, model: String, granularity: String, level: String): String = {
    val back = stepDays * h
    val minLen = Forecasting.minSeriesLen
    val tSql = truncSql(seriesSql, dateCol, back)
    val (fcSql, entityCol) = model match {
      case "linear" =>
        (Forecast.forecastLinearSqlOver(tSql, minLen, stepDays, horizon = h), "entity")
      case "seasonal_naive" =>
        (Forecast.forecastSeasonalNaiveSqlOver(tSql, minLen, stepDays, period = h), "entity")
      case "seasonal_trend" =>
        (Forecast.forecastSeasonalTrendSqlOver(tSql, minLen, stepDays, horizon = h,
          period = Forecasting.knobs(granularity).seasonPeriod), "entity")
      case "global_ar" =>
        (GlobalAR.globalArSql(s"SELECT entity, week AS ds, y FROM ($tSql)",
          stepDays, granularity, level), "entity_id")
    }
    s"""SELECT '$granularity' AS granularity, '$level' AS level, entity_id,
       |       '$model' AS model, count(1) AS n,
       |       ${snapRoundSql("CAST(sum(CAST(abs_err AS DECIMAL(38,8))) AS DOUBLE) / count(1)", 4)} AS mae,
       |       ${snapRoundSql("CAST(sum(CAST(smape_row AS DECIMAL(38,10))) AS DOUBLE) / count(1)", 4)} AS smape
       |FROM (
       |  SELECT CAST(f.$entityCol AS VARCHAR) AS entity_id,
       |         abs(f.yhat - hh.y) AS abs_err,
       |         CASE WHEN abs(hh.y) + abs(f.yhat) = 0 THEN 0.0
       |              ELSE ${snapRoundSql("abs(f.yhat - hh.y) * 200.0 / (abs(hh.y) + abs(f.yhat))", 6)} END AS smape_row
       |  FROM ($fcSql) f
       |  JOIN (${holdSql(seriesSql, dateCol, back)}) hh
       |    ON CAST(f.$entityCol AS VARCHAR) = CAST(hh.entity AS VARCHAR) AND f.ds = hh.ds)
       |GROUP BY entity_id""".stripMargin
  }

  private val forecastBacktestSql = {
    val weekly = for {
      lv <- Forecasting.levels; m <- Forecasting.models
    } yield {
      val (entityExpr, fromClause) = Forecast.levelSql(lv)
      metricsSql(Forecast.weeklySqlAt(entityExpr, fromClause), "week", 7,
        HoldoutWeekly, m, "weekly", lv)
    }
    val daily = Forecasting.models.map(m =>
      metricsSql(Forecast.dailySeriesSql, "ds", 1, HoldoutDaily, m, "daily", "supplier"))
    (weekly ++ daily).map(q => s"($q)").mkString("\nUNION ALL\n") +
      "\nORDER BY granularity, level, model, entity_id"
  }

  private val modelSelectionSql =
    s"""WITH bt AS (${forecastBacktestSql})
       |SELECT granularity, level, entity_id, model AS best_model, smape, mae
       |FROM (SELECT *, row_number() OVER (
       |        PARTITION BY granularity, level, entity_id
       |        ORDER BY smape, mae, model) AS rn
       |      FROM bt)
       |WHERE rn = 1
       |ORDER BY granularity, level, entity_id""".stripMargin

  private val modelLeaderboardSql =
    s"""WITH bt AS (${forecastBacktestSql}),
       |agg AS (
       |  SELECT granularity, level, model, count(1) AS series,
       |         ${snapRoundSql("CAST(sum(CAST(smape AS DECIMAL(38,8))) AS DOUBLE) / count(1)", 4)} AS mean_smape,
       |         ${snapRoundSql("CAST(sum(CAST(mae AS DECIMAL(38,8))) AS DOUBLE) / count(1)", 4)} AS mean_mae
       |  FROM bt GROUP BY 1, 2, 3)
       |SELECT granularity, level, model, series, mean_smape, mean_mae,
       |       row_number() OVER (PARTITION BY granularity, level
       |                          ORDER BY mean_smape, model) AS model_rank
       |FROM agg
       |ORDER BY granularity, level, model_rank""".stripMargin

  /** q90 — champion-APPLIED forecasts, closing the measure → select →
    * apply loop: each supplier's weekly production forecast rows
    * (q66's dispatch surface) filtered to the model its q82 champion
    * selection picked, with the champion's held-out sMAPE/MAE riding
    * along — the gold.forecasts a deployment would actually serve
    * once the backtest has spoken. Horizon varies by champion (the
    * per-entity models emit 4 weekly steps, global_ar its 7-step
    * native horizon) — that's the selected model's real surface, not
    * an artifact. Scale: the champion table is entity-count-sized —
    * broadcast against the dispatch output; no new shuffle. */
  def championForecasts(s: SparkSession, dir: String): DataFrame = {
    val champ = championTable(s, dir)
      .filter(col("granularity") === "weekly" && col("level") === "supplier")
      .select(col("entity_id").as("champ_entity"), col("best_model"),
        col("smape"), col("mae"))
    Forecasting.forecastDispatch(s, dir)
      .join(broadcast(champ),
        col("entity_id") === col("champ_entity") && col("model") === col("best_model"))
      .select(col("entity_id"), col("ds"), col("yhat"),
        col("yhat_lower"), col("yhat_upper"), col("model"),
        col("smape"), col("mae"))
      .orderBy(col("entity_id"), col("ds"))
  }

  private val championForecastsSql =
    s"""WITH champ AS ($modelSelectionSql),
       |fc AS (${Forecasting.forecastDispatchSql})
       |SELECT f.entity_id, f.ds, f.yhat, f.yhat_lower, f.yhat_upper, f.model,
       |       c.smape, c.mae
       |FROM fc f JOIN champ c
       |  ON f.entity_id = c.entity_id AND f.model = c.best_model
       |WHERE c.granularity = 'weekly' AND c.level = 'supplier'
       |ORDER BY f.entity_id, f.ds""".stripMargin

  /** q103 — champion-applied forecasts at EVERY backtested
    * (granularity, level): the q90 loop closed across the whole
    * dispatch. Each series at each of the four scored surfaces
    * (weekly × supplier/product/region, daily × supplier) serves the
    * forecast rows of the model its backtest champion picked, with
    * the champion's held-out sMAPE/MAE riding along — the complete
    * gold.forecasts a deployment serves once the backtest has spoken
    * at all levels. Horizons vary by champion (per-entity weekly
    * models emit 4 steps, daily trend models 90, global_ar its
    * native 7) — the selected model's real surface. Scale: the
    * champion table is entity-count-sized and broadcasts against the
    * stored full-dispatch artifact; no refit, no new shuffle. */
  def championForecastsAll(s: SparkSession, dir: String): DataFrame = {
    val champ = championTable(s, dir)
      .select(col("granularity").as("c_g"), col("level").as("c_l"),
        col("entity_id").as("c_e"), col("best_model"), col("smape"), col("mae"))
    Forecasting.fullDispatch(s, dir)
      .join(broadcast(champ),
        (col("granularity") === col("c_g")) && (col("level") === col("c_l")) &&
          (col("entity_id") === col("c_e")) && (col("model") === col("best_model")))
      .select(col("granularity"), col("level"), col("entity_id"), col("ds"),
        col("yhat"), col("yhat_lower"), col("yhat_upper"), col("model"),
        col("smape"), col("mae"))
      .orderBy(col("granularity"), col("level"), col("entity_id"), col("ds"))
  }

  private val championForecastsAllSql =
    s"""WITH champ AS ($modelSelectionSql),
       |fc AS (${Forecasting.fullDispatchSql})
       |SELECT f.granularity, f.level, f.entity_id, f.ds, f.yhat,
       |       f.yhat_lower, f.yhat_upper, f.model, c.smape, c.mae
       |FROM fc f JOIN champ c
       |  ON f.granularity = c.granularity AND f.level = c.level
       | AND f.entity_id = c.entity_id AND f.model = c.best_model
       |ORDER BY f.granularity, f.level, f.entity_id, f.ds""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q79_forecast_backtest" -> forecastBacktest,
    "q82_model_selection" -> modelSelection,
    "q83_model_leaderboard" -> modelLeaderboard,
    "q90_champion_forecasts" -> championForecasts,
    "q103_champion_all_levels" -> championForecastsAll)

  override def oracles: Map[String, String] = Map(
    "q79_forecast_backtest" -> forecastBacktestSql,
    "q82_model_selection" -> modelSelectionSql,
    "q83_model_leaderboard" -> modelLeaderboardSql,
    "q90_champion_forecasts" -> championForecastsSql,
    "q103_champion_all_levels" -> championForecastsAllSql)
}
