package graft.operators

import graft.QueryModule
import graft.util.Parity._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

/** The reference's GLOBAL autoregressive forecasting model
  * (forecasting.py:244-335): one model trained over the pooled panel
  * of every entity's lag_1/lag_7/lag_14/roll_mean_7 features, then an
  * autoregressive predict loop that feeds each step's prediction back
  * into the next step's lags. LightGBM has no JVM port (SURVEY §7.4);
  * the model here is the closed-form global OLS-AR on the same
  * features — same panel construction, same feature set, same
  * autoregressive recursion, same output interface
  * (ds/yhat/bounds/granularity/model/level/entity_id,
  * forecasting.py:67-81,331-334), exactly solvable in both engines.
  *
  * Parity by construction: the 5×5 normal-equation solve (Gaussian
  * elimination, no pivoting — X'X is positive definite) and the
  * 7-step unrolled AR recursion are GENERATED once as formula text
  * and evaluated verbatim by both Spark (`expr`) and DuckDB, over
  * sums that are exact (decimal-routed, order-independent). Identical
  * IEEE-754 expression trees on identical inputs are bit-identical.
  *
  * Two deliberate fixes to reference quirks, documented:
  *  - roll_mean_7 at TRAINING uses the trailing-exclusive window
  *    (rows -7..-1). The reference leaks the current y into its
  *    training roll feature (forecasting.py:272) but excludes it at
  *    predict time (forecasting.py:315) — here train and predict
  *    agree, matching the predict-time semantics.
  *  - the reference appends the UNclamped prediction to history but
  *    emits max(0, yhat) (forecasting.py:318-321); reproduced.
  *
  * Scale: training is ONE window pass + ONE global aggregation to a
  * single 20-number row (partial aggregation map-side; no shuffle of
  * the panel itself); the solve is O(1); prediction broadcasts the
  * 1-row model to a per-entity 14-value history frame. The reference
  * re-queries the database per entity per step (forecasting.py:300);
  * here the horizon loop is unrolled into columnar expressions — no
  * driver-side iteration at any scale.
  */
object GlobalAR extends QueryModule {

  private val H = 7 // forecast horizon, days

  /** Gaussian elimination for the 5-unknown normal equations, emitted
    * as (name, formula) pairs in evaluation order. Matrix entries are
    * the aggregated sums s{i}{j} (upper triangle, symmetric), RHS
    * t0..t4; output beta0..beta4. No pivoting: X'X of a full-rank
    * feature matrix is positive definite, so leading minors never
    * vanish. */
  private[graft] def solveFormulas: Seq[(String, String)] = {
    val buf = collection.mutable.ArrayBuffer.empty[(String, String)]
    val a = Array.tabulate(5, 5)((i, j) => s"s${i min j}${i max j}")
    val b = Array.tabulate(5)(i => s"t$i")
    for (k <- 0 until 4) {
      for (i <- k + 1 until 5) {
        val m = s"m$i$k"
        buf += m -> s"(${a(i)(k)} / ${a(k)(k)})"
        for (j <- k + 1 until 5)
          buf += s"a${k + 1}_$i$j" -> s"(${a(i)(j)} - ($m * ${a(k)(j)}))"
        buf += s"b${k + 1}_$i" -> s"(${b(i)} - ($m * ${b(k)}))"
      }
      for (i <- k + 1 until 5; j <- k + 1 until 5) a(i)(j) = s"a${k + 1}_$i$j"
      for (i <- k + 1 until 5) b(i) = s"b${k + 1}_$i"
    }
    buf += "beta4" -> s"(${b(4)} / ${a(4)(4)})"
    for (i <- 3 to 0 by -1) {
      val sub = (i + 1 to 4).map(j => s"(${a(i)(j)} * beta$j)")
        .foldLeft(b(i))((acc, t) => s"($acc - $t)")
      buf += s"beta$i" -> s"($sub / ${a(i)(i)})"
    }
    buf.toSeq
  }

  /** The unrolled autoregressive recursion (forecasting.py:303-321):
    * step k's lag_1 is step k-1's prediction, lag_7/lag_14 shift
    * through history h1..h14 (h1 = newest), roll_7 is the mean of the
    * 7 most recent values (predictions first). Fixed left-associated
    * operand order so both engines evaluate identically. */
  private[graft] def stepFormulas: Seq[(String, String)] = {
    val buf = collection.mutable.ArrayBuffer.empty[(String, String)]
    for (k <- 1 to H) {
      val lag1 = if (k == 1) "h1" else s"p${k - 1}"
      val rollTerms = ((k - 1) to 1 by -1).map(i => s"p$i") ++ (1 to (8 - k)).map(i => s"h$i")
      buf += s"roll_$k" -> s"(${rollTerms.reduceLeft((acc, t) => s"($acc + $t)")} / 7.0)"
      buf += s"p$k" ->
        s"((((beta0 + (beta1 * $lag1)) + (beta2 * h${8 - k})) + (beta3 * h${15 - k})) + (beta4 * roll_$k))"
    }
    buf.toSeq
  }

  /** q50 — the global AR model end-to-end: panel features over every
    * entity's gap-filled daily series, one pooled OLS fit, 7-day
    * autoregressive forecast per entity in the reference's output
    * interface. */
  def forecastGlobalAr(s: SparkSession, dir: String): DataFrame =
    globalArCore(Forecast.dailySeries(s, dir), stepDays = 1, granularity = "daily")

  /** q55 — the same global AR model at WEEKLY granularity (the
    * reference's second granularity mode, forecasting.py:303: weekly
    * steps advance one week per autoregressive round; the lag indices
    * stay 1/7/14 ROWS, i.e. weeks). */
  def forecastGlobalArWeekly(s: SparkSession, dir: String): DataFrame =
    globalArCore(
      Forecast.weekly(s, dir).select(col("entity"), col("week").as("ds"), col("y")),
      stepDays = 7, granularity = "weekly")

  /** Short-history deviation (documented): entities with fewer than 14
    * (or 7) observations get zero-padded h_k lags, and roll_7 always
    * divides by 7 — the reference's predict loop instead takes
    * np.mean(hist[-7:]) over however many points exist
    * (forecasting.py:322), so short-series forecasts differ from the
    * reference there. Spark and the DuckDB oracle share these
    * fixed-denominator semantics (q50/q55 pin them); the deviation
    * only matters for entities younger than the lag window. */
  private[operators] def globalArCore(series: DataFrame, stepDays: Int,
    granularity: String, level: String = "supplier"): DataFrame = {
    val w = Window.partitionBy(col("entity")).orderBy(col("ds"))
    val wPrev7 = w.rowsBetween(-7, -1)
    val feat = series
      .withColumn("lag_1", lag(col("y"), 1).over(w))
      .withColumn("lag_7", lag(col("y"), 7).over(w))
      .withColumn("lag_14", lag(col("y"), 14).over(w))
      // integer window sum (y is an integer-valued series) — the
      // roll7 feature enters the fit as this exact integer NUMERATOR;
      // the /7 rescaling happens once per AGGREGATE below, not per row
      .withColumn("roll7_num", sum(col("y").cast(LongType)).over(wPrev7))
      .filter(col("lag_14").isNotNull)
    // the 20 sums of the normal equations — exact reductions, one
    // global aggregation to a single row. Every feature is
    // integer-valued (roll7 via its numerator), so every Gram sum
    // runs as codegen'd LONG adds; the six roll7 sums divide by
    // 7 / 49 once at the end (sum(roll7·x) = sum(roll7_num·x)/7 —
    // exact integer sum, ONE double division). The previous
    // DecimalType(38,8) accumulation of those six sums was the
    // dominant global_ar cost (9.2 s of a 10.2 s daily refit at
    // sf0.1): precision-38 decimal sums run on the interpreted
    // Decimal128 path, ~12× the long-sum cost.
    // Exactness bounds: factors cast to LONG before multiplying, so
    // per-row products are exact to 2^63 (tighter than the old
    // double-product 2^53 bound); the long SUM is exact while
    // Σ 7·maxY² < 2^63 — the roll7 numerator tightens the old bound
    // by 7×/49×, far above any realistic quantity series. Beyond the
    // bound the failure is LOUD, not silent: the session runs Spark's
    // default ANSI mode, where long multiply/sum overflow throws (the
    // Parity.scaledSum contract); a series that genuinely exceeds it
    // should fit through a DecimalType accumulation variant instead.
    val fs = Map("1" -> col("lag_1"), "2" -> col("lag_7"),
      "3" -> col("lag_14"), "4" -> col("roll7_num"))
    def sL(c: org.apache.spark.sql.Column) =
      sum(c.cast(LongType)).cast(DoubleType)
    def sP(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      sum(a.cast(LongType) * b.cast(LongType)).cast(DoubleType)
    // 7^(roll7 factors in the aggregate) — the one-shot rescale
    def descale(c: org.apache.spark.sql.Column, is: String*) =
      math.pow(7.0, is.count(_ == "4").toDouble) match {
        case 1.0 => c
        case d => c / lit(d)
      }
    val sumCols =
      Seq(count(lit(1)).cast(DoubleType).as("s00"), sL(col("y")).as("t0")) ++
      fs.toSeq.sortBy(_._1).map { case (i, f) =>
        descale(sL(f), i).as(s"s0$i") } ++
      (for { (i, fi) <- fs.toSeq.sortBy(_._1); (j, fj) <- fs.toSeq.sortBy(_._1)
             if i <= j } yield descale(sP(fi, fj), i, j).as(s"s$i$j")) ++
      fs.toSeq.sortBy(_._1).map { case (i, f) =>
        descale(sP(f, col("y")), i).as(s"t$i") }
    val fit = feat.agg(sumCols.head, sumCols.tail: _*)
    // per-entity history: newest 14 values + last date, one row each.
    // Tail prefilter before the ranking window: every caller's series
    // is gap-filled DENSE (one row per step), so the newest 14 ROWS
    // are exactly the rows within 13 steps of the entity's last date —
    // a broadcast max-date join + filter shrinks the window's sort
    // input from the full series to ≤14 rows per entity (the
    // product-level refit sorts 280k rows instead of 6.6M at sf0.1).
    val lastd = series.groupBy(col("entity"))
      .agg(date_sub(max(col("ds")), (14 - 1) * stepDays).as("tail_from"))
    val wd = Window.partitionBy(col("entity")).orderBy(col("ds").desc)
    val histCols = (1 to 14).map(k =>
      coalesce(max(when(col("rn") === k, col("y"))), lit(0.0)).as(s"h$k"))
    val hist0 = series.join(broadcast(lastd), "entity")
      .filter(col("ds") >= col("tail_from"))
      .withColumn("rn", row_number().over(wd))
      .filter(col("rn") <= 14)
      .groupBy(col("entity"))
      .agg(max(col("ds")).as("last_ds"), histCols: _*)
    // hist does not depend on the fit: materialize it (entity-count-
    // sized localCheckpoint, rebuilt every run) CONCURRENTLY with the
    // Gram fit's driver fetch — the two jobs were the arm's whole
    // serial chain, in every fullDispatch/backtest global_ar arm and
    // in q50/q55 themselves. The fit side materializes the fitted
    // model: the solve runs over ONE row of 20 exact sums, and
    // collecting its 5 coefficients (standard model-fit
    // materialization, like any MLlib estimator) keeps the unrolled AR
    // recursion's expression trees small — leaving beta0..beta4 as live
    // columns makes Catalyst's collapsed projections substitute the
    // whole elimination chain into every p_k, exponentially.
    val Seq(hist: DataFrame @unchecked, betaRow: Row) = graft.util.Par.all[Any](Seq(
      () => hist0.localCheckpoint(),
      () => solveFormulas.foldLeft(fit) { case (df, (name, f)) =>
        df.withColumn(name, expr(f)) }
        .select((0 to 4).map(i => col(s"beta$i")): _*)
        .head()))
    // an empty panel (every series shorter than the lag_14 window)
    // yields NULL sums -> NULL betas; fail with a diagnosis instead of
    // an opaque NPE from getDouble
    require((0 to 4).forall(i => !betaRow.isNullAt(i)),
      s"global AR ($granularity): training panel is empty after the lag_14 " +
        "filter — every entity has fewer than 15 observations; " +
        "cannot fit the pooled model")
    val betas = (0 to 4).map(i => s"beta$i" -> betaRow.getDouble(i))
    val withBetas = betas.foldLeft(hist) { case (df, (name, v)) =>
      df.withColumn(name, lit(v)) }
    val stepped = stepFormulas.foldLeft(withBetas) {
      case (df, (name, f)) => df.withColumn(name, expr(f)) }
    stepped
      .select(col("entity"), col("last_ds"),
        explode(array((1 to H).map(k =>
          struct(lit(k).as("h"), col(s"p$k").as("p"))): _*)).as("s"))
      .select(
        col("entity").cast(StringType).as("entity_id"),
        expr(s"date_add(last_ds, $stepDays * s.h)").as("ds"),
        snapRound(greatest(col("s.p"), lit(0.0)), 4).as("yhat"),
        lit(null).cast(DoubleType).as("yhat_lower"),
        lit(null).cast(DoubleType).as("yhat_upper"),
        lit(granularity).as("granularity"),
        lit("global_ar").as("model"),
        lit(level).as("level"))
      .orderBy(col("entity_id"), col("ds"))
  }

  private[operators] def globalArSql(seriesSql: String, stepDays: Int,
    granularity: String, level: String = "supplier"): String = {
    val solveChain = solveFormulas.foldLeft("SELECT * FROM sums") {
      case (inner, (name, f)) => s"SELECT *, $f AS $name FROM ($inner)" }
    val stepChain = stepFormulas.foldLeft(
      "SELECT h.*, s.beta0, s.beta1, s.beta2, s.beta3, s.beta4 FROM hist h CROSS JOIN solved s") {
      case (inner, (name, f)) => s"SELECT *, $f AS $name FROM ($inner)" }
    // mirror of the Spark fit's long-sum Gram aggregation: every
    // factor is an exact BIGINT (roll7 via its numerator), summed as
    // integers, rescaled by 7^(roll7 factors) once per aggregate —
    // a HUGEINT→DOUBLE cast and a long→double cast of the same
    // integer round identically
    val gramFs = Seq("lag_1" -> "1", "lag_7" -> "2", "lag_14" -> "3", "roll7_num" -> "4")
    def descaleSql(x: String, is: String*) =
      math.pow(7.0, is.count(_ == "4").toDouble) match {
        case 1.0 => x
        case d => s"$x / $d"
      }
    def bi(f: String) = if (f == "roll7_num") f else s"CAST($f AS BIGINT)"
    val sumExprs =
      Seq("CAST(count(1) AS DOUBLE) AS s00",
        "CAST(sum(CAST(y AS BIGINT)) AS DOUBLE) AS t0") ++
      gramFs.map { case (f, i) =>
        s"${descaleSql(s"CAST(sum(${bi(f)}) AS DOUBLE)", i)} AS s0$i" } ++
      (for { (fi, i) <- gramFs; (fj, j) <- gramFs if i <= j } yield
        s"${descaleSql(s"CAST(sum(${bi(fi)} * ${bi(fj)}) AS DOUBLE)", i, j)} AS s$i$j") ++
      gramFs.map { case (f, i) =>
        s"${descaleSql(s"CAST(sum(${bi(f)} * CAST(y AS BIGINT)) AS DOUBLE)", i)} AS t$i" }
    val unioned = (1 to H).map(k =>
      s"""SELECT CAST(entity AS VARCHAR) AS entity_id, last_ds + ${stepDays * k} AS ds,
         |       ${snapRoundSql(s"greatest(p$k, 0.0)", 4)} AS yhat
         |FROM stepped""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH series AS ($seriesSql),
       |feat AS (
       |  SELECT * FROM (
       |    SELECT entity, ds, y,
       |           lag(y, 1) OVER w AS lag_1,
       |           lag(y, 7) OVER w AS lag_7,
       |           lag(y, 14) OVER w AS lag_14,
       |           CAST(sum(CAST(y AS BIGINT)) OVER (PARTITION BY entity ORDER BY ds
       |                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS roll7_num
       |    FROM series
       |    WINDOW w AS (PARTITION BY entity ORDER BY ds))
       |  WHERE lag_14 IS NOT NULL),
       |sums AS (SELECT ${sumExprs.mkString(",\n       ")} FROM feat),
       |solved AS ($solveChain),
       |hist AS (
       |  SELECT entity, max(ds) AS last_ds,
       |         ${(1 to 14).map(k =>
              s"coalesce(max(CASE WHEN rn = $k THEN y END), 0.0) AS h$k").mkString(",\n         ")}
       |  FROM (SELECT entity, ds, y,
       |               row_number() OVER (PARTITION BY entity ORDER BY ds DESC) AS rn
       |        FROM series)
       |  WHERE rn <= 14 GROUP BY entity),
       |stepped AS ($stepChain)
       |SELECT entity_id, ds, yhat,
       |       CAST(NULL AS DOUBLE) AS yhat_lower,
       |       CAST(NULL AS DOUBLE) AS yhat_upper,
       |       '$granularity' AS granularity, 'global_ar' AS model, '$level' AS level
       |FROM ($unioned)
       |ORDER BY entity_id, ds""".stripMargin
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q50_forecast_global_ar" -> forecastGlobalAr,
    "q55_forecast_global_ar_weekly" -> forecastGlobalArWeekly)

  override def oracles: Map[String, String] = Map(
    "q50_forecast_global_ar" ->
      globalArSql(Forecast.dailySeriesSql, stepDays = 1, granularity = "daily"),
    "q55_forecast_global_ar_weekly" ->
      globalArSql(s"SELECT entity, week AS ds, y FROM (${Forecast.weeklySql})",
        stepDays = 7, granularity = "weekly"))
}
