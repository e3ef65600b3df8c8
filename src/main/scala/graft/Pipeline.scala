package graft

import graft.functions.Cleaning._
import graft.operators.{DqChecks, GoldMarts}
import graft.sources.LayerStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's `etl.py --layer all` orchestrator (SURVEY §3.1) as
  * one Spark program with strict layer gating: silver runs only if
  * bronze succeeded, gold only if silver, exactly like
  * etl.py:109-125. Each layer is a set of full-refresh writes through
  * LayerStore; the run summary mirrors etl.py:127-150.
  *
  * `sbt "runMain graft.Pipeline <sfDir> <outRoot>"`
  */
object Pipeline {

  /** One layer's outcome; `error` is the failure's exception class,
    * message and cause chain (None when the layer succeeded or never
    * ran because an earlier layer failed). */
  case class LayerResult(layer: String, ok: Boolean, tables: Long, rows: Long, seconds: Double,
      error: Option[String] = None)

  def runBronze(spark: SparkSession, store: LayerStore, sfDir: String): LayerResult = timed("bronze") {
    // upsert-style loads (S2): testdata stands in for the Sheets
    // extract; latest-wins on the natural key makes re-runs idempotent
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val keyOf = Map("region" -> "r_regionkey", "nation" -> "n_nationkey",
      "customer" -> "c_custkey", "supplier" -> "s_suppkey", "part" -> "p_partkey",
      "orders" -> "o_orderkey", "events" -> "event_id", "documents" -> "doc_id",
      "embeddings" -> "vec_id")
    var rows = 0L
    tables.foreach { t =>
      val df = Tables.t(spark, sfDir, t)
      rows += (t match {
        case "lineitem" => // composite key fact
          val (ins, _) = store.upsert("bronze", t, df,
            Seq("l_orderkey", "l_linenumber"), "l_orderkey")
          ins
        case other =>
          val (ins, _) = store.upsert("bronze", other, df, Seq(keyOf(other)), keyOf(other))
          ins
      })
    }
    (tables.size.toLong, rows)
  }

  /** The reference's six-entity cleaning pipeline
    * (silver/silver_builder.py:1101-1166): per-entity clean/reject/
    * score via SilverLayer, plus the three audit surfaces — rejected
    * rows with full-record JSON payloads (audit.rejected_rows),
    * silver.quality_issues_log, and per-step in/out/rejected
    * accounting (audit.etl_steps). */
  def runSilver(spark: SparkSession, store: LayerStore, runId: String): LayerResult = timed("silver") {
    import spark.implicits._
    val entities = graft.operators.SilverLayer.buildAll(store.table("bronze", _))
    val outRows = entities.map { case (name, e) => store.write("silver", name, e.clean) }
    var rows = outRows.sum
    // each entity's reject count is observed inside the one
    // rejected_rows write instead of a count() of its own
    val rejected = entities.map { case (_, e) => LayerStore.counted(e.rejected) }
    store.write("audit", "rejected_rows",
      rejected.map(_._1).reduce(_ unionByName _).withColumn("run_id", lit(runId)))
    val steps = entities.map(_._1).zip(outRows).zip(rejected.map(_._2())).map {
      case ((name, out), rej) => (s"clean_$name", name, out + rej, out, rej)
    }
    store.write("silver", "quality_issues_log",
      entities.map(_._2.issues)
        .foldLeft(graft.operators.SilverLayer.emptyIssues(spark))(_ unionByName _))
    store.append("audit", "etl_steps",
      steps.toDF("step_executed", "table_name", "input_count", "output_count", "rejected_count")
        .withColumn("run_id", lit(runId))
        .withColumn("logged_at", current_timestamp()))
    entities.foreach(_._2.release()) // drop the staged caches
    // kept from the pre-entity layer: the orders/lineitem silver twins
    // the gold marts read (S3 scan -> S5 reload)
    val o = store.table("bronze", "orders")
    val cleanedOrders = o.select(
      col("o_orderkey"), col("o_custkey"),
      mapStatus(col("o_orderstatus"),
        Map("fulfilled" -> Seq("f"), "open" -> Seq("o"), "partial" -> Seq("p"))).as("status"),
      col("o_totalprice").cast(DecimalType(15, 4)).as("total_price"),
      col("o_orderdate").cast(DateType).as("order_date"),
      cleanText(col("o_orderpriority")).as("priority"))
    // null-safe complements: a NULL total_price fails `>= 0` AND
    // `< 0`, which would drop the row from BOTH clean and rejected —
    // breaking the rejected + clean = input accounting contract
    val priceOk = coalesce(col("total_price") >= 0, lit(false))
    rows += store.write("silver", "orders",
      cleanedOrders.filter(col("order_date").isNotNull && priceOk))
    store.write("audit", "rejected_orders",
      cleanedOrders.filter(col("order_date").isNull || !priceOk)
        .withColumn("reject_reason", lit("invalid_date_or_price")))
    val l = store.table("bronze", "lineitem")
    rows += store.write("silver", "lineitem", cleanLineitem(l))
    // conformed dim twins: cleaned, key-complete copies of each star
    // dimension. Gold reads ONLY silver (the medallion contract —
    // gold/gold_builder.py:101-103 reads silver.* exclusively), so
    // every table its marts join must exist in the silver layer.
    val dims = Seq("part" -> "p_partkey", "customer" -> "c_custkey",
      "supplier" -> "s_suppkey", "nation" -> "n_nationkey",
      "region" -> "r_regionkey")
    dims.foreach { case (t, key) =>
      rows += store.write("silver", t,
        store.table("bronze", t).filter(col(key).isNotNull))
    }
    (entities.size + 2L + dims.size, rows)
  }

  /** Gold's input resolver over the WRITTEN silver tables (see
    * GoldMarts.Resolver). silver.orders stores the cleaned reference
    * shape (status vocabulary, typed date); this conformance view maps
    * it back to the star contract the marts consume — the inverse of
    * runSilver's mapStatus dictionary, NULL for vocabulary the marts
    * never match ("unknown"). Rows silver rejected (invalid date /
    * negative price orders, non-positive-quantity lineitems) are
    * absent here, so they are provably absent from every gold mart. */
  private def silverStarResolver(store: LayerStore): GoldMarts.Resolver = {
    case "orders" =>
      store.table("silver", "orders").select(
        col("o_orderkey"), col("o_custkey"),
        // explicit 'U' sentinel for vocabulary outside the dictionary
        // (mapStatus's "unknown"): the marts' status-membership filters
        // drop it either way, but a NULL here would also null
        // dashboard's order_status for a row silver ACCEPTED, which
        // reads as a join miss rather than what it is
        when(col("status") === "fulfilled", "F")
          .when(col("status") === "open", "O")
          .when(col("status") === "partial", "P")
          .otherwise("U").as("o_orderstatus"),
        col("order_date").as("o_orderdate"))
    case name => store.table("silver", name)
  }

  /** Incremental gold refresh — the reference's TRUNCATE+reload gold
    * rebuild (gold_builder.py) recomputes every month from all
    * history each run; at 100 TB that is a full-history shuffle for a
    * delta touching a handful of months. This recomputes ONLY the
    * sales months present in `deltaOrders` (the silver order rows
    * added/changed since the last gold build — for an order that MOVED
    * months, the caller includes both versions, the standard
    * incremental-delta contract) and swaps those months' rows in the
    * stored mart via the key-scoped overwrite.
    *
    * Correct by the mart's own grain: every monthly_sales group key
    * includes sales_month, so a month-sliced rebuild over the filtered
    * star equals the full rebuild's slice exactly — the spec
    * (IncrementalMartSpec) asserts frame equality against a from-
    * scratch build. The month list is a driver-side collect, bounded
    * by the calendar (a 10-year corpus is ~120 months), not the data.
    * At scale the month filter prunes partitions of a date-partitioned
    * fact at the scan. */
  def refreshMonthlySales(spark: SparkSession, store: LayerStore,
      deltaOrders: DataFrame): Long = {
    val monthOf = date_trunc("month", col("o_orderdate")).cast(DateType)
    val months = deltaOrders.select(monthOf.as("m")).distinct()
      .collect().map(_.getDate(0)).toSeq
    if (months.isEmpty) 0L
    else {
      val base = silverStarResolver(store)
      val resolve: GoldMarts.Resolver = {
        case "orders" => base("orders").filter(monthOf.isin(months: _*))
        case t => base(t)
      }
      withMaterializer { mat =>
        store.overwriteKeys("gold", "monthly_sales",
          GoldMarts.monthlySalesFrom(resolve, mat), "sales_month", months)
      }
    }
  }

  /** Restrict `df` to the rows whose `keys` appear in `keyFrame` —
    * the shared delta-scoping move of every incremental refresh. The
    * physical shape is ADVISED per call (util.JoinAdvisor): the key
    * frame's distinct count is KMV-sketched and the semi-join
    * broadcasts when it fits the budget (the common small-delta case,
    * the previous unconditional behavior) but pins a merge join for a
    * full-refresh-sized delta a blind broadcast would OOM on.
    * Column order of `df` is preserved (USING-semi-join reorder
    * rule — the tuple-key swap downstream compares schemas
    * positionally). */
  private def restrictToKeys(df: DataFrame, keys: Seq[String],
      keyFrame: DataFrame, sketch: Option[Seq[String]] = None): DataFrame =
    sketch match {
      case Some(m) =>
        graft.util.JoinAdvisor.advisedSemiJoinFromMinima(df, keys, keyFrame, m)
      case None => graft.util.JoinAdvisor.advisedSemiJoin(df, keys, keyFrame)
    }

  /** Land an incremental delta as a STORED staging table plus a
    * persisted KMV key sketch per key set the refresh paths scope by —
    * ANALYZE-at-ingest. Every later refresh that reads this staging
    * table advises its semi-joins from the sidecars
    * (JoinAdvisor.advisedSemiJoinFromMinima) with ZERO extra scan
    * jobs; without the sidecar the advisor falls back to sketching by
    * scan. At 100 TB the write-side sketch is a mergeable per-split
    * accumulator riding the ingest job — the scan it replaces at plan
    * time is of the (possibly large) delta, once per refresh path. */
  def landDelta(store: LayerStore, layer: String, name: String,
      delta: DataFrame, keySets: Seq[Seq[String]]): Unit = {
    store.write(layer, name, delta)
    keySets.foreach(ks => store.writeKeySketch(layer, name, ks))
  }

  /** The staging table's persisted minima for `keys`, if landDelta
    * (or any writeKeySketch) left a sidecar; None → callers scan. */
  private def storedSketch(store: LayerStore, layer: String, name: String,
      keys: Seq[String]): Option[Seq[String]] =
    if (!store.exists(layer, name)) None
    else store.keySketch(layer, name, keys).map(_._2)

  /** Stored-delta twin of [[refreshSilverLineitem]]: the delta is read
    * from its landed staging table and the delta-scoping semi-join is
    * advised from the table's persisted key sketch — no extra scan
    * job at plan time (falls back to the scanning advise when the
    * sidecar is missing). Same rows written as the frame form: the
    * sketch changes the decision's COST, never its inputs. */
  def refreshSilverLineitemStored(spark: SparkSession, store: LayerStore,
      deltaLayer: String, deltaName: String): Long = {
    val keys = Seq("l_orderkey", "l_linenumber")
    val delta = store.table(deltaLayer, deltaName)
    val fresh = restrictToKeys(store.table("bronze", "lineitem"), keys,
      delta.select(keys.map(col): _*).distinct(),
      storedSketch(store, deltaLayer, deltaName, keys))
    store.overwriteMatching("silver", "lineitem", cleanLineitem(fresh),
      keys, delta)
  }

  /** Stored-delta twins of the gold refreshes: the delta reads from
    * its landed staging table and every delta-scoping semi-join is
    * advised from that table's persisted key sketches — zero extra
    * scan jobs at plan time, scanning fallback when a sidecar is
    * absent. */
  def refreshSupplierMartsStored(spark: SparkSession, store: LayerStore,
      deltaLayer: String, deltaName: String): (Long, Long) =
    refreshSupplierMarts(spark, store, store.table(deltaLayer, deltaName),
      ks => storedSketch(store, deltaLayer, deltaName, ks))

  def refreshDashboardStored(spark: SparkSession, store: LayerStore,
      deltaLayer: String, deltaName: String): Long =
    refreshDashboard(spark, store, store.table(deltaLayer, deltaName),
      ks => storedSketch(store, deltaLayer, deltaName, ks))

  /** Incremental refresh of the supplier-keyed marts: inventory_health
    * (grain s_suppkey × s_name × p_type) and supplier_monthly (grain
    * order_month × s_suppkey × s_name). Every group key carries
    * s_suppkey, so a supplier-sliced rebuild over the filtered fact
    * equals the full rebuild's slice exactly — the month-slicing
    * argument of refreshMonthlySales, on the supplier axis. The delta
    * names WHICH lineitem rows changed (for a row that MOVED
    * suppliers, the caller includes both versions — the standard
    * incremental-delta contract); content comes from the CURRENT
    * silver tables, so run refreshSilverLineitem first. No driver
    * collect anywhere: the delta's supplier set broadcasts as a frame
    * into both the fact filter (semi-join) and the key-scoped swap
    * (overwriteMatching) — at scale a supplier-clustered fact layout
    * would prune at the scan. Returns rows written per mart. */
  def refreshSupplierMarts(spark: SparkSession, store: LayerStore,
      deltaLineitem: DataFrame,
      sketchOf: Seq[String] => Option[Seq[String]] = _ => None): (Long, Long) = {
    if (deltaLineitem.isEmpty) (0L, 0L)
    else {
      val supKeys = deltaLineitem.select(col("l_suppkey")).distinct()
      val base = silverStarResolver(store)
      val resolve: GoldMarts.Resolver = {
        case "lineitem" => restrictToKeys(base("lineitem"), Seq("l_suppkey"), supKeys,
          sketchOf(Seq("l_suppkey")))
        case t => base(t)
      }
      val asSupp = broadcast(supKeys.select(col("l_suppkey").as("s_suppkey")))
      withMaterializer { mat =>
        (store.overwriteMatching("gold", "inventory_health",
          GoldMarts.inventoryHealthFrom(resolve), Seq("s_suppkey"), asSupp),
          store.overwriteMatching("gold", "supplier_monthly",
            GoldMarts.supplierMonthlyFrom(resolve, mat), Seq("s_suppkey"), asSupp))
      }
    }
  }

  /** Incremental DASHBOARD refresh: the mart is one row per fact line
    * — its grain IS the lineitem key, so the delta's keys rebuild
    * through the same 4-way LEFT star (dimension sides broadcast;
    * only delta rows re-project) and tuple-key-swap into the stored
    * mart. A delta key deleted from silver deletes its dashboard row,
    * like the full rebuild would drop it. Content comes from the
    * CURRENT silver tables — run refreshSilverLineitem first. */
  def refreshDashboard(spark: SparkSession, store: LayerStore,
      deltaLineitem: DataFrame,
      sketchOf: Seq[String] => Option[Seq[String]] = _ => None): Long = {
    if (deltaLineitem.isEmpty) 0L
    else {
      val keys = Seq("l_orderkey", "l_linenumber")
      val keyFrame = deltaLineitem.select(keys.map(col): _*).distinct()
      val base = silverStarResolver(store)
      val resolve: GoldMarts.Resolver = {
        case "lineitem" => restrictToKeys(base("lineitem"), keys, keyFrame,
          sketchOf(keys))
        case t => base(t)
      }
      store.overwriteMatching("gold", "dashboard",
        GoldMarts.dashboardFrom(resolve), keys, keyFrame)
    }
  }

  /** Incremental BACKTEST refresh: re-score ONLY what the delta can
    * have moved, instead of runGold's full 24-combo re-fit. A changed
    * lineitem moves exactly three series — its supplier's, its part's,
    * and its supplier's region's — and the PER-ENTITY models' metrics
    * depend only on their own series, so those fits run over the fact
    * filtered to the delta's entities (semi-join against a broadcast
    * entity frame; at scale an entity-clustered layout prunes at the
    * scan) and tuple-key-swap into gold.forecast_metrics. The POOLED
    * global_ar model is different by nature: its coefficients couple
    * every series, so ANY delta shifts every entity's global_ar
    * metrics — it re-fits over the full fact (one map-side-combined
    * regression plus an entity-sized forecast unroll, not a per-entity
    * fit explosion) and swaps by model. Selection then re-runs over
    * the stored metrics artifact — entity-count-sized, one window —
    * because a pooled-coefficient shift can flip any entity's
    * champion, not just the delta's. Equality with a full re-score is
    * exact (the spec pins it); an entity whose rows all disappeared
    * loses its per-entity metrics and selection, as a full rebuild
    * would drop them. Content comes from CURRENT silver — run
    * refreshSilverLineitem first. Returns (metrics, selection) rows
    * written. */
  def refreshModelSelection(spark: SparkSession, store: LayerStore,
      deltaLineitem: DataFrame): (Long, Long) = {
    if (deltaLineitem.isEmpty) (0L, 0L)
    else {
      import graft.operators.{Backtest, Forecasting}
      val resolve: String => DataFrame = store.table("silver", _)
      // supplier → region dim chain, as the region level frame builds it
      val supRegion = broadcast(
        resolve("supplier").select(col("s_suppkey"), col("s_nationkey"))
          .join(resolve("nation").select(col("n_nationkey"), col("n_regionkey")),
            col("s_nationkey") === col("n_nationkey"))
          .join(resolve("region").select(col("r_regionkey"), col("r_name")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"), col("r_name")))
      val deltaSups = deltaLineitem.select(col("l_suppkey")).distinct()
      val deltaRegions = deltaSups
        .join(supRegion, col("l_suppkey") === col("s_suppkey"))
        .select(col("r_name")).distinct()
      withMaterializer { mat =>
        val byLevel = Forecasting.levels.map { lv =>
          // (fact filter key, delta entity frame, swap-key frame)
          val (keyCol, factKeys, entityIds) = lv match {
            case "supplier" => ("l_suppkey", deltaSups,
              deltaSups.select(col("l_suppkey").cast(StringType).as("entity_id")))
            case "product" =>
              val parts = deltaLineitem.select(col("l_partkey")).distinct()
              ("l_partkey", parts,
                parts.select(col("l_partkey").cast(StringType).as("entity_id")))
            case "region" =>
              // a changed supplier changes its whole REGION's series:
              // the fact filter is every supplier of the delta's regions
              val sups = deltaRegions
                .join(supRegion, Seq("r_name"))
                .select(col("s_suppkey").as("l_suppkey"))
              ("l_suppkey", sups,
                deltaRegions.select(col("r_name").as("entity_id")))
          }
          val resolveL: String => DataFrame = {
            case "lineitem" => restrictToKeys(resolve("lineitem"), Seq(keyCol), factKeys)
            case t => resolve(t)
          }
          (Backtest.metricsOverLevels(resolveL, mat, atLevels = Seq(lv),
            atModels = Backtest.perEntityModels),
            entityIds.select(lit(lv).as("level"), col("entity_id")))
        }
        val perEntityDelta = mat(byLevel.map(_._1).reduce(_ unionByName _))
        val modelsDf = spark.createDataset(Backtest.perEntityModels)(
          org.apache.spark.sql.Encoders.STRING).toDF("model")
        val perEntityKeys = byLevel.map(_._2).reduce(_ unionByName _)
          .crossJoin(broadcast(modelsDf))
        // the pooled model: full-fact refit, all entities, swap by model
        val pooledAll = mat(Backtest.metricsOverLevels(resolve, mat,
          atModels = Seq("global_ar")))
        store.overwriteMatching("gold", "forecast_metrics", perEntityDelta,
          Seq("level", "entity_id", "model"), perEntityKeys)
        val nM = store.overwriteMatching("gold", "forecast_metrics", pooledAll,
          Seq("model"), pooledAll.select(col("model")).distinct())
        val nS = store.write("gold", "model_selection",
          Backtest.championOver(store.table("gold", "forecast_metrics")))
        (nM, nS)
      }
    }
  }

  /** Incremental SILVER refresh for the lineitem fact: re-clean ONLY
    * a bronze delta's keys and tuple-key-swap them into
    * silver.lineitem — the alternative to the reference's
    * TRUNCATE+reload (S5) once the fact outgrows full reloads. The
    * delta names WHICH keys changed; their CONTENT is re-read from
    * the post-upsert bronze table (the caller lands the delta via
    * store.upsert first, per IncrementalSilverSpec) — feeding the raw
    * delta to the swap instead would append BOTH versions of a key
    * the delta holds twice, where bronze's latest-wins keeps one.
    * Cost is sized by the delta (its keys broadcast against the
    * stored scans; only delta keys re-run the cleaning predicate),
    * and a delta row that FAILS validation deletes its stale silver
    * row — exactly what the full reload would drop, which a bare
    * upsert would silently keep (IncrementalSilverSpec pins the
    * equality against a from-scratch re-clean). Returns the table
    * size after the swap. */
  def refreshSilverLineitem(spark: SparkSession, store: LayerStore,
      bronzeDelta: DataFrame): Long = {
    val keys = Seq("l_orderkey", "l_linenumber")
    val fresh = restrictToKeys(store.table("bronze", "lineitem"), keys,
      bronzeDelta.select(keys.map(col): _*).distinct())
    store.overwriteMatching("silver", "lineitem", cleanLineitem(fresh),
      keys, bronzeDelta)
  }

  /** THE silver.lineitem cleaning rule — one definition shared by the
    * full reload (runSilver) and the incremental refresh, so the two
    * paths cannot silently apply different predicates. */
  private def cleanLineitem(l: DataFrame): DataFrame =
    l.filter(col("l_quantity") > 0)

  /** The gold resolver, exposed for incremental/partial builds in
    * specs and tooling. */
  private[graft] def goldResolver(store: LayerStore): GoldMarts.Resolver =
    silverStarResolver(store)

  /** Run `body` with a materializer that persists frames for the
    * duration of the call only (the query surface memoizes
    * session-lifetime instead; here the pin must not outlive the
    * layer build). Thread-safe: the backtest pins from its concurrent
    * group threads. */
  private def withMaterializer[T](body: (DataFrame => DataFrame) => T): T = {
    val persisted = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]
    def mat(df: DataFrame): DataFrame = {
      val p = df.persist(); p.count(); persisted.add(p); p
    }
    try body(mat) finally persisted.forEach(_.unpersist())
  }

  /** Gold layer build. `forecastModel`/`forecastGranularity` select
    * the forecasting model per run, like the reference's CLI
    * (forecasting.py:434-449); see operators.Forecasting.models.
    * Granularity "auto" = the model's default (daily for global_ar,
    * weekly otherwise) — shared by every entry point. An unsupported
    * model or granularity fails the layer before any gold table is
    * written. */
  def runGold(spark: SparkSession, store: LayerStore, runId: String,
      forecastModel: String = "global_ar",
      forecastGranularity: String = "auto"): LayerResult = timed("gold") {
    val granularity =
      if (forecastGranularity == "auto")
        graft.operators.Forecasting.defaultGranularity(forecastModel)
      else forecastGranularity
    graft.operators.Forecasting.requireSupported(Seq(forecastModel), granularity)
    // every mart builds from the silver tables runSilver just WROTE —
    // bronze→silver→gold lineage, never raw source
    val resolve = silverStarResolver(store)
    val marts = Seq(
      "monthly_sales" -> ((mat: DataFrame => DataFrame) => GoldMarts.monthlySalesFrom(resolve, mat)),
      "inventory_health" -> ((_: DataFrame => DataFrame) => GoldMarts.inventoryHealthFrom(resolve)),
      "supplier_monthly" -> ((mat: DataFrame => DataFrame) => GoldMarts.supplierMonthlyFrom(resolve, mat)),
      "dashboard" -> ((_: DataFrame => DataFrame) => GoldMarts.dashboardFrom(resolve)))
    val counts = withMaterializer { mat =>
      marts.map { case (name, build) => name -> store.write("gold", name, build(mat)) }
    }
    // gold.forecasts via run-scoped overwrite (forecasting.py:86-105):
    // the selected model's horizon for every entity at EVERY level —
    // the reference's run_parallel_forecasts pools all levels into the
    // one gold write (forecasting.py:339-352) — demand series derived
    // from the WRITTEN silver tables like every other gold input,
    // replacing only this run's rows on re-run
    val nFc = withMaterializer { mat =>
      val forecasts = graft.operators.Forecasting.runOverLevels(
        store.table("silver", _), forecastModel, granularity, mat)
        .withColumn("run_id", lit(runId))
      store.overwriteRun("gold", "forecasts", forecasts, "run_id", runId)
    }
    // gold.forecast_metrics: the held-out backtest of EVERY model ×
    // granularity × level — the measured basis for choosing
    // forecastModel that the reference only claims ("85%+ accuracy",
    // README:364, computed nowhere). Full refresh: the backtest is
    // deterministic in the silver tables, so per-run scoping would
    // only duplicate identical rows.
    val (nMetrics, nSel) = withMaterializer { mat =>
      val metrics = mat(
        graft.operators.Backtest.metricsOverLevels(store.table("silver", _), mat))
      // gold.model_selection: the champion model per series (argmin
      // held-out sMAPE) — the actionable form of the backtest a
      // consumer reads to pick forecastModel per entity
      (store.write("gold", "forecast_metrics", metrics),
        store.write("gold", "model_selection",
          graft.operators.Backtest.championOver(metrics)))
    }
    store.writeMetadata(counts.map { case (name, n) =>
      (name, s"gold mart $name", Seq("silver.orders", "silver.lineitem",
        "silver.part", "silver.customer", "silver.supplier"), n)
    } :+ ("forecasts", s"$forecastModel $granularity forecast horizon",
      Seq("silver.lineitem"), nFc)
      :+ ("forecast_metrics", "held-out backtest: sMAPE/MAE per model x granularity x level",
        Seq("silver.lineitem"), nMetrics)
      :+ ("model_selection", "champion model per (granularity, level, entity): argmin held-out sMAPE",
        Seq("gold.forecast_metrics"), nSel))
    // the 12 DQ assertions run over the gold tables just WRITTEN (the
    // reference validates the stored gold layer) and are recorded;
    // like the reference the pipeline reports failures in its summary
    // rather than aborting (gold_builder.py:529-567). NB the lead-time
    // check legitimately fires on this synthetic data (shipdate
    // independent of orderdate).
    val dq = DqChecks.checksOver(
      store.table("gold", "monthly_sales"), store.table("gold", "supplier_monthly"))
    store.write("audit", "dq_results", dq)
    val failed = dq.filter(!col("passed")).count()
    if (failed > 0) System.err.println(s"[pipeline] $failed/12 gold DQ checks flagged violations (recorded in audit.dq_results)")
    (marts.size.toLong + 3, counts.map(_._2).sum + nFc + nMetrics + nSel) // 7 tables' rows
  }

  private def timed(layer: String)(body: => (Long, Long)): LayerResult = {
    val t0 = System.nanoTime()
    try {
      val (tables, rows) = body
      LayerResult(layer, ok = true, tables, rows, (System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Throwable =>
        System.err.println(s"[pipeline] $layer failed:")
        e.printStackTrace() // stderr, with the "Caused by:" chain
        LayerResult(layer, ok = false, 0, 0, (System.nanoTime() - t0) / 1e9,
          Some(describe(e)))
    }
  }

  /** "Class: message; caused by: Class: message; ..." over the cause
    * chain (bounded, so a cyclic chain cannot loop). */
  private[graft] def describe(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString("; caused by: ")

  /** Full pipeline with layer gating; returns per-layer results and
    * appends the run to audit.etl_log (the reference's per-step
    * in/out/duration accounting, silver/silver_builder.py:497-516),
    * with a failed layer's exception and causes in its `error`
    * column. */
  def run(spark: SparkSession, sfDir: String, outRoot: String,
      forecastModel: String = "global_ar",
      forecastGranularity: String = "auto"): Seq[LayerResult] = {
    val store = new LayerStore(spark, outRoot)
    val runId = java.util.UUID.randomUUID().toString
    val bronze = runBronze(spark, store, sfDir)
    val silver = if (bronze.ok) runSilver(spark, store, runId)
      else LayerResult("silver", ok = false, 0, 0, 0)
    val gold = if (silver.ok) runGold(spark, store, runId, forecastModel, forecastGranularity)
      else LayerResult("gold", ok = false, 0, 0, 0)
    val results = Seq(bronze, silver, gold)
    import spark.implicits._
    store.append("audit", "etl_log",
      results.map(r => (r.layer, r.ok, r.tables, r.rows, r.seconds, r.error))
        .toDF("layer", "ok", "tables", "rows", "seconds", "error")
        .withColumn("logged_at", org.apache.spark.sql.functions.current_timestamp()))
    results
  }

  /** CLI mirrors the reference's `etl.py` + forecasting model flags
    * (forecasting.py:434-449): <sfDir> <outRoot> [model] [granularity]. */
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val outRoot = if (args.length > 1) args(1) else "/tmp/graft-pipeline"
    val model = if (args.length > 2) args(2) else "global_ar"
    val granularity = if (args.length > 3) args(3) else "auto"
    val spark = Session.local()
    val results = run(spark, sfDir, outRoot, model, granularity)
    results.foreach(r => println(
      f"[pipeline] ${r.layer}%-7s ok=${r.ok} tables=${r.tables} rows=${r.rows} ${r.seconds}%.1fs"))
    spark.stop()
    if (!results.forall(_.ok)) sys.exit(1)
  }
}
