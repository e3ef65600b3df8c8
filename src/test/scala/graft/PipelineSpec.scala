package graft

import graft.sources.LayerStore
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** End-to-end twin of the reference's `etl.py --layer all`: one full
  * bronze→silver→gold run on sf0.001 into a temp store, then a second
  * run to prove idempotency (upsert bronze, full-refresh silver/gold,
  * run-scoped forecasts). */
class PipelineSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private lazy val root =
    java.nio.file.Files.createTempDirectory("pipeline_spec").toString
  /** (job id, SQL execution id) of every job from the shared run on,
    * and each SQL execution's physical plan text. */
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]
  private val plans = new java.util.concurrent.ConcurrentHashMap[Long, String]
  private lazy val results = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(j.jobId -> Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).fold(-1L)(_.toLong))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => plans.put(x.executionId, x.physicalPlanDescription)
        case _ =>
      }
    })
    Pipeline.run(spark, sf0001, root)
  }
  private lazy val store = new LayerStore(spark, root)

  test("all three layers succeed") {
    assert(results.map(r => r.layer -> r.ok) ==
      Seq("bronze" -> true, "silver" -> true, "gold" -> true))
    assert(results.forall(_.rows > 0))
  }

  test("bronze + silver run one Spark action per write; counts match the tables") {
    import org.apache.spark.sql.functions.col
    results
    // runSilver's last action writes silver.region: every job up to
    // that write's last one is a bronze or silver job (both layers run
    // their jobs on the caller's thread, in order)
    def lastSilverJob: Option[Int] = {
      val exec = plans.asScala.collect {
        case (id, plan) if plan.contains(s"$root/silver/region.__staging__") => id
      }.minOption // the shared run's, not the re-run's
      exec.flatMap(e => jobs.asScala.filter(_._2 == e).map(_._1).maxOption)
    }
    val deadline = System.nanoTime() + 60e9.toLong // listener events arrive asynchronously
    while (!lastSilverJob.exists(b => jobs.asScala.exists(_._1 > b)) && System.nanoTime() < deadline)
      Thread.sleep(100)
    val boundary = lastSilverJob.getOrElse(fail("no job wrote silver.region"))
    val bronzeSilverJobs = jobs.asScala.count(_._1 <= boundary)
    // 165 before: a schema-inference job per table read, two read-back
    // count jobs per write, a count job per entity's rejected rows
    assert(bronzeSilverJobs <= 60, s"$bronzeSilverJobs jobs")
    // row totals reported by the layers are the rows the tables hold
    def rows(layer: String, tables: Seq[String]) = tables.map(store.table(layer, _).count()).sum
    val entities = Seq("suppliers", "warehouses", "retail_stores", "products", "inventory",
      "supply_orders")
    val byLayer = results.map(r => r.layer -> r.rows).toMap
    assert(byLayer("bronze") == rows("bronze", Tables.names))
    assert(byLayer("silver") == rows("silver", entities ++ Seq("orders", "lineitem", "part",
      "customer", "supplier", "nation", "region")))
    assert(byLayer("gold") == rows("gold", Seq("monthly_sales", "inventory_health",
      "supplier_monthly", "dashboard", "forecasts", "forecast_metrics", "model_selection")))
    // audit.etl_steps: the counts the tables hold, and the values the
    // per-entity count() actions recorded before
    val steps = store.table("audit", "etl_steps").orderBy("table_name")
      .select("step_executed", "table_name", "input_count", "output_count", "rejected_count")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val rejected = store.table("audit", "rejected_rows")
    steps.foreach { case (_, t, in, out, rej) =>
      assert(out == store.table("silver", t).count(), t)
      assert(rej == rejected.filter(col("table_name") === t).count(), t)
      assert(in == out + rej, t)
    }
    assert(steps.toSeq == Seq(
      ("clean_inventory", "inventory", 1812L, 1812L, 0L),
      ("clean_products", "products", 200L, 200L, 0L),
      ("clean_retail_stores", "retail_stores", 150L, 150L, 0L),
      ("clean_suppliers", "suppliers", 10L, 10L, 0L),
      ("clean_supply_orders", "supply_orders", 4599L, 4599L, 0L),
      ("clean_warehouses", "warehouses", 25L, 25L, 0L)))
  }

  test("every layer table exists with rows") {
    results // force the (lazy) pipeline run even when filtered to this test
    val expect = Seq(
      "bronze" -> Seq("orders", "lineitem", "documents", "embeddings"),
      "silver" -> Seq("suppliers", "products", "warehouses", "retail_stores",
        "inventory", "supply_orders", "orders", "lineitem", "quality_issues_log",
        "part", "customer", "supplier", "nation", "region"),
      "gold" -> Seq("monthly_sales", "inventory_health", "supplier_monthly",
        "dashboard", "forecasts", "forecast_metrics", "model_selection",
        "table_metadata"),
      "audit" -> Seq("rejected_rows", "etl_steps", "dq_results", "etl_log"))
    // rejected_rows may legitimately be empty: sf0.001 bronze is clean
    val mayBeEmpty = Set("audit.rejected_rows")
    for ((layer, tables) <- expect; t <- tables) {
      assert(store.exists(layer, t), s"$layer.$t missing")
      if (!mayBeEmpty(s"$layer.$t"))
        assert(store.table(layer, t).count() > 0, s"$layer.$t empty")
    }
  }

  test("gold derives from silver: silver-rejected rows are absent from gold") {
    import org.apache.spark.sql.functions._
    val root2 = java.nio.file.Files.createTempDirectory("pipeline_lineage").toString
    val store2 = new LayerStore(spark, root2)
    assert(Pipeline.runBronze(spark, store2, sf0001).ok)
    // poison bronze AFTER the load: a lineitem with non-positive
    // quantity, an order with a negative total price (both silver
    // reject rules), and a VALID lineitem referencing the bad order
    val li = store2.table("bronze", "lineitem")
    val badLi = li.limit(1)
      .withColumn("l_orderkey", lit(999999999L))
      .withColumn("l_quantity", lit(-5.0))
    store2.write("bronze", "lineitem", li.unionByName(badLi))
    val o = store2.table("bronze", "orders")
    val badOrder = o.limit(1)
      .withColumn("o_orderkey", lit(888888888L))
      .withColumn("o_totalprice", lit(-10.0))
    store2.write("bronze", "orders", o.unionByName(badOrder))
    val orphanLi = store2.table("bronze", "lineitem").limit(1)
      .withColumn("l_orderkey", lit(888888888L))
      .withColumn("l_quantity", lit(7.0))
    store2.write("bronze", "lineitem",
      store2.table("bronze", "lineitem").unionByName(orphanLi))
    assert(Pipeline.runSilver(spark, store2, "lineage-run").ok)
    assert(Pipeline.runGold(spark, store2, "lineage-run").ok)
    // present in bronze, rejected by silver…
    assert(store2.table("bronze", "lineitem").filter(col("l_orderkey") === 999999999L).count() == 1)
    assert(store2.table("silver", "lineitem").filter(col("l_orderkey") === 999999999L).count() == 0)
    assert(store2.table("silver", "orders").filter(col("o_orderkey") === 888888888L).count() == 0)
    // …and therefore provably absent from gold built on silver
    assert(store2.table("gold", "dashboard").filter(col("l_orderkey") === 999999999L).count() == 0)
    // the valid lineitem of the rejected order survives the LEFT star
    // but carries no order attributes — its order came from silver,
    // not raw bronze
    val orphan = store2.table("gold", "dashboard").filter(col("l_orderkey") === 888888888L)
    assert(orphan.count() == 1)
    assert(orphan.filter(col("order_date").isNull && col("order_status").isNull).count() == 1)
    // the inner-join marts exclude the rejected order entirely
    assert(store2.table("gold", "monthly_sales").count() > 0)
    // model dispatch through the pipeline: gold built with global_ar
    // above; re-running with another model swaps this run's forecasts
    // through the run-scoped overwrite
    assert(store2.table("gold", "forecasts").select("model").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("global_ar"))
    // every forecasting level in the one gold write, like the
    // reference's run_parallel_forecasts (forecasting.py:339-352)
    assert(store2.table("gold", "forecasts").select("level").distinct()
      .collect().map(_.getString(0)).toSet ==
      graft.operators.Forecasting.levels.toSet)
    assert(Pipeline.runGold(spark, store2, "lineage-run", "linear", "weekly").ok)
    assert(store2.table("gold", "forecasts").select("model").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("linear"))
    assert(store2.table("gold", "forecasts").select("level").distinct()
      .count() == graft.operators.Forecasting.levels.size)
    // the backtest table scores EVERY model x granularity x level —
    // whatever single model the run selected — so a user can choose
    // the next run's model from measured numbers
    val metrics = store2.table("gold", "forecast_metrics")
    assert(metrics.select("model").distinct().collect().map(_.getString(0)).toSet ==
      Set("linear", "seasonal_naive", "seasonal_trend", "global_ar"))
    assert(metrics.select("granularity").distinct().collect().map(_.getString(0)).toSet ==
      Set("daily", "weekly"))
    assert(metrics.select("level").distinct().collect().map(_.getString(0)).toSet ==
      graft.operators.Forecasting.levels.toSet)
    // metric sanity: counts positive, sMAPE within its [0, 200] range
    import org.apache.spark.sql.functions.col
    assert(metrics.filter(col("n") <= 0 || col("smape") < 0 || col("smape") > 200
      || col("mae") < 0).count() == 0)
    // the selection table picks exactly one champion per scored series,
    // and the champion's sMAPE is the minimum the backtest measured
    val sel = store2.table("gold", "model_selection")
    assert(sel.count() ==
      metrics.select("granularity", "level", "entity_id").distinct().count())
    val worseThanChampion = sel.as("s").join(metrics.as("m"),
      Seq("granularity", "level", "entity_id"))
      .filter(col("m.smape") < col("s.smape"))
    assert(worseThanChampion.count() == 0)
    store2.teardown()
  }

  test("a failed layer keeps its exception class in audit.etl_log") {
    import org.apache.spark.sql.functions.col
    val root3 = java.nio.file.Files.createTempDirectory("pipeline_missing").toString
    val missing = s"$root3/no_such_input"
    val expected = intercept[Exception](Tables.t(spark, missing, "region")).getClass.getName
    val failed = Pipeline.run(spark, missing, s"$root3/store")
    assert(failed.map(r => r.layer -> r.ok) ==
      Seq("bronze" -> false, "silver" -> false, "gold" -> false))
    assert(failed.head.error.exists(_.startsWith(s"$expected: ")))
    val log = new LayerStore(spark, s"$root3/store").table("audit", "etl_log")
    val bronze = log.filter(col("layer") === "bronze").select("ok", "error").head()
    assert(!bronze.getBoolean(0))
    assert(bronze.getString(1).startsWith(s"$expected: "))
    // layers gated off by the failure never ran: no error of their own
    assert(log.filter(col("layer") =!= "bronze" && col("error").isNotNull).count() == 0)
  }

  test("an unknown forecast model fails gold before it writes anything") {
    val root4 = java.nio.file.Files.createTempDirectory("pipeline_prophet").toString
    val store4 = new LayerStore(spark, root4)
    val gold = Pipeline.runGold(spark, store4, "prophet-run", forecastModel = "prophet")
    assert(!gold.ok)
    assert(gold.error.exists(_.startsWith("java.lang.IllegalArgumentException: ")))
    assert(!store4.exists("gold", "monthly_sales"))
  }

  test("re-run is idempotent where it must be") {
    results // force first run
    val bronzeBefore = store.table("bronze", "lineitem").count()
    val goldBefore = store.table("gold", "monthly_sales").count()
    val second = Pipeline.run(spark, sf0001, root)
    assert(second.forall(_.ok))
    // bronze upserts: same keys -> same cardinality
    assert(store.table("bronze", "lineitem").count() == bronzeBefore)
    // gold full refresh: deterministic -> same cardinality
    assert(store.table("gold", "monthly_sales").count() == goldBefore)
    // forecasts: run-scoped overwrite accumulates one horizon per run id
    val fc = store.table("gold", "forecasts")
    assert(fc.select("run_id").distinct().count() == 2)
    // audit log appends one row per layer per run
    assert(store.table("audit", "etl_log").count() == 6)
  }
}
