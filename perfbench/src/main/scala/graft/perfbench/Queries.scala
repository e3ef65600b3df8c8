package graft.perfbench

import graft.sources.LayerStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The Query Runner read mix: SQL text sent through
  * `LayerStore.adhocSql(...).collect()`, each paired with a
  * DataFrame-API twin that must return the same rows.
  *
  *  - `read.sample`: the reference Query Runner's four sample queries,
  *    verbatim (schema prefixes and trailing semicolons included);
  *  - `read.page`: DB-explorer pages, `SELECT * ... LIMIT n OFFSET m`
  *    over a seeded table and offset;
  *  - `read.kpi`: home-page KPI scalars.
  */
object Queries {

  final case class Query(kind: String, sql: String, twin: LayerStore => DataFrame)

  private def so(s: LayerStore) = s.table("silver", "supply_orders")

  val samples: Seq[Query] = Seq(
    Query("read.sample", "SELECT * FROM silver.supply_orders LIMIT 10;",
      s => so(s).limit(10)),
    Query("read.sample", "SELECT status, COUNT(*) FROM silver.supply_orders GROUP BY status;",
      s => so(s).groupBy(col("status")).count()),
    Query("read.sample",
      """SELECT p.product_name, SUM(so.total_invoice) as revenue
FROM silver.products p
JOIN silver.supply_orders so ON p.product_id = so.product_id
GROUP BY p.product_name ORDER BY revenue DESC;""",
      s => s.table("silver", "products").select(col("product_id"), col("product_name"))
        .join(so(s), "product_id").groupBy(col("product_name"))
        .agg(sum(col("total_invoice")).as("revenue"))),
    Query("read.sample",
      """SELECT p.product_name, w.warehouse_name, i.quantity_on_hand
FROM silver.inventory i
JOIN silver.products p ON i.product_id = p.product_id
JOIN silver.warehouses w ON i.warehouse_id = w.warehouse_id
WHERE i.quantity_on_hand <= 50;""",
      s => s.table("silver", "inventory").filter(col("quantity_on_hand") <= 50)
        .join(s.table("silver", "products"), "product_id")
        .join(s.table("silver", "warehouses"), "warehouse_id")
        .select(col("product_name"), col("warehouse_name"), col("quantity_on_hand"))))

  /** Home-page KPI scalars over the supply-orders entity. */
  val kpis: Seq[Query] = Seq(
    Query("read.kpi", "SELECT COUNT(*) FROM silver.supply_orders",
      s => so(s).agg(count(lit(1)))),
    Query("read.kpi",
      """SELECT AVG(DATEDIFF(delivered_date, shipped_date)) FROM silver.supply_orders
WHERE delivered_date IS NOT NULL AND shipped_date IS NOT NULL""",
      s => so(s).filter(col("delivered_date").isNotNull && col("shipped_date").isNotNull)
        .agg(avg(datediff(col("delivered_date"), col("shipped_date"))))),
    Query("read.kpi",
      "SELECT SUM(total_invoice) FROM silver.supply_orders WHERE total_invoice IS NOT NULL",
      s => so(s).filter(col("total_invoice").isNotNull).agg(sum(col("total_invoice")))),
    Query("read.kpi",
      """SELECT (SELECT COUNT(*) FROM silver.supply_orders WHERE delivered_date IS NOT NULL)
  * 100.0 / (SELECT COUNT(*) FROM silver.supply_orders)""",
      s => so(s).agg((count(col("delivered_date")) * 100.0 / count(lit(1))).cast("decimal(38,6)"))),
    Query("read.kpi", "SELECT COUNT(DISTINCT product_id) FROM silver.inventory",
      s => s.table("silver", "inventory").agg(countDistinct(col("product_id")))),
    Query("read.kpi", "SELECT AVG(quality_score) FROM silver.products",
      s => s.table("silver", "products").agg(avg(col("quality_score")))))

  /** Tables the DB explorer pages over. */
  val pageTables: Seq[String] = Seq("supply_orders", "products", "inventory", "warehouses",
    "suppliers", "retail_stores", "orders", "lineitem")

  private def gold(s: LayerStore, t: String) = s.table("gold", t)

  /** The same three kinds over the gold tables: forecast-page
    * leaderboards, gold-table pages and KPI scalars. */
  val goldSamples: Seq[Query] = Seq(
    Query("read.sample",
      "SELECT model, AVG(smape) AS smape FROM gold.forecast_metrics GROUP BY model ORDER BY smape;",
      s => gold(s, "forecast_metrics").groupBy(col("model")).agg(avg(col("smape")))),
    Query("read.sample",
      "SELECT best_model, COUNT(*) FROM gold.model_selection GROUP BY best_model;",
      s => gold(s, "model_selection").groupBy(col("best_model")).count()),
    Query("read.sample",
      """SELECT region, SUM(total_revenue) AS revenue FROM gold.monthly_sales
GROUP BY region ORDER BY revenue DESC;""",
      s => gold(s, "monthly_sales").groupBy(col("region")).agg(sum(col("total_revenue")))),
    Query("read.sample",
      "SELECT * FROM gold.supplier_monthly WHERE on_time_rate < 0.5 LIMIT 20;",
      s => gold(s, "supplier_monthly").filter(col("on_time_rate") < 0.5).limit(20)))

  val goldKpis: Seq[Query] = Seq(
    Query("read.kpi", "SELECT COUNT(*) FROM gold.dashboard",
      s => gold(s, "dashboard").agg(count(lit(1)))),
    Query("read.kpi", "SELECT SUM(net_revenue) FROM gold.dashboard WHERE is_fulfilled",
      s => gold(s, "dashboard").filter(col("is_fulfilled")).agg(sum(col("net_revenue")))),
    Query("read.kpi", "SELECT AVG(days_to_ship) FROM gold.dashboard",
      s => gold(s, "dashboard").agg(avg(col("days_to_ship")))),
    Query("read.kpi", "SELECT COUNT(DISTINCT s_suppkey) FROM gold.inventory_health",
      s => gold(s, "inventory_health").agg(countDistinct(col("s_suppkey")))),
    Query("read.kpi", "SELECT AVG(smape) FROM gold.model_selection",
      s => gold(s, "model_selection").agg(avg(col("smape")))),
    Query("read.kpi", "SELECT MAX(sales_month) FROM gold.monthly_sales",
      s => gold(s, "monthly_sales").agg(max(col("sales_month")))))

  val goldPageTables: Seq[String] = Seq("monthly_sales", "inventory_health", "supplier_monthly",
    "dashboard", "forecasts", "forecast_metrics", "model_selection")

  val PageSize = 50

  def page(layer: String, table: String, offset: Int): Query =
    Query("read.page", s"SELECT * FROM $layer.$table LIMIT $PageSize OFFSET $offset",
      s => s.table(layer, table).offset(offset).limit(PageSize))

  /** The seeded query sequence of `n` queries: a fixed composition of
    * one sample : two pages : one KPI, each kind cycling through its
    * queries (pages through the tables) so the mix does the same work
    * for every seed. The seed picks each table's two page offsets below
    * `rows(t)` and shuffles the order. */
  def mix(seed: Long, n: Int, samples: Seq[Query], kpis: Seq[Query], layer: String,
      tables: Seq[String], rows: String => Long): IndexedSeq[Query] = {
    val rnd = new scala.util.Random(seed)
    val offsets = tables.map(t => t -> Seq.fill(2)(
      rnd.nextInt(math.max(1L, rows(t) - PageSize).toInt))).toMap
    val pages = for (o <- 0 until 2; t <- tables) yield page(layer, t, offsets(t)(o))
    def cycle(xs: Seq[Query], k: Int) = IndexedSeq.tabulate(k)(i => xs(i % xs.size))
    rnd.shuffle(cycle(samples, n / 4) ++ cycle(pages, n / 2) ++ cycle(kpis, n - n / 4 - n / 2))
  }

  def silverMix(seed: Long, n: Int, rows: String => Long): IndexedSeq[Query] =
    mix(seed, n, samples, kpis, "silver", pageTables, rows)

  def goldMix(seed: Long, n: Int, rows: String => Long): IndexedSeq[Query] =
    mix(seed, n, goldSamples, goldKpis, "gold", goldPageTables, rows)

  /** Rows as comparable strings: doubles at cent precision (SQL and
    * API plans may fold sums in different orders), sorted. */
  def canonical(rows: Array[Row]): Seq[String] = rows.toSeq.map(_.toSeq.map {
    case d: Double => f"$d%.2f"
    case d: java.math.BigDecimal => d.setScale(2, java.math.RoundingMode.HALF_UP).toPlainString
    case v => String.valueOf(v)
  }.mkString("|")).sorted
}
