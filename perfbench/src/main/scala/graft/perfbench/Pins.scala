package graft.perfbench

/** Expected outputs per workload, from the sf 0.001 fixtures: row counts
  * of every table the pass writes, Bench.frameHash of the pinned tables
  * (`.hash`), and for the forecast-side gold tables the hash with
  * `run_id` dropped and doubles rounded (`.stable`, see
  * Workloads.stableHash). The seeded permutation keeps the content of
  * every table (see run.py, write_inputs), so these hold for every
  * seed, traced or not. */
object Pins {
  val expected: Map[String, String] = Map(
    "silver_refresh/bronze.region.rows" -> "5",
    "silver_refresh/bronze.nation.rows" -> "25",
    "silver_refresh/bronze.customer.rows" -> "150",
    "silver_refresh/bronze.supplier.rows" -> "10",
    "silver_refresh/bronze.part.rows" -> "200",
    "silver_refresh/bronze.orders.rows" -> "1500",
    "silver_refresh/bronze.lineitem.rows" -> "4599",
    "silver_refresh/bronze.events.rows" -> "1000",
    "silver_refresh/bronze.documents.rows" -> "500",
    "silver_refresh/bronze.embeddings.rows" -> "500",
    "silver_refresh/silver.suppliers.rows" -> "10",
    "silver_refresh/silver.warehouses.rows" -> "25",
    "silver_refresh/silver.retail_stores.rows" -> "150",
    "silver_refresh/silver.quality_issues_log.rows" -> "7619",
    "silver_refresh/silver.orders.rows" -> "1500",
    "silver_refresh/silver.lineitem.rows" -> "4599",
    "silver_refresh/silver.part.rows" -> "200",
    "silver_refresh/silver.customer.rows" -> "150",
    "silver_refresh/silver.supplier.rows" -> "10",
    "silver_refresh/silver.nation.rows" -> "25",
    "silver_refresh/silver.region.rows" -> "5",
    "silver_refresh/silver.products.rows" -> "200",
    "silver_refresh/silver.products.hash" -> "df418dd22f1325a7:200",
    "silver_refresh/silver.inventory.rows" -> "1812",
    "silver_refresh/silver.inventory.hash" -> "41f971a5fe2a4fa7:1812",
    "silver_refresh/silver.supply_orders.rows" -> "4599",
    "silver_refresh/silver.supply_orders.hash" -> "6c6c5265d39447d8:4599",
    "gold_refresh/gold.forecasts.rows" -> "35",
    "gold_refresh/gold.forecast_metrics.rows" -> "40",
    "gold_refresh/gold.model_selection.rows" -> "10",
    "gold_refresh/gold.monthly_sales.rows" -> "2798",
    "gold_refresh/gold.monthly_sales.hash" -> "1134a49066e000a7:2798",
    "gold_refresh/gold.inventory_health.rows" -> "60",
    "gold_refresh/gold.inventory_health.hash" -> "baba8002b6c48ca2:60",
    "gold_refresh/gold.supplier_monthly.rows" -> "791",
    "gold_refresh/gold.supplier_monthly.hash" -> "22f984e3ad4b9744:791",
    "gold_refresh/gold.dashboard.rows" -> "4599",
    "gold_refresh/gold.dashboard.hash" -> "32f53478834768ee:4599",
    "gold_refresh/gold.forecasts.stable" -> "6c6af1e1bec8672d:35",
    "gold_refresh/gold.forecast_metrics.stable" -> "b84cfddc6bbc4a57:40",
    "gold_refresh/gold.model_selection.stable" -> "66a73e1314ccf520:10"
  )
}
