package graft.operators

import graft.QueryModule
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's 12 named gold assertion checks
  * (gold/gold_builder.py:465-527) as a reusable DQ module: each check
  * is a violation count; pass ⇔ zero violations. This is product
  * surface, not test scaffolding (SURVEY §5).
  *
  * Shape: ONE aggregation pass per mart computes every check's
  * violation count as a conditional-count column, then the row of
  * counts unpivots to (check_name, violations) — 12 checks cost 2
  * mart scans, not 12 (the naive union-of-aggregates plan had 69
  * exchanges; this has ~12).
  */
object DqChecks extends QueryModule {

  private val anchorDate = "2002-01-01"

  private val salesChecks: Seq[(String, Column)] = Seq(
    "sales_revenue_non_negative" -> (col("total_revenue") < 0),
    "sales_no_future_months" -> (col("sales_month") > lit(anchorDate).cast(DateType)),
    "sales_quantity_positive" -> (col("total_quantity") <= 0),
    "sales_orders_positive" -> (col("total_orders") <= 0),
    "sales_revenue_per_unit_consistent" ->
      (abs(col("revenue_per_unit") * col("total_quantity") - col("total_revenue")) > lit(1.0) * col("total_quantity")),
    "sales_active_customers_bound" -> (col("active_customers") > col("total_orders")))

  private val supChecks: Seq[(String, Column)] = Seq(
    "supplier_lead_time_non_negative" -> (col("avg_lead_time_days") < 0),
    "supplier_on_time_rate_bounds" -> (col("on_time_rate") < 0 || col("on_time_rate") > 100),
    "supplier_in_full_rate_bounds" -> (col("in_full_rate") < 0 || col("in_full_rate") > 100),
    "supplier_quantity_positive" -> (col("total_quantity") <= 0),
    "supplier_value_non_negative" -> (col("total_value") < 0),
    "supplier_lines_cover_orders" -> (col("total_orders") > col("total_lines")))

  private def checkRows(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    val counted = df.agg(
      count(when(checks.head._2, 1)).as(checks.head._1),
      checks.tail.map { case (name, cond) => count(when(cond, 1)).as(name) }: _*)
    val stackArgs = checks.map { case (name, _) => s"'$name', $name" }.mkString(", ")
    counted.select(expr(
      s"stack(${checks.size}, $stackArgs) AS (check_name, violations)"))
  }

  /** Session-lifetime persisted mart frames — the stored gold layer a
    * deployment's DQ checks read (Pipeline writes then reads the real
    * thing, Pipeline.scala runGold; this is the standalone-query
    * analogue). Round-2 verdict: q38 recomputed both marts from
    * source. Built lazily, or eagerly by Bench's prepare phase. */
  private val martCache = new graft.util.Memo[(SparkSession, String, String), DataFrame](_._1.sparkContext.isStopped)

  private def cachedMart(s: SparkSession, dir: String, name: String,
    build: => DataFrame): DataFrame =
    martCache.getOrBuild((s, dir, name), { val m = build.persist(); m.count(); m })

  /** Build the shared mart artifacts eagerly (Bench prepare phase).
    * The two marts are independent jobs, so they materialize
    * CONCURRENTLY — Spark's scheduler interleaves their stages across
    * the same cores (FIFO within the app), hiding the shorter build
    * behind the longer one instead of paying them back to back. */
  def prepareArtifacts(s: SparkSession, dir: String): Unit = {
    val builds = Seq(
      "monthly_sales" -> (() => GoldMarts.monthlySalesUnsorted(s, dir)),
      "supplier_monthly" -> (() => GoldMarts.supplierMonthlyUnsorted(s, dir)))
    // a silent prep failure would fake the bench: Par.all rethrows the
    // first failure with the other builder's attached as suppressed
    graft.util.Par.all(builds.map { case (name, b) => () => cachedMart(s, dir, name, b()) })
    ()
  }

  /** Bench prep-hash probe: the two stored mart frames. */
  private[graft] def prepProbe(s: SparkSession, dir: String): Seq[DataFrame] = Seq(
    cachedMart(s, dir, "monthly_sales", GoldMarts.monthlySalesUnsorted(s, dir)),
    cachedMart(s, dir, "supplier_monthly", GoldMarts.supplierMonthlyUnsorted(s, dir)))

  /** All 12 checks over caller-supplied mart frames — the product
    * surface `Pipeline.runGold` runs over the gold tables it just
    * WROTE (the reference validates the stored gold layer,
    * gold_builder.py:529-567, not a recomputation from source). */
  def checksOver(monthlySales: DataFrame, supplierMonthly: DataFrame): DataFrame =
    checkRows(monthlySales, salesChecks)
      .unionByName(checkRows(supplierMonthly, supChecks))
      .withColumn("passed", col("violations") === 0)
      .orderBy(col("check_name"))

  /** q38 — all checks, one row each: name, violations, passed. Reads
    * the stored-mart artifacts, not source. */
  def dqChecks(s: SparkSession, dir: String): DataFrame =
    checksOver(
      cachedMart(s, dir, "monthly_sales", GoldMarts.monthlySalesUnsorted(s, dir)),
      cachedMart(s, dir, "supplier_monthly", GoldMarts.supplierMonthlyUnsorted(s, dir)))

  private val dqChecksSql = {
    val salesCte = GoldMarts.oracles("q01_monthly_sales")
    val supCte = GoldMarts.oracles("q03_supplier_monthly")
    val salesCondSql = Map(
      "sales_revenue_non_negative" -> "total_revenue < 0",
      "sales_no_future_months" -> s"sales_month > DATE '$anchorDate'",
      "sales_quantity_positive" -> "total_quantity <= 0",
      "sales_orders_positive" -> "total_orders <= 0",
      "sales_revenue_per_unit_consistent" -> "abs(revenue_per_unit * total_quantity - total_revenue) > 1.0 * total_quantity",
      "sales_active_customers_bound" -> "active_customers > total_orders")
    val supCondSql = Map(
      "supplier_lead_time_non_negative" -> "avg_lead_time_days < 0",
      "supplier_on_time_rate_bounds" -> "on_time_rate < 0 OR on_time_rate > 100",
      "supplier_in_full_rate_bounds" -> "in_full_rate < 0 OR in_full_rate > 100",
      "supplier_quantity_positive" -> "total_quantity <= 0",
      "supplier_value_non_negative" -> "total_value < 0",
      "supplier_lines_cover_orders" -> "total_orders > total_lines")
    def aggCols(conds: Map[String, String]) = conds.toSeq.sortBy(_._1).map {
      case (name, cond) => s"count(CASE WHEN $cond THEN 1 END) AS $name"
    }.mkString(",\n       ")
    def unpivot(src: String, conds: Map[String, String]) = conds.keys.toSeq.sorted.map(name =>
      s"SELECT '$name' AS check_name, $name AS violations FROM $src").mkString("\nUNION ALL\n")
    s"""WITH sales AS ($salesCte),
       |sup AS ($supCte),
       |sa AS (SELECT ${aggCols(salesCondSql)} FROM sales),
       |su AS (SELECT ${aggCols(supCondSql)} FROM sup)
       |SELECT check_name, violations, violations = 0 AS passed FROM (
       |${unpivot("sa", salesCondSql)}
       |UNION ALL
       |${unpivot("su", supCondSql)})
       |ORDER BY check_name""".stripMargin
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q38_dq_checks" -> dqChecks)

  override def oracles: Map[String, String] = Map(
    "q38_dq_checks" -> dqChecksSql)
}
