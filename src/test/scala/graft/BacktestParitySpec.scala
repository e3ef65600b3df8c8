package graft

import graft.operators.Backtest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** The Pipeline's backtest builder (metricsOverLevels) against the
  * oracle-verified query surface (q79/q82): both go through the one
  * group builder, so over q79's scope — weekly at every level, daily
  * at the supplier level — they must agree row for row. */
class BacktestParitySpec extends SparkSpec {

  private def resolve(t: String): DataFrame = Tables.t(spark, sf0001, t)

  private def pin(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }

  private lazy val full = pin(Backtest.metricsOverLevels(resolve, pin))

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("metricsOverLevels in q79's scope equals q79, and its champions equal q82") {
    val q79Scope = full.filter(col("granularity") === "weekly" || col("level") === "supplier")
    assert(rows(q79Scope) == rows(Backtest.forecastBacktest(spark, sf0001)))
    assert(rows(Backtest.championOver(q79Scope)) == rows(Backtest.modelSelection(spark, sf0001)))
  }

  test("the per-entity and global_ar subsets union to the full build") {
    val perEntity = Backtest.metricsOverLevels(resolve, pin, atModels = Backtest.perEntityModels)
    val pooled = Backtest.metricsOverLevels(resolve, pin, atModels = Seq("global_ar"))
    assert(perEntity.select("model").distinct().collect().map(_.getString(0)).toSet ==
      Backtest.perEntityModels.toSet)
    assert(rows(perEntity.unionByName(pooled)
      .orderBy(col("granularity"), col("level"), col("model"), col("entity_id"))) == rows(full))
  }
}
