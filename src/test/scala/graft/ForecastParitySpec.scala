package graft

import graft.operators.Forecasting
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** The Pipeline's forecast builder (runOverLevels, gold.forecasts)
  * against the oracle-verified full dispatch artifact (q103's input):
  * both go through the one group builder, so wherever their scopes
  * meet — weekly at the gated levels, daily at the supplier level —
  * they must agree row for row, for every model. */
class ForecastParitySpec extends SparkSpec {

  private def resolve(t: String): DataFrame = Tables.t(spark, sf0001, t)

  private lazy val full = Forecasting.fullDispatch(spark, sf0001)

  private val key = Seq("granularity", "level", "model", "entity_id", "ds")

  private def rows(df: DataFrame): Seq[Row] =
    df.select((key ++ Seq("yhat", "yhat_lower", "yhat_upper")).map(col): _*)
      .orderBy(key.map(col): _*).collect().toSeq

  private def slice(granularity: String, levels: Seq[String], model: String): DataFrame =
    full.filter(col("granularity") === granularity && col("level").isin(levels: _*) &&
      col("model") === model)

  for (m <- Forecasting.models)
    test(s"runOverLevels($m) equals fullDispatch's weekly product/region and daily supplier slices") {
      val weekly = Forecasting.runOverLevels(resolve, m, "weekly", atLevels = Seq("product", "region"))
      val want = rows(slice("weekly", Seq("product", "region"), m))
      assert(want.nonEmpty)
      assert(rows(weekly) == want)
      val daily = Forecasting.runOverLevels(resolve, m, "daily", atLevels = Seq("supplier"))
      assert(rows(daily) == rows(slice("daily", Seq("supplier"), m)))
    }

  test("an unknown model throws IllegalArgumentException naming the supported models") {
    val e = intercept[IllegalArgumentException](Forecasting.runOverLevels(resolve, "prophet", "weekly"))
    assert(e.getMessage.contains("'prophet'"))
    assert(Forecasting.models.forall(e.getMessage.contains))
  }
}
