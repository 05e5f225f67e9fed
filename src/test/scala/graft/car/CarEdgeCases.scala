package graft.car

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.sources.ApiEnvelope

/** Degenerate car_data tables for the endpoint goldens, typed to
  * CarSchema: empty, null maps, a map holding null values (and two
  * Int.MaxValue counts, so a sum that is not widened to long shows),
  * all-null attention, and tied attention that only the id breaks. */
object CarEdgeCases {

  private def dec(x: Double) = new java.math.BigDecimal(x).setScale(2)

  private def car(
      brand: String, model: String, price: Double, carType: String,
      year: Integer, attention: Integer,
      hist: Map[String, Integer], plates: Map[String, Integer]): Row =
    Row(brand, null, model, dec(price), 150, 4, dec(price * 0.9), carType,
      year, dec(50.0), attention, dec(5.0), hist, plates)

  private def table(spark: SparkSession, rows: Row*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), CarSchema.schema)

  def cases(spark: SparkSession): Seq[(String, DataFrame)] = Seq(
    "empty" -> table(spark),
    "null maps" -> table(spark,
      car("Brand1", "Model1", 90000, "SUV", 2020, 75, null, null),
      car("Brand2", "Model1", 250000, "Sedan", null, 80, null, null)),
    "null map values" -> table(spark,
      car("Brand1", "Model1", 90000, "SUV", 2020, 70,
        Map("2023-01" -> null, "2023-02" -> 88000), Map("CityA" -> null, "CityB" -> 25)),
      car("Brand1", "Model2", 120000, "SUV", 2020, 60,
        Map("2023-01" -> 100), Map("CityA" -> 40)),
      car("Brand2", "Model1", 310000, "新能源", 2021, 50, Map(), Map()),
      car("Brand2", "Model2", 420000, "Sedan", 2021, 40,
        Map("2023-01" -> 7), Map("CityC" -> null)),
      car("Brand3", "Model1", 650000, "Sedan", 2022, 30,
        Map(), Map("CityD" -> Int.MaxValue, "CityE" -> Int.MaxValue))),
    "null attention" -> table(spark,
      car("Brand2", "Model1", 90000, "SUV", 2020, null,
        Map("2023-01" -> 1), Map("CityA" -> 3)),
      car("Brand1", "Model2", 150000, "Sedan", 2021, null,
        Map("2023-01" -> 2), Map("CityB" -> 4)),
      car("Brand1", "Model1", 350000, "Sedan", 2021, null,
        Map("2023-01" -> 3), Map("CityA" -> 5))),
    "tied attention" -> table(spark,
      car("Brand2", "Model1", 90000, "SUV", 2020, 95,
        Map("2023-01" -> 1), Map("CityA" -> 3)),
      car("Brand3", "Model1", 150000, "Sedan", 2021, null,
        Map("2023-01" -> 2), Map("CityB" -> 4)),
      car("Brand1", "Model2", 250000, "Sedan", 2021, 95,
        Map("2023-01" -> 3), Map("CityA" -> 5)),
      car("Brand1", "Model1", 550000, "SUV", 2022, 90,
        Map("2023-01" -> 4), Map("CityC" -> 6))))

  /** An endpoint's reply as the API serves it, or the error condition
    * it fails with (the message carries call sites, the condition not). */
  def reply(df: => DataFrame): String =
    try ApiEnvelope.read(df, "car_data")
    catch { case e: SparkThrowable => s"error: ${e.getCondition}" }

  /** The 14 read endpoints, with fixed parameters. */
  def endpoints(spark: SparkSession): Seq[(String, DataFrame => DataFrame)] = Seq(
    "fetchCarData" -> (d => CarAnalytics.fetchCarData(d)),
    "cityRegistrations" -> (d => CarAnalytics.cityRegistrations(d)),
    "marketTrends" -> (d => CarAnalytics.marketTrends(d)),
    "consumerPreferences" -> (d => CarAnalytics.consumerPreferences(d)),
    "brands" -> (d => CarAnalytics.brands(d)),
    "brandModels" -> (d => CarAnalytics.brandModels(d, "Brand1")),
    "modelDetails" -> (d => CarAnalytics.modelDetails(d, "Brand1_Model1")),
    "cityRankings" -> (d => CarAnalytics.cityRankings(d, "registrations")),
    "recommendations" -> (d => CarAnalytics.recommendations(d)),
    "marketOverview" -> (d => CarAnalytics.marketOverview(d)),
    "popularBrands" -> (d => CarAnalytics.popularBrands(d)),
    "trendMetric" -> (d => CarAnalytics.trendMetric(d, "registrations")),
    "priceDistribution" -> (d => CarAnalytics.priceDistribution(spark, d)),
    "preferencesByDimension" -> (d => CarAnalytics.preferencesByDimension(spark, d, "type")))
}
