package graft.car

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType, StructField, StructType}

import graft.functions.expressions.GraftFunctions.map_value_sum
import graft.operators.Relational

/** The reference's analytics surface (every /api/v1 GET endpoint,
  * ref: backend/app.py) as lazy DataFrame → DataFrame transforms over the
  * car_data schema. The reference pulled the WHOLE table into Python per
  * request and looped row-at-a-time (e.g. backend/app.py:35, :101-116);
  * each function here is one declarative chain Catalyst optimizes
  * end-to-end — filters reach the scan, aggregation is partial map-side.
  *
  * Every expression here has generated code, so no operator leaves
  * whole-stage codegen for an expression's sake: map columns are read
  * with `explode`, a `Cast` of `map_entries` and the
  * [[graft.functions.expressions.MapValueSum]] kernel, never a
  * higher-order lambda (`transform`/`aggregate` evaluate interpreted and
  * pull their whole operator out of the fused stage). An operator still
  * runs outside codegen only where Spark has no codegen for the operator
  * itself — the windows, for one.
  */
object CarAnalytics {

  /** `history_prices`' type: map_entries' own shape with the
    * reference's field names. */
  private val HistoryPrices = ArrayType(StructType(Seq(
    StructField("date", StringType, nullable = false),
    StructField("price", IntegerType))), containsNull = false)

  /** B1+B2+B3 — fetch_car_data (ref: backend/app.py:33-57): DB→API
    * rename, map→array-of-structs history, surrogate id. */
  def fetchCarData(carData: DataFrame): DataFrame = {
    val renamed = CarSchema.fieldMapping.map { case (db, api) => col(db).as(api) }
    val extras = Seq(
      col("city_license_plates"),
      col("manufacture_year"),
      // B2: {date→price} map → [{date, price}] array (ref :48-53): the
      // cast renames map_entries' (key, value) fields by position
      map_entries(coalesce(col("historical_price"), map()))
        .cast(HistoryPrices).as("history_prices"))
    val id = Relational.surrogateKey(col("brand"), col("model"))
    carData
      .select(renamed ++ extras: _*)
      .withColumn("id", id) // B3 (ref :55-57)
      .withColumn("model_id", col("id"))
  }

  /** B4 — fetch_city_data (ref: backend/app.py:63-85): explode the
    * city_license_plates map, sum per city. The positional dict-order id
    * of the reference is nondeterministic; we derive a deterministic one
    * with row_number over (registrations desc, city). */
  def cityRegistrations(carData: DataFrame): DataFrame = {
    val exploded = carData
      .filter(col("city_license_plates").isNotNull) // ref :70 skips missing
      .select(explode(col("city_license_plates")).as(Seq("city", "cnt")))
      .groupBy("city")
      .agg(sum(col("cnt").cast("long")).as("registrations"))
    // |cities| is small post-agg; at 100 TB the heavy work is the
    // partial-aggregated explode, not this window.
    exploded.withColumn(
      "id",
      row_number().over(Window.orderBy(col("registrations").desc, col("city"))) - 1)
  }

  /** A row's registrations: its city → count map's values summed as
    * longs (a missing map counts 0, a null count makes it null). */
  private def rowRegistrations: Column =
    map_value_sum(col("city_license_plates"), skipNulls = false)

  /** B5 — fetch_market_trends_data (ref: backend/app.py:88-129): per
    * year, Σ registrations (map_values summed per row first), Σ
    * attention, avg guide_price; null years dropped (:103-104); year
    * stringified (:123). */
  def marketTrends(carData: DataFrame): DataFrame =
    carData
      .filter(col("manufacture_year").isNotNull)
      .withColumn("row_reg", rowRegistrations)
      .groupBy(col("manufacture_year"))
      .agg(
        sum(col("row_reg")).as("registrations"),
        sum(coalesce(col("popularity"), lit(0)).cast("long")).as("attention"),
        avg(col("manufacturer_suggested_price").cast("double")).as("avg_price"))
      .select(
        col("manufacture_year").cast("string").as("date"),
        col("registrations"), col("attention"), col("avg_price"))
      .orderBy("date")

  /** B6 — fetch_consumer_preferences (ref: backend/app.py:132-164):
    * share of total registrations per car_type, with the 新能源→电动汽车
    * recode BEFORE grouping (:149-151). The reference's guard
    * `total == 0 → []` (:142-143) runs before any share is divided out,
    * so a table whose registrations total 0 (every map null or empty)
    * replies empty instead of dividing by zero; an empty table groups to
    * no row. The total is a window over the per-type rows, as in
    * `Relational.shareOfTotal`. */
  def consumerPreferences(carData: DataFrame): DataFrame =
    carData
      .groupBy(
        when(col("car_type") === "新能源", "电动汽车").otherwise(col("car_type")).as("type"))
      .agg(sum(rowRegistrations).as("registrations"))
      .withColumn("total", sum("registrations").over(Window.partitionBy()))
      .filter(!(col("total") <=> 0L))
      .select(
        col("type"),
        (col("registrations").cast("double") / col("total")).as("preference"))
      .orderBy("type")

  /** B7 — get_brands (ref: backend/app.py:282-286). */
  def brands(carData: DataFrame): DataFrame =
    carData.select(col("car_brand").as("brand")).distinct().orderBy("brand")

  /** B8 — get_brand_models (ref: backend/app.py:289-294). */
  def brandModels(carData: DataFrame, brand: String): DataFrame =
    fetchCarData(carData)
      .filter(col("brand") === brand)
      .select(col("model_id").as("id"), col("model").as("name"))
      .distinct()
      .orderBy("id")

  /** B9 — get_model_details (ref: backend/app.py:297-307): point lookup,
    * first match, id dropped from the payload (:305-307). */
  def modelDetails(carData: DataFrame, modelId: String): DataFrame =
    fetchCarData(carData)
      .filter(col("model_id") === modelId)
      .drop("id")
      .limit(1)

  /** B10 — get_city_rankings (ref: backend/app.py:318-328): validated
    * metric, sort desc. Tie-break on city for determinism (§7.4). */
  def cityRankings(carData: DataFrame, metric: String): DataFrame = {
    require(Set("registrations").contains(metric), s"Invalid metric: $metric")
    cityRegistrations(carData)
      .orderBy(col(metric).desc, col("city"))
      .select(col("city"), col(metric))
  }

  /** B11 — get_recommendations (ref: backend/app.py:332-374): optional
    * conjuncts incl. the min_price range (:348-352), sort attention desc.
    * `id` (brand_model) is shared by many rows, so every reply column
    * breaks the remaining ties: the reply, and the rows `ApiEnvelope.read`
    * keeps at its row cap, depend only on the table's rows, never on
    * their file order. */
  def recommendations(
      carData: DataFrame,
      brand: Option[String] = None,
      minPrice: Option[Double] = None,
      maxPrice: Option[Double] = None,
      minHorsepower: Option[Int] = None,
      doors: Option[Int] = None,
      carType: Option[String] = None): DataFrame = {
    val cars = fetchCarData(carData)
    Relational.conjunctiveFilter(cars, Seq(
      brand.map(col("brand") === _),
      minPrice.map(col("min_price") >= _),
      maxPrice.map(col("min_price") <= _),
      minHorsepower.map(col("horsepower") >= _),
      doors.map(col("doors") === _),
      carType.map(col("car_type") === _)))
      .select("id", "brand", "model", "guide_price", "min_price", "attention", "car_type")
      .orderBy(col("attention").desc, col("id"), col("brand"), col("model"),
        col("guide_price"), col("min_price"), col("car_type"))
  }

  /** B12 — market_overview (ref: backend/app.py:377-401): global sums,
    * count per brand, deterministic ARGMAX top car with the reference's
    * formatted label (:392). One aggregate over one scan:
    *  - the total is Σ of every non-null city count, as
    *    [[cityRegistrations]] sums them (NULL when there is none);
    *  - the top car is `min_by` over (attention IS NULL, −attention, id):
    *    attention desc with nulls last, then id asc — `Relational.argmax`'s
    *    order;
    *  - an empty table gives no row, as the top-1 side of a cross join
    *    would. */
  def marketOverview(carData: DataFrame): DataFrame = {
    val label = concat(
      col("brand"), lit(" "), col("model"),
      lit(" (关注度: "), col("attention").cast("string"), lit(")"))
    val rank = struct(col("attention").isNull, -col("attention").cast("long"), col("id"))
    fetchCarData(carData)
      .agg(
        sum(map_value_sum(col("city_license_plates"), skipNulls = true))
          .as("total_registrations"),
        avg(col("attention").cast("double")).as("avg_attention"),
        min_by(label, rank).as("top_car"),
        count(lit(1)).as("n"))
      .filter(col("n") > 0)
      .drop("n")
  }

  /** B12b — popular_brands component (count per brand, ref :386-388). */
  def popularBrands(carData: DataFrame): DataFrame =
    carData.groupBy(col("car_brand").as("brand"))
      .agg(count(lit(1)).as("n"))
      .orderBy("brand")

  /** B13 — market_trends metric projection (ref: backend/app.py:404-419). */
  def trendMetric(carData: DataFrame, metric: String): DataFrame = {
    require(Set("registrations", "attention", "avg_price").contains(metric),
      s"Invalid metric: $metric")
    marketTrends(carData).select(col("date"), col(metric).as("value"))
  }

  /** The reference's five fixed price buckets (ref: backend/app.py:426-444),
    * on min_price, labels in 万: "0万-10万" … "50万以上". */
  val priceBuckets: Seq[Relational.Bucket] = Seq(
    Relational.Bucket(0, "0万-10万", 0.0, Some(100000.0)),
    Relational.Bucket(1, "10万-20万", 100000.0, Some(200000.0)),
    Relational.Bucket(2, "20万-30万", 200000.0, Some(300000.0)),
    Relational.Bucket(3, "30万-50万", 300000.0, Some(500000.0)),
    Relational.Bucket(4, "50万以上", 500000.0, None))

  /** B14 — price_distribution (ref: backend/app.py:422-459): fixed
    * buckets, EMPTY BUCKETS KEPT (golden [1,0,1,1,1] at
    * test_app.py:229-236), avg attention with div-zero → 0 (:448-451). */
  def priceDistribution(spark: SparkSession, carData: DataFrame): DataFrame =
    Relational.histogram(
      spark,
      fetchCarData(carData),
      col("min_price"),
      col("attention"),
      priceBuckets)
      .select(
        col("label").as("range"),
        col("n").as("count"),
        col("avg_value").as("avg_attention"))

  /** B15 — consumer_preferences dimension dispatch
    * (ref: backend/app.py:463-481): 'type' → real data, anything else →
    * the hardcoded horsepower fallback table (:472-481). */
  def preferencesByDimension(
      spark: SparkSession, carData: DataFrame, dimension: String): DataFrame = {
    import spark.implicits._
    if (dimension == "type") consumerPreferences(carData)
    else
      Seq(("100-150马力", 0.4), ("150-200马力", 0.35), ("200+马力", 0.25))
        .toDF("range", "preference")
  }
}
