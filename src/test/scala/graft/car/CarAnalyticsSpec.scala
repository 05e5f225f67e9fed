package graft.car

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.expressions.GraftFunctions.map_value_sum
import graft.tools.PlanShapes

/** Golden tests replicating the reference's endpoint assertions
  * (ref: backend/test_app.py:121-247) on the 4-row MOCK_CAR_DATA fixture. */
class CarAnalyticsSpec extends AnyFunSuite with SparkSpec {

  private lazy val cars = CarFixture.df(spark)

  test("B7 distinct brands (ref test_app.py:121)") {
    val got = CarAnalytics.brands(cars).collect().map(_.getString(0)).toSeq
    assert(got == Seq("Brand1", "Brand2", "Brand3"))
  }

  test("B8 Brand1 has two models (ref test_app.py:130-132)") {
    val got = CarAnalytics.brandModels(cars, "Brand1").collect()
    assert(got.length == 2)
    assert(got.map(_.getString(1)).toSet == Set("Model1", "Model2"))
  }

  test("B4+B10 city ranking desc = A90 B85 C60 D30 (ref test_app.py:164-172)") {
    val got = CarAnalytics.cityRankings(cars, "registrations").collect()
    assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("CityA", 90L), ("CityB", 85L), ("CityC", 60L), ("CityD", 30L)))
  }

  test("B11 recommendations brand+price-range → 2 rows (ref test_app.py:181-184)") {
    val got = CarAnalytics.recommendations(
      cars, brand = Some("Brand1"),
      minPrice = Some(80000.0), maxPrice = Some(250000.0)).collect()
    assert(got.length == 2)
    assert(got.map(_.getAs[String]("model")).toSet == Set("Model1", "Model2"))
    // sorted by attention desc: Model2 (90) first
    assert(got.head.getAs[String]("model") == "Model2")
  }

  test("B12 overview: total 265, brand counts, top car (ref test_app.py:193-195)") {
    val o = CarAnalytics.marketOverview(cars).collect().head
    assert(o.getAs[Long]("total_registrations") == 265L)
    assert(math.abs(o.getAs[Double]("avg_attention") - 86.25) < 1e-9)
    assert(o.getAs[String]("top_car") == "Brand3 Model1 (关注度: 95)")
    val pb = CarAnalytics.popularBrands(cars).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pb == Map("Brand1" -> 2L, "Brand2" -> 1L, "Brand3" -> 1L))
  }

  test("B5 trend years 2020-2023 (ref test_app.py:206-207)") {
    val got = CarAnalytics.marketTrends(cars).collect()
    assert(got.map(_.getString(0)).toSeq == Seq("2020", "2021", "2022", "2023"))
    // 2020 row: registrations 75, attention 75, avg 85000
    val r2020 = got.head
    assert(r2020.getAs[Long]("registrations") == 75L)
    assert(r2020.getAs[Long]("attention") == 75L)
    assert(math.abs(r2020.getAs[Double]("avg_price") - 85000.0) < 1e-6)
  }

  test("B13 metric projection validates and projects") {
    val got = CarAnalytics.trendMetric(cars, "attention").collect()
    assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("2020", 75L), ("2021", 90L), ("2022", 85L), ("2023", 95L)))
    intercept[IllegalArgumentException] {
      CarAnalytics.trendMetric(cars, "bogus")
    }
  }

  test("B14 histogram [1,0,1,1,1] with avg attention 75/0/90/85/95 (ref test_app.py:229-236)") {
    val got = CarAnalytics.priceDistribution(spark, cars).collect()
    assert(got.map(_.getAs[Long]("count")).toSeq == Seq(1L, 0L, 1L, 1L, 1L))
    assert(got.map(_.getAs[Double]("avg_attention")).toSeq ==
      Seq(75.0, 0.0, 90.0, 85.0, 95.0))
    assert(got.map(_.getAs[String]("range")).toSeq ==
      Seq("0万-10万", "10万-20万", "20万-30万", "30万-50万", "50万以上"))
  }

  test("B6 preferences sum to 1 ± 1e-4 (ref test_app.py:245-247)") {
    val got = CarAnalytics.consumerPreferences(cars).collect()
    val total = got.map(_.getAs[Double]("preference")).sum
    assert(math.abs(total - 1.0) < 1e-4)
  }

  test("B6 recode 新能源 → 电动汽车 before grouping (ref app.py:149-151)") {
    import spark.implicits._
    val withEv = cars.withColumn("car_type",
      when(col("car_brand") === "Brand3", "新能源").otherwise(col("car_type")))
    val types = CarAnalytics.consumerPreferences(withEv)
      .collect().map(_.getString(0)).toSet
    assert(types.contains("电动汽车") && !types.contains("新能源"))
  }

  test("B9 point lookup drops id and returns one row (ref app.py:297-307)") {
    val got = CarAnalytics.modelDetails(cars, "Brand1_Model1")
    assert(!got.columns.contains("id"))
    val rows = got.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("model") == "Model1")
    assert(CarAnalytics.modelDetails(cars, "Nope_Nope").collect().isEmpty)
  }

  test("B1+B2 fetchCarData renames and builds history_prices structs") {
    val got = CarAnalytics.fetchCarData(cars)
      .filter(col("id") === "Brand1_Model1").collect().head
    assert(got.getAs[Int]("attention") == 75)
    val hist = got.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("history_prices")
    assert(hist.map(h => (h.getString(0), h.getInt(1))).toSet ==
      Set(("2023-01", 90000), ("2023-02", 88000)))
  }

  test("B15 non-type dimension returns the literal fallback (ref app.py:472-481)") {
    val got = CarAnalytics.preferencesByDimension(spark, cars, "horsepower").collect()
    assert(got.length == 3)
    assert(got.map(_.getString(0)).toSet ==
      Set("100-150马力", "150-200马力", "200+马力"))
  }

  test("every endpoint's reply on degenerate tables is the recorded golden") {
    val got = for {
      (c, d) <- CarEdgeCases.cases(spark)
      (e, f) <- CarEdgeCases.endpoints(spark)
    } yield (c, e) -> CarEdgeCases.reply(f(d))
    assert(got.map(_._1).toSet == CarAnalyticsSpec.Goldens.keySet)
    val wrong = got.filter { case (k, json) => CarAnalyticsSpec.Goldens(k) != json }
    assert(wrong.isEmpty, wrong.map { case (k, json) =>
      s"$k\n  got      $json\n  expected ${CarAnalyticsSpec.Goldens(k)}" }.mkString("\n"))
  }

  test("recommendations reply the same envelope whatever the table's file order") {
    // two rows per tie on (attention, id), told apart only by the other
    // reply columns, written as one file in each order
    val rows = CarFixture.df(spark).collect().toSeq
    val tied = rows ++ rows.map(r => org.apache.spark.sql.Row.fromSeq(
      r.toSeq.updated(r.fieldIndex("manufacturer_suggested_price"),
        r.getAs[java.math.BigDecimal]("manufacturer_suggested_price")
          .add(java.math.BigDecimal.ONE))))
    val root = java.nio.file.Files.createTempDirectory("car-order")
    val replies = Seq(tied, tied.reverse).zipWithIndex.map { case (order, i) =>
      val dir = root.resolve(s"car_data_$i").toString
      spark.createDataFrame(spark.sparkContext.parallelize(order, 1), CarSchema.schema)
        .write.parquet(dir)
      CarEdgeCases.reply(CarAnalytics.recommendations(spark.read.parquet(dir)))
    }
    assert(replies.head.contains("\"guide_price\""))
    assert(replies(0) == replies(1))
  }

  test("no endpoint plan holds a CodegenFallback expression, AQE final plan included") {
    // read back from parquet, as the API reads: over the in-memory fixture
    // the optimizer folds every projection into the LocalRelation
    val dir = java.nio.file.Files.createTempDirectory("car-fixture").resolve("car_data").toString
    CarFixture.df(spark).write.parquet(dir)
    val table = spark.read.parquet(dir)
    for ((e, f) <- CarEdgeCases.endpoints(spark)) {
      val df = f(table)
      df.collect()
      val fallbacks = PlanShapes.codegenFallbacks(df.queryExecution.executedPlan)
      assert(fallbacks.isEmpty, s"$e: $fallbacks")
    }
  }

  test("map_value_sum equals the aggregate fold and the exploded sum") {
    import spark.implicits._
    val maps = Seq[Map[String, Integer]](
      null, Map(), Map("a" -> null), Map("a" -> null, "b" -> 2), Map("a" -> 1, "b" -> 2),
      Map("a" -> Int.MaxValue, "b" -> Int.MaxValue), Map("a" -> Int.MinValue))
    // repartitioned so projections are not folded into the LocalRelation
    val df = maps.zipWithIndex.toDF("m", "i").repartition(1)
    val fold = aggregate(
      map_values(coalesce(col("m"), map())), lit(0L), (acc, x) => acc + x.cast("long"))
    val mode = "spark.sql.codegen.factoryMode"
    for (m <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set(mode, m)
      try {
        val rows = df.select(col("i"), fold, map_value_sum(col("m"), skipNulls = false),
          map_value_sum(col("m"), skipNulls = true)).orderBy("i").collect()
        for (r <- rows) assert(r.get(1) == r.get(2), s"$m strict: $r")
        assert(rows.map(r => Option(r.get(3))).toSeq == Seq(
          None, None, None, Some(2L), Some(3L), Some(4294967294L), Some(-2147483648L)), m)
        val exploded = df.select(explode(col("m"))).agg(sum(col("value").cast("long")))
          .head().get(0)
        val perRow = df.agg(sum(map_value_sum(col("m"), skipNulls = true))).head().get(0)
        assert(perRow == exploded && perRow == 4294967294L - 2147483648L + 2 + 1 + 2, m)
      } finally spark.conf.unset(mode)
    }
  }

  test("history_prices keeps the map_entries + transform form's type and values") {
    val hof = transform(
      map_entries(coalesce(col("historical_price"), map())),
      e => struct(e("key").as("date"), e("value").as("price")))
    for ((c, d) <- CarEdgeCases.cases(spark) :+ ("fixture" -> cars)) {
      val got = CarAnalytics.fetchCarData(d).select("history_prices")
      val ref = d.select(hof.as("history_prices"))
      assert(got.schema == ref.schema, c)
      assert(got.collect().toSeq == ref.collect().toSeq, c)
    }
  }
}

object CarAnalyticsSpec {
  /** `ApiEnvelope.read` of every (case, endpoint) in [[CarEdgeCases]],
    * recorded from the endpoints as they were before they moved onto
    * generated code (HOF folds, three-scan market overview). When every
    * map is null the registrations total 0, and `consumerPreferences`
    * (also behind `preferencesByDimension("type")`) replies empty — the
    * reference's `total == 0 → []` guard; it used to fail with
    * `DIVIDE_BY_ZERO`. */
  val Goldens: Map[(String, String), String] = Map(
    ("empty", "fetchCarData") ->
      """{"status":"success","data":[],"message":"成功从表 'car_data' 读取 0 行数据"}""",
    ("empty", "cityRegistrations") ->
      """{"status":"success","data":[],"message":"成功从表 'car_data' 读取 0 行数据"}""",
    ("empty", "marketTrends") ->
      """{"status":"success","data":[],"message":"成功从表 'car_data' 读取 0 行数据"}""",
    ("empty", "consumerPreferences") ->
      """{"status":"success","data":[],"message":"成功从表 'car_data' 读取 0 行数据"}""",
    ("empty", "brands") ->
      """{"status":"success","data":[],"message":"成功从表 'car_data' 读取 0 行数据"}""",
    ("empty", "brandModels") ->
      """{"status":"success","data":[],"message":"成功从表 'car_data' 读取 0 行数据"}""",
    ("empty", "modelDetails") ->
      """{"status":"success","data":[],"message":"成功从表 'car_data' 读取 0 行数据"}""",
    ("empty", "cityRankings") ->
      """{"status":"success","data":[],"message":"成功从表 'car_data' 读取 0 行数据"}""",
    ("empty", "recommendations") ->
      """{"status":"success","data":[],"message":"成功从表 'car_data' 读取 0 行数据"}""",
    ("empty", "marketOverview") ->
      """{"status":"success","data":[],"message":"成功从表 'car_data' 读取 0 行数据"}""",
    ("empty", "popularBrands") ->
      """{"status":"success","data":[],"message":"成功从表 'car_data' 读取 0 行数据"}""",
    ("empty", "trendMetric") ->
      """{"status":"success","data":[],"message":"成功从表 'car_data' 读取 0 行数据"}""",
    ("empty", "priceDistribution") ->
      """{"status":"success","data":[{"range":"0万-10万","count":0,"avg_attention":0.0},{"range":"10万-20万","count":0,"avg_attention":0.0},{"range":"20万-30万","count":0,"avg_attention":0.0},{"range":"30万-50万","count":0,"avg_attention":0.0},{"range":"50万以上","count":0,"avg_attention":0.0}],"message":"成功从表 'car_data' 读取 5 行数据"}""",
    ("empty", "preferencesByDimension") ->
      """{"status":"success","data":[],"message":"成功从表 'car_data' 读取 0 行数据"}""",
    ("null maps", "fetchCarData") ->
      """{"status":"success","data":[{"brand":"Brand1","model":"Model1","guide_price":90000.00,"horsepower":150,"doors":4,"min_price":81000.00,"attention":75,"discount":5.00,"car_type":"SUV","manufacture_year":2020,"history_prices":[],"id":"Brand1_Model1","model_id":"Brand1_Model1"},{"brand":"Brand2","model":"Model1","guide_price":250000.00,"horsepower":150,"doors":4,"min_price":225000.00,"attention":80,"discount":5.00,"car_type":"Sedan","history_prices":[],"id":"Brand2_Model1","model_id":"Brand2_Model1"}],"message":"成功从表 'car_data' 读取 2 行数据"}""",
    ("null maps", "cityRegistrations") ->
      """{"status":"success","data":[],"message":"成功从表 'car_data' 读取 0 行数据"}""",
    ("null maps", "marketTrends") ->
      """{"status":"success","data":[{"date":"2020","registrations":0,"attention":75,"avg_price":90000.0}],"message":"成功从表 'car_data' 读取 1 行数据"}""",
    ("null maps", "consumerPreferences") ->
      """{"status":"success","data":[],"message":"成功从表 'car_data' 读取 0 行数据"}""",
    ("null maps", "brands") ->
      """{"status":"success","data":[{"brand":"Brand1"},{"brand":"Brand2"}],"message":"成功从表 'car_data' 读取 2 行数据"}""",
    ("null maps", "brandModels") ->
      """{"status":"success","data":[{"id":"Brand1_Model1","name":"Model1"}],"message":"成功从表 'car_data' 读取 1 行数据"}""",
    ("null maps", "modelDetails") ->
      """{"status":"success","data":[{"brand":"Brand1","model":"Model1","guide_price":90000.00,"horsepower":150,"doors":4,"min_price":81000.00,"attention":75,"discount":5.00,"car_type":"SUV","manufacture_year":2020,"history_prices":[],"model_id":"Brand1_Model1"}],"message":"成功从表 'car_data' 读取 1 行数据"}""",
    ("null maps", "cityRankings") ->
      """{"status":"success","data":[],"message":"成功从表 'car_data' 读取 0 行数据"}""",
    ("null maps", "recommendations") ->
      """{"status":"success","data":[{"id":"Brand2_Model1","brand":"Brand2","model":"Model1","guide_price":250000.00,"min_price":225000.00,"attention":80,"car_type":"Sedan"},{"id":"Brand1_Model1","brand":"Brand1","model":"Model1","guide_price":90000.00,"min_price":81000.00,"attention":75,"car_type":"SUV"}],"message":"成功从表 'car_data' 读取 2 行数据"}""",
    ("null maps", "marketOverview") ->
      """{"status":"success","data":[{"avg_attention":77.5,"top_car":"Brand2 Model1 (关注度: 80)"}],"message":"成功从表 'car_data' 读取 1 行数据"}""",
    ("null maps", "popularBrands") ->
      """{"status":"success","data":[{"brand":"Brand1","n":1},{"brand":"Brand2","n":1}],"message":"成功从表 'car_data' 读取 2 行数据"}""",
    ("null maps", "trendMetric") ->
      """{"status":"success","data":[{"date":"2020","value":0}],"message":"成功从表 'car_data' 读取 1 行数据"}""",
    ("null maps", "priceDistribution") ->
      """{"status":"success","data":[{"range":"0万-10万","count":1,"avg_attention":75.0},{"range":"10万-20万","count":0,"avg_attention":0.0},{"range":"20万-30万","count":1,"avg_attention":80.0},{"range":"30万-50万","count":0,"avg_attention":0.0},{"range":"50万以上","count":0,"avg_attention":0.0}],"message":"成功从表 'car_data' 读取 5 行数据"}""",
    ("null maps", "preferencesByDimension") ->
      """{"status":"success","data":[],"message":"成功从表 'car_data' 读取 0 行数据"}""",
    ("null map values", "fetchCarData") ->
      """{"status":"success","data":[{"brand":"Brand1","model":"Model1","guide_price":90000.00,"horsepower":150,"doors":4,"min_price":81000.00,"attention":70,"discount":5.00,"car_type":"SUV","city_license_plates":{"CityA":null,"CityB":25},"manufacture_year":2020,"history_prices":[{"date":"2023-01"},{"date":"2023-02","price":88000}],"id":"Brand1_Model1","model_id":"Brand1_Model1"},{"brand":"Brand1","model":"Model2","guide_price":120000.00,"horsepower":150,"doors":4,"min_price":108000.00,"attention":60,"discount":5.00,"car_type":"SUV","city_license_plates":{"CityA":40},"manufacture_year":2020,"history_prices":[{"date":"2023-01","price":100}],"id":"Brand1_Model2","model_id":"Brand1_Model2"},{"brand":"Brand2","model":"Model1","guide_price":310000.00,"horsepower":150,"doors":4,"min_price":279000.00,"attention":50,"discount":5.00,"car_type":"新能源","city_license_plates":{},"manufacture_year":2021,"history_prices":[],"id":"Brand2_Model1","model_id":"Brand2_Model1"},{"brand":"Brand2","model":"Model2","guide_price":420000.00,"horsepower":150,"doors":4,"min_price":378000.00,"attention":40,"discount":5.00,"car_type":"Sedan","city_license_plates":{"CityC":null},"manufacture_year":2021,"history_prices":[{"date":"2023-01","price":7}],"id":"Brand2_Model2","model_id":"Brand2_Model2"},{"brand":"Brand3","model":"Model1","guide_price":650000.00,"horsepower":150,"doors":4,"min_price":585000.00,"attention":30,"discount":5.00,"car_type":"Sedan","city_license_plates":{"CityD":2147483647,"CityE":2147483647},"manufacture_year":2022,"history_prices":[],"id":"Brand3_Model1","model_id":"Brand3_Model1"}],"message":"成功从表 'car_data' 读取 5 行数据"}""",
    ("null map values", "cityRegistrations") ->
      """{"status":"success","data":[{"city":"CityD","registrations":2147483647,"id":0},{"city":"CityE","registrations":2147483647,"id":1},{"city":"CityA","registrations":40,"id":2},{"city":"CityB","registrations":25,"id":3},{"city":"CityC","id":4}],"message":"成功从表 'car_data' 读取 5 行数据"}""",
    ("null map values", "marketTrends") ->
      """{"status":"success","data":[{"date":"2020","registrations":40,"attention":130,"avg_price":105000.0},{"date":"2021","registrations":0,"attention":90,"avg_price":365000.0},{"date":"2022","registrations":4294967294,"attention":30,"avg_price":650000.0}],"message":"成功从表 'car_data' 读取 3 行数据"}""",
    ("null map values", "consumerPreferences") ->
      """{"status":"success","data":[{"type":"SUV","preference":9.31322566375542E-9},{"type":"Sedan","preference":0.9999999906867744},{"type":"电动汽车","preference":0.0}],"message":"成功从表 'car_data' 读取 3 行数据"}""",
    ("null map values", "brands") ->
      """{"status":"success","data":[{"brand":"Brand1"},{"brand":"Brand2"},{"brand":"Brand3"}],"message":"成功从表 'car_data' 读取 3 行数据"}""",
    ("null map values", "brandModels") ->
      """{"status":"success","data":[{"id":"Brand1_Model1","name":"Model1"},{"id":"Brand1_Model2","name":"Model2"}],"message":"成功从表 'car_data' 读取 2 行数据"}""",
    ("null map values", "modelDetails") ->
      """{"status":"success","data":[{"brand":"Brand1","model":"Model1","guide_price":90000.00,"horsepower":150,"doors":4,"min_price":81000.00,"attention":70,"discount":5.00,"car_type":"SUV","city_license_plates":{"CityA":null,"CityB":25},"manufacture_year":2020,"history_prices":[{"date":"2023-01"},{"date":"2023-02","price":88000}],"model_id":"Brand1_Model1"}],"message":"成功从表 'car_data' 读取 1 行数据"}""",
    ("null map values", "cityRankings") ->
      """{"status":"success","data":[{"city":"CityD","registrations":2147483647},{"city":"CityE","registrations":2147483647},{"city":"CityA","registrations":40},{"city":"CityB","registrations":25},{"city":"CityC"}],"message":"成功从表 'car_data' 读取 5 行数据"}""",
    ("null map values", "recommendations") ->
      """{"status":"success","data":[{"id":"Brand1_Model1","brand":"Brand1","model":"Model1","guide_price":90000.00,"min_price":81000.00,"attention":70,"car_type":"SUV"},{"id":"Brand1_Model2","brand":"Brand1","model":"Model2","guide_price":120000.00,"min_price":108000.00,"attention":60,"car_type":"SUV"},{"id":"Brand2_Model1","brand":"Brand2","model":"Model1","guide_price":310000.00,"min_price":279000.00,"attention":50,"car_type":"新能源"},{"id":"Brand2_Model2","brand":"Brand2","model":"Model2","guide_price":420000.00,"min_price":378000.00,"attention":40,"car_type":"Sedan"},{"id":"Brand3_Model1","brand":"Brand3","model":"Model1","guide_price":650000.00,"min_price":585000.00,"attention":30,"car_type":"Sedan"}],"message":"成功从表 'car_data' 读取 5 行数据"}""",
    ("null map values", "marketOverview") ->
      """{"status":"success","data":[{"total_registrations":4294967359,"avg_attention":50.0,"top_car":"Brand1 Model1 (关注度: 70)"}],"message":"成功从表 'car_data' 读取 1 行数据"}""",
    ("null map values", "popularBrands") ->
      """{"status":"success","data":[{"brand":"Brand1","n":2},{"brand":"Brand2","n":2},{"brand":"Brand3","n":1}],"message":"成功从表 'car_data' 读取 3 行数据"}""",
    ("null map values", "trendMetric") ->
      """{"status":"success","data":[{"date":"2020","value":40},{"date":"2021","value":0},{"date":"2022","value":4294967294}],"message":"成功从表 'car_data' 读取 3 行数据"}""",
    ("null map values", "priceDistribution") ->
      """{"status":"success","data":[{"range":"0万-10万","count":1,"avg_attention":70.0},{"range":"10万-20万","count":1,"avg_attention":60.0},{"range":"20万-30万","count":1,"avg_attention":50.0},{"range":"30万-50万","count":1,"avg_attention":40.0},{"range":"50万以上","count":1,"avg_attention":30.0}],"message":"成功从表 'car_data' 读取 5 行数据"}""",
    ("null map values", "preferencesByDimension") ->
      """{"status":"success","data":[{"type":"SUV","preference":9.31322566375542E-9},{"type":"Sedan","preference":0.9999999906867744},{"type":"电动汽车","preference":0.0}],"message":"成功从表 'car_data' 读取 3 行数据"}""",
    ("null attention", "fetchCarData") ->
      """{"status":"success","data":[{"brand":"Brand2","model":"Model1","guide_price":90000.00,"horsepower":150,"doors":4,"min_price":81000.00,"discount":5.00,"car_type":"SUV","city_license_plates":{"CityA":3},"manufacture_year":2020,"history_prices":[{"date":"2023-01","price":1}],"id":"Brand2_Model1","model_id":"Brand2_Model1"},{"brand":"Brand1","model":"Model2","guide_price":150000.00,"horsepower":150,"doors":4,"min_price":135000.00,"discount":5.00,"car_type":"Sedan","city_license_plates":{"CityB":4},"manufacture_year":2021,"history_prices":[{"date":"2023-01","price":2}],"id":"Brand1_Model2","model_id":"Brand1_Model2"},{"brand":"Brand1","model":"Model1","guide_price":350000.00,"horsepower":150,"doors":4,"min_price":315000.00,"discount":5.00,"car_type":"Sedan","city_license_plates":{"CityA":5},"manufacture_year":2021,"history_prices":[{"date":"2023-01","price":3}],"id":"Brand1_Model1","model_id":"Brand1_Model1"}],"message":"成功从表 'car_data' 读取 3 行数据"}""",
    ("null attention", "cityRegistrations") ->
      """{"status":"success","data":[{"city":"CityA","registrations":8,"id":0},{"city":"CityB","registrations":4,"id":1}],"message":"成功从表 'car_data' 读取 2 行数据"}""",
    ("null attention", "marketTrends") ->
      """{"status":"success","data":[{"date":"2020","registrations":3,"attention":0,"avg_price":90000.0},{"date":"2021","registrations":9,"attention":0,"avg_price":250000.0}],"message":"成功从表 'car_data' 读取 2 行数据"}""",
    ("null attention", "consumerPreferences") ->
      """{"status":"success","data":[{"type":"SUV","preference":0.25},{"type":"Sedan","preference":0.75}],"message":"成功从表 'car_data' 读取 2 行数据"}""",
    ("null attention", "brands") ->
      """{"status":"success","data":[{"brand":"Brand1"},{"brand":"Brand2"}],"message":"成功从表 'car_data' 读取 2 行数据"}""",
    ("null attention", "brandModels") ->
      """{"status":"success","data":[{"id":"Brand1_Model1","name":"Model1"},{"id":"Brand1_Model2","name":"Model2"}],"message":"成功从表 'car_data' 读取 2 行数据"}""",
    ("null attention", "modelDetails") ->
      """{"status":"success","data":[{"brand":"Brand1","model":"Model1","guide_price":350000.00,"horsepower":150,"doors":4,"min_price":315000.00,"discount":5.00,"car_type":"Sedan","city_license_plates":{"CityA":5},"manufacture_year":2021,"history_prices":[{"date":"2023-01","price":3}],"model_id":"Brand1_Model1"}],"message":"成功从表 'car_data' 读取 1 行数据"}""",
    ("null attention", "cityRankings") ->
      """{"status":"success","data":[{"city":"CityA","registrations":8},{"city":"CityB","registrations":4}],"message":"成功从表 'car_data' 读取 2 行数据"}""",
    ("null attention", "recommendations") ->
      """{"status":"success","data":[{"id":"Brand1_Model1","brand":"Brand1","model":"Model1","guide_price":350000.00,"min_price":315000.00,"car_type":"Sedan"},{"id":"Brand1_Model2","brand":"Brand1","model":"Model2","guide_price":150000.00,"min_price":135000.00,"car_type":"Sedan"},{"id":"Brand2_Model1","brand":"Brand2","model":"Model1","guide_price":90000.00,"min_price":81000.00,"car_type":"SUV"}],"message":"成功从表 'car_data' 读取 3 行数据"}""",
    ("null attention", "marketOverview") ->
      """{"status":"success","data":[{"total_registrations":12}],"message":"成功从表 'car_data' 读取 1 行数据"}""",
    ("null attention", "popularBrands") ->
      """{"status":"success","data":[{"brand":"Brand1","n":2},{"brand":"Brand2","n":1}],"message":"成功从表 'car_data' 读取 2 行数据"}""",
    ("null attention", "trendMetric") ->
      """{"status":"success","data":[{"date":"2020","value":3},{"date":"2021","value":9}],"message":"成功从表 'car_data' 读取 2 行数据"}""",
    ("null attention", "priceDistribution") ->
      """{"status":"success","data":[{"range":"0万-10万","count":1,"avg_attention":0.0},{"range":"10万-20万","count":1,"avg_attention":0.0},{"range":"20万-30万","count":0,"avg_attention":0.0},{"range":"30万-50万","count":1,"avg_attention":0.0},{"range":"50万以上","count":0,"avg_attention":0.0}],"message":"成功从表 'car_data' 读取 5 行数据"}""",
    ("null attention", "preferencesByDimension") ->
      """{"status":"success","data":[{"type":"SUV","preference":0.25},{"type":"Sedan","preference":0.75}],"message":"成功从表 'car_data' 读取 2 行数据"}""",
    ("tied attention", "fetchCarData") ->
      """{"status":"success","data":[{"brand":"Brand2","model":"Model1","guide_price":90000.00,"horsepower":150,"doors":4,"min_price":81000.00,"attention":95,"discount":5.00,"car_type":"SUV","city_license_plates":{"CityA":3},"manufacture_year":2020,"history_prices":[{"date":"2023-01","price":1}],"id":"Brand2_Model1","model_id":"Brand2_Model1"},{"brand":"Brand3","model":"Model1","guide_price":150000.00,"horsepower":150,"doors":4,"min_price":135000.00,"discount":5.00,"car_type":"Sedan","city_license_plates":{"CityB":4},"manufacture_year":2021,"history_prices":[{"date":"2023-01","price":2}],"id":"Brand3_Model1","model_id":"Brand3_Model1"},{"brand":"Brand1","model":"Model2","guide_price":250000.00,"horsepower":150,"doors":4,"min_price":225000.00,"attention":95,"discount":5.00,"car_type":"Sedan","city_license_plates":{"CityA":5},"manufacture_year":2021,"history_prices":[{"date":"2023-01","price":3}],"id":"Brand1_Model2","model_id":"Brand1_Model2"},{"brand":"Brand1","model":"Model1","guide_price":550000.00,"horsepower":150,"doors":4,"min_price":495000.00,"attention":90,"discount":5.00,"car_type":"SUV","city_license_plates":{"CityC":6},"manufacture_year":2022,"history_prices":[{"date":"2023-01","price":4}],"id":"Brand1_Model1","model_id":"Brand1_Model1"}],"message":"成功从表 'car_data' 读取 4 行数据"}""",
    ("tied attention", "cityRegistrations") ->
      """{"status":"success","data":[{"city":"CityA","registrations":8,"id":0},{"city":"CityC","registrations":6,"id":1},{"city":"CityB","registrations":4,"id":2}],"message":"成功从表 'car_data' 读取 3 行数据"}""",
    ("tied attention", "marketTrends") ->
      """{"status":"success","data":[{"date":"2020","registrations":3,"attention":95,"avg_price":90000.0},{"date":"2021","registrations":9,"attention":95,"avg_price":200000.0},{"date":"2022","registrations":6,"attention":90,"avg_price":550000.0}],"message":"成功从表 'car_data' 读取 3 行数据"}""",
    ("tied attention", "consumerPreferences") ->
      """{"status":"success","data":[{"type":"SUV","preference":0.5},{"type":"Sedan","preference":0.5}],"message":"成功从表 'car_data' 读取 2 行数据"}""",
    ("tied attention", "brands") ->
      """{"status":"success","data":[{"brand":"Brand1"},{"brand":"Brand2"},{"brand":"Brand3"}],"message":"成功从表 'car_data' 读取 3 行数据"}""",
    ("tied attention", "brandModels") ->
      """{"status":"success","data":[{"id":"Brand1_Model1","name":"Model1"},{"id":"Brand1_Model2","name":"Model2"}],"message":"成功从表 'car_data' 读取 2 行数据"}""",
    ("tied attention", "modelDetails") ->
      """{"status":"success","data":[{"brand":"Brand1","model":"Model1","guide_price":550000.00,"horsepower":150,"doors":4,"min_price":495000.00,"attention":90,"discount":5.00,"car_type":"SUV","city_license_plates":{"CityC":6},"manufacture_year":2022,"history_prices":[{"date":"2023-01","price":4}],"model_id":"Brand1_Model1"}],"message":"成功从表 'car_data' 读取 1 行数据"}""",
    ("tied attention", "cityRankings") ->
      """{"status":"success","data":[{"city":"CityA","registrations":8},{"city":"CityC","registrations":6},{"city":"CityB","registrations":4}],"message":"成功从表 'car_data' 读取 3 行数据"}""",
    ("tied attention", "recommendations") ->
      """{"status":"success","data":[{"id":"Brand1_Model2","brand":"Brand1","model":"Model2","guide_price":250000.00,"min_price":225000.00,"attention":95,"car_type":"Sedan"},{"id":"Brand2_Model1","brand":"Brand2","model":"Model1","guide_price":90000.00,"min_price":81000.00,"attention":95,"car_type":"SUV"},{"id":"Brand1_Model1","brand":"Brand1","model":"Model1","guide_price":550000.00,"min_price":495000.00,"attention":90,"car_type":"SUV"},{"id":"Brand3_Model1","brand":"Brand3","model":"Model1","guide_price":150000.00,"min_price":135000.00,"car_type":"Sedan"}],"message":"成功从表 'car_data' 读取 4 行数据"}""",
    ("tied attention", "marketOverview") ->
      """{"status":"success","data":[{"total_registrations":18,"avg_attention":93.33333333333333,"top_car":"Brand1 Model2 (关注度: 95)"}],"message":"成功从表 'car_data' 读取 1 行数据"}""",
    ("tied attention", "popularBrands") ->
      """{"status":"success","data":[{"brand":"Brand1","n":2},{"brand":"Brand2","n":1},{"brand":"Brand3","n":1}],"message":"成功从表 'car_data' 读取 3 行数据"}""",
    ("tied attention", "trendMetric") ->
      """{"status":"success","data":[{"date":"2020","value":3},{"date":"2021","value":9},{"date":"2022","value":6}],"message":"成功从表 'car_data' 读取 3 行数据"}""",
    ("tied attention", "priceDistribution") ->
      """{"status":"success","data":[{"range":"0万-10万","count":1,"avg_attention":95.0},{"range":"10万-20万","count":1,"avg_attention":0.0},{"range":"20万-30万","count":1,"avg_attention":95.0},{"range":"30万-50万","count":1,"avg_attention":90.0},{"range":"50万以上","count":0,"avg_attention":0.0}],"message":"成功从表 'car_data' 读取 5 行数据"}""",
    ("tied attention", "preferencesByDimension") ->
      """{"status":"success","data":[{"type":"SUV","preference":0.5},{"type":"Sedan","preference":0.5}],"message":"成功从表 'car_data' 读取 2 行数据"}""")
}
