package perfbench

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables
import graft.car.{CarAnalytics, CarDataGen}
import graft.sources.{ApiEnvelope, Ingest}

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  private lazy val dir = Files.createTempDirectory("perfbench-spec").toString

  override def afterAll(): Unit = spark.stop()

  test("a job is attributed to the open span, a Tables.scala job to the tables layer") {
    spark.range(100).toDF("x").write.mode("overwrite").parquet(s"$dir/toy.parquet")
    val tracer = new Tracer("spec", traced = true)
    tracer.attach(spark)
    val df = tracer.span("operators", "toy")(Tables(spark, dir, "toy"))
    tracer.span("exec", "toy")(df.write.format("noop").mode("overwrite").save())
    spark.range(10).count() // outside every span
    val ids = tracer.spans.map(s => s.name -> s.id).toMap
    val works = tracer.works
    val build = works(ids("operators"))
    val exec = works(ids("exec"))
    assert(build.tablesJobs >= 1, "schema inference in Tables.apply is a tables job")
    assert(build.jobs == build.tablesJobs, "the build made no other job")
    assert(exec.jobs >= 1 && exec.tablesJobs == 0)
    assert(exec.stages >= 1 && exec.tasks >= 1)
    assert(exec.planNanos > 0, "the action's planning is claimed by its span")
    val layers = Layers.metrics(tracer, new Loop(tracer))
    assert(layers("tables.jobs") == build.tablesJobs.toDouble)
    assert(layers("exec.jobs") == exec.jobs.toDouble)
    assert(layers("operators.build_jobs") == build.jobs.toDouble)
  }

  test("state a persisting operator leaves in the session counts in the cache layer") {
    val before = Layers.cacheLeft(spark.sparkContext)
    graft.operators.Relational.keySkewProfile(
      spark.range(1000).toDF("k").selectExpr("k % 7 as k"), org.apache.spark.sql.functions.col("k"))
      .collect()
    val after = Layers.cacheLeft(spark.sparkContext)
    assert(after("cache.rdds_left") == before("cache.rdds_left") + 1)
    assert(after("cache.bytes_left") > before("cache.bytes_left"))
    spark.catalog.clearCache()
    assert(Layers.cacheLeft(spark.sparkContext)("cache.rdds_left") == 0)
  }

  test("the digest ignores row order and last-ulp noise but rejects a perturbed row") {
    val rows = Seq(Row(1L, "a", 0.1 + 0.2, Seq(1, 2)), Row(2L, "b", 3.0, Seq.empty[Int]))
    val digest = Checks.digestRows(rows)
    assert(Checks.digestRows(rows.reverse) == digest)
    assert(Checks.digestRows(Seq(Row(1L, "a", 0.3, Seq(1, 2)), rows(1))) == digest)
    assert(Checks.digestRows(Seq(Row(1L, "a", 0.31, Seq(1, 2)), rows(1))) != digest)
    assert(Checks.digestRows(Seq(Row(1L, "c", 0.3, Seq(1, 2)), rows(1))) != digest)
    assert(Checks.digestRows(rows.take(1)) != digest)
  }

  test("the freshness check fails on a DataFrame opened before the append") {
    val path = s"$dir/${CarIngest.table}.parquet"
    Ingest.createTable(CarDataGen.generate(spark, 100, 1L), path)
    val stale = Tables(spark, dir, CarIngest.table)
    Ingest.bulkRandomInsert(spark, path, 10, 2L)
    def total(df: org.apache.spark.sql.DataFrame) =
      Checks.brandTotal(ApiEnvelope.read(CarAnalytics.popularBrands(df), CarIngest.table), 110)
    assert(total(stale).isLeft)
    assert(total(Tables(spark, dir, CarIngest.table)) == Right(()))
    assert(Checks.envelopeRows("""{"status":"error","message":"x"}""").isLeft)
    assert(Checks.envelopeRows("not json").isLeft)
  }
}
