package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}
import graft.car.{CarAnalytics, CarDataGen}
import graft.sources.{ApiEnvelope, Ingest, Maintenance}

/** One timed operation of the closed loop. */
final case class Sample(kind: String, name: String, seconds: Double)

/** What a workload's closed loop leaves behind: samples, failures and the
  * counters the harness measures itself (files and bytes of the table).
  * An operation that throws, or whose output check fails, counts once in
  * `failed` and never drops out of `attempted`. */
final class Loop(val tracer: Tracer) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  val counters = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

  /** Time `body` as one operation of kind `kind`; a thrown error fails it. */
  def timed[T](kind: String, name: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val out = tracer.span("op", name)(body)
      samples += Sample(kind, name, (System.nanoTime() - t0) / 1e9)
      Some(out)
    } catch {
      case e: Throwable =>
        fail(s"$kind $name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** An untimed output check. */
  def check(what: String)(result: => Either[String, Unit]): Unit = {
    attempted += 1
    try result.left.foreach(msg => fail(s"$what: $msg"))
    catch { case e: Throwable => fail(s"$what threw ${e.getMessage}") }
  }

  def fail(msg: String): Unit = {
    failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }
}

/** The dashboard workload: the 43 core `SparkEntry` queries and three
  * operators that keep state in the session's cache (see `cacheOperators`)
  * over the engine's sf0.01 test tables, in seeded passes (each a
  * permutation of all 46), forced with the `noop` sink. Every query has
  * already run once in the untimed digest check, so each timed run is a
  * repeat. */
object Dashboard {
  val minPasses = 1 // 46 samples: p75 has 11 beyond it
  val checkThreads = 3

  /** The core queries: every `SparkEntry` query but the `ext_*` operators. */
  def coreNames: Vector[String] =
    SparkEntry.queries.keys.filterNot(_.startsWith("ext_")).toVector.sorted

  /** Operators whose build leaves state in the session: `ext_key_skew` and
    * `ext_conversion_lag` persist an aggregate that the cache manager keeps
    * (a repeat of the same plan reuses it), `ext_pagerank` cuts lineage with
    * `Checkpointing.Local`. None of the core queries persists or cuts, so
    * without these the `cache` layer would have no work to measure. */
  val cacheOperators = Vector("ext_conversion_lag", "ext_key_skew", "ext_pagerank")

  def queryNames: Vector[String] = coreNames ++ cacheOperators

  /** The tables these queries read; set-up opens exactly these. */
  val tables = Seq("lineitem", "orders", "customer", "part", "supplier", "nation",
    "region", "events", "documents")

  /** Untimed, before the loop: each query's result digest against the
    * recorded one. The queries run on a few threads at once, which only
    * shortens this check; it also warms the JVM for the single-threaded
    * loop. */
  def checkDigests(spark: SparkSession, dir: String, loop: Loop,
      reference: Map[String, String]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(checkThreads)
    try {
      val digests = queryNames.map { name =>
        name -> pool.submit(() => Checks.digest(SparkEntry.queries(name)(spark, dir)))
      }
      digests.foreach { case (name, digest) =>
        loop.check(s"digest $name") {
          val got = digest.get()
          reference.get(name) match {
            case Some(want) if want == got => Right(())
            case Some(want) => Left(s"digest $got, recorded $want")
            case None => Left("no recorded digest")
          }
        }
      }
    } finally pool.shutdown()
  }

  def run(spark: SparkSession, dir: String, seed: Long, seconds: Double, loop: Loop): Unit = {
    val names = queryNames
    require(coreNames.length == 43, s"expected 43 core queries, found ${coreNames.length}")
    val rng = new Random(seed)
    val t0 = System.nanoTime()
    var passes = 0
    def more = passes < minPasses ||
      (!loop.tracer.traced && (System.nanoTime() - t0) / 1e9 < seconds)
    while (more) {
      rng.shuffle(names).foreach { name =>
        loop.timed("query", name) {
          val df = loop.tracer.span("operators", name)(SparkEntry.queries(name)(spark, dir))
          loop.tracer.span("exec", name)(df.write.format("noop").mode("overwrite").save())
        }
      }
      passes += 1
    }
  }
}

/** The car_ingest workload: the reference's own single-table workflow.
  * A cycle appends 13 batches of 10,000 rows (the reference's cap). After
  * every append the loop reads `popularBrands`, whose total must count
  * every row written so far, then the next two of the 13 other endpoints,
  * so a cycle reads each of them exactly twice, in a seeded order with
  * seeded parameters. The cycle ends with a compaction and one more
  * `popularBrands` read: 40 reads, so p75 has 10 beyond it.
  *
  * Sized for 22 runs per check on a 4-core box: the base table has 200,000
  * rows, not 1,000,000, and a compaction follows every 13 appends, not 20
  * (at 1M rows and 20 appends one cycle took 107 s). Each append is still
  * 5% of the base and leaves its own small files. */
object CarIngest {
  val baseRows = 200000L
  val appendRows = 10000
  val appendsPerCycle = 13
  val readsPerAppend = 2 // besides the popularBrands check
  val table = "car_data"

  /** One endpoint call: its name and how it builds its DataFrame. */
  final case class Endpoint(name: String, build: (SparkSession, DataFrame) => DataFrame)

  /** The 13 endpoints besides `popularBrands`, parameters drawn from `rng`. */
  def endpoints(rng: Random, modelIds: IndexedSeq[String]): IndexedSeq[Endpoint] = {
    val brands = CarDataGen.brandModels.map(_._1).toIndexedSeq
    def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.length))
    def maybe[T](x: => T): Option[T] = if (rng.nextBoolean()) Some(x) else None
    val brand = pick(brands)
    val modelId = pick(modelIds)
    val metric = pick(IndexedSeq("registrations", "attention", "avg_price"))
    val minPrice = maybe(80000.0 + rng.nextInt(200) * 1000.0)
    val filters = (maybe(pick(brands)), minPrice, maybe(minPrice.getOrElse(80000.0) + 200000.0),
      maybe(80 + rng.nextInt(300)), maybe(pick(IndexedSeq(2, 4, 5))),
      maybe(pick(CarDataGen.carTypes.toIndexedSeq)))
    IndexedSeq(
      Endpoint("fetchCarData", (_, d) => CarAnalytics.fetchCarData(d)),
      Endpoint("cityRegistrations", (_, d) => CarAnalytics.cityRegistrations(d)),
      Endpoint("marketTrends", (_, d) => CarAnalytics.marketTrends(d)),
      Endpoint("consumerPreferences", (_, d) => CarAnalytics.consumerPreferences(d)),
      Endpoint("brands", (_, d) => CarAnalytics.brands(d)),
      Endpoint("brandModels", (_, d) => CarAnalytics.brandModels(d, brand)),
      Endpoint("modelDetails", (_, d) => CarAnalytics.modelDetails(d, modelId)),
      Endpoint("cityRankings", (_, d) => CarAnalytics.cityRankings(d, "registrations")),
      Endpoint("recommendations", (_, d) => CarAnalytics.recommendations(
        d, filters._1, filters._2, filters._3, filters._4, filters._5, filters._6)),
      Endpoint("marketOverview", (_, d) => CarAnalytics.marketOverview(d)),
      Endpoint("trendMetric", (_, d) => CarAnalytics.trendMetric(d, metric)),
      Endpoint("priceDistribution", (s, d) => CarAnalytics.priceDistribution(s, d)),
      Endpoint("preferencesByDimension", (s, d) => CarAnalytics.preferencesByDimension(s, d, "type")))
  }

  val popularBrands = Endpoint("popularBrands", (_, d) => CarAnalytics.popularBrands(d))

  /** Set-up: generate the base table from the seed and write it. */
  def createBase(spark: SparkSession, dir: String, seed: Long): Unit =
    Ingest.createTable(CarDataGen.generate(spark, baseRows, seed), s"$dir/$table.parquet")

  /** Data files of the table and their total bytes. */
  def files(spark: SparkSession, dir: String): (Long, Long) = {
    val path = new Path(s"$dir/$table.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val data = fs.listStatus(path).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    (data.length.toLong, data.map(_.getLen).sum)
  }

  /** One endpoint read: a fresh `Tables.apply`, the endpoint, and the
    * `ApiEnvelope.read` that forces it. */
  def read(spark: SparkSession, dir: String, e: Endpoint, loop: Loop): Option[String] = {
    val reply = loop.timed("read", e.name) {
      val t = loop.tracer
      val df = t.span("tables", e.name)(Tables(spark, dir, table))
      val q = t.span("car", e.name)(e.build(spark, df))
      t.span("api", e.name)(ApiEnvelope.read(q, table))
    }
    reply.foreach { r =>
      loop.check(s"${e.name} reply")(Checks.envelopeRows(r).map { data =>
        loop.counters("sources.api_rows") += data.length
      })
    }
    reply
  }

  def run(spark: SparkSession, dir: String, seed: Long, seconds: Double, loop: Loop): Unit = {
    val modelIds = CarAnalytics.fetchCarData(Tables(spark, dir, table))
      .select("model_id").distinct().collect().map(_.getString(0)).sorted.toIndexedSeq
    val rng = new Random(seed)
    val next = Iterator.continually(rng.shuffle(endpoints(rng, modelIds))).flatten
    var rows = baseRows
    var appends = 0
    def fresh(what: String): Unit = {
      val expected = rows
      read(spark, dir, popularBrands, loop).foreach { reply =>
        loop.check(s"popularBrands $what")(Checks.brandTotal(reply, expected))
      }
    }
    val t0 = System.nanoTime()
    def more = appends == 0 ||
      (!loop.tracer.traced && (System.nanoTime() - t0) / 1e9 < seconds)
    while (more) {
      (1 to appendsPerCycle).foreach { _ =>
        appends += 1
        val (filesBefore, bytesBefore) = files(spark, dir)
        loop.timed("append", "bulkRandomInsert") {
          loop.tracer.span("append")(Ingest.bulkRandomInsert(
            spark, s"$dir/$table.parquet", appendRows, seed * 1000 + appends))
        }.foreach { n =>
          // the expected total counts the rows asked for, not the count
          // the engine reports; that count is checked on its own
          rows += appendRows
          loop.check("append count")(
            if (n == appendRows) Right(())
            else Left(s"bulkRandomInsert reports $n rows, $appendRows were asked for"))
        }
        val (filesAfter, bytesAfter) = files(spark, dir)
        loop.counters("sources.files_written") += filesAfter - filesBefore
        loop.counters("sources.bytes_written") += bytesAfter - bytesBefore
        fresh("after append")
        (1 to readsPerAppend).foreach(_ => read(spark, dir, next.next(), loop))
      }
      loop.timed("compact", "compactParquet") {
        loop.tracer.span("compact")(Maintenance.compactParquet(spark, s"$dir/$table.parquet"))
      }.foreach { report =>
        loop.counters("sources.files_before_compact") += report.filesBefore
        loop.counters("sources.files_after_compact") += report.filesAfter
        val expected = rows
        loop.check("compaction rows")(
          if (report.rows == expected) Right(())
          else Left(s"compaction kept ${report.rows} rows, $expected were written"))
      }
      fresh("after compaction")
    }
    val (_, bytes) = files(spark, dir)
    loop.counters("sources.bytes_per_row") = bytes.toDouble / rows
  }
}
