package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.{BinaryType, StringType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Testdata-contract guard. The driver regenerates
  * /root/testdata/sf* between rounds, and a silent encoding change
  * (round 7: events.ts INT64-nanos → timestamp[us]/NTZ) once broke six
  * queries with no in-tree red row. This spec pins the contract: every
  * table loads through Tables, and the normalized events.ts is ALWAYS
  * TimestampType — never NTZ, never Long — so the next refresh fails
  * here, in tests, not in the driver's bench. */
class TablesSpec extends AnyFunSuite with SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  test("every testdata table loads and is non-empty") {
    tables.foreach { t =>
      val df = Tables(spark, dir, t)
      assert(df.limit(1).count() == 1L, s"table $t is empty or unreadable")
    }
  }

  test("events.ts normalizes to TimestampType regardless of on-disk encoding") {
    val events = Tables(spark, dir, "events")
    val tsField = events.schema.fields.find(_.name == "ts")
    assert(tsField.isDefined, "events has no ts column")
    assert(tsField.get.dataType == TimestampType,
      s"events.ts normalized to ${tsField.get.dataType}, want TimestampType " +
        "(NTZ/Long leaking through Tables.normalizeTs breaks every " +
        "unix_millis/window/watermark consumer)")
    assert(Tables.tsIsNormalized(events.schema))
    // the type must also be USABLE: unix_millis is the call the NTZ
    // regression killed with DATATYPE_MISMATCH
    val ms = events.select(unix_millis(col("ts")).as("ms")).limit(5).collect()
    assert(ms.nonEmpty && ms.forall(r => r.getLong(0) > 0L))
  }

  test("normalizeTs handles an NTZ ts column") {
    import spark.implicits._
    val ntz = Seq("2024-01-02T03:04:05.123456").toDF("s")
      .select(col("s").cast(TimestampNTZType).as("ts"))
    assert(ntz.schema.head.dataType == TimestampNTZType)
    val fixed = Tables.normalizeTs(ntz)
    assert(fixed.schema.head.dataType == TimestampType)
    // session TZ is pinned UTC, so the wall-clock instant is preserved
    assert(fixed.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .head().getString(0) == "2024-01-02 03:04:05.123456")
  }

  test("normalizeTs handles a legacy nanos-as-long ts column") {
    import spark.implicits._
    // 2024-01-02T03:04:05.123456789 UTC as nanos since epoch
    val nanos = 1704164645123456789L
    val legacy = Seq(nanos).toDF("ts")
    val fixed = Tables.normalizeTs(legacy)
    assert(fixed.schema.head.dataType == TimestampType)
    assert(fixed.select(unix_micros(col("ts"))).head().getLong(0) ==
      nanos / 1000L) // integer truncation, no double round-trip
  }

  test("normalizeTs: all four plausible driver encodings land on TimestampType") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ts-enc").toString
    val base = Seq("2024-01-02 03:04:05.123456").toDF("s")
      .select(col("s").cast(TimestampType).as("ts"))
    val prevOut = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try {
      // (a) INT96 legacy — Spark reads it back as TimestampType directly
      spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
      base.write.mode("overwrite").parquet(s"$tmp/int96")
      // (b) tz-aware timestamp[us, tz=UTC] — also arrives as TimestampType
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      base.write.mode("overwrite").parquet(s"$tmp/micros_utc")
      // (c) timestamp[us] no-tz — arrives NTZ, normalizer casts (r7 drift)
      base.select(col("ts").cast(TimestampNTZType).as("ts"))
        .write.mode("overwrite").parquet(s"$tmp/ntz")
      // (d) INT64 TIMESTAMP(NANOS) — with nanosAsLong (set in every engine
      // session) it arrives as raw Long nanos; a plain-int64 fixture has
      // the identical arrival shape
      Seq(1704164645123456789L).toDF("ts")
        .write.mode("overwrite").parquet(s"$tmp/nanos")
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prevOut)
    for (enc <- Seq("int96", "micros_utc", "ntz", "nanos")) {
      val fixed = Tables.normalizeTs(spark.read.parquet(s"$tmp/$enc"))
      assert(fixed.schema.head.dataType == TimestampType,
        s"encoding $enc normalized to ${fixed.schema.head.dataType}")
      assert(fixed.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .head().getString(0) == "2024-01-02 03:04:05.123456",
        s"encoding $enc changed the instant")
    }
  }

  test("streaming file source sees the same normalized schema as batch") {
    val batch = Tables(spark, dir, "events")
    val stream = graft.streaming.EventStreams
      .readEventStream(spark, s"$dir/events.parquet")
    assert(stream.isStreaming)
    assert(stream.schema == batch.schema,
      s"stream schema ${stream.schema.simpleString} != " +
        s"batch schema ${batch.schema.simpleString}")
  }

  /** Spark jobs started while `body` runs. Job-start events arrive
    * asynchronously, so the count is read once a fence job tagged after
    * `body` has been seen: events are delivered in order. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("tables-probe", "open under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("tables-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("tables-fence") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("tables-fence"), "fence job never reached the listener")
      groups.toArray.count(_ == "tables-probe")
    } finally sc.removeSparkListener(listener)
  }

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def entriesFor(path: String): Map[String, org.apache.spark.sql.types.StructType] =
    Tables.cachedSchemas.filter(_._1.endsWith(path))

  test("a second open of an unchanged table runs no Spark job") {
    val events = Tables(spark, dir, "events")
    assert(jobsDuring(Tables(spark, dir, "lineitem")) <= 1) // at most the inference
    val again = jobsDuring {
      val l = Tables(spark, dir, "lineitem")
      val e = Tables(spark, dir, "events")
      assert(e.schema == events.schema)
      assert(l.columns.contains("l_orderkey"))
    }
    assert(again == 0, s"re-opening unchanged tables ran $again jobs")
  }

  test("each open is a fresh relation: a self-join of two opens resolves") {
    val a = Tables(spark, dir, "nation")
    val b = Tables(spark, dir, "nation")
    def ids(df: DataFrame) = df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty, "two opens share attribute ids")
    val n = a.join(b, a("n_regionkey") === b("n_regionkey")).count()
    assert(n == 125L) // 25 nations, 5 per region
  }

  test("an append is seen by the next open; an overwrite with a new schema too") {
    import spark.implicits._
    val tmp = tmpDir("graft-tables-append")
    val path = s"$tmp/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(path)
    assert(Tables(spark, tmp, "t").count() == 2L)
    Seq((3L, "c")).toDF("id", "s").write.mode("append").parquet(path)
    assert(Tables(spark, tmp, "t").count() == 3L)
    Seq((1.5, true)).toDF("x", "flag").write.mode("overwrite").parquet(path)
    val replaced = Tables(spark, tmp, "t")
    assert(replaced.columns.toSeq == Seq("x", "flag"))
    assert(replaced.collect().toSeq.map(r => (r.getDouble(0), r.getBoolean(1))) ==
      Seq((1.5, true)))
    assert(entriesFor(path).size == 1, s"cache entries: ${entriesFor(path).keys}")
  }

  test("a changed inference conf re-infers the schema") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // a plain parquet writer: a Spark-written file carries its Spark
    // schema in the footer, and inference prefers that over the conf
    val tmp = tmpDir("graft-tables-binary")
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$tmp/bin.parquet/part-0.parquet"))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq("0", "1", "2").foreach(v => writer.write(rows.newGroup().append("b", v)))
    finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables(spark, tmp, "bin").schema("b").dataType == BinaryType)
      spark.conf.set(key, "true")
      val asString = Tables(spark, tmp, "bin")
      assert(asString.schema("b").dataType == StringType)
      assert(asString.orderBy("b").collect().map(_.getString(0)).toSeq == Seq("0", "1", "2"))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a missing path and an empty directory fail as Spark does, and nothing is cached") {
    val tmp = tmpDir("graft-tables-missing")
    def condition(open: => DataFrame): String =
      intercept[AnalysisException](open).getCondition
    assert(condition(Tables(spark, tmp, "absent")) == "PATH_NOT_FOUND")
    Files.createDirectory(java.nio.file.Paths.get(s"$tmp/empty.parquet"))
    assert(condition(Tables(spark, tmp, "empty")) == "UNABLE_TO_INFER_SCHEMA")
    assert(entriesFor(s"$tmp/absent.parquet").isEmpty)
    assert(entriesFor(s"$tmp/empty.parquet").isEmpty)
    // a failure is not remembered: once the directory has a file it opens
    import spark.implicits._
    Seq(7L).toDF("id").write.mode("append").parquet(s"$tmp/empty.parquet")
    assert(Tables(spark, tmp, "empty").as[Long].collect().toSeq == Seq(7L))
  }
}
