package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.car.{CarDataGen, CarSchema}

class IngestSpec extends AnyFunSuite with SparkSpec {

  test("A5/A6 parquet round trip: overwrite then append") {
    val dir = Files.createTempDirectory("graft-ingest").toString + "/car_data"
    val gen = CarDataGen.generate(spark, 50)
    Ingest.createTable(gen, dir)
    assert(spark.read.parquet(dir).count() == 50)
    Ingest.appendRows(CarDataGen.generate(spark, 25, seed = 9L), dir)
    assert(spark.read.parquet(dir).count() == 75)
  }

  test("A5/A6 catalog round trip: saveAsTable, INSERT-append, spark.table") {
    // the metastore-shaped path: tables get catalog identity (name
    // resolution, schema), not just a filesystem path — the engine-side
    // equivalent of the reference's Hive DDL tier (utils.py:40-50)
    Ingest.createCatalogTable(CarDataGen.generate(spark, 50), "car_data_cat")
    try {
      assert(spark.catalog.tableExists("car_data_cat"))
      assert(Ingest.readCatalogTable(spark, "car_data_cat").count() == 50)
      Ingest.appendCatalogTable(CarDataGen.generate(spark, 25, seed = 9L), "car_data_cat")
      assert(spark.table("car_data_cat").count() == 75)
      // SQL name resolution works against the same catalog identity
      assert(spark.sql("SELECT count(*) AS n FROM car_data_cat")
        .collect().head.getLong(0) == 75L)
      // overwrite = the reference's DROP-IF-EXISTS + CREATE semantics
      Ingest.createCatalogTable(CarDataGen.generate(spark, 10, seed = 3L), "car_data_cat")
      assert(spark.table("car_data_cat").count() == 10)
      assert(spark.table("car_data_cat").schema.fieldNames.toSeq ==
        CarSchema.schema.fieldNames.toSeq)
    } finally spark.sql("DROP TABLE IF EXISTS car_data_cat")
  }

  test("A5/A6 ORC tier: path round trip, append, and catalog table") {
    val dir = Files.createTempDirectory("graft-orc").toString + "/car_data"
    val gen = CarDataGen.generate(spark, 50)
    Ingest.createTableOrc(gen, dir)
    assert(Ingest.readOrc(spark, dir).count() == 50)
    Ingest.appendRowsOrc(CarDataGen.generate(spark, 25, seed = 9L), dir)
    assert(Ingest.readOrc(spark, dir).count() == 75)
    // same rows as the parquet tier would hold — format changes the
    // file bytes, never the table contents
    val viaOrc = Ingest.readOrc(spark, dir)
    assert(viaOrc.schema.fieldNames.toSeq == CarSchema.schema.fieldNames.toSeq)
    // content equality on the scalar columns (set ops reject MAP types;
    // the map columns' round-trip is covered by the schema check above)
    val scalarCols = CarSchema.schema.fields
      .filterNot(_.dataType.typeName == "map").map(f => f.name).toIndexedSeq
    assert(viaOrc.select(scalarCols.head, scalarCols.tail: _*).exceptAll(
      gen.unionAll(CarDataGen.generate(spark, 25, seed = 9L))
        .select(scalarCols.head, scalarCols.tail: _*)).isEmpty)

    Ingest.createCatalogTableOrc(CarDataGen.generate(spark, 10, seed = 3L), "car_data_orc")
    try {
      assert(spark.table("car_data_orc").count() == 10)
      // the catalog records the ORC provider, i.e. Hive STORED AS ORC shape
      assert(spark.sql("DESCRIBE TABLE EXTENDED car_data_orc")
        .filter("col_name = 'Provider'")
        .collect().head.getString(1).equalsIgnoreCase("orc"))
    } finally spark.sql("DROP TABLE IF EXISTS car_data_orc")
  }

  test("B16 NATIVE Excel ingestion: zip+xml parse, rename, cast, append") {
    // build a real minimal .xlsx (ZIP of XML) with shared strings,
    // inline strings, and numeric cells — the shapes pandas-written
    // upload sheets contain
    val tmp = Files.createTempDirectory("graft-xlsx")
    val xlsx = tmp.resolve("upload.xlsx")
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(xlsx))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    entry("xl/sharedStrings.xml",
      """<?xml version="1.0"?><sst><si><t>brand</t></si><si><t>model</t></si>
        |<si><t>guide_price</t></si><si><t>attention</t></si><si><t>奥迪</t></si>
        |<si><r><t>A4</t></r><r><t>L</t></r></si></sst>""".stripMargin)
    entry("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>
        |  <c r="C1" t="s"><v>2</v></c><c r="D1" t="s"><v>3</v></c></row>
        |<row r="2"><c r="A2" t="s"><v>4</v></c><c r="B2" t="s"><v>5</v></c>
        |  <c r="C2"><v>300000.00</v></c><c r="D2"><v>500</v></c></row>
        |<row r="3"><c r="A3" t="inlineStr"><is><t>宝马</t></is></c>
        |  <c r="B3" t="inlineStr"><is><r><t>3</t></r><r><t>系</t></r></is></c>
        |  <c r="C3"><v>350000</v></c><c r="D3"><v>800</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zos.close()
    val table = tmp.resolve("table").toString
    val n = Ingest.ingestExcel(spark, xlsx.toString, table)
    assert(n == 2)
    val back = spark.read.parquet(table)
    assert(back.schema.fieldNames.toSeq == CarSchema.schema.fieldNames.toSeq)
    val audi = back.filter(back("car_brand") === "奥迪").collect().head
    assert(audi.getAs[String]("car_model") == "A4L") // rich-text runs concatenate
    assert(audi.getAs[Int]("popularity") == 500) // attention → popularity
    assert(audi.getAs[java.math.BigDecimal]("manufacturer_suggested_price")
      .doubleValue() == 300000.0)
    val bmw = back.filter(back("car_brand") === "宝马").collect()
    assert(bmw.length == 1)
    // inlineStr rich-text runs concatenate too (not just first <t>)
    assert(bmw.head.getAs[String]("car_model") == "3系")

    // empty workbook (header only) rejected before any write, ref :200-202
    val empty = tmp.resolve("empty.xlsx")
    val z2 = new java.util.zip.ZipOutputStream(Files.newOutputStream(empty))
    z2.putNextEntry(new java.util.zip.ZipEntry("xl/worksheets/sheet1.xml"))
    z2.write("""<?xml version="1.0"?><worksheet><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>brand</t></is></c></row></sheetData></worksheet>""".getBytes("UTF-8"))
    z2.closeEntry(); z2.close()
    intercept[IllegalArgumentException] {
      Ingest.ingestExcel(spark, empty.toString, tmp.resolve("t2").toString)
    }
  }

  test("B16 Excel date serials: date-styled numeric cells surface as ISO") {
    val tmp = Files.createTempDirectory("graft-xlsx-dates")
    val xlsx = tmp.resolve("dates.xlsx")
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(xlsx))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    // style 1 = builtin date (14), style 2 = custom datetime (164),
    // style 3 = plain numeric "0.00" (NOT a date)
    entry("xl/styles.xml",
      """<?xml version="1.0"?><styleSheet>
        |<numFmts count="2"><numFmt numFmtId="164" formatCode="yyyy\-mm\-dd hh:mm"/>
        |<numFmt numFmtId="165" formatCode="0.00"/></numFmts>
        |<cellXfs count="4"><xf numFmtId="0"/><xf numFmtId="14"/>
        |<xf numFmtId="164"/><xf numFmtId="165"/></cellXfs></styleSheet>""".stripMargin)
    entry("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>d</t></is></c>
        |  <c r="B1" t="inlineStr"><is><t>ts</t></is></c>
        |  <c r="C1" t="inlineStr"><is><t>num</t></is></c>
        |  <c r="D1" t="inlineStr"><is><t>raw</t></is></c></row>
        |<row r="2"><c r="A2" s="1"><v>45000</v></c>
        |  <c r="B2" s="2" t="n"><v>45000.5</v></c>
        |  <c r="C2" s="3"><v>45000</v></c>
        |  <c r="D2"><v>45000</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zos.close()
    val rows = ExcelIngest.readRows(xlsx.toString)
    assert(rows.head.toSeq == Seq("d", "ts", "num", "raw"))
    assert(rows(1).toSeq == Seq(
      "2023-03-15",          // builtin date style, whole serial → date-only
      "2023-03-15 12:00:00", // custom datetime format code
      "45000",               // numeric style: untouched
      "45000"))              // unstyled: untouched
  }

  test("B16 Excel multi-sheet: workbook order default, by-name selection") {
    val tmp = Files.createTempDirectory("graft-xlsx-sheets")
    val xlsx = tmp.resolve("sheets.xlsx")
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(xlsx))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    // tab order (summary first) deliberately disagrees with file
    // numbering (summary lives in sheet2.xml) — the manifest must win
    entry("xl/workbook.xml",
      """<?xml version="1.0"?><workbook><sheets>
        |<sheet name="summary" sheetId="5" r:id="rId2"/>
        |<sheet name="data" sheetId="1" r:id="rId1"/>
        |</sheets></workbook>""".stripMargin)
    entry("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships>
        |<Relationship Id="rId1" Target="worksheets/sheet1.xml"/>
        |<Relationship Id="rId2" Target="worksheets/sheet2.xml"/>
        |</Relationships>""".stripMargin)
    entry("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>from_data</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin)
    entry("xl/worksheets/sheet2.xml",
      """<?xml version="1.0"?><worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>from_summary</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zos.close()
    assert(ExcelIngest.readRows(xlsx.toString).head.toSeq == Seq("from_summary"))
    assert(ExcelIngest.readRows(xlsx.toString, Some("data")).head.toSeq ==
      Seq("from_data"))
    val err = intercept[IllegalArgumentException] {
      ExcelIngest.readRows(xlsx.toString, Some("nope"))
    }
    assert(err.getMessage.contains("summary") && err.getMessage.contains("data"))
  }

  test("B16 CSV ingestion renames API fields to DB fields and appends") {
    val tmp = Files.createTempDirectory("graft-csv")
    val csv = tmp.resolve("upload.csv")
    Files.writeString(csv,
      """brand,model,guide_price,horsepower,doors,min_price,car_type,attention,discount
        |奥迪,A4L,300000.00,190,4,280000.00,轿车,500,5.5
        |宝马,3系,350000.00,197,4,320000.00,轿车,800,3.0
        |""".stripMargin)
    val table = tmp.resolve("table").toString
    val n = Ingest.ingestCsv(spark, csv.toString, table)
    assert(n == 2)
    val back = spark.read.parquet(table)
    assert(back.schema.fieldNames.toSeq == CarSchema.schema.fieldNames.toSeq)
    val audi = back.filter(back("car_brand") === "奥迪").collect().head
    assert(audi.getAs[Int]("popularity") == 500) // attention → popularity
    assert(audi.getAs[java.math.BigDecimal]("manufacturer_suggested_price")
      .doubleValue() == 300000.0)
  }

  test("B16 ingestCsv runs one full-pipeline job (count rides on the write)") {
    val tmp = Files.createTempDirectory("graft-csv-jobs")
    val csv = tmp.resolve("upload.csv")
    Files.writeString(csv,
      "brand,model,guide_price\n奥迪,A4L,300000.00\n宝马,3系,350000.00\n")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val n = Ingest.ingestCsv(spark, csv.toString, tmp.resolve("t").toString)
      Thread.sleep(1000) // listener events post asynchronously
      assert(n == 2)
      // CSV header + inferSchema scans + the limit-1 empty probe + ONE
      // write job that carries the observed count — the aligned pipeline
      // never re-executes (pre-observe it ran again for aligned.count(),
      // which showed up here as a 5th job)
      assert(jobs.get() <= 4, s"ingest ran ${jobs.get()} jobs — pipeline re-executed?")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("B18 bulk random insert enforces the 10k cap (ref app.py:263)") {
    val dir = Files.createTempDirectory("graft-bulk").toString + "/t"
    assert(Ingest.bulkRandomInsert(spark, dir, 100) == 100L)
    assert(spark.read.parquet(dir).count() == 100)
    intercept[IllegalArgumentException] {
      Ingest.bulkRandomInsert(spark, dir, 10001)
    }
    intercept[IllegalArgumentException] {
      Ingest.bulkRandomInsert(spark, dir, 0)
    }
  }

  test("JDBC source round trip on embedded Derby (plain + partitioned)") {
    val db = Files.createTempDirectory("graft-derby").resolve("cars").toString
    val url = s"jdbc:derby:$db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE car_data (id BIGINT, car_brand VARCHAR(32), popularity INT)")
      val ins = conn.prepareStatement("INSERT INTO car_data VALUES (?, ?, ?)")
      (1 to 40).foreach { i =>
        ins.setLong(1, i.toLong); ins.setString(2, s"brand${i % 4}")
        ins.setInt(3, i * 10); ins.addBatch()
      }
      ins.executeBatch()
    } finally conn.close()

    val plain = Ingest.readJdbc(spark, url, "car_data")
    assert(plain.count() == 40)
    assert(plain.filter(plain("car_brand") === "brand1").count() == 10)

    val part = Ingest.readJdbcPartitioned(
      spark, url, "car_data", "id", 1L, 41L, numPartitions = 4)
    assert(part.rdd.getNumPartitions == 4) // parallel stride reads
    assert(part.count() == 40)
    // partitioned and plain reads see identical data
    assert(part.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 40L).toSeq)
  }

  test("API envelope matches the reference read contract (utils.py:166)") {
    import spark.implicits._
    val df = Seq((1L, "奥迪"), (2L, "宝马")).toDF("id", "car_brand")
    val json = ApiEnvelope.read(df.orderBy("id"), "car_data")
    assert(json.startsWith("""{"status":"success","data":["""))
    assert(json.contains(""""car_brand":"奥迪""""))
    assert(json.contains("读取 2 行数据"))
    val err = ApiEnvelope.error(new RuntimeException("boom"))
    assert(err == """{"status":"error","message":"读取数据失败: boom"}""")
  }

  test("API envelope keeps a map's stored key order and limits at the root") {
    import org.apache.spark.sql.functions.{lit, map}
    val keys = Seq("e", "d", "c", "b", "a")
    val df = spark.range(1).select(
      map(keys.zipWithIndex.flatMap { case (k, i) => Seq(lit(k), lit(i)) }: _*).as("m"))
    val json = ApiEnvelope.read(df, "car_data")
    assert(json.contains("""{"m":{"e":0,"d":1,"c":2,"b":3,"a":4}}"""), json)
    val spread = spark.range(0, 40, 1, 4).toDF("id")
    assert(spread.rdd.getNumPartitions == 4)
    val one = ApiEnvelope.read(spread, "car_data", limit = 1)
    assert(one.contains("读取 1 行数据"), one)
    assert(""""id":""".r.findAllMatchIn(one).length == 1, one)
  }

  test("B16 empty upload is rejected (ref app.py:200-202)") {
    val tmp = Files.createTempDirectory("graft-csv2")
    val csv = tmp.resolve("empty.csv")
    Files.writeString(csv, "brand,model\n")
    intercept[IllegalArgumentException] {
      Ingest.ingestCsv(spark, csv.toString, tmp.resolve("t").toString)
    }
  }

  test("JSON-lines ingest: rename + align + append, counted in one job") {
    val tmp = Files.createTempDirectory("graft-jsonl")
    val jsonl = tmp.resolve("drop.jsonl")
    // API field names (brand/attention) + one passthrough + one unknown
    Files.writeString(jsonl,
      """{"brand":"奥迪","attention":55,"city":"北京","mystery":1}
        |{"brand":"宝马","attention":66,"city":"上海","mystery":2}
        |""".stripMargin)
    val table = tmp.resolve("t").toString
    val n = Ingest.ingestJsonLines(spark, jsonl.toString, table)
    assert(n == 2L)
    val got = spark.read.parquet(table)
    assert(got.schema.fieldNames.toSeq == CarSchema.schema.fieldNames.toSeq)
    assert(got.select("car_brand").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("奥迪", "宝马"))
    assert(got.select("popularity").collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(55, 66)) // attention → popularity rename
  }

  test("writePartitioned: date-directory layout, pruned scan, one file per value") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-partwrite").toString + "/events"
    val ev = spark.range(300).select(
      col("id").as("event_id"),
      date_add(lit(java.sql.Date.valueOf("2024-03-01")),
        pmod(col("id"), lit(10)).cast("int")).as("d"),
      (col("id") * 3).cast("double").as("v"))
    Ingest.writePartitioned(ev, dir, Seq("d"))
    // directory-per-value layout, ONE file per partition (no small-file spray)
    val root = new java.io.File(dir)
    val partDirs = root.listFiles().filter(_.getName.startsWith("d="))
    assert(partDirs.length == 10, s"got ${partDirs.map(_.getName).toSeq}")
    assert(partDirs.forall(_.listFiles().count(_.getName.endsWith(".parquet")) == 1))
    // a date predicate PRUNES: 2 of 10 partitions survive before file listing
    val q = spark.read.parquet(dir)
      .filter(col("d").isin(java.sql.Date.valueOf("2024-03-02"),
        java.sql.Date.valueOf("2024-03-05")))
    val scan = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.partitionFilters.nonEmpty, "partition filters must reach the scan")
    assert(scan.selectedPartitions.partitionCount == 2,
      s"expected 2 pruned partitions, got ${scan.selectedPartitions.partitionCount}")
    assert(q.count() == 60)
    // round trip: contents survive the layout
    assert(spark.read.parquet(dir).agg(sum("v")).collect().head.getDouble(0)
      == (0 until 300).map(_ * 3.0).sum)
    // filesPerPartition > 1 splits each value deterministically — the
    // salt separates a value across reducers, so give the local run a
    // production-like reducer count (4 reducers would fold the salt
    // groups right back together)
    val dir2 = Files.createTempDirectory("graft-partwrite2").toString + "/events"
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      Ingest.writePartitioned(ev, dir2, Seq("d"), filesPerPartition = 3)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    val dirs2 = new java.io.File(dir2).listFiles().filter(_.getName.startsWith("d="))
    val fileCounts = dirs2.map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(fileCounts.sum > 10 && fileCounts.max > 1,
      s"salt must spread values over multiple files: ${fileCounts.toSeq}")
    assert(fileCounts.max <= 3, s"never more than filesPerPartition: ${fileCounts.toSeq}")
    assert(spark.read.parquet(dir2).count() == 300)
  }

  test("writeBucketedTable: co-bucketed SMJ has zero Exchange under the join") {
    import org.apache.spark.sql.functions._
    val facts = spark.range(2000).select(
      col("id").as("k"), (col("id") % 7).cast("double").as("v"))
    val dim = spark.range(500).select(
      col("id").as("dk"), concat(lit("g"), col("id") % 5).as("grp"))
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // static plan assertions (AQE wraps the tree in AdaptiveSparkPlanExec,
      // hiding children from collect; the bucket story is identical either way)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      Ingest.writeBucketedTable(facts, "graft_test_facts", 4, Seq("k"))
      Ingest.writeBucketedTable(dim, "graft_test_dim", 4, Seq("dk"))
      val j = spark.table("graft_test_facts").hint("merge")
        .join(spark.table("graft_test_dim"), col("k") === col("dk"))
      val plan = j.queryExecution.executedPlan
      val smj = plan.collect {
        case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec => s }
      assert(smj.nonEmpty, s"expected SMJ, got\n$plan")
      // the whole point: NO shuffle anywhere below the join — the bucket
      // layout pre-paid both exchanges at write time
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      assert(exchanges.isEmpty, s"bucketed join must not shuffle:\n$plan")
      assert(j.count() == 500)
      // one file per bucket (the repartition-by-bucket-hash guarantee)
      val scans = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      assert(scans.forall(_.selectedPartitions.bucketsContainSingleFile))
      // rewrite over an existing table (fresh-JVM leftover dirs included)
      Ingest.writeBucketedTable(facts.limit(100), "graft_test_facts", 4, Seq("k"))
      assert(spark.table("graft_test_facts").count() == 100)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
      spark.sql("DROP TABLE IF EXISTS graft_test_facts")
      spark.sql("DROP TABLE IF EXISTS graft_test_dim")
    }
  }

  test("sweepStaleBucketTables: foreign-pid debris goes, own-pid survives") {
    import org.apache.spark.sql.functions._
    val ownTag = s"pid${ProcessHandle.current().pid()}"
    val own = s"graft_bkt_sweep_own_$ownTag"
    val foreign = "graft_bkt_sweep_foreign_pid99999999"
    val df = spark.range(10).select(col("id").as("k"))
    try {
      Ingest.writeBucketedTable(df, own, 2, Seq("k"))
      Ingest.writeBucketedTable(df, foreign, 2, Seq("k"))
      // plus an ORPHAN dir: a crashed JVM's catalog entry is gone but
      // its managed directory remains
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val orphan = new org.apache.hadoop.fs.Path(
        wh, "graft_bkt_sweep_orphan_pid88888888")
      fs.mkdirs(orphan)
      val swept = Ingest.sweepStaleBucketTables(spark, "graft_bkt_sweep_")
      assert(swept == 2, s"expected foreign table + orphan dir, got $swept")
      assert(!spark.catalog.tableExists(foreign))
      assert(!fs.exists(orphan))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(wh, foreign)))
      // own-pid table untouched and still readable
      assert(spark.catalog.tableExists(own))
      assert(spark.table(own).count() == 10)
      // unrelated prefixes untouched by construction (filter is
      // prefix-anchored); re-sweep is a no-op
      assert(Ingest.sweepStaleBucketTables(spark, "graft_bkt_sweep_") == 0)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS `$own`")
      spark.sql(s"DROP TABLE IF EXISTS `$foreign`")
    }
  }

  test("overwritePartitionsDynamic replaces only the partitions present in df") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-dynpart").toString + "/t"
    val base = Seq(
      (1L, "2024-01-01"), (2L, "2024-01-01"),
      (3L, "2024-01-02"), (4L, "2024-01-02"),
      (5L, "2024-01-03")).toDF("v", "day")
    Ingest.writePartitioned(base, root, Seq("day"))
    def files(day: String): Map[String, Long] =
      new java.io.File(s"$root/day=$day").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getName -> f.lastModified()).toMap
    val d1 = files("2024-01-01")
    val d3 = files("2024-01-03")

    // re-ingest day 2 only, with corrected values
    val fixed = Seq((30L, "2024-01-02"), (31L, "2024-01-02")).toDF("v", "day")
    Ingest.overwritePartitionsDynamic(fixed, root, Seq("day"))

    assert(files("2024-01-01") == d1, "day 1 files must be byte-untouched")
    assert(files("2024-01-03") == d3, "day 3 files must be byte-untouched")
    val back = spark.read.parquet(root)
    assert(back.count() == 5L) // 2 + 2 replaced + 1
    assert(back.filter(col("day") === "2024-01-02")
      .select("v").orderBy("v").collect().map(_.getLong(0)).toSeq == Seq(30L, 31L),
      "day 2 fully replaced, not appended")
    // idempotent: the same load twice converges (the re-run story)
    Ingest.overwritePartitionsDynamic(fixed, root, Seq("day"))
    assert(spark.read.parquet(root).count() == 5L)
  }

  test("every shipped columnar/text format round-trips the same rows") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft-formats")
    val df = CarDataGen.generate(spark, 40L, seed = 7L)
      .select("car_brand", "city", "popularity") // flat slice: json/csv-safe
    val want = df.orderBy("car_brand", "city", "popularity").collect().toSeq
    Seq("parquet", "orc", "json", "csv").foreach { fmt =>
      val dir = tmp.resolve(fmt).toString
      val w = df.write.mode("overwrite").format(fmt)
      (if (fmt == "csv") w.option("header", "true") else w).save(dir)
      val r = spark.read.format(fmt)
      val back = (if (fmt == "csv")
        r.option("header", "true").option("inferSchema", "true").load(dir)
      else r.load(dir))
        .select(col("car_brand"), col("city"), col("popularity").cast("int"))
        .orderBy("car_brand", "city", "popularity").collect().toSeq
      assert(back == want, s"format $fmt")
    }
  }
}
