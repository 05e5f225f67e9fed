package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

import graft.Tables

/** One benchmark run in one JVM: set up, check outputs, run the closed
  * loop, and write the raw result (every sample, failure and counter) as
  * JSON for `run.py` to summarise.
  *
  * Arguments: `workload seed seconds trace dataDir workDir outFile
  * digestsFile`. With `record` as the last argument the dashboard digests
  * are written to `digestsFile` instead of checked. */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val setups = 3

  def session(workDir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Heap in use after each collection during the loop; the peak is kept. */
  object Heap {
    @volatile var peakBytes = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n, _) => {
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            if (used > peakBytes) peakBytes = used
          }
        }, null, null)
      case _ => ()
    }
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private def jitSeconds: Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, dataDir, workDir, outFile, digestsFile) =
      args.take(8)
    val record = args.length > 8 && args(8) == "record"
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    require(Set("dashboard", "car_ingest")(workload), s"unknown workload $workload")
    Heap.install()

    // set-up, several times; the last session stays open
    val setupRuns = (1 to setups).map { i =>
      val t0 = System.nanoTime()
      val spark = session(workDir)
      var gen = 0.0
      if (workload == "dashboard")
        Dashboard.tables.foreach(t => Tables(spark, dataDir, t).limit(1).write.format("noop")
          .mode("overwrite").save())
      else {
        val g0 = System.nanoTime()
        CarIngest.createBase(spark, workDir, seed)
        gen = (System.nanoTime() - g0) / 1e9
      }
      val took = (System.nanoTime() - t0) / 1e9
      if (i < setups) spark.stop()
      (took, gen)
    }
    val spark = SparkSession.active
    val tracer = new Tracer(s"$workload-$seed", traced = traceArg == "1")
    tracer.attach(spark)
    val loop = new Loop(tracer)
    val mapper = new ObjectMapper()

    if (workload == "dashboard") {
      if (record) {
        val digests = new java.util.TreeMap[String, String]()
        Dashboard.queryNames.foreach(n =>
          digests.put(n, Checks.digest(graft.SparkEntry.queries(n)(spark, dataDir))))
        Files.write(Paths.get(digestsFile),
          mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(digests))
      }
      val reference = mapper.readTree(Files.readAllBytes(Paths.get(digestsFile)))
        .properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
      Dashboard.checkDigests(spark, dataDir, loop, reference)
    }

    Heap.peakBytes = 0L
    val gc0 = gcSeconds
    val jit0 = jitSeconds
    val t0 = System.nanoTime()
    workload match {
      case "dashboard" => Dashboard.run(spark, dataDir, seed, seconds, loop)
      case _ => CarIngest.run(spark, workDir, seed, seconds, loop)
    }
    val loopSeconds = (System.nanoTime() - t0) / 1e9
    val gc = gcSeconds - gc0
    val jit = jitSeconds - jit0
    val heapPeak = Heap.peakBytes
    // After the loop and outside every timing: what the session retains.
    // A collection lets Spark's context cleaner see dropped RDDs, shuffles
    // and broadcasts and remove their blocks, which the next one frees; the
    // least of three is what cannot be freed.
    val heapRetained = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min

    val cache = Layers.cacheLeft(spark.sparkContext)

    val gens = setupRuns.map(_._2).sorted
    val layers =
      if (!tracer.traced) Map.empty[String, Double]
      else Layers.metrics(tracer, loop) ++ cache ++ Map(
        "car.gen_s" -> gens(gens.length / 2),
        "jvm.gc_s" -> gc,
        "jvm.jit_s" -> jit,
        "jvm.heap_peak_mb" -> heapPeak / 1048576.0)

    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("workload", workload)
    out.put("seed", seed)
    out.put("traced", tracer.traced)
    out.put("setup_s", setupRuns.map(_._1).asJava)
    out.put("loop_s", loopSeconds)
    out.put("attempted", loop.attempted)
    out.put("failures", loop.failures.asJava)
    out.put("mem_peak_mb", heapPeak / 1048576.0)
    out.put("mem_retained_mb", heapRetained / 1048576.0)
    out.put("bytes_per_row", loop.counters("sources.bytes_per_row"))
    out.put("samples", loop.samples.map(s =>
      Map("kind" -> s.kind, "name" -> s.name, "s" -> s.seconds).asJava).asJava)
    out.put("layers", layers.asJava)
    if (tracer.traced) out.put("spans", Layers.spanRecords(tracer).asJava)
    Files.write(Paths.get(outFile), mapper.writeValueAsBytes(out))
    spark.stop()
  }
}
