package graft

import org.apache.spark.sql.SparkSession

/** The one place a local Spark session is configured. Bench, Verify,
  * the dev tools and the test suite all start their session here, so
  * their settings cannot drift apart; a caller with a real difference
  * (the tests' 4 cores, PlanShapes' static 32-partition plans) passes
  * it as an argument.
  *
  * `SPARK_GRAFT_CPUS` sets the core count (default: the machine's). */
object Session {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The shared confs: `local[cores]`, one shuffle partition per core
    * unless `shufflePartitions` says otherwise, UTC, AQE on unless
    * `adaptive` is false, UI off, and nanos-as-long parquet timestamps
    * (`events.ts` is INT64 TIMESTAMP(NANOS), which Spark refuses
    * without the legacy flag; [[graft.Tables]] rebuilds the timestamp). */
  def settings(
      cores: Int = cpus,
      shufflePartitions: Option[Int] = None,
      adaptive: Boolean = true): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> shufflePartitions.getOrElse(cores).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> adaptive.toString,
    "spark.ui.enabled" -> "false")

  /** A local session with [[settings]] plus any `conf` overrides. */
  def local(
      cores: Int = cpus,
      shufflePartitions: Option[Int] = None,
      adaptive: Boolean = true,
      conf: Map[String, String] = Map.empty): SparkSession =
    SparkSession.builder()
      .config(settings(cores, shufflePartitions, adaptive) ++ conf)
      .getOrCreate()

  /** Free every materialization still held in the session at once:
    * each lineage cut ([[graft.operators.Checkpointing.cut]]) and any
    * plan a caller persisted. Operators leave no CacheManager entry —
    * a cut is held only by the frame that reads it, and the context
    * cleaner frees it once that frame is unreachable — but the cleaner
    * runs on GC, asynchronously, so a long-lived session that runs many
    * queries calls this between them or later queries pay for the dead
    * blocks (r10: `ext_semdedup` took 55.9 s after heavy queries in one
    * JVM against 10.6 s alone). Frames built before the call must not
    * be reused after it. */
  def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
