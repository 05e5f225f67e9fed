package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational

class SessionSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // What Bench and Verify set by hand before they shared this factory
  // (Verify left AQE at Spark's default, which is on).
  private def benchConfs(n: Int) = Map(
    "spark.master" -> s"local[$n]",
    "spark.sql.shuffle.partitions" -> n.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false")

  test("the shared settings are exactly the confs Bench and Verify used") {
    assert(Session.settings(cores = 32) == benchConfs(32))
    assert(Session.settings() == benchConfs(Session.cpus))
  }

  test("callers' differences are arguments, not copies") {
    assert(Session.settings(shufflePartitions = Some(32), adaptive = false) ==
      benchConfs(Session.cpus) ++ Map(
        "spark.sql.shuffle.partitions" -> "32",
        "spark.sql.adaptive.enabled" -> "false"))
  }

  test("the test session runs on the factory's settings at 4 cores") {
    assert(spark.sparkContext.master == "local[4]")
    benchConfs(4).removed("spark.master").foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
  }

  test("release leaves no persisted RDD and an empty CacheManager") {
    Session.release(spark)
    assert(spark.sharedState.cacheManager.isEmpty)
    val keys = Seq("a", "a", "a", "b", "b", "c").toDF("k")
    // only the distributed path cuts: six keys would finish on the driver
    val profile = distributed(Relational.keySkewProfile(keys, col("k")))
    assert(profile.collect().length == 1)
    assert(spark.sharedState.cacheManager.isEmpty,
      "keySkewProfile must leave no CacheManager entry")
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "keySkewProfile's cut of its counts is held by the frame")
    Session.release(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
    // the frame stayed reachable, so release (not the cleaner) freed the cut
    assert(profile.columns.contains("top_share"))
  }

  test("no file under src/ builds a session outside the factory") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val factory = java.nio.file.Paths.get("src/main/scala/graft/Session.scala")
    val root = java.nio.file.Paths.get("src")
    assert(java.nio.file.Files.isDirectory(root))
    val files = java.nio.file.Files.walk(root)
    val offenders =
      try {
        import scala.jdk.CollectionConverters._
        files.iterator().asScala
          .filter(p => p.toString.endsWith(".scala") && p != factory)
          .flatMap { p =>
            val lines = java.nio.file.Files.readAllLines(p).asScala
            lines.zipWithIndex.collect {
              case (line, i) if builder.findFirstIn(line).isDefined &&
                  !line.trim.startsWith("*") && !line.trim.startsWith("//") =>
                s"$p:${i + 1}"
            }
          }.toList
      } finally files.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
