package graft
import java.nio.file.{Files, Paths}

import graft.sources.ApiEnvelope.jsonString

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (dev-only fast rerun);
    // SparkEntry.select fails on an unknown name before any Spark work
    val only: Option[Set[String]] = args.lift(2).map(SparkEntry.select(_).toSet)
    def isSelected(name: String): Boolean = only.forall(_.contains(name))
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => isSelected(name) }
    val failed = selected.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }.toSeq.sorted
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => isSelected(name) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Declared-query manifest: the contract surface this run was asked
    // to produce (all of SparkEntry.queries on a full run; the selection
    // on a dev-only selective rerun), independent of which results
    // actually materialized. check_parity.py diffs it against the
    // emitted dirs — a query that errors out can no longer silently
    // vanish from the round's correctness evidence (the round-7 failure
    // mode: 6 queries absent from CORRECTNESS with no red row anywhere).
    Files.writeString(Paths.get(s"$outDir/declared_queries.json"),
      selected.keys.toSeq.sorted.map(jsonString).mkString("[", ",", "]"))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] HARD FAIL: ${failed.size}/${selected.size} declared " +
          s"queries produced no result: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
