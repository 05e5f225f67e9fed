package graft.tools

/** Dev tool: dump `.explain("formatted")` for named contract queries to
  * files — the before/after plan evidence the optimization rounds commit
  * under plans/rNN/ (judge checks plan claims against these files).
  *
  * Bench session settings (graft.Session: AQE on, UTC) with 32 shuffle
  * partitions, the count the committed plans/rNN dumps were taken at;
  * plan shape does not depend on the core count.
  *
  * Usage: runMain graft.tools.ExplainDump <sfDir> <outDir> <suffix> <q1,q2,...>
  * Writes <outDir>/<query>_<suffix>.txt
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: ExplainDump <sfDir> <outDir> <suffix> <q1,q2,...>")
    val Array(sfDir, outDir, suffix, qlist) = args
    val names = graft.SparkEntry.select(qlist)
    val spark = graft.Session.local(shufflePartitions = Some(32))
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    try names.foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${q}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[explain-dump] wrote $outDir/${q}_$suffix.txt " +
        s"(${txt.length} chars)")
    } finally spark.stop()
  }
}
