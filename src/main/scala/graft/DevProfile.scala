package graft

/** Dev-only: time one query (twice) and print its physical plan. */
object DevProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    // extra confs: SPARK_GRAFT_CONF="k=v;k=v" (dev bisection)
    val conf = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";").filter(_.contains("=")))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    val spark = Session.local(conf = conf)
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    (1 to sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt).foreach { i =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(s"RUN$i ${(System.nanoTime() - t0) / 1e9}s")
    }
    fn(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
