package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract sanity: entry smoke + queries/oracle wiring at sf0.001. */
class SparkEntrySpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("entry returns rows (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every query has an oracle — full-strength correctness surface") {
    // a query without an oracle silently downgrades to the driver's
    // weaker rows-only check; the whole contract is currently 100%
    // hash-oracled and this pins that property for future additions
    val weak = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(weak.isEmpty, s"query without oracle (rows-only downgrade): $weak")
  }

  test("all queries execute and are non-empty at sf0.001") {
    val empty = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n = fn(spark, sf).count()
      if (n == 0) Some(name) else None
    }
    // j3 can legitimately be empty at the tiniest sf; everything else must
    // produce rows.
    assert(empty.filterNot(_ == "j3_anti_join").isEmpty,
      s"empty results: $empty")
  }

  test("plan hygiene: no contract query ever plans a CartesianProduct") {
    // BroadcastNestedLoopJoin is fine where it appears — it's the
    // explicit crossJoin(broadcast(tiny)) probe/scalar pattern. A raw
    // CartesianProduct means two non-broadcast sides met without keys:
    // always a bug at scale.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("approx distinct stays within the configured error of exact g1") {
    import org.apache.spark.sql.functions._
    // approx_count_distinct runs with rsd=0.02; HLL++ error is
    // probabilistic, so allow 3 sigma on the raw values. The contract g3
    // row certifies a 5% bound by hash; this pins the estimate itself.
    val exact = SparkEntry.queries("g1_count_distinct")(spark, sf)
      .collect().map(r => r.getAs[String]("rf") -> r.getAs[Long]("n_parts")).toMap
    val approx = graft.Tables(spark, sf, "lineitem")
      .groupBy(col("l_returnflag").as("rf"))
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
      .collect().map(r => r.getAs[String]("rf") -> r.getAs[Long]("approx_parts")).toMap
    assert(approx.keySet == exact.keySet)
    // g3 sketches the deduplicated (rf, partkey) pairs: HLL++ registers
    // depend only on the set of values, so the estimate is the same
    val deduped = graft.Tables(spark, sf, "lineitem")
      .select(col("l_returnflag").as("rf"), col("l_partkey")).distinct()
      .groupBy("rf").agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
      .collect().map(r => r.getAs[String]("rf") -> r.getAs[Long]("approx_parts")).toMap
    assert(deduped == approx)
    approx.foreach { case (rf, est) =>
      val truth = exact(rf).toDouble
      val relErr = math.abs(est - truth) / truth
      assert(relErr <= 0.06, f"g3 group $rf: estimate $est vs exact ${exact(rf)} " +
        f"(rel err $relErr%.4f > 3×rsd)")
    }
    // and the contract certificate itself must be all-true here
    val cert = SparkEntry.queries("g3_approx_distinct")(spark, sf).collect()
    assert(cert.nonEmpty && cert.forall(_.getAs[Boolean]("within_bound")))
  }

  test("approx quantiles stay within sketch error of exact g6") {
    import org.apache.spark.sql.functions._
    // percentile_approx(accuracy=10000) guarantees rank error ≤ n/10000;
    // values at rank ± that distance bound the estimate. The contract g9
    // row certifies the rank bound by hash; this test additionally pins
    // the VALUES against the exact g6 formulation.
    val approx = graft.Tables(spark, sf, "lineitem")
      .groupBy(col("l_returnflag").as("rf"))
      .agg(percentile_approx(
        col("l_extendedprice"), array(lit(0.25), lit(0.5), lit(0.75)),
        lit(10000)).as("qs"))
      .selectExpr("rf", "CAST(qs[0] AS DOUBLE)", "CAST(qs[1] AS DOUBLE)",
        "CAST(qs[2] AS DOUBLE)")
      .collect()
      .map(r => r.getString(0) ->
        Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val exact = SparkEntry.queries("g6_quantiles_exact")(spark, sf)
      .selectExpr("rf", "CAST(p25 AS DOUBLE)", "CAST(p50 AS DOUBLE)",
        "CAST(p75 AS DOUBLE)")
      .collect()
      .map(r => r.getString(0) ->
        Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (rf, qs) =>
      qs.zip(exact(rf)).zip(Seq("p25", "p50", "p75")).foreach {
        case ((est, truth), p) =>
          val relErr = math.abs(est - truth) / truth
          // value-space slack for the tiny sf0.001 test set: rank error
          // n/10000 < 1 row there, so estimates should be near-exact
          assert(relErr <= 0.02,
            f"approx $rf $p: $est vs exact $truth (rel err $relErr%.4f)")
      }
    }
    // and the contract certificate itself must be all-true here
    val cert = SparkEntry.queries("g9_approx_quantiles")(spark, sf).collect()
    assert(cert.nonEmpty && cert.forall(r =>
      r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3)))
  }
}
