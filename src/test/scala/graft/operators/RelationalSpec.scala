package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class RelationalSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("histogram keeps empty buckets and guards div-zero") {
    val df = Seq(5.0, 250.0, 251.0, 999.0).toDF("v")
    val got = Relational.histogram(
      spark, df, col("v"), col("v"),
      Seq(
        Relational.Bucket(0, "low", 0.0, Some(100.0)),
        Relational.Bucket(1, "mid", 100.0, Some(200.0)),
        Relational.Bucket(2, "high", 200.0, None))).collect()
    assert(got.map(_.getAs[Long]("n")).toSeq == Seq(1L, 0L, 3L))
    assert(got.map(_.getAs[Double]("avg_value")).toSeq == Seq(5.0, 0.0, 500.0))
  }

  test("histogram bucket boundaries are half-open [lo, hi)") {
    val df = Seq(100.0).toDF("v") // exactly on the edge → upper bucket
    val got = Relational.histogram(
      spark, df, col("v"), col("v"),
      Seq(
        Relational.Bucket(0, "low", 0.0, Some(100.0)),
        Relational.Bucket(1, "high", 100.0, None))).collect()
    assert(got.map(_.getAs[Long]("n")).toSeq == Seq(0L, 1L))
  }

  test("shareOfTotal shares sum to 1") {
    val df = Seq(("a", 1), ("a", 2), ("b", 3), ("c", 4)).toDF("k", "v")
    val got = Relational.shareOfTotal(df, col("k"), sum(col("v"))).collect()
    assert(math.abs(got.map(_.getAs[Double]("share")).sum - 1.0) < 1e-12)
  }

  test("argmax is deterministic under ties (tiebreak asc)") {
    val df = Seq((1L, 10.0), (2L, 10.0), (3L, 5.0)).toDF("id", "m")
    val got = Relational.argmax(df, col("m"), col("id")).collect().head
    assert(got.getAs[Long]("id") == 1L)
  }

  test("conjunctiveFilter applies only present conjuncts") {
    val df = Seq((1, "x"), (2, "y"), (3, "x")).toDF("n", "s")
    val got = Relational.conjunctiveFilter(
      df, Seq(Some(col("s") === "x"), None, Some(col("n") > 1))).collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(3))
  }

  test("distinctValues and renameProject") {
    val df = Seq((1, "x"), (2, "x"), (3, "y")).toDF("n", "s")
    assert(Relational.distinctValues(df, "s").count() == 2)
    val renamed = Relational.renameProject(df, Seq("n" -> "id", "s" -> "tag"))
    assert(renamed.columns.toSeq == Seq("id", "tag"))
  }

  test("exactQuantiles picks actual elements at rank ceil(p*n)") {
    // group a: values 10..100 step 10 (n=10) → p25 = rank ceil(2.5)=3 → 30,
    // p50 = rank 5 → 50, p75 = rank ceil(7.5)=8 → 80
    // group b: 1,2,3 (n=3) → p25 = rank 1 → 1, p50 = rank ceil(1.5)=2 → 2,
    // p75 = rank ceil(2.25)=3 → 3
    val df = ((1 to 10).map(i => ("a", i * 10.0)) ++
      Seq(("b", 1.0), ("b", 2.0), ("b", 3.0))).toDF("g", "v")
    val got = onBothPaths(Relational.exactQuantiles(
      df, col("g"), col("v"), Seq(0.25, 0.50, 0.75))).sortBy(_.getString(0))
    assert(got.map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
      r.getDouble(3))).toSeq ==
      Seq(("a", 30.0, 50.0, 80.0), ("b", 1.0, 2.0, 3.0)))
  }

  test("exactQuantiles: duplicate-heavy values, tiny groups, explicit buckets") {
    // heavy ties land many rows in one bucket cell; the picked element at
    // a given rank is the same value whatever the tie order
    val dup = (Seq.fill(50)(("a", 5.0)) ++ Seq.fill(49)(("a", 9.0)) ++
      Seq(("a", 1.0))).toDF("g", "v")
    val gotDup = onBothPaths(Relational.exactQuantiles(
      dup, col("g"), col("v"), Seq(0.01, 0.50, 1.0), bucketsPerGroup = 8)).head
    // sorted: 1.0, then 50×5.0 (ranks 2..51), then 49×9.0 (ranks 52..100)
    assert((gotDup.getDouble(1), gotDup.getDouble(2), gotDup.getDouble(3)) ==
      (1.0, 5.0, 9.0)) // rank 1, rank 50, rank 100
    // groups far smaller than the bucket count: most cells empty
    val tiny = Seq(("x", 7.0), ("y", 3.0), ("y", 4.0)).toDF("g", "v")
    val gotTiny = onBothPaths(Relational.exactQuantiles(
      tiny, col("g"), col("v"), Seq(0.5), bucketsPerGroup = 64))
      .sortBy(_.getString(0))
    assert(gotTiny.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("x", 7.0), ("y", 3.0)))
    // null values are excluded from the rank space
    val withNull = Seq(("a", Some(1.0)), ("a", None), ("a", Some(3.0)))
      .toDF("g", "v")
    val gotNull = onBothPaths(Relational.exactQuantiles(
      withNull, col("g"), col("v"), Seq(1.0))).head
    assert(gotNull.getDouble(1) == 3.0) // n = 2, rank 2 → 3.0
  }

  test("profile: one row per column, nulls counted, stringified extrema") {
    val df = Seq(
      (1L, Option("x"), 10),
      (2L, Option.empty[String], 20),
      (3L, Option("y"), 10)).toDF("id", "s", "v")
    val got = Relational.profile(df, Seq("id", "s", "v"))
      .as[(String, Long, Long, Long, String, String)].collect().toSeq
    assert(got == Seq(
      ("id", 3L, 3L, 3L, "1", "3"),
      ("s", 3L, 2L, 2L, "x", "y"),
      ("v", 3L, 3L, 2L, "10", "20")))
    // single pass: the whole profile is ONE aggregate over ONE scan
    val plan = Relational.profile(df, Seq("id", "s", "v"))
      .queryExecution.executedPlan.toString
    assert(plan.split("LocalTableScan").length - 1 <= 1, plan)
  }

  test("medianAbsDeviation: hand-checked lower medians, outlier-robust") {
    import spark.implicits._
    // g1: [1,2,3,4,100] → median = 3 (rank ⌈5/2⌉=3), |x−3| = [2,1,0,1,97]
    //     sorted [0,1,1,2,97] → MAD = 1 — the outlier moves it nowhere
    //     (stddev would be ~43)
    // g2: [5,5,5,5] → median 5 (rank 2), MAD 0
    val df = (Seq(1, 2, 3, 4, 100).map(("g1", _)) ++
      Seq(5, 5, 5, 5).map(("g2", _))).toDF("g", "v")
    val got = Relational.medianAbsDeviation(df, col("g"), col("v"))
      .as[(String, Double, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(("g1", 3.0, 1.0), ("g2", 5.0, 0.0)))
  }

  test("medianAbsDeviation fuzz: equals the serial lower-median reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(8642L)
    (1 to 3).foreach { trial =>
      val rows = (1 to 400).map(_ => (s"g${rnd.nextInt(4)}", rnd.nextInt(1000).toDouble / 4.0))
      def lowerMedian(xs: Seq[Double]): Double = {
        val s = xs.sorted
        s(math.ceil(0.5 * s.length).toInt - 1)
      }
      val want = rows.groupBy(_._1).map { case (g, vs) =>
        val m = lowerMedian(vs.map(_._2))
        g -> (m, lowerMedian(vs.map(v => math.abs(v._2 - m))))
      }
      val got = Relational.medianAbsDeviation(rows.toDF("g", "v"), col("g"), col("v"))
        .as[(String, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      assert(got == want, s"trial $trial")
    }
  }

  test("groupTrend: exact line recovered; degenerate groups go null") {
    val rows = Seq(
      ("a", 0.0, 1.0), ("a", 1.0, 3.0), ("a", 2.0, 5.0), // y = 1 + 2x
      ("b", 4.0, 1.0), ("b", 4.0, 9.0), // zero x-variance
      ("c", 0.0, 7.0), ("c", 1.0, 7.0)) // zero y-variance
      .toDF("g", "x", "y")
    val got = Relational.groupTrend(rows, col("g"), col("x"), col("y"))
      .as[(String, Long, Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got("a") == ((3L, Some(2.0), Some(1.0), Some(1.0))))
    assert(got("b") == ((2L, None, None, None)), "no x spread: null fit")
    assert(got("c") == ((2L, Some(0.0), Some(7.0), None)),
      "flat y: slope 0, r2 undefined (0/0)")
  }

  test("winsorizedMean: one outlier moves the mean, barely the winsorized") {
    // group a: 1..19 + outlier 1000 → fences at ceil(.05·20)=1st (=1)
    // and ceil(.95·20)=19th (=19); clip maps 1000 → 19
    val rows = (1 to 19).map(i => ("a", i.toDouble)) :+ ("a", 1000.0)
    val other = Seq(("b", 5.0), ("b", 7.0), ("b", null.asInstanceOf[Any]))
      .map { case (g, v) => (g, Option(v).map(_.asInstanceOf[Double])) }
    val df = (rows.map { case (g, v) => (g, Some(v)) } ++ other).toDF("g", "v")
    val got = Relational.winsorizedMean(df, col("g"), col("v"))
      .as[(String, Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("a") == (("a", 20L, 1.0, 19.0, 59.5, 10.45)))
    // tiny group: both fences exist (ranks 1 and 2), null row skipped
    assert(got("b") == (("b", 2L, 5.0, 7.0, 6.0, 6.0)))
  }

  test("keySkewProfile: hand-computed counts, quantile picks, skew ratio") {
    // a x5, b x2, c/d/e x1 (+ one null, excluded): counts (1,1,1,2,5)
    // p50 = rank ceil(2.5)=3 -> 1; p90 = rank ceil(4.5)=5 -> 5; p99 -> 5
    val keys = Seq.fill(5)("a") ++ Seq.fill(2)("b") ++ Seq("c", "d", "e") :+
      null.asInstanceOf[String]
    val got = onBothPaths(Relational.keySkewProfile(keys.toDF("k"), col("k")))
    assert(got.map(_.toSeq) == Seq(Seq(5L, 10L, "a", 5L, 0.5, 1L, 5L, 5L, 2.5)))
    // hot-key tie breaks lexicographically
    val tie = Seq("y", "y", "x", "x").toDF("k")
    assert(onBothPaths(Relational.keySkewProfile(tie, col("k")))
      .head.getString(2) == "x")
  }

  test("exactQuantiles on degenerate inputs: both paths, with and without n") {
    val cases: Seq[(String, Seq[(String, Option[Double])], Seq[Seq[Any]])] = Seq(
      ("empty", Nil, Nil),
      ("single row", Seq(("a", Some(2.5))), Seq(Seq("a", 1L, 2.5, 2.5))),
      ("all-null values", Seq(("a", None), ("b", None)), Nil),
      // a null group key yields no row (pass 2's equi-join is null-unsafe)
      ("null group key", Seq((null, Some(1.0)), (null, Some(3.0)), ("a", Some(2.0))),
        Seq(Seq("a", 1L, 2.0, 2.0))),
      // 1..7: p50 = rank ceil(3.5) = 4
      ("one group", (1 to 7).map(i => ("a", Some(i.toDouble))),
        Seq(Seq("a", 7L, 4.0, 7.0))))
    for ((name, rows, want) <- cases; emitN <- Seq(false, true)) {
      val got = onBothPaths(Relational.exactQuantiles(rows.toDF("g", "v"),
          col("g"), col("v"), Seq(0.5, 1.0), emitN = emitN),
        degenerate = want.isEmpty)
      assert(got.map(_.toSeq) ==
        want.map(w => if (emitN) w else w.patch(1, Nil, 1)), s"$name, emitN=$emitN")
    }
  }

  test("keySkewProfile on degenerate inputs: both paths") {
    val none = Seq.empty[String].toDF("k")
    assert(onBothPaths(Relational.keySkewProfile(none, col("k")),
      degenerate = true).isEmpty)
    val nulls = Seq(Option.empty[String], None).toDF("k")
    assert(onBothPaths(Relational.keySkewProfile(nulls, col("k")),
      degenerate = true).isEmpty)
    val one = Seq(42L).toDF("k")
    assert(onBothPaths(Relational.keySkewProfile(one, col("k"))).map(_.toSeq) ==
      Seq(Seq(1L, 1L, "42", 1L, 1.0, 1L, 1L, 1L, 1.0)))
  }

  test("aggState/mergeAggStates: split-merge equals one-shot, any split, any order") {
    val rows = (1 to 300).map(i => (s"k${i % 3}", i * 0.5)).toDF("k", "v")
    val oneShot = Relational.finalizeAggState(
      Relational.aggState(rows, col("k"), col("v"))).collect().toSeq
    // 3-way split merged in a different order must be identical
    val s1 = Relational.aggState(rows.filter(col("v") < 30), col("k"), col("v"))
    val s2 = Relational.aggState(
      rows.filter(col("v") >= 30 && col("v") < 100), col("k"), col("v"))
    val s3 = Relational.aggState(rows.filter(col("v") >= 100), col("k"), col("v"))
    val merged = Relational.finalizeAggState(
      Relational.mergeAggStates(s3, s1, s2)).collect().toSeq
    assert(merged == oneShot, "algebraic state must be split/order-invariant")
    // a key absent from the delta survives the merge unchanged
    val empty = Relational.aggState(rows.filter(lit(false)), col("k"), col("v"))
    val withEmpty = Relational.finalizeAggState(
      Relational.mergeAggStates(
        Relational.aggState(rows, col("k"), col("v")), empty)).collect().toSeq
    assert(withEmpty == oneShot)
  }

  test("theilSen: outlier-immune slope, duplicate-x aggregation, guard fires") {
    // perfect line y = 2x + 1 on x = 0..8, ONE wild outlier at x=9:
    // OLS would chase it; the pairwise-slope median stays 2.0
    val pts = (0 to 8).map(x => ("g", x.toDouble, 2.0 * x + 1.0)) :+
      (("g", 9.0, 1000.0))
    val got = Relational.theilSen(pts.toDF("g", "x", "y"),
      col("g"), col("x"), col("y"))
      .as[(String, Long, Long, Double)].collect().head
    assert(got._2 == 10L && got._3 == 45L)
    assert(got._4 == 2.0, s"median slope must shrug the outlier: $got")
    // duplicate x values collapse to their 6dp mean before pairing
    val dup = Seq(("g", 0.0, 1.0), ("g", 0.0, 3.0), ("g", 1.0, 4.0))
    val g2 = Relational.theilSen(dup.toDF("g", "x", "y"),
      col("g"), col("x"), col("y"))
      .as[(String, Long, Long, Double)].collect().head
    assert(g2._2 == 2L && g2._3 == 1L && g2._4 == 2.0) // (4 - mean(1,3)) / 1
    // single-point groups are excluded, multi-point ones survive
    val mixed = Seq(("a", 0.0, 0.0), ("a", 1.0, 1.0), ("b", 5.0, 5.0))
    val keys = Relational.theilSen(mixed.toDF("g", "x", "y"),
      col("g"), col("x"), col("y")).select("group_key")
      .as[String].collect().toSeq
    assert(keys == Seq("a"))
    // the quadratic guard fails loudly, not silently
    val wide = (0 to 20).map(x => ("g", x.toDouble, x.toDouble))
    val err = intercept[Exception] {
      Relational.theilSen(wide.toDF("g", "x", "y"),
        col("g"), col("x"), col("y"), maxPointsPerGroup = 10).collect()
    }
    assert(err.getMessage != null && err.getMessage.contains("maxPointsPerGroup"),
      s"got: ${err.getMessage}")
  }

  // ── hillTailIndex ──────────────────────────────────────────────────

  test("hillTailIndex: matches the serial quantized-ln chain; guards thin data") {
    val vals = (1 to 150).map(_.toDouble)
    val got = Relational.hillTailIndex(vals.toDF("v"), col("v"), k = 20)
      .collect().head
    assert(got.getAs[Long]("n_pos") == 150L && got.getAs[Long]("k") == 20L)
    assert(got.getAs[Double]("x_tail") == 130.0)
    val s = (131 to 150).map { v =>
      BigDecimal(math.log(v / 130.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }.sum
    val exp = BigDecimal(20.0 / s.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getAs[Double]("alpha") == exp)
    // k+1 positives unavailable → NULL alpha, never a shrunken-k guess
    val thin = Relational.hillTailIndex(
      (1 to 50).map(_.toDouble).toDF("v"), col("v"), k = 100)
      .collect().head
    assert(thin.getAs[Long]("n_pos") == 50L)
    assert(thin.isNullAt(thin.fieldIndex("alpha")))
  }

  // ── quantileCalibration ────────────────────────────────────────────

  test("quantileCalibration: exact rank picks per group vs global, shifts") {
    val df = ((1 to 100).map(v => ("A", v.toLong)) ++
      (101 to 200).map(v => ("B", v.toLong))).toDF("g", "v")
    val got = Relational.quantileCalibration(df, col("g"), col("v"),
      tiles = 4)
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    // group quartiles: A → 25/50/75, B → 125/150/175; global (1..200)
    // at ceil(p·200): 50/100/150
    assert(got == Seq(
      ("A", 25L, 25.0, 50.0, 25.0),
      ("A", 50L, 50.0, 100.0, 50.0),
      ("A", 75L, 75.0, 150.0, 75.0),
      ("B", 25L, 125.0, 50.0, -75.0),
      ("B", 50L, 150.0, 100.0, -50.0),
      ("B", 75L, 175.0, 150.0, -25.0)))
  }

  // ── profileDrift ───────────────────────────────────────────────────

  test("profileDrift: null-rate deltas and distinct ratios per column") {
    val a = Seq(
      (Some("x"), Some(1)), (Some("y"), Some(1)),
      (Some("x"), Some(2)), (None, Some(2)))
      .toDF("c1", "c2")
    val b = Seq(
      (Some("x"), Option.empty[Int]), (None, None),
      (None, Some(1)), (Some("z"), Some(2)))
      .toDF("c1", "c2")
    val got = Relational.profileDrift(a, b, Seq("c1", "c2"))
      .collect().map(r => r.getAs[String]("column") -> r).toMap
    val r1 = got("c1")
    assert(r1.getAs[Long]("n_a") == 4L && r1.getAs[Long]("n_b") == 4L)
    assert(r1.getAs[Double]("null_rate_a") == 0.25)
    assert(r1.getAs[Double]("null_rate_b") == 0.5)
    assert(r1.getAs[Double]("null_rate_delta") == 0.25)
    assert(r1.getAs[Long]("n_distinct_a") == 2L)
    assert(r1.getAs[Long]("n_distinct_b") == 2L)
    assert(r1.getAs[Double]("distinct_ratio") == 1.0)
    val r2 = got("c2")
    assert(r2.getAs[Double]("null_rate_delta") == 0.5)
    assert(r2.getAs[Double]("distinct_ratio") == 1.0)
  }

  test("profileDrift: an all-NULL side yields NULL ratio, never a fake 0") {
    val a = Seq(Option.empty[String], None).toDF("c")
    val b = Seq(Some("v"), Some("w")).toDF("c")
    val got = Relational.profileDrift(a, b, Seq("c")).collect().head
    assert(got.getAs[Double]("null_rate_a") == 1.0)
    assert(got.getAs[Double]("null_rate_b") == 0.0)
    assert(got.getAs[Long]("n_distinct_a") == 0L)
    assert(got.isNullAt(got.fieldIndex("distinct_ratio")))
  }

  test("weightedQuantiles: heavy weight drags every quartile; uniform " +
      "weights reduce to lower-quantile rank picks") {
    val rows = Seq(
      ("a", 1.0, 1.0), ("a", 2.0, 1.0), ("a", 10.0, 8.0), // W=10, heavy tail
      ("b", 1.0, 1.0), ("b", 2.0, 1.0), ("b", 3.0, 1.0), ("b", 4.0, 1.0),
      ("c", 5.0, 0.0)) // non-positive weight: dropped, group vanishes
      .toDF("g", "v", "w")
    val got = Relational.weightedQuantiles(
      rows, col("g"), col("v"), col("w"))
      .collect().map(r => r.getAs[String]("group_key") -> r).toMap
    assert(got.keySet == Set("a", "b"))
    val a = got("a")
    assert(a.getAs[Double]("w_total") == 10.0)
    // cum weights 1, 2, 10: every q*W in {2.5, 5, 7.5} lands on 10.0
    assert(a.getAs[Double]("p25") == 10.0)
    assert(a.getAs[Double]("p50") == 10.0)
    assert(a.getAs[Double]("p75") == 10.0)
    val b = got("b")
    assert(b.getAs[Double]("p25") == 1.0)
    assert(b.getAs[Double]("p50") == 2.0)
    assert(b.getAs[Double]("p75") == 3.0)
  }

  // ── bucketedGlobalRank / ntileFromRank (r17) ───────────────────────

  test("bucketedGlobalRank: rank and running sums bit-match the global " +
      "window across forced buckets, asc and desc, with key ties") {
    import org.apache.spark.sql.expressions.Window
    // deterministic pseudo-random rows with heavy key ties
    val rows = (0 until 2000).map { i =>
      val k = (i * 2654435761L % 97).toDouble // 97 distinct keys, ties
      val v = (i * 40503L % 11) + 1L
      (i.toLong, k, v)
    }.toDF("id", "k", "v")
    for (desc <- Seq(true, false)) {
      val got = Relational.bucketedGlobalRank(rows, "k", descending = desc,
        tieBreaks = Seq("id"), cumSums = Seq("v"), buckets = 8)
      val ord = if (desc) Seq(col("k").desc, col("id").asc)
        else Seq(col("k").asc, col("id").asc)
      val w = Window.orderBy(ord: _*)
      val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = rows
        .withColumn("_rank", row_number().over(w).cast("long"))
        .withColumn("v_cum", sum("v").over(wc))
      val mismatches = got.select("id", "_rank", "v_cum")
        .except(want.select("id", "_rank", "v_cum")).count()
      assert(mismatches == 0L, s"desc=$desc: $mismatches rank/cum mismatches")
      assert(got.count() == 2000L)
    }
  }

  test("ntileFromRank matches ntile() for every (n, t) in the fuzz grid") {
    import org.apache.spark.sql.expressions.Window
    for (n <- Seq(1, 2, 3, 7, 10, 23, 100); t <- Seq(2, 3, 5, 7, 10)) {
      val rows = (1 to n).map(_.toLong).toDF("r")
      val got = rows.select(col("r"),
        Relational.ntileFromRank(col("r"), lit(n.toLong), t).as("nt"))
      val want = rows.select(col("r"),
        ntile(t).over(Window.orderBy("r")).cast("long").as("nt"))
      val bad = got.except(want).count()
      assert(bad == 0L, s"n=$n t=$t: $bad ntile mismatches")
    }
  }

  test("bucketedGlobalRank: the budget backstop fires on the spine") {
    val rows = (0 until 50).map(i => (i.toLong, i.toDouble)).toDF("id", "k")
    val e = intercept[Exception] {
      Relational.bucketedGlobalRank(rows, "k", descending = false,
        tieBreaks = Seq("id"), budget = 10L, op = "backstopTest",
        budgetName = "maxRows").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("backstopTest")),
      s"expected backstop message, got: ${messages(e).mkString(" | ")}")
  }
}
