package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class PartitioningSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("bucketed-by-join-key tables sort-merge join with NO shuffle") {
    val left = (1L to 2000L).map(i => (i, s"l$i")).toDF("k", "lv")
    val right = (1L to 2000L).map(i => (i, s"r$i")).toDF("k", "rv")
    Partitioning.writeBucketed(left, "bkt_left", "k", 8)
    Partitioning.writeBucketed(right, "bkt_right", "k", 8)
    // force the non-broadcast path: tiny test tables would otherwise take
    // BroadcastHashJoin and the planner would ignore bucketing entirely
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(plan.contains("Bucketed: true"), s"bucketing unused:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == 2000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("salted join returns exactly the plain-join result on skewed data") {
    // one hot key (90% of rows) + a tail
    val left = ((1 to 900).map(_ => (1L, "hot")) ++ (2 to 101).map(i => (i.toLong, "cold")))
      .zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
      .toDF("k", "v", "row_id")
    val right = (1 to 101).map(i => (i.toLong, s"dim$i")).toDF("rk", "dim")
    val plain = left.join(right, left("k") === right("rk"))
      .select("row_id", "dim").orderBy("row_id")
    val salted = Partitioning.saltedJoin(left, right, "k", "rk", col("row_id"), 4)
      .select("row_id", "dim").orderBy("row_id")
    assert(salted.collect().toSeq == plain.collect().toSeq)
    // salt really spreads the hot key across sub-keys
    val saltSpread = left.filter(col("k") === 1L)
      .select(pmod(xxhash64(col("row_id")), lit(4)).as("s"))
      .distinct().count()
    assert(saltSpread == 4)
  }

  test("salting bounds the hot-key straggler partition (skew receipt)") {
    // companion to bench/skew_receipt_104x.txt (SCALE.md "skew receipt"):
    // AQE off for a deterministic reducer histogram, broadcast off to
    // force the shuffle-join regime the receipt is about
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevShuf = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // enough reducers that the 8 salt sub-keys don't re-collide into the
    // suite's 4 default partitions
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try {
      val hot = 3000
      val left = ((1 to hot).map(i => (-1L, i.toLong)) ++
        (1 to 2000).map(i => (i.toLong, (10000 + i).toLong)))
        .toDF("k", "row_id")
      val right = left.select(col("k").as("rk")).distinct()
      def maxPartitionRows(df: org.apache.spark.sql.DataFrame): Long =
        df.withColumn("pid", spark_partition_id()).groupBy("pid").count()
          .agg(max("count")).first().getLong(0)
      val plainMax = maxPartitionRows(left.join(right, col("k") === col("rk")))
      val saltedMax = maxPartitionRows(
        Partitioning.saltedJoin(left, right, "k", "rk", col("row_id"), 8))
      assert(plainMax >= hot, "unsalted: every hot-key row lands in ONE reducer")
      assert(saltedMax < hot / 2,
        s"salted: hot key must spread across salt sub-keys (max $saltedMax)")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.shuffle.partitions", prevShuf)
    }
  }

  test("range-clustered parquet files carry disjoint key ranges") {
    val dir = java.nio.file.Files.createTempDirectory("graft-range").toString + "/t"
    val df = (1L to 10000L).toDF("k").withColumn("v", col("k") * 2)
    Partitioning.writeRangeClustered(df, dir, "k", 4)
    // per-file min/max must not overlap if range clustering worked
    val stats = spark.read.parquet(dir)
      .select(input_file_name().as("f"), col("k"))
      .groupBy("f").agg(min("k").as("lo"), max("k").as("hi"))
      .orderBy("lo").collect()
    assert(stats.length == 4)
    stats.sliding(2).foreach {
      case Array(a, b) => assert(a.getAs[Long]("hi") < b.getAs[Long]("lo"))
      case _ =>
    }
  }

  test("z-ordered files prune point slices on BOTH columns") {
    import spark.implicits._
    // 64×64 grid — every (a, b) combination, so clustering is all layout
    val grid = (for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b))
      .toDF("a", "b")
    def matchingFiles(dir: String, c: String, v: Long): Long = {
      spark.read.parquet(dir)
        .select(input_file_name().as("f"), col(c))
        .groupBy("f").agg(min(c).as("lo"), max(c).as("hi"))
        .filter(col("lo") <= v && col("hi") >= v)
        .count()
    }
    val zdir = java.nio.file.Files.createTempDirectory("graft-z").toString + "/t"
    Partitioning.writeZOrdered(grid, zdir, "a", "b", partitions = 16, bits = 6)
    val nFiles = spark.read.parquet(zdir)
      .select(input_file_name()).distinct().count()
    assert(nFiles == 16)
    // a z-layout bounds BOTH columns per file: a point slice on either
    // column touches ~√files, never all of them
    assert(matchingFiles(zdir, "a", 33L) <= 8, "a-slice should prune")
    assert(matchingFiles(zdir, "b", 33L) <= 8, "b-slice should prune")
    // contrast: single-key range clustering leaves column b unprunable
    val rdir = java.nio.file.Files.createTempDirectory("graft-z0").toString + "/t"
    Partitioning.writeRangeClustered(grid.withColumn("k", col("a")), rdir, "k", 16)
    assert(matchingFiles(rdir, "b", 33L) == 16, "b scatters across every file")
  }

  test("chooseSkewStrategy pins every branch of the receipt rule") {
    // 1. small right side → broadcast, regardless of skew
    val b = Partitioning.chooseSkewStrategy(
      topShare = 0.32, p99Share = 0.001, leftRows = 62000000L,
      rightRows = 500000L)
    assert(b.strategy == "broadcast")
    // 2. no dominant key → plain (both caps: absolute 1% and 5×p99)
    assert(Partitioning.chooseSkewStrategy(
      0.005, 0.0005, 62000000L, 20000000L).strategy == "plain")
    assert(Partitioning.chooseSkewStrategy(
      0.02, 0.015, 62000000L, 20000000L).strategy == "plain")
    // 3. dominant key + AQE available → aqe (the 104× receipt's winner)
    val a = Partitioning.chooseSkewStrategy(
      0.32, 0.001, 62000000L, 15600000L, aqeAvailable = true)
    assert(a.strategy == "aqe")
    // 4. dominant key, no AQE, dim-sized right → salt; factor floors the
    //    hot key's share near p99 and clamps to [2, 64]
    val s = Partitioning.chooseSkewStrategy(
      0.32, 0.01, leftRows = 62000000L, rightRows = 100000L,
      broadcastRowLimit = 50000L, aqeAvailable = false)
    assert(s.strategy == "salt" && s.factor == 32)
    val clamped = Partitioning.chooseSkewStrategy(
      0.5, 0.00001, 62000000L, 100000L,
      broadcastRowLimit = 50000L, aqeAvailable = false)
    assert(clamped.strategy == "salt" && clamped.factor == 64)
    // 5. dominant key, no AQE, fact-sized right → plain (the 125M-row
    //    replication lesson: salting costs more than the skew)
    val p = Partitioning.chooseSkewStrategy(
      0.32, 0.001, 62000000L, 15600000L, aqeAvailable = false)
    assert(p.strategy == "plain" && p.reason.contains("replicate"))
  }

  test("autoSkewJoin measures, decides, and joins correctly") {
    // skewed left: key 0 owns half the rows over a long 1-row tail (so
    // p99 reflects the background, not the hot key); right is
    // dim-sized → with the default broadcast budget the decision is
    // broadcast; the join result must equal the plain join either way
    val left = ((1L to 50000L).map(i => (0L, i)) ++
      (1L to 50000L).map(i => (i, i + 100000L))).toDF("k", "lv")
    val right = (0L to 50L).map(i => (i, s"r$i")).toDF("rk", "rv")
    val (joined, d) = Partitioning.autoSkewJoin(
      left, right, "k", "rk", saltSource = col("lv"))
    assert(d.strategy == "broadcast", d.toString)
    assert(joined.count() == 50050L) // hot key 50000 + matched tail 1..50
    // force the salt path: tiny broadcast budget + AQE off via conf
    val aqePrev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val (j2, d2) = Partitioning.autoSkewJoin(
        left, right, "k", "rk", saltSource = col("lv"),
        broadcastRowLimit = 10L)
      assert(d2.strategy == "salt", d2.toString)
      assert(d2.factor >= 2)
      val plain = left.join(right, col("k") === col("rk"))
        .orderBy("k", "lv").collect().toSeq
      assert(j2.orderBy("k", "lv").collect().toSeq == plain,
        "salted join must be result-identical to the plain join")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqePrev)
  }

  test("autoSkewJoin: no non-null left key is a zero profile and an empty join") {
    val right = (0L to 50L).map(i => (i, s"r$i")).toDF("rk", "rv")
    val empty = Seq.empty[(java.lang.Long, Long)].toDF("k", "lv")
    val allNull = Seq((null.asInstanceOf[java.lang.Long], 1L),
      (null.asInstanceOf[java.lang.Long], 2L)).toDF("k", "lv")
    for (left <- Seq(empty, allNull)) {
      val (joined, d) = Partitioning.autoSkewJoin(
        left, right, "k", "rk", saltSource = col("lv"))
      assert(d.strategy == "broadcast", d.toString)
      assert(joined.collect().isEmpty)
      // over the broadcast budget the zero profile reads as no dominant key
      val (plain, p) = Partitioning.autoSkewJoin(
        left, right, "k", "rk", saltSource = col("lv"), broadcastRowLimit = 10L)
      assert(p.strategy == "plain" && p.reason.contains("top_share 0.0000"), p.toString)
      assert(plain.schema == left.join(right, col("k") === col("rk")).schema)
      assert(plain.collect().isEmpty)
    }
  }

  test("bloomSemiJoin: result-identical to the plain join; screen precedes the exchange") {
    val big = (1L to 20000L).map(i => (i % 997L, i)).toDF("k", "payload")
    val small = (0L to 96L).filter(_ % 7 == 0).map(i => (i, s"dim$i"))
      .toDF("dk", "attr")
    val got = Partitioning.bloomSemiJoin(big, small, "k", "dk")
    val plain = big.join(small, col("k") === col("dk"))
    assert(got.orderBy("k", "payload").collect().toSeq ==
      plain.orderBy("k", "payload").collect().toSeq,
      "the bloom screen must be invisible in the result")
    // the screen is a Filter on the BIG side below the join (in this
    // tiny test ConvertToLocalRelation folds it into the LocalRelation
    // at optimize time — on a parquet scan it stays a map-side Filter,
    // which is the point), so assert on the ANALYZED plan
    val plan = got.queryExecution.analyzed.toString.toLowerCase
    assert(plan.contains("bloommightcontain"),
      s"bloom probe missing from the analyzed plan:\n$plan")
  }

  test("bloomSemiJoin: an empty small side gives the plain (empty) join") {
    val big = (1L to 2000L).map(i => (i % 97L, i)).toDF("k", "payload")
    val small = spark.range(0).selectExpr("id as dk", "cast(id as string) attr")
    val got = Partitioning.bloomSemiJoin(big, small, "k", "dk")
    val plain = big.join(small, col("k") === col("dk"))
    assert(got.schema == plain.schema)
    assert(got.collect().isEmpty && plain.collect().isEmpty)
  }

  test("z-ordered write degrades gracefully on empty and all-null input") {
    import spark.implicits._
    val empty = Seq.empty[(java.lang.Long, java.lang.Long)].toDF("a", "b")
    val edir = java.nio.file.Files.createTempDirectory("graft-ze").toString + "/t"
    Partitioning.writeZOrdered(empty, edir, "a", "b", partitions = 4)
    assert(spark.read.parquet(edir).count() == 0L)

    val allNull = Seq((null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(1L)),
      (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(2L))).toDF("a", "b")
    val ndir = java.nio.file.Files.createTempDirectory("graft-zn").toString + "/t"
    Partitioning.writeZOrdered(allNull, ndir, "a", "b", partitions = 4)
    assert(spark.read.parquet(ndir).count() == 2L)
  }
}
