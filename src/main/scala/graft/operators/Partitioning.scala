package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Partitioning strategies for 100 TB joins: bucketing (pre-shuffled
  * storage → co-located, Exchange-free joins) and key salting (break a
  * hot key across `factor` sub-partitions). AQE's skew-join split covers
  * moderate skew at runtime; salting is the explicit tool for the
  * pathological single-hot-key case (e.g. one boilerplate document hash
  * owning 1% of a corpus).
  */
object Partitioning {

  /** Write `df` bucketed+sorted by `key` as a managed table. A join of
    * two tables bucketed the same way on the join key needs NO shuffle —
    * both sides are already hash-partitioned on disk, so the sort-merge
    * join reads co-located buckets (PartitioningSpec and IngestSpec
    * assert the plan has no Exchange). At 100 TB this converts every
    * recurring join/groupBy on the bucket key from a full shuffle into
    * a local merge. Delegates to
    * [[graft.sources.Ingest.writeBucketedTable]], which adds the
    * one-file-per-bucket layout and the stale-warehouse-dir sweep. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    graft.sources.Ingest.writeBucketedTable(df, table, buckets, Seq(key))

  /** Equi-join with the LEFT side's hot keys salted across `factor`
    * sub-keys: left rows get a deterministic salt from `saltSource`
    * (any roughly-unique column — an id, not the join key), and the
    * right side is replicated `factor` ways so every (key, salt) pair
    * still meets. Results are identical to a plain join; the hot key's
    * rows now spread over `factor` reducers instead of one.
    *
    * Cost: right side × factor — use for big-left/small-right joins
    * where one left key dominates.
    *
    * WHEN TO SALT vs AQE (keyed on [[Relational.keySkewProfile]];
    * receipts: `bench/skew_receipt_104x.txt`, forked min-of-3 at 62.4M
    * rows with top_share = 0.32): (1) if the right side broadcasts,
    * skew is moot — no reducer-keyed shuffle exists. (2) In the
    * sort-merge regime PREFER `spark.sql.adaptive.skewJoin` whenever
    * it can fire: its split regroups MAP OUTPUTS at zero
    * data-expansion cost — measured 8.95 s vs 10.89 s unhandled vs
    * 54.99 s salted(8), and it flattens the reducer histogram hardest
    * (max share 32.2% → 2.2%; salting floors at top_share/factor =
    * 5.9%). Salting's |right|·factor replication (15.6M × 8 = 125M
    * rows there) cost 6× more than AQE — and 5× more than ignoring
    * the skew. (3) Salt ONLY when keySkewProfile shows a dominant key
    * (top_share ≫ p99_n/n_rows) AND |right|·factor ≪ |left| (a true
    * dim table) AND AQE cannot fire: the hot partition is fed by a
    * single mapper (skew splits have map-block granularity — probe
    * scaladoc), the skew is in a groupBy (AQE's rule only matches
    * joins), or a downstream consumer must inherit the join's
    * partitioning unsplit. */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      saltSource: Column,
      factor: Int): DataFrame = {
    val saltedLeft = left.withColumn("__salt", pmod(xxhash64(saltSource), lit(factor)))
    val saltedRight = right.withColumn(
      "__salt", explode(array((0 until factor).map(i => lit(i.toLong)): _*)))
    saltedLeft
      .join(saltedRight,
        saltedLeft(leftKey) === saltedRight(rightKey) &&
          saltedLeft("__salt") === saltedRight("__salt"))
      .drop("__salt")
  }

  /** BLOOM-screened equi-join — the shuffle reducer for a
    * big ⋈ selective-but-unbroadcastable join: build a bloom filter of
    * the small side's join keys (distributed `stat.bloomFilter` build;
    * a 10⁸-key set is GBs as a hash table but ~120 MB at 1% fpp as a
    * bloom), screen the BIG side map-side BEFORE its shuffle, then run
    * the exact join on the survivors. At 100 TB the exchange under the
    * join is the dominant cost; a 1% selective small side means ~99%
    * of the big side's shuffle bytes never leave the mappers. False
    * positives (fpp-bounded) survive the screen and are REMOVED by the
    * exact join, so the result is row-identical to the plain join —
    * the oracle contract (`ext_bloom_semijoin` hash-checks it). This
    * is the manual form of Spark's own runtime row-level filtering
    * (spark.sql.optimizer.runtime.bloomFilter), usable when the
    * optimizer's heuristics won't fire or the filter should be reused
    * across queries. Keys probe as their canonical string form on both
    * sides (the sketch's putString contract — BloomMightContain
    * scaladoc). */
  def bloomSemiJoin(
      big: DataFrame, small: DataFrame,
      bigKey: String, smallKey: String,
      expectedKeys: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    val bloom = graft.operators.TextPipeline.gramBloom(
      small.select(col(smallKey).cast("string")), expectedKeys, fpp)
    big
      .where(graft.functions.expressions.GraftFunctions
        .bloom_might_contain(col(bigKey).cast("string"), bloom))
      .join(small, big(bigKey) === small(smallKey))
  }

  /** One skew-handling decision, with the reason spelled out so a plan
    * review can audit it. `strategy` ∈ broadcast | aqe | salt | plain. */
  final case class SkewDecision(strategy: String, factor: Int, reason: String)

  /** The `bench/skew_receipt_104x.txt` decision rule as CODE (VERDICT
    * r13 ask #7) — pure and unit-pinned, measured at 62.4M rows with
    * top_share 0.32 (forked fresh-JVM min-of-3):
    *
    *  1. BROADCAST a right side under `broadcastRowLimit`: no
    *     reducer-keyed shuffle exists, skew is moot.
    *  2. No dominant key (top_share below max(1%, 5×p99 share)) →
    *     PLAIN: every reducer already gets an even share; both AQE
    *     and salting would be paying for a problem that isn't there.
    *  3. Dominant key + AQE available → AQE skew-join: its split
    *     regroups map outputs at zero data-expansion cost — measured
    *     8.95 s vs 54.99 s for factor-8 salting (6×) and 10.89 s for
    *     doing nothing.
    *  4. Dominant key, AQE unavailable (groupBy-shaped skew, a
    *     single-mapper hot partition, or a consumer needing the
    *     join's partitioning unsplit), and a true dim right side
    *     (|right|·factor ≤ |left|/4) → SALT, factor sized so the hot
    *     key's share floors near the p99 key's
    *     (top_share/factor ≈ p99_share), clamped to [2, 64].
    *  5. Otherwise PLAIN: salting's |right|·factor replication would
    *     cost more than the skew (the receipt's 125M-row lesson).
    */
  def chooseSkewStrategy(
      topShare: Double, p99Share: Double,
      leftRows: Long, rightRows: Long,
      broadcastRowLimit: Long = 1000000L,
      aqeAvailable: Boolean = true): SkewDecision = {
    val dominanceFloor = math.max(0.01, 5.0 * p99Share)
    if (rightRows <= broadcastRowLimit)
      SkewDecision("broadcast", 1,
        s"right side ($rightRows rows) fits the broadcast budget — no reducer shuffle, skew moot")
    else if (topShare < dominanceFloor)
      SkewDecision("plain", 1,
        f"top_share $topShare%.4f below dominance floor $dominanceFloor%.4f — reducers already even")
    else if (aqeAvailable)
      SkewDecision("aqe", 1,
        f"dominant key (top_share $topShare%.4f) + AQE skew-join splits map outputs at zero expansion (receipt: 8.95 s vs 54.99 s salted)")
    else {
      val factor = math.min(64L, math.max(2L,
        math.ceil(topShare / math.max(p99Share, 1e-6)).toLong)).toInt
      if (rightRows * factor.toLong <= leftRows / 4)
        SkewDecision("salt", factor,
          f"dominant key, AQE unavailable, dim-sized right (${rightRows}×$factor ≤ ${leftRows}/4) — salt to floor top_share/$factor ≈ p99")
      else
        SkewDecision("plain", 1,
          s"salting would replicate $rightRows rows ×$factor — costlier than the skew (receipt: 125M-row lesson); run plain")
    }
  }

  /** Measure-then-pick wrapper: profiles the LEFT join key
    * ([[Relational.keySkewProfile]] — one bounded 1-row collect),
    * counts the right side, reads the session's AQE skew-join confs,
    * applies [[chooseSkewStrategy]], and executes the chosen join.
    * Returns the result AND the decision so pipelines can log why.
    * Planning cost: one pass over each side — amortized over the 100 TB
    * join it steers; precompute and cache the profile for repeated
    * joins on the same key. */
  def autoSkewJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      saltSource: Column,
      broadcastRowLimit: Long = 1000000L): (DataFrame, SkewDecision) = {
    val spark = left.sparkSession
    // no non-null left key → no profile row: a zero profile, no skew
    val (leftRows, topShare, p99Share) =
      Relational.keySkewProfile(left, col(leftKey)).collect().headOption
        .fold((0L, 0.0, 0.0)) { prof =>
          val n = prof.getAs[Long]("n_rows")
          (n, prof.getAs[Double]("top_share"),
            prof.getAs[Long]("p99_n").toDouble / n.toDouble)
        }
    val rightRows = right.count()
    val aqeOn =
      spark.conf.get("spark.sql.adaptive.enabled", "true").toBoolean &&
        spark.conf.get("spark.sql.adaptive.skewJoin.enabled", "true").toBoolean
    val d = chooseSkewStrategy(
      topShare, p99Share, leftRows, rightRows, broadcastRowLimit, aqeOn)
    val joined = d.strategy match {
      case "broadcast" =>
        left.join(broadcast(right), left(leftKey) === right(rightKey))
      case "salt" =>
        saltedJoin(left, right, leftKey, rightKey, saltSource, d.factor)
      case _ => // aqe | plain: the engine's join as-is
        left.join(right, left(leftKey) === right(rightKey))
    }
    (joined, d)
  }

  /** Repartition-by-range + sort-within-partitions writer: produces
    * parquet whose files are range-clustered on `key`, so min/max
    * row-group stats let later range predicates skip whole files. */
  def writeRangeClustered(df: DataFrame, path: String, key: String, partitions: Int): Unit =
    df.repartitionByRange(partitions, col(key))
      .sortWithinPartitions(key)
      .write.mode("overwrite").parquet(path)

  /** Z-order clustered writer: files sort by the bit-interleaved
    * z-value of TWO columns, so parquet min/max statistics prune point
    * and range predicates on EITHER column — the multi-dimensional
    * upgrade of [[writeRangeClustered]], whose single-key layout leaves
    * the second column's values scattered across every file.
    *
    * Each column is grid-normalized into [0, 2^bits) from its (min,
    * max) — ONE tiny aggregate broadcast as two scalars, then a pure
    * map pass; no global window, no rank shuffle (an equal-frequency
    * ntile would funnel the whole table through one partition). Equal
    * width wastes interleave bits under heavy skew — callers pre-
    * transform (log, clamp) skewed domains, same as every grid-based
    * z-order. */
  def writeZOrdered(
      df: DataFrame, path: String, keyA: String, keyB: String,
      partitions: Int, bits: Int = 16): Unit =
    zorderClustered(df, keyA, keyB, partitions, bits)
      .write.mode("overwrite").parquet(path)

  /** The clustering TRANSFORM behind [[writeZOrdered]], reusable by any
    * rewriter ([[graft.sources.Maintenance.compactParquet]]'s zorderBy
    * path): returns `df` range-partitioned and sorted on the
    * bit-interleaved z-value of the two keys, so whatever writes it
    * produces files with tight min/max boxes on BOTH columns. Degenerate
    * inputs (empty, all-null key) come back unchanged — any ordering of
    * nothing is trivially clustered. One tiny (4-scalar) bounds
    * aggregate; no window, no rank shuffle. */
  def zorderClustered(
      df: DataFrame, keyA: String, keyB: String,
      partitions: Int, bits: Int = 16): DataFrame = {
    val Array(row) = df.agg(
      min(col(keyA)).cast("double"), max(col(keyA)).cast("double"),
      min(col(keyB)).cast("double"), max(col(keyB)).cast("double")).collect()
    if (row.isNullAt(0) || row.isNullAt(2)) return df
    val (loA, hiA, loB, hiB) = (row.getDouble(0), row.getDouble(1),
      row.getDouble(2), row.getDouble(3))
    val top = (1L << bits) - 1
    def gridded(c: Column, lo: Double, hi: Double): Column =
      if (hi > lo)
        least(lit(top), floor((c.cast("double") - lo) * ((top + 1) / (hi - lo))).cast("long"))
      else lit(0L)
    df
      .withColumn("__z", graft.functions.expressions.GraftFunctions
        .zorder2(gridded(col(keyA), loA, hiA), gridded(col(keyB), loB, hiB), bits))
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }
}
