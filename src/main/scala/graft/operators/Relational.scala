package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Generic relational operators re-expressing the reference's Python
  * dataflow layer (SURVEY.md §2.B) as lazy, Catalyst-optimizable
  * DataFrame transforms. The reference pulled the whole table into
  * Python per request (ref: backend/app.py:35, backend/utils.py:156-164);
  * here every operator stays declarative so filters/projections reach the
  * parquet scan, partial aggregation happens map-side, and whole-stage
  * codegen covers the hot path. The only collect()s are
  * exactQuantiles's bounded index-build pulls (G split arrays + G·B
  * count rows — see its scaladoc) and the driver finishes of
  * exactQuantiles and keySkewProfile, taken only when their state is
  * small enough to broadcast ([[Checkpointing.toDriverIfSmall]]).
  *
  * Scale notes (100 TB / 1000 executors):
  *  - group-by operators shuffle on their grouping keys only after
  *    map-side partial aggregation; cardinality of the outputs here is
  *    small (years, priorities, buckets), so the reduce side is trivial.
  *  - share-of-total uses a two-level aggregate (group counts, then a
  *    broadcast of the single global total) rather than a global window:
  *    Window.partitionBy() would funnel ALL rows through one partition.
  */
object Relational {

  /** A1/B1: projection with optional db→api rename. Catalyst prunes the
    * scan to exactly these columns (ref: backend/app.py:15-26,33-46). */
  def renameProject(df: DataFrame, mapping: Seq[(String, String)]): DataFrame =
    df.select(mapping.map { case (from, to) => col(from).as(to) }: _*)

  /** A2/B8/B11: conjunctive filter from optional predicates
    * (ref: backend/utils.py:145-154, backend/app.py:344-361). Catalyst
    * pushes every conjunct to the source scan. */
  def conjunctiveFilter(df: DataFrame, preds: Seq[Option[Column]]): DataFrame =
    preds.flatten.foldLeft(df)((acc, p) => acc.filter(p))

  /** A3/B7: DISTINCT projection (ref: backend/func.py:37-39,
    * backend/app.py:282-286). distinct() = partial+final hash aggregate;
    * at scale the map-side partial keeps the shuffle tiny for
    * low-cardinality columns. */
  def distinctValues(df: DataFrame, cols: String*): DataFrame =
    df.select(cols.map(col): _*).distinct()

  /** B3: derived surrogate key "{a}_{b}" with spaces collapsed to '_'
    * (ref: backend/app.py:55-57). Pure codegen'd expressions. */
  def surrogateKey(parts: Column*): Column =
    regexp_replace(concat_ws("_", parts: _*), " ", "_")

  /** B6: share-of-total per group, with an optional value recode applied
    * BEFORE grouping (ref: backend/app.py:132-164, recode :149-151).
    * Two aggregations instead of a global window: the grouped result is
    * tiny, so the window over it is safe — but we still avoid
    * Window.partitionBy() over the BASE table, which would single-thread
    * 100 TB through one partition. */
  def shareOfTotal(df: DataFrame, groupCol: Column, weight: Column): DataFrame = {
    val grouped = df.groupBy(groupCol.as("group_key"))
      .agg(weight.as("group_weight"))
    grouped.withColumn(
      "share",
      col("group_weight").cast("double") /
        sum("group_weight").over(Window.partitionBy()))
  }

  /** B12 argmax: deterministic top-1 by (metric desc, tiebreak asc)
    * (ref: backend/app.py:390-394). orderBy+limit(1) compiles to
    * TakeOrderedAndProject — a per-partition top-1 plus a single-row
    * merge, no global sort. */
  def argmax(df: DataFrame, metric: Column, tiebreak: Column): DataFrame =
    df.orderBy(metric.desc, tiebreak.asc).limit(1)

  /** B14: static-range histogram with EMPTY BUCKETS PRESERVED
    * (ref: backend/app.py:422-459; golden counts [1,0,1,1,1] at
    * test_app.py:229-236). Naive groupBy drops empty groups, so we
    * right-join the aggregated counts onto a literal bucket spine.
    * The spine is a handful of rows → broadcast join; the scan side
    * does one pass with a codegen'd CASE chain.
    *
    * Buckets are half-open [lo, hi); the last bucket is >= lo only
    * (ref: backend/app.py:440-444). Empty buckets report count 0 and
    * avg 0.0 (div-zero guard at ref: backend/app.py:448-451). */
  final case class Bucket(id: Int, label: String, lo: Double, hi: Option[Double])

  def histogram(
      spark: SparkSession,
      df: DataFrame,
      value: Column,
      avgOf: Column,
      buckets: Seq[Bucket]): DataFrame = {
    import spark.implicits._
    val bucketId = buckets.foldRight(lit(null: java.lang.Integer): Column) {
      case (b, elseCol) =>
        val cond = b.hi match {
          case Some(hi) => value >= lit(b.lo) && value < lit(hi)
          case None     => value >= lit(b.lo)
        }
        when(cond, lit(b.id)).otherwise(elseCol)
    }
    val agged = df
      .withColumn("bucket_id", bucketId)
      .filter(col("bucket_id").isNotNull)
      .groupBy("bucket_id")
      .agg(
        count(lit(1)).as("n"),
        // exact decimal sum → double: deterministic across engines
        sum(avgOf.cast("decimal(18,2)")).cast("double").as("s"))
    val spine = buckets.map(b => (b.id, b.label)).toDF("bucket_id", "label")
    spine
      .join(agged, Seq("bucket_id"), "left")
      .select(
        col("bucket_id").cast("long").as("bucket_id"),
        col("label"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("s") / col("n"), lit(0.0)).as("avg_value"))
      .orderBy("bucket_id")
  }

  /** SCD1 snapshot merge (upsert): rows from `delta` replace same-key
    * rows in `base`; delta-only keys insert; base-only keys carry
    * through. The MERGE INTO every incremental ingest pipeline runs,
    * expressed as ONE full-outer equi-join on the key — both sides
    * shuffle-partition on the key once and merge locally; nothing is
    * collected, nothing rewrites untouched partitions' content.
    *
    * `base` and `delta` must share a schema; delta must be unique per
    * key (pre-aggregate with max_by(ts) upstream for CDC streams —
    * last-writer-wins is the caller's reduction, not this operator's).
    * A whole-row struct per side (not per-column coalesce) decides
    * precedence, so a delta row carrying genuine NULLs still replaces
    * its base row outright. */
  def upsert(base: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty && base.columns.sameElements(delta.columns),
      "upsert: base/delta schemas must match")
    val nonKeys = base.columns.filterNot(keys.contains)
    val b = base.withColumn("__b", struct(nonKeys.toIndexedSeq.map(col): _*))
      .select(keys.map(col) :+ col("__b"): _*)
    val d = delta.withColumn("__d", struct(nonKeys.toIndexedSeq.map(col): _*))
      .select(keys.map(col) :+ col("__d"): _*)
    b.join(d, keys, "full_outer")
      .withColumn("__m", coalesce(col("__d"), col("__b")))
      .select(keys.map(col) ++ nonKeys.map(c => col(s"__m.$c").as(c)): _*)
  }

  /** Exact DISCRETE per-group quantiles: for each probability p the
    * returned value is the ACTUAL data element at rank ⌈p·n⌉ among the
    * group's non-null values — no interpolation, so the output is an
    * existing value reproducible bit-for-bit by any engine
    * (interpolated quantiles differ in final ulps between
    * implementations). Output: group_key, then one `p<pct>` column per
    * p, in the value's own type.
    *
    * 100 TB shape — two-pass DISTRIBUTED SELECTION, not a per-group
    * window sort. The old formulation (`row_number` over
    * partitionBy(group)) capped parallelism at GROUP CARDINALITY: a
    * 3-value group key funneled the whole table through 3
    * single-threaded sorts (measured 9.0× wall for 10× data, r8).
    * Here each group is split into `bucketsPerGroup` contiguous value
    * ranges so the global rank of a row is (bucket offset + rank
    * within bucket), and only the bucket OWNING each target rank is
    * ever sorted:
    *  1. per-group approximate split points (one percentile_approx
    *     scan; boundary quality affects only balance, NEVER the
    *     answer) — collected ONCE so both passes share bit-identical
    *     boundaries (an in-plan re-derivation could re-sample);
    *  2. count per (group, bucket) — map-side partial agg, tiny
    *     shuffle; folded on the driver into exclusive bucket offsets
    *     and the target (bucket, local rank) per p;
    *  3. rank-pick: a broadcast semi-join keeps ONLY the ≤ G·|ps|
    *     owning cells (≈ |ps|/bucketsPerGroup of the data reaches the
    *     exchange), each cell sorts n/bucketsPerGroup rows in
    *     parallel.
    * Driver pulls are the bounded index-build-budget class: G split
    * arrays + G·B count rows (g6: 3 and 96 rows). `bucketsPerGroup`
    * is the parallelism dial (default = shuffle partitions): cell
    * size is n/B regardless of group cardinality. For ultra-high-
    * cardinality group keys (G ≫ driver budget) use the g9
    * approx_percentile path — sketches, no exact ranks, no pulls.
    *
    * That shape holds above the bound. Below it
    * ([[Checkpointing.toDriverIfSmall]]: the (group, value) frame is
    * small enough for Spark to broadcast) the whole
    * selection is one collect and a driver sort per group, with
    * Catalyst's ordering for the value's type and the same ⌈p·n⌉ rule
    * ([[quantileRank]]); the result is a local relation with the same
    * rows and schema. A null group key yields no row on both paths
    * (pass 2's equi-join is null-unsafe). */
  def exactQuantiles(
      df: DataFrame, group: Column, value: Column, ps: Seq[Double],
      bucketsPerGroup: Int = 0, materialize: Boolean = false,
      emitN: Boolean = false): DataFrame = {
    // `emitN` adds an `n` column (the group's non-null row count) after
    // group_key: pass 1's driver fold already sums the per-cell counts,
    // so the count is FREE here — a caller that joins a separate
    // count(*) aggregate onto the quantiles pays one extra full
    // evaluation of `df` for a number this pass computed and threw away.
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0))
    val base = df.select(group.as("group_key"), value.as("v"))
      .filter(col("v").isNotNull)
    val Array(groupField, valueField) = base.schema.fields
    val small =
      if (Checkpointing.driverKeyable(groupField.dataType))
        Checkpointing.toDriverIfSmall(base)
      else None
    small match {
      case Some(rows) =>
        val schema = StructType(groupField +:
          ((if (emitN) Seq(StructField("n", LongType, nullable = false)) else Nil) ++
            ps.map(p => StructField(s"p${math.round(p * 100)}",
              valueField.dataType, nullable = true))))
        val gType = groupField.dataType
        val groups = scala.collection.mutable.LinkedHashMap
          .empty[Any, scala.collection.mutable.ArrayBuffer[AnyRef]]
        rows.foreach { r =>
          if (!r.isNullAt(0)) groups.getOrElseUpdate(r.get(0, gType),
            scala.collection.mutable.ArrayBuffer.empty[AnyRef]) +=
            r.get(1, valueField.dataType).asInstanceOf[AnyRef]
        }
        val toG = CatalystTypeConverters.createToScalaConverter(gType)
        val toV = CatalystTypeConverters.createToScalaConverter(valueField.dataType)
        localFrame(df.sparkSession, schema, groups.iterator.map { case (g, vs) =>
          val picks = pickQuantiles(vs.toArray, valueField.dataType, ps).map(toV)
          Row.fromSeq(toG(g) +:
            ((if (emitN) Seq(vs.length.toLong) else Nil) ++ picks))
        }.toSeq)
      case None =>
        distributedQuantiles(base, groupField, ps, bucketsPerGroup,
          materialize, emitN)
    }
  }

  /** The 1-based rank the p-quantile picks among n sorted values: ⌈p·n⌉,
    * the same IEEE p·n and ceil as any engine. One rule for the
    * distributed pass-1 fold and every driver finish. */
  private[operators] def quantileRank(p: Double, n: Long): Long =
    math.ceil(p * n).toLong

  /** Driver finish of a rank pick: sorts `values` (internal values of
    * type `dt`, no nulls) in place by Catalyst's ordering for `dt` — the
    * order the distributed window sorts by — and returns, per p, the
    * value at [[quantileRank]], or null when the rank is outside 1..n. */
  private[operators] def pickQuantiles(
      values: Array[AnyRef], dt: DataType, ps: Seq[Double]): Seq[Any] = {
    java.util.Arrays.sort(values, TypeUtils.getInterpretedOrdering(dt))
    ps.map { p =>
      val r = quantileRank(p, values.length.toLong)
      if (r >= 1 && r <= values.length) values((r - 1).toInt) else null
    }
  }

  /** A driver finish's result: `rows` as a local relation of `schema`. */
  private[operators] def localFrame(
      spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** [[exactQuantiles]]' distributed path: the three passes of its
    * scaladoc over `base` (group_key, v), v never null. */
  private def distributedQuantiles(
      base: DataFrame, groupField: StructField, ps: Seq[Double],
      bucketsPerGroup: Int, materialize: Boolean,
      emitN: Boolean): DataFrame = {
    import scala.jdk.CollectionConverters._
    val spark = base.sparkSession
    val nB = if (bucketsPerGroup > 0) bucketsPerGroup
      else spark.sessionState.conf.numShufflePartitions
    // pass 0: per-group split points (collected once — see scaladoc),
    // from a 1% SAMPLE: boundary quality affects only cell balance,
    // never the answer, and a full-corpus percentile sketch was the
    // dominant pass cost (measured 2.6 s of a 9 s wall at the 10×
    // replica). sample() is a map-side coin flip — the pass is scan-
    // bound. nB == 1 degenerates to one cell per group (the old
    // whole-group sort) with no split job at all.
    // `materialize` cuts the double evaluation of this lineage (pass-1
    // count + pass-2 rank-pick both scan it) via Checkpointing.cut —
    // the Graph.pageRank discipline. G6Probe A/B
    // (r10, `git show d7412f5:src/main/scala/graft/tools/G6Probe.scala`):
    // it wins at sf0.1 (min 1.97 s vs 2.71 s), ties at 10×,
    // and crosses over by 26× as the checkpoint write tracks n.
    // Re-scan stays the DEFAULT: at cluster scale re-reading columnar
    // parquet beats writing n rows to executor-local disk, and
    // checkpoint blocks have no lineage to recompute on executor loss.
    val bucketedPlan = if (nB <= 1) base.withColumn("bucket", lit(0)) else {
      val fracs = (1 until nB).map(i => i.toDouble / nB)
      val splits = base.sample(withReplacement = false, 0.01, seed = 42L)
        .groupBy("group_key")
        .agg(percentile_approx(col("v").cast("double"),
          array(fracs.map(lit): _*), lit(1000)).as("bs"))
      val splitRows = splits.collect() // G rows — bounded index-build pull
      val splitsDf = broadcast(spark.createDataFrame(
        splitRows.toSeq.asJava, splits.schema))
      // bucket = #split points <= v: a pure, monotone function of v, so
      // ranks within a bucket + offsets below it reconstruct global rank.
      // LEFT join + coalesce: a group too small to be sampled has no
      // split row and lands whole in cell 0 — still exact.
      base.join(splitsDf, Seq("group_key"), "left")
        .withColumn("bucket", coalesce(
          expr("size(filter(bs, b -> b <= CAST(v AS DOUBLE)))"), lit(0)))
        .drop("bs")
    }
    val bucketed =
      if (materialize) Checkpointing.cut(bucketedPlan) else bucketedPlan
    // pass 1: per-(group, bucket) counts → exclusive offsets + targets
    val countRows = bucketed.groupBy("group_key", "bucket")
      .agg(count(lit(1)).as("c")).collect() // ≤ G·B rows
    val groupNs = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    val targetRows: Seq[org.apache.spark.sql.Row] =
      countRows.groupBy(_.get(0)).toSeq.flatMap { case (g, rows) =>
        val cells = rows.sortBy(_.getInt(1)).map(r => (r.getInt(1), r.getLong(2)))
        val n = cells.iterator.map(_._2).sum
        groupNs += org.apache.spark.sql.Row(g, n)
        var acc = 0L
        val offs = cells.map { case (b, c) => val o = acc; acc += c; (b, o, c) }
        ps.zipWithIndex.flatMap { case (p, i) =>
          val r = quantileRank(p, n)
          offs.find(t => t._2 < r && r <= t._2 + t._3)
            .map(t => org.apache.spark.sql.Row(g, t._1, r - t._2, i))
        }
      }
    val targetsDf = broadcast(spark.createDataFrame(
      targetRows.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        groupField,
        org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("lrank",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("p_idx",
          org.apache.spark.sql.types.IntegerType, nullable = false)))))
    // pass 2: broadcast join prunes to owning cells BEFORE the exchange;
    // the window partitions by p_idx too, so two targets sharing a cell
    // each rank their own copy (the join fans rows out per target)
    val w = Window.partitionBy(col("group_key"), col("bucket"), col("p_idx"))
      .orderBy(col("v"))
    val picks = ps.zipWithIndex.map { case (p, i) =>
      max(when(col("p_idx") === i, col("v"))).as(s"p${math.round(p * 100)}")
    }
    val qs = bucketed.join(targetsDf, Seq("group_key", "bucket"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === col("lrank"))
      .groupBy("group_key").agg(picks.head, picks.tail: _*)
    if (!emitN) qs
    else {
      // the per-group n computed by pass 1's driver fold, attached as a
      // broadcast literal table — zero extra passes over `df`.
      // CONTRACT (ADVICE r17): this equi-join is null-UNSAFE, so a null
      // group key row that emitN=false would keep is EXCLUDED when
      // emitN=true. Current callers filter null groups upstream; a new
      // caller that wants null groups must not use emitN.
      val nDf = broadcast(spark.createDataFrame(
        groupNs.toSeq.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          groupField,
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType, nullable = false)))))
      qs.join(nDf, Seq("group_key"))
        .select(col("group_key") +: col("n") +:
          ps.map(p => col(s"p${math.round(p * 100)}")): _*)
    }
  }

  /** Median absolute deviation per group — the robust scale estimate
    * (insensitive to the outliers that wreck a stddev) a curation pass
    * uses to set clipping thresholds: MAD = median(|x − median(x)|),
    * both medians the same ⌈n/2⌉-rank LOWER median [[exactQuantiles]]
    * computes (selection of an actual element, so there is no float
    * accumulation anywhere — exact cross-engine equality without any
    * rounding discipline).
    *
    * Two distributed-selection passes plus one broadcast join of the
    * G-row median table; inherits exactQuantiles' scale shape (range-
    * bucketed cells, never a per-group window) and its bounded
    * build-time pulls, twice. */
  def medianAbsDeviation(
      df: DataFrame, group: Column, value: Column,
      bucketsPerGroup: Int = 0, materialize: Boolean = false): DataFrame = {
    // (r17 measured-and-rejected: persisting this G-row median table for
    // its two consumers — the cache materialization barrier cost more
    // than the saved rank-pick replay at every measured position; paired
    // A/B in bench/r17_interarrival_mad_receipts.txt.)
    val med = exactQuantiles(df, group, value.cast("double"), Seq(0.5),
      bucketsPerGroup, materialize)
      .select(col("group_key"), col("p50").as("median"))
    val dev = df.select(group.as("g"), value.cast("double").as("v"))
      .filter(col("v").isNotNull)
      .join(broadcast(med), col("g") === col("group_key"))
      .select(col("g"), abs(col("v") - col("median")).as("adev"))
    exactQuantiles(dev, col("g"), col("adev"), Seq(0.5), bucketsPerGroup,
      materialize)
      .select(col("group_key"), col("p50").as("mad"))
      .join(med, Seq("group_key"))
      .select(col("group_key"), col("median"), col("mad"))
  }

  /** Winsorized mean: clip every value into [p_lo, p_hi] (EXACT
    * per-group percentiles from [[exactQuantiles]]'s distributed
    * selection — element picks, no interpolation) and average the
    * clipped values — the outlier-robust location estimate that, unlike
    * a trimmed mean, keeps n constant (clipped rows count at the fence,
    * not dropped). Emitted next to the raw mean so the gap itself is
    * the outlier signal.
    *
    * 100 TB shape: the fences are one exactQuantiles call (its
    * three-pass, cell-bounded selection — nothing here sorts a group);
    * the fence table is G rows, broadcast; clipping is map-side
    * least/greatest; the final rollup is one group-keyed aggregation.
    * Determinism: fences are exact data elements, clip is exact, and
    * both means quantize each value to DECIMAL(18,6) before the sum
    * (xsum discipline) with one exact IEEE divide at the end.
    *
    * Output: (group_key, n, lo, hi, mean, winsorized_mean). */
  def winsorizedMean(
      df: DataFrame, group: Column, value: Column,
      pLo: Double = 0.05, pHi: Double = 0.95,
      bucketsPerGroup: Int = 0, materialize: Boolean = false): DataFrame = {
    require(pLo > 0.0 && pHi < 1.0 && pLo < pHi,
      s"need 0 < pLo < pHi < 1, got ($pLo, $pHi)")
    val fences = exactQuantiles(df, group, value.cast("double"),
        Seq(pLo, pHi), bucketsPerGroup, materialize)
      .select(col("group_key"),
        col(s"p${math.round(pLo * 100)}").as("lo"),
        col(s"p${math.round(pHi * 100)}").as("hi"))
    df.select(group.as("g"), value.cast("double").as("v"))
      .filter(col("v").isNotNull)
      .join(broadcast(fences), col("g") === col("group_key"))
      .select(col("group_key"), col("lo"), col("hi"), col("v"),
        least(greatest(col("v"), col("lo")), col("hi")).as("cv"))
      .groupBy("group_key", "lo", "hi")
      .agg(
        count(lit(1)).as("n"),
        (sum(col("v").cast("decimal(18,6)")).cast("double") /
          count(lit(1)).cast("double")).as("mean"),
        (sum(col("cv").cast("decimal(18,6)")).cast("double") /
          count(lit(1)).cast("double")).as("winsorized_mean"))
      .select(col("group_key"), col("n"), col("lo"), col("hi"),
        col("mean"), col("winsorized_mean"))
  }

  /** Per-group OLS trend: fit y = intercept + slope·x within each group
    * from the five classical sums (n, Σx, Σy, Σxy, Σx², Σy²) — slope,
    * intercept and r² in ONE aggregation pass, the "is this metric
    * drifting per segment" primitive next to [[medianAbsDeviation]]'s
    * robust location. Degenerate groups (zero x-variance) yield null
    * slope/intercept/r2, not a division blowup; zero y-variance pins
    * r2 null as well (0/0).
    *
    * 100 TB shape: one shuffle keyed on the group with map-side partial
    * sums — the same cost as any groupBy-agg; nothing is proportional
    * to group size afterward. Determinism: every summed term (x, y,
    * x·y, x², y²) quantizes round-then-cast to DECIMAL(38,6) before
    * the sum (the xsum discipline); the closed-form arithmetic after
    * the sums is a fixed tree of exactly-rounded IEEE ops over
    * engine-identical inputs, then one round(·,6) per output.
    *
    * MAGNITUDE CONTRACT: pre-center/anchor x and y so every quantized
    * sum stays under ~2^53 decimal ticks (|Σterm| < ~9e9 at 6dp
    * scale). Past that, a DECIMAL→DOUBLE conversion is no longer
    * exact on every engine (found the hard way: DuckDB's INT128-backed
    * cast turned 781470562851.000000 into …851.0001), and raw
    * epoch-scale x breaches it immediately through x·x — anchor to a
    * recent origin first (see ext_group_trend's day-19723 anchor).
    *
    * Output: (group_key, n, slope, intercept, r2). */
  def groupTrend(
      df: DataFrame, group: Column, x: Column, y: Column): DataFrame = {
    val base = df.select(group.as("group_key"),
        x.cast("double").as("x"), y.cast("double").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    // round(·,6) BEFORE the decimal cast: a raw double→decimal cast can
    // resolve a 6th-decimal tie differently across engines (the
    // repo-wide round-then-cast discipline)
    def q6(c: Column) = round(c, 6).cast("decimal(38,6)")
    val s = base.groupBy("group_key").agg(
      count(lit(1)).as("n"),
      sum(q6(col("x"))).cast("double").as("sx"),
      sum(q6(col("y"))).cast("double").as("sy"),
      sum(q6(col("x") * col("y"))).cast("double").as("sxy"),
      sum(q6(col("x") * col("x"))).cast("double").as("sxx"),
      sum(q6(col("y") * col("y"))).cast("double").as("syy"))
    val nD = col("n").cast("double")
    val dx = nD * col("sxx") - col("sx") * col("sx")
    val dy = nD * col("syy") - col("sy") * col("sy")
    val cov = nD * col("sxy") - col("sx") * col("sy")
    val slope = cov / dx
    s.select(
      col("group_key"), col("n"),
      when(dx > 0, round(slope, 6)).as("slope"),
      when(dx > 0, round((col("sy") - slope * col("sx")) / nD, 6))
        .as("intercept"),
      when(dx > 0 && dy > 0, round(cov * cov / (dx * dy), 6)).as("r2"))
  }

  /** One-pass column profile — the data-quality summary every ingest
    * runs before accepting a drop: per column, non-null count, distinct
    * count, and min/max (stringified so one schema fits every type).
    *
    * All columns aggregate in a SINGLE `agg` call: Catalyst plans the
    * multi-column distinct aggregates with one Expand over the scan —
    * the table is still read once, which at 100 TB is the difference
    * between a profile and a full re-scan per column. Output: one row
    * per column, ordered by name. */
  def profile(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "profile needs at least one column")
    val aggs = count(lit(1)).as("n_rows") +: columns.flatMap { c =>
      Seq(
        count(col(c)).as(s"__${c}__nonnull"),
        count_distinct(col(c)).as(s"__${c}__distinct"),
        min(col(c)).cast("string").as(s"__${c}__min"),
        max(col(c)).cast("string").as(s"__${c}__max"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val perCol = explode(array(columns.map { c =>
      struct(
        lit(c).as("column"),
        col(s"__${c}__nonnull").as("n_nonnull"),
        col(s"__${c}__distinct").as("n_distinct"),
        col(s"__${c}__min").as("min_value"),
        col(s"__${c}__max").as("max_value"))
    }: _*))
    one.select(col("n_rows"), perCol.as("p"))
      .select(col("p.column").as("column"), col("n_rows"),
        col("p.n_nonnull").as("n_nonnull"),
        col("p.n_distinct").as("n_distinct"),
        col("p.min_value").as("min_value"),
        col("p.max_value").as("max_value"))
      .orderBy("column")
  }

  /** Two-snapshot SCHEMA-HEALTH drift: [[profile]] run over two slices
    * of the same table (yesterday/today, pre/post a pipeline change)
    * and diffed per column — the ingest regression gate that catches
    * "the upstream feed started emitting NULL props" or "user_id
    * cardinality halved" BEFORE any semantic query notices. The
    * statistical-drift family (PSI/KS/JSD) compares value
    * DISTRIBUTIONS of one column; this compares the structural vitals
    * of every column at once.
    *
    * Per column: row counts, null rates and their delta, distinct
    * counts and their ratio (b/a; NULL when a side has 0 distinct —
    * visible, not a fake 0). Exact integer counts; rates/ratios are
    * single IEEE divides, 6dp.
    *
    * 100 TB shape: one aggregate PER SIDE (count-distincts expand the
    * scan map-side but collapse to one row before the shuffle — the
    * [[profile]] shape), then a 1×1 cross join and a map-side per-
    * column explode. Output is |columns| rows.
    *
    * Output: (column, n_a, n_b, null_rate_a, null_rate_b,
    * null_rate_delta, n_distinct_a, n_distinct_b, distinct_ratio),
    * ordered by column. */
  def profileDrift(
      dfA: DataFrame, dfB: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "profileDrift needs at least one column")
    def side(df: DataFrame, tag: String): DataFrame = {
      val aggs = count(lit(1)).as(s"n_$tag") +: columns.flatMap { c =>
        Seq(
          count(col(c)).as(s"__${c}__nn_$tag"),
          count_distinct(col(c)).as(s"__${c}__nd_$tag"))
      }
      df.agg(aggs.head, aggs.tail: _*)
    }
    def rate(c: String, tag: String): Column =
      round((col(s"n_$tag") - col(s"__${c}__nn_$tag")).cast("double") /
        col(s"n_$tag").cast("double"), 6)
    val one = side(dfA, "a").crossJoin(side(dfB, "b"))
    val perCol = explode(array(columns.map { c =>
      struct(
        lit(c).as("column"),
        rate(c, "a").as("null_rate_a"),
        rate(c, "b").as("null_rate_b"),
        round(rate(c, "b") - rate(c, "a"), 6).as("null_rate_delta"),
        col(s"__${c}__nd_a").as("n_distinct_a"),
        col(s"__${c}__nd_b").as("n_distinct_b"),
        when(col(s"__${c}__nd_a") > 0,
          round(col(s"__${c}__nd_b").cast("double") /
            col(s"__${c}__nd_a").cast("double"), 6)).as("distinct_ratio"))
    }: _*))
    one.select(col("n_a"), col("n_b"), perCol.as("p"))
      .select(col("p.column").as("column"), col("n_a"), col("n_b"),
        col("p.null_rate_a").as("null_rate_a"),
        col("p.null_rate_b").as("null_rate_b"),
        col("p.null_rate_delta").as("null_rate_delta"),
        col("p.n_distinct_a").as("n_distinct_a"),
        col("p.n_distinct_b").as("n_distinct_b"),
        col("p.distinct_ratio").as("distinct_ratio"))
      .orderBy("column")
  }

  /** Hill TAIL-INDEX estimator (Hill '75) over the top-k order
    * statistics: α = k / Σᵢ≤k ln(xᵢ/x₍k+1₎). The heavy-tail gate for
    * value-like columns — α < 2 means infinite variance (means and
    * z-scores stop meaning anything; use [[Eval]]'s rank tests and
    * medians), α < 1 means even the mean diverges. A winsorization /
    * outlier policy should read THIS, not an eyeballed histogram.
    *
    * Only positive values enter (ln); the estimator needs k+1 of
    * them or α is NULL — visible, never a truncated-k silently
    * different estimate. k is caller-set (the classic Hill-plot
    * stability range is k ≈ √n; sweep k upstream if needed).
    *
    * Determinism: the top-(k+1) selection is a distributed
    * TakeOrdered on (value desc) — equal values give equal ln terms,
    * so tie order cannot change the sum; each ln(xᵢ/x₍k+1₎) is
    * quantized to DECIMAL(18,6) before the exact sum (the
    * [[graft.operators.TfIdf.unigramLogProb]] xsum rule), one divide,
    * 6dp.
    *
    * 100 TB shape: one scan feeding a k+1-row distributed top-k —
    * no global sort, no window; the k-row tail fits one task by
    * construction.
    *
    * Output: ONE row — (n_pos, k, x_tail 6dp, alpha 6dp). */
  def hillTailIndex(
      df: DataFrame, value: Column, k: Int = 100): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val pos = df
      .select(value.cast("double").as("v"))
      .filter(col("v").isNotNull && col("v") > 0.0)
    val nPos = pos.agg(count(lit(1)).as("n_pos"))
    val top = pos.orderBy(col("v").desc).limit(k + 1)
    val w = Window.orderBy(col("v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val tail = top
      .withColumn("rn", row_number().over(Window.orderBy(col("v").desc)))
      .withColumn("x_tail", min(when(col("rn") === k + 1, col("v"))).over(w))
    val terms = tail
      .filter(col("rn") <= k && col("x_tail").isNotNull)
      .select(log(col("v") / col("x_tail")).cast("decimal(18,6)").as("t"),
        col("x_tail"))
    terms
      .agg(count(lit(1)).as("k_eff"), sum("t").as("s"),
        min("x_tail").as("x_tail"))
      .crossJoin(broadcast(nPos))
      .select(col("n_pos"), lit(k.toLong).as("k"),
        round(col("x_tail"), 6).as("x_tail"),
        round(when(col("k_eff") === k && col("s").cast("double") > 0.0,
          lit(k.toDouble) / col("s").cast("double")), 6).as("alpha"))
  }

  /** Cross-group QUANTILE-CALIBRATION map — the fix for "source A's
    * quality scores run hot": per group, the exact interior k-tile
    * values next to the global distribution's values at the SAME
    * levels, plus the shift. A curation pass applies the map to put
    * per-source scores (or lengths, or classifier outputs) on one
    * comparable scale before mixing — rank-based calibration, immune
    * to the scale/offset drift that breaks plain z-scoring across
    * heterogeneous classifiers. [[Drift.qqShift]] is the TWO-snapshot
    * diagnostic; this is the every-group actionable table.
    *
    * Quantiles are [[exactQuantiles]] rank picks (value at rank
    * ⌈p·n⌉ — exact elements, never interpolation, the g6
    * convention), so every emitted value EXISTS in the data and the
    * DuckDB oracle replays the identical pick. The global row set
    * rides a second exactQuantiles pass over the same scan.
    *
    * 100 TB shape: two range-bucketed exactQuantiles passes (no
    * per-group window over raw rows — its scaladoc), a map-side
    * unpivot of the two ≤ |groups|-row results, one broadcast join
    * on the tile level.
    *
    * Output: (group_key, pct, group_value, global_value, shift =
    * global − group 6dp), (tiles−1) rows per group, ordered
    * (group_key, pct). */
  def quantileCalibration(
      df: DataFrame, group: Column, value: Column,
      tiles: Int = 10): DataFrame = {
    require(tiles >= 2 && tiles <= 100, s"tiles must be in [2,100], got $tiles")
    val ps = (1 until tiles).map(_.toDouble / tiles)
    val pcts = ps.map(p => math.round(p * 100).toInt)
    val base = df.select(group.cast("string").as("g"), value.as("v"))
    val perGroup = exactQuantiles(base, col("g"), col("v"), ps)
    val global = exactQuantiles(
      base.select(lit("__all__").as("g"), col("v")), col("g"), col("v"), ps)
    def unpivot(q: DataFrame, tag: String): DataFrame = q
      .select(col("group_key"), explode(array(pcts.map(pc =>
        struct(lit(pc.toLong).as("pct"),
          col(s"p$pc").cast("double").as(tag))): _*)).as("x"))
      .select(col("group_key"), col("x.pct").as("pct"),
        col(s"x.$tag").as(tag))
    unpivot(perGroup, "group_value")
      .join(broadcast(unpivot(global, "global_value").drop("group_key")),
        Seq("pct"))
      .select(col("group_key"), col("pct"), col("group_value"),
        col("global_value"),
        round(col("global_value") - col("group_value"), 6).as("shift"))
      .orderBy("group_key", "pct")
  }

  /** Key-skew profile — the "should I salt this join?" diagnostic run
    * BEFORE keying a 100 TB shuffle on a column: per-key row counts
    * summarized as cardinality, hottest key, exact count quantiles,
    * and the max/mean skew ratio. A skew_ratio in the thousands says a
    * plain `groupBy(key)`/`join(key)` funnels that fraction of the
    * table through one task ([[Partitioning.saltedJoin]] / AQE skew
    * handling is the fix this readout motivates).
    *
    * 100 TB shape: ONE key-keyed aggregation over the corpus (map-side
    * combine), after which everything operates on the |keys|-row count
    * table: the hottest key is a distributed `orderBy().limit(1)`
    * top-1 (never a full sort materialization), the count quantiles
    * ride [[exactQuantiles]]' range-bucketed distributed selection
    * (exact data elements — no interpolation), and the final row is
    * assembled from three single-row broadcasts.
    *
    * Determinism: counts are exact integers; quantiles select actual
    * elements; skew_ratio = max_n·n_keys/n_rows and top_share =
    * max_n/n_rows are single IEEE divides of exact integers. Hot-key
    * ties break lexicographically. NULL keys are excluded from the
    * profile (they hash to one shuffle cell too, but their fix —
    * null-filtering or coalescing — is a different decision than
    * salting; count them separately via [[profile]]).
    *
    * Output: ONE row (n_keys, n_rows, top_key, top_n, top_share,
    * p50_n, p90_n, p99_n, skew_ratio) when the input has ≥ 1 non-null
    * key; ZERO rows when it is empty or all keys are NULL (no keys ⇒
    * no profile — the same empty-input contract as [[Eval.spearman]];
    * the cross-joins propagate the empty quantile table). */
  /** INCREMENTAL AGGREGATE MAINTENANCE — the mergeable-state pattern
    * that keeps a 100 TB rollup fresh without rescanning the corpus:
    * [[aggState]] reduces a slice to per-key ALGEBRAIC state (count +
    * exact DECIMAL(18,6) sum — both associative/commutative), and
    * [[mergeAggStates]] folds any number of states (yesterday's
    * table + today's delta, or per-partition states) into the same
    * shape, so refresh cost is O(|delta| + |keys|), never O(corpus).
    * [[finalizeAggState]] derives the non-mergeable readouts (mean)
    * at the edge. The relational cousin of
    * [[graft.operators.Sketches.kmvMergeRollup]]'s sketch-merge rule;
    * exactness (not estimate) because count/sum ARE algebraic. The
    * `ext_incremental_agg` oracle proves merged state == one-shot
    * recompute over the whole corpus, hash-for-hash. */
  def aggState(df: DataFrame, key: Column, value: Column): DataFrame =
    df.select(key.cast("string").as("group_key"),
        round(value.cast("double"), 6).as("v"))
      .groupBy("group_key")
      .agg(
        count(col("v")).as("n"),
        coalesce(sum(col("v").cast("decimal(18,6)")),
          lit(0).cast("decimal(18,6)")).as("sum6"))

  /** Merge aggregate states (see [[aggState]]): union + re-aggregate —
    * map-side combine collapses to |keys| rows per task, one tiny
    * shuffle regardless of how many states are folded. */
  def mergeAggStates(states: DataFrame*): DataFrame = {
    require(states.nonEmpty, "mergeAggStates needs at least one state")
    states.reduce(_ unionByName _)
      .groupBy("group_key")
      .agg(
        sum(col("n")).cast("long").as("n"),
        sum(col("sum6")).cast("decimal(18,6)").as("sum6"))
  }

  /** Edge readout of an [[aggState]]: exact sum as double plus the
    * derived mean (one IEEE divide, rounded 6) — derived metrics are
    * computed from merged state, never merged themselves (a mean of
    * means is wrong under unequal group sizes). */
  def finalizeAggState(state: DataFrame): DataFrame =
    state.select(
      col("group_key"),
      col("n"),
      col("sum6").cast("double").as("sum_value"),
      round(when(col("n") > 0,
        col("sum6").cast("double") / col("n").cast("double")), 6)
        .as("avg_value"))
      .orderBy("group_key")

  /** THEIL–SEN robust trend per group — the median of all pairwise
    * slopes (Theil '50 / Sen '68): the robust replacement for the OLS
    * slope ([[graft.operators.Events]] group-trend family) when the
    * daily series carries outliers (a bot spike, a backfill day) that
    * would own a least-squares fit; the estimator has a 29.3%
    * breakdown point (OLS: one point).
    *
    * Contract: y is first aggregated to ONE point per (group, x) —
    * the 6dp decimal-mean discipline — because duplicate x values make
    * pairwise slopes undefined; pairwise slopes then come from a
    * within-group self-join of that POST-AGGREGATION table, so the
    * quadratic blow-up is over points-per-group, never rows.
    * `maxPointsPerGroup` FAILS LOUDLY (inline raise_error anchored by
    * the filter that reads it — the Eval guard discipline) before a
    * wide group can go quadratic: at 100 TB a daily series is ≤ a few
    * thousand points per group by construction, and a key that isn't
    * belongs in a different estimator.
    *
    * Determinism: point means round(·,6) after DECIMAL(18,6) sums;
    * each slope round(·,9); the median is the value at rank
    * ceil(n/2) in slope order (the [[exactQuantiles]] / g6 rank
    * convention — ties on equal slope values are rank-order-immune).
    * Groups with < 2 distinct x have no defined slope and are
    * EXCLUDED (not NULL-padded — a one-point trend is a lie).
    *
    * Output: (group_key, n_points, n_pairs, slope 9dp). */
  def theilSen(
      df: DataFrame, group: Column, x: Column, y: Column,
      maxPointsPerGroup: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = df
      .select(group.cast("string").as("group_key"),
        x.cast("double").as("x"), y.cast("double").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .groupBy("group_key", "x")
      .agg(round(
        sum(round(col("y"), 6).cast("decimal(18,6)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("ym"))
      .withColumn("n_points",
        count(lit(1)).over(Window.partitionBy("group_key")))
      // anchored guard: the filter READS the guard expression, so
      // Catalyst cannot prune it (the withCardinalityGuard lesson)
      .filter(
        when(col("n_points") > maxPointsPerGroup,
          raise_error(concat(
            lit(s"theilSen: group "), col("group_key"),
            lit(s" has "), col("n_points").cast("string"),
            lit(s" points > maxPointsPerGroup=$maxPointsPerGroup — "
              + "pairwise slopes would go quadratic; pre-aggregate x"))))
          .otherwise(lit(true)))
    val a = pts.select(col("group_key"), col("x").as("xa"),
      col("ym").as("ya"), col("n_points"))
    val b = pts.select(col("group_key"), col("x").as("xb"),
      col("ym").as("yb"))
    val pairs = a.join(b, Seq("group_key"))
      .filter(col("xa") < col("xb"))
      .select(col("group_key"), col("n_points"),
        round((col("yb") - col("ya")) / (col("xb") - col("xa")), 9)
          .as("slope"))
    // the median window runs over the bounded post-agg pair table
    // (≤ maxPoints²/2 rows per group), never the corpus
    val w = Window.partitionBy("group_key").orderBy("slope")
    val wg = Window.partitionBy("group_key")
    pairs
      .withColumn("rn", row_number().over(w))
      .withColumn("n_pairs", count(lit(1)).over(wg))
      .groupBy("group_key")
      .agg(
        max(col("n_points")).as("n_points"),
        max(col("n_pairs")).as("n_pairs"),
        max(when(col("rn") ===
          ceil(lit(0.5) * col("n_pairs")).cast("long"), col("slope")))
          .as("slope"))
      .orderBy("group_key")
  }

  /** Key-skew profile of `key` (cast to string, nulls dropped): one row
    * (n_keys, n_rows, top_key, top_n, top_share, p50_n, p90_n, p99_n,
    * skew_ratio) — the cardinality, the hottest key (ties to the least
    * key), the exact ⌈p·n⌉ count quantiles and max/mean; no row when no
    * key is non-null. When the per-key count table is small enough to
    * broadcast ([[Checkpointing.toDriverIfSmall]]) it is collected once
    * and the readout is folded on the driver; the two ratios are then
    * the same Spark expressions over a one-row local relation. */
  def keySkewProfile(df: DataFrame, key: Column): DataFrame = {
    val keys = df.select(key.cast("string").as("k"))
    val countsPlan = keys.filter(col("k").isNotNull)
      .groupBy("k").agg(count(lit(1)).as("n"))
    val ratios = Seq(col("n_keys"), col("n_rows"), col("top_key"), col("top_n"),
      (col("top_n").cast("double") / col("n_rows").cast("double"))
        .as("top_share"),
      col("p50_n"), col("p90_n"), col("p99_n"),
      ((col("top_n").cast("decimal(38,0)") * col("n_keys")).cast("double") /
        col("n_rows").cast("double")).as("skew_ratio"))
    Checkpointing.toDriverIfSmall(countsPlan) match {
      case Some(rows) =>
        val kType = countsPlan.schema("k").dataType
        val ordK = TypeUtils.getInterpretedOrdering(kType)
        // the hottest key: n DESC, then k ascending
        val top = rows.reduceOption { (a, b) =>
          val byN = java.lang.Long.compare(b.getLong(1), a.getLong(1))
          if (byN > 0 || (byN == 0 && ordK.lt(b.get(0, kType), a.get(0, kType)))) b
          else a
        }
        val folded = top.toSeq.map { t =>
          val ns = rows.map(r => java.lang.Long.valueOf(r.getLong(1)): AnyRef)
          Row.fromSeq(Seq(ns.length.toLong,
            rows.foldLeft(0L)((acc, r) => Math.addExact(acc, r.getLong(1))),
            t.getUTF8String(0).toString, t.getLong(1)) ++
            pickQuantiles(ns, LongType, Seq(0.5, 0.9, 0.99)))
        }
        localFrame(df.sparkSession, StructType(Seq(
          StructField("n_keys", LongType, nullable = false),
          StructField("n_rows", LongType),
          StructField("top_key", kType, keys.schema.head.nullable),
          StructField("top_n", LongType, nullable = false),
          StructField("p50_n", LongType),
          StructField("p90_n", LongType),
          StructField("p99_n", LongType))), folded)
          .select(ratios: _*)
      case None =>
        // r18b: cut the per-key count table. It feeds the stats
        // aggregate, the top-1 pull AND exactQuantiles — which itself
        // evaluates its input three times (split-point sample, pass-1
        // count collect, pass-2 rank pick) — so uncut the full corpus
        // scan + key shuffle ran ~5× per action. |keys| rows of
        // (string, long), never corpus rows.
        val counts = Checkpointing.cut(countsPlan)
        val stats = counts.agg(
          count(lit(1)).as("n_keys"), sum("n").as("n_rows"))
        val top = counts.orderBy(col("n").desc, col("k"))
          .limit(1).select(col("k").as("top_key"), col("n").as("top_n"))
        val qs = exactQuantiles(counts, lit(0), col("n"),
            Seq(0.5, 0.9, 0.99))
          .select(col("p50").as("p50_n"), col("p90").as("p90_n"),
            col("p99").as("p99_n"))
        stats.crossJoin(broadcast(top)).crossJoin(broadcast(qs))
          .select(ratios: _*)
    }
  }

  /** Exact WEIGHTED quantiles per group: the smallest value whose
    * cumulative weight reaches q·W — the weighted median (p50) and
    * friends, where every row counts `weight` times. The readout a
    * mixture designer needs when rows are unequal (a token-weighted
    * median doc length, a quantity-weighted median price); the
    * unweighted [[exactQuantiles]] answers a different question the
    * moment weights vary.
    *
    * Determinism: weights quantize once to DECIMAL(18,6) and every
    * cumulative/total sum is exact decimal (order-free) — the bucket
    * offsets plus within-bucket cumulatives reconstruct the exact
    * global cumulative weight, so bucketing never changes a pick; the
    * q·W threshold compares in doubles with the identical expression
    * on both engines; picks are exact data values, never
    * interpolation.
    *
    * 100 TB shape: duplicates collapse in a map-side (group, value)
    * aggregate, then the ordered work runs in (group, BUCKET) windows
    * — sampled percentile split points, the [[exactQuantiles]]
    * range-bucketed discipline — so parallelism is groups × buckets,
    * never groups (a 3-value returnflag key would otherwise sort the
    * corpus in three tasks: the serial-window trap). Bucket weight
    * totals running-sum on the tiny groups × buckets spine and
    * broadcast back as offsets; picks are conditional MINs in one
    * final aggregate — no explode, no per-q pass.
    *
    * [r18 REJECTED] bucketing the RAW rows first so collapse + spine +
    * window ride one explicit (g, bucket) exchange was measured and
    * reverted: the explicit repartition ships every raw row with NO
    * map-side partial aggregation, and that costs far more than the
    * second (collapsed-rows) exchange it saves — paired receipts
    * bench/r18_others_paired_sf01.json (1.28/1.22) and
    * bench/r18_others_paired_104x.json (1.88/1.81), regressed at both
    * scales. Guide §2.3 ("aggregate before you shuffle") beats §2.4
    * ("share one exchange") here because (g, v) duplication is high at
    * every measured scale.
    *
    * Output: (group_key, w_total 6dp, p25, p50, p75), one row per
    * group, ordered by group_key. */
  def weightedQuantiles(
      df: DataFrame, group: Column, value: Column, weight: Column,
      qs: Seq[Double] = Seq(0.25, 0.5, 0.75),
      bucketsPerGroup: Int = 0): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantiles must be in (0,1]: $qs")
    // output columns are named p${round(q*100)} — quantiles that round
    // to the same percent (0.125 and 0.134 → p13/p13) would silently
    // collide into one column; fail fast (the exactQuantiles precedent)
    val pNames = qs.map(q => s"p${math.round(q * 100)}")
    require(pNames.distinct.size == pNames.size,
      s"quantile column names collide after rounding to whole percents:" +
        s" $qs -> $pNames — space qs at least 1% apart or dedupe")
    val spark = df.sparkSession
    val nB = if (bucketsPerGroup > 0) bucketsPerGroup
      else spark.sessionState.conf.numShufflePartitions
    val base = df
      .filter(group.isNotNull && value.isNotNull &&
        weight.isNotNull && weight > 0)
      .select(group.cast("string").as("g"),
        round(value.cast("double"), 6).as("v"),
        weight.cast("decimal(18,6)").as("w"))
      .groupBy("g", "v").agg(sum("w").as("w"))
    // sampled split points — cell balance only, never the answer
    val bucketed = if (nB <= 1) base.withColumn("bucket", lit(0)) else {
      val fracs = (1 until nB).map(i => i.toDouble / nB)
      val splits = base.sample(withReplacement = false, 0.01, seed = 42L)
        .groupBy("g")
        .agg(percentile_approx(col("v"),
          array(fracs.map(lit): _*), lit(1000)).as("bs"))
      base.join(broadcast(splits), Seq("g"), "left")
        .withColumn("bucket",
          coalesce(expr("size(filter(bs, b -> b <= v))"), lit(0)))
        .drop("bs")
    }
    // ONE spine carrying both the exclusive bucket offset and the group
    // total (two window sums over the tiny groups × buckets table) —
    // previously `offs` and `tot` were separate dataframes, so the whole
    // scan→collapse→bucket subtree was planned (and its post-shuffle
    // half executed) once more per broadcast, and `cum` paid two joins.
    val wb = bucketed.groupBy("g", "bucket").agg(sum("w").as("bw"))
    val wOff = Window.partitionBy("g").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy("g")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val spine = wb.select(col("g"), col("bucket"),
      coalesce(sum("bw").over(wOff),
        lit(0).cast("decimal(38,6)")).as("boff"),
      sum("bw").over(wTot).as("tw"))
    val win = Window.partitionBy("g", "bucket").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bucketed.withColumn("cwl", sum("w").over(win))
      .join(broadcast(spine), Seq("g", "bucket"))
      .withColumn("cw", col("boff") + col("cwl"))
    val picks = qs.map { q =>
      min(when(col("cw").cast("double") >= lit(q) * col("tw").cast("double"),
        col("v"))).as(s"p${math.round(q * 100)}")
    }
    cum.groupBy(col("g").as("group_key"))
      .agg(round(first(col("tw")).cast("double"), 6).as("w_total"),
        picks: _*)
      .orderBy("group_key")
  }

  /** [r17] Exact GLOBAL row_number — and optional exact running sums —
    * under a total order (`keyCol` asc/desc, then `tieBreaks` asc),
    * computed RANGE-BUCKETED so no task ever sorts more than ~n/B
    * rows: the [[exactQuantiles]]/[[weightedQuantiles]] discipline
    * lifted to ranking, retiring the repo's last guarded single-task
    * ordered windows ([[graft.operators.Events.rfmSegments]],
    * [[graft.operators.Events.activityKnee]],
    * [[graft.operators.Eval.liftTable]]).
    *
    * Shape: sampled split points on `keyCol` (1% sample — boundary
    * quality affects only cell balance, never the answer) assign each
    * row a bucket that is a MONOTONE function of the key, so ties all
    * land in one bucket and within-bucket `tieBreaks` complete the
    * same total order as the global sort. Per-bucket counts (and
    * `cumSums` totals) running-sum on the tiny B-row spine, ordered in
    * rank direction, and broadcast back as exclusive offsets; global
    * rank = offset + row_number in the (bucket) window; each running
    * sum = sum-offset + within-bucket prefix. Counts and offsets are
    * exact longs/decimals, so rank and cumulatives are BIT-IDENTICAL
    * to the one-task global window this replaces. Parallelism is B
    * (default: shuffle partitions), at any population size.
    *
    * `budget` is a data-contract BACKSTOP, not a plan guard (the old
    * `inlineCardinalityGuard` at these sites both enforced a ceiling
    * and WAS the serial plan): the check rides the B-row offset spine
    * — raise_error past the declared population budget — and costs
    * nothing; the rank path itself is scale-safe, so the default is
    * unbounded.
    *
    * Adds `_rank` (long), `<c>_cum` per `cumSums` column (the
    * window-sum result type, exact for long/decimal inputs), plus the
    * GLOBAL totals the spine already holds — `_n_tot` (row count) and
    * `_tot_<c>` (full sum per `cumSums` column) on every row — so
    * call sites needing n/N never pay a separate aggregate pass over
    * `df` + crossJoin. Internal `_bucket`/offset columns are dropped.
    *
    * COST MODEL (the [[exactQuantiles]] trade, read before calling):
    * `df` is evaluated THREE times — split-point sample, spine
    * aggregate, final ranked plan. When `df` is a cheap columnar scan
    * (a projection of parquet), re-scan wins at cluster scale and
    * `materialize=false` is right. When `df` carries an expensive
    * lineage (an aggregation of the event log), pass
    * `materialize=true` to cut it first ([[Checkpointing.cut]]) —
    * otherwise each evaluation replays the full upstream shuffle, and
    * CHAINED calls multiply evaluations geometrically (3ⁿ — measured
    * 8.35 s vs 0.78 s on a 3-deep chain at sf0.1 before this knob). */
  private[graft] def bucketedGlobalRank(
      df0: DataFrame, keyCol: String, descending: Boolean,
      tieBreaks: Seq[String], cumSums: Seq[String] = Nil,
      budget: Long = Long.MaxValue, op: String = "bucketedGlobalRank",
      budgetName: String = "budget", buckets: Int = 0,
      materialize: Boolean = false): DataFrame = {
    val df = if (materialize) Checkpointing.cut(df0) else df0
    val spark = df.sparkSession
    val nB = if (buckets > 0) buckets
      else spark.sessionState.conf.numShufflePartitions
    val kd = col(keyCol).cast("double")
    val bucketed = if (nB <= 1) df.withColumn("_bucket", lit(0)) else {
      val fracs = (1 until nB).map(i => i.toDouble / nB)
      val splits = df.sample(withReplacement = false, 0.01, seed = 42L)
        .agg(percentile_approx(kd, array(fracs.map(lit): _*), lit(1000))
          .as("_bs"))
      // a sample too small to yield split points (null _bs) degrades to
      // one cell — still exact, just the old single-task shape
      df.crossJoin(broadcast(splits))
        .withColumn("_bucket",
          coalesce(size(filter(col("_bs"), b => b <= kd)), lit(0)))
        .drop("_bs")
    }
    val spine = bucketed.groupBy("_bucket")
      .agg(count(lit(1)).as("_c"),
        cumSums.map(c => sum(col(c)).as(s"_s_$c")): _*)
    val spineOrd = if (descending) col("_bucket").desc else col("_bucket").asc
    val wOff = Window.orderBy(spineOrd)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.orderBy(spineOrd)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offs = spine.select(
      (col("_bucket") +:
        coalesce(sum("_c").over(wOff), lit(0L)).as("_roff") +:
        sum("_c").over(wTot).as("_n_tot") +:
        (cumSums.map(c =>
          coalesce(sum(s"_s_$c").over(wOff), lit(0)).as(s"_soff_$c")) ++
          cumSums.map(c =>
            sum(s"_s_$c").over(wTot).as(s"_tot_$c")))): _*)
      .withColumn("_guard_ok",
        when(col("_n_tot") <= budget, lit(1)).otherwise(raise_error(concat(
          lit(s"$op: "), col("_n_tot").cast("string"),
          lit(s" rows exceed $budgetName=$budget — a data-contract" +
            " backstop (the range-bucketed rank itself is scale-safe);" +
            s" raise $budgetName deliberately if the population is" +
            " expected to be this large.")))))
      .filter(col("_guard_ok") === 1)
      .drop("_guard_ok")
    val ord = (if (descending) col(keyCol).desc else col(keyCol).asc) +:
      tieBreaks.map(col(_).asc)
    val w = Window.partitionBy("_bucket").orderBy(ord: _*)
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = bucketed.join(broadcast(offs), Seq("_bucket"))
      .withColumn("_rank", (col("_roff") + row_number().over(w)).cast("long"))
    val withSums = cumSums.foldLeft(ranked) { (d, c) =>
      d.withColumn(s"${c}_cum", col(s"_soff_$c") + sum(col(c)).over(wCum))
    }
    withSums.drop(("_bucket" +: "_roff" +:
      cumSums.map(c => s"_soff_$c")): _*)
  }

  /** [r17] Per-metric exact global rank over a shared (already
    * materialized) population: one [[bucketedGlobalRank]] per
    * `(keyCol, descending, outCol)` spec computed INDEPENDENTLY —
    * never chained, which would multiply input evaluations 3ⁿ.
    *
    * [r18] The per-spec rank tables then assemble in ONE pass: a tagged
    * union pivoted by a single (id)-keyed aggregate, joined back onto
    * the population once — the old per-spec foldLeft id-joined the
    * population N times (N shuffles of the widest table for N skinny
    * rank columns). Each id appears exactly once per spec (ranks are a
    * permutation of the population), so the conditional MAX picks the
    * unique value — bit-identical rows, same column order. */
  private[graft] def multiRanked(
      population: DataFrame, idCol: String,
      specs: Seq[(String, Boolean, String)],
      budget: Long, op: String, budgetName: String): DataFrame = {
    val pop = Checkpointing.cut(population)
    val tagged = specs.zipWithIndex.map { case ((key, desc, out), i) =>
      bucketedGlobalRank(pop, key, descending = desc,
        tieBreaks = Seq(idCol), budget = budget, op = op,
        budgetName = budgetName)
        .select(col(idCol), lit(i).as("_spec"),
          col("_rank"), col("_n_tot"))
    }
    val outCols =
      specs.zipWithIndex.map { case ((_, _, out), i) =>
        max(when(col("_spec") === i, col("_rank"))).as(out)
      }
    // column order matches the old foldLeft: out₀, _n_tot, out₁, out₂, …
    val aggCols = outCols.head +: max(col("_n_tot")).as("_n_tot") +: outCols.tail
    val zipped = tagged.reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(aggCols.head, aggCols.tail: _*)
    pop.join(zipped, Seq(idCol))
  }

  /** [r17] SQL NTILE as a pure function of (1-based global rank, n):
    * the first n % t tiles take ⌊n/t⌋+1 rows, the rest ⌊n/t⌋ — the
    * semantics Spark and DuckDB share — in exact integer/decimal
    * arithmetic (decimal division before floor, so no IEEE rounding
    * cliff at any n), so [[bucketedGlobalRank]]'s `_rank` feeds it
    * bit-identically to ntile() over the equivalent global window. */
  private[graft] def ntileFromRank(r: Column, n: Column, t: Int): Column = {
    require(t >= 1, s"tiles must be >= 1, got $t")
    val nn = n.cast("long")
    val bse = floor(nn.cast("decimal(38,0)") / lit(t)).cast("long")
    val rem = pmod(nn, lit(t.toLong))
    val cut = rem * (bse + lit(1L))
    val rr = r.cast("long")
    when(rr <= cut,
      floor((rr - lit(1L)).cast("decimal(38,0)") / (bse + lit(1L)))
        .cast("long") + lit(1L))
      .otherwise(rem +
        floor((rr - lit(1L) - cut).cast("decimal(38,0)") /
          greatest(bse, lit(1L))).cast("long") + lit(1L))
  }
}
