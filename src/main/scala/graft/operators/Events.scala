package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import java.util.concurrent.atomic.AtomicLong

/** Event-stream operators in batch form (the Structured Streaming twins
  * live in graft.streaming.EventStreams). [EXT] — the reference has no
  * streaming surface (SURVEY.md §2.C); the `events` fixture table is the
  * driver's hook for these.
  */
object Events {

  // observe() names must be unique within one plan (see Dedup.skewGuardSeq)
  private val clampSeq = new AtomicLong(0)

  /** Tumbling-window aggregate. In batch, date_trunc IS the tumbling
    * window assignment (window($"ts","1 hour").start == date_trunc):
    * a pure map-side expression followed by one partial-aggregated
    * shuffle on (window, key) — the canonical scalable shape. Rows come
    * in no particular order, like the streaming twin's. */
  def tumblingAgg(events: DataFrame, unit: String): DataFrame =
    windowTotals(events,
      date_format(date_trunc(unit, col("ts")), "yyyy-MM-dd HH:mm:ss").as("window_start"))

  /** Sliding (hopping) window aggregate: each event lands in
    * size/slide overlapping windows. window() is a map-side generator —
    * the fan-out happens BEFORE the one partial-aggregated shuffle on
    * (window, key), so the cost is (size/slide)× input rows in the
    * shuffle, never a self-join of window spines. `sizeSec` must be a
    * multiple of `slideSec` (the only alignment with a closed-form
    * window assignment — same rule Structured Streaming enforces).
    * Window starts are epoch-aligned, matching `(t div slide - k) ×
    * slide` for k in [0, size/slide). Rows come in no particular order. */
  def slidingAgg(events: DataFrame, sizeSec: Long, slideSec: Long): DataFrame = {
    require(sizeSec % slideSec == 0, "window size must be a multiple of slide")
    windowTotals(events, window(col("ts"), s"$sizeSec seconds", s"$slideSec seconds"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("total_value"))
  }

  /** The windowed aggregate the batch operators and their streaming
    * twins (graft.streaming.EventStreams) share: per (`window`,
    * event_type), the event count `n` and the DECIMAL(18,6)-summed
    * `total_value`. */
  private[graft] def windowTotals(events: DataFrame, window: Column): DataFrame =
    events
      .groupBy(window, col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))

  /** Whole days since the epoch of `ts`'s calendar day. */
  private[operators] def dayIndex(ts: Column): Column =
    (unix_millis(date_trunc("day", ts)) / lit(86400000L)).cast("long")

  /** Per-(group_key, di) event counts `cnt` over every day from the
    * first to the last active day of the whole frame: days with no
    * events count 0 (a missing day is a real zero of the series, and
    * skipping it would splice non-adjacent days together). Rows with a
    * NULL `ts` are dropped. The events collapse to (group, day) counts
    * in one map-side-combining aggregate; the day spine is broadcast. */
  private[operators] def dailyCounts(
      events: DataFrame, group: Column, ts: Column): DataFrame = {
    val days = events.filter(ts.isNotNull)
      .select(group.as("group_key"), dayIndex(ts).as("di"))
      .groupBy("group_key", "di")
      .agg(count(lit(1)).as("cnt"))
    val spine = days.agg(min("di").as("lo"), max("di").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("di"))
    days.select("group_key").distinct()
      .crossJoin(broadcast(spine))
      .join(days, Seq("group_key", "di"), "left")
      .select(col("group_key"), col("di"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
  }

  /** Lag-L AUTOCORRELATION of daily event counts — the seasonality
    * detector (lag 7 = weekly rhythm) that tells a mix/refresh planner
    * whether a source's volume pattern is periodic or drifting; the
    * time-series complement to [[Drift]]'s distribution tests.
    *
    * Pearson r between the zero-filled daily-count series and itself
    * shifted L days, per group. Zero-filling matters: missing days ARE
    * zero-activity days, and skipping them would splice non-adjacent
    * days together and fabricate correlation.
    *
    * 100 TB shape: the corpus collapses to (group, day) counts in one
    * map-side-combining aggregate — everything after operates on the
    * |groups|×|days| table (bounded by calendar time, not data volume):
    * a global 2-value bounds row, a broadcast day spine, one self-join
    * on (group, day+L), a ≤|groups|-row moment aggregate.
    *
    * Determinism: counts are exact integers; cross-moments accumulate
    * in DECIMAL(38,0) (products of per-day counts overflow Long at
    * ~3·10⁹/day — the ksTest ADVICE lesson); the r chain is IEEE on
    * doubles cast from those decimals, round 6. A constant series
    * (zero variance on either side) has no defined r — NULL, loudly,
    * not 0.
    *
    * Output: (group_key, n_pairs, lag, autocorr), one row per group
    * with ≥1 pair. */
  def lagAutocorr(
      events: DataFrame,
      group: Column,
      ts: Column,
      lagDays: Int = 7): DataFrame = {
    require(lagDays >= 1, s"lagDays must be >= 1, got $lagDays")
    val filled = dailyCounts(events, group, ts)
    val a = filled.select(col("group_key"), col("di"), col("cnt").as("xa"))
    val b = filled.select(col("group_key"),
      (col("di") - lagDays).as("di"), col("cnt").as("xb"))
    def dec(c: Column): Column = c.cast("decimal(19,0)")
    val m = a.join(b, Seq("group_key", "di"))
      .groupBy("group_key")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("xa")).as("sa"), sum(col("xb")).as("sb"),
        sum(dec(col("xa")) * col("xb")).as("sab"),
        sum(dec(col("xa")) * col("xa")).as("saa"),
        sum(dec(col("xb")) * col("xb")).as("sbb"))
    def d(c: Column): Column = c.cast("double")
    val num = d(col("n_pairs")) * d(col("sab")) - d(col("sa")) * d(col("sb"))
    val den = sqrt(d(col("n_pairs")) * d(col("saa")) - d(col("sa")) * d(col("sa"))) *
      sqrt(d(col("n_pairs")) * d(col("sbb")) - d(col("sb")) * d(col("sb")))
    m.select(col("group_key"), col("n_pairs"),
        lit(lagDays.toLong).as("lag"),
        when(den > 0.0, round(num / den, 6)).as("autocorr"))
      .orderBy("group_key")
  }

  /** Exponential FRESHNESS-DECAYED aggregates — the recency weighting
    * every data-mix/trending decision applies at corpus refresh time
    * (what fraction of each source/type is still "warm"?): each row
    * weighs 2^(−age/halfLife) relative to the NEWEST timestamp in the
    * table, so the readout is anchor-stable (re-running tomorrow over
    * the same frozen table gives the identical rows — no wall-clock
    * dependence, the repo's determinism rule).
    *
    * 100 TB shape: one single-row max(ts) aggregate broadcast against
    * the corpus, then one scan with a map-side-collapsing group
    * aggregate — shuffle volume is |groups| rows. The decay is
    * map-side arithmetic; nothing iterates.
    *
    * Determinism: age is exact integer milliseconds; the exponent is
    * one IEEE divide quantized round(·,9) BEFORE pow and the weight
    * round(·,9) after (the ln/exp transcendental discipline — pow's
    * last-ulp behavior is libm-specific, the 9dp quantization on both
    * ends is what lets a second engine replay it); weighted sums
    * accumulate 9dp/6dp decimals. Null ts = infinitely old: weight 0,
    * still counted in n. Null values are skipped by the sum on both
    * engines.
    *
    * Output: (group_key, n, decayed_n, decayed_value), one row per
    * group, 6dp. decayed_n ∈ (0, n] — the "effective recent rows". */
  def freshnessDecay(
      events: DataFrame,
      group: Column,
      ts: Column,
      value: Column,
      halfLifeDays: Double = 7.0): DataFrame = {
    require(halfLifeDays > 0, s"halfLifeDays must be positive, got $halfLifeDays")
    val halfLifeMs = 86400000.0 * halfLifeDays
    val anchor = events.agg(max(unix_millis(ts)).as("anchor_ms"))
    val x = round((unix_millis(ts) - col("anchor_ms")).cast("double") /
      lit(halfLifeMs), 9)
    val w = coalesce(round(pow(lit(2.0), x), 9), lit(0.0))
    events
      .crossJoin(broadcast(anchor))
      .select(group.as("group_key"), w.as("w"), value.as("v"))
      .groupBy("group_key")
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("w").cast("decimal(28,9)")).cast("double"), 6)
          .as("decayed_n"),
        round(sum(round(col("w") * col("v"), 6).cast("decimal(28,6)"))
          .cast("double"), 6).as("decayed_value"))
      .orderBy("group_key")
  }

  /** Gap-based sessionization (gaps-and-islands): a new session starts
    * when the per-user gap exceeds `gapMs`. Two window passes over data
    * partitioned BY USER — at 100 TB this shuffles once on user_id and
    * each user's timeline sorts locally; no global ordering anywhere.
    * (Streaming twin: session_window / flatMapGroupsWithState.) */
  def sessionize(events: DataFrame, gapMs: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    val withMs = events.withColumn("ms", unix_millis(col("ts")))
    val flagged = withMs
      .withColumn("prev_ms", lag(col("ms"), 1).over(byUser))
      .withColumn(
        "new_session",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > gapMs, 1L)
          .otherwise(0L))
    flagged.withColumn(
      "session_id",
      sum(col("new_session"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-user session stats on top of sessionize(). */
  def sessionStats(events: DataFrame, gapMs: Long): DataFrame =
    sessionize(events, gapMs)
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        max(col("cnt")).as("longest_session"),
        sum(col("cnt")).as("n_events"))
      .orderBy("user_id")

  /** As-of join: for each left row, the most recent right value with
    * right.ms <= left.ms for the same key (inclusive). Composed as
    * union + carry-forward window rather than a range join: ONE shuffle
    * on the key and a local per-key sort — the formulation that holds at
    * 100 TB, where a range-predicate join would either cartesian within
    * key or need interval buckets. Right side must be unique per
    * (key, ms) — pre-aggregate with max_by upstream.
    *
    * left: (leftId, key, ms); right: (key, ms, value). Column types are
    * taken from the input schemas (no assumed long/double). The carried
    * payload is a one-field STRUCT wrapping `value`, non-null for every
    * right row — so a right row whose value is genuinely NULL still
    * counts as "a row exists" and surfaces its NULL, exactly like a
    * native ASOF JOIN (the raw-value formulation would skip it via
    * last(ignoreNulls) and wrongly carry an older value forward).
    *
    * Returns (leftId, key, ms, value) with null when no prior right row. */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      leftId: String,
      key: String,
      ms: String,
      value: String): DataFrame = {
    val valueType = right.schema(value).dataType
    val leftIdType = left.schema(leftId).dataType
    val wrapType = org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("v", valueType)))
    val l = left.select(col(leftId), col(key), col(ms))
      .withColumn("__side", lit(1))
      .withColumn("__rv", lit(null).cast(wrapType))
    val r = right.select(col(key), col(ms), struct(col(value).as("v")).as("__rv"))
      .withColumn("__side", lit(0)).withColumn(leftId, lit(null).cast(leftIdType))
      .select(col(leftId), col(key), col(ms), col("__side"), col("__rv"))
    // right rows sort BEFORE left rows at equal ms → inclusive (<=)
    val w = Window.partitionBy(col(key)).orderBy(col(ms), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.select(col(leftId), col(key), col(ms), col("__side"), col("__rv"))
      .unionByName(r)
      .withColumn("__carry", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(col(leftId), col(key), col(ms), col("__carry")("v").as(value))
  }

  /** Time-series resample + gap fill: per-user fixed-width buckets
    * spanning the user's first to last event; missing buckets emit with
    * n = 0 and carry the last observed bucket total forward
    * (`filled_value`) — the densification step before any
    * constant-cadence downstream (forecasting features, rate charts).
    *
    * Shape: one aggregate shuffle on (user, bucket); the spine comes
    * from sequence()+explode over the per-user [min, max] bucket range —
    * a GENERATOR expression, so spine rows materialize distributed
    * inside tasks, never via a driver loop or a global calendar table;
    * the gap-fill is a per-user window (local sort per user). Spine
    * volume is span/bucketSec rows per user — pick `bucketSec` to match
    * the horizon (an hourly spine over a year is 8.8k rows/user).
    *
    * `maxGapBuckets` clamps the per-row explode: ONE user silent for
    * ~100 M buckets would otherwise hand sequence() an array over
    * Spark's element cap and kill the query at scale. A longer gap
    * fills only its first maxGapBuckets empty buckets and the
    * truncation is REPORTED via the `graft_resample_clamp_*` observe()
    * metric (`clamped_gaps`) — never silent (same discipline as
    * [[Dedup.skewGuardMetricPrefix]]). The default (1 M buckets ≈ 114
    * years of hourly silence) never fires on sane cadences. */
  def resampleFill(
      events: DataFrame, bucketSec: Long,
      maxGapBuckets: Long = 1000000L): DataFrame = {
    require(bucketSec > 0 && maxGapBuckets > 0)
    val agg = events
      .select(col("user_id"),
        expr(s"unix_millis(ts) div 1000 div ${bucketSec}L").as("h"),
        col("value"))
      .groupBy("user_id", "h")
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("tv"))
    // Gap fill WITHOUT a spine join: each observed bucket explodes into
    // itself plus the empty buckets up to (exclusive) the user's next
    // observed bucket, inheriting the carry-forward value computed over
    // the COMPACT bucket table. vs the spine-join formulation this
    // removes three exchanges (the spine's re-aggregation, the
    // (user_id, h) join, and the window re-shuffle) and runs the window
    // over observed buckets only — the filled spine, which can be 10-100×
    // wider than the data on sparse users, materializes map-side after
    // the last shuffle and never moves again. Measured at sf0.1:
    // 9.1 s → ~1.3 s, identical output.
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("h"))
    val w = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    agg
      .withColumn("filled_value", last(col("tv"), ignoreNulls = true).over(w))
      .withColumn("next_h", lead(col("h"), 1).over(byUser))
      .withColumn("fill_to",
        least(coalesce(col("next_h") - 1, col("h")), col("h") + maxGapBuckets))
      // no silent caps: clamped gaps are counted and observable
      .observe(s"graft_resample_clamp_${clampSeq.incrementAndGet()}",
        coalesce(sum(when(
          coalesce(col("next_h") - 1, col("h")) > col("h") + maxGapBuckets, 1L)),
          lit(0L)).as("clamped_gaps"))
      .select(col("user_id"), col("n"), col("tv"), col("filled_value"),
        col("h"),
        explode(sequence(col("h"), col("fill_to"))).as("h2"))
      .select(
        col("user_id"),
        date_format(timestamp_seconds(col("h2") * bucketSec),
          "yyyy-MM-dd HH:mm:ss").as("bucket_start"),
        when(col("h2") === col("h"), col("n")).otherwise(lit(0L)).as("n"),
        when(col("h2") === col("h"), coalesce(col("tv"), lit(0.0)))
          .otherwise(lit(0.0)).as("total_value"),
        col("filled_value"))
  }

  /** Cohort retention: users cohort by their first-activity day; each
    * (cohort day, day offset) cell counts distinct users active that
    * many days after joining — the classic retention triangle.
    *
    * Single-scan shape: the cohort day is a full-partition window min
    * over user_id (not a self-join against a first-day aggregate, which
    * would scan events twice), and the cell count's distinct-aggregate
    * reuses nothing heavier than (cohort, offset, user_id) triples.
    * Output: (cohort_day: 'yyyy-MM-dd', day_offset, n_active). */
  def retention(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    events
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .withColumn("cohort", min(col("d")).over(w))
      .groupBy(
        date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
        datediff(col("d"), col("cohort")).cast("long").as("day_offset"))
      .agg(count_distinct(col("user_id")).as("n_active"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Ordered-funnel analysis: for each user, the earliest strictly-
    * increasing completion chain through `steps` — t₁ = min ts of the
    * first step, tᵢ = min ts of step i AFTER tᵢ₋₁ — plus how many steps
    * completed. Every user with any event gets a row (uncompleted steps
    * are null).
    *
    * ONE exchange total: each step is a full-partition window min over
    * user_id — `min(when(type = step AND ms > t_{i-1}, ms))` — and the
    * chain's sequential dependency rides through k window passes over
    * the SAME partitioning, which the final per-user aggregate then
    * reuses. The join-chain formulation (step table per level,
    * re-joined on user) costs k extra shuffles and re-evaluates each
    * level's subtree per later level; this one scans events once.
    *
    * Output: (user_id, t1_ms…tk_ms, steps_completed). */
  def funnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val w = Window.partitionBy(col("user_id"))
    val base = events.select(
      col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
    val withSteps = steps.zipWithIndex.foldLeft(base) { case (df, (step, i)) =>
      val cond =
        if (i == 0) col("event_type") === step
        else col("event_type") === step && col("ms") > col(s"t${i}_ms")
      df.withColumn(s"t${i + 1}_ms", min(when(cond, col("ms"))).over(w))
    }
    // every row of a user carries identical tᵢ (full-partition windows),
    // so min() just collapses the duplicates — deterministically
    val firsts = steps.indices.map(i =>
      min(col(s"t${i + 1}_ms")).as(s"t${i + 1}_ms"))
    withSteps
      .groupBy("user_id") // same key as the windows: no second exchange
      .agg(firsts.head, firsts.tail: _*)
      .withColumn("steps_completed",
        steps.indices.map(i =>
          when(col(s"t${i + 1}_ms").isNotNull, 1L).otherwise(0L))
          .reduce(_ + _))
  }

  /** Conversion-lag readout: how long users take from their first
    * `fromType` event to their first subsequent `toType` event — the
    * latency half of the funnel story ([[funnel]] counts WHO converts;
    * this measures HOW FAST), reported as exact lag quantiles.
    *
    * Per user (one keyed aggregate): first `fromType` ts, first
    * `toType` ts; a user CONVERTS when both exist and the `toType`
    * first is not earlier. Lags are whole seconds of the
    * floor-to-second timestamps (exact integers — engine-portable
    * without any float discipline). Quantiles are exact data elements
    * via [[Relational.exactQuantiles]] (rank ⌈p·n⌉, the g6
    * discipline), NOT interpolation.
    *
    * 100 TB shape: one user-keyed conditional aggregate (map-side
    * combine), then exactQuantiles' range-bucketed selection over the
    * |converted users| lag table; counters ride the same aggregates;
    * final row assembled from 1-row broadcasts. When the per-user table
    * is small enough to broadcast ([[Checkpointing.toDriverIfSmall]])
    * each user's lag is collected once and the row is folded on the
    * driver with the same rank rule ([[Relational.pickQuantiles]]).
    *
    * Output: ONE row — (n_from_users, n_converted, p50_lag_s,
    * p90_lag_s, p99_lag_s); zero conversions → NULL quantiles (no lag
    * distribution exists), counts still reported. */
  def conversionLag(
      events: DataFrame,
      fromType: String = "click",
      toType: String = "purchase"): DataFrame = {
    val perPlan = events
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === fromType, col("ts"))).as("t_from"),
        min(when(col("event_type") === toType, col("ts"))).as("t_to"))
      .filter(col("t_from").isNotNull)
    val converts = col("t_to").isNotNull &&
      col("t_to").cast("long") >= col("t_from").cast("long")
    val lag = (col("t_to").cast("long") - col("t_from").cast("long")).as("lag_s")
    val ps = Seq(0.5, 0.9, 0.99)
    // small: one collect of each user's lag (null when the user did not
    // convert), counted and rank-picked on the driver
    Checkpointing.toDriverIfSmall(perPlan.select(when(converts, lag))) match {
      case Some(rows) =>
        val lags = rows.filterNot(_.isNullAt(0))
          .map(r => java.lang.Long.valueOf(r.getLong(0)): AnyRef)
        val picks =
          if (lags.isEmpty) ps.map(_ => null)
          else Relational.pickQuantiles(lags, LongType, ps)
        // sum() over no users is NULL, as the distributed aggregate's
        Relational.localFrame(events.sparkSession, StructType(Seq(
            StructField("n_from_users", LongType, nullable = false),
            StructField("n_converted", LongType),
            StructField("p50_lag_s", LongType),
            StructField("p90_lag_s", LongType),
            StructField("p99_lag_s", LongType))),
          Seq(Row.fromSeq(Seq(rows.length.toLong,
            if (rows.isEmpty) null else lags.length.toLong) ++ picks)))
      case None =>
        // r18b: cut the per-user firsts table — it feeds the counts
        // aggregate AND the lag table that exactQuantiles evaluates three
        // times (split sample, pass-1 collect, pass-2 pick), so uncut the
        // event scan + user shuffle ran ~4× per action. |users|×3
        // columns, never event rows.
        val per = Checkpointing.cut(perPlan)
        val lags = per.filter(converts).select(lag)
        val counts = per.agg(
          count(lit(1)).as("n_from_users"),
          sum(when(converts, 1L).otherwise(0L)).as("n_converted"))
        val q = Relational.exactQuantiles(
            lags, lit(0), col("lag_s"), ps)
          .select(col("p50").as("p50_lag_s"), col("p90").as("p90_lag_s"),
            col("p99").as("p99_lag_s"))
        // zero-conversion edge: exactQuantiles returns an EMPTY frame — a
        // left cross via a constant key keeps the counts row visible
        counts.withColumn("_k", lit(1))
          .join(broadcast(q.withColumn("_k", lit(1))), Seq("_k"), "left")
          .drop("_k")
    }
  }

  /** Top-k per group via ranked window — the distributed replacement for
    * the reference's client-side sort (ref backend/app.py:318-328). */
  def topKPerGroup(df: DataFrame, group: Column, rankBy: Seq[Column], k: Int): DataFrame =
    df.withColumn("rn", row_number().over(Window.partitionBy(group).orderBy(rankBy: _*)))
      .filter(col("rn") <= k)

  /** Peak-concurrency profile: treat each event as an INTERVAL
    * [ts, ts + value seconds) and report, per (event_type, day), the
    * maximum number of simultaneously-open intervals and the first
    * instant it is reached — the classic sweep-line ("how many
    * concurrent sessions at peak") computed declaratively: every
    * interval emits a +1 at its (clipped) start and a −1 at its end,
    * and a running sum over the partition's time-ordered deltas IS the
    * concurrency curve.
    *
    * Determinism: deltas order by (time, delta DESC, event_id) — all
    * arrivals at an instant count before any departure (closed-open
    * intervals that touch DO overlap for that instant... they do not:
    * [a,b) and [b,c) share no point, and the −1 at b sorts after the
    * +1 at b, briefly double-counting — so departures-first would be
    * the open-interval reading; we pick arrivals-first, the INCLUSIVE
    * reading, and the oracle replays the same total order).
    *
    * Scale shape: intervals clip to day boundaries map-side (an event
    * whose interval crosses midnight contributes to both days), so the
    * window partition key is (event_type, day) — cardinality grows
    * with the time range, never a small constant (the g6 lesson) — and
    * each partition sorts only its own day's deltas. */
  def concurrencyPeaks(events: DataFrame, maxDurSec: Long = 86400L): DataFrame = {
    require(maxDurSec > 0 && maxDurSec <= 86400L,
      s"maxDurSec must be in (0, 86400] (day-clip contract), got $maxDurSec")
    // start/end in epoch micros; duration = value seconds (clamped to
    // [1s, maxDurSec] — value is a payload metric, not sanitized time)
    val micros = unix_micros(col("ts"))
    val durUs = (least(greatest(col("value").cast("long"), lit(1L)),
      lit(maxDurSec)) * lit(1000000L))
    val spans = events.select(
      col("event_id"), col("event_type"),
      micros.as("start_us"), (micros + durUs).as("end_us"))
    // clip to day boundaries: one row per (event, covered day)
    val dayUs = 86400L * 1000000L
    val clipped = spans
      .withColumn("day_idx",
        explode(sequence(expr(s"start_us div ${dayUs}L"),
          expr(s"(end_us - 1) div ${dayUs}L"))))
      .select(col("event_id"), col("event_type"), col("day_idx"),
        greatest(col("start_us"), col("day_idx") * dayUs).as("s_us"),
        least(col("end_us"), (col("day_idx") + 1) * dayUs).as("e_us"))
    val deltas = clipped
      .select(col("event_type"), col("day_idx"), col("event_id"),
        col("s_us").as("t_us"), lit(1).as("delta"))
      .unionByName(clipped
        .select(col("event_type"), col("day_idx"), col("event_id"),
          col("e_us").as("t_us"), lit(-1).as("delta")))
    val w = Window.partitionBy("event_type", "day_idx")
      .orderBy(col("t_us"), col("delta").desc, col("event_id"))
    val wholePart = Window.partitionBy("event_type", "day_idx")
    deltas
      .withColumn("running", sum(col("delta")).over(w))
      .withColumn("peak", max(col("running")).over(wholePart))
      .filter(col("running") === col("peak"))
      .groupBy("event_type", "day_idx")
      .agg(
        max(col("peak")).cast("long").as("peak_concurrency"),
        min(col("t_us")).as("peak_at_us"))
      .select(col("event_type"),
        date_format(timestamp_micros(col("day_idx") * lit(dayUs)), "yyyy-MM-dd")
          .as("day"),
        col("peak_concurrency"),
        date_format(timestamp_micros(col("peak_at_us")), "yyyy-MM-dd HH:mm:ss")
          .as("peak_at"))
      .orderBy("event_type", "day")
  }

  /** Last-touch attribution: for every `target` event (a conversion),
    * the user's immediately-preceding event within `horizonSec` — the
    * "what drove this purchase" join every product-analytics stack
    * ships. Strictly-before semantics: a conversion never attributes
    * to itself or to a same-instant event with a higher event_id (the
    * (ts, event_id) total order decides simultaneity), and a
    * conversion with no prior event inside the horizon surfaces as
    * attributed_type null — "direct", not dropped.
    *
    * One lag() window per user — a single shuffle on the
    * high-cardinality user key, same discipline as [[sessionize]];
    * no self-join, no range join. */
  def lastTouchAttribution(
      events: DataFrame,
      target: String,
      horizonSec: Long = 3600L): DataFrame = {
    require(horizonSec > 0, s"horizonSec must be positive, got $horizonSec")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .filter(col("event_type") === target)
      .withColumn("gap_sec",
        expr("(unix_micros(ts) - unix_micros(prev_ts)) div 1000000"))
      .select(
        col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("converted_at"),
        when(col("gap_sec") <= horizonSec, col("prev_type"))
          .as("attributed_type"),
        when(col("gap_sec") <= horizonSec, col("gap_sec"))
          .as("seconds_before"))
  }

  /** Trailing z-score anomaly detection: each event's `value` scored
    * against the mean/stddev of the SAME USER's previous `lookback`
    * events (frame ends at 1 PRECEDING — the current value never
    * contaminates its own baseline, the leakage rule every online
    * anomaly detector must obey). Events with fewer than `minPrior`
    * prior observations score null (cold start is "unknown", not
    * "normal").
    *
    * Determinism: the frame sums accumulate DECIMAL(18,6) /
    * DECIMAL(28,12) (value and value², both exactly representable
    * after the one double multiply) — associative, so neither frame
    * evaluation order nor partitioning affects them — and mean,
    * sample variance ((Σx² − (Σx)²/n)/(n−1)) and z unwind in single
    * exactly-rounded double ops. Zero variance → null z (a constant
    * baseline cannot standardize a deviation).
    *
    * 100 TB shape: ONE shuffle on the high-cardinality user key, local
    * per-user sort, O(lookback) state per row — the same discipline as
    * [[sessionize]]; never a global window. */
  def trailingZScore(
      events: DataFrame,
      lookback: Int = 5,
      minPrior: Int = 3,
      flagAt: Double = 3.0): DataFrame = {
    require(lookback >= minPrior && minPrior >= 2,
      s"need lookback >= minPrior >= 2, got lookback=$lookback minPrior=$minPrior")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-lookback.toLong, -1L)
    // all three frame aggregates in ONE projection → one Window node,
    // one pass over each user's sorted run (separate withColumns
    // re-expand the window expression per reference — measured as three
    // stacked Window operators, 3× the frame work)
    val base = events.select(
      col("event_id"), col("user_id"), col("value"),
      count(lit(1)).over(w).as("n_prior"),
      sum(col("value").cast("decimal(18,6)")).over(w).cast("double").as("_sx"),
      sum((col("value") * col("value")).cast("decimal(28,12)")).over(w)
        .cast("double").as("_sxx"))
    val nD = col("n_prior").cast("double")
    val mean = col("_sx") / nD
    val variance = (col("_sxx") - col("_sx") * col("_sx") / nD) /
      (col("n_prior") - 1).cast("double")
    base
      .withColumn("trail_mean", round(mean, 6))
      .withColumn("z",
        when(col("n_prior") >= minPrior && variance > 0,
          round((col("value") - mean) / sqrt(variance), 6)))
      .withColumn("is_anomaly", coalesce(abs(col("z")) >= flagAt, lit(false)))
      .select(col("event_id"), col("user_id"), col("value"),
        col("n_prior"), col("trail_mean"), col("z"), col("is_anomaly"))
  }

  /** Market-basket pair support: treat each user's event history as a
    * SET of event types and count, for every unordered type pair, how
    * many users exhibit both — the co-occurrence complement of
    * [[sequenceNgrams]] (which demands adjacency and order). Top `k`
    * pairs with support ≥ `minSupport`, ties by (item_a, item_b).
    *
    * 100 TB shape: the per-basket distinct-item table shrinks each
    * basket to ≤ |item vocabulary| rows BEFORE the pair self-join, so
    * per-basket fan-out is bounded by |vocab|² regardless of event
    * volume (with an unbounded catalog you'd cap per-basket items
    * first — here the vocabulary is the event-type enum). One
    * basket-keyed self-join + one pair-keyed count, both map-side
    * partial; the top-k sorts the post-agg pair table. All integers.
    *
    * Output: (item_a, item_b, support). */
  def basketPairs(
      events: DataFrame,
      basket: Column,
      item: Column,
      minSupport: Long = 2L,
      k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val items = events.select(basket.as("b"), item.as("i")).distinct()
    val l = items.select(col("b"), col("i").as("item_a"))
    val r = items.select(col("b"), col("i").as("item_b"))
    l.join(r, Seq("b")).filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
      .orderBy(col("support").desc, col("item_a"), col("item_b"))
      .limit(k)
  }

  /** Behavioral n-gram mining: the `n` most recent consecutive
    * event_types inside each user's stream form a gram
    * ("view>click>purchase"); count every gram's occurrences and the
    * number of distinct users exhibiting it, keep the global top `k` —
    * the pattern-discovery step upstream of [[funnel]], which checks
    * ONE hypothesized sequence; this surfaces which sequences are worth
    * hypothesizing.
    *
    * Scale shape: grams come from `n−1` LEAD columns over the user-
    * keyed window (high-cardinality partition key — parallelism grows
    * with users; same total order (ts, event_id) as attribution), then
    * one gram-keyed aggregation with map-side partials. The top-k sort
    * runs on the POST-AGG gram table, whose cardinality is bounded by
    * |event_type|^n, not by event volume. All integers and strings —
    * no float discipline needed.
    *
    * Output: (gram, n_occ, n_users), ties broken by gram. */
  def sequenceNgrams(
      events: DataFrame,
      n: Int = 3,
      k: Int = 20): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    require(k >= 1, s"k must be >= 1, got $k")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val leads = (1 until n).map(d => lead(col("event_type"), d).over(w))
    events
      .select(col("user_id"),
        concat_ws(">", (col("event_type") +: leads): _*).as("gram"),
        leads.last.isNotNull.as("complete"))
      .filter(col("complete"))
      .groupBy("gram")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n_occ").desc, col("gram"))
      .limit(k)
  }

  /** Bounded-lag EWMA smoothing per key — the per-entity trend line a
    * monitoring pipeline draws through noisy point metrics (a user's
    * event values, a source's daily quality score) before thresholding
    * on it. The classic recursive EWMA (s_i = αx_i + (1−α)s_{i−1})
    * carries unbounded history and is NOT expressible as a replayable
    * bounded plan, so this is the standard truncated form at α = 1/2:
    * a trailing window of `lags`+1 observations with geometric weights
    * halving per step back. Rows with fewer than `lags` predecessors
    * are WARM-UP: they keep their row with ewma NULL (counted, never
    * dropped), the monitoring convention — a partially-warmed average
    * silently mixes baselines.
    *
    * α is FIXED at 1/2, and that is a determinism feature, not a
    * shortcut: the weights are emitted as the INTEGERS 2^(lags−j)
    * (mass Σ = 2^(lags+1) − 1, e.g. 511 at lags = 8), so each weighted
    * term x_j·2^k is an EXACT binary scaling (no rounding at all) that
    * stays a ≤6dp decimal, the numerator is an exact DECIMAL(28,6)
    * sum, and the readout quotient q = num/mass has, in 1e-6 ticks, a
    * rational value with ODD denominator ≤ 511 — it can never land
    * within 1/(2·511) ticks ≈ 1e-9 of a round(·,6) half-boundary, so
    * Spark's exact-expansion HALF_UP and a replaying engine's
    * scaled-double round CANNOT disagree (the tie flip a general-α
    * weight mass produced in testing: num/1.9921875 lands exactly ON
    * 6dp boundaries, and the two engines broke those ties apart).
    * Generalizing to rational α = p/q means integer weights
    * p^j·q^(lags−j) and the same odd-mass argument — add it when a
    * caller needs it.
    *
    * 100 TB shape: one shuffle keyed on the (high-cardinality) entity
    * key, then `lags`+1 bounded LAG reads over ONE window spec (one
    * sort, one pass — Spark collapses same-spec window functions);
    * no self-join, no spine, state per row is `lags`+1 values.
    *
    * Null values inside a full window poison that row's ewma to NULL
    * (visible, not interpolated) — on both engines, by letting the
    * NULL ride the decimal sum.
    *
    * Output: (k, ord, id, x, ewma) — input identity + the 6dp input +
    * the smoothed value (6dp; NULL on warm-up/poisoned rows), one row
    * per input row with non-null key/ord/id. */
  def ewmaSmooth(
      events: DataFrame,
      key: Column,
      ord: Column,
      id: Column, // tie-break: (ord, id) must totally order rows per key
      value: Column,
      lags: Int = 8): DataFrame = {
    require(lags >= 1 && lags <= 24, s"lags must be in [1,24], got $lags")
    val w = Window.partitionBy("k").orderBy(col("ord"), col("id"))
    val base = events.select(key.as("k"), ord.as("ord"), id.as("id"),
      round(value.cast("double"), 6).as("x"))
      .filter(col("k").isNotNull && col("ord").isNotNull && col("id").isNotNull)
    val mass = (1L << (lags + 1)) - 1 // Σ 2^(lags−j), j = 0..lags — odd
    val num = (0 to lags).map { j =>
      val xj = if (j == 0) col("x") else lag(col("x"), j).over(w)
      // ×2^(lags−j): exact binary scaling of a ≤6dp decimal — round is
      // a documented no-op kept for the oracle's textual symmetry
      round(xj * lit((1L << (lags - j)).toDouble), 6).cast("decimal(28,6)")
    }.reduce(_ + _)
    base.select(col("k"), col("ord"), col("id"), col("x"),
      round(num.cast("double") / lit(mass.toDouble), 6).as("ewma"))
  }

  /** Per-type INTER-ARRIVAL cadence profile: floor-second gaps
    * between consecutive events of each type (arrival process, not
    * per-user — [[sessionStats]] owns the user view) with exact
    * p50/p90/p99. The feed-health baseline: a p99 gap that doubles
    * means the upstream producer is stuttering long before the daily
    * count moves, and the p50 IS the type's native cadence for
    * freshness SLOs.
    *
    * Determinism: gaps are exact integer seconds (floor of a
    * millisecond difference) over the (ts, event_id) total order;
    * quantiles are [[Relational.exactQuantiles]] rank picks — exact
    * elements, engine-replayable, never interpolation.
    *
    * 100 TB shape: the lag runs in (type, DAY) windows — parallelism
    * is types × days, not types — and the one cross-day gap per
    * (type, day) is stitched from a calendar-bounded boundary table
    * (per-day last arrival, lagged over the tiny types × days spine
    * and broadcast back). A plain type-partitioned window funnels
    * each type through ONE task: forked min-of-3 at the 104× replica
    * 60.7 s → 15.5 s (3.9×; 26×: 12.8 → 10.0 s —
    * bench/bench_r15_newops_104x vs bench/interarrival_fix_104x) —
    * identical output, the oracle pins it. Then exactQuantiles'
    * range-bucketed selection.
    *
    * Output: (group_key, n_gaps, p50, p90, p99), one row per type
    * with ≥ 1 gap, ordered by group_key. */
  def interarrivalStats(events: DataFrame): DataFrame = {
    val base = events
      .filter(col("event_type").isNotNull && col("ts").isNotNull &&
        col("event_id").isNotNull)
      .select(col("event_type"), col("ts"), col("event_id"),
        unix_millis(col("ts")).as("ms"), dayIndex(col("ts")).as("di"))
    val wDay = Window.partitionBy("event_type", "di")
      .orderBy(col("ts"), col("event_id"))
    // per-(type, day) boundary: the day's LAST arrival in the same
    // (ts, event_id) total order, lagged one day forward on the
    // calendar-bounded spine so each day's FIRST row can close the
    // cross-midnight gap
    val bounds = base.groupBy("event_type", "di")
      .agg(max(struct(col("ts"), col("event_id"), col("ms"))).as("last"))
      .select(col("event_type"), col("di"),
        lag(col("last.ms"), 1).over(
          Window.partitionBy("event_type").orderBy("di")).as("prev_last_ms"))
    val gaps = base
      .withColumn("prev_ms", lag("ms", 1).over(wDay))
      .withColumn("rn", row_number().over(wDay))
      .join(broadcast(bounds), Seq("event_type", "di"))
      .withColumn("gap",
        ((col("ms") - when(col("rn") === 1, col("prev_last_ms"))
          .otherwise(col("prev_ms"))) / lit(1000L)).cast("long"))
      .filter(col("gap").isNotNull)
    // n_gaps rides exactQuantiles' own pass-1 count fold (emitN) — the
    // old separate count(*) aggregate + join re-evaluated the whole
    // two-window gaps lineage once more for a number the selection pass
    // had already computed.
    Relational.exactQuantiles(
      gaps, col("event_type"), col("gap"), Seq(0.5, 0.9, 0.99),
      emitN = true)
      .select(col("group_key"), col("n").as("n_gaps"),
        col("p50").cast("long").as("p50"),
        col("p90").cast("long").as("p90"),
        col("p99").cast("long").as("p99"))
      .orderBy("group_key")
  }

  /** (user_id, di) for every event with a user and a timestamp: the
    * per-user day rows the activity family counts or deduplicates. */
  private def eventDays(events: DataFrame): DataFrame =
    events.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), dayIndex(col("ts")).as("di"))

  /** Per-day ACTIVITY CONCENTRATION — is today's volume real, or one
    * account? Per day: the Herfindahl index of per-user event shares,
    * its inverse (the EFFECTIVE number of equally-active users — 500
    * events from 50 balanced users reads eff≈50; the same 500 from
    * one bot reads eff≈1), and the top user's share. The bot/spam
    * volume gate a plain daily count can't see, and per-day so it
    * composes with [[Drift.weekdayAnomaly]]'s calendar.
    *
    * Determinism: HHI = Σc_u² / N² in exact integers — per-user
    * counts square into DECIMAL(19,0) products (the mannWhitney
    * overflow discipline: c ~ 3·10⁹ squares past Long), summed in
    * DECIMAL(38,0); eff/top/hhi are single IEEE divides, 6dp.
    *
    * 100 TB shape: one (day, user) aggregate with map-side partials,
    * one day-keyed fold — nothing scales past the first aggregate.
    *
    * Output: (di, n_events, n_users, top_share, hhi, eff_users), one
    * row per active day, ordered by di. */
  def activityConcentration(events: DataFrame): DataFrame = {
    val perUser = eventDays(events)
      .groupBy("di", "user_id")
      .agg(count(lit(1)).as("c"))
    perUser.groupBy("di").agg(
      sum("c").cast("long").as("n_events"),
      count(lit(1)).as("n_users"),
      max("c").cast("long").as("top_c"),
      sum(col("c").cast("decimal(19,0)") * col("c").cast("decimal(19,0)"))
        .as("sq"))
      .select(col("di"), col("n_events"), col("n_users"),
        round(col("top_c").cast("double") /
          col("n_events").cast("double"), 6).as("top_share"),
        round(col("sq").cast("double") /
          (col("n_events").cast("double") * col("n_events").cast("double")),
          6).as("hhi"),
        round(col("n_events").cast("double") *
          col("n_events").cast("double") / col("sq").cast("double"), 6)
          .as("eff_users"))
      .orderBy("di")
  }

  /** Activity-curve KNEE (the Kneedle construction, Satopaa et al.
    * '11, on the rank–cumulative-share curve): users sorted by event
    * count descending; the knee is the rank maximizing
    * cum_share(r) − r/U — the point where adding more users stops
    * buying coverage. THE principled cutoff for "core user" sets,
    * cache sizing, and how deep a curation pass should mine an
    * interaction log (the same curve a working-set analysis draws).
    *
    * Determinism: the curve's inputs are exact integers (cumulative
    * event counts in a rank window, rank, totals); the gap is one
    * IEEE chain on them, computed identically by the oracle; the
    * argmax tie-breaks to the EARLIEST rank. Ties inside the count
    * sort break by user_id (the repo's total-order rule).
    *
    * 100 TB shape [r18]: the per-user curve COLLAPSES to per-distinct-
    * count blocks before any ranking. Within a block of equal count c,
    * consecutive gaps differ by exactly c/n − 1/u, so the gap is
    * monotone inside the block (direction = sign of c·u − n; exactly 0
    * ⇒ constant) and the block's argmax is an ENDPOINT; the global
    * argmax is therefore attained among the 2|blocks| endpoints. The
    * output carries no user_id and the curve is invariant to
    * within-block user order (ties share c), so the collapsed compute
    * is value-identical — each endpoint's (rank, cum) are the same
    * exact longs, fed to the same double expression. (IEEE caveat: if
    * n·u grew past ~1e15/|c·u − n| the per-row rounding could in
    * principle reorder near-equal gaps an endpoint argmax cannot see;
    * at the verified SFs the margin is ≥4 orders of magnitude, and the
    * r17 per-user shape had its own equivalent last-ulp exposure.)
    * Rank/prefix machinery ([[Relational.bucketedGlobalRank]], exact
    * long prefix sums) now runs over |distinct counts| rows — a
    * hundreds-row table even at 100 TB — instead of |users|; the event
    * log is scanned once, the user table aggregated once, and the big
    * localCheckpoint of the r17 shape (every user row) shrinks to the
    * tiny block table. `maxUsers` survives as the same spine-checked
    * data-contract backstop (now against the block table's user
    * total), default unbounded. The argmax is a top-1 over ~2|blocks|
    * rows (per-partition heads, merged).
    *
    * Output: ONE row — (n_users, n_events, knee_rank, knee_user_pct
    * 6dp, knee_cum_share 6dp, max_gap 6dp). */
  def activityKnee(
      events: DataFrame, maxUsers: Long = Long.MaxValue): DataFrame = {
    val units = events
      .filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("c"))
    val blocks = units.groupBy("c")
      .agg(count(lit(1)).as("bu"), sum("c").as("bn"))
    // materialize=true: blocks is tiny but carries the full event-log
    // aggregation lineage — re-running it per rank pass is the wrong
    // side of the re-scan trade (bucketedGlobalRank scaladoc)
    val ranked = Relational.bucketedGlobalRank(blocks, "c",
      descending = true, tieBreaks = Nil, cumSums = Seq("bu", "bn"),
      op = "activityKnee", materialize = true)
    // maxUsers backstop: same contract and message as the r17 per-user
    // spine check, now validated against the blocks' user total
    val guarded = ranked.withColumn("_guard_ok",
      when(col("_tot_bu") <= maxUsers, lit(1)).otherwise(raise_error(concat(
        lit("activityKnee: "), col("_tot_bu").cast("string"),
        lit(s" rows exceed maxUsers=$maxUsers — a data-contract" +
          " backstop (the range-bucketed rank itself is scale-safe);" +
          " raise maxUsers deliberately if the population is" +
          " expected to be this large.")))))
      .filter(col("_guard_ok") === 1)
    // both endpoints of every block: (first user rank, cum events at
    // it) and (last user rank, cum events at it); bu == 1 blocks emit
    // the same endpoint twice, harmlessly (same gap, same rank)
    val curve = guarded.select(
      col("_tot_bu").as("u"), col("_tot_bn").as("n"),
      explode(array(
        struct((col("bu_cum") - col("bu") + lit(1L)).as("r"),
          (col("bn_cum") - col("bn") + col("c")).as("cum")),
        struct(col("bu_cum").as("r"), col("bn_cum").as("cum")))).as("e"))
      .select(col("u"), col("n"),
        col("e.r").cast("long").as("r"), col("e.cum").as("cum"))
      .withColumn("gap",
        col("cum").cast("double") / col("n").cast("double") -
          col("r").cast("double") / col("u").cast("double"))
    curve
      .orderBy(col("gap").desc, col("r"))
      .limit(1)
      .select(col("u").cast("long").as("n_users"),
        col("n").cast("long").as("n_events"),
        col("r").as("knee_rank"),
        round(col("r").cast("double") / col("u").cast("double"), 6)
          .as("knee_user_pct"),
        round(col("cum").cast("double") / col("n").cast("double"), 6)
          .as("knee_cum_share"),
        round(col("gap"), 6).as("max_gap"))
  }

  /** Cohort LTV triangle — [[retention]]'s revenue twin: retention
    * counts WHO comes back per (first-day cohort, day offset); this
    * accumulates WHAT they are worth — per-offset revenue and the
    * running cumulative value PER COHORT MEMBER, the curve whose
    * asymptote is the cohort's lifetime value and whose day-k reads
    * feed payback-period decisions. Divided by the FULL cohort size
    * (not that day's actives): the standard convention, so churned
    * members drag the average — that is the point.
    *
    * Determinism: revenue accumulates as exact DECIMAL(18,6) sums
    * (null values contribute 0, rows still count as activity); the
    * cumulative sum runs over the SAME decimals (order-free); one
    * IEEE divide per cell, 6dp.
    *
    * 100 TB shape: one user-partitioned window pins each user's
    * cohort (the [[retention]] shape), one (cohort, offset) aggregate
    * with map-side partials, then a cumulative window partitioned by
    * cohort over its calendar-bounded offsets.
    *
    * Output: (cohort_day, day_offset, cohort_size, n_active, revenue
    * 6dp, cum_ltv 6dp), ordered (cohort_day, day_offset). */
  def cohortLtv(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val base = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"),
        coalesce(round(col("value"), 6).cast("decimal(18,6)"),
          lit(0).cast("decimal(18,6)")).as("v"))
      .withColumn("cohort", min(col("d")).over(w))
    val sizes = base
      .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"))
      .agg(count_distinct(col("user_id")).as("cohort_size"))
    val cells = base
      .groupBy(
        date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
        datediff(col("d"), col("cohort")).cast("long").as("day_offset"))
      .agg(
        count_distinct(col("user_id")).as("n_active"),
        sum(col("v")).as("rev"))
    val cum = Window.partitionBy("cohort_day").orderBy("day_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .join(broadcast(sizes), Seq("cohort_day"))
      .withColumn("cum_rev", sum("rev").over(cum)) // exact decimal fold
      .select(col("cohort_day"), col("day_offset"), col("cohort_size"),
        col("n_active"),
        col("rev").cast("double").as("revenue"),
        round(col("cum_rev").cast("double") /
          col("cohort_size").cast("double"), 6).as("cum_ltv"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Longest consecutive-day activity streaks per user — the classic
    * gaps-and-islands readout (di − row_number() is constant within a
    * run of consecutive days): engagement depth that plain activity
    * counts hide (60 scattered active days and a 60-day streak are
    * different users), and for interaction-log curation the "sustained
    * usage" signal a fine-tuning mix can weight by.
    *
    * `ending_streak` is the island containing the user's LAST active
    * day — "how long had they been active when last seen" (anchor-free
    * and therefore deterministic; calling it "current" would smuggle
    * in a wall clock).
    *
    * 100 TB shape: the event log collapses to distinct (user, day) in
    * one aggregate; the island window partitions BY USER over ≤ |days|
    * rows each — one exchange, no spine, no self-join. All integers.
    *
    * Output: (user_id, n_active_days, n_streaks, longest_streak,
    * ending_streak), ordered by user_id. */
  def activityStreaks(events: DataFrame): DataFrame = {
    val userDays = eventDays(events).distinct()
    val w = Window.partitionBy("user_id").orderBy("di")
    val islands = userDays
      .withColumn("island", col("di") - row_number().over(w))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("len"), max("di").as("last_di"))
    val wu = Window.partitionBy("user_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    islands
      .withColumn("user_last", max("last_di").over(wu))
      .groupBy("user_id")
      .agg(
        sum("len").cast("long").as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max("len").cast("long").as("longest_streak"),
        max(when(col("last_di") === col("user_last"), col("len")))
          .cast("long").as("ending_streak"))
      .orderBy("user_id")
  }

  /** Daily GROWTH ACCOUNTING (the Social-Capital decomposition):
    * every day's active users split into new (first day ever),
    * retained (also active yesterday) and resurrected (seen before,
    * not yesterday), plus the day's churned (active yesterday, not
    * today) — the identity active(d) = new + retained + resurrected
    * and the balance active(d) − active(d−1) = new + resurrected −
    * churned hold row-by-row, which is what makes the readout an
    * accounting rather than a dashboard of unrelated counts.
    *
    * Day 0 of the observed range reports churned = 0 by construction
    * (no "yesterday" inside the window); churn on the day AFTER the
    * range's last day is out of frame. Missing interior days appear
    * with all-zero inflows and the previous day's full churn — a dead
    * day is real data (the [[Drift.seasonalDecompose]] spine rule).
    *
    * 100 TB shape: distinct (user, day) in one aggregate, a per-user
    * lag window (one exchange), then a day-keyed count collapse onto
    * the broadcast calendar spine. Churn is the same lag read from
    * the other side (next_di), never an anti-join of day snapshots.
    * All exact integers.
    *
    * Output: (di, n_active, n_new, n_retained, n_resurrected,
    * n_churned), one row per day in the observed range. */
  def growthAccounting(events: DataFrame): DataFrame = {
    val userDays = eventDays(events).distinct()
    val w = Window.partitionBy("user_id").orderBy("di")
    val lagged = userDays
      .withColumn("prev_di", lag("di", 1).over(w))
      .withColumn("next_di", lead("di", 1).over(w))
    val inflow = lagged.groupBy("di").agg(
      count(lit(1)).as("n_active"),
      sum(when(col("prev_di").isNull, 1L).otherwise(0L)).as("n_new"),
      sum(when(col("prev_di") === col("di") - 1, 1L).otherwise(0L))
        .as("n_retained"),
      sum(when(col("prev_di").isNotNull && col("prev_di") < col("di") - 1,
        1L).otherwise(0L)).as("n_resurrected"))
    // a user active at di churns at di+1 when the next active day is
    // not di+1 (or never comes)
    val churn = lagged
      .filter(col("next_di").isNull || col("next_di") > col("di") + 1)
      .select((col("di") + 1).as("di"))
      .groupBy("di").agg(count(lit(1)).as("n_churned"))
    val spine = userDays.agg(min("di").as("lo"), max("di").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("di"))
    spine
      .join(inflow, Seq("di"), "left")
      .join(churn, Seq("di"), "left")
      .select(col("di"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy("di")
  }

  /** DAU/WAU/MAU engagement with the DAU/MAU stickiness ratio —
    * computed as a SWEEP LINE, not a window-distinct: a user's day
    * set D contributes to wau(d) exactly on ∪_{t∈D} [t, t+6], so the
    * per-user days merge into disjoint coverage segments (gaps-and-
    * islands with reach 6: a new segment starts when the gap exceeds
    * the window), each segment emits +1/−1 boundary deltas, and a
    * running sum over the day spine IS the sliding distinct count —
    * the [[concurrencyPeaks]] trick pointed at "distinct users in the
    * last k days".
    *
    * Why not count(distinct) over a range window: engines disagree on
    * (and mostly refuse) DISTINCT in windows, and the naive
    * spine×user-days range join shuffles |days|·avg-DAU rows. The
    * sweep line shuffles one delta pair per user SEGMENT (≤ one per
    * user-day, usually far fewer), and the only ordered pass is over
    * the calendar-bounded spine.
    *
    * Determinism: pure integers until the one stickiness divide, 6dp
    * (NULL on a 28-day-dead stretch, never 0/0). Trailing windows
    * clip at the range end; days before the first activity don't
    * exist (the spine starts at min di).
    *
    * The (user, day) working set feeds FOUR consumers (bounds + the
    * three coverage reaches) and is re-scanned by each, never cut:
    * re-scan won at every probe scale (bench/stickiness_persist_receipt_r15.txt).
    *
    * Output: (di, dau, wau, mau, stickiness = dau/mau 6dp), one row
    * per observed-range day. */
  def stickiness(events: DataFrame): DataFrame = {
    val userDays = eventDays(events).distinct()
    val bounds = userDays.agg(min("di").as("lo"), max("di").as("hi"))
    val spine = bounds
      .select(explode(sequence(col("lo"), col("hi"))).as("di"))
    val wSpine = Window.orderBy("di")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // coverage counter for a trailing window reaching `reach` days
    // past each active day: merge per-user days into disjoint
    // segments, emit +1/−1 boundary deltas, running-sum on the spine
    def coverage(reach: Int, name: String): DataFrame = {
      val w = Window.partitionBy("user_id").orderBy("di")
      val seg = userDays
        .withColumn("new_seg",
          when(col("di") - lag("di", 1).over(w) <= reach, 0).otherwise(1))
        .withColumn("seg_id", sum("new_seg").over(
          Window.partitionBy("user_id").orderBy("di")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "seg_id")
        .agg(min("di").as("from_di"), (max("di") + reach).as("to_di"))
        .crossJoin(broadcast(bounds))
      val plus = seg.select(col("from_di").as("di"), lit(1L).as("d"))
      val minus = seg
        .filter(least(col("to_di"), col("hi")) + 1 <= col("hi"))
        .select((least(col("to_di"), col("hi")) + 1).as("di"),
          lit(-1L).as("d"))
      plus.unionByName(minus)
        .groupBy("di").agg(sum("d").as("dd"))
        .select(col("di"), col("dd"))
        .join(spine, Seq("di"), "right")
        .select(col("di"), coalesce(col("dd"), lit(0L)).as("dd"))
        .withColumn(name, sum("dd").over(wSpine))
        .drop("dd")
    }
    coverage(0, "dau")
      .join(coverage(6, "wau"), Seq("di"))
      .join(coverage(27, "mau"), Seq("di"))
      .select(col("di"), col("dau"), col("wau"), col("mau"),
        round(when(col("mau") > 0,
          col("dau").cast("double") / col("mau").cast("double")), 6)
          .as("stickiness"))
      .orderBy("di")
  }

  /** RFM segmentation (the classic recency/frequency/monetary
    * customer-value grid of direct-marketing practice, Hughes '94):
    * every user scored 1–5 on how RECENTLY they acted, how OFTEN, and
    * how much VALUE they generated — quintiles over the user base, so
    * the scores are relative to the population by construction — then
    * mapped to the standard action segments (champion / at_risk /
    * new_user / hibernating / regular; cut points are the classic
    * 5-tile grid — top two tiles vs bottom two — so pass tiles ≥ 4
    * or the bands overlap). The curation use: "champions"
    * of an interaction log are the high-signal users whose data a
    * fine-tuning mix overweights, "hibernating" the stale tail it
    * drops.
    *
    * Determinism: recency is exact integer days before the table's
    * own max(ts) anchor (anchor-stable, no wall clock — the
    * [[freshnessDecay]] rule); monetary is an exact DECIMAL(18,6) sum
    * (NULL-free: an all-NULL user coalesces to 0); every NTILE order
    * carries the user_id tie-break (both engines define NTILE
    * identically: earlier buckets take the remainder rows).
    *
    * 100 TB shape [r17]: the event log collapses to one row per user
    * in a single map-side-partial aggregate; each NTILE then computes
    * from an exact RANGE-BUCKETED global rank
    * ([[Relational.bucketedGlobalRank]] — sampled split points,
    * per-bucket windows, exact count offsets from the tiny spine) via
    * [[Relational.ntileFromRank]] (tile is a pure integer function of
    * (rank, U)), so parallelism is the bucket count, never one task.
    * Scores are bit-identical to the three unpartitioned ntile windows
    * this replaces (r16 and earlier, which ran under a 10M-user
    * guard); `maxUsers` survives as a data-contract backstop riding
    * the offset spine, default unbounded.
    *
    * Output: (user_id, days_since, n_events, monetary, r_score,
    * f_score, m_score, segment), ordered by user_id. */
  def rfmSegments(
      events: DataFrame, tiles: Int = 5,
      maxUsers: Long = Long.MaxValue): DataFrame = {
    require(tiles >= 2 && tiles <= 10, s"tiles must be in [2,10], got $tiles")
    val anchor = events.agg(max(unix_millis(col("ts"))).as("anchor_ms"))
    val units = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .crossJoin(broadcast(anchor))
      .groupBy("user_id")
      .agg(
        ((max(col("anchor_ms")) - max(unix_millis(col("ts")))) /
          lit(86400000L)).cast("long").as("days_since"),
        count(lit(1)).as("n_events"),
        coalesce(sum(round(col("value"), 6).cast("decimal(18,6)")),
          lit(0).cast("decimal(18,6)")).as("monetary"))
    // three exact global ranks over the SHARED materialized user table
    // (Relational.multiRanked: checkpoint once, rank independently,
    // id-join — never chained, which multiplies input evaluations 3ⁿ);
    // U comes off the rank spine for free (_n_tot)
    val rankedUnits = Relational.multiRanked(units, "user_id",
      Seq(("days_since", true, "_r_rank"),
        ("n_events", false, "_f_rank"),
        ("monetary", false, "_m_rank")),
      budget = maxUsers, op = "rfmSegments", budgetName = "maxUsers")
    val hi = tiles - 1 // >= hi is "top", <= tiles-hi+... keep 4/2 for 5
    val scored = rankedUnits
      .withColumn("r_score",
        Relational.ntileFromRank(col("_r_rank"), col("_n_tot"), tiles))
      .withColumn("f_score",
        Relational.ntileFromRank(col("_f_rank"), col("_n_tot"), tiles))
      .withColumn("m_score",
        Relational.ntileFromRank(col("_m_rank"), col("_n_tot"), tiles))
    scored
      .withColumn("segment",
        when(col("r_score") >= hi && col("f_score") >= hi &&
          col("m_score") >= hi, "champion")
          .when(col("r_score") <= 2 && col("f_score") >= hi, "at_risk")
          .when(col("r_score") >= hi && col("f_score") <= 2, "new_user")
          .when(col("r_score") <= 2 && col("f_score") <= 2, "hibernating")
          .otherwise("regular"))
      .select(col("user_id"), col("days_since"), col("n_events"),
        col("monetary").cast("double").as("monetary"),
        col("r_score").cast("long").as("r_score"),
        col("f_score").cast("long").as("f_score"),
        col("m_score").cast("long").as("m_score"),
        col("segment"))
      .orderBy("user_id")
  }

  /** First-order Markov transition matrix over per-user event
    * sequences: P(next = b | current = a) with exact bigram counts —
    * the behavioral-model readout next to [[sequenceNgrams]]'s
    * per-user top-k patterns: this is the GLOBAL row-normalized
    * matrix (simulation / next-event prediction / anomaly scoring
    * input), not a pattern mine.
    *
    * Sequence order is (ts, event_id) per user — the repo's total
    * tie-break discipline (same-millisecond events are real at scale;
    * an under-specified sort is nondeterministic shuffle order, the
    * FIXTURES gotcha). Transitions never cross users. n_from sums the
    * OUTGOING transitions of a state (so rows of P sum to 1 exactly;
    * a user's last event emits no transition — absorbing-tail
    * convention).
    *
    * 100 TB shape: one user-partitioned window lag (the [[sessionStats]]
    * exchange), then a map-side-collapsing count to ≤ |types|² cells;
    * the row totals are a window over the cell table, not a second
    * scan. Exact integers; one IEEE divide, 6dp.
    *
    * Output: (from_type, to_type, n_ab, n_from, p 6dp), observed
    * cells only, ordered (from_type, to_type). */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
    val cells = pairs
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n_ab"))
    val wRow = Window.partitionBy("from_type")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cells
      .withColumn("n_from", sum("n_ab").over(wRow))
      .withColumn("p",
        round(col("n_ab").cast("double") / col("n_from").cast("double"), 6))
      .orderBy("from_type", "to_type")
  }

  /** Kaplan–Meier product-limit survival estimate (Kaplan & Meier '58)
    * for time-to-first TARGET event with right-censoring — the
    * time-to-value readout [[retention]] cannot give: retention counts
    * who is still around per offset, KM estimates WHEN the target
    * happens while handling users who never reach it (censored at
    * last-seen, not silently dropped or counted as failures — either
    * of which biases the curve, the reason KM exists).
    *
    * Per user: origin = first event day, duration = days to the first
    * `target` event (observed) or to the last-seen day (censored).
    * Life table over distinct durations t_i: n_i (at risk = users with
    * duration ≥ t_i), d_i (observed at t_i), c_i (censored at t_i);
    * S(t) = Π_{t_i ≤ t} (1 − d_i/n_i).
    *
    * Determinism: each factor's ln(1 − d_i/n_i) is quantized to
    * DECIMAL(18,6) BEFORE the cumulative sum (the
    * [[graft.operators.TfIdf.unigramLogProb]] xsum discipline — the
    * decimal sum is exact and order-independent; libm's last-ulp ln
    * skew dies in the quantization), exp at the end, 6dp. A d_i = n_i
    * row (everyone left fails — only possible at the last timepoint,
    * since the risk set empties) yields S = 0 exactly, no ln(0).
    *
    * 100 TB shape: events collapse to ONE row per user (two
    * conditional min/max aggregates in one pass), the life table to
    * ≤ |distinct durations| rows — calendar-bounded, so the ordered
    * windows run over a bounded spine, never over users. The
    * observation-window end rides a 1-row broadcast.
    *
    * Output: one row per distinct duration — (t_days, n_risk,
    * d_events, c_censored, s_km 6dp), ordered by t_days. */
  def kaplanMeier(
      events: DataFrame, target: Column): DataFrame = {
    val upto = Window.orderBy("t_days")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lifeTable(events, target)
      .withColumn("ln_term",
        when(col("d_events") < col("n_risk"),
          log(lit(1.0) - col("d_events").cast("double") /
            col("n_risk").cast("double")).cast("decimal(18,6)"))
          .otherwise(lit(null).cast("decimal(18,6)")))
      .withColumn("s_km",
        when(max(when(col("d_events") === col("n_risk"), 1).otherwise(0))
          .over(upto) === 1, lit(0.0))
          .otherwise(round(
            exp(coalesce(sum(col("ln_term")).over(upto),
              lit(0).cast("decimal(18,6)")).cast("double")), 6)))
      .select("t_days", "n_risk", "d_events", "c_censored", "s_km")
      .orderBy("t_days")
  }

  /** Shared per-user duration collapse of the survival family
    * ([[kaplanMeier]] / [[nelsonAalen]] / [[logrank]]): origin = first
    * event day, duration = days to the first `target` event (observed)
    * or to the last-seen day (right-censored). One conditional-min/max
    * aggregate pass — a billion events per user fold map-side. */
  private def survivalDurations(
      events: DataFrame, target: Column): DataFrame =
    events
      .select(col("user_id"), to_date(col("ts")).as("d"), target.as("hit"))
      .filter(col("user_id").isNotNull && col("d").isNotNull)
      .groupBy("user_id")
      .agg(
        min(col("d")).as("first_d"),
        max(col("d")).as("last_d"),
        min(when(col("hit"), col("d"))).as("event_d"))
      .select(col("user_id"),
        when(col("event_d").isNotNull,
          datediff(col("event_d"), col("first_d")))
          .otherwise(datediff(col("last_d"), col("first_d")))
          .cast("long").as("t_days"),
        col("event_d").isNotNull.as("observed"))

  /** The right-censored life table [[kaplanMeier]] and [[nelsonAalen]]
    * read: per distinct duration t_days, the observed `d_events`, the
    * censored `c_censored` and `n_risk`, the users whose duration is
    * ≥ t_days (all users minus those that left at an earlier
    * duration). */
  private def lifeTable(events: DataFrame, target: Column): DataFrame = {
    val ord = Window.orderBy("t_days")
    survivalDurations(events, target)
      .groupBy("t_days")
      .agg(
        sum(when(col("observed"), 1L).otherwise(0L)).as("d_events"),
        sum(when(col("observed"), 0L).otherwise(1L)).as("c_censored"))
      .withColumn("n_risk",
        sum(col("d_events") + col("c_censored")).over(
          ord.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)) -
          coalesce(sum(col("d_events") + col("c_censored")).over(
            ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
  }

  /** Nelson–Aalen cumulative-hazard estimate (Nelson '72, Aalen '78)
    * over the same right-censored life table as [[kaplanMeier]]:
    * H(t) = Σ_{t_i ≤ t} d_i/n_i. The additive twin of KM's product —
    * preferred when hazard INCREMENTS are the readout (a per-day
    * conversion-pressure curve; its slope change is where the offer
    * email landed) and the standard input to crude hazard-ratio reads
    * between snapshots. Includes the classical variance estimate
    * Σ d_i/n_i² for a dashboard's confidence band.
    *
    * Determinism: each d_i/n_i (and d_i/n_i²) quantizes to
    * DECIMAL(18,6) before the exact cumulative decimal sum — the KM
    * ln-term discipline, without the exp (H is already additive).
    *
    * 100 TB shape: identical to [[kaplanMeier]] — one per-user
    * collapse, a calendar-bounded life table, ordered windows over
    * that spine only.
    *
    * Output: one row per distinct duration — (t_days, n_risk,
    * d_events, c_censored, h_na 6dp, var_na 6dp), ordered by t_days. */
  def nelsonAalen(events: DataFrame, target: Column): DataFrame = {
    val upto = Window.orderBy("t_days")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lifeTable(events, target)
      .withColumn("h_term",
        (col("d_events").cast("double") / col("n_risk").cast("double"))
          .cast("decimal(18,6)"))
      .withColumn("v_term",
        (col("d_events").cast("double") /
          (col("n_risk").cast("double") * col("n_risk").cast("double")))
          .cast("decimal(18,6)"))
      .select(col("t_days"), col("n_risk"), col("d_events"),
        col("c_censored"),
        round(sum("h_term").over(upto).cast("double"), 6).as("h_na"),
        round(sum("v_term").over(upto).cast("double"), 6).as("var_na"))
      .orderBy("t_days")
  }

  /** Two-sample LOG-RANK test (Mantel '66) on the time-to-target
    * split by `treat` — did the treatment arm reach the target FASTER,
    * accounting for right-censoring? The survival counterpart of
    * [[graft.operators.Experiment.abTest]]'s final-rate z: a treatment
    * that accelerates conversion without changing the eventual rate is
    * invisible to the rate test and loud here. At each pooled event
    * time t_i with n_i at risk (n1_i in treatment) and d_i events
    * (d1_i in treatment):
    *
    *   E1_i = d_i·n1_i/n_i
    *   V_i  = d_i·(n1_i/n_i)·(1−n1_i/n_i)·(n_i−d_i)/(n_i−1)
    *   χ²   = (Σ(d1_i − E1_i))² / ΣV_i   (~χ²₁ under H0)
    *
    * `treat` must be constant per user (an assignment hash, a cohort
    * flag); rows are collapsed to one user first, taking the user's
    * max — mixed assignments surface as treat, never a crash.
    *
    * Determinism: per-time (d1−E1) and V terms quantize to
    * DECIMAL(18,6) before the order-free exact sums; the one final
    * divide is IEEE, 6dp. V_i's n_i = 1 singularity is an exact-zero
    * term (its d_i ∈ {0,1} carries no between-arm information).
    *
    * 100 TB shape: the [[kaplanMeier]] profile — one per-user
    * collapse, one calendar-bounded life table with two extra
    * conditional sums, windows over the duration spine only.
    *
    * Output: one row — (n_treat, n_control, d_treat, d_control,
    * o_minus_e 6dp, var_sum 6dp, chi2 6dp, significant vs the 0.05
    * critical value 3.841; chi2 NULL when no variance accrues). */
  def logrank(
      events: DataFrame, treat: Column, target: Column,
      critical: Double = 3.841): DataFrame = {
    val durs = events
      .select(col("user_id"), to_date(col("ts")).as("d"),
        target.as("hit"), treat.as("g"))
      .filter(col("user_id").isNotNull && col("d").isNotNull &&
        col("g").isNotNull)
      .groupBy("user_id")
      .agg(
        min(col("d")).as("first_d"),
        max(col("d")).as("last_d"),
        min(when(col("hit"), col("d"))).as("event_d"),
        max(col("g")).as("g"))
      .select(
        when(col("event_d").isNotNull,
          datediff(col("event_d"), col("first_d")))
          .otherwise(datediff(col("last_d"), col("first_d")))
          .cast("long").as("t_days"),
        col("event_d").isNotNull.as("observed"), col("g"))
    val life = durs.groupBy("t_days").agg(
      sum(when(col("observed") && col("g"), 1L).otherwise(0L)).as("d1"),
      sum(when(col("observed") && !col("g"), 1L).otherwise(0L)).as("d0"),
      sum(when(col("g"), 1L).otherwise(0L)).as("a1"),
      sum(when(!col("g"), 1L).otherwise(0L)).as("a0"))
    val ord = Window.orderBy("t_days")
    val before = ord.rowsBetween(Window.unboundedPreceding, -1)
    val all = ord.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val staged = life
      .withColumn("n1", sum("a1").over(all) -
        coalesce(sum("a1").over(before), lit(0L)))
      .withColumn("n0", sum("a0").over(all) -
        coalesce(sum("a0").over(before), lit(0L)))
      .withColumn("n", col("n1") + col("n0"))
      .withColumn("d", col("d1") + col("d0"))
      .filter(col("d") > 0)
      .withColumn("p1", col("n1").cast("double") / col("n").cast("double"))
      .withColumn("ome_term",
        (col("d1").cast("double") - col("d").cast("double") * col("p1"))
          .cast("decimal(18,6)"))
      .withColumn("v_term",
        when(col("n") > 1,
          (col("d").cast("double") * col("p1") * (lit(1.0) - col("p1"))
            * (col("n") - col("d")).cast("double")
            / (col("n") - 1).cast("double")).cast("decimal(18,6)"))
          .otherwise(lit(0).cast("decimal(18,6)")))
    val totals = durs.agg(
      sum(when(col("g"), 1L).otherwise(0L)).as("n_treat"),
      sum(when(!col("g"), 1L).otherwise(0L)).as("n_control"),
      sum(when(col("g") && col("observed"), 1L).otherwise(0L))
        .as("d_treat"),
      sum(when(!col("g") && col("observed"), 1L).otherwise(0L))
        .as("d_control"))
    val sums = staged.agg(
      coalesce(sum("ome_term"), lit(0).cast("decimal(18,6)")).as("ome"),
      coalesce(sum("v_term"), lit(0).cast("decimal(18,6)")).as("vs"))
    val chi2 = when(col("vs").cast("double") > 0.0,
      round(col("ome").cast("double") * col("ome").cast("double")
        / col("vs").cast("double"), 6))
    totals.crossJoin(broadcast(sums))
      .select(col("n_treat"), col("n_control"), col("d_treat"),
        col("d_control"),
        round(col("ome").cast("double"), 6).as("o_minus_e"),
        round(col("vs").cast("double"), 6).as("var_sum"),
        chi2.as("chi2"),
        (chi2 > critical).as("significant"))
  }
}
