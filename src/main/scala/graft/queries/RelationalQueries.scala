package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.queries.Query._

/** Relational operators beyond the core rows: incremental and robust
  * aggregates, profiles, quantile maps, cube/pivot variants, interval
  * joins and the SQL-text surface. */
object RelationalQueries {

  def all: Seq[Query] = Seq(
    // ── JSON extraction from the events props column. The extracted key
    //    is nullable (missing/malformed $.k): coalesce to sentinel -1 on
    //    BOTH engines, because Spark sorts NULL groups first and DuckDB
    //    last — the same convention g2_rollup uses (gotcha list).
    Query("ext_json_extract", (s, dir) => {
      t(s, dir, "events")
        .select(coalesce(
          get_json_object(col("props"), "$.k").cast("long"), lit(-1L)).as("k"))
        .groupBy("k")
        .agg(count(lit(1)).as("n"))
        .orderBy("k")
    },
      """SELECT COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), -1) AS k,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin),

    // ── CUBE with grouping_id — [EXT r14]: g7_cube coalesces rollup
    //    NULLs into an 'ALL' string, which CONFLATES a genuine NULL
    //    key with the rollup level; this exposes the grouping_id
    //    BITMASK (first grouping column = high bit — the contract a
    //    downstream consumer keys on) plus a second aggregate, oracled
    //    against DuckDB's GROUPING(). Still one pass — Spark expands
    //    the grouping sets before the partial aggregate.
    Query("ext_cube_agg", (s, dir) => {
      t(s, dir, "documents")
        .cube(col("lang"), col("source"))
        .agg(
          grouping_id().as("gid"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("gid"), col("lang"), col("source"))
    },
      // GROUPING(lang, source) is the same bitmask Spark's grouping_id
      // emits (lang = high bit)
      """SELECT lang, source,
        |  CAST(GROUPING(lang, source) AS BIGINT) AS gid,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY CUBE (lang, source)
        |ORDER BY gid, lang, source""".stripMargin),

    // ── METRIC pivot — [EXT r14]: where g4_pivot cross-tabs COUNTS
    //    (coalesced to 0), this pivots a measure — per-(source, lang)
    //    total chars, decimal-summed — and keeps the NULL-cell
    //    semantics a metric demands (an absent cell is UNKNOWN, not
    //    0). Explicit pivot values: static schema, no pre-scan job,
    //    and the oracle names the same columns.
    Query("ext_pivot_counts", (s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(sum(col("n_chars")))
        .orderBy("source")
    },
      // conditional SUM(1) matches pivot-count semantics: empty cell =
      // NULL (SUM over nothing), never 0
      """SELECT source,
        |  CAST(SUM(CASE WHEN lang = 'de' THEN n_chars END) AS BIGINT) AS de,
        |  CAST(SUM(CASE WHEN lang = 'en' THEN n_chars END) AS BIGINT) AS en,
        |  CAST(SUM(CASE WHEN lang = 'es' THEN n_chars END) AS BIGINT) AS es,
        |  CAST(SUM(CASE WHEN lang = 'fr' THEN n_chars END) AS BIGINT) AS fr,
        |  CAST(SUM(CASE WHEN lang = 'zh' THEN n_chars END) AS BIGINT) AS zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // ── INCREMENTAL aggregate maintenance — [EXT r14]: yesterday's
    //    rollup state (events before Jan 16) merged with today's delta
    //    state (the rest) must equal the one-shot recompute — which IS
    //    the oracle, so a hash-green row certifies the algebraic-state
    //    contract (Relational.aggState/mergeAggStates scaladoc).
    //    Refresh cost O(|delta| + |keys|), never O(corpus).
    Query("ext_incremental_agg", (s, dir) => {
      val cut = lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))
      val ev = t(s, dir, "events")
      val yesterday = Relational.aggState(
        ev.filter(col("ts") < cut), col("event_type"), col("value"))
      val delta = Relational.aggState(
        ev.filter(col("ts") >= cut || col("ts").isNull),
        col("event_type"), col("value"))
      Relational.finalizeAggState(
        Relational.mergeAggStates(yesterday, delta))
    },
      // the merged split-state must equal the one-shot recompute
      """SELECT event_type AS group_key,
        |  CAST(COUNT(value) AS BIGINT) AS n,
        |  CAST(COALESCE(SUM(CAST(round(value, 6) AS DECIMAL(18,6))),
        |    CAST(0 AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  CASE WHEN COUNT(value) > 0 THEN
        |    round(CAST(COALESCE(SUM(CAST(round(value, 6) AS DECIMAL(18,6))),
        |        CAST(0 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 6)
        |  END AS avg_value
        |FROM events GROUP BY 1 ORDER BY group_key""".stripMargin),

    // ── THEIL–SEN robust trend — [EXT r14]: median-of-pairwise-slopes
    //    of the daily mean value per event_type (Relational.theilSen —
    //    29.3% breakdown point vs OLS's single-outlier capture; pairs
    //    from the ≤31-point POST-AGG daily table, never raw events).
    Query("ext_theilsen", (s, dir) => {
      Relational.theilSen(
        t(s, dir, "events"),
        col("event_type"),
        datediff(to_date(col("ts")), lit(java.sql.Date.valueOf("2024-01-01"))),
        col("value"))
    },
      // Theil–Sen replay: daily 6dp decimal means, all x<x' pairwise
      // slopes rounded 9, median = value at rank ceil(n/2) (the g6 rank
      // convention); groups need >= 2 distinct days by construction
      """WITH pts AS (
        |  SELECT event_type AS group_key,
        |    CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      AS DOUBLE) AS x,
        |    round(CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6)))
        |      AS DOUBLE) / COUNT(*), 6) AS ym
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |np AS (SELECT group_key, CAST(COUNT(*) AS BIGINT) AS n_points
        |  FROM pts GROUP BY 1),
        |pr AS (
        |  SELECT a.group_key,
        |    round((b.ym - a.ym) / (b.x - a.x), 9) AS slope
        |  FROM pts a JOIN pts b
        |    ON a.group_key = b.group_key AND a.x < b.x),
        |rk AS (
        |  SELECT group_key, slope,
        |    ROW_NUMBER() OVER (PARTITION BY group_key ORDER BY slope) AS rn,
        |    COUNT(*) OVER (PARTITION BY group_key) AS n_pairs
        |  FROM pr)
        |SELECT rk.group_key, np.n_points,
        |  CAST(MAX(n_pairs) AS BIGINT) AS n_pairs,
        |  MAX(CASE WHEN rn = CAST(ceil(0.5 * n_pairs) AS BIGINT)
        |    THEN slope END) AS slope
        |FROM rk JOIN np ON np.group_key = rk.group_key
        |GROUP BY 1, 2 ORDER BY rk.group_key""".stripMargin),

    // ── Interval (leadup-attribution) join: clicks within 10 min before
    //    each purchase by the same user, counted per purchase. Equi-join
    //    on user_id with a bounded time-range conjunct — one shuffle per
    //    side on the key; the range bound keeps per-key match volume
    //    proportional to click rate × horizon, not history length.
    //    Streaming twin: EventStreams.leadupJoinStream (stream-stream
    //    join with watermark-evicted state, proven equivalent in
    //    EventStreamsSpec).
    Query("ext_interval_join", (s, dir) => {
      val e = t(s, dir, "events").withColumn("ms", unix_millis(col("ts")))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ms").as("p_ms"))
      val c = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"),
          col("user_id").as("c_user"), col("ms").as("c_ms"))
      p.join(c,
        col("c_user") === col("p_user") &&
          col("c_ms") <= col("p_ms") && col("c_ms") > col("p_ms") - 600000L,
        "left")
        .groupBy("purchase_id")
        .agg(count(col("click_id")).as("n_leadup_clicks"))
        .orderBy("purchase_id")
    },
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ms, event_type
        |  FROM events)
        |SELECT p.event_id AS purchase_id,
        |       CAST(COUNT(c.event_id) AS BIGINT) AS n_leadup_clicks
        |FROM (SELECT * FROM e WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM e WHERE event_type = 'click') c
        |  ON c.user_id = p.user_id AND c.ms <= p.ms AND c.ms > p.ms - 600000
        |GROUP BY p.event_id ORDER BY purchase_id""".stripMargin),

    // ── SQL-text surface, harness-verified: the same adjacent-pair
    //    Jaccard as ext_ngram_jaccard but written as a `spark.sql`
    //    statement calling the INJECTED ngram_jaccard function
    //    (plans.GraftExtensions.register) — the oracle hash-checks the
    //    SparkSessionExtensions path itself, not just the Column API.
    Query("ext_sql_functions", (s, dir) => {
      graft.plans.GraftExtensions.register(s)
      t(s, dir, "documents").createOrReplaceTempView("graft_docs_v")
      s.sql(
        """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |       round(ngram_jaccard(a.text, b.text, 3), 6) AS jaccard
          |FROM graft_docs_v a JOIN graft_docs_v b ON b.doc_id = a.doc_id + 1
          |ORDER BY id_a""".stripMargin)
    },
      // identical formulation to the ext_ngram_jaccard oracle — the engine
      // side differs only in the path (SQL text + injected function)
      DedupQueries.AdjacentJaccardSql),

    // ── Cross-source quantile-calibration map — [EXT r14]: per-source
    //    exact interior deciles vs the global distribution at the same
    //    levels + shift; the rank-based normalization table a mixing
    //    pass applies before combining per-source scores
    //    (Relational.quantileCalibration scaladoc).
    Query("ext_quantile_calibration", (s, dir) =>
      Relational.quantileCalibration(
        t(s, dir, "documents"), col("source"), col("n_chars"),
        tiles = 10),
      // Quantile-calibration replay: the qq_drift ceil(p·n) rank picks
      // per source and globally, joined on the level.
      """WITH lv AS (
        |  SELECT CAST(unnest([10,20,30,40,50,60,70,80,90]) AS BIGINT)
        |    AS pct),
        |r AS (
        |  SELECT source AS g, n_chars AS v,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars)
        |      AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents WHERE n_chars IS NOT NULL),
        |gq AS (
        |  SELECT g AS group_key, pct,
        |    MAX(CASE WHEN rn = CAST(ceil(pct / 100.0 * n) AS BIGINT)
        |      THEN v END) AS gv
        |  FROM r CROSS JOIN lv GROUP BY 1, 2),
        |a AS (
        |  SELECT n_chars AS v,
        |    ROW_NUMBER() OVER (ORDER BY n_chars) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM documents WHERE n_chars IS NOT NULL),
        |aq AS (
        |  SELECT pct,
        |    MAX(CASE WHEN rn = CAST(ceil(pct / 100.0 * n) AS BIGINT)
        |      THEN v END) AS av
        |  FROM a CROSS JOIN lv GROUP BY 1)
        |SELECT group_key, pct,
        |  CAST(gv AS DOUBLE) AS group_value,
        |  CAST(av AS DOUBLE) AS global_value,
        |  round(CAST(av AS DOUBLE) - CAST(gv AS DOUBLE), 6) AS shift
        |FROM gq JOIN aq USING (pct)
        |ORDER BY group_key, pct""".stripMargin),

    // ── One-pass column profile over the documents drop — per-column
    //    non-null/distinct counts and stringified min/max, single scan
    //    via one multi-distinct aggregate — Relational.profile.
    Query("ext_profile", (s, dir) =>
      Relational.profile(
        t(s, dir, "documents"),
        Seq("doc_id", "lang", "source", "n_chars")),
      """WITH p AS (
        |  SELECT 'doc_id' AS "column", COUNT(*) AS n_rows,
        |    COUNT(doc_id) AS n_nonnull,
        |    COUNT(DISTINCT doc_id) AS n_distinct,
        |    CAST(MIN(doc_id) AS VARCHAR) AS min_value,
        |    CAST(MAX(doc_id) AS VARCHAR) AS max_value
        |  FROM documents
        |  UNION ALL
        |  SELECT 'lang', COUNT(*), COUNT(lang), COUNT(DISTINCT lang),
        |    MIN(lang), MAX(lang) FROM documents
        |  UNION ALL
        |  SELECT 'source', COUNT(*), COUNT(source), COUNT(DISTINCT source),
        |    MIN(source), MAX(source) FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', COUNT(*), COUNT(n_chars), COUNT(DISTINCT n_chars),
        |    CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
        |  FROM documents)
        |SELECT "column", CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_nonnull AS BIGINT) AS n_nonnull,
        |  CAST(n_distinct AS BIGINT) AS n_distinct,
        |  min_value, max_value
        |FROM p ORDER BY "column"""".stripMargin),

    // ── Two-snapshot schema-health drift — [EXT r14]: ext_profile's
    //    vitals (null rates, distinct counts) computed over the pre-
    //    and post-cutoff halves of events and diffed per column — the
    //    ingest regression gate that fires before any semantic query
    //    notices a feed change (Relational.profileDrift scaladoc).
    Query("ext_profile_drift", (s, dir) => {
      val cut = lit(java.sql.Date.valueOf("2024-01-16"))
      val e = t(s, dir, "events")
      Relational.profileDrift(
        e.filter(to_date(col("ts")) < cut),
        e.filter(to_date(col("ts")) >= cut),
        Seq("event_type", "user_id", "value", "props"))
    },
      // Profile-drift replay: one vitals aggregate per half (exact
      // counts), the same per-column rate/delta/ratio IEEE chain.
      """WITH a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_a,
        |    CAST(COUNT(event_type) AS BIGINT) AS nn_et,
        |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS nd_et,
        |    CAST(COUNT(user_id) AS BIGINT) AS nn_uid,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nd_uid,
        |    CAST(COUNT(value) AS BIGINT) AS nn_val,
        |    CAST(COUNT(DISTINCT value) AS BIGINT) AS nd_val,
        |    CAST(COUNT(props) AS BIGINT) AS nn_pr,
        |    CAST(COUNT(DISTINCT props) AS BIGINT) AS nd_pr
        |  FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-16'),
        |b AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_b,
        |    CAST(COUNT(event_type) AS BIGINT) AS nn_et,
        |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS nd_et,
        |    CAST(COUNT(user_id) AS BIGINT) AS nn_uid,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nd_uid,
        |    CAST(COUNT(value) AS BIGINT) AS nn_val,
        |    CAST(COUNT(DISTINCT value) AS BIGINT) AS nd_val,
        |    CAST(COUNT(props) AS BIGINT) AS nn_pr,
        |    CAST(COUNT(DISTINCT props) AS BIGINT) AS nd_pr
        |  FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-16'),
        |rows_ AS (
        |  SELECT 'event_type' AS col_, a.nn_et AS nn_a, a.nd_et AS nd_a,
        |         b.nn_et AS nn_b, b.nd_et AS nd_b, n_a, n_b
        |    FROM a CROSS JOIN b
        |  UNION ALL
        |  SELECT 'props', a.nn_pr, a.nd_pr, b.nn_pr, b.nd_pr, n_a, n_b
        |    FROM a CROSS JOIN b
        |  UNION ALL
        |  SELECT 'user_id', a.nn_uid, a.nd_uid, b.nn_uid, b.nd_uid,
        |         n_a, n_b
        |    FROM a CROSS JOIN b
        |  UNION ALL
        |  SELECT 'value', a.nn_val, a.nd_val, b.nn_val, b.nd_val, n_a, n_b
        |    FROM a CROSS JOIN b)
        |SELECT col_ AS "column", n_a, n_b,
        |  round(CAST(n_a - nn_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6)
        |    AS null_rate_a,
        |  round(CAST(n_b - nn_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6)
        |    AS null_rate_b,
        |  round(round(CAST(n_b - nn_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6)
        |    - round(CAST(n_a - nn_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6), 6)
        |    AS null_rate_delta,
        |  nd_a AS n_distinct_a, nd_b AS n_distinct_b,
        |  CASE WHEN nd_a > 0
        |    THEN round(CAST(nd_b AS DOUBLE) / CAST(nd_a AS DOUBLE), 6) END
        |    AS distinct_ratio
        |FROM rows_ ORDER BY col_""".stripMargin),

    // ── Portable HyperLogLog with register-level replay — [EXT r14]:
    //    fixed 256-register state per group AND engine-auditable (the
    //    DuckDB oracle rebuilds every register from the same md5
    //    bits); '__all__' merges the per-type REGISTERS (max per
    //    bucket), the fold that answers coarser distinct counts
    //    without re-scanning (Sketches.hllRegisterRollup scaladoc).
    // ── Hill tail-index of the event value distribution — [EXT
    //    r14]: α over the top-100 order statistics; α < 2 retires
    //    means/z-scores for this column (Relational.hillTailIndex
    //    scaladoc).
    Query("ext_hill_tail", (s, dir) =>
      Relational.hillTailIndex(
        t(s, dir, "events"), col("value"), k = 100),
      // Hill replay: top-(k+1) order statistics, 6dp-quantized
      // ln(x/x_tail) terms, the identical guarded estimator.
      """WITH pos AS (
        |  SELECT CAST(value AS DOUBLE) AS v FROM events
        |  WHERE value IS NOT NULL AND value > 0.0),
        |np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pos FROM pos),
        |top AS (
        |  SELECT v, ROW_NUMBER() OVER (ORDER BY v DESC) AS rn
        |  FROM pos QUALIFY rn <= 101),
        |xt AS (SELECT MAX(CASE WHEN rn = 101 THEN v END) AS x_tail
        |       FROM top),
        |terms AS (
        |  SELECT CAST(ln(v / x_tail) AS DECIMAL(18,6)) AS t
        |  FROM top CROSS JOIN xt
        |  WHERE rn <= 100 AND x_tail IS NOT NULL),
        |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_eff, SUM(t) AS s
        |       FROM terms)
        |SELECT n_pos, CAST(100 AS BIGINT) AS k,
        |  round(x_tail, 6) AS x_tail,
        |  CASE WHEN k_eff = 100 AND CAST(s AS DOUBLE) > 0.0
        |    THEN round(100.0 / CAST(s AS DOUBLE), 6) END AS alpha
        |FROM ag CROSS JOIN np CROSS JOIN xt""".stripMargin),

    // ── Robust scale per group: median absolute deviation, both
    //    medians the exact ⌈n/2⌉-rank selection (no float accumulation
    //    anywhere — Relational.medianAbsDeviation scaladoc).
    //    materialize=true per the r10 G6Probe A/B (local-bench choice;
    //    the cluster default stays rescan — see g6_quantiles_exact).
    Query("ext_mad", (s, dir) =>
      Relational.medianAbsDeviation(
        t(s, dir, "events"), col("event_type"), col("value"),
        materialize = true)
        .orderBy("group_key"),
      // Both medians replayed as the identical ⌈n/2⌉ rank pick — element
      // selection, so no rounding discipline is needed at all.
      """WITH b AS (
        |  SELECT event_type AS g, CAST(value AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL),
        |n1 AS (SELECT g, COUNT(*) AS n FROM b GROUP BY 1),
        |r1 AS (SELECT g, v,
        |         ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn FROM b),
        |med AS (
        |  SELECT r1.g, r1.v AS m FROM r1 JOIN n1 USING (g)
        |  WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)),
        |d AS (SELECT b.g, abs(b.v - med.m) AS dv FROM b JOIN med USING (g)),
        |n2 AS (SELECT g, COUNT(*) AS n FROM d GROUP BY 1),
        |r2 AS (SELECT g, dv,
        |         ROW_NUMBER() OVER (PARTITION BY g ORDER BY dv) AS rn FROM d),
        |mad AS (
        |  SELECT r2.g, r2.dv FROM r2 JOIN n2 USING (g)
        |  WHERE rn = CAST(ceil(0.5 * n) AS BIGINT))
        |SELECT med.g AS group_key, med.m AS median, mad.dv AS mad
        |FROM med JOIN mad USING (g) ORDER BY group_key""".stripMargin),

    // ── Per-segment drift trend: OLS of event value against day index
    //    per event_type — slope/intercept/r² from one aggregation pass
    //    of decimal-quantized sums (Relational.groupTrend scaladoc).
    //    x = day index anchored at 2024-01-01 (epoch day 19723, the
    //    events table's first day): anchoring keeps Σx² small enough
    //    that the oracle's DECIMAL→DOUBLE cast stays exact (the
    //    groupTrend magnitude contract — DuckDB's INT128→double is not
    //    correctly rounded past 2^53 ticks).
    Query("ext_group_trend", (s, dir) =>
      Relational.groupTrend(
        t(s, dir, "events"), col("event_type"),
        floor(col("ts").cast("long") / lit(86400)) - lit(19723),
        col("value"))
        .orderBy("group_key"),
      // trend replay: day index via floor(epoch)/86400 (== Spark's
      // ts→long truncation for positive epochs), every summed term
      // DECIMAL(38,6)-quantized, the closed form written as the SAME
      // expression tree (mult/sub/divide order), one round(·,6) each.
      """WITH b AS (
        |  SELECT event_type AS g,
        |    floor(floor(epoch(ts)) / 86400) - 19723 AS x,
        |    CAST(value AS DOUBLE) AS y
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |s AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(round(x, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(round(y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(round(x * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(round(x * x, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(round(y * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS syy
        |  FROM b GROUP BY g)
        |SELECT g AS group_key, n,
        |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0 THEN
        |    round((CAST(n AS DOUBLE) * sxy - sx * sy)
        |          / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) END AS slope,
        |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0 THEN
        |    round((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
        |                 / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
        |          / CAST(n AS DOUBLE), 6) END AS intercept,
        |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
        |        AND CAST(n AS DOUBLE) * syy - sy * sy > 0 THEN
        |    round((CAST(n AS DOUBLE) * sxy - sx * sy)
        |          * (CAST(n AS DOUBLE) * sxy - sx * sy)
        |          / ((CAST(n AS DOUBLE) * sxx - sx * sx)
        |             * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) END AS r2
        |FROM s ORDER BY group_key""".stripMargin),

    // ── Winsorized mean per event_type: exact p05/p95 fences from the
    //    distributed selection, map-side clip, decimal-summed means —
    //    raw mean emitted next to it so the gap IS the outlier signal
    //    (Relational.winsorizedMean scaladoc).
    Query("ext_winsorized_mean", (s, dir) =>
      Relational.winsorizedMean(
        t(s, dir, "events"), col("event_type"), col("value"),
        materialize = true)
        .orderBy("group_key"),
      """WITH b AS (
        |  SELECT event_type AS g, CAST(value AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT g, v,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn,
        |    COUNT(*) OVER (PARTITION BY g) AS n
        |  FROM b),
        |q AS (
        |  SELECT g,
        |    MAX(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT) THEN v END) AS lo,
        |    MAX(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT) THEN v END) AS hi
        |  FROM r GROUP BY g)
        |SELECT b.g AS group_key, CAST(COUNT(*) AS BIGINT) AS n, q.lo, q.hi,
        |  CAST(SUM(CAST(b.v AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean,
        |  CAST(SUM(CAST(least(greatest(b.v, q.lo), q.hi) AS DECIMAL(18,6)))
        |    AS DOUBLE) / COUNT(*) AS winsorized_mean
        |FROM b JOIN q USING (g) GROUP BY 1, q.lo, q.hi
        |ORDER BY group_key""".stripMargin),

    // ── Exact WEIGHTED quantiles — [EXT r16]: quantity-weighted
    //    price quartiles per returnflag (smallest value whose exact
    //    decimal cumulative weight reaches q·W); duplicates collapse
    //    map-side before the one per-group ordered window, picks are
    //    conditional MINs in one final aggregate — no explode
    //    (Relational.weightedQuantiles scaladoc).
    Query("ext_weighted_quantiles", (s, dir) =>
      Relational.weightedQuantiles(
        t(s, dir, "lineitem"), col("l_returnflag"),
        col("l_extendedprice"), col("l_quantity")),
      // fences replayed as the same ⌈p·n⌉ rank picks as the g6/MAD
      // family; clip + both means decimal-quantized per value.
      // Weighted-quantile replay: same collapse → exact decimal
      // cumulative weights → q·W double threshold → conditional-MIN
      // picks.
      """WITH b AS (
        |  SELECT CAST(l_returnflag AS VARCHAR) AS g,
        |    round(CAST(l_extendedprice AS DOUBLE), 6) AS v,
        |    CAST(l_quantity AS DECIMAL(18,6)) AS w
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_quantity IS NOT NULL AND l_quantity > 0),
        |c AS (SELECT g, v, SUM(w) AS w FROM b GROUP BY g, v),
        |t AS (SELECT g, SUM(w) AS tw FROM c GROUP BY g),
        |cu AS (
        |  SELECT g, v,
        |    SUM(w) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
        |  FROM c)
        |SELECT cu.g AS group_key,
        |  round(CAST(MIN(t.tw) AS DOUBLE), 6) AS w_total,
        |  MIN(CASE WHEN CAST(cw AS DOUBLE) >= 0.25 * CAST(t.tw AS DOUBLE)
        |    THEN v END) AS p25,
        |  MIN(CASE WHEN CAST(cw AS DOUBLE) >= 0.5 * CAST(t.tw AS DOUBLE)
        |    THEN v END) AS p50,
        |  MIN(CASE WHEN CAST(cw AS DOUBLE) >= 0.75 * CAST(t.tw AS DOUBLE)
        |    THEN v END) AS p75
        |FROM cu JOIN t ON cu.g = t.g
        |GROUP BY cu.g ORDER BY group_key""".stripMargin),

    // ── Key-skew profile of lineitem's part key — the pre-shuffle
    //    "should I salt this join?" readout: cardinality, hottest key,
    //    exact count quantiles, max/mean skew ratio
    //    (Relational.keySkewProfile).
    Query("ext_key_skew", (s, dir) =>
      graft.operators.Relational.keySkewProfile(
        t(s, dir, "lineitem"), col("l_partkey")),
      // key-skew replay: per-key counts, top-1 by (n DESC, k), the same
      // ceil(p*n) discrete rank picks over the count table, integer
      // ratios to single divides.
      """WITH c AS (
        |  SELECT CAST(l_partkey AS VARCHAR) AS k,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |         CAST(SUM(n) AS BIGINT) AS n_rows FROM c),
        |tp AS (SELECT k AS top_key, n AS top_n FROM c
        |       ORDER BY n DESC, k LIMIT 1),
        |r AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n) AS rn,
        |        COUNT(*) OVER () AS cnt FROM c),
        |q AS (SELECT
        |  MAX(CASE WHEN rn = CAST(ceil(0.5 * cnt) AS BIGINT)
        |      THEN n END) AS p50_n,
        |  MAX(CASE WHEN rn = CAST(ceil(0.9 * cnt) AS BIGINT)
        |      THEN n END) AS p90_n,
        |  MAX(CASE WHEN rn = CAST(ceil(0.99 * cnt) AS BIGINT)
        |      THEN n END) AS p99_n
        |  FROM r)
        |SELECT n_keys, n_rows, top_key, top_n,
        |  CAST(top_n AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top_share,
        |  p50_n, p90_n, p99_n,
        |  CAST(top_n * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)
        |    AS skew_ratio
        |FROM st CROSS JOIN tp CROSS JOIN q""".stripMargin)
  )
}
