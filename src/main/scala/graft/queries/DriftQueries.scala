package graft.queries

import org.apache.spark.sql.functions._

import graft.queries.Query._

/** Distribution drift and shape: PSI, KS, divergences, dependence
  * measures, change detection, seasonality and Benford. */
object DriftQueries {

  /** The Jensen–Shannon readout over a `j` CTE of per-key counts (ca,
    * cb): totals, the two distributions, 9dp-quantized ln terms summed
    * in DECIMAL(28,12), halved. */
  private val JsdTermsSql: String =
    """t AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
      |        CAST(SUM(cb) AS BIGINT) AS n_b FROM j),
      |pq AS (SELECT n_a, n_b,
      |         CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE) AS p,
      |         CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE) AS q
      |       FROM j CROSS JOIN t),
      |terms AS (SELECT n_a, n_b,
      |    (CASE WHEN p > 0.0 THEN
      |       CAST(round(p * ln(p * 2.0 / (p + q)), 9) AS DECIMAL(28,12))
      |     ELSE CAST(0.0 AS DECIMAL(28,12)) END +
      |     CASE WHEN q > 0.0 THEN
      |       CAST(round(q * ln(q * 2.0 / (p + q)), 9) AS DECIMAL(28,12))
      |     ELSE CAST(0.0 AS DECIMAL(28,12)) END) AS term
      |  FROM pq)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys, n_a, n_b,
      |  CASE WHEN n_a > 0 AND n_b > 0
      |       THEN CAST(SUM(term) AS DOUBLE) / 2 END AS jsd""".stripMargin

  /** Per event type and day index: the daily counts (`d`), the day
    * spine from first to last day (`sp`) and every (type, day) cell
    * with its count, 0 when empty, and weekday slot (`f`). */
  private val DailyCountsSql: String =
    """WITH e AS (
      |  SELECT event_type AS group_key,
      |    epoch_ms(date_trunc('day', ts)) // 86400000 AS di
      |  FROM events WHERE ts IS NOT NULL),
      |d AS (
      |  SELECT group_key, di, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM e GROUP BY 1, 2),
      |sp AS (
      |  SELECT unnest(range((SELECT MIN(di) FROM d),
      |    (SELECT MAX(di) FROM d) + 1)) AS di),
      |f AS (
      |  SELECT t.group_key, s.di, COALESCE(d.cnt, 0) AS cnt,
      |    s.di % 7 AS dow
      |  FROM (SELECT DISTINCT group_key FROM d) t
      |  CROSS JOIN sp s
      |  LEFT JOIN d ON d.group_key = t.group_key AND d.di = s.di),""".stripMargin

  def all: Seq[Query] = Seq(
    // ── QQ-shift drift — [EXT r13]: per-decile displacement between
    //    the first and second half-month of event values; exact data
    //    elements on both sides, shift = one subtraction — the WHERE
    //    of a drift, not just its existence (Drift.qqShift scaladoc).
    Query("ext_qq_drift", (s, dir) => {
      val e = t(s, dir, "events")
      val cut = lit(java.sql.Date.valueOf("2024-01-16"))
      graft.operators.Drift.qqShift(
        e.filter(to_date(col("ts")) < cut),
        e.filter(to_date(col("ts")) >= cut),
        col("value"))
    },
      // QQ-shift replay: rank-pick ceil(p·n) per side (the g6 exact-
      // quantile discipline), joined by decile level.
      """WITH lv AS (
        |  SELECT CAST(unnest([10,20,30,40,50,60,70,80,90]) AS BIGINT)
        |    AS level_pct),
        |r AS (
        |  SELECT value AS v, ROW_NUMBER() OVER (ORDER BY value) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM events
        |  WHERE CAST(ts AS DATE) < DATE '2024-01-16' AND value IS NOT NULL),
        |c AS (
        |  SELECT value AS v, ROW_NUMBER() OVER (ORDER BY value) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM events
        |  WHERE CAST(ts AS DATE) >= DATE '2024-01-16' AND value IS NOT NULL),
        |rq AS (
        |  SELECT l.level_pct, MAX(CASE WHEN r.rn =
        |    CAST(ceil(l.level_pct / 100.0 * r.n) AS BIGINT) THEN r.v END)
        |    AS q_ref
        |  FROM r CROSS JOIN lv l GROUP BY 1),
        |cq AS (
        |  SELECT l.level_pct, MAX(CASE WHEN c.rn =
        |    CAST(ceil(l.level_pct / 100.0 * c.n) AS BIGINT) THEN c.v END)
        |    AS q_cur
        |  FROM c CROSS JOIN lv l GROUP BY 1)
        |SELECT level_pct, q_ref, q_cur, round(q_cur - q_ref, 6) AS shift
        |FROM rq JOIN cq USING (level_pct) ORDER BY level_pct""".stripMargin),

    // ── Holt linear forecast — [EXT r15]: trend-aware double-
    //    exponential smoothing of per-type daily counts on the shared
    //    calendar spine (missing day = REAL zero), sequential
    //    aggregate() fold per group, h=7 forecast + one-step RMSE
    //    (Drift.holtForecast scaladoc).
    Query("ext_holt_forecast", (s, dir) =>
      graft.operators.Drift.holtForecast(
        t(s, dir, "events"), col("event_type"), col("ts"),
        alpha = 0.5, beta = 0.3, horizon = 7),
      // Holt replay: same calendar spine (missing day = zero), the
      // recursive-CTE sequential fold of the identical IEEE recurrence,
      // 6dp readouts.
      """WITH RECURSIVE days AS (
        |  SELECT CAST(event_type AS VARCHAR) AS g,
        |    epoch_ms(date_trunc('day', ts)) // 86400000 AS di,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |bd AS (SELECT MIN(di) AS lo, MAX(di) AS hi FROM days),
        |sp AS (SELECT unnest(range((SELECT lo FROM bd),
        |  (SELECT hi FROM bd) + 1)) AS di),
        |gs AS (SELECT DISTINCT g FROM days),
        |ser AS (
        |  SELECT gs.g, sp.di,
        |    CAST(COALESCE(d.cnt, 0) AS DOUBLE) AS x,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY gs.g ORDER BY sp.di)
        |      AS BIGINT) AS idx
        |  FROM gs CROSS JOIN sp
        |  LEFT JOIN days d ON d.g = gs.g AND d.di = sp.di),
        |nn AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_days FROM ser
        |       GROUP BY 1),
        |rec AS (
        |  SELECT g, idx, x AS l, CAST(0.0 AS DOUBLE) AS b,
        |    CAST(0.0 AS DOUBLE) AS sse
        |  FROM ser WHERE idx = 1
        |  UNION ALL
        |  SELECT s.g, s.idx,
        |    0.5 * s.x + 0.5 * (r.l + r.b) AS l,
        |    0.3 * ((0.5 * s.x + 0.5 * (r.l + r.b)) - r.l) + 0.7 * r.b AS b,
        |    r.sse + (s.x - (r.l + r.b)) * (s.x - (r.l + r.b)) AS sse
        |  FROM rec r JOIN ser s ON s.g = r.g AND s.idx = r.idx + 1),
        |fin AS (
        |  SELECT r.g, r.l, r.b, r.sse FROM rec r
        |  JOIN nn ON nn.g = r.g AND r.idx = nn.n_days)
        |SELECT fin.g AS group_key, nn.n_days,
        |  round(fin.l, 6) AS level, round(fin.b, 6) AS trend,
        |  round(fin.l + 7.0 * fin.b, 6) AS forecast_h,
        |  round(CASE WHEN nn.n_days > 1
        |    THEN sqrt(fin.sse / CAST(nn.n_days - 1 AS DOUBLE)) END, 6)
        |    AS rmse
        |FROM fin JOIN nn ON nn.g = fin.g ORDER BY group_key""".stripMargin),

    // ── Theil-T inequality of event value across types, decomposed
    //    within/between — [EXT r14]: tells a mix planner whether
    //    rebalancing groups or capping inside groups fixes the skew;
    //    Gini can't decompose (Drift.theilDecomposition scaladoc).
    Query("ext_theil_index", (s, dir) =>
      graft.operators.Drift.theilDecomposition(
        t(s, dir, "events"), col("event_type"), col("value")),
      // Theil-T replay: the same grouped decimal moments, per-row
      // x-weighted ln terms quantized to DECIMAL(18,6) before the
      // DECIMAL(28,6) sums (the unigram-nll xsum rule), the share /
      // within / between chain, and the '__between__'/'__total__'
      // spine rows.
      """WITH base AS (
        |  SELECT CAST(event_type AS VARCHAR) AS g,
        |    round(CAST(value AS DOUBLE), 6) AS x
        |  FROM events
        |  WHERE event_type IS NOT NULL AND value IS NOT NULL
        |    AND round(CAST(value AS DOUBLE), 6) > 0.0),
        |m AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g,
        |    SUM(CAST(x AS DECIMAL(38,6))) AS s_g
        |  FROM base GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_g) AS BIGINT) AS n, SUM(s_g) AS s FROM m),
        |tm AS (
        |  SELECT b.g,
        |    SUM(CAST(b.x * CAST(CAST(ln(b.x
        |      / (CAST(m.s_g AS DOUBLE) / CAST(m.n_g AS DOUBLE)))
        |      AS DECIMAL(18,6)) AS DOUBLE) AS DECIMAL(28,6))) AS t_sum
        |  FROM base b JOIN m ON b.g = m.g GROUP BY 1),
        |pg AS (
        |  SELECT m.g, m.n_g,
        |    CAST(m.s_g AS DOUBLE) / CAST(t.s AS DOUBLE) AS share,
        |    CAST(tm.t_sum AS DOUBLE) / CAST(m.s_g AS DOUBLE) AS t_g,
        |    CAST(CAST(ln((CAST(m.s_g AS DOUBLE) / CAST(m.n_g AS DOUBLE))
        |      / (CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE)))
        |      AS DECIMAL(18,6)) AS DOUBLE) AS ln_mu_ratio,
        |    t.n AS n_tot
        |  FROM m JOIN tm ON m.g = tm.g CROSS JOIN tot t),
        |btw AS (
        |  SELECT CAST(MAX(n_tot) AS BIGINT) AS n,
        |    SUM(CAST(share * ln_mu_ratio AS DECIMAL(28,12))) AS tb,
        |    SUM(CAST(share * t_g AS DECIMAL(28,12))) AS tw
        |  FROM pg)
        |SELECT g AS group_key, n_g AS n,
        |  round(share, 6) AS value_share, round(t_g, 6) AS theil
        |FROM pg
        |UNION ALL
        |SELECT '__between__', n, CAST(1.0 AS DOUBLE),
        |  round(CAST(tb AS DOUBLE), 6) FROM btw
        |UNION ALL
        |SELECT '__total__', n, CAST(1.0 AS DOUBLE),
        |  round(CAST(tw AS DOUBLE) + CAST(tb AS DOUBLE), 6) FROM btw
        |ORDER BY group_key""".stripMargin),

    // ── Distribution-drift gate: per-bucket PSI of the event value
    //    distribution, odd-event_id snapshot vs even-event_id baseline
    //    (operators.Drift scaladoc — two map-side bucket aggregations,
    //    fixed split literals, 9dp-quantized ln terms).
    Query("ext_drift_psi", (s, dir) => {
      val e = t(s, dir, "events")
      graft.operators.Drift.psi(
        e.filter(col("event_id") % 2 === 0),
        e.filter(col("event_id") % 2 === 1),
        col("value"),
        splits = Seq(5.0, 10.0, 20.0, 50.0, 100.0, 200.0, 400.0))
    },
      // Bucket = count of splits <= value (a sum of comparisons), exact
      // count/total proportions, eps-smoothed, ln term rounded to 9dp —
      // the identical arithmetic chain the engine runs.
      """WITH bk AS (
        |  SELECT event_id,
        |    CAST(value >= 5.0 AS INT) + CAST(value >= 10.0 AS INT) +
        |    CAST(value >= 20.0 AS INT) + CAST(value >= 50.0 AS INT) +
        |    CAST(value >= 100.0 AS INT) + CAST(value >= 200.0 AS INT) +
        |    CAST(value >= 400.0 AS INT) AS bucket
        |  FROM events WHERE value IS NOT NULL),
        |bb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_base
        |       FROM bk WHERE event_id % 2 = 0 GROUP BY 1),
        |cc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_cur
        |       FROM bk WHERE event_id % 2 = 1 GROUP BY 1),
        |tb AS (SELECT SUM(n_base) AS t_base FROM bb),
        |tc AS (SELECT SUM(n_cur) AS t_cur FROM cc),
        |j AS (
        |  SELECT COALESCE(bb.bucket, cc.bucket) AS bucket,
        |    COALESCE(n_base, 0) AS n_base, COALESCE(n_cur, 0) AS n_cur
        |  FROM bb FULL OUTER JOIN cc ON bb.bucket = cc.bucket)
        |SELECT CAST(bucket AS BIGINT) AS bucket, n_base, n_cur,
        |  round(greatest(CAST(n_base AS DOUBLE) / CAST(t_base AS DOUBLE),
        |    1e-6), 9) AS p_base,
        |  round(greatest(CAST(n_cur AS DOUBLE) / CAST(t_cur AS DOUBLE),
        |    1e-6), 9) AS p_cur,
        |  round((greatest(CAST(n_cur AS DOUBLE) / CAST(t_cur AS DOUBLE), 1e-6)
        |       - greatest(CAST(n_base AS DOUBLE) / CAST(t_base AS DOUBLE), 1e-6))
        |    * ln(greatest(CAST(n_cur AS DOUBLE) / CAST(t_cur AS DOUBLE), 1e-6)
        |       / greatest(CAST(n_base AS DOUBLE) / CAST(t_base AS DOUBLE), 1e-6)),
        |    9) AS psi_term
        |FROM j CROSS JOIN tb CROSS JOIN tc ORDER BY bucket""".stripMargin),

    // ── Exact two-sample KS drift test (no bucket choice — the
    //    complement of ext_drift_psi's fixed frame): doc-length
    //    distribution of English vs non-English docs; ECDF gap at
    //    every observed value via ONE post-aggregate window
    //    (Drift.ksTest scaladoc).
    Query("ext_ks_drift", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Drift.ksTest(
        d.filter(col("lang") === "en"),
        d.filter(col("lang") =!= "en"),
        col("n_chars"))
    },
      // KS replay: per-value counts, one cumulative window over the
      // aggregated value table (RANGE vs ROWS immaterial — values are
      // distinct after the group), exact integer ECDFs, argmax tie to the
      // smallest value.
      """WITH ca AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS v, CAST(COUNT(*) AS BIGINT) AS ca
        |  FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL GROUP BY 1),
        |cb AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS v, CAST(COUNT(*) AS BIGINT) AS cb
        |  FROM documents WHERE lang <> 'en' AND n_chars IS NOT NULL GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(ca.v, cb.v) AS v, COALESCE(ca, 0) AS ca,
        |    COALESCE(cb, 0) AS cb
        |  FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
        |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
        |             CAST(SUM(cb) AS BIGINT) AS n_b FROM j),
        |g AS (
        |  SELECT v,
        |    abs(CAST(SUM(ca) OVER (ORDER BY v) AS DOUBLE) / n_a -
        |        CAST(SUM(cb) OVER (ORDER BY v) AS DOUBLE) / n_b) AS gap
        |  FROM j CROSS JOIN t),
        |best AS (SELECT gap, v FROM g ORDER BY gap DESC, v LIMIT 1)
        |SELECT n_a, n_b, best.gap AS d_stat, best.v AS at_value,
        |  best.gap >= 1.358 * sqrt(CAST(n_a + n_b AS DOUBLE) /
        |    (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) AS reject
        |FROM t CROSS JOIN best""".stripMargin),

    // ── Gini concentration of documents across sources — the
    //    one-number mixture-health readout (Drift.giniConcentration:
    //    one source-keyed aggregation + a rank window over the k-row
    //    count table).
    Query("ext_gini_sources", (s, dir) => {
      graft.operators.Drift.giniConcentration(
        t(s, dir, "documents"), col("source"))
    },
      // Gini replay: k-row count table, rank window ties by (n, grp),
      // integer numerator/denominator, one divide.
      """WITH g AS (
        |  SELECT source AS grp, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |r AS (SELECT n,
        |        CAST(ROW_NUMBER() OVER (ORDER BY n, grp) AS BIGINT) AS i
        |      FROM g)
        |SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |  CAST(SUM(n) AS BIGINT) AS n_total,
        |  CAST(2 * SUM(i * n) - (COUNT(*) + 1) * SUM(n) AS DOUBLE) /
        |  CAST(COUNT(*) * SUM(n) AS DOUBLE) AS gini
        |FROM r""".stripMargin),

    // ── Chi-square homogeneity of the language mix across sources —
    //    per-cell observed vs expected with the zero-cell spine kept
    //    (Drift.chi2Homogeneity: one cell-keyed aggregation; margins
    //    and spine live in the |sources|×|langs| world).
    Query("ext_chi2_homogeneity", (s, dir) => {
      graft.operators.Drift.chi2Homogeneity(
        t(s, dir, "documents"), col("source"), col("lang"))
    },
      // chi2 replay: cell counts, margin cross-join spine (zero cells
      // kept), expected under independence, 9dp-rounded terms.
      """WITH cells AS (
        |  SELECT source AS r, lang AS c, CAST(COUNT(*) AS BIGINT) AS o
        |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1, 2),
        |mr AS (SELECT r, CAST(SUM(o) AS BIGINT) AS n_r FROM cells GROUP BY 1),
        |mc AS (SELECT c, CAST(SUM(o) AS BIGINT) AS n_c FROM cells GROUP BY 1),
        |t AS (SELECT CAST(SUM(o) AS BIGINT) AS n_total FROM cells)
        |SELECT mr.r, mc.c, CAST(COALESCE(o, 0) AS BIGINT) AS o,
        |  CAST(n_r AS DOUBLE) * CAST(n_c AS DOUBLE) /
        |    CAST(n_total AS DOUBLE) AS e,
        |  round((CAST(COALESCE(o, 0) AS DOUBLE) - e) *
        |        (CAST(COALESCE(o, 0) AS DOUBLE) - e) / e, 9) AS chi2_term
        |FROM mr CROSS JOIN mc
        |LEFT JOIN cells ON cells.r = mr.r AND cells.c = mc.c
        |CROSS JOIN t
        |ORDER BY mr.r, mc.c""".stripMargin),

    // ── Mutual information (+ NMI) between source and language —
    //    [EXT r12] the association readout in nats the χ² table can't
    //    give (Drift.mutualInformation: one cell-keyed aggregation,
    //    9dp-quantized ln terms, DECIMAL(28,12) sums).
    Query("ext_mutual_info", (s, dir) => {
      graft.operators.Drift.mutualInformation(
        t(s, dir, "documents"), col("source"), col("lang"))
    },
      // MI replay: observed cell table, margins, 9dp-quantized ln terms
      // in DECIMAL(28,12) for MI and both entropies, NMI null on a
      // constant column.
      """WITH cells AS (
        |  SELECT source AS ka, lang AS kb, CAST(COUNT(*) AS BIGINT) AS o
        |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1, 2),
        |ma AS (SELECT ka, CAST(SUM(o) AS BIGINT) AS n_a FROM cells GROUP BY 1),
        |mb AS (SELECT kb, CAST(SUM(o) AS BIGINT) AS n_b FROM cells GROUP BY 1),
        |t AS (SELECT CAST(SUM(o) AS BIGINT) AS n_total FROM cells),
        |ha AS (SELECT CAST(SUM(CAST(round(-1.0 *
        |         CAST(n_a AS DOUBLE) / CAST(n_total AS DOUBLE) *
        |         ln(CAST(n_a AS DOUBLE) / CAST(n_total AS DOUBLE)), 9)
        |         AS DECIMAL(28,12))) AS DOUBLE) AS h_a
        |       FROM ma CROSS JOIN t),
        |hb AS (SELECT CAST(SUM(CAST(round(-1.0 *
        |         CAST(n_b AS DOUBLE) / CAST(n_total AS DOUBLE) *
        |         ln(CAST(n_b AS DOUBLE) / CAST(n_total AS DOUBLE)), 9)
        |         AS DECIMAL(28,12))) AS DOUBLE) AS h_b
        |       FROM mb CROSS JOIN t),
        |mi AS (SELECT n_total, CAST(COUNT(*) AS BIGINT) AS n_cells,
        |         CAST(SUM(CAST(round(
        |           CAST(o AS DOUBLE) / CAST(n_total AS DOUBLE) *
        |           ln(CAST(n_total AS DOUBLE) * CAST(o AS DOUBLE) /
        |             (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 9)
        |           AS DECIMAL(28,12))) AS DOUBLE) AS mi
        |       FROM cells JOIN ma USING (ka) JOIN mb USING (kb)
        |       CROSS JOIN t GROUP BY n_total)
        |SELECT n_total, n_cells, h_a, h_b, mi,
        |  CASE WHEN h_a > 0.0 AND h_b > 0.0
        |       THEN mi / sqrt(h_a * h_b) END AS nmi
        |FROM mi CROSS JOIN ha CROSS JOIN hb""".stripMargin),

    // ── Cramér's V of the same source × language table — [EXT r12]
    //    χ² rescaled to a [0,1] association strength, computed from
    //    ext_chi2_homogeneity's zero-including spine (Drift.cramersV).
    Query("ext_cramers_v", (s, dir) => {
      graft.operators.Drift.cramersV(
        t(s, dir, "documents"), col("source"), col("lang"))
    },
      // Cramér's V replay: the chi2 zero-including spine, 9dp terms in
      // DECIMAL(28,12), one sqrt of one divide.
      """WITH cells AS (
        |  SELECT source AS r, lang AS c, CAST(COUNT(*) AS BIGINT) AS o
        |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1, 2),
        |mr AS (SELECT r, CAST(SUM(o) AS BIGINT) AS n_r FROM cells GROUP BY 1),
        |mc AS (SELECT c, CAST(SUM(o) AS BIGINT) AS n_c FROM cells GROUP BY 1),
        |t AS (SELECT CAST(SUM(o) AS BIGINT) AS n_total FROM cells),
        |spine AS (
        |  SELECT mr.r, mc.c, CAST(COALESCE(o, 0) AS BIGINT) AS o,
        |    CAST(n_r AS DOUBLE) * CAST(n_c AS DOUBLE) /
        |      CAST(n_total AS DOUBLE) AS e
        |  FROM mr CROSS JOIN mc
        |  LEFT JOIN cells ON cells.r = mr.r AND cells.c = mc.c
        |  CROSS JOIN t),
        |agg AS (
        |  SELECT CAST(SUM(o) AS BIGINT) AS n_total,
        |    CAST(COUNT(DISTINCT r) AS BIGINT) AS r_levels,
        |    CAST(COUNT(DISTINCT c) AS BIGINT) AS c_levels,
        |    CAST(SUM(CAST(round((CAST(o AS DOUBLE) - e) *
        |      (CAST(o AS DOUBLE) - e) / e, 9) AS DECIMAL(28,12)))
        |      AS DOUBLE) AS chi2
        |  FROM spine)
        |SELECT n_total, r_levels, c_levels, chi2,
        |  CASE WHEN least(r_levels, c_levels) > 1 THEN
        |    sqrt(chi2 / (CAST(n_total AS DOUBLE) *
        |      CAST(least(r_levels, c_levels) - 1 AS DOUBLE))) END AS v
        |FROM agg WHERE n_total IS NOT NULL""".stripMargin),

    // ── Jensen–Shannon divergence of the language mix, src0 slice vs
    //    the rest of the corpus — [EXT r12] the symmetric always-finite
    //    drift number next to ext_drift_psi (bucket-frame) and
    //    ext_ks_drift (continuous): two count tables, one full outer
    //    join, 9dp-quantized ln terms (Drift.jsDivergence).
    Query("ext_jsd_drift", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Drift.jsDivergence(
        d.filter(col("source") === "src0"),
        d.filter(col("source") =!= "src0"),
        col("lang"))
    },
      // JSD replay: two count tables, full outer join, per-key
      // 9dp-quantized ln terms, decimal sum cast to double then halved
      // (IEEE-exact).
      s"""WITH sa AS (SELECT lang AS k FROM documents
        |            WHERE source = 'src0' AND lang IS NOT NULL),
        |sb AS (SELECT lang AS k FROM documents
        |       WHERE source <> 'src0' AND lang IS NOT NULL),
        |ca AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS ca FROM sa GROUP BY 1),
        |cb AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS cb FROM sb GROUP BY 1),
        |j AS (SELECT COALESCE(ca.k, cb.k) AS k,
        |        COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        |      FROM ca FULL OUTER JOIN cb ON ca.k = cb.k),
        |$JsdTermsSql
        |FROM terms GROUP BY n_a, n_b""".stripMargin),

    // ── Vocabulary-drift JSD — [EXT r12]: Jensen–Shannon divergence
    //    between the hashed-unigram distributions of the src0 slice and
    //    the rest of the corpus (the ext_dsir_weights bucketing reduced
    //    to ONE symmetric drift number — "did the vocabulary move?").
    //    Two bucket histograms ≤ 1024 rows each, one outer join.
    Query("ext_token_jsd", (s, dir) => {
      val d = t(s, dir, "documents")
      def buckets(df: org.apache.spark.sql.DataFrame) = df
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .select(pmod(graft.functions.expressions.GraftFunctions
          .rolling_hash(col("tok")), lit(1024L)).as("bucket"))
      graft.operators.Drift.jsDivergence(
        buckets(d.filter(col("source") === "src0")),
        buckets(d.filter(col("source") =!= "src0")),
        col("bucket"))
    },
      // Token-JSD replay: the dsir rolling-hash bucketing, two bucket
      // histograms, the ext_jsd_drift term arithmetic.
      s"""WITH toks AS (
        |  SELECT source,
        |    list_reduce(list_transform(range(1, length(tok) + 1),
        |      j -> CAST(ord(substr(tok, j, 1)) AS BIGINT)),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) % 1024 AS bucket
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  WHERE len(tok) > 0),
        |ca AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ca FROM toks
        |       WHERE source = 'src0' GROUP BY 1),
        |cb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cb FROM toks
        |       WHERE source <> 'src0' GROUP BY 1),
        |j AS (SELECT COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        |      FROM ca FULL OUTER JOIN cb ON ca.bucket = cb.bucket),
        |$JsdTermsSql
        |FROM terms GROUP BY n_a, n_b""".stripMargin),

    // ── CUSUM changepoint scan per event type: WHERE the daily-total
    //    level most likely shifted — max-|CUSUM| day of the
    //    integer-exact scaled scan S_d = n·P_d − d·T (Page '54;
    //    Drift.cusumChangepoint scaladoc). The time-localized
    //    complement to the PSI/KS two-snapshot drift family.
    Query("ext_cusum", (s, dir) =>
      graft.operators.Drift.cusumChangepoint(t(s, dir, "events"), col("event_type"),
        col("ts"), col("value"))
        .orderBy("group_key"),
      // CUSUM replay: 6dp-tick decimal daily totals, the integer-exact
      // scaled scan S_d = n·P_d − d·T in DECIMAL(38,6) (28,6 operands so
      // the ×DECIMAL(10,0) products fit DuckDB's 38-digit multiply
      // ceiling), argmax by (|S| DESC, day ASC), divides only in the
      // final readout.
      """WITH daily AS (
        |  SELECT event_type AS group_key,
        |    epoch_ms(date_trunc('day', ts)) // 86400000 AS di,
        |    CAST(COALESCE(SUM(CAST(round(CAST(value AS DOUBLE), 6)
        |      AS DECIMAL(28,6))), CAST(0 AS DECIMAL(28,6)))
        |      AS DECIMAL(28,6)) AS xd
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |scanned AS (
        |  SELECT group_key, di,
        |    CAST(COUNT(*) OVER (PARTITION BY group_key) AS BIGINT) AS nd,
        |    CAST(SUM(xd) OVER (PARTITION BY group_key)
        |      AS DECIMAL(28,6)) AS total,
        |    CAST(SUM(xd) OVER (PARTITION BY group_key ORDER BY di)
        |      AS DECIMAL(28,6)) AS prefix,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY group_key ORDER BY di)
        |      AS BIGINT) AS d_idx
        |  FROM daily),
        |s2 AS (
        |  SELECT group_key, di, nd, total,
        |    CAST(CAST(nd AS DECIMAL(10,0)) * prefix
        |      - CAST(d_idx AS DECIMAL(10,0)) * total AS DECIMAL(38,6)) AS s
        |  FROM scanned),
        |peak AS (
        |  SELECT group_key, nd, total, di, s,
        |    ROW_NUMBER() OVER (PARTITION BY group_key
        |      ORDER BY abs(s) DESC, di) AS rn
        |  FROM s2)
        |SELECT group_key, nd AS n_days, di AS cp_day,
        |  round(CAST(s AS DOUBLE) / CAST(nd AS DOUBLE), 6) AS cusum,
        |  round(CAST(total AS DOUBLE) / CAST(nd AS DOUBLE), 6) AS mean_daily
        |FROM peak WHERE rn = 1 ORDER BY group_key""".stripMargin),

    // ── Weekday-profile anomaly screen: every (type, day) scored
    //    against ITS weekday slot's mean — integer-exact spike/dip
    //    flags (cnt·n_dow vs 2·Σ_dow), zero-filled days counted as the
    //    outages they are, every checked day kept in the readout
    //    (Drift.weekdayAnomaly scaladoc).
    Query("ext_weekday_anomaly", (s, dir) =>
      graft.operators.Drift.weekdayAnomaly(t(s, dir, "events"), col("event_type"),
        col("ts"))
        .orderBy("group_key", "di"),
      // Weekday-anomaly replay: zero-filled day spine (the ext_autocorr
      // CTE), epoch-day mod 7 slots, full-partition weekday sums, the
      // integer-exact spike/dip comparisons, one 6dp readout divide.
      s"""$DailyCountsSql
        |w AS (
        |  SELECT group_key, di, dow, cnt,
        |    CAST(COUNT(*) OVER (PARTITION BY group_key, dow) AS BIGINT)
        |      AS n_dow,
        |    CAST(SUM(cnt) OVER (PARTITION BY group_key, dow) AS BIGINT)
        |      AS sum_dow
        |  FROM f)
        |SELECT group_key, di, CAST(dow AS BIGINT) AS dow, cnt, n_dow,
        |  round(CAST(sum_dow AS DOUBLE) / CAST(n_dow AS DOUBLE), 6)
        |    AS dow_mean,
        |  cnt * n_dow > sum_dow * 2 AS is_spike,
        |  cnt * n_dow * 2 < sum_dow AS is_dip
        |FROM w ORDER BY group_key, di""".stripMargin),

    // ── Additive seasonal decomposition of per-type daily volume —
    //    [EXT r14]: y = trend (centered 7-day MA) + seasonal (centered
    //    weekday-slot means) + remainder; where ext_weekday_anomaly
    //    flags deviations this SPLITS the series, so an oncall can
    //    tell Monday-dip from feed-decay from incident
    //    (Drift.seasonalDecompose scaladoc).
    Query("ext_seasonal_decompose", (s, dir) =>
      graft.operators.Drift.seasonalDecompose(
        t(s, dir, "events"), col("event_type"), col("ts")),
      // Seasonal-decomposition replay: the weekday-anomaly spine, the
      // same centered-7 window (full-window check), DECIMAL(18,6)
      // detrended quantization, exact slot-mean sums, the identical
      // centering and remainder IEEE chains.
      s"""$DailyCountsSql
        |tr AS (
        |  SELECT *, CASE WHEN COUNT(*) OVER w7 = 7
        |    THEN CAST(SUM(cnt) OVER w7 AS DOUBLE) / 7.0 END AS trend
        |  FROM f WINDOW w7 AS (PARTITION BY group_key ORDER BY di
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |t2 AS (
        |  SELECT *, CAST(round(CAST(cnt AS DOUBLE) - trend, 6)
        |    AS DECIMAL(18,6)) AS det
        |  FROM tr),
        |sl AS (
        |  SELECT group_key, dow,
        |    CAST(SUM(det) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m_raw
        |  FROM t2 WHERE det IS NOT NULL GROUP BY 1, 2),
        |sl2 AS (SELECT *, CAST(m_raw AS DECIMAL(18,6)) AS m_q FROM sl),
        |se AS (
        |  SELECT group_key, dow,
        |    m_raw - CAST(SUM(m_q) OVER (PARTITION BY group_key) AS DOUBLE)
        |      / CAST(COUNT(*) OVER (PARTITION BY group_key) AS DOUBLE)
        |      AS s_w
        |  FROM sl2)
        |SELECT t2.group_key, t2.di, CAST(t2.dow AS BIGINT) AS dow, t2.cnt,
        |  round(trend, 6) AS trend, round(s_w, 6) AS seasonal,
        |  round(CAST(cnt AS DOUBLE) - trend - s_w, 6) AS remainder
        |FROM t2 LEFT JOIN se ON se.group_key = t2.group_key
        |  AND se.dow = t2.dow
        |ORDER BY 1, 2""".stripMargin),

    // ── Benford first-digit screen over order prices: per-digit
    //    observed vs log10(1+1/d) expected share with χ² terms —
    //    the fabricated/truncated-feed ingest gate; STRING digit
    //    extraction (no log10 near powers of ten), all 9 digits kept
    //    (Drift.benfordDigits scaladoc).
    Query("ext_benford", (s, dir) =>
      graft.operators.Drift.benfordDigits(
        t(s, dir, "lineitem"), col("l_extendedprice")),
      // Benford replay: the same STRING first-digit extraction, the
      // Drift.BenfordP literals as a VALUES spine (zero-count digits
      // kept), counts exact, share/e/chi2 the same IEEE chain.
      {
        val spine = graft.operators.Drift.BenfordP
          .map { case (d, p) => s"(CAST($d AS BIGINT), $p)" }.mkString(", ")
        s"""WITH d AS (
           |  SELECT CAST(substr(CAST(CAST(floor(CAST(l_extendedprice AS DOUBLE))
           |    AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
           |  FROM lineitem
           |  WHERE l_extendedprice IS NOT NULL
           |    AND CAST(l_extendedprice AS DOUBLE) >= 1.0),
           |o AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM d GROUP BY 1),
           |tot AS (SELECT CAST(COALESCE(SUM(n_obs), 0) AS BIGINT) AS n_total FROM o),
           |sp AS (SELECT * FROM (VALUES $spine) AS t(digit, p))
           |SELECT sp.digit, CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs,
           |  CASE WHEN n_total > 0 THEN
           |    round(CAST(COALESCE(o.n_obs, 0) AS DOUBLE)
           |      / CAST(n_total AS DOUBLE), 6) END AS share,
           |  round(sp.p, 6) AS expected,
           |  CASE WHEN n_total > 0 THEN
           |    round((CAST(COALESCE(o.n_obs, 0) AS DOUBLE)
           |        - CAST(n_total AS DOUBLE) * sp.p)
           |      * (CAST(COALESCE(o.n_obs, 0) AS DOUBLE)
           |        - CAST(n_total AS DOUBLE) * sp.p)
           |      / (CAST(n_total AS DOUBLE) * sp.p), 9) END AS chi2_term
           |FROM sp CROSS JOIN tot LEFT JOIN o ON o.digit = sp.digit
           |ORDER BY sp.digit""".stripMargin
      }),

    // ── Embedding centroid drift per label between the even and odd
    //    vec_id halves: cosine of per-label per-dim SUM vectors (the
    //    divide-free centroid identity) — the re-embed sanity gate
    //    (Drift.centroidDrift scaladoc).
    Query("ext_centroid_drift", (s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.operators.Drift.centroidDrift(
        e.filter(pmod(col("vec_id"), lit(2)) === 0),
        e.filter(pmod(col("vec_id"), lit(2)) === 1),
        col("label"), col("embedding"))
    },
      // Centroid-drift replay: 64-dim positional sums per (label, half),
      // the divide-free cosine of SUM vectors, 6dp products.
      """WITH d AS (SELECT unnest(range(1, 65)) AS pos),
        |sa AS (
        |  SELECT label AS lab, pos,
        |    CAST(SUM(CAST(round(CAST(embedding[CAST(pos AS INT)] AS DOUBLE), 6)
        |      AS DECIMAL(28,6))) AS DOUBLE) AS s_a
        |  FROM embeddings CROSS JOIN d
        |  WHERE vec_id % 2 = 0 AND label IS NOT NULL
        |    AND embedding[CAST(pos AS INT)] IS NOT NULL
        |  GROUP BY 1, 2),
        |sb AS (
        |  SELECT label AS lab, pos,
        |    CAST(SUM(CAST(round(CAST(embedding[CAST(pos AS INT)] AS DOUBLE), 6)
        |      AS DECIMAL(28,6))) AS DOUBLE) AS s_b
        |  FROM embeddings CROSS JOIN d
        |  WHERE vec_id % 2 = 1 AND label IS NOT NULL
        |    AND embedding[CAST(pos AS INT)] IS NOT NULL
        |  GROUP BY 1, 2),
        |f AS (
        |  SELECT sa.lab,
        |    CAST(SUM(CAST(round(s_a * s_b, 6) AS DECIMAL(28,6))) AS DOUBLE)
        |      AS dot,
        |    CAST(SUM(CAST(round(s_a * s_a, 6) AS DECIMAL(28,6))) AS DOUBLE)
        |      AS na2,
        |    CAST(SUM(CAST(round(s_b * s_b, 6) AS DECIMAL(28,6))) AS DOUBLE)
        |      AS nb2
        |  FROM sa JOIN sb ON sa.lab = sb.lab AND sa.pos = sb.pos
        |  GROUP BY 1),
        |na AS (SELECT label AS lab, CAST(COUNT(*) AS BIGINT) AS n_a
        |       FROM embeddings WHERE vec_id % 2 = 0 AND label IS NOT NULL
        |       GROUP BY 1),
        |nb AS (SELECT label AS lab, CAST(COUNT(*) AS BIGINT) AS n_b
        |       FROM embeddings WHERE vec_id % 2 = 1 AND label IS NOT NULL
        |       GROUP BY 1)
        |SELECT f.lab AS label, n_a, n_b,
        |  CASE WHEN na2 > 0 AND nb2 > 0 THEN
        |    round(dot / (sqrt(na2) * sqrt(nb2)), 6) END AS cos_drift
        |FROM f JOIN na ON f.lab = na.lab JOIN nb ON f.lab = nb.lab
        |ORDER BY label""".stripMargin)
  )
}
