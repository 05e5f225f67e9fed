package graft.queries

import org.apache.spark.sql.functions._

import graft.queries.Query._

/** Experiment analysis: A/B tests, CUPED, bootstrap intervals, rank
  * tests, difference-in-differences, matching and SRM checks. */
object ExperimentQueries {

  def all: Seq[Query] = Seq(
    // ── CUPED variance-reduced A/B — [EXT r13]: per-user pre-period
    //    (Jan 1–15) mean value as the covariate, post-period mean as
    //    the metric, arm by user parity; θ pooled, adjusted arm means
    //    by linearity — one scan, one output row
    //    (Experiment.cupedAdjusted scaladoc).
    Query("ext_cuped", (s, dir) => {
      val cut = lit(java.sql.Date.valueOf("2024-01-16"))
      val pre = to_date(col("ts")) < cut
      val units = t(s, dir, "events")
        .groupBy("user_id")
        .agg(
          sum(when(pre, round(col("value"), 6).cast("decimal(18,6)"))).as("sx"),
          count(when(pre, lit(1))).as("nx"),
          sum(when(!pre, round(col("value"), 6).cast("decimal(18,6)"))).as("sy"),
          count(when(!pre, lit(1))).as("ny"))
        .filter(col("nx") > 0 && col("ny") > 0)
        .select(
          when(pmod(col("user_id"), lit(2)) === 0, "control")
            .otherwise("treat").as("arm"),
          round(col("sx").cast("double") / col("nx").cast("double"), 6).as("x"),
          round(col("sy").cast("double") / col("ny").cast("double"), 6).as("y"))
      graft.operators.Experiment.cupedAdjusted(
        units, col("arm"), col("y"), col("x"), "control", "treat")
    },
      // CUPED replay: per-user pre/post means (decimal sums, 6dp), pooled
      // θ from the moment identities, adjusted arm means by linearity —
      // the same IEEE chain the operator runs.
      """WITH u AS (
        |  SELECT user_id,
        |    CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treat' END AS arm,
        |    round(CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
        |        THEN CAST(round(value, 6) AS DECIMAL(18,6)) END) AS DOUBLE)
        |      / COUNT(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
        |              THEN 1 END), 6) AS x,
        |    round(CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
        |        THEN CAST(round(value, 6) AS DECIMAL(18,6)) END) AS DOUBLE)
        |      / COUNT(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
        |              THEN 1 END), 6) AS y
        |  FROM events GROUP BY 1, 2
        |  HAVING COUNT(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
        |           THEN 1 END) > 0
        |     AND COUNT(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
        |           THEN 1 END) > 0),
        |a AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(SUM(CASE WHEN arm = 'treat' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b,
        |    CAST(SUM(CASE WHEN arm = 'control'
        |      THEN CAST(x AS DECIMAL(28,6)) END) AS DOUBLE) AS sxa,
        |    CAST(SUM(CASE WHEN arm = 'treat'
        |      THEN CAST(x AS DECIMAL(28,6)) END) AS DOUBLE) AS sxb,
        |    CAST(SUM(CASE WHEN arm = 'control'
        |      THEN CAST(y AS DECIMAL(28,6)) END) AS DOUBLE) AS sya,
        |    CAST(SUM(CASE WHEN arm = 'treat'
        |      THEN CAST(y AS DECIMAL(28,6)) END) AS DOUBLE) AS syb,
        |    CAST(SUM(CAST(round(x * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(round(x * x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxx
        |  FROM u),
        |m AS (
        |  SELECT *,
        |    CAST(n_a + n_b AS DOUBLE) AS n,
        |    (sxa + sxb) / CAST(n_a + n_b AS DOUBLE) AS meanx,
        |    (sya + syb) / CAST(n_a + n_b AS DOUBLE) AS meany
        |  FROM a),
        |th AS (
        |  SELECT *,
        |    CASE WHEN (sxx / n - meanx * meanx) > 0
        |      THEN (sxy / n - meanx * meany) / (sxx / n - meanx * meanx)
        |      ELSE 0.0 END AS theta
        |  FROM m)
        |SELECT n_a, n_b,
        |  round(sya / n_a, 6) AS mean_y_a,
        |  round(syb / n_b, 6) AS mean_y_b,
        |  round(syb / n_b - sya / n_a, 6) AS lift,
        |  round(theta, 6) AS theta,
        |  round(sya / n_a - theta * (sxa / n_a - meanx), 6) AS adj_mean_y_a,
        |  round(syb / n_b - theta * (sxb / n_b - meanx), 6) AS adj_mean_y_b,
        |  round((syb / n_b - theta * (sxb / n_b - meanx))
        |      - (sya / n_a - theta * (sxa / n_a - meanx)), 6) AS adj_lift
        |FROM th""".stripMargin),

    // ── Experiment readout: per-user conversion (any purchase event)
    //    split by user_id parity, two-proportion z-test — every
    //    arithmetic step IEEE-exact, so the statistic needs no
    //    quantization at all (operators.Experiment scaladoc).
    Query("ext_ab_test", (s, dir) => {
      // outcome = "power purchaser" (>= 14 purchase events): splits the
      // user base near the median at every scale factor — a plain
      // any-purchase outcome converts EVERYONE (se = 0, no statistic)
      val users = t(s, dir, "events")
        .groupBy("user_id")
        .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          >= 14L).as("converted"))
        .withColumn("arm",
          when(col("user_id") % 2 === 0, "control").otherwise("treat"))
      graft.operators.Experiment.abTest(
        users, col("arm"), col("converted"), "control", "treat")
    },
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
        |      AS INT) AS conv,
        |    CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treat' END AS arm
        |  FROM events GROUP BY user_id),
        |pa AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a,
        |              CAST(SUM(conv) AS BIGINT) AS conv_a
        |       FROM u WHERE arm = 'control'),
        |pb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b,
        |              CAST(SUM(conv) AS BIGINT) AS conv_b
        |       FROM u WHERE arm = 'treat')
        |SELECT n_a, conv_a,
        |  round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS rate_a,
        |  n_b, conv_b,
        |  round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS rate_b,
        |  round(CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
        |       THEN 0.0 ELSE
        |       (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |       - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |    / sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |         * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |         * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) END, 6)
        |    AS z,
        |  abs(CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
        |       THEN 0.0 ELSE
        |      (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |     - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |    / sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |         * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |         * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) END)
        |    >= 1.96 AS significant
        |FROM pa CROSS JOIN pb""".stripMargin),

    // ── Poisson-bootstrap confidence intervals — [EXT r12]: per-type
    //    mean event value with a 95% percentile CI from 40 seed-free
    //    md5-weighted replicates; one scan, |groups|·41-row shuffle
    //    (Experiment.bootstrapCI scaladoc — the Chamandy et al. recipe,
    //    the only bootstrap that works distributedly).
    Query("ext_bootstrap_ci", (s, dir) =>
      graft.operators.Experiment.bootstrapCI(
        t(s, dir, "events"), col("event_type"), col("event_id"),
        col("value"), replicates = 40, confidence = 0.95),
      // Pure IEEE replay: counts, divides, sqrt — bit-exact with no
      // quantization (the Experiment scaladoc's determinism class).
      // Poisson-bootstrap replay: one md5 digest per (unit, digest-index)
      // sliced into four disjoint 8-hex windows (replicate r = 4d + win),
      // the frozen PoissonCumHex thresholds (lexicographic == numeric),
      // 6dp decimal weighted sums, one IEEE divide per replicate mean,
      // rank-1/rank-39 order statistics with the (mean, r) tie-break and
      // NULLS LAST (all-zero replicates of tiny groups sort last).
      """WITH base AS (
        |  SELECT event_type AS group_key, CAST(event_id AS VARCHAR) AS sid,
        |    CAST(round(value, 6) AS DECIMAL(28,6)) AS x
        |  FROM events WHERE value IS NOT NULL),
        |hx AS (
        |  SELECT b.group_key, b.x, t.d,
        |    CASE WHEN t.d >= 0
        |      THEN md5(b.sid || ':' || CAST(t.d AS VARCHAR)) END AS h
        |  FROM base b
        |  CROSS JOIN (SELECT unnest(range(-1, 10)) AS d) t),
        |wn AS (
        |  SELECT group_key, x, d, h,
        |    unnest(CASE WHEN d = -1 THEN [-1]
        |           ELSE [0, 1, 2, 3] END) AS win
        |  FROM hx),
        |w AS (
        |  SELECT group_key,
        |    CASE WHEN d = -1 THEN -1 ELSE d * 4 + win END AS r,
        |    x,
        |    CASE WHEN d = -1 THEN 1
        |      WHEN substr(h, win * 8 + 1, 8) < '5e2d58d8' THEN 0
        |      WHEN substr(h, win * 8 + 1, 8) < 'bc5ab1b1' THEN 1
        |      WHEN substr(h, win * 8 + 1, 8) < 'eb715e1d' THEN 2
        |      WHEN substr(h, win * 8 + 1, 8) < 'fb239797' THEN 3
        |      WHEN substr(h, win * 8 + 1, 8) < 'ff1025f5' THEN 4
        |      WHEN substr(h, win * 8 + 1, 8) < 'ffd90f3b' THEN 5
        |      WHEN substr(h, win * 8 + 1, 8) < 'fffa8b71' THEN 6
        |      ELSE 7 END AS w
        |  FROM wn),
        |m AS (
        |  SELECT group_key, r, SUM(w) AS sw, SUM(w * x) AS swx
        |  FROM w GROUP BY 1, 2),
        |mm AS (
        |  SELECT group_key, r, sw,
        |    CASE WHEN sw > 0
        |      THEN round(CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE), 6)
        |    END AS mean_r
        |  FROM m),
        |pt AS (
        |  SELECT group_key, CAST(sw AS BIGINT) AS n, mean_r AS mean
        |  FROM mm WHERE r = -1),
        |rk AS (
        |  SELECT group_key, mean_r,
        |    ROW_NUMBER() OVER (PARTITION BY group_key
        |      ORDER BY mean_r ASC NULLS LAST, r) AS rn
        |  FROM mm WHERE r >= 0),
        |ci AS (
        |  SELECT group_key,
        |    MIN(CASE WHEN rn = 1 THEN mean_r END) AS ci_lo,
        |    MIN(CASE WHEN rn = 39 THEN mean_r END) AS ci_hi
        |  FROM rk GROUP BY 1)
        |SELECT p.group_key, p.n, p.mean, c.ci_lo, c.ci_hi
        |FROM pt p JOIN ci c USING (group_key)
        |ORDER BY group_key""".stripMargin),

    // ── Welch's unequal-variance t between the click and view arms on
    //    event value — the continuous-metric A/B readout next to
    //    ext_ab_test's proportion z and ext_cuped's variance-reduced
    //    mean (Experiment.welchT scaladoc; one conditional
    //    aggregation, one row).
    Query("ext_welch_t", (s, dir) =>
      graft.operators.Experiment.welchT(t(s, dir, "events"),
        col("event_type"), col("value"), "click", "view"),
      // Welch replay: the same 6 conditional decimal sums, means and
      // moment-identity variances (clamped at 0) in IEEE doubles, t and
      // Welch-Satterthwaite df via the identical expression tree.
      """WITH b AS (
        |  SELECT event_type AS arm, round(CAST(value AS DOUBLE), 6) AS x
        |  FROM events
        |  WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
        |g AS (SELECT
        |    CAST(COALESCE(SUM(CASE WHEN arm = 'click' THEN 1 END), 0)
        |      AS BIGINT) AS n_a,
        |    CAST(COALESCE(SUM(CASE WHEN arm = 'view' THEN 1 END), 0)
        |      AS BIGINT) AS n_b,
        |    SUM(CASE WHEN arm = 'click'
        |      THEN CAST(x AS DECIMAL(38,6)) END) AS sa,
        |    SUM(CASE WHEN arm = 'view'
        |      THEN CAST(x AS DECIMAL(38,6)) END) AS sb,
        |    SUM(CASE WHEN arm = 'click'
        |      THEN CAST(round(x * x, 4) AS DECIMAL(38,4)) END) AS qa,
        |    SUM(CASE WHEN arm = 'view'
        |      THEN CAST(round(x * x, 4) AS DECIMAL(38,4)) END) AS qb
        |  FROM b),
        |m AS (SELECT n_a, n_b,
        |    CASE WHEN n_a > 0
        |      THEN CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) END AS ma,
        |    CASE WHEN n_b > 0
        |      THEN CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) END AS mb,
        |    CASE WHEN n_a >= 2 THEN greatest(
        |      (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
        |        / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0),
        |      0.0) END AS va,
        |    CASE WHEN n_b >= 2 THEN greatest(
        |      (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
        |        / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0),
        |      0.0) END AS vb
        |  FROM g),
        |m2 AS (SELECT *, va / CAST(n_a AS DOUBLE) AS ra,
        |    vb / CAST(n_b AS DOUBLE) AS rb
        |  FROM m),
        |m3 AS (SELECT *, ra + rb AS se2 FROM m2)
        |SELECT n_a, n_b,
        |  round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        |  round(va, 6) AS var_a, round(vb, 6) AS var_b,
        |  CASE WHEN sqrt(se2) > 0.0
        |    THEN round((ma - mb) / sqrt(se2), 6) END AS t,
        |  CASE WHEN se2 > 0.0 THEN round((se2 * se2)
        |    / (ra * ra / (CAST(n_a AS DOUBLE) - 1.0)
        |      + rb * rb / (CAST(n_b AS DOUBLE) - 1.0)), 6) END AS df
        |FROM m3""".stripMargin),

    // ── Mann–Whitney U between the same two arms: the rank-sum
    //    stochastic-dominance test for heavy-tailed metrics —
    //    integer-exact average ranks in half-units over the spearman
    //    grouped-value window, tie-corrected normal z
    //    (Experiment.mannWhitneyU scaladoc).
    Query("ext_mann_whitney", (s, dir) =>
      graft.operators.Experiment.mannWhitneyU(t(s, dir, "events"),
        col("event_type"), col("value"), "click", "view"),
      // Mann-Whitney replay: grouped-value counts, the spearman
      // 2-avgrank cumulative window, DECIMAL(19,0)-operand exact sums,
      // the tie-corrected z in the identical IEEE expression tree.
      """WITH r AS (
        |  SELECT event_type AS arm, round(CAST(value AS DOUBLE), 6) AS v
        |  FROM events
        |  WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
        |c AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    CAST(COALESCE(SUM(CASE WHEN arm = 'click' THEN 1 END), 0)
        |      AS BIGINT) AS cnt_a
        |  FROM r GROUP BY 1),
        |rk AS (SELECT cnt, cnt_a,
        |    2 * (SUM(cnt) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
        |      + cnt + 1 AS r2
        |  FROM c),
        |g AS (SELECT
        |    CAST(COALESCE(SUM(cnt_a), 0) AS BIGINT) AS n_a,
        |    CAST(COALESCE(SUM(cnt - cnt_a), 0) AS BIGINT) AS n_b,
        |    COALESCE(SUM(CAST(cnt_a AS DECIMAL(19,0))
        |      * CAST(r2 AS DECIMAL(19,0))),
        |      CAST(0 AS DECIMAL(38,0))) AS r2a,
        |    COALESCE(SUM(CAST(cnt * cnt AS DECIMAL(19,0))
        |      * CAST(cnt AS DECIMAL(19,0)) - cnt),
        |      CAST(0 AS DECIMAL(38,0))) AS t3
        |  FROM rk),
        |g2 AS (SELECT n_a, n_b,
        |    (CAST(r2a AS DOUBLE) - CAST(n_a AS DOUBLE)
        |      * (CAST(n_a AS DOUBLE) + 1.0)) / 2.0 AS u_a,
        |    CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
        |      * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
        |        - CAST(t3 AS DOUBLE)
        |          / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
        |            * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0)))
        |      AS sigma2
        |  FROM g)
        |SELECT n_a, n_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN u_a END AS u_a,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND sigma2 > 0.0 THEN
        |    round((u_a - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
        |      / sqrt(sigma2), 6) END AS z
        |FROM g2""".stripMargin),

    // ── Difference-in-differences across the ext_cuped cutoff
    //    (2024-01-16) with the user_id%2 cohorts — [EXT r14]: nets out
    //    cohort gap + common time trend in one 4-cell conditional
    //    aggregation; SE from the welchT moment identity per cell
    //    (Experiment.diffInDiff scaladoc).
    Query("ext_diff_in_diff", (s, dir) =>
      graft.operators.Experiment.diffInDiff(
        t(s, dir, "events"),
        treated = pmod(col("user_id"), lit(2)) === 1,
        post = to_date(col("ts")) >= lit(java.sql.Date.valueOf("2024-01-16")),
        value = col("value")),
      // DiD replay: the same 4-cell conditional decimal sums, means,
      // per-cell moment-identity variance/n terms, did/se/t via the
      // identical IEEE expression tree (subtraction order preserved).
      """WITH b AS (
        |  SELECT user_id % 2 = 1 AS tr,
        |    CAST(ts AS DATE) >= DATE '2024-01-16' AS po,
        |    round(CAST(value AS DOUBLE), 6) AS x
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |g AS (SELECT
        |    CAST(COALESCE(SUM(CASE WHEN NOT tr AND NOT po THEN 1 END), 0)
        |      AS BIGINT) AS n_c_pre,
        |    CAST(COALESCE(SUM(CASE WHEN NOT tr AND po THEN 1 END), 0)
        |      AS BIGINT) AS n_c_post,
        |    CAST(COALESCE(SUM(CASE WHEN tr AND NOT po THEN 1 END), 0)
        |      AS BIGINT) AS n_t_pre,
        |    CAST(COALESCE(SUM(CASE WHEN tr AND po THEN 1 END), 0)
        |      AS BIGINT) AS n_t_post,
        |    SUM(CASE WHEN NOT tr AND NOT po
        |      THEN CAST(x AS DECIMAL(38,6)) END) AS s_c_pre,
        |    SUM(CASE WHEN NOT tr AND po
        |      THEN CAST(x AS DECIMAL(38,6)) END) AS s_c_post,
        |    SUM(CASE WHEN tr AND NOT po
        |      THEN CAST(x AS DECIMAL(38,6)) END) AS s_t_pre,
        |    SUM(CASE WHEN tr AND po
        |      THEN CAST(x AS DECIMAL(38,6)) END) AS s_t_post,
        |    SUM(CASE WHEN NOT tr AND NOT po
        |      THEN CAST(round(x * x, 4) AS DECIMAL(38,4)) END) AS q_c_pre,
        |    SUM(CASE WHEN NOT tr AND po
        |      THEN CAST(round(x * x, 4) AS DECIMAL(38,4)) END) AS q_c_post,
        |    SUM(CASE WHEN tr AND NOT po
        |      THEN CAST(round(x * x, 4) AS DECIMAL(38,4)) END) AS q_t_pre,
        |    SUM(CASE WHEN tr AND po
        |      THEN CAST(round(x * x, 4) AS DECIMAL(38,4)) END) AS q_t_post
        |  FROM b),
        |m AS (SELECT *,
        |    CASE WHEN n_c_pre > 0 THEN CAST(s_c_pre AS DOUBLE)
        |      / CAST(n_c_pre AS DOUBLE) END AS m_c_pre,
        |    CASE WHEN n_c_post > 0 THEN CAST(s_c_post AS DOUBLE)
        |      / CAST(n_c_post AS DOUBLE) END AS m_c_post,
        |    CASE WHEN n_t_pre > 0 THEN CAST(s_t_pre AS DOUBLE)
        |      / CAST(n_t_pre AS DOUBLE) END AS m_t_pre,
        |    CASE WHEN n_t_post > 0 THEN CAST(s_t_post AS DOUBLE)
        |      / CAST(n_t_post AS DOUBLE) END AS m_t_post,
        |    CASE WHEN n_c_pre >= 2 THEN greatest(
        |      (CAST(q_c_pre AS DOUBLE) - CAST(s_c_pre AS DOUBLE)
        |        * CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE))
        |      / (CAST(n_c_pre AS DOUBLE) - 1.0), 0.0) END
        |      / CAST(n_c_pre AS DOUBLE) AS r_c_pre,
        |    CASE WHEN n_c_post >= 2 THEN greatest(
        |      (CAST(q_c_post AS DOUBLE) - CAST(s_c_post AS DOUBLE)
        |        * CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE))
        |      / (CAST(n_c_post AS DOUBLE) - 1.0), 0.0) END
        |      / CAST(n_c_post AS DOUBLE) AS r_c_post,
        |    CASE WHEN n_t_pre >= 2 THEN greatest(
        |      (CAST(q_t_pre AS DOUBLE) - CAST(s_t_pre AS DOUBLE)
        |        * CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE))
        |      / (CAST(n_t_pre AS DOUBLE) - 1.0), 0.0) END
        |      / CAST(n_t_pre AS DOUBLE) AS r_t_pre,
        |    CASE WHEN n_t_post >= 2 THEN greatest(
        |      (CAST(q_t_post AS DOUBLE) - CAST(s_t_post AS DOUBLE)
        |        * CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE))
        |      / (CAST(n_t_post AS DOUBLE) - 1.0), 0.0) END
        |      / CAST(n_t_post AS DOUBLE) AS r_t_post
        |  FROM g),
        |m2 AS (SELECT *,
        |    (m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS did,
        |    sqrt(r_c_pre + r_c_post + r_t_pre + r_t_post) AS se
        |  FROM m)
        |SELECT n_c_pre, n_c_post, n_t_pre, n_t_post,
        |  round(m_c_pre, 6) AS mean_c_pre,
        |  round(m_c_post, 6) AS mean_c_post,
        |  round(m_t_pre, 6) AS mean_t_pre,
        |  round(m_t_post, 6) AS mean_t_post,
        |  round(did, 6) AS did, round(se, 6) AS se,
        |  CASE WHEN se > 0.0 THEN round(did / se, 6) END AS t
        |FROM m2""".stripMargin),

    // ── Propensity-style nearest-score matching with replacement —
    //    [EXT r14]: every odd-user (treated) unit matches the
    //    closest even-user control on its 6dp mean event value via two
    //    window reads over ONE sort (no join); unmatched treated rows
    //    stay visible with NULL controls
    //    (Experiment.nearestScoreMatch scaladoc).
    Query("ext_psm_match", (s, dir) => {
      val units = t(s, dir, "events")
        .groupBy("user_id")
        .agg(
          round(sum(round(col("value"), 6).cast("decimal(18,6)"))
            .cast("double") / count(lit(1)).cast("double"), 6).as("score"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("purchases"))
      graft.operators.Experiment.nearestScoreMatch(
        units, col("user_id"),
        treated = pmod(col("user_id"), lit(2)) === 1,
        score = col("score"), outcome = col("purchases"),
        caliper = 2.0)
    },
      // PSM replay: identical unit collapse (4dp decimal-mean score),
      // one sort, the same below/above IGNORE NULLS window reads, the
      // same pick rule (tie below, caliper 2.0).
      """WITH units AS (
        |  SELECT user_id,
        |    round(CAST(SUM(CAST(round(CAST(value AS DOUBLE), 6)
        |        AS DECIMAL(18,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE),
        |      6) AS score,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS purchases
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT user_id AS uid, user_id % 2 = 1 AS tr,
        |    round(score, 6) AS s,
        |    round(CAST(purchases AS DOUBLE), 6) AS y
        |  FROM units WHERE user_id IS NOT NULL AND score IS NOT NULL),
        |w AS (
        |  SELECT *,
        |    last_value(CASE WHEN NOT tr
        |        THEN struct_pack(s := s, uid := uid, y := y) END
        |        IGNORE NULLS)
        |      OVER (ORDER BY s, CAST(tr AS INT), uid
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lo,
        |    first_value(CASE WHEN NOT tr
        |        THEN struct_pack(s := s, uid := uid, y := y) END
        |        IGNORE NULLS)
        |      OVER (ORDER BY s, CAST(tr AS INT), uid
        |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS hi
        |  FROM m),
        |p AS (
        |  SELECT *, CASE WHEN lo IS NOT NULL AND (hi IS NULL
        |      OR (s - (lo).s) <= ((hi).s - s)) THEN lo ELSE hi END AS pk
        |  FROM w WHERE tr),
        |p2 AS (
        |  SELECT *, CASE WHEN abs((pk).s - s) <= 2.0 THEN pk END AS mt
        |  FROM p)
        |SELECT uid AS t_id, (mt).uid AS c_id,
        |  s AS score_t, (mt).s AS score_c,
        |  round(abs((mt).s - s), 6) AS gap,
        |  y AS y_t, (mt).y AS y_c
        |FROM p2 ORDER BY t_id""".stripMargin),

    // ── Sample-ratio-mismatch gate on the click/view split against a
    //    50/50 design: χ² goodness-of-fit with zero-count designed arms
    //    kept and undesigned arms failing loudly
    //    (Experiment.sampleRatioCheck scaladoc).
    Query("ext_srm_check", (s, dir) =>
      graft.operators.Experiment.sampleRatioCheck(
        t(s, dir, "events").filter(col("event_type").isin("click", "view")),
        col("event_type"),
        Seq("click" -> 0.5, "view" -> 0.5)),
      // SRM replay: designed-arm VALUES spine, zero-count arms kept,
      // 9dp terms, the decimal-summed verdict.
      """WITH o AS (
        |  SELECT CAST(event_type AS VARCHAR) AS arm,
        |    CAST(COUNT(*) AS BIGINT) AS n_obs
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY 1),
        |tot AS (SELECT CAST(COALESCE(SUM(n_obs), 0) AS BIGINT) AS n_total
        |        FROM o),
        |sp AS (SELECT * FROM (VALUES ('click', 0.5), ('view', 0.5))
        |       AS t(arm, share)),
        |terms AS (
        |  SELECT sp.arm, CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs,
        |    CAST(sp.share AS DOUBLE) AS share,
        |    round(CAST(n_total AS DOUBLE) * CAST(sp.share AS DOUBLE), 6)
        |      AS expected_n,
        |    CASE WHEN n_total > 0 THEN round(
        |      (CAST(COALESCE(o.n_obs, 0) AS DOUBLE)
        |        - CAST(n_total AS DOUBLE) * CAST(sp.share AS DOUBLE))
        |      * (CAST(COALESCE(o.n_obs, 0) AS DOUBLE)
        |        - CAST(n_total AS DOUBLE) * CAST(sp.share AS DOUBLE))
        |      / (CAST(n_total AS DOUBLE) * CAST(sp.share AS DOUBLE)), 9)
        |      ELSE 0.0 END AS chi2_term
        |  FROM sp CROSS JOIN tot LEFT JOIN o ON o.arm = sp.arm)
        |SELECT arm, n_obs, share, expected_n, chi2_term,
        |  CAST(SUM(CAST(chi2_term AS DECIMAL(28,9))) OVER () AS DOUBLE)
        |    AS chi2_total,
        |  CAST(SUM(CAST(chi2_term AS DECIMAL(28,9))) OVER () AS DOUBLE)
        |    > 3.841 AS srm
        |FROM terms ORDER BY arm""".stripMargin)
  )
}
