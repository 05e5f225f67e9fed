package graft.queries

import org.apache.spark.sql.functions._

import graft.queries.Query._

/** Privacy checks: k-anonymity, l-diversity, t-closeness and
  * differentially private counts. */
object PrivacyQueries {

  def all: Seq[Query] = Seq(
    // ── t-closeness audit — [EXT r15]: the third rung of the release
    //    ladder after ext_k_anonymity / ext_l_diversity — bounds the
    //    sensitive DISTRIBUTION per quasi-group via ordered EMD
    //    (cumulative share differences over acctbal bands); a
    //    "diverse" group whose salary mix sits far from the
    //    population still leaks (Privacy.tCloseness scaladoc).
    Query("ext_t_closeness", (s, dir) =>
      graft.operators.Privacy.tCloseness(t(s, dir, "customer"), Seq(
        "c_nationkey" -> col("c_nationkey"),
        "c_mktsegment" -> col("c_mktsegment")),
        sensitive = floor(col("c_acctbal") / 1000).cast("long"), t = 0.2)
        .orderBy("c_nationkey", "c_mktsegment"),
      // t-closeness replay: same acctbal bands, (group × global-band)
      // spine, ordered cumulative share diffs, |cum| quantized to
      // DECIMAL(18,6) before the order-free sum, one divide by k-1.
      """WITH base AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS s
        |  FROM customer
        |  WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
        |    AND c_acctbal IS NOT NULL),
        |gd AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS gc
        |         FROM base GROUP BY 1),
        |gt AS (SELECT CAST(SUM(gc) AS BIGINT) AS gn,
        |         CAST(COUNT(*) AS BIGINT) AS k FROM gd),
        |cells AS (
        |  SELECT c_nationkey, c_mktsegment, s, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM base GROUP BY 1, 2, 3),
        |grp AS (
        |  SELECT c_nationkey, c_mktsegment, CAST(SUM(c) AS BIGINT) AS n
        |  FROM cells GROUP BY 1, 2),
        |cum AS (
        |  SELECT g.c_nationkey, g.c_mktsegment, g.n,
        |    SUM(CAST(COALESCE(ce.c, 0) AS DOUBLE) / CAST(g.n AS DOUBLE)
        |        - CAST(gl.gc AS DOUBLE) / CAST(gt.gn AS DOUBLE))
        |      OVER (PARTITION BY g.c_nationkey, g.c_mktsegment
        |        ORDER BY gl.s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cd
        |  FROM grp g CROSS JOIN gd gl CROSS JOIN gt
        |  LEFT JOIN cells ce ON ce.c_nationkey = g.c_nationkey
        |    AND ce.c_mktsegment = g.c_mktsegment AND ce.s = gl.s),
        |terms AS (
        |  SELECT c_nationkey, c_mktsegment, n,
        |    CAST(abs(cd) AS DECIMAL(18,6)) AS term
        |  FROM cum),
        |emd AS (
        |  SELECT c_nationkey, c_mktsegment, n,
        |    round(CASE WHEN (SELECT k FROM gt) > 1
        |      THEN CAST(SUM(term) AS DOUBLE)
        |        / CAST((SELECT k FROM gt) - 1 AS DOUBLE)
        |      ELSE 0.0 END, 6) AS emd
        |  FROM terms GROUP BY 1, 2, 3)
        |SELECT c_nationkey, c_mktsegment, n, emd, emd > 0.2 AS at_risk
        |FROM emd ORDER BY c_nationkey, c_mktsegment""".stripMargin),

    // ── k-anonymity audit over (nation, market segment) as the
    //    quasi-identifier tuple: every combination with its occupancy
    //    and the n < 5 re-identification flag — all combinations kept
    //    (Privacy.kAnonymity scaladoc; pure integer arithmetic).
    Query("ext_k_anonymity", (s, dir) =>
      graft.operators.Privacy.kAnonymity(t(s, dir, "customer"), Seq(
        "c_nationkey" -> col("c_nationkey"),
        "c_mktsegment" -> col("c_mktsegment")), k = 5)
        .orderBy("c_nationkey", "c_mktsegment"),
      // k-anonymity replay: one GROUP BY, one integer comparison.
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  COUNT(*) < 5 AS at_risk
        |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ── ℓ-diversity audit over the same quasi-identifier pair —
    //    [EXT r14]: the attribute-disclosure gate k-anonymity misses
    //    (a large group whose SENSITIVE value is homogeneous still
    //    leaks); sensitive = account-balance band (1000s), distinct-ℓ +
    //    entropy-ℓ with 6dp-quantized entropy terms
    //    (Privacy.lDiversity scaladoc).
    Query("ext_l_diversity", (s, dir) =>
      graft.operators.Privacy.lDiversity(t(s, dir, "customer"), Seq(
        "c_nationkey" -> col("c_nationkey"),
        "c_mktsegment" -> col("c_mktsegment")),
        sensitive = floor(col("c_acctbal") / 1000).cast("long"), l = 3)
        .orderBy("c_nationkey", "c_mktsegment"),
      // ℓ-diversity replay: identical class collapse ('__null__' kept),
      // windowed group totals, 6dp-quantized p·ln p terms, exp(−H), the
      // same flag.
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    COALESCE(CAST(CAST(floor(c_acctbal / 1000) AS BIGINT)
        |      AS VARCHAR), '__null__') AS s,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM customer GROUP BY 1, 2, 3),
        |g AS (
        |  SELECT *,
        |    CAST(SUM(c) OVER (PARTITION BY c_nationkey, c_mktsegment)
        |      AS BIGINT) AS n
        |  FROM cls),
        |t AS (
        |  SELECT *,
        |    CAST((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |      AS DECIMAL(18,6)) AS term
        |  FROM g)
        |SELECT c_nationkey, c_mktsegment,
        |  MAX(n) AS n,
        |  CAST(COUNT(*) AS BIGINT) AS l_distinct,
        |  round(exp(-CAST(SUM(term) AS DOUBLE)), 4) AS entropy_l,
        |  CAST(COUNT(*) AS BIGINT) < 3 AS at_risk
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ── ε-DP count release per event type: real Laplace calibration,
    //    SEEDED md5-derived uniforms (replayable release — re-running
    //    must not refresh the noise), the 13-hex-digit positional
    //    uniform and 9dp-quantized ln (Privacy.dpLaplaceCounts
    //    scaladoc).
    Query("ext_dp_counts", (s, dir) =>
      graft.operators.Privacy.dpLaplaceCounts(
        t(s, dir, "events"), col("event_type"), epsilon = 1.0)
        .orderBy("group_key"),
      // DP-counts replay: md5(key || ':42'), the 13-digit positional
      // uniform over 2^52 (exact power-of-two divide), 9dp-quantized ln,
      // 6dp noise — the identical deterministic release.
      """WITH g AS (
        |  SELECT COALESCE(CAST(event_type AS VARCHAR), '__null__')
        |    AS group_key, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |hh AS (SELECT group_key, n, md5(group_key || ':42') AS h FROM g),
        |u AS (SELECT group_key, n,
        |  (CAST((
        |    (strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 281474976710656
        |    + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 17592186044416
        |    + (strpos('0123456789abcdef', substring(h, 3, 1)) - 1) * 1099511627776
        |    + (strpos('0123456789abcdef', substring(h, 4, 1)) - 1) * 68719476736
        |    + (strpos('0123456789abcdef', substring(h, 5, 1)) - 1) * 4294967296
        |    + (strpos('0123456789abcdef', substring(h, 6, 1)) - 1) * 268435456
        |    + (strpos('0123456789abcdef', substring(h, 7, 1)) - 1) * 16777216
        |    + (strpos('0123456789abcdef', substring(h, 8, 1)) - 1) * 1048576
        |    + (strpos('0123456789abcdef', substring(h, 9, 1)) - 1) * 65536
        |    + (strpos('0123456789abcdef', substring(h, 10, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substring(h, 11, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substring(h, 12, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substring(h, 13, 1)) - 1) * 1
        |  ) AS DOUBLE) + 0.5) / 4503599627370496.0 AS u
        |  FROM hh)
        |SELECT group_key,
        |  round(CAST(n AS DOUBLE) + round(
        |    (CASE WHEN u - 0.5 >= 0 THEN -1.0 ELSE 1.0 END)
        |      * round(ln(1.0 - 2.0 * abs(u - 0.5)), 9) / 1.0, 6), 6)
        |    AS noisy_n,
        |  CAST(1.0 AS DOUBLE) AS epsilon
        |FROM u ORDER BY group_key""".stripMargin)
  )
}
