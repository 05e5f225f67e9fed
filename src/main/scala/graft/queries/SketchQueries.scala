package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Sketches
import graft.queries.Query._

/** Streaming-friendly sketches: count-min, KMV, HLL, histogram
  * quantiles, join-size estimates and sketch-based samples. */
object SketchQueries {

  def all: Seq[Query] = Seq(
    // ── Mergeable histogram-quantile rollup — [EXT r13]: fixed-grid
    //    bin counts per event type + a global '__all__' estimate
    //    merged FROM THE GRIDS (the kmv_rollup property for
    //    quantiles); error ≤ one bin width by construction
    //    (Sketches.histQuantileRollup scaladoc).
    Query("ext_hist_quantiles", (s, dir) =>
      Sketches.histQuantileRollup(
        t(s, dir, "events"), col("event_type"), col("value"),
        lo = 0.0, hi = 500.0, bins = 250),
      // Histogram-rollup replay: same clamp/floor binning, '__all__' from
      // summed grids, first-bin-reaching-ceil(p·n) upper edges.
      """WITH b AS (
        |  SELECT event_type AS group_key,
        |    least(greatest(CAST(floor((value - CAST(0.0 AS DOUBLE))
        |      / CAST(2.0 AS DOUBLE)) AS INTEGER), 0), 249) AS bin
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT group_key, bin, COUNT(*) AS c FROM b GROUP BY 1, 2),
        |ga AS (
        |  SELECT group_key, bin, c FROM g
        |  UNION ALL
        |  SELECT '__all__', bin, SUM(c) FROM g GROUP BY 2),
        |cum AS (
        |  SELECT group_key, bin, c,
        |    SUM(c) OVER (PARTITION BY group_key ORDER BY bin) AS cum,
        |    SUM(c) OVER (PARTITION BY group_key) AS n
        |  FROM ga)
        |SELECT group_key, CAST(MAX(n) AS BIGINT) AS n,
        |  round(MIN(CASE WHEN cum >= ceil(0.5 * n) THEN CAST(0.0 AS DOUBLE)
        |    + CAST(bin + 1 AS DOUBLE) * CAST(2.0 AS DOUBLE) END), 6) AS p50,
        |  round(MIN(CASE WHEN cum >= ceil(0.9 * n) THEN CAST(0.0 AS DOUBLE)
        |    + CAST(bin + 1 AS DOUBLE) * CAST(2.0 AS DOUBLE) END), 6) AS p90,
        |  round(MIN(CASE WHEN cum >= ceil(0.99 * n) THEN CAST(0.0 AS DOUBLE)
        |    + CAST(bin + 1 AS DOUBLE) * CAST(2.0 AS DOUBLE) END), 6) AS p99
        |FROM cum GROUP BY 1 ORDER BY group_key""".stripMargin),

    // ── Count–Min sketch point-frequency estimation: depth×width
    //    bounded-state counter array (Sketches.cmSketch scaladoc for
    //    the never-shuffle-a-token plan shape). The exact counts ride
    //    along as the certificate — cms_n ≥ exact_n ALWAYS (one-sided
    //    error is the CMS contract), and at width 64 the collisions are
    //    real, so overcount > 0 rows prove the estimate is the sketch's,
    //    not a smuggled exact count.
    //    The certificate needs exact counts anyway, so the sketch folds
    //    those counts into cells (cmSketchWeighted — addition is
    //    associative, bit-identical to streaming raw occurrences) and
    //    the whole query costs ONE corpus scan + vocabulary-sized ops.
    Query("ext_cms_freq", (s, dir) => {
      val exact = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .where(col("token") =!= "")
        .groupBy("token")
        .agg(count(lit(1)).as("exact_n"))
      val sketch = Sketches.cmSketchWeighted(
        exact, col("token"), col("exact_n"), depth = 3, width = 64)
      val est = Sketches
        .cmsEstimate(sketch, exact.select("token"), col("token"),
          depth = 3, width = 64)
        .withColumnRenamed("item", "token")
      exact.join(est, Seq("token"))
        .withColumn("overcount", col("cms_n") - col("exact_n"))
        .orderBy("token")
    },
      // END-TO-END CMS replay: the same one-md5-sliced-per-row hash, the
      // same depth×width cell grid, the same min-over-rows estimate —
      // plus the exact counts, so every row certifies cms_n >= exact_n.
      // (The oracle streams raw occurrences into cells; the engine folds
      // its exact counts in weighted — addition is associative, so the
      // grids are identical.)
      """WITH occ AS (
        |  SELECT t AS tok FROM (
        |    SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE t <> ''),
        |rows_ AS (SELECT unnest(range(0, 3)) AS i),
        |cells AS (
        |  SELECT o.tok, r.i,
        |    CAST(concat('0x', substr(md5(o.tok), CAST(r.i * 8 + 1 AS INT), 8))
        |      AS BIGINT) % 64 AS cell
        |  FROM occ o CROSS JOIN rows_ r),
        |sk AS (
        |  SELECT i, cell, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM cells GROUP BY 1, 2),
        |q AS (SELECT DISTINCT tok FROM occ),
        |qc AS (
        |  SELECT q.tok, r.i,
        |    CAST(concat('0x', substr(md5(q.tok), CAST(r.i * 8 + 1 AS INT), 8))
        |      AS BIGINT) % 64 AS cell
        |  FROM q CROSS JOIN rows_ r),
        |est AS (
        |  SELECT qc.tok AS token,
        |    CAST(MIN(COALESCE(sk.n, 0)) AS BIGINT) AS cms_n
        |  FROM qc LEFT JOIN sk ON qc.i = sk.i AND qc.cell = sk.cell
        |  GROUP BY 1),
        |ex AS (
        |  SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS exact_n
        |  FROM occ GROUP BY 1)
        |SELECT ex.token, ex.exact_n, est.cms_n,
        |       est.cms_n - ex.exact_n AS overcount
        |FROM ex JOIN est USING (token) ORDER BY token""".stripMargin),

    // ── KMV (k-minimum-values) distinct sketch per event_type over
    //    user_id: mergeable bounded-state cardinality estimation whose
    //    estimate is an exact deterministic function of the k smallest
    //    60-bit md5 hashes — DuckDB replays it bit-for-bit, which HLL
    //    (g3_approx_distinct) cannot offer (Sketches.kmvDistinct
    //    scaladoc for the high-cardinality pre-distinct shape).
    Query("ext_kmv_distinct", (s, dir) =>
      Sketches.kmvDistinct(
        t(s, dir, "events"), col("event_type"), col("user_id"), k = 64)
        .orderBy("group_key"),
      // END-TO-END KMV replay: distinct 60-bit md5-prefix hashes per
      // group, k-th smallest via window rank, the (k-1)*2^60/h_k estimate
      // in the identical IEEE double steps (cast, multiply, divide).
      """WITH d AS (
        |  SELECT DISTINCT event_type AS group_key,
        |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM events),
        |r AS (
        |  SELECT group_key, h,
        |    ROW_NUMBER() OVER (PARTITION BY group_key ORDER BY h) AS rn,
        |    COUNT(*) OVER (PARTITION BY group_key) AS n_exact
        |  FROM d)
        |SELECT group_key, CAST(MAX(n_exact) AS BIGINT) AS n_exact,
        |  round(CASE WHEN MAX(n_exact) < 64 THEN CAST(MAX(n_exact) AS DOUBLE)
        |        ELSE 63.0 * 1152921504606846976.0 /
        |             CAST(MAX(CASE WHEN rn = 64 THEN h END) AS DOUBLE)
        |        END, 4) AS kmv_n
        |FROM r WHERE rn <= 64 GROUP BY group_key ORDER BY group_key""".stripMargin),

    // ── KMV mergeability rollup: the same per-type sketches plus a
    //    global '__all__' estimate merged FROM THE SKETCHES ALONE —
    //    the keep-sketches-not-data property that answers coarser
    //    distinct-counts without re-scanning 100 TB
    //    (Sketches.kmvMergeRollup scaladoc).
    Query("ext_kmv_rollup", (s, dir) =>
      Sketches.kmvMergeRollup(
        t(s, dir, "events"), col("event_type"), col("user_id"), k = 64)
        .orderBy("group_key"),
      // rollup replay: the kmv_distinct hash CTE, per-group top-64 rows
      // as the sketch contents, distinct-union → global rank → the same
      // (k−1)·2^60/h_(k) estimator; NULLS LAST everywhere mirrors the
      // engine's MaxValue sentinel.
      """WITH d AS (
        |  SELECT DISTINCT event_type AS group_key,
        |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM events),
        |r AS (
        |  SELECT group_key, h,
        |    ROW_NUMBER() OVER (PARTITION BY group_key ORDER BY h) AS rn,
        |    COUNT(*) OVER (PARTITION BY group_key) AS n_exact
        |  FROM d),
        |pg AS (
        |  SELECT group_key,
        |    round(CASE WHEN MAX(n_exact) < 64 THEN CAST(MAX(n_exact) AS DOUBLE)
        |          ELSE 63.0 * 1152921504606846976.0 /
        |               CAST(MAX(CASE WHEN rn = 64 THEN h END) AS DOUBLE)
        |          END, 4) AS kmv_n
        |  FROM r WHERE rn <= 64 GROUP BY group_key),
        |md AS (SELECT DISTINCT h FROM r WHERE rn <= 64),
        |mr AS (
        |  SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn,
        |    COUNT(*) OVER () AS n FROM md),
        |mg AS (
        |  SELECT '__all__' AS group_key,
        |    round(CASE WHEN MAX(n) < 64 THEN CAST(MAX(n) AS DOUBLE)
        |          ELSE 63.0 * 1152921504606846976.0 /
        |               CAST(MAX(CASE WHEN rn = 64 THEN h END) AS DOUBLE)
        |          END, 4) AS kmv_n
        |  FROM mr WHERE rn <= 64)
        |SELECT group_key, kmv_n FROM pg
        |UNION ALL SELECT group_key, kmv_n FROM mg
        |ORDER BY group_key""".stripMargin),

    Query("ext_hll_distinct", (s, dir) =>
      Sketches.hllRegisterRollup(
        t(s, dir, "events"), col("event_type"), col("user_id"), p = 8),
      // HLL replay: every register rebuilt from the same md5 bits
      // (bucket = first 2 hex chars, rank from the 52-bit tail's leading
      // zeros), exact BIGINT harmonic numerator, the identical IEEE
      // estimator chain; '__all__' folds registers with max-per-bucket.
      """WITH v AS (
        |  SELECT event_type AS group_key,
        |    md5(CAST(user_id AS VARCHAR)) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |rr AS (
        |  SELECT group_key,
        |    CAST(concat('0x', substr(h, 1, 2)) AS BIGINT) AS b,
        |    length(regexp_extract(substr(h, 3, 13), '^(0*)', 1)) AS z,
        |    substr(h, 3, 13) AS tail
        |  FROM v),
        |r2 AS (
        |  SELECT group_key, b,
        |    CASE WHEN z = 13 THEN 53
        |      ELSE 4 * z + (CASE
        |        WHEN CAST(concat('0x',
        |          substr(tail, CAST(z + 1 AS INT), 1)) AS BIGINT) >= 8 THEN 0
        |        WHEN CAST(concat('0x',
        |          substr(tail, CAST(z + 1 AS INT), 1)) AS BIGINT) >= 4 THEN 1
        |        WHEN CAST(concat('0x',
        |          substr(tail, CAST(z + 1 AS INT), 1)) AS BIGINT) >= 2 THEN 2
        |        ELSE 3 END) + 1 END AS rho
        |  FROM rr),
        |regs AS (
        |  SELECT group_key, b, MAX(rho) AS mj FROM r2 GROUP BY 1, 2),
        |allregs AS (
        |  SELECT '__all__' AS group_key, b, MAX(mj) AS mj
        |  FROM regs GROUP BY 2),
        |unioned AS (SELECT * FROM regs UNION ALL SELECT * FROM allregs),
        |est AS (
        |  SELECT group_key,
        |    CAST(COUNT(*) AS BIGINT) AS n_regs,
        |    CAST(SUM(CAST(1 AS BIGINT) << CAST(53 - mj AS INT))
        |      AS BIGINT) AS s_present
        |  FROM unioned GROUP BY 1),
        |fin AS (
        |  SELECT group_key, n_regs,
        |    CAST(256 - n_regs AS BIGINT) AS v_zero,
        |    0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0
        |      / CAST(s_present + (256 - n_regs) * 9007199254740992
        |        AS DOUBLE) AS raw
        |  FROM est)
        |SELECT group_key, n_regs, v_zero,
        |  round(CASE WHEN raw <= 640.0 AND v_zero > 0
        |    THEN 256.0 * ln(256.0 / CAST(v_zero AS DOUBLE))
        |    ELSE raw END, 4) AS hll_n
        |FROM fin ORDER BY group_key""".stripMargin),

    // ── Sketch-based join-size estimation — [EXT r12]: the planning
    //    statistic computed BEFORE committing to a join strategy; KMV
    //    sketches of both key columns → union/intersection/Jaccard and
    //    the avg-multiplicity equi-join row estimate, one scan per side
    //    (Sketches.joinSizeEstimate scaladoc).
    Query("ext_join_size_est", (s, dir) =>
      Sketches.joinSizeEstimate(
        t(s, dir, "orders"), col("o_custkey"),
        t(s, dir, "customer"), col("c_custkey"), k = 128),
      // Join-size replay: the kmv hash/rank chain per side, sketch
      // contents = top-128 rows, union-of-sketches ranked again for the
      // k-th-minimum union estimate, coincidence count over the k
      // smallest, then the containment x avg-multiplicity model — every
      // step integer or IEEE-exact, rounded where the engine rounds.
      """WITH ha AS (
        |  SELECT DISTINCT CAST(concat('0x',
        |    substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM orders WHERE o_custkey IS NOT NULL),
        |ra AS (
        |  SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn,
        |    COUNT(*) OVER () AS dx FROM ha),
        |ka AS (SELECT h FROM ra WHERE rn <= 128),
        |sa AS (
        |  SELECT
        |    (SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL) AS n_a,
        |    round(CASE WHEN MAX(dx) < 128 THEN CAST(MAX(dx) AS DOUBLE)
        |      ELSE 127.0 * 1152921504606846976.0 /
        |        CAST(MAX(CASE WHEN rn = 128 THEN h END) AS DOUBLE)
        |      END, 4) AS d_a
        |  FROM ra WHERE rn <= 128),
        |hb AS (
        |  SELECT DISTINCT CAST(concat('0x',
        |    substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM customer WHERE c_custkey IS NOT NULL),
        |rb AS (
        |  SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn,
        |    COUNT(*) OVER () AS dx FROM hb),
        |kb AS (SELECT h FROM rb WHERE rn <= 128),
        |sb AS (
        |  SELECT
        |    (SELECT COUNT(*) FROM customer WHERE c_custkey IS NOT NULL) AS n_b,
        |    round(CASE WHEN MAX(dx) < 128 THEN CAST(MAX(dx) AS DOUBLE)
        |      ELSE 127.0 * 1152921504606846976.0 /
        |        CAST(MAX(CASE WHEN rn = 128 THEN h END) AS DOUBLE)
        |      END, 4) AS d_b
        |  FROM rb WHERE rn <= 128),
        |un AS (SELECT h FROM ka UNION SELECT h FROM kb),
        |ru AS (
        |  SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn,
        |    COUNT(*) OVER () AS nu FROM un),
        |du AS (
        |  SELECT MAX(nu) AS nu,
        |    round(CASE WHEN MAX(nu) < 128 THEN CAST(MAX(nu) AS DOUBLE)
        |      ELSE 127.0 * 1152921504606846976.0 /
        |        CAST(MAX(CASE WHEN rn = 128 THEN h END) AS DOUBLE)
        |      END, 4) AS d_union
        |  FROM ru WHERE rn <= 128),
        |ix AS (
        |  SELECT COUNT(*) AS ni FROM ru
        |  WHERE rn <= 128 AND h IN (SELECT h FROM ka)
        |    AND h IN (SELECT h FROM kb)),
        |rh AS (
        |  SELECT CASE WHEN least(128, nu) > 0
        |    THEN CAST(ni AS DOUBLE) / CAST(least(128, nu) AS DOUBLE)
        |    ELSE 0.0 END AS rho
        |  FROM ix, du)
        |SELECT n_a, n_b, d_a, d_b, d_union,
        |  round(rho, 6) AS jaccard,
        |  round(rho * d_union, 4) AS d_intersect,
        |  CASE WHEN n_a > 0 AND n_b > 0
        |    THEN round(round(rho * d_union, 4) *
        |      (CAST(n_a AS DOUBLE) / d_a) * (CAST(n_b AS DOUBLE) / d_b), 4)
        |    ELSE 0.0 END AS join_rows_est
        |FROM sa, sb, du, rh""".stripMargin),

    // ── Bounded-state per-cell sampling: k md5-smallest ids per
    //    (lang, source) cell via the MinK aggregator — the scale path
    //    next to sampleToQuota's cell-partitioned window
    //    (Sketches.minKSample scaladoc).
    Query("ext_group_sample", (s, dir) =>
      Sketches.minKSample(
        t(s, dir, "documents"), Seq("lang", "source"), col("doc_id"), k = 5)
        .withColumnRenamed("sample_id", "doc_id")
        .orderBy("lang", "source", "doc_id"),
      // k smallest 60-bit md5(doc_id) hashes per cell — the window replay
      // is the oracle formulation; the engine folds through the bounded
      // MinK aggregate instead of windowing over the tiny cell key.
      """WITH h AS (
        |  SELECT lang, source, doc_id,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv
        |  FROM documents WHERE doc_id IS NOT NULL),
        |r AS (
        |  SELECT lang, source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY hv) AS rn
        |  FROM h)
        |SELECT lang, source, doc_id FROM r WHERE rn <= 5
        |ORDER BY lang, source, doc_id""".stripMargin)
  )
}
