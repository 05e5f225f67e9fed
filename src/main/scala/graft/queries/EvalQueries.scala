package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Eval, Similarity, TextPipeline}
import graft.queries.OracleSql._
import graft.queries.Query._

/** Evaluation metrics: calibration, ranking and retrieval metrics,
  * agreement statistics, conformal coverage and the quality model. */
object EvalQueries {

  /** The stopword share of a document's non-empty tokens as `score` and
    * English as `label`, over documents with a token: the scored input
    * of the classifier readouts. */
  private val StopwordScoreSql: String =
    """    CAST(len(list_filter(string_split(text, ' '),
      |      tk -> list_contains(['the', 'a', 'and', 'of'], tk))) AS DOUBLE) /
      |    CAST(len(list_filter(string_split(text, ' '),
      |      tk -> len(tk) > 0)) AS DOUBLE) AS score,
      |    lang = 'en' AS label
      |  FROM documents
      |  WHERE text IS NOT NULL AND len(list_filter(string_split(text, ' '),
      |    tk -> len(tk) > 0)) > 0),""".stripMargin

  /** Documents with a non-empty token as `keep`, their stopword share
    * `score` and English `label`: the scored input of the classifier
    * readouts (see [[StopwordScoreSql]]). */
  private def stopwordScored(s: SparkSession, dir: String, keep: Column*): DataFrame = {
    val nTokens = size(filter(split(col("text"), " "),
      tk => length(tk) > 0))
    t(s, dir, "documents")
      .filter(col("text").isNotNull && nTokens > 0)
      .select(keep ++ Seq(
        (graft.functions.expressions.GraftFunctions.token_match_count(
          col("text"), Seq("the", "a", "and", "of")).cast("double") /
          nTokens.cast("double")).as("score"),
        (col("lang") === "en").as("label")): _*)
  }

  def all: Seq[Query] = Seq(
    // ── Split-conformal calibration — [EXT r13]: per-event-type q̂
    //    from the even-id calibration half, empirical coverage audited
    //    on the odd-id half (Eval.conformalCoverage scaladoc).
    Query("ext_conformal", (s, dir) => {
      val e = t(s, dir, "events")
      Eval.conformalCoverage(
        e.filter(pmod(col("event_id"), lit(2)) === 0),
        e.filter(pmod(col("event_id"), lit(2)) === 1),
        col("event_type"), col("value"), alpha = 0.1)
    },
      // Split-conformal replay: per-type calibration mean, 6dp residuals,
      // rank-pick ceil(0.9·n) per type, coverage on the odd-id half.
      """WITH cal AS (
        |  SELECT event_type AS g, round(value, 6) AS y FROM events
        |  WHERE event_id % 2 = 0 AND event_type IS NOT NULL
        |    AND value IS NOT NULL),
        |ev AS (
        |  SELECT event_type AS g, round(value, 6) AS y FROM events
        |  WHERE event_id % 2 = 1 AND event_type IS NOT NULL
        |    AND value IS NOT NULL),
        |pred AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_cal,
        |    CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS pred
        |  FROM cal GROUP BY 1),
        |res AS (
        |  SELECT c.g, round(abs(c.y - p.pred), 6) AS r
        |  FROM cal c JOIN pred p ON c.g = p.g),
        |rq AS (
        |  SELECT g, r, ROW_NUMBER() OVER (PARTITION BY g ORDER BY r) AS rn,
        |    COUNT(*) OVER (PARTITION BY g) AS n
        |  FROM res),
        |qh AS (
        |  SELECT g, MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
        |    THEN r END) AS qhat
        |  FROM rq GROUP BY 1),
        |cov AS (
        |  SELECT e.g, CAST(COUNT(*) AS BIGINT) AS n_eval,
        |    round(CAST(SUM(CASE WHEN abs(e.y - p.pred) <= q.qhat
        |        THEN 1 ELSE 0 END) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE), 6) AS coverage
        |  FROM ev e JOIN pred p ON e.g = p.g JOIN qh q ON e.g = q.g
        |  GROUP BY 1)
        |SELECT p.g AS group_key, p.n_cal,
        |  COALESCE(c.n_eval, 0) AS n_eval,
        |  round(p.pred, 6) AS pred, q.qhat, c.coverage
        |FROM pred p JOIN qh q ON p.g = q.g LEFT JOIN cov c ON p.g = c.g
        |ORDER BY group_key""".stripMargin),

    // ── Hájek/HT mean over an unequal-probability sample — [EXT r13]:
    //    purchases kept with π=1, other types only in 3 of 16 md5 grid
    //    cells (π=3/16); the self-normalizing 1/π reweighting reads
    //    the population mean back out of the biased sample
    //    (Eval.htMean scaladoc).
    Query("ext_ht_mean", (s, dir) => {
      val e = t(s, dir, "events")
      val cell = substring(md5(col("event_id").cast("string")), 1, 1)
      val kept = e.filter(col("event_type") === "purchase" ||
        cell.isin("0", "1", "2"))
      Eval.htMean(kept, col("value"),
        when(col("event_type") === "purchase", lit(1.0))
          .otherwise(lit(3.0 / 16.0)))
    },
      // HT replay: same md5 grid, exact-binary π, 9dp weights, 6dp w·y
      // terms into decimal sums, one self-normalizing divide.
      """WITH kept AS (
        |  SELECT round(value, 6) AS y,
        |    CASE WHEN event_type = 'purchase' THEN CAST(1.0 AS DOUBLE)
        |         ELSE CAST(3.0 AS DOUBLE) / CAST(16.0 AS DOUBLE) END AS p
        |  FROM events
        |  WHERE event_type = 'purchase'
        |     OR substr(md5(CAST(event_id AS VARCHAR)), 1, 1)
        |        IN ('0', '1', '2')),
        |w AS (SELECT y, round(CAST(1.0 AS DOUBLE) / p, 9) AS w
        |      FROM kept WHERE y IS NOT NULL)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
        |  round(CAST(COALESCE(SUM(CAST(w AS DECIMAL(28,9))),
        |    CAST(0 AS DECIMAL(28,9))) AS DOUBLE), 6) AS sum_weight,
        |  round(CAST(SUM(CAST(round(w * y, 6) AS DECIMAL(28,6))) AS DOUBLE)
        |    / CAST(SUM(CAST(w AS DECIMAL(28,9))) AS DOUBLE), 6) AS ht_mean
        |FROM w""".stripMargin),

    // ── Simpson's-paradox slope screen — [EXT r15]: pooled vs
    //    within-group OLS slope of value ~ day, flagging sign flips —
    //    the confounding trap a pooled trend readout walks into on
    //    group-structured data; one scan, mergeable decimal moments
    //    (Eval.simpsonsSlope scaladoc).
    Query("ext_simpsons_slope", (s, dir) =>
      graft.operators.Eval.simpsonsSlope(
        t(s, dir, "events").filter(col("ts").isNotNull),
        col("event_type"),
        (unix_millis(date_trunc("day", col("ts"))) / lit(86400000L))
          .cast("long"),
        col("value")),
      // Simpson replay: same quantized decimal moments per group, the
      // pooled row as the SUM of group moments, identical slope chain,
      // exact min<max variance screens.
      """WITH base AS (
        |  SELECT COALESCE(CAST(event_type AS VARCHAR), '__null__') AS g,
        |    CAST(round(CAST(epoch_ms(date_trunc('day', ts)) // 86400000
        |      AS DOUBLE), 6) AS DECIMAL(18,6)) AS x,
        |    CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) AS y
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |m AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS sxy,
        |    SUM(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))) AS sxx,
        |    MIN(x) AS minx, MAX(x) AS maxx
        |  FROM base GROUP BY 1),
        |p AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS n, SUM(sx) AS sx,
        |    SUM(sy) AS sy, SUM(sxy) AS sxy, SUM(sxx) AS sxx,
        |    MIN(minx) AS minx, MAX(maxx) AS maxx
        |  FROM m),
        |ps AS (
        |  SELECT CASE WHEN n >= 2 AND minx < maxx
        |      AND (n * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0.0
        |    THEN (n * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (n * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS ps
        |  FROM p),
        |gs AS (
        |  SELECT g AS group_key, n,
        |    round(CASE WHEN n >= 2 AND minx < maxx
        |        AND (n * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0.0
        |      THEN (n * CAST(sxy AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |        / (n * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END, 6)
        |      AS slope
        |  FROM m)
        |SELECT gs.group_key, gs.n, gs.slope,
        |  round(ps.ps, 6) AS pooled_slope,
        |  gs.slope * round(ps.ps, 6) < 0.0 AS flips
        |FROM gs CROSS JOIN ps ORDER BY gs.group_key""".stripMargin),

    // ── Wald SPRT over the event stream — [EXT r15]: always-valid
    //    sequential test of H1 p=0.2 vs H0 p=0.1 on the purchase
    //    share, exact decimal LLR walk in (ts, event_id) order,
    //    first-boundary-crossing decision point carried in the
    //    readout (Eval.sprt scaladoc).
    Query("ext_sprt", (s, dir) =>
      graft.operators.Eval.sprt(
        t(s, dir, "events"), col("ts"), col("event_id"),
        col("event_type") === "purchase", p0 = 0.1, p1 = 0.2),
      // SPRT replay: identical 6dp-quantized per-event increments,
      // exact decimal LLR window in (ts, event_id) order, the same
      // ln(19)/-ln(19) boundaries, first-crossing argmin.
      """WITH b AS (
        |  SELECT ts, event_id,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x,
        |    CASE WHEN event_type = 'purchase'
        |      THEN CAST(ln(CAST(0.2 AS DOUBLE) / CAST(0.1 AS DOUBLE))
        |        AS DECIMAL(18,6))
        |      ELSE CAST(ln((1.0 - CAST(0.2 AS DOUBLE))
        |        / (1.0 - CAST(0.1 AS DOUBLE))) AS DECIMAL(18,6))
        |    END AS term
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL),
        |w AS (
        |  SELECT x, term,
        |    ROW_NUMBER() OVER (ORDER BY ts, event_id) AS rn,
        |    SUM(term) OVER (ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr
        |  FROM b),
        |bounds AS (
        |  SELECT ln((1.0 - 0.05) / 0.05) AS a, ln(0.05 / (1.0 - 0.05)) AS bb),
        |cr AS (
        |  SELECT MIN(rn) AS rn_first FROM w CROSS JOIN bounds
        |  WHERE CAST(llr AS DOUBLE) >= a OR CAST(llr AS DOUBLE) <= bb),
        |f AS (
        |  SELECT w.rn, w.llr FROM w JOIN cr ON w.rn = cr.rn_first),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS n_success,
        |    round(CAST(SUM(term) AS DOUBLE), 6) AS llr_final
        |  FROM w)
        |SELECT agg.n, agg.n_success, agg.llr_final,
        |  CASE WHEN f.rn IS NULL THEN 'continue'
        |    WHEN CAST(f.llr AS DOUBLE) >= bounds.a THEN 'accept_h1'
        |    ELSE 'accept_h0' END AS decision,
        |  CAST(f.rn AS BIGINT) AS n_at_decision,
        |  round(CAST(f.llr AS DOUBLE), 6) AS llr_at_decision
        |FROM agg CROSS JOIN bounds LEFT JOIN f ON TRUE""".stripMargin),

    // ── Per-arm Wald SPRT — [EXT r16]: the experimentation-platform
    //    form: each arm (user-randomized split: user_id mod 2) walks
    //    its own LLR stream against the same design and stops itself
    //    independently; day-stitched windows keyed by (arm, day)
    //    (Eval.sprtByArm scaladoc).
    Query("ext_sprt_arms", (s, dir) =>
      graft.operators.Eval.sprtByArm(
        t(s, dir, "events"), (col("user_id") % 2).cast("long"),
        col("ts"), col("event_id"),
        col("event_type") === "purchase", p0 = 0.1, p1 = 0.2),
      // Per-arm SPRT replay: the ext_sprt walk partitioned by the
      // user-randomized arm (user_id mod 2), one decision row per arm.
      """WITH b AS (
        |  SELECT CAST(user_id % 2 AS BIGINT) AS arm, ts, event_id,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x,
        |    CASE WHEN event_type = 'purchase'
        |      THEN CAST(ln(CAST(0.2 AS DOUBLE) / CAST(0.1 AS DOUBLE))
        |        AS DECIMAL(18,6))
        |      ELSE CAST(ln((1.0 - CAST(0.2 AS DOUBLE))
        |        / (1.0 - CAST(0.1 AS DOUBLE))) AS DECIMAL(18,6))
        |    END AS term
        |  FROM events
        |  WHERE ts IS NOT NULL AND event_id IS NOT NULL
        |    AND user_id IS NOT NULL),
        |w AS (
        |  SELECT arm, x, term,
        |    ROW_NUMBER() OVER (PARTITION BY arm ORDER BY ts, event_id) AS rn,
        |    SUM(term) OVER (PARTITION BY arm ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr
        |  FROM b),
        |bounds AS (
        |  SELECT ln((1.0 - 0.05) / 0.05) AS a, ln(0.05 / (1.0 - 0.05)) AS bb),
        |cr AS (
        |  SELECT arm, MIN(rn) AS rn_first FROM w CROSS JOIN bounds
        |  WHERE CAST(llr AS DOUBLE) >= a OR CAST(llr AS DOUBLE) <= bb
        |  GROUP BY arm),
        |f AS (
        |  SELECT w.arm, w.rn, w.llr FROM w
        |  JOIN cr ON w.arm = cr.arm AND w.rn = cr.rn_first),
        |agg AS (
        |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS n_success,
        |    round(CAST(SUM(term) AS DOUBLE), 6) AS llr_final
        |  FROM w GROUP BY arm)
        |SELECT agg.arm, agg.n, agg.n_success, agg.llr_final,
        |  CASE WHEN f.rn IS NULL THEN 'continue'
        |    WHEN CAST(f.llr AS DOUBLE) >= bounds.a THEN 'accept_h1'
        |    ELSE 'accept_h0' END AS decision,
        |  CAST(f.rn AS BIGINT) AS n_at_decision,
        |  round(CAST(f.llr AS DOUBLE), 6) AS llr_at_decision
        |FROM agg CROSS JOIN bounds LEFT JOIN f ON agg.arm = f.arm
        |ORDER BY agg.arm""".stripMargin),

    // ── Hybrid retrieval: dense more-like-this (exact cosine top-20)
    //    fused with sparse more-like-this (per-query BM25 over each
    //    probe doc's top-3 tf terms) by reciprocal-rank fusion — ranks
    //    only, no score calibration. Dense excludes the trivial
    //    self-match by construction; sparse may surface it and the
    //    fusion reflects that (documented, deterministic).
    //    (Eval.rrfFuse + TextPipeline.bm25ForQueries scaladoc.)
    Query("ext_rrf_fusion", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents")
      val probes = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val dense = Similarity
        .bruteForceTopK(probes, e.select("vec_id", "embedding"), 20)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      val qterms = t(s, dir, "documents").filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          explode(split(col("text"), " ")).as("term"))
        .groupBy("query_id", "term").agg(count(lit(1)).as("tf"))
        .withColumn("rn", row_number().over(
          w.partitionBy("query_id").orderBy(col("tf").desc, col("term"))))
        .filter(col("rn") <= 3).select("query_id", "term")
      val sparse = TextPipeline
        .bm25ForQueries(docs, col("doc_id"), col("text"), qterms, 20)
        .select("query_id", "doc_id", "rank")
      graft.operators.Eval.rrfFuse(dense.unionByName(sparse), k = 10)
        .orderBy("query_id", "rank")
    },
      // RRF replay: dense list = the ext_cosine_topk arithmetic at k=20;
      // sparse list = the ext_bm25 formula driven by each probe doc's
      // top-3 tf terms; fusion terms 12-quantized and DECIMAL-summed.
      s"""WITH p AS (
        |  SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |csc AS (
        |  SELECT p.query_id, e.vec_id,
        |    ${cosine6("qv", "embedding")} AS sim
        |  FROM embeddings e CROSS JOIN p WHERE e.vec_id <> p.query_id),
        |dense AS (
        |  SELECT query_id, vec_id AS doc_id, CAST(rn AS BIGINT) AS rank FROM (
        |    SELECT query_id, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |                         ORDER BY sim DESC, vec_id) AS rn
        |    FROM csc) WHERE rn <= 20),
        |qt AS (
        |  SELECT query_id, term FROM (
        |    SELECT doc_id AS query_id, term, COUNT(*) AS tf,
        |      ROW_NUMBER() OVER (PARTITION BY doc_id
        |                         ORDER BY COUNT(*) DESC, term) AS rn
        |    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |          FROM documents WHERE doc_id < 5)
        |    GROUP BY doc_id, term) WHERE rn <= 3),
        |dl AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |  FROM documents),
        |tfq AS (
        |  SELECT doc_id, term, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tfq GROUP BY 1),
        |st AS (
        |  SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avgdl
        |  FROM documents),
        |ssc AS (
        |  SELECT qt.query_id, tfq.doc_id,
        |    (CAST(st.n_docs AS DOUBLE) / dfq.df) *
        |    (CAST(tfq.tf AS DOUBLE) * 2.25 /
        |     (CAST(tfq.tf AS DOUBLE) +
        |      1.25 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / st.avgdl))) AS ts
        |  FROM tfq JOIN qt USING (term) JOIN dl USING (doc_id)
        |  JOIN dfq USING (term) CROSS JOIN st),
        |sagg AS (
        |  SELECT query_id, doc_id,
        |    CAST(SUM(CAST(ts AS DECIMAL(18,6))) AS DOUBLE) AS score
        |  FROM ssc GROUP BY 1, 2),
        |sparse AS (
        |  SELECT query_id, doc_id, CAST(rn AS BIGINT) AS rank FROM (
        |    SELECT query_id, doc_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |                         ORDER BY score DESC, doc_id) AS rn
        |    FROM sagg) WHERE rn <= 20),
        |uni AS (
        |  SELECT query_id, doc_id, rank FROM dense
        |  UNION ALL SELECT query_id, doc_id, rank FROM sparse),
        |fused AS (
        |  SELECT query_id, doc_id,
        |    CAST(SUM(CAST(round(1.0 / (60 + rank), 12) AS DECIMAL(28,12)))
        |      AS DOUBLE) AS rrf
        |  FROM uni GROUP BY 1, 2)
        |SELECT query_id, doc_id, rrf, CAST(rn AS BIGINT) AS rank FROM (
        |  SELECT query_id, doc_id, rrf,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY rrf DESC, doc_id) AS rn
        |  FROM fused) WHERE rn <= 10
        |ORDER BY query_id, rank""".stripMargin),

    // ── Calibration readout (reliability diagram + ECE) of the
    //    stopword-fraction score as an English-ness classifier — one
    //    bin-keyed aggregation + a broadcast total (Eval.calibration).
    Query("ext_calibration", (s, dir) => {
      val scored = stopwordScored(s, dir, col("doc_id"))
      graft.operators.Eval.calibration(scored, col("score"), col("label"))
    },
      // calibration replay: exact integer bin arithmetic, scores
      // 9dp-quantized into DECIMAL(28,12) sums before the bin mean.
      s"""WITH s AS (
        |  SELECT doc_id,
        |$StopwordScoreSql
        |b AS (
        |  SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bin,
        |    CAST(round(score, 9) AS DECIMAL(28,12)) AS sq,
        |    CASE WHEN label THEN 1 ELSE 0 END AS y
        |  FROM s
        |  WHERE score IS NOT NULL AND NOT isnan(score)
        |    AND score >= 0 AND score <= 1),
        |g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(y) AS BIGINT) AS n_pos, SUM(sq) AS ssum
        |      FROM b GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM g)
        |SELECT bin, n, n_pos,
        |  CAST(ssum AS DOUBLE) / CAST(n AS DOUBLE) AS conf,
        |  CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
        |  abs(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) -
        |      CAST(ssum AS DOUBLE) / CAST(n AS DOUBLE)) AS gap,
        |  round(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) *
        |    abs(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) -
        |        CAST(ssum AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS ece_term
        |FROM g CROSS JOIN t ORDER BY bin""".stripMargin),

    // ── Exact tie-corrected ROC AUC of the stopword-fraction score as
    //    an English-ness classifier — the threshold-free complement of
    //    ext_calibration's reliability bins, same scored input:
    //    per-distinct-score aggregation, ONE post-aggregate window,
    //    2U in pure integer arithmetic (Eval.rocAuc).
    Query("ext_roc_auc", (s, dir) => {
      val scored = stopwordScored(s, dir)
      graft.operators.Eval.rocAuc(scored, col("score"), col("label"))
    },
      // AUC replay: identical scored input to ext_calibration, per-score
      // groups, the ECDF-style window over aggregated rows, 2U in
      // integer arithmetic, one final divide.
      s"""WITH s AS (
        |  SELECT
        |$StopwordScoreSql
        |g AS (
        |  SELECT score AS sc, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN COALESCE(label, false) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS np
        |  FROM s GROUP BY 1),
        |c AS (
        |  SELECT np, n - np AS nn,
        |    SUM(n - np) OVER (ORDER BY sc) - (n - np) AS below
        |  FROM g)
        |SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
        |  CAST(SUM(nn) AS BIGINT) AS n_neg,
        |  CASE WHEN SUM(np) > 0 AND SUM(nn) > 0 THEN
        |    CAST(SUM(np * (below * 2 + nn)) AS DOUBLE) /
        |    CAST(SUM(np) * SUM(nn) * 2 AS DOUBLE) END AS auc
        |FROM c""".stripMargin),

    // ── Cohen's kappa between the stored lang label and the engine's
    //    own n-gram language-ID (ext_lang_id's exact vote chain) —
    //    chance-corrected labeler agreement from one cell-keyed
    //    aggregation, integer arithmetic to one divide
    //    (Eval.cohensKappa).
    Query("ext_cohens_kappa", (s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      graft.operators.Eval.cohensKappa(
        d, col("lang"), TextFunctions.langId(col("text")))
    },
      // kappa replay: the ext_lang_id vote chain as rater B, cell counts,
      // margins, and the cleared-denominator integer form.
      """WITH v AS (
        |  SELECT lang AS ra,
        |    CASE WHEN en >= de AND en >= es AND en > 0 THEN 'en'
        |         WHEN de >= es AND de > 0 THEN 'de'
        |         WHEN es > 0 THEN 'es'
        |         ELSE 'unk' END AS rb
        |  FROM (SELECT lang,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the','a','and','of','is'))) AS en,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t IN ('der','die','das','und','ist'))) AS de,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t IN ('el','la','los','y','es'))) AS es
        |    FROM documents WHERE text IS NOT NULL)),
        |cells AS (
        |  SELECT ra, rb, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM v WHERE ra IS NOT NULL AND rb IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total,
        |        CAST(COALESCE(SUM(CASE WHEN ra = rb THEN n END), 0)
        |          AS BIGINT) AS n_agree
        |      FROM cells),
        |ma AS (SELECT ra, CAST(SUM(n) AS BIGINT) AS na FROM cells GROUP BY 1),
        |mb AS (SELECT rb, CAST(SUM(n) AS BIGINT) AS nb FROM cells GROUP BY 1),
        |pe AS (SELECT COALESCE(SUM(na * nb), 0) AS pe_num
        |       FROM ma JOIN mb ON ma.ra = mb.rb)
        |SELECT n_total, n_agree,
        |  CASE WHEN CAST(n_total * n_total - pe_num AS DOUBLE) <> 0.0 THEN
        |    CAST(n_total * n_agree - pe_num AS DOUBLE) /
        |    CAST(n_total * n_total - pe_num AS DOUBLE) END AS kappa
        |FROM t CROSS JOIN pe""".stripMargin),

    // ── Fleiss' kappa across a 3-labeler panel — the stored lang
    //    label, the engine's n-gram language-ID vote chain, and a
    //    coarse two-word screen — stacked from ONE scan via
    //    explode(array(...)); docs with a null lang carry only 2
    //    ratings and land in n_dropped, not in the totals
    //    (Eval.fleissKappa).
    Query("ext_fleiss_kappa", (s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      val ratings = d.select(col("doc_id"),
        explode(array(
          col("lang"),
          TextFunctions.langId(col("text")),
          when(graft.functions.expressions.GraftFunctions.token_match_count(
            col("text"), Seq("the", "a")) > 0, "en").otherwise("unk")))
          .as("cat"))
      graft.operators.Eval.fleissKappa(
        ratings, col("doc_id"), col("cat"), nRaters = 3)
    },
      // Fleiss replay: the 3-rater panel stacked by unnest, cell/item/
      // category rollups, and the cleared-denominator integer form with
      // n-1 = 2.
      """WITH v AS (
        |  SELECT doc_id, unnest([
        |    lang,
        |    CASE WHEN en >= de AND en >= es AND en > 0 THEN 'en'
        |         WHEN de >= es AND de > 0 THEN 'de'
        |         WHEN es > 0 THEN 'es' ELSE 'unk' END,
        |    CASE WHEN thea > 0 THEN 'en' ELSE 'unk' END]) AS cat
        |  FROM (SELECT doc_id, lang,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the','a','and','of','is'))) AS en,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t IN ('der','die','das','und','ist'))) AS de,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t IN ('el','la','los','y','es'))) AS es,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the','a'))) AS thea
        |    FROM documents WHERE text IS NOT NULL)),
        |cells AS (
        |  SELECT doc_id AS item, cat, CAST(COUNT(*) AS BIGINT) AS n_ic
        |  FROM v WHERE cat IS NOT NULL GROUP BY 1, 2),
        |per_item AS (
        |  SELECT item, SUM(n_ic) AS n_i, SUM(n_ic * n_ic) AS s2_i
        |  FROM cells GROUP BY 1),
        |kept AS (SELECT item, s2_i FROM per_item WHERE n_i = 3),
        |drp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_dropped
        |        FROM per_item WHERE n_i <> 3),
        |kc AS (SELECT cat, SUM(n_ic) AS t_c
        |       FROM cells JOIN kept USING (item) GROUP BY 1),
        |ca AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_categories,
        |         COALESCE(SUM(t_c * t_c), 0) AS a FROM kc),
        |ia AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
        |         COALESCE(SUM(s2_i), 0) AS s2 FROM kept)
        |SELECT n_items, n_dropped, n_categories,
        |  CASE WHEN n_items > 0 AND
        |    CAST((n_items * 3 * (n_items * 3) - a) * 2 AS DOUBLE) <> 0.0 THEN
        |    CAST((s2 - n_items * 3) * (n_items * 3) - a * 2 AS DOUBLE) /
        |    CAST((n_items * 3 * (n_items * 3) - a) * 2 AS DOUBLE) END AS kappa
        |FROM ia CROSS JOIN ca CROSS JOIN drp""".stripMargin),

    // ── Spearman rank agreement between two label-free quality
    //    scorers (stopword fraction vs mean token length) — exact
    //    average-rank ties, centered integer products, two sqrts and
    //    one divide at the very end (Eval.spearman).
    Query("ext_spearman", (s, dir) => {
      val d = t(s, dir, "documents")
      val nTokens = size(filter(split(col("text"), " "),
        tk => length(tk) > 0))
      val scored = d
        .filter(col("text").isNotNull && nTokens > 0)
        .select(
          (graft.functions.expressions.GraftFunctions.token_match_count(
            col("text"), Seq("the", "a", "and", "of")).cast("double") /
            nTokens.cast("double")).as("sw_frac"),
          (col("n_chars").cast("double") / nTokens.cast("double"))
            .as("mean_toklen"))
      graft.operators.Eval.spearman(
        scored, col("sw_frac"), col("mean_toklen"))
    },
      // Spearman replay: doubled average ranks from per-distinct-value
      // count tables, centering on the exact mean n+1, integer products,
      // two sqrts and one divide.
      """WITH s AS (
        |  SELECT
        |    CAST(len(list_filter(string_split(text, ' '),
        |      tk -> list_contains(['the', 'a', 'and', 'of'], tk))) AS DOUBLE) /
        |    CAST(len(list_filter(string_split(text, ' '),
        |      tk -> len(tk) > 0)) AS DOUBLE) AS va,
        |    CAST(n_chars AS DOUBLE) /
        |    CAST(len(list_filter(string_split(text, ' '),
        |      tk -> len(tk) > 0)) AS DOUBLE) AS vb
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(list_filter(string_split(text, ' '),
        |    tk -> len(tk) > 0)) > 0),
        |s2 AS (SELECT va, vb FROM s
        |       WHERE va IS NOT NULL AND vb IS NOT NULL),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s2),
        |ra AS (SELECT va, 2 * (SUM(cnt) OVER (ORDER BY va) - cnt) +
        |         cnt + 1 AS r2a
        |       FROM (SELECT va, CAST(COUNT(*) AS BIGINT) AS cnt
        |             FROM s2 GROUP BY 1)),
        |rb AS (SELECT vb, 2 * (SUM(cnt) OVER (ORDER BY vb) - cnt) +
        |         cnt + 1 AS r2b
        |       FROM (SELECT vb, CAST(COUNT(*) AS BIGINT) AS cnt
        |             FROM s2 GROUP BY 1)),
        |j AS (SELECT n, r2a - (n + 1) AS da, r2b - (n + 1) AS db
        |      FROM s2 JOIN ra USING (va) JOIN rb USING (vb) CROSS JOIN nn)
        |SELECT n,
        |  CASE WHEN SUM(da * da) <> 0 AND SUM(db * db) <> 0 THEN
        |    CAST(SUM(da * db) AS DOUBLE) /
        |    sqrt(CAST(SUM(da * da) AS DOUBLE) *
        |         CAST(SUM(db * db) AS DOUBLE)) END AS rho
        |FROM j GROUP BY n""".stripMargin),

    // ── Kendall's τ-b between doc-length decile and token count —
    //    [EXT r12] the pairwise rank agreement next to ext_spearman's
    //    average-rank one; quadratic over CONTINGENCY CELLS (both
    //    columns bounded by doc shape, not corpus size), never rows
    //    (Eval.kendallTau: guarded cell table, broadcast nested loop,
    //    DECIMAL(38,0) products, one final sqrt+divide).
    Query("ext_kendall_tau", (s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      val nTokens = size(filter(split(col("text"), " "),
        tk => length(tk) > 0))
      graft.operators.Eval.kendallTau(
        d.select(floor(col("n_chars") / 10).cast("long").as("len_decile"),
          nTokens.cast("long").as("n_tokens")),
        col("len_decile"), col("n_tokens"))
    },
      // Kendall replay: contingency cells, the cell-pair join on va<va'
      // with the vb sign, doubled tie-pair counts, one sqrt+divide.
      """WITH s AS (
        |  SELECT CAST(floor(n_chars / 10.0) AS DOUBLE) AS va,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      tk -> len(tk) > 0)) AS DOUBLE) AS vb
        |  FROM documents WHERE text IS NOT NULL),
        |s2 AS (SELECT va, vb FROM s
        |       WHERE va IS NOT NULL AND vb IS NOT NULL),
        |cells AS (SELECT va, vb, CAST(COUNT(*) AS BIGINT) AS n
        |          FROM s2 GROUP BY 1, 2),
        |nn AS (SELECT CAST(SUM(n) AS BIGINT) AS n FROM cells),
        |cd AS (SELECT COALESCE(SUM(l.n * r.n *
        |         (CASE WHEN r.vb > l.vb THEN 1
        |               WHEN r.vb < l.vb THEN -1 ELSE 0 END)), 0) AS cmd
        |       FROM cells l JOIN cells r ON l.va < r.va),
        |ta AS (SELECT COALESCE(SUM(t * (t - 1)), 0) AS t2a
        |       FROM (SELECT CAST(SUM(n) AS BIGINT) AS t
        |             FROM cells GROUP BY va)),
        |tb AS (SELECT COALESCE(SUM(t * (t - 1)), 0) AS t2b
        |       FROM (SELECT CAST(SUM(n) AS BIGINT) AS t
        |             FROM cells GROUP BY vb))
        |SELECT n,
        |  CASE WHEN n * (n - 1) > t2a AND n * (n - 1) > t2b THEN
        |    CAST(cmd * 2 AS DOUBLE) /
        |    sqrt(CAST(n * (n - 1) - t2a AS DOUBLE) *
        |         CAST(n * (n - 1) - t2b AS DOUBLE)) END AS tau
        |FROM nn CROSS JOIN cd CROSS JOIN ta CROSS JOIN tb
        |WHERE n IS NOT NULL""".stripMargin),

    // ── Retrieval-quality evaluation (recall@k / MRR@k / NDCG@k) over
    //    the brute-force cosine ranking vs a deterministic graded gold
    //    table — the metric pass every ANN configuration sweep needs
    //    (operators.Eval scaladoc: two shuffles for a million queries;
    //    DCG discounts 9dp-quantized then decimal-summed, so DuckDB
    //    replays all three metrics bit-for-bit).
    Query("ext_retrieval_eval", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val probes = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val ranked = Similarity
        .bruteForceTopK(probes, e.select("vec_id", "embedding"), 20)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      val gold = e.select(col("vec_id").as("doc_id"))
        .crossJoin(probes.select("query_id"))
        .withColumn("rel",
          when((col("doc_id") + col("query_id")) % 12 === 0, lit(2))
            .when((col("doc_id") + col("query_id")) % 3 === 0, lit(1))
            .otherwise(lit(0)))
      graft.operators.Eval.retrievalMetrics(ranked, gold, 20)
        .orderBy("query_id")
    },
      // Full metric replay: brute-force cosine ranks (the ext_cosine_topk
      // formulation), the modulo gold table, and all three metrics with
      // the identical 9dp-quantize-then-DECIMAL(28,12) DCG sums.
      s"""WITH p AS (
        |  SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id < 8),
        |sc AS (
        |  SELECT p.query_id, e.vec_id,
        |    ${cosine6("qv", "embedding")} AS sim
        |  FROM embeddings e CROSS JOIN p WHERE e.vec_id <> p.query_id),
        |tk AS (
        |  SELECT query_id, vec_id AS doc_id, rank FROM (
        |    SELECT query_id, vec_id, sim,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY sim DESC, vec_id) AS rank
        |    FROM sc) WHERE rank <= 20),
        |rl AS (
        |  SELECT p.query_id, e.vec_id AS doc_id,
        |    CASE WHEN (e.vec_id + p.query_id) % 12 = 0 THEN 2
        |         WHEN (e.vec_id + p.query_id) % 3 = 0 THEN 1 END AS rel
        |  FROM embeddings e CROSS JOIN p
        |  WHERE (e.vec_id + p.query_id) % 3 = 0),
        |iw AS (
        |  SELECT query_id, doc_id, rel,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY rel DESC, doc_id) AS ipos
        |  FROM rl),
        |ga AS (
        |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_gold,
        |    SUM(CASE WHEN ipos <= 20 THEN
        |      CAST(round((pow(2.0, rel) - 1.0) /
        |        log2(CAST(ipos AS DOUBLE) + 1.0), 9) AS DECIMAL(28,12)) END)
        |      AS idcg
        |  FROM iw GROUP BY 1),
        |h AS (
        |  SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
        |    MIN(t.rank) AS fr,
        |    SUM(CAST(round((pow(2.0, rl.rel) - 1.0) /
        |      log2(CAST(t.rank AS DOUBLE) + 1.0), 9) AS DECIMAL(28,12)))
        |      AS dcg
        |  FROM tk t JOIN rl ON rl.query_id = t.query_id
        |    AND rl.doc_id = t.doc_id
        |  GROUP BY 1)
        |SELECT ga.query_id, ga.n_gold,
        |  COALESCE(h.n_hits, 0) AS n_hits,
        |  round(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) /
        |    CAST(ga.n_gold AS DOUBLE), 6) AS recall_k,
        |  round(COALESCE(1.0 / CAST(h.fr AS DOUBLE), 0.0), 6) AS mrr_k,
        |  round(COALESCE(CAST(h.dcg AS DOUBLE), 0.0) /
        |    CAST(ga.idcg AS DOUBLE), 6) AS ndcg_k
        |FROM ga LEFT JOIN h ON h.query_id = ga.query_id
        |ORDER BY ga.query_id""".stripMargin),

    // ── In-engine quality-model training, ORACLED end to end (r9
    //    verdict ask #2 — the last first-class component without a
    //    CORRECTNESS entry): 5 full-batch GD iterations of logistic
    //    regression over two document features (n_chars/1000,
    //    tokens/100; is-English label), each iteration ONE distributed
    //    decimal-sum aggregate. The DuckDB oracle unrolls all 5
    //    iterations (the BPE-6-rounds / PageRank-5-rounds pattern) and
    //    must land on bit-identical weights — possible because the
    //    sigmoid is 9-decimal-quantized and every gradient contribution
    //    is round-then-cast DECIMAL(28,12) (QualityModel scaladoc).
    Query("ext_quality_model", (s, dir) => {
      import s.implicits._
      val m = graft.operators.QualityModel.trainLogReg(
        t(s, dir, "documents"),
        Seq(
          round(col("n_chars").cast("double") / lit(1000.0), 6),
          round(size(split(col("text"), " ")).cast("double") / lit(100.0), 6)),
        (col("lang") === "en").cast("int"),
        iters = 5, lr = 1.0)
      m.weights.toSeq.zipWithIndex
        .map { case (wj, j) => (j.toLong, wj) }
        .toDF("weight_idx", "weight")
        .select(col("weight_idx"), round(col("weight"), 9).as("weight"))
        .orderBy("weight_idx")
    },
      // END-TO-END gradient-descent replay (the BPE/PageRank unroll
      // pattern): 5 logistic-regression iterations, each one decimal-sum
      // aggregate, every arithmetic step the exact IEEE/decimal operation
      // the engine performs — 9-decimal-quantized sigmoid, round-then-cast
      // DECIMAL(28,12) contributions, decimal→double→/n updates (the
      // QualityModel scaladoc's cross-engine discipline).
      {
        val sig = "round(1.0/(1.0+exp(-(b + x0*wa + x1*wb))), 9)"
        def iter(k: Int): String = {
          val prev = s"w${k - 1}"
          s""",
             |g$k AS (
             |  SELECT
             |    CAST(SUM(CAST(round($sig - y, 12)
             |      AS DECIMAL(28,12))) AS DOUBLE) AS g0,
             |    CAST(SUM(CAST(round(($sig - y) * x0, 12)
             |      AS DECIMAL(28,12))) AS DOUBLE) AS ga,
             |    CAST(SUM(CAST(round(($sig - y) * x1, 12)
             |      AS DECIMAL(28,12))) AS DOUBLE) AS gb
             |  FROM feat CROSS JOIN $prev),
             |w$k AS (SELECT b - g0/n AS b, wa - ga/n AS wa, wb - gb/n AS wb
             |        FROM g$k CROSS JOIN nn CROSS JOIN $prev)""".stripMargin
        }
        """WITH feat AS MATERIALIZED (
          |  SELECT CAST(lang = 'en' AS INT) AS y,
          |         round(CAST(n_chars AS DOUBLE) / 1000.0, 6) AS x0,
          |         round(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 6) AS x1
          |  FROM documents),
          |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM feat),
          |w0 AS (SELECT 0.0 AS b, 0.0 AS wa, 0.0 AS wb)""".stripMargin +
          (1 to 5).map(iter).mkString +
          """
            |SELECT CAST(0 AS BIGINT) AS weight_idx, round(b, 9) AS weight FROM w5
            |UNION ALL SELECT CAST(1 AS BIGINT), round(wa, 9) FROM w5
            |UNION ALL SELECT CAST(2 AS BIGINT), round(wb, 9) FROM w5
            |ORDER BY weight_idx""".stripMargin
      }),

    // ── Pairwise Pearson matrix over the four lineitem metrics — the
    //    feature-redundancy screen: ONE aggregation computes all 14
    //    moments, 6 pair rows explode from the single agg row; columns
    //    pre-scaled to metric range (Pearson is affine-invariant) so
    //    the 4dp product ticks stay under the 2^53 cast ceiling
    //    (Eval.corrMatrix scaladoc).
    Query("ext_corr_matrix", (s, dir) =>
      graft.operators.Eval.corrMatrix(t(s, dir, "lineitem"), Seq(
        "disc100" -> col("l_discount") * 100,
        "price_k" -> col("l_extendedprice") / 1000,
        "qty" -> col("l_quantity"),
        "tax100" -> col("l_tax") * 100)),
      // Correlation-matrix replay: 6dp tick BIGINTs via the cross-engine-
      // safe scale-0 round, exact long products into DECIMAL(26,0) sums,
      // the n·Σxy − Σx·Σy cancellation in tightly-cast DECIMALs (9·29 and
      // 19² products re-capped at 37 digits so the subtraction fits both
      // engines' 38-digit ceiling), doubles only for the final
      // divide+sqrt — Eval.corrMatrix's exact chain.
      {
        val cols = Seq(
          "disc100" -> "CAST(l_discount AS DOUBLE) * 100",
          "price_k" -> "CAST(l_extendedprice AS DOUBLE) / 1000",
          "qty" -> "CAST(l_quantity AS DOUBLE)",
          "tax100" -> "CAST(l_tax AS DOUBLE) * 100")
        val names = cols.map(_._1)
        val sel = cols.map { case (n, e) =>
          s"CAST(round(($e) * 1000000, 0) AS BIGINT) AS $n" }.mkString(",\n    ")
        val notNull = names.map(n => s"$n IS NOT NULL").mkString(" AND ")
        val pairs = for {
          i <- names.indices; j <- (i + 1) until names.size
        } yield (names(i), names(j))
        val moments =
          (names.map(n => s"CAST(SUM($n) AS BIGINT) AS s_$n") ++
            names.map(n => s"SUM(CAST($n * $n AS DECIMAL(26,0))) AS q_$n") ++
            pairs.map { case (a, b) =>
              s"SUM(CAST($a * $b AS DECIMAL(26,0))) AS p_${a}_$b" })
            .mkString(",\n    ")
        def cancel(prod: String, sa: String, sb: String): String =
          s"""CAST(CAST(CAST(n AS DECIMAL(9,0)) * CAST($prod AS DECIMAL(29,0))
             |      AS DECIMAL(37,0))
             |    - CAST(CAST($sa AS DECIMAL(19,0)) * CAST($sb AS DECIMAL(19,0))
             |      AS DECIMAL(37,0)) AS DOUBLE)""".stripMargin
        val rows = pairs.map { case (a, b) =>
          val num = cancel(s"p_${a}_$b", s"s_$a", s"s_$b")
          val va = cancel(s"q_$a", s"s_$a", s"s_$a")
          val vb = cancel(s"q_$b", s"s_$b", s"s_$b")
          s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
             |  CASE WHEN $va > 0.0 AND $vb > 0.0 THEN
             |    round($num / (sqrt($va) * sqrt($vb)), 6) END AS r
             |FROM g""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH b AS (
           |  SELECT
           |    $sel
           |  FROM lineitem),
           |f AS (SELECT * FROM b WHERE $notNull),
           |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |    $moments
           |  FROM f)
           |$rows
           |ORDER BY col_a, col_b""".stripMargin
      }),

    // ── PR-AUC over the same stopword-score classifier as ext_roc_auc
    //    — the imbalanced-eval readout ROC hides; block-exact step AP
    //    over score groups (Eval.prAuc scaladoc).
    Query("ext_pr_auc", (s, dir) => {
      val scored = stopwordScored(s, dir)
      graft.operators.Eval.prAuc(scored, col("score"), col("label"))
    },
      // PR-AUC replay: the roc_auc scored CTE, descending-score block
      // windows, per-block 9dp terms into a decimal sum.
      s"""WITH s AS (
        |  SELECT
        |$StopwordScoreSql
        |g AS (
        |  SELECT score AS sc, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN COALESCE(label, false) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS np
        |  FROM s GROUP BY 1),
        |c AS (
        |  SELECT n, np,
        |    SUM(np) OVER (ORDER BY sc DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tp,
        |    SUM(n) OVER (ORDER BY sc DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
        |    SUM(np) OVER () AS n_pos_all
        |  FROM g),
        |tt AS (
        |  SELECT n, np,
        |    CAST(CASE WHEN n_pos_all > 0 THEN
        |      round((CAST(np AS DOUBLE) * CAST(cum_tp AS DOUBLE))
        |        / (CAST(n_pos_all AS DOUBLE) * CAST(cum_n AS DOUBLE)), 9)
        |      ELSE 0.0 END AS DECIMAL(28,9)) AS t
        |  FROM c)
        |SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
        |  CAST(SUM(n - np) AS BIGINT) AS n_neg,
        |  CASE WHEN SUM(np) > 0
        |    THEN round(CAST(SUM(t) AS DOUBLE), 6) END AS pr_auc
        |FROM tt""".stripMargin),

    // ── Decile lift/gains table over the stopword-score classifier:
    //    rank-deterministic buckets (score DESC, doc_id tie-break,
    //    integer ntile arithmetic), per-decile rate / cumulative
    //    capture / lift (Eval.liftTable scaladoc) — prices the cutoff
    //    that ext_roc_auc/ext_pr_auc only rank.
    Query("ext_lift_table", (s, dir) => {
      val scored = stopwordScored(s, dir, col("doc_id"))
      graft.operators.Eval.liftTable(
        scored, col("score"), col("doc_id"), col("label"))
    },
      // Lift-table replay: same (score DESC, doc_id) total order,
      // integer ntile arithmetic ((rn-1)*10 // n + 1), cumulative
      // capture window, exact-integer lift divides.
      s"""WITH s AS (
        |  SELECT doc_id,
        |$StopwordScoreSql
        |r AS (
        |  SELECT CASE WHEN COALESCE(label, false) THEN 1 ELSE 0 END AS y,
        |    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
        |      AS rn,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n_all,
        |    CAST(SUM(CASE WHEN COALESCE(label, false) THEN 1 ELSE 0 END)
        |      OVER () AS BIGINT) AS pos_all
        |  FROM s),
        |bkt AS (
        |  SELECT y, n_all, pos_all, (rn - 1) * 10 // n_all + 1 AS bucket
        |  FROM r),
        |pb AS (
        |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS n_pos,
        |    MAX(n_all) AS n_all, MAX(pos_all) AS pos_all
        |  FROM bkt GROUP BY 1),
        |cum AS (
        |  SELECT *, CAST(SUM(n_pos) OVER (ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_pos
        |  FROM pb)
        |SELECT CAST(bucket AS BIGINT) AS bucket, n, n_pos,
        |  round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
        |  CASE WHEN pos_all > 0 THEN round(
        |    CAST(cum_pos AS DOUBLE) / CAST(pos_all AS DOUBLE), 6) END
        |    AS cum_capture,
        |  CASE WHEN pos_all > 0 THEN round(
        |    (CAST(n_pos AS DOUBLE) * CAST(n_all AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(pos_all AS DOUBLE)), 6) END
        |    AS lift
        |FROM cum ORDER BY bucket""".stripMargin),

    // ── Per-class precision/recall/F1 of the lang-id heuristic against
    //    the stored label — the per-class truth behind
    //    ext_cohens_kappa's single scalar (Eval.confusionMatrix
    //    scaladoc; one cell aggregation, margins in the k²-row world).
    Query("ext_confusion_matrix", (s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      graft.operators.Eval.confusionMatrix(
        d, col("lang"), TextFunctions.langId(col("text")))
    },
      // Confusion replay: the kappa langId vote chain as predictions,
      // full-outer margins, diagonal tp, guarded P/R/F1.
      """WITH v AS (
        |  SELECT lang AS a,
        |    CASE WHEN en >= de AND en >= es AND en > 0 THEN 'en'
        |         WHEN de >= es AND de > 0 THEN 'de'
        |         WHEN es > 0 THEN 'es'
        |         ELSE 'unk' END AS p
        |  FROM (SELECT lang,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the','a','and','of','is'))) AS en,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t IN ('der','die','das','und','ist'))) AS de,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t IN ('el','la','los','y','es'))) AS es
        |    FROM documents WHERE text IS NOT NULL)),
        |cells AS (
        |  SELECT a, p, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM v WHERE a IS NOT NULL AND p IS NOT NULL GROUP BY 1, 2),
        |ma AS (SELECT a AS label, CAST(SUM(n) AS BIGINT) AS n_actual
        |       FROM cells GROUP BY 1),
        |mp AS (SELECT p AS label, CAST(SUM(n) AS BIGINT) AS n_pred
        |       FROM cells GROUP BY 1),
        |dg AS (SELECT a AS label, n AS tp FROM cells WHERE a = p),
        |j AS (
        |  SELECT COALESCE(ma.label, mp.label) AS label,
        |    COALESCE(n_actual, 0) AS n_actual,
        |    COALESCE(n_pred, 0) AS n_pred
        |  FROM ma FULL OUTER JOIN mp ON ma.label = mp.label)
        |SELECT j.label, n_actual, n_pred,
        |  CAST(COALESCE(tp, 0) AS BIGINT) AS tp,
        |  CAST(n_pred - COALESCE(tp, 0) AS BIGINT) AS fp,
        |  CAST(n_actual - COALESCE(tp, 0) AS BIGINT) AS fn,
        |  CASE WHEN n_pred > 0 THEN round(
        |    CAST(COALESCE(tp, 0) AS DOUBLE) / CAST(n_pred AS DOUBLE), 6) END
        |    AS precision,
        |  CASE WHEN n_actual > 0 THEN round(
        |    CAST(COALESCE(tp, 0) AS DOUBLE) / CAST(n_actual AS DOUBLE), 6) END
        |    AS recall,
        |  CASE WHEN n_pred + n_actual > 0 THEN round(
        |    CAST(COALESCE(tp, 0) * 2 AS DOUBLE)
        |      / CAST(n_pred + n_actual AS DOUBLE), 6) END AS f1
        |FROM j LEFT JOIN dg ON j.label = dg.label
        |ORDER BY j.label""".stripMargin),

    // ── Best 1-D Gini split of the stopword-ratio score against
    //    lang='en' — [EXT r14]: the CART-stump threshold a curation
    //    cutoff should be SET at, with the impurity drop as evidence;
    //    distinct-score windows, guarded (Eval.bestSplit scaladoc).
    Query("ext_best_split", (s, dir) => {
      val d = t(s, dir, "documents")
      val nTokens = size(filter(split(col("text"), " "),
        tk => length(tk) > 0))
      val scored = d
        .filter(col("text").isNotNull && nTokens > 0 &&
          col("lang").isNotNull)
        .select(
          (graft.functions.expressions.GraftFunctions.token_match_count(
            col("text"), Seq("the", "a", "and", "of")).cast("double") /
            nTokens.cast("double")).as("score"),
          (col("lang") === "en").as("label"))
      graft.operators.Eval.bestSplit(scored, col("score"), col("label"))
    },
      // Best-split replay: the lift_table score, per-score cells,
      // cumulative windows, the identical weighted-Gini chain, the
      // smallest-threshold argmin.
      """WITH s AS (
        |  SELECT round(CAST(len(list_filter(string_split(text, ' '),
        |      tk -> list_contains(['the', 'a', 'and', 'of'], tk)))
        |      AS DOUBLE)
        |    / CAST(len(list_filter(string_split(text, ' '),
        |      tk -> len(tk) > 0)) AS DOUBLE), 6) AS sc,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents
        |  WHERE text IS NOT NULL AND lang IS NOT NULL
        |    AND len(list_filter(string_split(text, ' '),
        |      tk -> len(tk) > 0)) > 0),
        |ps_ AS (
        |  SELECT sc, CAST(COUNT(*) AS BIGINT) AS c,
        |    CAST(SUM(y) AS BIGINT) AS p
        |  FROM s GROUP BY 1),
        |cv AS (
        |  SELECT sc,
        |    CAST(SUM(c) OVER w AS BIGINT) AS ln_,
        |    CAST(SUM(p) OVER w AS BIGINT) AS lp,
        |    CAST(SUM(c) OVER () AS BIGINT) AS n,
        |    CAST(SUM(p) OVER () AS BIGINT) AS np
        |  FROM ps_ WINDOW w AS (ORDER BY sc
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (SELECT *, n - ln_ AS rn_, np - lp AS rp FROM cv),
        |gs AS (
        |  SELECT *, round((
        |    CASE WHEN ln_ > 0 THEN (1.0
        |      - (CAST(lp AS DOUBLE) / CAST(ln_ AS DOUBLE))
        |        * (CAST(lp AS DOUBLE) / CAST(ln_ AS DOUBLE))
        |      - (1.0 - CAST(lp AS DOUBLE) / CAST(ln_ AS DOUBLE))
        |        * (1.0 - CAST(lp AS DOUBLE) / CAST(ln_ AS DOUBLE)))
        |      * CAST(ln_ AS DOUBLE) ELSE 0.0 END
        |    + CASE WHEN rn_ > 0 THEN (1.0
        |      - (CAST(rp AS DOUBLE) / CAST(rn_ AS DOUBLE))
        |        * (CAST(rp AS DOUBLE) / CAST(rn_ AS DOUBLE))
        |      - (1.0 - CAST(rp AS DOUBLE) / CAST(rn_ AS DOUBLE))
        |        * (1.0 - CAST(rp AS DOUBLE) / CAST(rn_ AS DOUBLE)))
        |      * CAST(rn_ AS DOUBLE) ELSE 0.0 END)
        |    / CAST(n AS DOUBLE), 6) AS gini_split
        |  FROM g)
        |SELECT n, np AS n_pos,
        |  round(1.0 - (CAST(np AS DOUBLE) / CAST(n AS DOUBLE))
        |    * (CAST(np AS DOUBLE) / CAST(n AS DOUBLE))
        |    - (1.0 - CAST(np AS DOUBLE) / CAST(n AS DOUBLE))
        |    * (1.0 - CAST(np AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |    AS gini_root,
        |  sc AS best_threshold, gini_split,
        |  round((1.0 - (CAST(np AS DOUBLE) / CAST(n AS DOUBLE))
        |    * (CAST(np AS DOUBLE) / CAST(n AS DOUBLE))
        |    - (1.0 - CAST(np AS DOUBLE) / CAST(n AS DOUBLE))
        |    * (1.0 - CAST(np AS DOUBLE) / CAST(n AS DOUBLE)))
        |    - gini_split, 6) AS gain,
        |  ln_ AS left_n, lp AS left_pos, rn_ AS right_n, rp AS right_pos
        |FROM gs ORDER BY gini_split, sc LIMIT 1""".stripMargin),

    // ── McNemar paired comparison of two is-English rules (stopword
    //    count ≥ 3 vs n_chars ≥ 300) on the SAME docs — [EXT r14]:
    //    only discordant pairs carry information; correlated errors
    //    make unpaired comparisons overstate the sample
    //    (Eval.mcnemar scaladoc).
    Query("ext_mcnemar", (s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      graft.operators.Eval.mcnemar(
        d,
        predA = graft.functions.expressions.GraftFunctions
          .token_match_count(col("text"),
            Seq("the", "a", "and", "of")) >= 3,
        predB = col("n_chars") >= 300L,
        truth = col("lang") === "en")
    },
      // McNemar replay: the lift_table stopword counter, the same
      // paired cells and the continuity-corrected χ² chain.
      """WITH b AS (
        |  SELECT len(list_filter(string_split(text, ' '),
        |      tk -> list_contains(['the', 'a', 'and', 'of'], tk))) >= 3
        |      AS pa,
        |    n_chars >= 300 AS pb, lang = 'en' AS y
        |  FROM documents WHERE text IS NOT NULL),
        |f AS (
        |  SELECT pa = y AS ra, pb = y AS rb FROM b
        |  WHERE pa IS NOT NULL AND pb IS NOT NULL AND y IS NOT NULL),
        |g AS (SELECT
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN ra AND rb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_both_right,
        |    CAST(SUM(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_both_wrong,
        |    CAST(SUM(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a_only,
        |    CAST(SUM(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b_only
        |  FROM f),
        |x AS (
        |  SELECT *, CASE WHEN n_a_only + n_b_only > 0 THEN round(
        |    greatest(abs(CAST(n_a_only AS DOUBLE)
        |        - CAST(n_b_only AS DOUBLE)) - 1.0, 0.0)
        |    * greatest(abs(CAST(n_a_only AS DOUBLE)
        |        - CAST(n_b_only AS DOUBLE)) - 1.0, 0.0)
        |    / (CAST(n_a_only AS DOUBLE) + CAST(n_b_only AS DOUBLE)), 6)
        |    END AS chi2
        |  FROM g)
        |SELECT n, n_both_right, n_both_wrong, n_a_only, n_b_only,
        |  chi2, chi2 > 3.841 AS significant
        |FROM x""".stripMargin)
  )
}
