package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.TfIdf
import graft.queries.Query._

/** Term statistics: TF-IDF, vocabularies, language-model scores and
  * corpus laws (Zipf, Heaps, Good-Turing). */
object TfIdfQueries {

  def all: Seq[Query] = Seq(
    // ── Zipf slope — [EXT r13]: OLS of ln(freq) on ln(rank) over the
    //    top-100 token ranks, the "is this natural language?" corpus
    //    screen; distributed top-N, bounded regression
    //    (TfIdf.zipfSlope scaladoc).
    Query("ext_zipf_slope", (s, dir) =>
      TfIdf.zipfSlope(t(s, dir, "documents"), col("text"), topN = 100),
      // Zipf replay: buildVocab's tokenization, top-100 by (freq DESC,
      // token), ln terms quantized 9dp into DECIMAL(28,9) sums, OLS
      // slope/intercept as single IEEE divides.
      """WITH freq AS (
        |  SELECT term AS token, CAST(COUNT(*) AS BIGINT) AS freq
        |  FROM (
        |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        |    FROM documents)
        |  WHERE len(term) > 0 GROUP BY term),
        |top AS (SELECT token, freq FROM freq ORDER BY freq DESC, token
        |        LIMIT 100),
        |rk AS (SELECT freq,
        |  ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rank FROM top),
        |t AS (SELECT round(ln(CAST(rank AS DOUBLE)), 9) AS x,
        |             round(ln(CAST(freq AS DOUBLE)), 9) AS y FROM rk),
        |s AS (SELECT
        |  CAST(COUNT(*) AS BIGINT) AS n_ranks,
        |  CAST(SUM(CAST(round(x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(round(y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sy,
        |  CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
        |  CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxx
        |  FROM t)
        |SELECT n_ranks,
        |  round(CASE WHEN n_ranks >= 2
        |      AND (sxx - sx * sx / CAST(n_ranks AS DOUBLE)) > 0
        |    THEN (sxy - sx * sy / CAST(n_ranks AS DOUBLE))
        |       / (sxx - sx * sx / CAST(n_ranks AS DOUBLE)) END, 6) AS slope,
        |  round(CASE WHEN n_ranks >= 2
        |      AND (sxx - sx * sx / CAST(n_ranks AS DOUBLE)) > 0
        |    THEN (sy - ((sxy - sx * sy / CAST(n_ranks AS DOUBLE))
        |       / (sxx - sx * sx / CAST(n_ranks AS DOUBLE))) * sx)
        |       / CAST(n_ranks AS DOUBLE) END, 6) AS intercept
        |FROM s""".stripMargin),

    // ── Corpus saturation curve — [EXT r14]: word-trigram first-
    //    occurrence counts per acquisition slice (id-range buckets, no
    //    global sort) — the diminishing-returns table a data-buying
    //    decision reads; empty slices kept (TfIdf.saturationCurve
    //    scaladoc).
    Query("ext_saturation_curve", (s, dir) =>
      TfIdf.saturationCurve(
        t(s, dir, "documents"), col("doc_id"), col("text"),
        n = 3, buckets = 10),
      // Saturation replay: the same id-range buckets (integer floor
      // division), trigram min-bucket first occurrences, spine-kept
      // empty slices, windowed cumulative.
      """WITH b0 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id IS NOT NULL),
        |bd AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM b0),
        |bk AS (
        |  SELECT doc_id, text,
        |    (doc_id - lo) * 10 // (hi - lo + 1) AS bucket
        |  FROM b0 CROSS JOIN bd),
        |dp AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs
        |       FROM bk GROUP BY 1),
        |fs AS (
        |  SELECT gram, MIN(bucket) AS bucket FROM (
        |    SELECT bucket, unnest(list_transform(
        |      range(1, len(ts) - 1),
        |      i -> array_to_string(list_slice(ts, i, i + 2), ' ')))
        |      AS gram
        |    FROM (SELECT bucket, string_split(text, ' ') AS ts FROM bk) u)
        |  GROUP BY 1),
        |ng AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_grams
        |       FROM fs GROUP BY 1),
        |sp AS (SELECT unnest(range(0, 10)) AS bucket)
        |SELECT sp.bucket,
        |  CAST(COALESCE(n_docs, 0) AS BIGINT) AS n_docs,
        |  CAST(COALESCE(new_grams, 0) AS BIGINT) AS new_grams,
        |  CAST(SUM(COALESCE(new_grams, 0)) OVER (ORDER BY sp.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_grams,
        |  round(CASE WHEN COALESCE(n_docs, 0) > 0
        |    THEN CAST(COALESCE(new_grams, 0) AS DOUBLE)
        |      / CAST(n_docs AS DOUBLE) END, 6) AS new_per_doc
        |FROM sp LEFT JOIN dp USING (bucket) LEFT JOIN ng USING (bucket)
        |ORDER BY bucket""".stripMargin),

    // ── Monroe "Fightin' Words" log-odds (informative Dirichlet
    //    prior) between src0 and src1 — [EXT r14]: what distinguishes
    //    corpus A from B with rare-word shrinkage and per-token
    //    uncertainty; the corpus-comparison readout raw frequency
    //    deltas and TF-IDF both get wrong (TfIdf.logOddsWords
    //    scaladoc).
    Query("ext_log_odds_words", (s, dir) =>
      TfIdf.logOddsWords(
        t(s, dir, "documents"), col("text"), col("source"),
        sourceA = "src0", sourceB = "src1",
        priorScale = 10.0, minCount = 5L),
      // Fightin'-Words replay: one (token, side) aggregate, the full-
      // vocabulary prior, the identical two-ln + sqrt IEEE chain.
      """WITH tk AS (
        |  SELECT side, term FROM (
        |    SELECT source AS side,
        |      unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        |    FROM documents WHERE source IN ('src0', 'src1'))
        |  WHERE len(term) > 0),
        |cells AS (
        |  SELECT term AS token,
        |    CAST(SUM(CASE WHEN side = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ya,
        |    CAST(SUM(CASE WHEN side = 'src1' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS yb
        |  FROM tk GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(ya) AS BIGINT) AS na,
        |    CAST(SUM(yb) AS BIGINT) AS nb,
        |    CAST(SUM(ya + yb) AS BIGINT) AS ntot
        |  FROM cells),
        |e AS (
        |  SELECT token, ya, yb, na, nb,
        |    10.0 * (CAST(ya + yb AS DOUBLE) / CAST(ntot AS DOUBLE))
        |      AS alpha
        |  FROM cells CROSS JOIN tot
        |  WHERE ya + yb >= 5),
        |d AS (
        |  SELECT *,
        |    ln((CAST(ya AS DOUBLE) + alpha) / (CAST(na AS DOUBLE) + 10.0
        |      - CAST(ya AS DOUBLE) - alpha))
        |    - ln((CAST(yb AS DOUBLE) + alpha) / (CAST(nb AS DOUBLE) + 10.0
        |      - CAST(yb AS DOUBLE) - alpha)) AS delta
        |  FROM e)
        |SELECT token, ya AS n_a_tok, yb AS n_b_tok,
        |  round(delta, 6) AS delta,
        |  round(delta / sqrt(1.0 / (CAST(ya AS DOUBLE) + alpha)
        |    + 1.0 / (CAST(yb AS DOUBLE) + alpha)), 6) AS z
        |FROM d ORDER BY token""".stripMargin),

    // ── Church–Gale token burstiness — [EXT r14]: within-doc
    //    recurrence (cf/df) + the Poisson df ratio that separates
    //    topical terms (ratio ≪ 1) from glue words (≈ 1) without
    //    IDF's corpus-size sensitivity (TfIdf.tokenBurstiness
    //    scaladoc).
    Query("ext_token_burstiness", (s, dir) =>
      TfIdf.tokenBurstiness(
        t(s, dir, "documents"), col("doc_id"), col("text"), minDf = 5L),
      // Burstiness replay: the same (doc, token) double aggregate, one
      // exp on an exact rational, the identical IEEE chain.
      """WITH tok AS (
        |  SELECT doc_id, term FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        |    FROM documents)
        |  WHERE len(term) > 0),
        |pd AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM tok GROUP BY 1, 2),
        |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs
        |       FROM documents WHERE doc_id IS NOT NULL),
        |tt AS (
        |  SELECT term AS token, CAST(SUM(c) AS BIGINT) AS cf,
        |    CAST(COUNT(*) AS BIGINT) AS df
        |  FROM pd GROUP BY 1 HAVING COUNT(*) >= 5)
        |SELECT token, cf, df,
        |  round(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE), 6) AS burst,
        |  round(CAST(df AS DOUBLE) / (CAST(n_docs AS DOUBLE)
        |    * (1.0 - exp(-(CAST(cf AS DOUBLE) / CAST(n_docs AS DOUBLE))))),
        |    6) AS df_poisson_ratio
        |FROM tt CROSS JOIN nd ORDER BY token""".stripMargin),

    // ── Cross-entropy drift between corpus halves — [EXT r13]:
    //    smoothed unigram model on even docs, both halves scored under
    //    it; the gap is the KL-style text-distribution drift monitor
    //    (TfIdf.crossEntropyDrift scaladoc).
    Query("ext_ce_drift", (s, dir) => {
      val d = t(s, dir, "documents")
      TfIdf.crossEntropyDrift(
        d.filter(pmod(col("doc_id"), lit(2)) === 0),
        d.filter(pmod(col("doc_id"), lit(2)) === 1),
        col("text"))
    },
      // Cross-entropy-drift replay: add-one unigram model with an OOV
      // class from the even half, both halves scored under it; −ln p
      // terms 9dp into DECIMAL(28,9) sums, drift from unrounded means.
      """WITH rtok AS (
        |  SELECT term AS token FROM (
        |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        |    FROM documents WHERE doc_id % 2 = 0)
        |  WHERE len(term) > 0),
        |ctok AS (
        |  SELECT term AS token FROM (
        |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        |    FROM documents WHERE doc_id % 2 = 1)
        |  WHERE len(term) > 0),
        |model AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
        |          FROM rtok GROUP BY 1),
        |stats AS (SELECT CAST(SUM(freq) AS BIGINT) AS n_ref,
        |                 CAST(COUNT(*) AS BIGINT) AS v_ref FROM model),
        |refagg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_ref_tokens,
        |    CAST(SUM(CAST(round(-ln(
        |        CAST(COALESCE(m.freq, 0) + 1 AS DOUBLE)
        |        / CAST(s.n_ref + s.v_ref + 1 AS DOUBLE)), 9)
        |      AS DECIMAL(28,9))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS ce_ref
        |  FROM rtok t LEFT JOIN model m ON t.token = m.token
        |  CROSS JOIN stats s),
        |curagg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cur_tokens,
        |    CAST(SUM(CAST(round(-ln(
        |        CAST(COALESCE(m.freq, 0) + 1 AS DOUBLE)
        |        / CAST(s.n_ref + s.v_ref + 1 AS DOUBLE)), 9)
        |      AS DECIMAL(28,9))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS ce_cur
        |  FROM ctok t LEFT JOIN model m ON t.token = m.token
        |  CROSS JOIN stats s)
        |SELECT r.n_ref_tokens, c.n_cur_tokens, s.v_ref,
        |  round(r.ce_ref, 6) AS ce_ref, round(c.ce_cur, 6) AS ce_cur,
        |  round(c.ce_cur - r.ce_ref, 6) AS drift
        |FROM refagg r CROSS JOIN curagg c CROSS JOIN stats s""".stripMargin),

    // ── Heaps'-law exponent fit — [EXT r15]: V = K·N^β over the
    //    acquisition curve, OLS on 6dp-quantized (ln N, ln V) points
    //    with r² fit quality — ext_saturation_curve compressed to one
    //    thresholdable exponent (TfIdf.heapsLaw scaladoc).
    Query("ext_heaps_law", (s, dir) =>
      TfIdf.heapsLaw(
        t(s, dir, "documents"), col("doc_id"), col("text"), buckets = 10),
      // Heaps replay: the saturation bucket spine over UNIGRAM
      // lowercase tokens, cumulative (tokens, vocab) points,
      // 6dp-quantized lns, exact decimal OLS moment sums, final IEEE
      // slope/intercept/r2.
      """WITH b0 AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(COALESCE(text, '')),
        |      '[^a-z]+'), tk -> len(tk) > 0) AS tk
        |  FROM documents WHERE doc_id IS NOT NULL),
        |bd AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM b0),
        |bk AS (
        |  SELECT doc_id, tk, (doc_id - lo) * 10 // (hi - lo + 1) AS bucket
        |  FROM b0 CROSS JOIN bd),
        |tp AS (SELECT bucket, CAST(SUM(len(tk)) AS BIGINT) AS nt
        |       FROM bk GROUP BY 1),
        |fs AS (
        |  SELECT tok, MIN(bucket) AS bucket
        |  FROM (SELECT bucket, unnest(tk) AS tok FROM bk) u GROUP BY 1),
        |nv AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS nv
        |       FROM fs GROUP BY 1),
        |sp AS (SELECT unnest(range(0, 10)) AS bucket),
        |cumt AS (
        |  SELECT sp.bucket,
        |    SUM(COALESCE(nt, 0)) OVER (ORDER BY sp.bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
        |    SUM(COALESCE(nv, 0)) OVER (ORDER BY sp.bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_v
        |  FROM sp LEFT JOIN tp USING (bucket) LEFT JOIN nv USING (bucket)),
        |pts AS (
        |  SELECT cum_n, cum_v,
        |    CAST(ln(CAST(cum_n AS DOUBLE)) AS DECIMAL(18,6)) AS x,
        |    CAST(ln(CAST(cum_v AS DOUBLE)) AS DECIMAL(18,6)) AS y
        |  FROM cumt WHERE cum_n > 0 AND cum_v > 0),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
        |    CAST(MAX(cum_n) AS BIGINT) AS n_tokens,
        |    CAST(MAX(cum_v) AS BIGINT) AS vocab,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
        |    SUM(x * x) AS sxx, SUM(y * y) AS syy,
        |    MIN(x) < MAX(x) AS x_varies, MIN(y) < MAX(y) AS y_varies
        |  FROM pts),
        |d AS (
        |  SELECT *,
        |    n_points * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
        |    n_points * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
        |    n_points * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny
        |  FROM m)
        |SELECT n_points, n_tokens, vocab,
        |  round(CASE WHEN n_points >= 2 AND x_varies AND den > 0.0
        |    THEN num / den END, 6) AS beta,
        |  round(CASE WHEN n_points >= 2 AND x_varies AND den > 0.0
        |    THEN exp((CAST(sy AS DOUBLE) - (num / den) * CAST(sx AS DOUBLE))
        |      / CAST(n_points AS DOUBLE)) END, 6) AS k_coef,
        |  round(CASE WHEN n_points >= 2 AND x_varies AND y_varies
        |      AND den > 0.0 AND deny > 0.0
        |    THEN (num * num) / (den * deny) END, 6) AS r2
        |FROM d""".stripMargin),

    // ── Good–Turing frequency-of-frequencies — [EXT r16]: probability
    //    mass per observed count r and the smoothed count
    //    r* = (r+1)·N_{r+1}/N_r; the r = 1 row's mass_share (N₁/N) is
    //    the unseen-vocabulary mass estimate — the coverage number a
    //    tokenizer/vocab freeze decision reads next to ext_heaps_law's
    //    growth exponent (TfIdf.goodTuring scaladoc).
    Query("ext_good_turing", (s, dir) =>
      TfIdf.goodTuring(t(s, dir, "documents"), col("text"), maxR = 10),
      // Good–Turing replay: same [^a-z]+ tokenization, exact integer
      // counts-of-counts, single IEEE divides at the end; the r spine
      // keeps empty count classes, NULL r* where the estimator is
      // undefined.
      """WITH toks AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(COALESCE(text, '')), '[^a-z]+'),
        |    t -> t <> '')) AS tok
        |  FROM documents),
        |f AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS r FROM toks GROUP BY tok),
        |c AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_types FROM f GROUP BY r),
        |n AS (SELECT CAST(SUM(r) AS BIGINT) AS n_tokens FROM f),
        |sp AS (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS r)
        |SELECT sp.r, CAST(COALESCE(c.n_types, 0) AS BIGINT) AS n_types,
        |  round(CAST(sp.r AS DOUBLE) * CAST(COALESCE(c.n_types, 0) AS DOUBLE)
        |    / CAST(n.n_tokens AS DOUBLE), 6) AS mass_share,
        |  round(CAST(sp.r + 1 AS DOUBLE) * CAST(c2.n_types AS DOUBLE)
        |    / CAST(c.n_types AS DOUBLE), 6) AS gt_rstar
        |FROM sp
        |LEFT JOIN c ON sp.r = c.r
        |LEFT JOIN c c2 ON c2.r = sp.r + 1
        |CROSS JOIN n
        |ORDER BY sp.r""".stripMargin),

    // ── RAKE keyphrase extraction — [EXT r15]: stopword-boundary
    //    candidate runs, corpus-wide deg/freq word scores, exact
    //    decimal phrase sums, top-50 — the metadata-enrichment op for
    //    topic routing / boilerplate families (TfIdf.rakeKeyphrases
    //    scaladoc).
    Query("ext_rake_keyphrases", (s, dir) =>
      TfIdf.rakeKeyphrases(
        t(s, dir, "documents"), col("doc_id"), col("text"),
        k = 50, minCount = 2L),
      // RAKE replay: positional token explode, boundary run-ids via the
      // same cumulative window, corpus deg/freq, decimal word-score
      // sums over distinct phrase words, (score DESC, phrase) top-50.
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(text), '[^a-z]+') AS ts
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |ex AS (SELECT doc_id, unnest(range(1, len(ts) + 1)) AS i, ts
        |       FROM t),
        |tk AS (SELECT doc_id, i AS pos, ts[CAST(i AS INT)] AS tok FROM ex),
        |mk AS (
        |  SELECT doc_id, pos, tok,
        |    CASE WHEN len(tok) = 0 OR list_contains(
        |      ['the','a','an','and','of','to','in','is','it','for',
        |       'on','with','as','at','by','or'], tok)
        |    THEN 1 ELSE 0 END AS is_b
        |  FROM tk),
        |rn AS (
        |  SELECT *, SUM(is_b) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        |  FROM mk),
        |runs AS (SELECT doc_id, run_id, pos, tok FROM rn WHERE is_b = 0),
        |ph AS (
        |  SELECT doc_id, run_id, string_agg(tok, ' ' ORDER BY pos)
        |    AS phrase
        |  FROM runs GROUP BY 1, 2),
        |wl AS (
        |  SELECT doc_id, run_id, tok,
        |    COUNT(*) OVER (PARTITION BY doc_id, run_id) AS run_len
        |  FROM runs),
        |w AS (
        |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq,
        |    CAST(SUM(run_len) AS BIGINT) AS deg
        |  FROM wl GROUP BY 1),
        |ws AS (SELECT tok,
        |  CAST(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE)
        |    AS DECIMAL(18,6)) AS w_score
        |  FROM w),
        |pw AS (
        |  SELECT p.doc_id, p.run_id, p.phrase,
        |    unnest(list_distinct(string_split(p.phrase, ' '))) AS tok
        |  FROM ph p),
        |sc AS (
        |  SELECT pw.doc_id, pw.run_id, pw.phrase,
        |    SUM(ws.w_score) AS score, CAST(COUNT(*) AS BIGINT) AS n_words
        |  FROM pw JOIN ws USING (tok) GROUP BY 1, 2, 3),
        |agg AS (
        |  SELECT phrase, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |    CAST(COUNT(*) AS BIGINT) AS n_occurrences,
        |    CAST(MAX(n_words) AS BIGINT) AS n_words,
        |    round(CAST(MAX(score) AS DOUBLE), 6) AS score
        |  FROM sc GROUP BY 1)
        |SELECT phrase, n_docs, n_occurrences, n_words, score FROM agg
        |WHERE n_occurrences >= 2
        |ORDER BY score DESC, phrase LIMIT 50""".stripMargin),

    // ── TF-IDF keyword extraction: top-3 terms per document, ranked by
    //    integers only (tf desc, df asc, term) so the ordering is exactly
    //    reproducible in DuckDB; score is the linear-IDF variant tf·N/df
    //    (pure IEEE +,·,/ — bit-identical cross-engine, unlike log).
    Query("ext_tfidf_topterms", (s, dir) => {
      graft.operators.TfIdf.topTerms(
        t(s, dir, "documents"), col("doc_id"), col("text"), 3)
        .orderBy("doc_id", "rank")
    },
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (
        |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        |    CAST(tf.tf AS DOUBLE) * n.n_docs / dfq.df AS score,
        |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, dfq.df ASC, tf.term ASC) AS rank
        |  FROM tf JOIN dfq USING (term) CROSS JOIN n)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
        |       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
        |FROM scored WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),

    // ── Tokenizer vocabulary build: corpus term frequencies cut at
    //    min_count, capped to the most frequent, dense ids by
    //    (freq DESC, token) — TfIdf.buildVocab; the cap is a distributed
    //    top-k, never a global vocabulary sort.
    Query("ext_vocab_build", (s, dir) => {
      TfIdf.buildVocab(t(s, dir, "documents"), col("text"),
        minCount = 2L, maxSize = 30000)
        .orderBy("token_id")
    },
      """WITH freq AS (
        |  SELECT term AS token, CAST(COUNT(*) AS BIGINT) AS freq
        |  FROM (
        |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        |    FROM documents)
        |  WHERE len(term) > 0
        |  GROUP BY term HAVING COUNT(*) >= 2),
        |ids AS (
        |  SELECT token, freq,
        |    CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS BIGINT)
        |      AS token_id
        |  FROM freq)
        |SELECT token, token_id, freq FROM ids
        |WHERE token_id <= 30000 ORDER BY token_id""".stripMargin),

    // ── Unigram LM quality scoring: mean −ln p(token) per document
    //    under the corpus's own unigram model — TfIdf.unigramLogProb;
    //    per-token −ln p quantized to DECIMAL(18,6) pre-sum so the
    //    score is partition-order independent and libm-ulp immune.
    Query("ext_unigram_nll", (s, dir) => {
      TfIdf.unigramLogProb(t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy("doc_id")
    },
      // −ln p per token quantized to DECIMAL(18,6) on both engines before
      // the sum (see TfIdf.unigramLogProb reproducibility note).
      """WITH toks AS (
        |  SELECT doc_id, term FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        |    FROM documents)
        |  WHERE len(term) > 0),
        |model AS (SELECT term, COUNT(*) AS freq FROM toks GROUP BY term),
        |tot AS (SELECT COUNT(*) AS n_total FROM toks)
        |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CAST(-ln(CAST(m.freq AS DOUBLE) / CAST(n_total AS DOUBLE))
        |           AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS nll
        |FROM toks t JOIN model m ON t.term = m.term CROSS JOIN tot
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),

    // ── Tokenize: encode each document as token ids under the built
    //    vocabulary (OOV → 0), order reassembled inside one aggregate —
    //    TfIdf.encode ∘ TfIdf.buildVocab. Ids emitted string-joined
    //    (array cells don't hash in the harness comparer).
    Query("ext_tokenize_ids", (s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = TfIdf.buildVocab(docs, col("text"), minCount = 2L, maxSize = 30000)
      TfIdf.encode(docs, col("doc_id"), col("text"), vocab)
        .select(col("doc_id"), col("n_tokens"),
          array_join(col("ids"), ",").as("ids_str"))
        .orderBy("doc_id")
    },
      // Positional tokens via per-row range() indexing; ids reassembled
      // with list(... ORDER BY pos) against the same vocab CTE.
      """WITH freq AS (
        |  SELECT term AS token, CAST(COUNT(*) AS BIGINT) AS freq
        |  FROM (
        |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        |    FROM documents)
        |  WHERE len(term) > 0
        |  GROUP BY term HAVING COUNT(*) >= 2),
        |vocab AS (
        |  SELECT token, token_id FROM (
        |    SELECT token,
        |      CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS BIGINT)
        |        AS token_id
        |    FROM freq)
        |  WHERE token_id <= 30000),
        |t0 AS (
        |  SELECT doc_id, string_split_regex(lower(text), '[^a-z]+') AS ts
        |  FROM documents),
        |t1 AS (
        |  SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS pos FROM t0),
        |toks AS (
        |  SELECT doc_id, pos, ts[pos] AS term FROM t1 WHERE len(ts[pos]) > 0),
        |enc AS (
        |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    list(COALESCE(v.token_id, 0) ORDER BY t.pos) AS ids
        |  FROM toks t LEFT JOIN vocab v ON t.term = v.token
        |  GROUP BY t.doc_id)
        |SELECT doc_id, n_tokens, array_to_string(ids, ',') AS ids_str
        |FROM enc ORDER BY doc_id""".stripMargin),

    // ── Bigram LM quality scoring: mean −ln p(w₂|w₁) per document under
    //    the corpus's own add-k-smoothed bigram model — the rung above
    //    ext_unigram_nll on the perplexity-filter ladder
    //    (TfIdf.bigramLogProb scaladoc for the 1-scan model shape).
    Query("ext_bigram_nll", (s, dir) =>
      TfIdf.bigramLogProb(
        t(s, dir, "documents"), col("doc_id"), col("text"), k = 0.5)
        .orderBy("doc_id"),
      // Same add-k arithmetic as TfIdf.bigramLogProb: −ln p quantized to
      // DECIMAL(18,6) pre-sum (order-free, libm-ulp immune); c1/V derived
      // from the aggregated pair table, exactly like the Spark plan.
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |      t -> len(t) > 0) AS a
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, a[i] AS w1, a[i + 1] AS w2
        |  FROM (SELECT doc_id, a,
        |          unnest(generate_series(1, len(a) - 1)) AS i
        |        FROM toks WHERE len(a) >= 2) s),
        |model AS (
        |  SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2),
        |ctx AS (
        |  SELECT w1, w2, c12,
        |         SUM(c12) OVER (PARTITION BY w1) AS c1
        |  FROM model),
        |voc AS (
        |  SELECT COUNT(DISTINCT t) AS v FROM (
        |    SELECT w1 AS t FROM model
        |    UNION ALL SELECT w2 FROM model) u)
        |SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(CAST(-ln((CAST(c12 AS DOUBLE) + 0.5) /
        |                    (CAST(c1 AS DOUBLE) + 0.5 * CAST(v AS DOUBLE)))
        |           AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS bigram_nll
        |FROM bi b JOIN ctx USING (w1, w2) CROSS JOIN voc
        |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin),

    // ── Interpolated Kneser–Ney bigram model — [EXT r14]: absolute
    //    discount + CONTINUATION-probability backoff (the KenLM/SRILM
    //    default) next to ext_bigram_nll's add-k baseline; exact
    //    integer count table, one fixed-shape IEEE chain per bigram
    //    (TfIdf.kneserNeyBigrams scaladoc).
    Query("ext_kneser_ney", (s, dir) =>
      TfIdf.kneserNeyBigrams(
        t(s, dir, "documents"), col("doc_id"), col("text"),
        discount = 0.75, minCount = 3L),
      // KN replay: the bigram_nll cell table, windowed context counts,
      // distinct-continuation counts, the identical left-associated
      // discount + backoff IEEE chain.
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |      t -> len(t) > 0) AS a
        |  FROM documents),
        |bi AS (
        |  SELECT a[i] AS tok_a, a[i + 1] AS tok_b
        |  FROM (SELECT a, unnest(generate_series(1, len(a) - 1)) AS i
        |        FROM toks WHERE len(a) >= 2) s),
        |cells AS (
        |  SELECT tok_a, tok_b, CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM bi GROUP BY 1, 2),
        |ctx AS (
        |  SELECT *,
        |    CAST(SUM(n_ab) OVER (PARTITION BY tok_a) AS BIGINT) AS c_a,
        |    CAST(COUNT(*) OVER (PARTITION BY tok_a) AS BIGINT) AS n1p_a,
        |    CAST(COUNT(*) OVER (PARTITION BY tok_b) AS BIGINT) AS n1p_b
        |  FROM cells),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1p_total FROM cells)
        |SELECT tok_a, tok_b, n_ab, c_a, n1p_a,
        |  round(CAST(n1p_b AS DOUBLE) / CAST(n1p_total AS DOUBLE), 6)
        |    AS p_cont,
        |  round((CAST(n_ab AS DOUBLE) - 0.75) / CAST(c_a AS DOUBLE)
        |    + 0.75 * CAST(n1p_a AS DOUBLE) / CAST(c_a AS DOUBLE)
        |      * (CAST(n1p_b AS DOUBLE) / CAST(n1p_total AS DOUBLE)), 6)
        |    AS p_kn
        |FROM ctx CROSS JOIN tot
        |WHERE n_ab >= 3 ORDER BY tok_a, tok_b""".stripMargin),

    // ── All-pairs TF-IDF cosine ≥ 0.25 via inverted-index self-join
    //    with the Bayardo df-cap prune — the sparse-vector complement
    //    of ext_embedding_neardup (TfIdf.allPairsCosine scaladoc).
    Query("ext_allpairs_cosine", (s, dir) =>
      TfIdf.allPairsCosine(
        t(s, dir, "documents"), col("doc_id"), col("text"),
        dfCap = 50L, threshold = 0.25)
        .orderBy("id_a", "id_b"),
      // idf weights quantized to DECIMAL(18,6) once; norms and dots are
      // exact decimal sums; cosine = IEEE ·,/,√ of those — bit-identical
      // to TfIdf.allPairsCosine. df computed BEFORE the dfCap filter.
      """WITH tf AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        |        FROM documents) s
        |  WHERE len(term) > 0 GROUP BY doc_id, term),
        |tot AS (SELECT COUNT(*) AS n_docs FROM documents),
        |post AS (
        |  SELECT doc_id, term,
        |    CAST(CAST(tf AS DOUBLE) *
        |         ln((CAST(n_docs AS DOUBLE) + 1.0) /
        |            (CAST(df AS DOUBLE) + 1.0)) AS DECIMAL(18,6)) AS w
        |  FROM (SELECT doc_id, term, tf,
        |          COUNT(*) OVER (PARTITION BY term) AS df
        |        FROM tf) d CROSS JOIN tot
        |  WHERE df <= 50),
        |pn AS (
        |  SELECT doc_id, term, w,
        |    sqrt(CAST(SUM(w * w) OVER (PARTITION BY doc_id) AS DOUBLE))
        |      AS norm
        |  FROM post)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(SUM(a.w * b.w) AS DOUBLE) /
        |        (MAX(a.norm) * MAX(b.norm)), 6) AS cosine
        |FROM pn a JOIN pn b ON a.term = b.term AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id
        |HAVING CAST(SUM(a.w * b.w) AS DOUBLE) /
        |       (MAX(a.norm) * MAX(b.norm)) >= 0.25
        |ORDER BY id_a, id_b""".stripMargin)
  )
}
