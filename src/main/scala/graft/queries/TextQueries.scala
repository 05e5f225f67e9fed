package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Packing, TextPipeline}
import graft.queries.OracleSql._
import graft.queries.Query._

/** Text pipeline: token and quality functions, filtering,
  * decontamination, tokenizers, mixing, splitting and sequence packing. */
object TextQueries {

  /** Shared by ext_decontaminate and ext_decontaminate_bloom — the bloom
    * variant's correctness claim is exactly "same output as the exact
    * path". */
  private val DecontaminateOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(ts) - 3),
      |    i -> array_to_string(list_slice(ts, i, i + 4), ' ')))) AS gram
      |  FROM tok),
      |eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
      |ov AS (
      |  SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
      |  FROM g JOIN eg USING (gram) WHERE g.doc_id % 97 <> 0 GROUP BY 1)
      |SELECT d.doc_id, COALESCE(ov.n_overlap, 0) AS n_overlap,
      |       COALESCE(ov.n_overlap, 0) > 0 AS contaminated
      |FROM documents d LEFT JOIN ov USING (doc_id)
      |WHERE d.doc_id % 97 <> 0 ORDER BY doc_id""".stripMargin

  /** The α = 0.5 domain-mix replay over (lang, source) cells: counts,
    * shares and 12dp square-root shares (`sh`). */
  private val DomainMixSql: String =
    """WITH cells AS (
      |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM documents GROUP BY 1, 2),
      |tot AS (SELECT COUNT(*) AS n_total FROM documents),
      |sh AS (
      |  SELECT lang, source, n,
      |    CAST(n AS DOUBLE) / n_total AS share,
      |    CAST(CAST(sqrt(CAST(n AS DOUBLE) / n_total) AS DECIMAL(18,12))
      |         AS DOUBLE) AS sqrt_share
      |  FROM cells CROSS JOIN tot),""".stripMargin

  /** The curation funnel's per-document features: stopword votes for
    * en/de/es (the langId families) and the qualityScore formula, over
    * space-split tokens (`v`). */
  private val CurationFeaturesSql: String =
    """toks AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents),
      |v AS (
      |  SELECT doc_id, text,
      |    len(list_filter(ts, t -> t IN ('the','a','and','of','is'))) AS en,
      |    len(list_filter(ts, t -> t IN ('der','die','das','und','ist'))) AS de,
      |    len(list_filter(ts, t -> t IN ('el','la','los','y','es'))) AS es,
      |    0.4 * least(1.0, CAST(len(ts) AS DOUBLE) / 100.0)
      |    + 0.4 * least(1.0, CAST(len(list_filter(ts,
      |        t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
      |        / len(ts) * 5.0)
      |    + 0.2 * (1.0 - CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
      |        / length(text)) AS quality
      |  FROM toks),""".stripMargin

  /** Sequence-packing offsets over a `d` CTE of (doc_id, shard, n_tokens):
    * each document's start offset in its shard's token stream and its
    * first, last and number of 512-token chunks. */
  private val PackOffsetsSql: String =
    """c AS (
      |  SELECT doc_id, shard, n_tokens,
      |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS start_off
      |  FROM d)
      |SELECT doc_id, shard, n_tokens, start_off,
      |       CAST(start_off // 512 AS BIGINT) AS first_chunk,
      |       CAST((start_off + greatest(n_tokens, 1) - 1) // 512 AS BIGINT)
      |         AS last_chunk,
      |       CAST((start_off + greatest(n_tokens, 1) - 1) // 512
      |         - start_off // 512 + 1 AS BIGINT) AS n_chunks
      |FROM c ORDER BY doc_id""".stripMargin

  def all: Seq[Query] = Seq(
    // ── Text stats: token counting + shape stats, all map-side codegen.
    Query("ext_text_stats", (s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          col("n_chars"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          TextFunctions.distinctTokenCount(col("text")).as("n_distinct_tokens"),
          TextFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens"),
          TextFunctions.avgTokenLen(col("text")).as("avg_token_len"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, n_chars,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |         AS n_distinct_tokens,
        |       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]'))
        |         AS BIGINT) AS n_bpe_tokens,
        |       CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |         / len(string_split(text, ' ')) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ── Quality scoring: stopword/punct ratios + composite score.
    Query("ext_text_quality", (s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          TextFunctions.stopwordRatio(col("text")).as("stop_ratio"),
          TextFunctions.punctRatio(col("text")).as("punct_ratio"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text,' '),
        |    t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |    / len(string_split(text,' ')) AS stop_ratio,
        |  CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
        |    / length(text) AS punct_ratio,
        |  0.4 * least(1.0, CAST(len(string_split(text,' ')) AS DOUBLE) / 100.0)
        |  + 0.4 * least(1.0, CAST(len(list_filter(string_split(text,' '),
        |      t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |      / len(string_split(text,' ')) * 5.0)
        |  + 0.2 * (1.0 - CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
        |      / length(text)) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ── Flesch readability screen — [EXT r12]: vowel-group syllable
    //    heuristic, whitespace words, punctuation-run sentences; one
    //    compiled-regex map pass, zero shuffles
    //    (TextPipeline.readabilityScore scaladoc).
    Query("ext_readability", (s, dir) =>
      TextPipeline.readabilityScore(
        t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy("doc_id"),
      // Readability replay: whitespace words, [.!?]+ sentence runs
      // (min 1), [aeiouy]+ vowel groups on the lowercased text, the
      // Flesch chain in exact IEEE arithmetic rounded 6dp, banded.
      """WITH f AS (
        |  SELECT doc_id,
        |    CASE WHEN length(text) > 0
        |      THEN CAST(len(string_split(text, ' ')) AS BIGINT)
        |      ELSE 0 END AS words,
        |    greatest(1,
        |      coalesce(len(regexp_extract_all(text, '[.!?]+')), 0)) AS sen,
        |    coalesce(len(regexp_extract_all(lower(text), '[aeiouy]+')), 0)
        |      AS syl
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, words, sen, syl,
        |    CASE WHEN words > 0 THEN
        |      round(206.835
        |        - 1.015 * (CAST(words AS DOUBLE) / CAST(sen AS DOUBLE))
        |        - 84.6 * (CAST(syl AS DOUBLE) / CAST(words AS DOUBLE)), 6)
        |    END AS flesch
        |  FROM f)
        |SELECT doc_id, words, CAST(sen AS BIGINT) AS sentences,
        |  CAST(syl AS BIGINT) AS syllables, flesch,
        |  CASE WHEN flesch IS NULL THEN 'empty'
        |    WHEN flesch >= 70.0 THEN 'easy'
        |    WHEN flesch >= 50.0 THEN 'standard'
        |    WHEN flesch >= 30.0 THEN 'difficult'
        |    ELSE 'very_hard' END AS band
        |FROM g ORDER BY doc_id""".stripMargin),

    // ── Language ID (stopword-family votes; see TextFunctions.langId).
    Query("ext_lang_id", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextFunctions.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id")
    },
      """WITH v AS (SELECT doc_id, lang,
        |  len(list_filter(string_split(text,' '),
        |      t -> t IN ('the','a','and','of','is'))) AS en,
        |  len(list_filter(string_split(text,' '),
        |      t -> t IN ('der','die','das','und','ist'))) AS de,
        |  len(list_filter(string_split(text,' '),
        |      t -> t IN ('el','la','los','y','es'))) AS es
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN en >= de AND en >= es AND en > 0 THEN 'en'
        |       WHEN de >= es AND de > 0 THEN 'de'
        |       WHEN es > 0 THEN 'es'
        |       ELSE 'unk' END AS pred_lang
        |FROM v ORDER BY doc_id""".stripMargin),

    // ── Overlapping fixed-size chunking (context-window prep). The
    //    chunk body itself is dropped from the contract result — the md5
    //    hash-checks the exact content without hauling it (the parity
    //    check hashes every cell anyway).
    Query("ext_chunk_overlap", (s, dir) => {
      TextPipeline.chunkWithOverlap(
        t(s, dir, "documents"), col("doc_id"), col("text"),
        size = 200, stride = 150)
        .drop("chunk")
        .orderBy("doc_id", "chunk_idx")
    },
      """WITH c AS (
        |  SELECT doc_id, text,
        |         CAST((greatest(length(text), 1) - 1) // 150 AS BIGINT) AS last_idx
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, text, unnest(range(0, last_idx + 1)) AS chunk_idx FROM c)
        |SELECT doc_id, chunk_idx,
        |       chunk_idx * 150 + 1 AS chunk_start,
        |       CAST(length(substr(text, CAST(chunk_idx * 150 + 1 AS INT), 200))
        |         AS BIGINT) AS chunk_len,
        |       md5(substr(text, CAST(chunk_idx * 150 + 1 AS INT), 200)) AS chunk_md5
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin),

    // ── Bigram collocations: top pairs by count with PMI lift (see
    //    TextPipeline.bigramLift for why lift, not log-PMI).
    Query("ext_cooccur_lift", (s, dir) =>
      TextPipeline.bigramLift(t(s, dir, "documents"), col("text"),
        minCount = 3L, topK = 50),
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |uc AS (
        |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_tok
        |  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1),
        |nu AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS n_uni FROM uc),
        |bg AS (
        |  SELECT tok_a, tok_b, CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM (SELECT unnest(t[1:len(t)-1]) AS tok_a, unnest(t[2:len(t)]) AS tok_b
        |        FROM toks WHERE len(t) >= 2)
        |  GROUP BY 1, 2),
        |nb AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n_bi FROM bg),
        |top AS (
        |  SELECT * FROM bg WHERE n_ab >= 3
        |  ORDER BY n_ab DESC, tok_a, tok_b LIMIT 50)
        |SELECT top.tok_a, top.tok_b, top.n_ab, a.n_tok AS n_a, b.n_tok AS n_b,
        |  round((CAST(top.n_ab AS DOUBLE) / n_bi) * (CAST(n_uni AS DOUBLE) / a.n_tok)
        |        * (CAST(n_uni AS DOUBLE) / b.n_tok), 6) AS lift
        |FROM top JOIN uc a ON a.tok = top.tok_a JOIN uc b ON b.tok = top.tok_b, nu, nb
        |ORDER BY n_ab DESC, tok_a, tok_b""".stripMargin),

    // ── Length-bucketed micro-batching (padding-minimizing batch
    //    assignment; Packing.lengthBatches scaladoc for the skew story).
    Query("ext_length_batches", (s, dir) =>
      Packing.lengthBatches(t(s, dir, "documents"), col("doc_id"),
        TextFunctions.tokenCount(col("text")),
        bucketWidth = 32, batchSize = 8, hexDigits = 1)
        .orderBy("doc_id"),
      """WITH b AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard
        |  FROM documents),
        |c AS (
        |  SELECT *, CAST((greatest(n_tokens, 1) - 1) // 32 AS BIGINT) AS bucket
        |  FROM b),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY shard, bucket
        |              ORDER BY n_tokens DESC, doc_id) AS rn
        |  FROM c),
        |a AS (
        |  SELECT doc_id, shard, bucket, CAST((rn - 1) // 8 AS BIGINT) AS batch_idx,
        |         n_tokens
        |  FROM r)
        |SELECT doc_id, shard, bucket, batch_idx, n_tokens,
        |       MAX(n_tokens) OVER (PARTITION BY shard, bucket, batch_idx) AS batch_max,
        |       MAX(n_tokens) OVER (PARTITION BY shard, bucket, batch_idx) - n_tokens
        |         AS pad
        |FROM a ORDER BY doc_id""".stripMargin),

    // ── Weighted systematic sampling: token-count-proportional pick of
    //    ~100 docs, integer grid math, seed-free (two-level prefix sum).
    Query("ext_weighted_sample", (s, dir) =>
      TextPipeline.weightedSystematicSample(t(s, dir, "documents"),
        col("doc_id"), TextFunctions.tokenCount(col("text")),
        quota = 100L, hexDigits = 2),
      """WITH w AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS wt,
        |         md5(CAST(doc_id AS VARCHAR)) AS rk
        |  FROM documents),
        |t AS (SELECT CAST(SUM(wt) AS BIGINT) AS total FROM w),
        |c AS (
        |  SELECT doc_id, wt,
        |         CAST(SUM(wt) OVER (ORDER BY rk, doc_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM w)
        |SELECT doc_id, wt FROM c, t
        |WHERE (cum * 100) // total > ((cum - wt) * 100) // total
        |ORDER BY doc_id""".stripMargin),

    // ── BPE merge-pair counts: the tokenizer-training inner statistic
    //    (TextPipeline.bpePairCounts — adjacent in-word symbol pairs).
    Query("ext_bpe_pairs", (s, dir) =>
      TextPipeline.bpePairCounts(t(s, dir, "documents"), col("text"),
        topK = 50),
      """WITH w AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |p AS (
        |  SELECT substr(w, CAST(i AS INT), 1) AS sym_a,
        |         substr(w, CAST(i + 1 AS INT), 1) AS sym_b
        |  FROM (SELECT w, unnest(range(1, length(w))) AS i
        |        FROM w WHERE length(w) >= 2))
        |SELECT sym_a, sym_b, CAST(COUNT(*) AS BIGINT) AS n_pair
        |FROM p GROUP BY 1, 2
        |ORDER BY n_pair DESC, sym_a, sym_b LIMIT 50""".stripMargin),

    // ── Skip-gram co-occurrence (window 3): the word2vec-style context
    //    statistic; window=1 degenerates to ext_cooccur_lift.
    Query("ext_skipgram_cooccur", (s, dir) =>
      TextPipeline.skipgramLift(t(s, dir, "documents"), col("text"),
        window = 3, minCount = 3L, topK = 50),
      s"""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |tot AS (
        |  SELECT CAST(SUM(len(t)) AS BIGINT) AS n_uni,
        |         CAST(SUM(greatest(len(t) - 1, 0) + greatest(len(t) - 2, 0)
        |               + greatest(len(t) - 3, 0)) AS BIGINT) AS n_bi
        |  FROM toks),
        |uc AS (
        |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_tok
        |  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1),
        |${tokenPairs(3)},
        |bg AS (
        |  SELECT p['a'] AS tok_a, p['b'] AS tok_b, CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM (SELECT unnest(ps) AS p FROM pl) GROUP BY 1, 2),
        |top AS (
        |  SELECT * FROM bg WHERE n_ab >= 3
        |  ORDER BY n_ab DESC, tok_a, tok_b LIMIT 50)
        |SELECT top.tok_a, top.tok_b, top.n_ab, a.n_tok AS n_a, b.n_tok AS n_b,
        |  round((CAST(top.n_ab AS DOUBLE) / n_bi) * (CAST(n_uni AS DOUBLE) / a.n_tok)
        |        * (CAST(n_uni AS DOUBLE) / b.n_tok), 6) AS lift
        |FROM top JOIN uc a ON a.tok = top.tok_a JOIN uc b ON b.tok = top.tok_b, tot
        |ORDER BY n_ab DESC, tok_a, tok_b""".stripMargin),

    // ── Cross-source overlap matrix: distinct shared word 5-grams per
    //    source pair (TextPipeline.sourceOverlapMatrix scaladoc: one
    //    scan, no gram self-join).
    Query("ext_source_overlap", (s, dir) =>
      TextPipeline.sourceOverlapMatrix(t(s, dir, "documents"),
        col("text"), col("source"), n = 5),
      // independent formulation: distinct (src, gram) self-join vs the
      // engine's per-gram source-set expansion — two shapes, one answer
      """WITH tok AS (
        |  SELECT source AS src, string_split(text, ' ') AS ts FROM documents),
        |g AS (
        |  SELECT DISTINCT src, unnest(list_transform(
        |    range(1, len(ts) - 3),
        |    i -> array_to_string(list_slice(ts, i, i + 4), ' '))) AS gram
        |  FROM tok)
        |SELECT a.src AS source_a, b.src AS source_b,
        |       CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM g a JOIN g b ON a.gram = b.gram AND a.src < b.src
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ── Boilerplate-shingle screen — [EXT r14]: per source, the word
    //    trigrams recurring across ≥ 2% of that source's docs (df is
    //    DISTINCT-doc frequency) — the within-source template detector
    //    next to ext_source_overlap's cross-source one; strip before
    //    dedup or templates glue unrelated docs into near-dup clusters
    //    (TextPipeline.boilerplateShingles scaladoc).
    Query("ext_boilerplate", (s, dir) =>
      TextPipeline.boilerplateShingles(t(s, dir, "documents"),
        col("text"), col("source"), n = 3, minDf = 2L, minRatio = 0.02),
      // Boilerplate replay: per-doc DISTINCT trigrams (list_distinct
      // before unnest = the document-frequency rule), exact counts,
      // the same ratio threshold and (source, df desc, gram) order.
      """WITH tok AS (
        |  SELECT source, string_split(text, ' ') AS ts FROM documents),
        |g AS (
        |  SELECT source, unnest(list_distinct(list_transform(
        |    range(1, len(ts) - 1),
        |    i -> array_to_string(list_slice(ts, i, i + 2), ' ')))) AS gram
        |  FROM tok),
        |df AS (
        |  SELECT source, gram, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM g GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |       FROM documents GROUP BY 1)
        |SELECT df.source, gram, df, n_docs,
        |  round(CAST(df AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS df_ratio
        |FROM df JOIN nd USING (source)
        |WHERE CAST(df AS DOUBLE) / CAST(n_docs AS DOUBLE) >= 0.02
        |ORDER BY source, df DESC, gram""".stripMargin),

    // ── Greedy max-coverage subset selection — [EXT r13]: 5 picks
    //    maximizing distinct-token coverage over a bounded 200-doc
    //    pool; the lexical coreset-selection pass
    //    (TextPipeline.greedyCoverageSelect scaladoc).
    Query("ext_coverage_select", (s, dir) =>
      TextPipeline.greedyCoverageSelect(
        t(s, dir, "documents").filter(col("doc_id") < 200),
        col("doc_id"), col("text"), select = 5),
      // Coverage-select replay: 5-round greedy CTE unroll (the MMR/BPE
      // discipline) — each round counts REMAINING tokens per doc, picks
      // (gain DESC, id), removes the pick's rows and its tokens.
      """WITH g AS (
        |  SELECT DISTINCT doc_id, term FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        |    FROM documents WHERE doc_id < 200)
        |  WHERE len(term) > 0),
        |p1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain FROM g
        |       GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1),
        |g1 AS (SELECT * FROM g
        |       WHERE doc_id NOT IN (SELECT doc_id FROM p1)
        |         AND term NOT IN
        |           (SELECT term FROM g JOIN p1 USING (doc_id))),
        |p2 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain FROM g1
        |       GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1),
        |g2 AS (SELECT * FROM g1
        |       WHERE doc_id NOT IN (SELECT doc_id FROM p2)
        |         AND term NOT IN
        |           (SELECT term FROM g1 JOIN p2 USING (doc_id))),
        |p3 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain FROM g2
        |       GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1),
        |g3 AS (SELECT * FROM g2
        |       WHERE doc_id NOT IN (SELECT doc_id FROM p3)
        |         AND term NOT IN
        |           (SELECT term FROM g2 JOIN p3 USING (doc_id))),
        |p4 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain FROM g3
        |       GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1),
        |g4 AS (SELECT * FROM g3
        |       WHERE doc_id NOT IN (SELECT doc_id FROM p4)
        |         AND term NOT IN
        |           (SELECT term FROM g3 JOIN p4 USING (doc_id))),
        |p5 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain FROM g4
        |       GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1),
        |final AS (
        |  SELECT 1 AS rank, doc_id, gain FROM p1
        |  UNION ALL SELECT 2, doc_id, gain FROM p2
        |  UNION ALL SELECT 3, doc_id, gain FROM p3
        |  UNION ALL SELECT 4, doc_id, gain FROM p4
        |  UNION ALL SELECT 5, doc_id, gain FROM p5)
        |SELECT CAST(rank AS BIGINT) AS rank, doc_id AS id, gain,
        |  CAST(SUM(gain) OVER (ORDER BY rank) AS BIGINT) AS covered_total
        |FROM final ORDER BY rank""".stripMargin),

    // ── Unicode script mix per source — [EXT r15]: codepoint-class
    //    shares (Latin/digit/Cyrillic/CJK/Arabic/other) — the
    //    multilingual health readout the lang TAG can't give; a 'en'
    //    source growing a CJK share is mislabeled or contaminated
    //    (TextPipeline.scriptMix scaladoc).
    Query("ext_script_mix", (s, dir) =>
      TextPipeline.scriptMix(
        t(s, dir, "documents"), col("source"), col("text")),
      // Script-mix replay: identical BMP character classes (literal
      // range endpoints), non-whitespace denominator, integer sums,
      // single 6dp divides.
      """WITH pc AS (
        |  SELECT COALESCE(CAST(source AS VARCHAR), '__null__') AS group_key,
        |    length(regexp_replace(COALESCE(text, ''), '\s', '', 'g')) AS nc,
        |    length(regexp_replace(COALESCE(text, ''), '[^A-Za-z]', '', 'g')) AS lat,
        |    length(regexp_replace(COALESCE(text, ''), '[^0-9]', '', 'g')) AS dig,
        |    length(regexp_replace(COALESCE(text, ''), '[^Ѐ-ӿ]', '', 'g')) AS cyr,
        |    length(regexp_replace(COALESCE(text, ''), '[^一-鿿]', '', 'g')) AS cjk,
        |    length(regexp_replace(COALESCE(text, ''), '[^؀-ۿ]', '', 'g')) AS ara
        |  FROM documents),
        |g AS (
        |  SELECT group_key, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(nc) AS BIGINT) AS n_chars,
        |    CAST(SUM(lat) AS BIGINT) AS s_lat,
        |    CAST(SUM(dig) AS BIGINT) AS s_dig,
        |    CAST(SUM(cyr) AS BIGINT) AS s_cyr,
        |    CAST(SUM(cjk) AS BIGINT) AS s_cjk,
        |    CAST(SUM(ara) AS BIGINT) AS s_ara
        |  FROM pc GROUP BY 1)
        |SELECT group_key, n_docs, n_chars,
        |  round(CASE WHEN n_chars > 0
        |    THEN CAST(s_lat AS DOUBLE) / CAST(n_chars AS DOUBLE) END, 6)
        |    AS latin_share,
        |  round(CASE WHEN n_chars > 0
        |    THEN CAST(s_dig AS DOUBLE) / CAST(n_chars AS DOUBLE) END, 6)
        |    AS digit_share,
        |  round(CASE WHEN n_chars > 0
        |    THEN CAST(s_cyr AS DOUBLE) / CAST(n_chars AS DOUBLE) END, 6)
        |    AS cyrillic_share,
        |  round(CASE WHEN n_chars > 0
        |    THEN CAST(s_cjk AS DOUBLE) / CAST(n_chars AS DOUBLE) END, 6)
        |    AS cjk_share,
        |  round(CASE WHEN n_chars > 0
        |    THEN CAST(s_ara AS DOUBLE) / CAST(n_chars AS DOUBLE) END, 6)
        |    AS arabic_share,
        |  round(CASE WHEN n_chars > 0
        |    THEN CAST(n_chars - s_lat - s_dig - s_cyr - s_cjk - s_ara
        |      AS DOUBLE) / CAST(n_chars AS DOUBLE) END, 6) AS other_share
        |FROM g ORDER BY group_key""".stripMargin),

    // ── MTLD lexical diversity — [EXT r16]: length-invariant
    //    type/token diversity via factor-counting walks (forward +
    //    reversed, canonical 0.72 threshold); templated text scores
    //    low at any length. Pure map-side aggregate() fold per doc —
    //    no shuffle, no UDF (TextPipeline.mtld scaladoc).
    Query("ext_mtld", (s, dir) =>
      TextPipeline.mtld(
        t(s, dir, "documents"), col("doc_id"), col("text")),
      // integer `//` division mirrors Spark's `div` exactly on BIGINTs.
      // Every derived column is CAST to BIGINT: DuckDB's SUM(BIGINT) OVER
      // returns HUGEINT, which pandas widens to float64 — hashing 5.0
      // against Spark's INT64 5 fails even though every cell compares
      // equal (the r5 `hash_match: false` root cause; this was the ONLY
      // oracle in the contract with a HUGEINT output column).
      // MTLD replay: the same ordered double recurrence, unrolled as a
      // recursive CTE over (doc, direction, position) — one recursion
      // step per token position, every doc and both directions advancing
      // in parallel (the holt/pack_greedy fold pattern; DuckDB's
      // list_reduce cannot carry a struct+list accumulator). The
      // engine's aggregate() does the identical ordered arithmetic, so
      // the 6dp readouts hash-match.
      """WITH RECURSIVE d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(COALESCE(text, '')),
        |      '[^a-z]+'), t -> t <> '') AS ts
        |  FROM documents WHERE doc_id IS NOT NULL),
        |nt AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens FROM d),
        |tok AS (
        |  SELECT doc_id, 'f' AS dir,
        |    CAST(unnest(range(1, len(ts) + 1)) AS BIGINT) AS idx,
        |    unnest(ts) AS tok
        |  FROM d
        |  UNION ALL
        |  SELECT doc_id, 'b',
        |    CAST(unnest(range(1, len(ts) + 1)) AS BIGINT),
        |    unnest(list_reverse(ts))
        |  FROM d),
        |rec AS (
        |  SELECT doc_id, dir, CAST(0 AS BIGINT) AS idx, CAST(0.0 AS DOUBLE) AS f,
        |    CAST([] AS VARCHAR[]) AS seg, 0 AS n
        |  FROM d CROSS JOIN (SELECT unnest(['f', 'b']) AS dir)
        |  UNION ALL
        |  SELECT r.doc_id, r.dir, r.idx + 1,
        |    CASE WHEN CAST(len(CASE WHEN list_contains(r.seg, t.tok) THEN r.seg
        |        ELSE list_append(r.seg, t.tok) END) AS DOUBLE)
        |        / CAST(r.n + 1 AS DOUBLE) < 0.72
        |      THEN r.f + 1.0 ELSE r.f END,
        |    CASE WHEN CAST(len(CASE WHEN list_contains(r.seg, t.tok) THEN r.seg
        |        ELSE list_append(r.seg, t.tok) END) AS DOUBLE)
        |        / CAST(r.n + 1 AS DOUBLE) < 0.72
        |      THEN CAST([] AS VARCHAR[])
        |      ELSE CASE WHEN list_contains(r.seg, t.tok) THEN r.seg
        |        ELSE list_append(r.seg, t.tok) END END,
        |    CASE WHEN CAST(len(CASE WHEN list_contains(r.seg, t.tok) THEN r.seg
        |        ELSE list_append(r.seg, t.tok) END) AS DOUBLE)
        |        / CAST(r.n + 1 AS DOUBLE) < 0.72
        |      THEN 0 ELSE r.n + 1 END
        |  FROM rec r JOIN tok t
        |    ON t.doc_id = r.doc_id AND t.dir = r.dir AND t.idx = r.idx + 1),
        |fin AS (
        |  SELECT r.doc_id, r.dir,
        |    r.f + CASE WHEN r.n > 0
        |      THEN (1.0 - CAST(len(r.seg) AS DOUBLE) / CAST(r.n AS DOUBLE))
        |        / (1.0 - 0.72) ELSE 0.0 END AS fac
        |  FROM rec r JOIN nt ON nt.doc_id = r.doc_id WHERE r.idx = nt.n_tokens),
        |p AS (
        |  SELECT doc_id,
        |    MAX(CASE WHEN dir = 'f' THEN fac END) AS ff,
        |    MAX(CASE WHEN dir = 'b' THEN fac END) AS fb
        |  FROM fin GROUP BY doc_id)
        |SELECT nt.doc_id, nt.n_tokens,
        |  round(CASE WHEN p.ff > 0.0
        |    THEN CAST(nt.n_tokens AS DOUBLE) / p.ff END, 6) AS mtld_fwd,
        |  round(CASE WHEN p.fb > 0.0
        |    THEN CAST(nt.n_tokens AS DOUBLE) / p.fb END, 6) AS mtld_bwd,
        |  round(CASE WHEN p.ff > 0.0 AND p.fb > 0.0
        |    THEN (CAST(nt.n_tokens AS DOUBLE) / p.ff
        |      + CAST(nt.n_tokens AS DOUBLE) / p.fb) / 2.0
        |    ELSE COALESCE(CASE WHEN p.ff > 0.0
        |        THEN CAST(nt.n_tokens AS DOUBLE) / p.ff END,
        |      CASE WHEN p.fb > 0.0
        |        THEN CAST(nt.n_tokens AS DOUBLE) / p.fb END) END, 6) AS mtld
        |FROM nt JOIN p ON p.doc_id = nt.doc_id ORDER BY nt.doc_id""".stripMargin),

    // ── Benchmark decontamination: distinct word-5-gram overlap between
    //    each corpus doc and a held-out "eval suite" (docs with
    //    doc_id % 97 == 0 stand in for the benchmark set). Eval n-grams
    //    broadcast; corpus n-grams map-side (WordNgrams expression) —
    //    see TextPipeline.contamination for the 100 TB shape.
    Query("ext_decontaminate", (s, dir) => {
      val d = t(s, dir, "documents")
      val eval = d.filter(pmod(col("doc_id"), lit(97)) === 0)
      val corpus = d.filter(pmod(col("doc_id"), lit(97)) =!= 0)
      TextPipeline.contamination(corpus, eval, col("doc_id"), col("text"), 5)
        .orderBy("doc_id")
    },
      DecontaminateOracle),

    // ── Same decontamination, bloom-prefiltered: eval grams become a
    //    Bloom filter probed map-side, the exact semi-join verifies the
    //    fpp-bounded survivors — output bit-identical to
    //    ext_decontaminate (shared oracle), which IS the check that the
    //    bloom path loses nothing. See TextPipeline.contaminationBloom.
    Query("ext_decontaminate_bloom", (s, dir) => {
      val d = t(s, dir, "documents")
      val eval = d.filter(pmod(col("doc_id"), lit(97)) === 0)
      val corpus = d.filter(pmod(col("doc_id"), lit(97)) =!= 0)
      TextPipeline.contaminationBloom(corpus, eval, col("doc_id"), col("text"), 5,
        expectedGrams = 1L << 17, fpp = 0.01)
        .orderBy("doc_id")
    },
      // bloom prefilter has no false negatives + exact verify ⇒ the bloom
      // path must reproduce the exact path's output bit-for-bit; sharing
      // the oracle text IS that claim, checked per round.
      DecontaminateOracle),

    // ── Eval-set n-gram coverage — [EXT r12]: contamination's dual
    //    (does the corpus cover the benchmark's language?); eval grams
    //    broadcast, corpus scanned once map-side, only matches
    //    aggregate (TextPipeline.evalCoverage scaladoc).
    Query("ext_eval_coverage", (s, dir) => {
      val d = t(s, dir, "documents")
      val eval = d.filter(pmod(col("doc_id"), lit(97)) === 0)
      val corpus = d.filter(pmod(col("doc_id"), lit(97)) =!= 0)
      TextPipeline.evalCoverage(corpus, eval, col("doc_id"), col("text"), 5)
        .orderBy("doc_id")
    },
      // list_slice is 1-based and inclusive on both ends; range(a,b) is
      // [a,b) — i runs 1 .. len-4, one start per 5-gram, mirroring
      // WordNgrams(n=5) string-for-string (string_split keeps empties on
      // both engines).
      // Coverage replay: the decontaminate gram pipeline pointed at the
      // EVAL docs, membership test against the corpus' distinct grams,
      // id spine keeps gram-less docs with NULL coverage.
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(ts) - 3),
        |    i -> array_to_string(list_slice(ts, i, i + 4), ' ')))) AS gram
        |  FROM tok),
        |cg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 <> 0),
        |pd AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |    CAST(SUM(CASE WHEN gram IN (SELECT gram FROM cg)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
        |  FROM g WHERE doc_id % 97 = 0 GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(pd.n_grams, 0) AS n_grams,
        |  COALESCE(pd.n_covered, 0) AS n_covered,
        |  CASE WHEN pd.n_grams > 0
        |    THEN round(CAST(pd.n_covered AS DOUBLE) / pd.n_grams, 6)
        |  END AS coverage
        |FROM documents d LEFT JOIN pd USING (doc_id)
        |WHERE d.doc_id % 97 = 0 ORDER BY doc_id""".stripMargin),

    // ── Exact heavy hitters: tokens with count > totalTokens/400 and
    //    their exact counts, via per-partition Misra-Gries candidates +
    //    one broadcast-verified exact count — the full token stream
    //    never shuffles. Output is partitioning-independent, so plain
    //    DuckDB GROUP BY/HAVING oracles it. TextPipeline.heavyHitters.
    Query("ext_heavy_hitters", (s, dir) => {
      TextPipeline.heavyHitters(t(s, dir, "documents"), col("text"), 400)
        .orderBy("token")
    },
      // the sketch only proposes candidates; the exact verify makes the
      // output equal to the full GROUP BY, which is the whole oracle
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |tot AS (SELECT COUNT(*) AS n FROM tok)
        |SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM tok, tot GROUP BY token, n
        |HAVING COUNT(*) * 400 > n ORDER BY token""".stripMargin),

    // ── PII redaction: inject deterministic email/phone spans (the
    //    synthetic corpus has none), then scrub them with RE2-compatible
    //    patterns and count matches — TextPipeline.piiScrub.
    Query("ext_pii_scrub", (s, dir) => {
      val withPii = t(s, dir, "documents")
        .withColumn("text",
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com or call 555-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      TextPipeline.piiScrub(withPii, col("text"))
        .select(col("doc_id"), col("n_emails"), col("n_phones"), col("scrubbed"))
        .orderBy("doc_id")
    },
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |         || '@example.com or call 555-'
        |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t2
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t2,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t2, '[0-9]{3}-[0-9]{4}')) AS BIGINT)
        |    AS n_phones,
        |  regexp_replace(
        |    regexp_replace(t2, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}',
        |                   '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS scrubbed
        |FROM p ORDER BY doc_id""".stripMargin),

    // ── Gopher-style repetition metrics: top-bigram fraction and
    //    duplicate-bigram fraction per doc — TextPipeline
    //    .repetitionMetrics (exact-integer divisions, engine-portable).
    Query("ext_repetition", (s, dir) => {
      TextPipeline.repetitionMetrics(
        t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy("doc_id")
    },
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ts)),
        |    i -> array_to_string(list_slice(ts, i, i + 1), ' '))) AS gram
        |  FROM tok),
        |pg AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
        |pd AS (
        |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
        |         CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |         CAST(MAX(cnt) AS BIGINT) AS top_cnt
        |  FROM pg GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(pd.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(pd.n_distinct, 0) AS n_distinct,
        |  CAST(pd.top_cnt AS DOUBLE) / pd.n_bigrams AS top_bigram_frac,
        |  CAST(pd.n_bigrams - pd.n_distinct AS DOUBLE) / pd.n_bigrams
        |    AS dup_bigram_frac
        |FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin),

    // ── BM25 retrieval scoring for a fixed probe query; linear idf for
    //    cross-engine bit-parity, decimal-accumulated per-doc sum —
    //    TextPipeline.bm25.
    Query("ext_bm25", (s, dir) => {
      TextPipeline.bm25(t(s, dir, "documents"), col("doc_id"), col("text"),
        Seq("spark", "join", "fast"), 20)
    },
      // constants 2.25 / 1.25 / 0.25 / 0.75 are exact binary doubles and the
      // expression tree mirrors TextPipeline.bm25 op-for-op, so every score
      // is bit-identical before the DECIMAL(18,6) accumulation.
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |dl AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |  WHERE term IN ('spark', 'join', 'fast') GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |st AS (
        |  SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avgdl
        |  FROM documents),
        |sc AS (
        |  SELECT tf.doc_id,
        |    (CAST(st.n_docs AS DOUBLE) / dfq.df) *
        |    (CAST(tf.tf AS DOUBLE) * 2.25 /
        |     (CAST(tf.tf AS DOUBLE) +
        |      1.25 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / st.avgdl))) AS ts
        |  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (term) CROSS JOIN st)
        |SELECT doc_id, CAST(SUM(CAST(ts AS DECIMAL(18,6))) AS DOUBLE) AS score
        |FROM sc GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),

    // ── Domain-mix resampling weights over (lang, source) cells,
    //    α = 0.5 temperature flattening — TextPipeline.domainMixWeights.
    Query("ext_domain_mix", (s, dir) => {
      TextPipeline.domainMixWeights(
        t(s, dir, "documents"), Seq(col("lang"), col("source")))
        .select(col("lang"), col("source"), col("n"), col("share"), col("weight"))
        .orderBy("lang", "source")
    },
      s"""$DomainMixSql
        |dn AS (
        |  SELECT CAST(SUM(CAST(sqrt_share AS DECIMAL(28,12))) AS DOUBLE)
        |    AS denom FROM sh)
        |SELECT lang, source, n, share, sqrt_share / denom AS weight
        |FROM sh CROSS JOIN dn ORDER BY lang, source""".stripMargin),

    // ── Lexical diversity per (lang, source) cell: Shannon entropy of
    //    the token distribution + ln(vocab)-normalized variant — the
    //    "large but templated" detector next to ext_domain_mix
    //    (TextPipeline.tokenEntropy scaladoc).
    Query("ext_token_entropy", (s, dir) => {
      TextPipeline.tokenEntropy(
        t(s, dir, "documents"), Seq(col("lang"), col("source")), col("text"))
        .orderBy("lang", "source")
    },
      // Entropy replay: same lowercase non-letter tokenization as the NLL
      // oracle; each −p·ln p term cast DECIMAL(18,6) pre-sum, normalizing
      // ln(vocab) quantized the same way before the one exact divide.
      """WITH toks AS (
        |  SELECT lang, source, t AS token FROM (
        |    SELECT lang, source,
        |      unnest(string_split_regex(lower(text), '[^a-z]+')) AS t
        |    FROM documents)
        |  WHERE len(t) > 0),
        |ct AS (
        |  SELECT lang, source, token, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM toks GROUP BY 1, 2, 3),
        |cell AS (
        |  SELECT lang, source, n,
        |    CAST(SUM(n) OVER (PARTITION BY lang, source) AS BIGINT) AS n_cell
        |  FROM ct),
        |e AS (
        |  SELECT lang, source,
        |    CAST(MAX(n_cell) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS vocab,
        |    CAST(SUM(CAST(
        |      -(CAST(n AS DOUBLE) / CAST(n_cell AS DOUBLE))
        |        * ln(CAST(n AS DOUBLE) / CAST(n_cell AS DOUBLE))
        |      AS DECIMAL(18,6))) AS DOUBLE) AS entropy
        |  FROM cell GROUP BY 1, 2)
        |SELECT lang, source, n_tokens, vocab, entropy,
        |  CASE WHEN vocab > 1
        |    THEN round(entropy /
        |      CAST(CAST(ln(CAST(vocab AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE), 6)
        |    ELSE 0.0 END AS norm_entropy
        |FROM e ORDER BY lang, source""".stripMargin),

    // ── Quality-decile bucketing: cutoffs from a deterministic modular-
    //    hash sample (global rank window bounded to the sample BY
    //    CONSTRUCTION), broadcast as one array row, buckets assigned
    //    map-side — TextPipeline.qualityDecileBuckets.
    Query("ext_quality_buckets", (s, dir) => {
      TextPipeline.qualityDecileBuckets(
        t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy("bucket")
    },
      // quality formula mirrors ext_text_quality (hash-proven identical);
      // rank-based cutoffs, no interpolation — cross-engine exact.
      """WITH q AS (
        |  SELECT doc_id,
        |    0.4 * least(1.0, CAST(len(string_split(text,' ')) AS DOUBLE) / 100.0)
        |    + 0.4 * least(1.0, CAST(len(list_filter(string_split(text,' '),
        |        t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |        / len(string_split(text,' ')) * 5.0)
        |    + 0.2 * (1.0 - CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
        |        / length(text)) AS quality
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, quality FROM q
        |  WHERE (((doc_id % 1000000007) * 2654435761) % 1000000007) % 4 = 0),
        |r AS (
        |  SELECT quality, ROW_NUMBER() OVER (ORDER BY quality, doc_id) AS rn,
        |         COUNT(*) OVER () AS n
        |  FROM s),
        |c AS (
        |  SELECT list_sort(coalesce(list(quality), [])) AS cuts
        |  FROM r CROSS JOIN (SELECT unnest(range(1, 10)) AS i) t
        |  WHERE rn = CAST(ceil(i * n / 10.0) AS BIGINT)),
        |b AS (
        |  SELECT q.doc_id,  q.quality,
        |    CAST(len(list_filter(c.cuts, x -> q.quality >= x)) AS BIGINT) AS bucket
        |  FROM q CROSS JOIN c)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       MIN(quality) AS min_quality, MAX(quality) AS max_quality
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),

    // ── Curation funnel: the end-to-end pretraining filter chain
    //    (lang-id → quality → repetition → dedup) as ONE pass over the
    //    corpus, reporting per-stage survivor counts. All flags are
    //    computed map-side off already-oracled primitives (langId,
    //    qualityScore, repetitionMetrics); the only shuffles are the
    //    repetition bigram agg and the final distinct — no stage
    //    re-scans the corpus. The operational "how much data survives
    //    my pipeline" query a curation run starts with.
    Query("ext_curation_funnel", (s, dir) => {
      val d = t(s, dir, "documents")
      val rep = TextPipeline.repetitionMetrics(d, col("doc_id"), col("text"))
        .select(col("doc_id"), col("top_bigram_frac"))
      val flagged = d.join(rep, Seq("doc_id"))
        .withColumn("lang_ok", TextFunctions.langId(col("text")) === "en")
        .withColumn("q_ok",
          col("lang_ok") && TextFunctions.qualityScore(col("text")) >= 0.5)
        .withColumn("rep_ok",
          col("q_ok") && coalesce(col("top_bigram_frac") <= 0.2, lit(false)))
      flagged.agg(
          count(lit(1)).as("0_total"),
          sum(when(col("lang_ok"), 1L).otherwise(0L)).as("1_lang_en"),
          sum(when(col("q_ok"), 1L).otherwise(0L)).as("2_quality"),
          sum(when(col("rep_ok"), 1L).otherwise(0L)).as("3_repetition"),
          countDistinct(when(col("rep_ok"), col("text"))).as("4_dedup"))
        .unpivot(Array.empty[org.apache.spark.sql.Column], "stage", "n_docs")
        .orderBy("stage")
    },
      // mirrors langId / qualityScore formulas proven hash-identical by
      // ext_lang_id / ext_text_quality, so the >= / <= cuts agree bitwise.
      s"""WITH $CurationFeaturesSql
        |rep AS (
        |  SELECT doc_id, CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS topf
        |  FROM (
        |    SELECT doc_id, gram, COUNT(*) AS cnt FROM (
        |      SELECT doc_id, unnest(list_transform(
        |        range(1, len(string_split(text, ' '))),
        |        i -> array_to_string(list_slice(string_split(text, ' '), i, i + 1), ' '))) AS gram
        |      FROM documents) GROUP BY 1, 2) GROUP BY 1),
        |f AS (
        |  SELECT v.doc_id, v.text,
        |    (en >= de AND en >= es AND en > 0) AS lang_ok,
        |    (en >= de AND en >= es AND en > 0) AND quality >= 0.5 AS q_ok,
        |    (en >= de AND en >= es AND en > 0) AND quality >= 0.5
        |      AND COALESCE(rep.topf <= 0.2, false) AS rep_ok
        |  FROM v LEFT JOIN rep USING (doc_id)),
        |c AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS c0,
        |    CAST(SUM(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |    CAST(SUM(CASE WHEN rep_ok THEN 1 ELSE 0 END) AS BIGINT) AS c3,
        |    CAST(COUNT(DISTINCT CASE WHEN rep_ok THEN text END) AS BIGINT) AS c4
        |  FROM f)
        |SELECT stage, n_docs FROM (
        |  SELECT '0_total' AS stage, c0 AS n_docs FROM c
        |  UNION ALL SELECT '1_lang_en', c1 FROM c
        |  UNION ALL SELECT '2_quality', c2 FROM c
        |  UNION ALL SELECT '3_repetition', c3 FROM c
        |  UNION ALL SELECT '4_dedup', c4 FROM c)
        |ORDER BY stage""".stripMargin),

    // ── Composed end-to-end training-data pipeline — [EXT r16]: the
    //    daily pretraining-prep shape as ONE contract query chaining
    //    three already-oracled stages THROUGH each other: quality
    //    screen (langId == 'en' AND qualityScore >= 0.5) → minhash
    //    banded-LSH near-dup dedup (exact-jaccard verify >= 0.5,
    //    min-label clusters, keep each cluster's min doc_id) →
    //    concat-and-chunk sequence packing of the survivors.
    //    Composition is what this pins: schema and determinism
    //    contracts crack at the seams, not inside operators. The
    //    oracle replays every stage as a CTE over the EXACT quadratic
    //    jaccard ground truth, so the hash match doubles as a recall
    //    certificate for LSH-after-filter.
    Query("ext_pipeline_e2e", (s, dir) =>
      graft.operators.Pipelines.curateDedupPack(
        t(s, dir, "documents"), col("doc_id"), col("text")),
      // Composed-pipeline replay: quality screen (the ext_curation_funnel
      // lang/quality formulas) → EXACT quadratic 5-gram jaccard >= 0.5
      // pairs among survivors → recursive min-label components → keeper =
      // component min → the ext_seq_pack offset/chunk formulas. The
      // engine's banded LSH must surface exactly the ground-truth pairs
      // for the downstream hash to match.
      s"""WITH RECURSIVE $CurationFeaturesSql
        |q AS MATERIALIZED (
        |  SELECT doc_id, text FROM v
        |  WHERE en >= de AND en >= es AND en > 0 AND quality >= 0.5),
        |${shingleComponents(5, "q", "a.doc_id < b.doc_id")},
        |cl AS (SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id),
        |k AS (
        |  SELECT q.doc_id, q.text FROM q JOIN cl ON q.doc_id = cl.id
        |  WHERE q.doc_id = cl.cluster_id),
        |d AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM k),
        |$PackOffsetsSql""".stripMargin),

    // ── Sequence packing, concat-and-chunk: documents lay back-to-back
    //    per shard (pmod(doc_id, 8)) and the token stream cuts every 512
    //    tokens — Packing.concatChunk. Whitespace token counts keep the
    //    oracle formula identical (same split as ext_text_stats).
    Query("ext_seq_pack", (s, dir) => {
      Packing.concatChunk(
        t(s, dir, "documents"),
        col("doc_id"), TextFunctions.tokenCount(col("text")),
        capacity = 512, nShards = 8)
        .orderBy("doc_id")
    },
      s"""WITH d AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |$PackOffsetsSql""".stripMargin),

    // ── Sequence packing, greedy first-fit (docs never split): an
    //    order-dependent sequential fold per shard — which a RECURSIVE
    //    CTE replays exactly (one recursion step per within-shard rank,
    //    all shards advancing in parallel; depth = widest shard), so
    //    even this "inherently sequential" operator is DuckDB-oracled.
    //    The engine runs it as a constant-memory mapPartitions fold
    //    (the right tool at scale); PackingSpec keeps the serial
    //    reference ground truth.
    Query("ext_pack_greedy", (s, dir) => {
      Packing.greedy(
        t(s, dir, "documents"),
        col("doc_id"), TextFunctions.tokenCount(col("text")),
        capacity = 512, nShards = 8)
        .toDF().orderBy("shard", "doc_id")
    },
      // Recursive-CTE replay of the greedy first-fit fold: step k extends
      // every shard's state from its rank-k row to rank k+1, so recursion
      // depth = the widest shard, not the corpus. The Scala fold's
      // `fill > 0` guard is vacuous here (tk >= 1 keeps fill positive
      // after every row), so the CASE mirrors it exactly.
      """WITH RECURSIVE d AS (
        |  SELECT doc_id % 8 AS shard, doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         LEAST(GREATEST(CAST(len(string_split(text, ' ')) AS BIGINT), 1), 512) AS tk,
        |         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
        |  FROM documents),
        |f AS (
        |  SELECT shard, doc_id, n_tokens, rn,
        |         CAST(0 AS BIGINT) AS pack_id, CAST(0 AS BIGINT) AS pack_pos,
        |         tk AS pack_fill
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT n.shard, n.doc_id, n.n_tokens, n.rn,
        |         f.pack_id + CASE WHEN f.pack_fill + n.tk > 512 THEN 1 ELSE 0 END,
        |         CASE WHEN f.pack_fill + n.tk > 512 THEN 0 ELSE f.pack_pos + 1 END,
        |         CASE WHEN f.pack_fill + n.tk > 512 THEN n.tk ELSE f.pack_fill + n.tk END
        |  FROM f JOIN d n ON n.shard = f.shard AND n.rn = f.rn + 1)
        |SELECT shard, doc_id, n_tokens, pack_id, pack_pos, pack_fill
        |FROM f ORDER BY shard, doc_id""".stripMargin),

    // ── Mixture quotas: largest-remainder apportionment of a 10k-doc
    //    sample budget over the (lang, source) mix weights —
    //    TextPipeline.mixAllocation; Σ quota = budget exactly, unlike
    //    naive per-cell rounding.
    Query("ext_mix_allocation", (s, dir) => {
      TextPipeline.mixAllocation(
        t(s, dir, "documents"), Seq(col("lang"), col("source")), 10000L)
        .select(col("lang"), col("source"), col("n"), col("weight"), col("quota"))
        .orderBy("lang", "source")
    },
      // weight formula = ext_domain_mix (hash-proven); quotas by floor +
      // largest fractional remainder, ties broken by weight then cell
      s"""$DomainMixSql
        |dn AS (
        |  SELECT CAST(SUM(CAST(sqrt_share AS DECIMAL(28,12))) AS DOUBLE)
        |    AS denom FROM sh),
        |w AS (
        |  SELECT lang, source, n, share, sqrt_share / denom AS weight
        |  FROM sh CROSS JOIN dn),
        |q AS (
        |  SELECT lang, source, n, share, weight,
        |    CAST(floor(weight * 10000.0) AS BIGINT) AS floor_q,
        |    weight * 10000.0 - floor(weight * 10000.0) AS frac
        |  FROM w),
        |r AS (
        |  SELECT *,
        |    ROW_NUMBER() OVER (ORDER BY frac DESC, weight DESC, lang, source)
        |      AS pri,
        |    10000 - SUM(floor_q) OVER () AS deficit
        |  FROM q)
        |SELECT lang, source, n, weight,
        |       floor_q + CASE WHEN pri <= deficit THEN 1 ELSE 0 END AS quota
        |FROM r ORDER BY lang, source""".stripMargin),

    // ── Boolean AND search over an inverted index built in-flight:
    //    distinct (term, doc) postings filtered to the query terms
    //    BEFORE any shuffle, docs holding all three terms —
    //    TextPipeline.booleanSearch.
    Query("ext_inverted_search", (s, dir) => {
      TextPipeline.booleanSearch(
        t(s, dir, "documents"), col("doc_id"), col("text"),
        Seq("vector", "stream", "merge"))
    },
      """WITH postings AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        |    FROM documents)
        |  WHERE term IN ('vector', 'stream', 'merge')
        |  GROUP BY doc_id, term)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |       CAST(SUM(tf) AS BIGINT) AS total_tf
        |FROM postings GROUP BY doc_id
        |HAVING COUNT(*) = 3 ORDER BY doc_id""".stripMargin),

    // ── Tokenizer vocabulary coverage — [EXT r12]: per-doc OOV rate
    //    against a deliberately small (top-100) vocabulary; vocab
    //    broadcast, corpus probed map-side
    //    (TextPipeline.tokenizerCoverage scaladoc).
    Query("ext_tokenizer_coverage", (s, dir) =>
      TextPipeline.tokenizerCoverage(t(s, dir, "documents"),
        col("doc_id"), col("text"), minCount = 2L, maxSize = 100)
        .orderBy("doc_id"),
      // Coverage replay: buildVocab's exact tokenization + top-100 cut,
      // membership probe, id spine with NULL rate for token-less docs.
      """WITH freq AS (
        |  SELECT term AS token, CAST(COUNT(*) AS BIGINT) AS freq
        |  FROM (
        |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        |    FROM documents)
        |  WHERE len(term) > 0
        |  GROUP BY term HAVING COUNT(*) >= 2),
        |voc AS (
        |  SELECT token FROM (
        |    SELECT token, ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rn
        |    FROM freq)
        |  WHERE rn <= 100),
        |tk AS (
        |  SELECT doc_id, term FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        |    FROM documents)
        |  WHERE len(term) > 0),
        |pd AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CASE WHEN term IN (SELECT token FROM voc)
        |      THEN 0 ELSE 1 END) AS BIGINT) AS n_oov
        |  FROM tk GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(pd.n_tokens, 0) AS n_tokens,
        |  COALESCE(pd.n_oov, 0) AS n_oov,
        |  CASE WHEN pd.n_tokens > 0
        |    THEN round(CAST(pd.n_oov AS DOUBLE) / pd.n_tokens, 6)
        |  END AS oov_rate
        |FROM documents d LEFT JOIN pd USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // ── URL canonicalization dedup — [EXT r12]: deterministic synthetic
    //    URLs (scheme/host case, :443, utm_ params, fragments, trailing
    //    slashes planted via doc_id arithmetic — the pii_scrub injection
    //    pattern) collapsed to canonical groups
    //    (TextPipeline.urlDedupGroups scaladoc).
    Query("ext_url_canonicalize", (s, dir) => {
      val m4 = pmod(col("doc_id"), lit(4))
      val m20 = pmod(col("doc_id"), lit(20))
      val m100 = pmod(col("doc_id"), lit(100))
      val m50 = pmod(col("doc_id"), lit(50))
      // Four crawl-duplicate shapes, two of them ADVERSARIAL for the r12
      // ADVICE fixes: %4==1 carries http on :443 (a REAL non-default
      // port — must stay distinct) plus an 'xutm_' param whose name
      // merely CONTAINS 'utm_' (must survive the strip); %4==2 is an
      // all-utm query on http:80 (default port drops, query vanishes).
      val withUrl = t(s, dir, "documents").withColumn("url",
        when(m4 === 0,
          concat(lit("HTTPS://WWW.Site"), m20, lit(".COM:443/Products/"),
            m100, lit("/?utm_source=feed&item="), m50, lit("#sec")))
          .when(m4 === 1,
            concat(lit("http://site"), m20, lit(".com:443/Products/"),
              m100, lit("?xutm_a=1&item="), m50))
          .when(m4 === 2,
            concat(lit("http://Site"), m20, lit(".com:80/Products/"),
              m100, lit("?utm_a=1&utm_b=2")))
          .otherwise(
            concat(lit("https://site"), m20, lit(".com/products/"),
              m100, lit("?a=1&utm_mid=x&b=2#frag"))))
      TextPipeline.urlDedupGroups(withUrl, col("doc_id"), col("url"))
    },
      // URL-canonicalization replay: the same doc_id-arithmetic URL
      // construction and the same backreference-free regex chain
      // (DuckDB needs the explicit 'g' flag Spark applies by default).
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4
        |      WHEN 0 THEN 'HTTPS://WWW.Site' || (doc_id % 20)
        |        || '.COM:443/Products/' || (doc_id % 100)
        |        || '/?utm_source=feed&item=' || (doc_id % 50) || '#sec'
        |      WHEN 1 THEN 'http://site' || (doc_id % 20)
        |        || '.com:443/Products/' || (doc_id % 100)
        |        || '?xutm_a=1&item=' || (doc_id % 50)
        |      WHEN 2 THEN 'http://Site' || (doc_id % 20)
        |        || '.com:80/Products/' || (doc_id % 100)
        |        || '?utm_a=1&utm_b=2'
        |      ELSE 'https://site' || (doc_id % 20)
        |        || '.com/products/' || (doc_id % 100)
        |        || '?a=1&utm_mid=x&b=2#frag'
        |    END AS url
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url,
        |      '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)) AS head
        |  FROM u),
        |c AS (
        |  SELECT doc_id,
        |    (CASE
        |       WHEN head LIKE 'http://%'
        |         THEN regexp_replace(head, ':80$', '')
        |       WHEN head LIKE 'https://%'
        |         THEN regexp_replace(head, ':443$', '')
        |       ELSE head END)
        |    || regexp_replace(regexp_replace(regexp_replace(
        |         regexp_replace(regexp_replace(regexp_replace(
        |           regexp_extract(url,
        |             '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$', 1),
        |           '#.*$', '', 'g'),
        |           '&utm_[^&#]*', '', 'g'),
        |           '\?utm_[^&#]*&', '?', 'g'),
        |           '\?utm_[^&#]*$', '', 'g'),
        |           '/+\?', '?', 'g'),
        |           '/+$', '', 'g') AS canonical_url
        |  FROM h)
        |SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MIN(doc_id) AS min_doc_id
        |FROM c GROUP BY 1 ORDER BY canonical_url""".stripMargin),

    // ── Temporal train/test split — [EXT r12]: cut at the exact 0.8
    //    row-mass quantile over DAYS (calendar-bounded count table, one
    //    1-row broadcast back; train-on-past/test-on-future, the third
    //    split discipline next to hash and leakage-free splits)
    //    (TextPipeline.temporalSplit scaladoc).
    Query("ext_temporal_split", (s, dir) =>
      TextPipeline.temporalSplit(t(s, dir, "events"), col("ts"),
        trainFrac = 0.8)
        .select(col("event_id"), col("split"))
        .orderBy("event_id"),
      // Temporal-split replay: day-count table, cumulative + total in one
      // window pass, smallest day reaching ceil(0.8*n), null ts loud.
      """WITH e AS (
        |  SELECT event_id, ts,
        |    epoch_ms(date_trunc('day', ts)) // 86400000 AS di
        |  FROM events),
        |dc AS (
        |  SELECT di, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM e WHERE ts IS NOT NULL GROUP BY 1),
        |cw AS (
        |  SELECT di,
        |    SUM(c) OVER (ORDER BY di ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(c) OVER () AS n
        |  FROM dc),
        |ct AS (
        |  SELECT MIN(CASE WHEN CAST(cum AS DOUBLE) >=
        |    ceil(0.8 * CAST(n AS DOUBLE)) THEN di END) AS cutoff
        |  FROM cw)
        |SELECT event_id,
        |  CASE WHEN ts IS NULL THEN 'undated'
        |    WHEN di <= cutoff THEN 'train'
        |    ELSE 'test' END AS split
        |FROM e CROSS JOIN ct ORDER BY event_id""".stripMargin),

    // ── Token scrub: stopword/short-token removal + reassembly, pure
    //    map-side array ops — TextPipeline.tokenScrub.
    Query("ext_token_scrub", (s, dir) => {
      TextPipeline.tokenScrub(
        t(s, dir, "documents"), col("doc_id"), col("text"),
        stopwords = Seq("the", "a", "and", "of"), minLen = 3)
        .orderBy("doc_id")
    },
      """WITH s AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |      t -> len(t) >= 3
        |        AND NOT list_contains(['the', 'a', 'and', 'of'], t)) AS kept,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |      t -> len(t) > 0) AS allt
        |  FROM documents)
        |SELECT doc_id, array_to_string(kept, ' ') AS scrubbed,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  CAST(len(allt) - len(kept) AS BIGINT) AS n_dropped
        |FROM s ORDER BY doc_id""".stripMargin),

    // ── Run-repetition repair: collapse consecutive duplicate tokens
    //    map-side (indexed-lambda filter, no regex backreference, no
    //    window) — the normalizer next to ext_repetition's detectors
    //    (TextPipeline.collapseTokenRuns scaladoc).
    Query("ext_collapse_runs", (s, dir) =>
      TextPipeline.collapseTokenRuns(
        t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy("doc_id"),
      // run-collapse replay: DuckDB's indexed list_filter is 1-based
      // (keep i = 1), Spark's is 0-based with a null-safe compare at the
      // head — same kept set; whitespace split keeps empties on both.
      """WITH b AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |k AS (
        |  SELECT doc_id, ts,
        |    list_filter(ts,
        |      (x, i) -> i = 1 OR x != ts[CAST(i - 1 AS INT)]) AS kept
        |  FROM b)
        |SELECT doc_id,
        |  array_to_string(kept, ' ') AS scrubbed,
        |  CASE WHEN ts IS NULL THEN 0
        |       ELSE CAST(len(ts) AS BIGINT) END AS n_tokens,
        |  CASE WHEN ts IS NULL THEN 0
        |       ELSE CAST(len(ts) - len(kept) AS BIGINT) END AS n_removed
        |FROM k ORDER BY doc_id""".stripMargin),

    // ── Deterministic global shuffle into training shards: shard =
    //    2-hex-char md5 prefix (256 shards), pos = dense rank within
    //    shard by (md5, id) — TextPipeline.shuffleShards. The step
    //    between a curated corpus and the training job; ids-only
    //    shuffle, seed-free, engine-portable (DuckDB replays the md5
    //    rank exactly — same identity hashSplit/sampleToQuota rely on).
    Query("ext_shuffle_shards", (s, dir) => {
      TextPipeline.shuffleShards(t(s, dir, "documents"), col("doc_id"))
        .orderBy("shard", "pos")
    },
      """WITH r AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS rk FROM documents)
        |SELECT doc_id, substring(rk, 1, 2) AS shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY substring(rk, 1, 2) ORDER BY rk, doc_id) AS BIGINT) AS pos
        |FROM r ORDER BY shard, pos""".stripMargin),

    // ── Deterministic train/val split: first md5 nibble of the id,
    //    14/16 train — TextPipeline.hashSplit; documents never migrate
    //    between splits as the corpus grows.
    Query("ext_train_split", (s, dir) => {
      TextPipeline.hashSplit(t(s, dir, "documents"), col("doc_id"), 14)
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("split", "lang")
    },
      """SELECT
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |       IN ('0','1','2','3','4','5','6','7','8','9','a','b','c','d')
        |       THEN 'train' ELSE 'val' END AS split,
        |  lang, CAST(COUNT(*) AS BIGINT) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY split, lang""".stripMargin),

    // ── Quota execution: the other half of ext_mix_allocation — each
    //    (lang, source) cell deterministically downsampled to its
    //    largest-remainder quota by md5(id) rank (seed-free, engine-
    //    portable) — TextPipeline.sampleToQuota.
    Query("ext_quota_sample", (s, dir) => {
      val docs = t(s, dir, "documents")
      val quotas = TextPipeline.mixAllocation(
        docs, Seq(col("lang"), col("source")), 200L)
      TextPipeline.sampleToQuota(
        docs, col("doc_id"), Seq(col("lang"), col("source")), quotas)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },
      // The ext_mix_allocation largest-remainder CTE at budget 200, plus
      // the md5(id)-ranked keep — both engines derive the same sample.
      """WITH cells AS (
        |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT COUNT(*) AS n_total FROM documents),
        |sh AS (
        |  SELECT lang, source, n,
        |    CAST(CAST(sqrt(CAST(n AS DOUBLE) / n_total) AS DECIMAL(18,12))
        |         AS DOUBLE) AS sqrt_share
        |  FROM cells CROSS JOIN tot),
        |dn AS (
        |  SELECT CAST(SUM(CAST(sqrt_share AS DECIMAL(28,12))) AS DOUBLE)
        |    AS denom FROM sh),
        |w AS (
        |  SELECT lang, source, n, sqrt_share / denom AS weight
        |  FROM sh CROSS JOIN dn),
        |q AS (
        |  SELECT lang, source, n, weight,
        |    CAST(floor(weight * 200.0) AS BIGINT) AS floor_q,
        |    weight * 200.0 - floor(weight * 200.0) AS frac
        |  FROM w),
        |r AS (
        |  SELECT *,
        |    ROW_NUMBER() OVER (ORDER BY frac DESC, weight DESC, lang, source)
        |      AS pri,
        |    200 - SUM(floor_q) OVER () AS deficit
        |  FROM q),
        |quota AS (
        |  SELECT lang, source,
        |    floor_q + CASE WHEN pri <= deficit THEN 1 ELSE 0 END AS quota
        |  FROM r),
        |ranked AS (
        |  SELECT d.doc_id, d.lang, d.source, qu.quota,
        |    ROW_NUMBER() OVER (PARTITION BY d.lang, d.source
        |      ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
        |  FROM documents d
        |  JOIN quota qu ON d.lang = qu.lang AND d.source = qu.source)
        |SELECT doc_id, lang, source FROM ranked
        |WHERE rn <= quota ORDER BY doc_id""".stripMargin),

    // ── BPE end-to-end: train 6 merges on the corpus word-frequency
    //    table, segment every distinct word with them — training AND
    //    application oracle-verified in one result (the oracle unrolls
    //    the 6 merge rounds with a greedy left-to-right fold replay).
    Query("ext_bpe_segment", (s, dir) => {
      val docs = t(s, dir, "documents")
      val model = TextPipeline
        .bpeTrain(docs, col("text"), numMerges = 6, minPairCount = 2)
        .orderBy("merge_rank")
        .collect().map(r => (r.getAs[String]("sym_a"), r.getAs[String]("sym_b")))
        .toSeq
      docs.select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
        .filter(length(col("w")) >= 2)
        .distinct()
        .select(col("w"),
          array_join(TextPipeline.bpeApply(col("w"), model), " ").as("segmentation"))
        .withColumn("n_syms",
          size(split(col("segmentation"), " ")).cast("long"))
        .orderBy("w")
    },
      // END-TO-END BPE replay: 6 merge rounds unrolled, each round = pair
      // counting over the current symbol strings (freq-weighted), best
      // pair by (n DESC, a, b) — bpeTrain's exact tie-break — and a greedy
      // left-to-right merge as a `list_reduce` fold whose `acc LIKE '% a'`
      // test IS the serial reference's `acc.last == a` (tokens carry no
      // spaces, and the corpus alphabet has no LIKE metacharacters). The
      // final round's symbol strings ARE the segmentation of every
      // distinct word, so one result verifies training and application
      // together. Generated programmatically — six hand-copied rounds
      // invite drift.
      {
        def round(k: Int): String = {
          val prev = s"w${k - 1}"
          s""",
             |px$k AS (
             |  SELECT freq, L, unnest(range(1, len(L))) AS i
             |  FROM (SELECT freq, string_split(trim(s), ' ') AS L FROM $prev)),
             |p$k AS (
             |  SELECT L[CAST(i AS INT)] AS a, L[CAST(i + 1 AS INT)] AS b,
             |         CAST(SUM(freq) AS BIGINT) AS n
             |  FROM px$k GROUP BY 1, 2),
             |b$k AS (SELECT a, b FROM p$k ORDER BY n DESC, a, b LIMIT 1),
             |w$k AS (
             |  SELECT w, freq,
             |    list_reduce(
             |      list_prepend(CAST('' AS VARCHAR), string_split(trim(s), ' ')),
             |      (acc, x) -> CASE WHEN x = mb.b AND acc LIKE '% ' || mb.a
             |                   THEN acc || x
             |                   ELSE acc || ' ' || x END) AS s
             |  FROM $prev CROSS JOIN b$k mb)""".stripMargin
        }
        """WITH wf AS (
          |  SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
          |    SELECT unnest(string_split(text, ' ')) AS t FROM documents)
          |  WHERE length(t) >= 2 GROUP BY 1),
          |w0 AS (
          |  SELECT w, freq,
          |    ' ' || array_to_string(list_transform(range(1, length(w) + 1),
          |      i -> substr(w, CAST(i AS INT), 1)), ' ') AS s
          |  FROM wf)""".stripMargin +
          (1 to 6).map(round).mkString +
          """
            |SELECT w, trim(s) AS segmentation,
            |       CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_syms
            |FROM w6 ORDER BY w""".stripMargin
      }),

    // ── N-gram novelty: fraction of a doc's distinct 5-grams first
    //    seen in THIS doc (min-doc_id ownership, the exact-dedup keeper
    //    rule) — the diversity signal for template-heavy corpora
    //    (TextPipeline.ngramNovelty scaladoc).
    Query("ext_novelty", (s, dir) =>
      TextPipeline.ngramNovelty(
        t(s, dir, "documents"), col("doc_id"), col("text"), n = 5)
        .orderBy("doc_id"),
      // Same 5-gram extraction as the decontamination oracle, min-doc_id
      // ownership, one IEEE divide; gram-less docs keep a null novelty
      // through the id spine.
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(ts) - 3),
        |    i -> array_to_string(list_slice(ts, i, i + 4), ' ')))) AS gram
        |  FROM tok),
        |f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY 1),
        |a AS (
        |  SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |    CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_novel
        |  FROM g JOIN f USING (gram) GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(a.n_grams, 0) AS n_grams,
        |  COALESCE(a.n_novel, 0) AS n_novel,
        |  CAST(a.n_novel AS DOUBLE) / CAST(a.n_grams AS DOUBLE) AS novelty
        |FROM documents d LEFT JOIN a USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // ── Leakage-free split: train/val decided by the near-dup CLUSTER
    //    representative (same deterministic pair graph as
    //    ext_dedup_clusters), so near-duplicates never straddle the
    //    split — the eval-contamination guard a plain doc-hash split
    //    lacks (TextPipeline.leakageFreeSplit scaladoc).
    Query("ext_leakage_split", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val a = d.select(col("doc_id").as("id_a"), col("text").as("ta"))
      val b = d.select(col("doc_id").as("id_b"), col("text").as("tb"))
      val pairs = a.join(b, col("id_b") === col("id_a") + 1)
        .filter(round(graft.functions.expressions.GraftFunctions
          .ngram_jaccard(col("ta"), col("tb"), 3), 6) >= 0.5)
        .select(col("id_a"), col("id_b"))
      TextPipeline.leakageFreeSplit(
        d, col("doc_id"), pairs, col("id_a"), col("id_b"))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
      // The ext_dedup_clusters recursive-closure replay + the hashSplit
      // md5-first-digit rule applied to the cluster id.
      s"""WITH RECURSIVE ${shingleComponents(3, "documents", "b.doc_id = a.doc_id + 1")},
        |cl AS (SELECT id AS doc_id, MIN(label) AS cluster_id
        |       FROM reach GROUP BY id)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN substring(md5(CAST(cluster_id AS VARCHAR)), 1, 1)
        |       IN ('0','1','2','3','4','5','6','7','8','9','a','b','c','d')
        |       THEN 'train' ELSE 'val' END AS split
        |FROM cl ORDER BY doc_id""".stripMargin),

    // ── DSIR hashed importance weights (Xie et al. '23): score every
    //    doc by hashed-unigram likelihood ratio of the src0 target
    //    slice vs the whole corpus — the importance-resampling signal
    //    for domain-targeted data selection. Two bucket histograms +
    //    one broadcast weight table (TextPipeline.dsirWeights).
    Query("ext_dsir_weights", (s, dir) => {
      val d = t(s, dir, "documents")
      TextPipeline.dsirWeights(
        d, d.filter(col("source") === "src0"), col("doc_id"), col("text"))
        .orderBy("doc_id")
    },
      // DSIR replay: per-token rolling-hash polynomial (the
      // ext_substring_dedup arithmetic) mod 1024 buckets; ln ratios
      // rounded 9dp then DECIMAL(28,12)-summed per doc.
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_reduce(list_transform(range(1, length(tok) + 1),
        |      j -> CAST(ord(substr(tok, j, 1)) AS BIGINT)),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) % 1024 AS bucket
        |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  WHERE len(tok) > 0),
        |cc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_c
        |       FROM toks GROUP BY 1),
        |ct AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_t
        |       FROM toks WHERE source = 'src0' GROUP BY 1),
        |tc AS (SELECT CAST(SUM(n_c) AS BIGINT) AS tot_c FROM cc),
        |tt AS (SELECT CAST(SUM(n_t) AS BIGINT) AS tot_t FROM ct),
        |w AS (
        |  SELECT cc.bucket,
        |    CAST(round(ln(
        |      ((COALESCE(n_t, 0) + 1.0) / (CAST(tot_t AS DOUBLE) + 1024.0)) /
        |      ((n_c + 1.0) / (CAST(tot_c AS DOUBLE) + 1024.0))), 9)
        |      AS DECIMAL(28,12)) AS w
        |  FROM cc LEFT JOIN ct ON cc.bucket = ct.bucket
        |  CROSS JOIN tc CROSS JOIN tt)
        |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(w) AS DOUBLE) AS dsir_logweight
        |FROM toks t JOIN w ON t.bucket = w.bucket
        |GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // ── Bigram-LM quality scoring: add-one-smoothed model trained on
    //    the corpus itself, every doc scored by mean token
    //    log-likelihood — the KenLM-style perplexity-proxy filter
    //    (TextPipeline.lmScore).
    Query("ext_lm_score", (s, dir) =>
      TextPipeline.lmScore(
        t(s, dir, "documents"), col("doc_id"), col("text")),
      // LM-score replay: bigrams by list slices, model + context + vocab
      // from the gram table, per-term round(ln, 9), DECIMAL(28,9) sums,
      // one mean divide.
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, len(ts)),
        |    i -> array_to_string(list_slice(ts, i, i + 1), ' '))) AS gram
        |  FROM tok),
        |m AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS c_ab
        |      FROM g GROUP BY 1),
        |cx AS (SELECT string_split(gram, ' ')[1] AS ctx_tok,
        |         CAST(SUM(c_ab) AS BIGINT) AS c_a
        |       FROM m GROUP BY 1),
        |vv AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM
        |       (SELECT unnest(string_split(gram, ' ')) AS tok FROM m)),
        |sc AS (
        |  SELECT g.doc_id, round(ln(
        |    CAST(m.c_ab + 1 AS DOUBLE) /
        |    CAST(cx.c_a + vv.v AS DOUBLE)), 9) AS term
        |  FROM g JOIN m USING (gram)
        |  JOIN cx ON string_split(g.gram, ' ')[1] = cx.ctx_tok
        |  CROSS JOIN vv)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(CAST(term AS DECIMAL(28,9))) AS DOUBLE) /
        |  CAST(COUNT(*) AS DOUBLE) AS avg_logp
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── Gopher/C4-style hard rule screen with per-rule attribution:
    //    five divide-free integer gates + 6dp ratio readouts per doc
    //    (TextPipeline.qualityRuleScreen scaladoc) — the tunable
    //    complement to ext_text_quality's continuous score.
    Query("ext_quality_rules", (s, dir) =>
      TextPipeline.qualityRuleScreen(
        t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy("doc_id"),
      // Quality-rule replay: the same list/regex counters ('g' flag —
      // DuckDB replaces first match by default, Spark replaces all) and
      // the same divide-free integer gates.
      """WITH b AS (
        |  SELECT doc_id, COALESCE(text, '') AS t FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(list_filter(string_split(t, ' '),
        |    w -> len(w) > 0)) AS BIGINT) AS n_words,
        |  CAST(length(regexp_replace(t, ' ', '', 'g')) AS BIGINT)
        |    AS char_len,
        |  CAST(len(list_filter(string_split(t, ' '),
        |    w -> len(w) > 0 AND regexp_matches(w, '[A-Za-z]')))
        |    AS BIGINT) AS alpha_words,
        |  CAST(length(regexp_replace(t, '[A-Za-z0-9 ]', '', 'g'))
        |    AS BIGINT) AS symbols,
        |  CAST(length(t) AS BIGINT) AS total_chars,
        |  CAST(len(list_filter(string_split(t, ' '),
        |    w -> list_contains(['the', 'a', 'and', 'of', 'to', 'in'], w)))
        |    AS BIGINT) AS stop_hits
        |  FROM b)
        |SELECT doc_id, n_words,
        |  CASE WHEN n_words > 0 THEN round(
        |    CAST(char_len AS DOUBLE) / CAST(n_words AS DOUBLE), 6) END
        |    AS mean_word_len,
        |  CASE WHEN n_words > 0 THEN round(
        |    CAST(alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE), 6) END
        |    AS alpha_frac,
        |  CASE WHEN total_chars > 0 THEN round(
        |    CAST(symbols AS DOUBLE) / CAST(total_chars AS DOUBLE), 6) END
        |    AS symbol_frac,
        |  stop_hits,
        |  n_words >= 5 AND n_words <= 10000 AS r_len,
        |  n_words > 0 AND char_len >= n_words * 2
        |    AND char_len <= n_words * 12 AS r_wordlen,
        |  n_words > 0 AND alpha_words * 10 >= n_words * 7 AS r_alpha,
        |  stop_hits >= 2 AS r_stop,
        |  symbols * 10 <= total_chars AS r_symbol,
        |  (n_words >= 5 AND n_words <= 10000)
        |    AND (n_words > 0 AND char_len >= n_words * 2
        |      AND char_len <= n_words * 12)
        |    AND (n_words > 0 AND alpha_words * 10 >= n_words * 7)
        |    AND (stop_hits >= 2)
        |    AND (symbols * 10 <= total_chars) AS keep
        |FROM m ORDER BY doc_id""".stripMargin)
  )
}
