package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Dedup
import graft.queries.OracleSql._
import graft.queries.Query._

/** Deduplication: exact, fingerprint, MinHash/SimHash/embedding near-
  * dup, substring and chunk dedup, clusters and keepers. */
object DedupQueries {

  /** 3-char-shingle Jaccard of each document and the next id, 6dp —
    * the oracle of ext_ngram_jaccard and of its SQL-text twin
    * ext_sql_functions. */
  private[queries] val AdjacentJaccardSql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      range(1, greatest(2, length(trim(regexp_replace(lower(text),'\s+',' ','g'))) - 1)),
      |      i -> substr(trim(regexp_replace(lower(text),'\s+',' ','g')), i, 3))) AS s
      |  FROM documents)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |        / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
      |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
      |ORDER BY id_a""".stripMargin

  /** Each document's distinct winnowed fingerprints (`fp`): the
    * 32-codepoint window hashes Σ c·31^j mod 1e9+7 — WinnowedFingerprints'
    * rolling polynomial — that are ≡ 0 mod 8. */
  private val WinnowedFpSql: String =
    """WITH fp AS (
      |  SELECT DISTINCT doc_id, fp FROM (
      |    SELECT doc_id, unnest(list_filter(list_transform(
      |      range(1, length(text) - 30),
      |      i -> list_reduce(list_transform(range(i, i + 32),
      |             j -> CAST(ord(substr(text, j, 1)) AS BIGINT)),
      |           (acc, c) -> (acc * 31 + c) % 1000000007)),
      |      h -> h % 8 = 0)) AS fp
      |    FROM documents))""".stripMargin

  def all: Seq[Query] = Seq(
    // ── Exact dedup: deterministic keeper (min id) per identical text.
    Query("ext_dedup_exact", (s, dir) => {
      Dedup.exact(t(s, dir, "documents"), col("text"), col("doc_id"))
        .select(col("keep_id").as("doc_id"), col("n_copies"))
        .orderBy("doc_id")
    },
      """SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin),

    // ── Fingerprint dedup: md5-of-normalized-text groups; the shuffle
    //    carries digests, not bodies (Dedup.byFingerprint scaladoc).
    Query("ext_fingerprint_dedup", (s, dir) => {
      Dedup.byFingerprint(t(s, dir, "documents"), col("text"), col("doc_id"))
        .select(col("fingerprint"), col("keep_id"), col("n_copies"))
        .orderBy("fingerprint")
    },
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
        |       MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin),

    // ── N-gram Jaccard similarity, oracle-checked on consecutive-id
    //    pairs (the scalable candidate generation is LSH; this pins the
    //    similarity MEASURE itself against DuckDB's list algebra).
    Query("ext_ngram_jaccard", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val a = d.select(col("doc_id").as("id_a"), col("text").as("ta"))
      val b = d.select(col("doc_id").as("id_b"), col("text").as("tb"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          round(graft.functions.expressions.GraftFunctions
            .ngram_jaccard(col("ta"), col("tb"), 3), 6).as("jaccard"))
        .orderBy("id_a")
    },
      AdjacentJaccardSql),

    // ── Per-source duplication report — [EXT r13]: exact-dup mass per
    //    source slice by content fingerprint; the triage number that
    //    orders crawl feeds for demotion (Dedup.dupRateByGroup
    //    scaladoc).
    Query("ext_dedup_by_source", (s, dir) =>
      Dedup.dupRateByGroup(
        t(s, dir, "documents"), col("source"), col("text")),
      // Per-source dup-rate replay: fingerprint = md5 of normalized text
      // (the ext_fingerprint_dedup form), null text → the engine's
      // sentinel class.
      """WITH fp AS (
        |  SELECT CAST(source AS VARCHAR) AS group_key,
        |    COALESCE(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))),
        |      '__null_text__') AS fp
        |  FROM documents),
        |g AS (SELECT group_key, fp, COUNT(*) AS n FROM fp GROUP BY 1, 2)
        |SELECT group_key,
        |  CAST(SUM(n) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_dupes,
        |  round(CAST(1 AS DOUBLE) - CAST(COUNT(*) AS DOUBLE)
        |    / CAST(SUM(n) AS DOUBLE), 6) AS dup_rate
        |FROM g GROUP BY 1 ORDER BY group_key""".stripMargin),

    // ── Near-dup dedup, MinHash+LSH banding — ORACLED against the
    //    full-quadratic DuckDB ground truth: the corpus contains 25
    //    genuine near-dup pairs at sf0.01 (all 5-gram Jaccard >= 0.928,
    //    background < 0.35 — a clean separation at threshold 0.5), so
    //    a hash-green row certifies BOTH full recall (every true pair
    //    surfaced by the banded candidate join) and zero false
    //    positives (exact-verify stage). Banding: 64 hashes / 8 bands
    //    (r=8) — measured full recall at sf0.01 AND sf0.1 (identical
    //    pair sets vs r=4) at ~12× less candidate-verify cost, because
    //    every true pair here has J >= 0.928. The cost-oriented
    //    corpus-calibrated regime (Dedup.calibrateMinhashBands) is
    //    receipted in SCALE.md (LshSizing,
    //    `git show d7412f5:src/main/scala/graft/tools/LshSizing.scala`) and ScalaTest.
    // ── Chapman capture–recapture corpus-size estimate — [EXT r14]:
    //    two seeded md5-thresholded "crawls" of documents → how much
    //    content neither saw (the buy-a-third-crawl question); the
    //    contract query knows ground truth n=|documents| so the
    //    estimator is certified, not asserted
    //    (Dedup.captureRecapture scaladoc).
    Query("ext_capture_recapture", (s, dir) => {
      val d = t(s, dir, "documents")
      def crawl(tag: String) =
        conv(substring(md5(concat(lit(tag),
          col("doc_id").cast("string"))), 1, 2), 16, 10).cast("long") < 154
      Dedup.captureRecapture(d, crawl("crawlA:"), crawl("crawlB:"))
    },
      // Capture-recapture replay: the same md5-thresholded memberships
      // and the Chapman chain.
      """WITH b AS (
        |  SELECT
        |    CAST(concat('0x', substr(md5(concat('crawlA:',
        |      CAST(doc_id AS VARCHAR))), 1, 2)) AS BIGINT) < 154 AS a,
        |    CAST(concat('0x', substr(md5(concat('crawlB:',
        |      CAST(doc_id AS VARCHAR))), 1, 2)) AS BIGINT) < 154 AS b
        |  FROM documents),
        |g AS (SELECT
        |    CAST(SUM(CASE WHEN a OR b THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_total_seen,
        |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
        |      AS m_overlap
        |  FROM b),
        |h AS (SELECT *,
        |    CAST(n_a + 1 AS DOUBLE) * CAST(n_b + 1 AS DOUBLE)
        |      / CAST(m_overlap + 1 AS DOUBLE) - 1.0 AS n_hat_raw
        |  FROM g)
        |SELECT n_total_seen, n_a, n_b, m_overlap,
        |  round(n_hat_raw, 2) AS n_hat,
        |  round(CASE WHEN n_hat_raw > 0.0
        |    THEN CAST(n_a AS DOUBLE) / n_hat_raw END, 6) AS coverage_a,
        |  round(CASE WHEN n_hat_raw > 0.0
        |    THEN CAST(n_b AS DOUBLE) / n_hat_raw END, 6) AS coverage_b
        |FROM h""".stripMargin),

    // ── Near-dup threshold sensitivity sweep — [EXT r14]: one
    //    minhash pass at the lowest policy threshold, then per-t pair
    //    and touched-doc counts — the dedup-policy table; a cliff
    //    between rows marks template families entering the net
    //    (Dedup.neardupThresholdSweep scaladoc).
    Query("ext_dedup_threshold_sweep", (s, dir) =>
      Dedup.neardupThresholdSweep(
        t(s, dir, "documents"), col("doc_id"), col("text"),
        thresholds = Seq(0.5, 0.6, 0.7, 0.8, 0.9),
        shingleN = 5, numHashes = 64, bands = 8),
      // Sweep replay: the minhash oracle's exact quadratic char-5-gram
      // Jaccard ground truth (full recall certified at these settings),
      // bucketed per policy threshold.
      """WITH sh AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(2, length(trim(regexp_replace(lower(text),'\s+',' ','g'))) - 3)),
        |      i -> substr(trim(regexp_replace(lower(text),'\s+',' ','g')), i, 5))) AS s
        |  FROM documents),
        |pr AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |          / len(list_distinct(list_concat(a.s, b.s))), 6) AS j
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |th AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold),
        |f AS (SELECT threshold, id_a, id_b FROM pr CROSS JOIN th
        |      WHERE j >= threshold),
        |pc AS (SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs
        |       FROM f GROUP BY 1),
        |dc AS (SELECT threshold, CAST(COUNT(DISTINCT doc) AS BIGINT)
        |         AS n_docs
        |       FROM (SELECT threshold, id_a AS doc FROM f
        |             UNION ALL SELECT threshold, id_b FROM f) u
        |       GROUP BY 1)
        |SELECT round(th.threshold, 2) AS threshold,
        |  CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(COALESCE(n_docs, 0) AS BIGINT) AS n_docs
        |FROM th LEFT JOIN pc USING (threshold)
        |LEFT JOIN dc USING (threshold)
        |ORDER BY threshold""".stripMargin),

    Query("ext_minhash_neardup", (s, dir) => {
      Dedup.minhashNearDupPairs(
        t(s, dir, "documents"), col("doc_id"), col("text"),
        shingleN = 5, numHashes = 64, bands = 8, threshold = 0.5)
    },
      // Full-quadratic ground truth: every documents pair with 5-gram
      // Jaccard >= 0.5 (25 genuine near-dup pairs at sf0.01). Certifies
      // the banded-LSH candidate join's recall AND the exact-verify
      // stage's precision in one hash. MATERIALIZED shingle sets keep the
      // 125k-pair join at ~35 s — an acceptable one-off oracle cost.
      """WITH sh AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(2, length(trim(regexp_replace(lower(text),'\s+',' ','g'))) - 3)),
        |      i -> substr(trim(regexp_replace(lower(text),'\s+',' ','g')), i, 5))) AS s
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin),

    // ── Near-dup dedup, SimHash chunks — ORACLED END-TO-END on the
    //    real corpus: SimHash64's token hash is FNV-1a, which is pure
    //    mod-2^64 arithmetic DuckDB replays exactly with HUGEINT
    //    wrap-multiply, so the oracle recomputes every signature, the
    //    full-quadratic hamming ground truth, and the <=3 answer (17
    //    genuine pairs at sf0.01) with no planting and no Spark
    //    involved. Recall is not probabilistic here: two docs within
    //    hamming 3 of a 64-bit signature MUST share one of the four
    //    16-bit chunks (pigeonhole), so a hash-green row proves the
    //    chunk-blocked candidate join found exactly the true pair set.
    Query("ext_simhash_neardup", (s, dir) => {
      Dedup.simhashNearDupPairs(
        t(s, dir, "documents"), col("doc_id"), col("text"), maxHamming = 3)
    },
      // Full end-to-end SimHash replay: FNV-1a token hashes (signed-64
      // Java semantics emulated via HUGEINT wrap-multiply mod 2^64),
      // 64-bit majority-vote signatures, full-quadratic hamming, <= 3
      // filter. (h >> b) & 1 is shift-mode agnostic: arithmetic vs
      // logical shifts differ only above the extracted bit.
      // BMP-only equivalence contract: the engine hashes UTF-16 code units
      // (HashExpressions.fnv1a) while this replay indexes CHARACTERS via
      // ascii(substr(...)) — identical for Basic-Multilingual-Plane text
      // (the corpus), divergent on surrogate-pair characters (emoji/CJK
      // extensions), where one char here is two code units in the engine.
      s"""WITH n AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS t FROM n),
        |th AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(CAST(-3750763034362895579 AS BIGINT),
        |      list_transform(range(1, length(t)+1), i -> CAST(ascii(substr(t, i, 1)) AS BIGINT))),
        |    (h, c) -> CAST(
        |      ${fnv1aStep} AS BIGINT)) AS h
        |  FROM tok WHERE t <> ''),
        |agg AS (SELECT doc_id, list(h) AS hs FROM th GROUP BY doc_id),
        |sh AS MATERIALIZED (
        |  SELECT doc_id,
        |    CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
        |         THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS sh
        |  FROM (
        |    SELECT doc_id,
        |      list_sum(list_transform(range(0, 64), b ->
        |        CASE WHEN list_sum(list_transform(hs, h ->
        |               CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
        |        THEN (1::HUGEINT << b) ELSE 0::HUGEINT END)) AS s
        |    FROM agg))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3
        |ORDER BY id_a, id_b""".stripMargin),

    // ── Near-dup dedup over embeddings — planted-pair recall
    //    CERTIFICATE, fully oracled: 50 copies with the last coordinate
    //    zeroed (pure slice/concat — bit-exact for the oracle to
    //    rebuild) are planted at vec_id+100000; planted cosines land in
    //    [0.9486, 0.99996] vs a 0.513 background max (measured), so the
    //    >= 0.9 answer over the unioned corpus is exactly the 50
    //    planted pairs — IF the hyperplane-LSH buckets surface every
    //    one. Banding is autoSized per corpus (Dedup.sizedEmbeddingBands,
    //    r9): bands satisfy the (1−p^bits)^bands ≤ 1e-4 miss bound AT
    //    the 0.9 threshold — planted pairs sit at cos ≥ 0.9486, well
    //    above it; verified 50/50 at sf0.01, sf0.1 AND the
    //    10× replica by PlantedNearDupProbe,
    //    `git show d7412f5:src/main/scala/graft/tools/PlantedNearDupProbe.scala`).
    //    The r7 lesson
    //    lives here: the original 16 planes / 8 bands meant 2-bit
    //    bands = 4 buckets/band — 89 % of the full quadratic surfaced
    //    as "candidates" at sf0.1, and at 10× every bucket blew past
    //    capBuckets and the result went EMPTY. Dense bands are both
    //    the recall and the cost fix. The oracle recomputes the full
    //    quadratic ground truth, certifying recall AND precision.
    Query("ext_embedding_neardup", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val planted = e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"),
          concat(slice(col("embedding"), 1, 63), array(lit(0.0f))).as("embedding"))
      Dedup.embeddingNearDupPairs(
        e.select("vec_id", "embedding").unionByName(planted),
        col("vec_id"), col("embedding"),
        threshold = 0.9, autoSize = true, estimatePlanes = 64)
    },
      // Full-quadratic cosine ground truth over the corpus + 50 planted
      // zero-last-coordinate copies: the >= 0.9 answer is exactly the 50
      // planted pairs (background max 0.513) — recall and precision in
      // one hash.
      s"""WITH u AS MATERIALIZED (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, embedding[1:63] || [CAST(0 AS FLOAT)]
        |  FROM embeddings WHERE vec_id < 50),
        |sc AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    ${cosine6("a.embedding", "b.embedding")} AS sim
        |  FROM u a JOIN u b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, sim FROM sc WHERE sim >= 0.9
        |ORDER BY id_a, id_b""".stripMargin),

    // ── Near-dup CLUSTERS: connected components over a similarity pair
    //    graph (Dedup.clusters — pointer-jumping label propagation,
    //    O(log n) rounds). The edge set here is deterministic and
    //    DuckDB-mirrorable (consecutive-id pairs with 3-gram Jaccard
    //    >= 0.5, the ext_ngram_jaccard formulation), so the CLUSTERING
    //    itself is oracle-checked against a recursive-CTE reachability
    //    closure — two completely different algorithms, one answer. In
    //    production the same operator consumes minhashNearDupPairs
    //    output (tested on crafted fixtures in DedupSpec).
    Query("ext_dedup_clusters", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val a = d.select(col("doc_id").as("id_a"), col("text").as("ta"))
      val b = d.select(col("doc_id").as("id_b"), col("text").as("tb"))
      val pairs = a.join(b, col("id_b") === col("id_a") + 1)
        .filter(round(graft.functions.expressions.GraftFunctions
          .ngram_jaccard(col("ta"), col("tb"), 3), 6) >= 0.5)
        .select(col("id_a"), col("id_b"))
      Dedup.clusters(d, pairs, col("doc_id"), col("id_a"), col("id_b"),
        nodesDistinct = true) // doc_id is the table key
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    },
      s"""WITH RECURSIVE ${shingleComponents(3, "documents", "b.doc_id = a.doc_id + 1")}
        |SELECT id AS doc_id, MIN(label) AS cluster_id
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),

    // ── Quality-aware keeper: the same near-dup clusters, but each
    //    cluster keeps its HIGHEST-quality member (min-id stays the
    //    cluster LABEL; quality picks the doc) — float-free argmax via
    //    min(struct(-quality, doc_id)) (Dedup.keeperByQuality scaladoc).
    Query("ext_quality_keeper", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val a = d.select(col("doc_id").as("id_a"), col("text").as("ta"))
      val b = d.select(col("doc_id").as("id_b"), col("text").as("tb"))
      val pairs = a.join(b, col("id_b") === col("id_a") + 1)
        .filter(round(graft.functions.expressions.GraftFunctions
          .ngram_jaccard(col("ta"), col("tb"), 3), 6) >= 0.5)
        .select(col("id_a"), col("id_b"))
      val clusters = Dedup
        .clusters(d, pairs, col("doc_id"), col("id_a"), col("id_b"),
          nodesDistinct = true) // doc_id is the table key
        .select(col("id").as("doc_id"), col("cluster_id"))
      val quality = d.select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      Dedup.keeperByQuality(clusters, quality).orderBy("doc_id")
    },
      // keeper replay: the clusters recursive CTE + the hash-proven
      // ext_text_quality formula; argmax = ROW_NUMBER ordered
      // (quality DESC, doc_id) ≡ the engine's min(struct(-q, id)).
      s"""WITH RECURSIVE ${shingleComponents(3, "documents", "b.doc_id = a.doc_id + 1")},
        |cl AS (SELECT id AS doc_id, MIN(label) AS cluster_id
        |       FROM reach GROUP BY id),
        |q AS (
        |  SELECT doc_id,
        |    0.4 * least(1.0, CAST(len(string_split(text,' ')) AS DOUBLE) / 100.0)
        |    + 0.4 * least(1.0, CAST(len(list_filter(string_split(text,' '),
        |        t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |        / len(string_split(text,' ')) * 5.0)
        |    + 0.2 * (1.0 - CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
        |        / length(text)) AS quality
        |  FROM documents),
        |sc AS (SELECT cl.doc_id, cl.cluster_id, q.quality
        |       FROM cl JOIN q USING (doc_id)),
        |k AS (
        |  SELECT cluster_id, doc_id AS keeper_id FROM (
        |    SELECT cluster_id, doc_id,
        |      ROW_NUMBER() OVER (PARTITION BY cluster_id
        |                         ORDER BY quality DESC, doc_id) AS rn
        |    FROM sc) WHERE rn = 1)
        |SELECT sc.doc_id, sc.cluster_id, sc.quality, k.keeper_id,
        |  sc.doc_id = k.keeper_id AS keep
        |FROM sc JOIN k USING (cluster_id)
        |ORDER BY sc.doc_id""".stripMargin),

    // ── Rolling-hash document fingerprint (Rabin-Karp polynomial over
    //    code points, mod 1e9+7): the cheap content-address primitive for
    //    incremental/streaming dedup — pure map-side custom expression
    //    (functions.expressions.RollingHash), oracle-mirrored by a
    //    DuckDB list_reduce over ord() codepoints.
    Query("ext_rolling_fingerprint", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.expressions.GraftFunctions
            .rolling_hash(col("text")).as("rhash"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN 0 ELSE
        |    list_reduce(
        |      list_transform(range(1, length(text) + 1),
        |                     i -> CAST(ord(substr(text, i, 1)) AS BIGINT)),
        |      (acc, c) -> (acc * 31 + c) % 1000000007)
        |  END AS rhash
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ── Substring-level dup candidates: winnowed Rabin-Karp fingerprints
    //    (32-codepoint windows, 0-mod-8 sampling), per-fingerprint
    //    equi-join — Dedup.substringFingerprintPairs. Unlike the LSH
    //    paths, the fingerprint polynomial is engine-portable, so the
    //    WHOLE candidate pipeline is DuckDB-oracled (hash for hash).
    //    The DuckDB oracle has no bucketCap equivalent, so the contract
    //    query disables the skew guard (cap = MaxValue) to keep parity
    //    exact on ANY fixture; the engine default (1000) stays for
    //    production callers — see Dedup.substringFingerprintPairs.
    //    Density is corpus-sized (sizedWinnowModP, r10 ask #3): at
    //    every oracle fixture n ≤ 8192 the law reproduces modP = 8, so
    //    the %8 oracle replays bit-identically; only replica-scale
    //    bench runs see a coarser modulus.
    Query("ext_substring_dedup", (s, dir) => {
      Dedup.substringFingerprintPairsAuto(
        t(s, dir, "documents"), col("doc_id"), col("text"),
        bucketCap = Int.MaxValue)
        .orderBy("id_a", "id_b")
    },
      // window hash = list_reduce over ord() codepoints, identical
      // polynomial (Σ c·31^j mod 1e9+7) to WinnowedFingerprints' rolling
      // pass; range(1, len-30) starts windows at 1..len-31 (k = 32).
      s"""$WinnowedFpSql
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY id_a, id_b""".stripMargin),

    // ── Asymmetric containment screening: |fp(A)∩fp(B)|/|fp(A)| over
    //    the same winnowed fingerprints — catches "A quoted inside B"
    //    subset-duplication that symmetric Jaccard dilutes when B ≫ A
    //    (Dedup.containmentPairs scaladoc; cap disabled for oracle
    //    parity and density corpus-sized, as in ext_substring_dedup).
    Query("ext_containment", (s, dir) =>
      Dedup.containmentPairsAuto(
        t(s, dir, "documents"), col("doc_id"), col("text"),
        threshold = 0.5, bucketCap = Int.MaxValue)
        .orderBy("id_a", "id_b"),
      // containment replay: the ext_substring_dedup fingerprint CTE plus
      // per-doc counts; the WHERE repeats the division expressions (no
      // alias refs) — exact IEEE divides and compares on both engines.
      s"""$WinnowedFpSql,
        |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp
        |        FROM fp GROUP BY 1),
        |sh AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_shared
        |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT sh.id_a, sh.id_b, sh.n_shared,
        |  ca.n_fp AS n_a, cb.n_fp AS n_b,
        |  CAST(sh.n_shared AS DOUBLE) / ca.n_fp AS containment_a,
        |  CAST(sh.n_shared AS DOUBLE) / cb.n_fp AS containment_b
        |FROM sh JOIN cnt ca ON ca.doc_id = sh.id_a
        |        JOIN cnt cb ON cb.doc_id = sh.id_b
        |WHERE greatest(CAST(sh.n_shared AS DOUBLE) / ca.n_fp,
        |               CAST(sh.n_shared AS DOUBLE) / cb.n_fp) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin),

    // ── Incremental CDC screen: a synthetic drop (fresh docs + edited
    //    re-posts of corpus docs) probes the corpus's content-defined
    //    chunk index — re-posts share almost all chunks and are
    //    rejected, fresh content admitted; the index is scanned, never
    //    shuffled (Dedup.cdcScreen scaladoc).
    Query("ext_cdc_screen", (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") < 250)
      val batch = docs.filter(col("doc_id") >= 250) // genuinely new
        .unionByName(docs.filter(col("doc_id") < 40) // edited re-posts
          .withColumn("doc_id", col("doc_id") + 1000L)
          .withColumn("text",
            concat(col("text"), lit(" freshly appended recrawl tail"))))
      Dedup.cdcScreen(batch, corpus, col("doc_id"), col("text"))
        .orderBy("doc_id")
    },
      // CDC-screen replay: the ext_cdc_chunks chunking CTE over the
      // constructed corpus+batch union (side column), corpus-side distinct
      // chunk keys as the index, LEFT-JOIN membership flag, one divide.
      """WITH docs2 AS (
        |  SELECT doc_id, text, 'corpus' AS side FROM documents
        |  WHERE doc_id < 250
        |  UNION ALL
        |  SELECT doc_id, text, 'batch' FROM documents WHERE doc_id >= 250
        |  UNION ALL
        |  SELECT doc_id + 1000, text || ' freshly appended recrawl tail',
        |         'batch'
        |  FROM documents WHERE doc_id < 40),
        |cp AS (
        |  SELECT doc_id, side,
        |    list_transform(range(1, length(text) + 1),
        |      i -> CAST(ord(substr(text, i, 1)) AS BIGINT)) AS cs
        |  FROM docs2 WHERE text IS NOT NULL),
        |wh AS (
        |  SELECT doc_id, side, cs, len(cs) AS n,
        |    CASE WHEN len(cs) >= 16 THEN
        |      list_transform(range(1, len(cs) - 14),
        |        s -> list_reduce(list_slice(cs, s, s + 15),
        |               (a, c) -> (a * 31 + c) % 1000000007))
        |    ELSE [] END AS hs
        |  FROM cp WHERE len(cs) > 0),
        |st AS (
        |  SELECT doc_id, side, cs, n,
        |    list_prepend(1, list_transform(
        |      list_filter(range(1, len(hs) + 1),
        |        s -> hs[CAST(s AS INT)] % 32 = 0 AND s + 15 < n),
        |      s -> s + 16)) AS starts
        |  FROM wh),
        |occ AS (
        |  SELECT doc_id, side,
        |    CAST(c['en'] - c['st'] + 1 AS BIGINT) AS chunk_len,
        |    list_reduce(
        |      list_slice(cs, CAST(c['st'] AS INT), CAST(c['en'] AS INT)),
        |      (a, x) -> (a * 31 + x) % 1000000007) AS chunk_hash
        |  FROM (
        |    SELECT doc_id, side, cs,
        |      unnest(list_transform(range(1, len(starts) + 1),
        |        j -> struct_pack(
        |               st := starts[CAST(j AS INT)],
        |               en := CASE WHEN j < len(starts)
        |                     THEN starts[CAST(j + 1 AS INT)] - 1
        |                     ELSE n END))) AS c
        |    FROM st)),
        |idx AS (
        |  SELECT DISTINCT chunk_hash, chunk_len, 1 AS known FROM occ
        |  WHERE side = 'corpus')
        |SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(SUM(COALESCE(idx.known, 0)) AS BIGINT) AS n_known,
        |  CAST(SUM(COALESCE(idx.known, 0)) AS DOUBLE) / COUNT(*)
        |    AS known_ratio,
        |  CAST(SUM(COALESCE(idx.known, 0)) AS DOUBLE) / COUNT(*) <= 0.5
        |    AS admitted
        |FROM (SELECT * FROM occ WHERE side = 'batch') b
        |LEFT JOIN idx USING (chunk_hash, chunk_len)
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin),

    // ── Incremental ingest dedup: a synthetic "daily drop" (fresh docs +
    //    re-crawls of corpus docs + an in-batch double) lands next to the
    //    existing corpus; only genuinely-new content is admitted, one
    //    winner per fingerprint — Dedup.incremental. The corpus reduces
    //    to distinct digests before the anti-join; bodies never shuffle.
    Query("ext_incremental_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") < 250)
      val batch = docs.filter(col("doc_id") >= 250) // genuinely new
        .unionByName(docs.filter(col("doc_id") < 40) // re-crawl of corpus docs
          .withColumn("doc_id", col("doc_id") + 1000L))
        .unionByName(docs.filter(col("doc_id").between(250, 259)) // in-batch double
          .withColumn("doc_id", col("doc_id") + 2000L))
      Dedup.incremental(batch, corpus, col("text"), col("doc_id"), col("text"))
        .orderBy("fingerprint")
    },
      """WITH corpus AS (SELECT * FROM documents WHERE doc_id < 250),
        |batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 250
        |  UNION ALL
        |  SELECT doc_id + 1000, text FROM documents WHERE doc_id < 40
        |  UNION ALL
        |  SELECT doc_id + 2000, text FROM documents
        |  WHERE doc_id BETWEEN 250 AND 259),
        |seen AS (
        |  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |    AS fingerprint FROM corpus)
        |SELECT b.fingerprint, MIN(b.doc_id) AS keep_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_batch_copies
        |FROM (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        |  FROM batch) b
        |ANTI JOIN seen s ON b.fingerprint = s.fingerprint
        |GROUP BY b.fingerprint ORDER BY b.fingerprint""".stripMargin),

    // ── Incremental NEAR-dup screening — ORACLED against the
    //    full-quadratic batch×corpus DuckDB ground truth (54 true
    //    >= 0.5-Jaccard matches at sf0.01: 40 planted re-crawls + 14
    //    genuine near-dups the fresh half of the drop has in the
    //    corpus). A daily drop of fresh docs plus lightly-edited
    //    re-crawls (trailing sentence appended) is screened against the
    //    corpus — batch bands probe the corpus's band table, never
    //    batch×batch or corpus×corpus — Dedup.incrementalNearDup.
    //    Banding is recall-oriented (64/16, r=4) like
    //    ext_minhash_neardup: at the r5 default (32/8) the banded join
    //    deterministically missed one true 0.885-Jaccard pair.
    Query("ext_incremental_neardup", (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") < 250)
      val batch = docs.filter(col("doc_id") >= 250)
        .unionByName(docs.filter(col("doc_id") < 40)
          .withColumn("doc_id", col("doc_id") + 1000L)
          .withColumn("text",
            concat(col("text"), lit(" minor trailing edit appended here"))))
      Dedup.incrementalNearDup(
        batch, corpus, col("doc_id"), col("text"), col("doc_id"), col("text"),
        numHashes = 64, bands = 16, threshold = 0.5)
    },
      // Full-quadratic batch×corpus ground truth for the incremental
      // screen: 40 planted re-crawl matches + the 14 genuine near-dups
      // the fresh half of the drop has in the corpus (sf0.01).
      """WITH b AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 250
        |  UNION ALL
        |  SELECT doc_id + 1000, text || ' minor trailing edit appended here'
        |  FROM documents WHERE doc_id < 40),
        |c AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
        |shb AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(2, length(trim(regexp_replace(lower(text),'\s+',' ','g'))) - 3)),
        |      i -> substr(trim(regexp_replace(lower(text),'\s+',' ','g')), i, 5))) AS s
        |  FROM b),
        |shc AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(2, length(trim(regexp_replace(lower(text),'\s+',' ','g'))) - 3)),
        |      i -> substr(trim(regexp_replace(lower(text),'\s+',' ','g')), i, 5))) AS s
        |  FROM c)
        |SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
        |  round(CAST(len(list_intersect(b.s, c.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(b.s, c.s))), 6) AS jaccard
        |FROM shb b CROSS JOIN shc c
        |WHERE round(CAST(len(list_intersect(b.s, c.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(b.s, c.s))), 6) >= 0.5
        |ORDER BY batch_id, corpus_id""".stripMargin),

    // ── Chunk-level corpus dedup (C4-style line dedup, char-chunked):
    //    per-doc duplicated-chunk rollup; the resolution window
    //    partitions by chunk digest, so parallelism grows with the
    //    corpus (Dedup.chunkDedup scaladoc).
    Query("ext_chunk_dedup", (s, dir) =>
      Dedup.chunkDedup(
        t(s, dir, "documents"), col("doc_id"), col("text"), size = 120)
        .orderBy("doc_id"),
      // Same chunk grid as ext_chunk_overlap (size=stride=120), same
      // min-(doc_id, chunk_idx) first-occurrence rule as ext_dedup_exact.
      """WITH c AS (
        |  SELECT doc_id, text,
        |    CAST((greatest(length(text), 1) - 1) // 120 AS BIGINT) AS last_idx
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, text, unnest(range(0, last_idx + 1)) AS chunk_idx
        |  FROM c),
        |h AS (
        |  SELECT doc_id, chunk_idx,
        |    md5(substr(text, CAST(chunk_idx * 120 + 1 AS INT), 120)) AS chunk_md5
        |  FROM e),
        |r AS (
        |  SELECT doc_id, chunk_idx,
        |    ROW_NUMBER() OVER (PARTITION BY chunk_md5 ORDER BY doc_id, chunk_idx)
        |      AS occ
        |  FROM h)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_chunks,
        |  CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE) AS dup_ratio
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ── Content-defined chunking dedup: rolling-hash 0-mod-32 cut
    //    points (16-cp windows), chunk content hashed by the same
    //    portable polynomial, min-doc_id chunk ownership — insertion-
    //    robust where ext_chunk_dedup's fixed grid loses alignment
    //    (Dedup.cdcNovelty + expressions.CdcChunks scaladoc).
    Query("ext_cdc_chunks", (s, dir) =>
      Dedup.cdcNovelty(
        t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy("doc_id"),
      // CDC replay: per-position 16-cp window hashes (the
      // ext_rolling_fingerprint polynomial, list_reduce from the same
      // c1-init = 0-init identity), 0-mod-32 cut rule minus end-of-text
      // cuts, chunk-content hashes over the resulting slices, then the
      // ext_novelty min-doc ownership rollup.
      """WITH cp AS (
        |  SELECT doc_id,
        |    list_transform(range(1, length(text) + 1),
        |      i -> CAST(ord(substr(text, i, 1)) AS BIGINT)) AS cs
        |  FROM documents WHERE text IS NOT NULL),
        |wh AS (
        |  SELECT doc_id, cs, len(cs) AS n,
        |    CASE WHEN len(cs) >= 16 THEN
        |      list_transform(range(1, len(cs) - 14),
        |        s -> list_reduce(list_slice(cs, s, s + 15),
        |               (a, c) -> (a * 31 + c) % 1000000007))
        |    ELSE [] END AS hs
        |  FROM cp WHERE len(cs) > 0),
        |st AS (
        |  SELECT doc_id, cs, n,
        |    list_prepend(1, list_transform(
        |      list_filter(range(1, len(hs) + 1),
        |        s -> hs[CAST(s AS INT)] % 32 = 0 AND s + 15 < n),
        |      s -> s + 16)) AS starts
        |  FROM wh),
        |occ AS (
        |  SELECT doc_id,
        |    CAST(c['en'] - c['st'] + 1 AS BIGINT) AS chunk_len,
        |    list_reduce(
        |      list_slice(cs, CAST(c['st'] AS INT), CAST(c['en'] AS INT)),
        |      (a, x) -> (a * 31 + x) % 1000000007) AS chunk_hash
        |  FROM (
        |    SELECT doc_id, cs,
        |      unnest(list_transform(range(1, len(starts) + 1),
        |        j -> struct_pack(
        |               st := starts[CAST(j AS INT)],
        |               en := CASE WHEN j < len(starts)
        |                     THEN starts[CAST(j + 1 AS INT)] - 1
        |                     ELSE n END))) AS c
        |    FROM st)),
        |dk AS (SELECT DISTINCT doc_id, chunk_hash, chunk_len FROM occ),
        |own AS (SELECT chunk_hash, chunk_len, MIN(doc_id) AS first_doc
        |        FROM dk GROUP BY 1, 2),
        |pd AS (
        |  SELECT dk.doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    CAST(SUM(CASE WHEN own.first_doc = dk.doc_id THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_novel
        |  FROM dk JOIN own USING (chunk_hash, chunk_len) GROUP BY 1),
        |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks
        |        FROM occ GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(tot.n_chunks, 0) AS n_chunks,
        |  COALESCE(pd.n_distinct, 0) AS n_distinct,
        |  COALESCE(pd.n_novel, 0) AS n_novel,
        |  CAST(pd.n_novel AS DOUBLE) / CAST(pd.n_distinct AS DOUBLE) AS novelty
        |FROM documents d LEFT JOIN tot USING (doc_id) LEFT JOIN pd USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)
  )
}
