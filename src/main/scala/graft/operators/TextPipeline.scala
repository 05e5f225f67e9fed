package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.expressions.GraftFunctions

/** [EXT] Training-data curation operators beyond dedup: benchmark
  * decontamination, PII redaction, repetition analysis, BM25 retrieval
  * scoring, and domain-mix resampling — the standard curation passes an
  * LLM pretraining pipeline runs between raw crawl and tokenizer.
  *
  * Shared scale discipline (100 TB corpus):
  *  - n-gram generation is a MAP-SIDE custom expression
  *    (expressions.WordNgrams, one compiled pass per row) — the corpus
  *    is never shuffled as token rows just to build windows;
  *  - small sides (eval-set n-grams, per-term document frequencies,
  *    corpus-level scalars) are broadcast, never shuffled against the
  *    corpus;
  *  - everything that does shuffle carries ids + small values (grams as
  *    strings, counts), not document bodies;
  *  - all scoring arithmetic is reproducible cross-engine: integer
  *    counts, IEEE +,·,/,sqrt (exact-rounded), and DECIMAL-accumulated
  *    sums where addition order is partition-dependent.
  */
object TextPipeline {

  /** Benchmark decontamination: for each corpus document, the number of
    * distinct word `n`-grams it shares with an evaluation set — the
    * overlap filter every pretraining pipeline runs so eval benchmarks
    * don't leak into training data (the GPT-3/PaLM 13-gram rule, here
    * parameterized).
    *
    * Shape: eval n-grams are deduplicated and BROADCAST (an eval suite
    * is a few thousand documents — tiny next to the corpus); corpus
    * n-grams are generated map-side and joined without any corpus-wide
    * shuffle before the per-doc count. Docs with no overlap (or fewer
    * than n tokens) are preserved with n_overlap = 0 via the final
    * left join against the id spine.
    *
    * Output: (doc_id, n_overlap, contaminated) — callers drop
    * `contaminated` rows or route them to review. */
  def contamination(
      corpus: DataFrame, eval: DataFrame,
      id: Column, text: Column, n: Int): DataFrame = {
    val evalGrams = eval
      .select(explode(GraftFunctions.word_ngrams(text, n)).as("gram"))
      .distinct()
    // broadcast-join BEFORE any distinct: the map-side hash probe filters
    // the (vast) non-matching majority of corpus grams, so the only
    // shuffle is the per-doc distinct-overlap count of MATCHING grams —
    // a corpus-wide pre-distinct would shuffle every gram of every doc
    overlapPerDoc(corpus, id, corpus
      .select(id.as("doc_id"), explode(GraftFunctions.word_ngrams(text, n)).as("gram"))
      .join(broadcast(evalGrams), Seq("gram")))
  }

  /** The contamination readout over `matched` (doc_id, gram) rows:
    * every corpus doc with its distinct matched-gram count (0 when
    * none) and `contaminated`. */
  private def overlapPerDoc(
      corpus: DataFrame, id: Column, matched: DataFrame): DataFrame = {
    val overlap = matched
      .groupBy("doc_id")
      .agg(count_distinct(col("gram")).as("n_overlap"))
    corpus.select(id.as("doc_id"))
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") > 0)
  }

  /** Eval-set n-gram COVERAGE — [[contamination]]'s dual, pointed the
    * other way: for each EVAL document, what fraction of its distinct
    * word n-grams the training corpus contains at all. Contamination
    * asks "did the corpus memorize the benchmark?"; coverage asks "does
    * the corpus even speak the benchmark's language?" — the domain-gap
    * readout that decides whether an eval regression is a modeling
    * problem or a data problem.
    *
    * 100 TB shape (the contamination discipline, reversed): the eval
    * set is bounded by construction, so its distinct grams BROADCAST;
    * the corpus is scanned ONCE map-side — each corpus gram probes the
    * broadcast hash and only MATCHES (≤ |eval grams| of them) reach the
    * distinct-aggregate. The per-doc count then joins eval-sized tables
    * only. The corpus is never shuffled, never re-scanned per doc.
    *
    * Output: (doc_id, n_grams, n_covered, coverage 6dp) for every eval
    * doc — docs too short for one n-gram keep their row with n_grams 0
    * and NULL coverage (unknown, not zero — the [[contamination]] spine
    * rule). */
  def evalCoverage(
      corpus: DataFrame, eval: DataFrame,
      id: Column, text: Column, n: Int): DataFrame = {
    val evalGrams = eval
      .select(id.as("doc_id"),
        explode(GraftFunctions.word_ngrams(text, n)).as("gram"))
      .distinct()
    val evalGlobal = evalGrams.select("gram").distinct()
    val covered = corpus
      .select(explode(GraftFunctions.word_ngrams(text, n)).as("gram"))
      .join(broadcast(evalGlobal), Seq("gram"))
      .distinct()
      .withColumn("hit", lit(1L))
    val perDoc = evalGrams
      .join(broadcast(covered), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("hit")), lit(0L)).as("n_covered"))
    eval.select(id.as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        when(col("n_grams") > 0,
          round(col("n_covered").cast("double") /
            col("n_grams").cast("double"), 6)).as("coverage"))
  }

  /** N-gram novelty scoring: what fraction of a document's DISTINCT
    * word n-grams appear in NO lower-id document — the
    * diversity/novelty signal a curation pass ranks by when near-dup
    * removal alone leaves template-heavy corpora (novelty ≈ 0 means
    * "assembled from seen phrases" even when no single document
    * matches). The keeper convention is the corpus-wide one: min
    * doc_id owns a gram's first occurrence, same rule as
    * [[graft.operators.Dedup.exact]].
    *
    * Documents too short for a single n-gram score null (unknown, not
    * maximally novel) but stay in the output via the id spine — the
    * [[contamination]] discipline.
    *
    * 100 TB shape: a gram's owner is BY DEFINITION one of its
    * containing docs, so the two counts a doc needs decompose into
    * independent aggregates — n_grams from the per-doc distinct,
    * n_novel from the first-occurrence table grouped by ITS OWNER —
    * and no gram-keyed join-back exists at all. The first formulation
    * had one (rehydrating first_doc onto every (doc, gram) pair) and
    * measured 5.6× wall at 10× data; this one is 3 well-keyed
    * aggregates (gram strings shuffle twice: the (doc, gram) distinct
    * and the min-owner aggregate) plus a doc-keyed merge, and the
    * answer is identical.
    *
    * Output: (doc_id, n_grams, n_novel, novelty). */
  def ngramNovelty(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 5): DataFrame = {
    val grams = docs
      .select(id.as("doc_id"), explode(GraftFunctions.word_ngrams(text, n)).as("gram"))
      .distinct()
    val totals = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val novels = grams
      .groupBy("gram").agg(min("doc_id").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    docs.select(id.as("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(novels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double") /
          col("n_grams").cast("double")).as("novelty"))
  }

  /** [[contamination]] for the scale where the eval n-gram set no
    * longer fits an exact broadcast hash table. An eval SUITE is tiny,
    * but decontamination against a held-out corpus slice or another
    * crawl snapshot easily reaches 10^8–10^9 distinct grams — gigabytes
    * as strings, far past broadcast limits, forcing the exact path into
    * a full corpus-wide shuffle join. This variant restores the
    * map-side cull with a Bloom filter of the eval grams (~1.2 bytes
    * per gram at 1 % fpp): corpus grams that miss the bloom — the vast
    * majority — die in the scan stage, and only survivors (true
    * overlaps + the fpp-bounded false-positive trickle) enter the
    * shuffle, where an exact semi-join against the eval grams kills
    * the false positives. Blooms have no false negatives and the
    * verify join is exact, so the output is BIT-IDENTICAL to
    * [[contamination]] — fpp trades shuffle volume, never correctness
    * (the contract row ext_decontaminate_bloom shares
    * ext_decontaminate's oracle SQL verbatim).
    *
    * The bloom bit-array is an OR of item hashes — insertion-order and
    * partition independent — so the filter, and every plan decision
    * downstream of it, is deterministic for fixed (expectedGrams, fpp).
    *
    * NOTE: calling this triggers one eager Spark job (the distributed
    * `stat.bloomFilter` build) before the returned frame is acted on,
    * and the eval-gram lineage is evaluated again by the verify join —
    * callers screening many drops against one eval set should persist
    * `eval` or pre-build with [[gramBloom]] and reuse it. */
  def contaminationBloom(
      corpus: DataFrame, eval: DataFrame,
      id: Column, text: Column, n: Int,
      expectedGrams: Long, fpp: Double = 0.01): DataFrame = {
    val evalGrams = eval
      .select(explode(GraftFunctions.word_ngrams(text, n)).as("gram"))
      .distinct()
    val survivors = corpus
      .select(id.as("doc_id"),
        explode(GraftFunctions.word_ngrams(text, n)).as("gram"))
      .where(GraftFunctions.bloom_might_contain(
        col("gram"), gramBloom(evalGrams, expectedGrams, fpp)))
    overlapPerDoc(corpus, id,
      survivors.join(evalGrams, Seq("gram"), "left_semi")) // exact verify: fpp → 0
  }

  /** Distributed bloom build over a one-column gram frame, serialized
    * for [[graft.functions.expressions.BloomMightContain]]. Exposed so
    * callers screening many corpus drops against one eval set build
    * the filter once. The build is a Spark aggregate job (executors
    * hash their partitions into partial bit-arrays, the driver ORs
    * them); driver memory holds one bit-array of
    * ~1.44·log2(1/fpp)·expectedGrams bits — 120 MB at 10^8 grams /
    * 1 % — not the gram strings themselves.
    *
    * Runs the aggregate `stat.bloomFilter` runs, in one job, but an
    * empty build side yields an empty filter (every probe misses)
    * instead of the NullPointerException `stat.bloomFilter` throws when
    * the aggregate returns null. */
  def gramBloom(grams: DataFrame, expectedGrams: Long, fpp: Double): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    val numBits = BloomFilter.optimalNumOfBits(expectedGrams, fpp)
    val bytes = grams
      .select(org.apache.spark.sql.graftbridge.ColumnBridge.internalFn(
        "bloom_filter_agg", col(grams.columns.head), lit(expectedGrams),
        lit(numBits)))
      .head().getAs[Array[Byte]](0)
    val bloom = Option(bytes).map(BloomFilter.readFrom)
      .getOrElse(BloomFilter.create(expectedGrams, numBits))
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }

  /** PII redaction: replace email- and phone-shaped spans with typed
    * placeholder tokens and report per-document match counts. Pure
    * map-side (regexp_count/regexp_replace are codegen'd built-ins);
    * patterns stay inside the RE2-compatible subset (character classes
    * and bounded repetition only — no backrefs, no lookaround) so the
    * same pattern text runs identically on Java regex and RE2-family
    * engines, which is what makes the pass oracle-checkable.
    *
    * Output: original columns + (n_emails, n_phones, scrubbed). */
  val EmailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhonePattern = "[0-9]{3}-[0-9]{4}"

  def piiScrub(docs: DataFrame, text: Column): DataFrame =
    docs
      .withColumn("n_emails", regexp_count(text, lit(EmailPattern)).cast("long"))
      .withColumn("n_phones", regexp_count(text, lit(PhonePattern)).cast("long"))
      .withColumn("scrubbed",
        regexp_replace(
          regexp_replace(text, EmailPattern, "<EMAIL>"),
          PhonePattern, "<PHONE>"))

  /** EXACT corpus-wide heavy hitters: every token whose count strictly
    * exceeds totalTokens / k, with its exact count — the vocabulary
    * head a tokenizer-training or stopword-mining pass wants, computed
    * without ever shuffling the full token stream.
    *
    * Why not plain groupBy(token): the full-token aggregate shuffles
    * one row per DISTINCT token — at 100 TB that is billions of
    * long-tail rows moved to answer a question about the top ~k. Shape
    * here is two map-side scans and one tiny shuffle:
    *
    *  1. CANDIDATES — per-partition Misra-Gries with k counters
    *     (mapPartitions: the summary is an order-dependent streaming
    *     fold over the partition, the justified non-expression case).
    *     Averaging argument: if a token's global count > n/k, then on
    *     some partition its local count > n_p/k, and MG with k counters
    *     keeps every such token — so the union of partition summaries
    *     (≤ k × partitions tokens, tiny) is a SUPERSET of the true
    *     heavy hitters regardless of how rows are partitioned.
    *  2. EXACT VERIFY — second token scan, broadcast-hash left join
    *     against the candidate set, grouped by `token for candidates /
    *     NULL for everything else`: partial aggregation collapses each
    *     partition to ≤ candidates+1 rows before the only shuffle; the
    *     NULL background group keeps the total token count in the same
    *     single pass (no third scan). The global total then comes from
    *     a window over the already-tiny aggregate (the share-of-total
    *     pattern), and the strict `cnt · k > total` filter drops every
    *     candidate that was only locally hot.
    *
    * MG summaries differ across partitionings, but the output does
    * not: candidates are always a superset and counts are exact, so
    * the final frame is deterministic — and DuckDB can oracle it with
    * a plain GROUP BY / HAVING (contract row ext_heavy_hitters). */
  def heavyHitters(docs: DataFrame, text: Column, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val tokens = docs.select(
      explode(GraftFunctions.word_ngrams(text, 1)).as("token"))
    val cands = tokens
      .as(org.apache.spark.sql.Encoders.STRING)
      .mapPartitions(it => misraGries(it, k))(org.apache.spark.sql.Encoders.STRING)
      .toDF("token")
      .distinct()
    tokens
      .join(broadcast(cands.withColumn("__cand", lit(true))), Seq("token"), "left")
      .groupBy(when(col("__cand"), col("token")).as("token"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("total", sum("cnt").over(Window.partitionBy()))
      .where(col("token").isNotNull && col("cnt") * lit(k.toLong) > col("total"))
      .select(col("token"), col("cnt"))
  }

  /** One Misra-Gries pass: ≤ k surviving counters; every item occurring
    * more than (items seen)/k times is guaranteed to survive. */
  private def misraGries(it: Iterator[String], k: Int): Iterator[String] = {
    val counts = new java.util.HashMap[String, java.lang.Long](2 * k)
    while (it.hasNext) {
      val t = it.next()
      val c = counts.get(t)
      if (c ne null) counts.put(t, c + 1L)
      else if (counts.size < k) counts.put(t, 1L)
      else {
        // decrement-all: O(k) but amortized O(1) per input item, since
        // each trigger cancels k prior increments
        val entries = counts.entrySet().iterator()
        while (entries.hasNext) {
          val e = entries.next()
          if (e.getValue == 1L) entries.remove() else e.setValue(e.getValue - 1L)
        }
      }
    }
    import scala.jdk.CollectionConverters._
    counts.keySet().iterator().asScala
  }

  /** Gopher-style repetition metrics: per document, the fraction of
    * word bigrams occupied by the single most frequent bigram
    * (`top_bigram_frac`) and the fraction that are duplicates of an
    * earlier bigram (`dup_bigram_frac`) — the two cheapest signals for
    * degenerate/boilerplate text (Rae et al. 2021, Gopher §A1.1).
    *
    * Shape: bigrams generated map-side, then ONE shuffle of
    * (doc_id, gram) pairs for the per-gram counts and a second over the
    * already-tiny (doc_id) groups — bodies never move. Both fractions
    * are a single IEEE division of exact integers, so the values are
    * bit-identical on any engine. Docs with fewer than 2 tokens keep
    * NULL fractions (nothing to measure) via the id-spine left join. */
  def repetitionMetrics(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val perGram = docs
      .select(id.as("doc_id"), explode(GraftFunctions.word_ngrams(text, 2)).as("gram"))
      .groupBy("doc_id", "gram")
      .agg(count(lit(1)).as("cnt"))
    val perDoc = perGram.groupBy("doc_id").agg(
      sum("cnt").as("n_bigrams"),
      count(lit(1)).as("n_distinct"),
      max("cnt").as("top_cnt"))
    docs.select(id.as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        (col("top_cnt").cast("double") / col("n_bigrams")).as("top_bigram_frac"),
        ((col("n_bigrams") - col("n_distinct")).cast("double") / col("n_bigrams"))
          .as("dup_bigram_frac"))
  }

  /** Flesch reading-ease scoring with a vowel-group syllable heuristic —
    * the classical readability screen a curation pipeline runs next to
    * [[graft.functions.TextFunctions.qualityScore]] (readability bands
    * are a standard stratification key for curriculum/mix decisions):
    *
    *   flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
    *
    * Heuristics, stated honestly: words = whitespace tokens (the repo's
    * tokenizer), sentences = max(1, count of `[.!?]+` runs) so
    * unpunctuated text reads as one long sentence (scoring appropriately
    * hard), syllables = count of `[aeiouy]+` vowel groups in the
    * lowercased text — the textstat-style approximation; all three are
    * single compiled-regex map passes, which is the point: the exact
    * linguistic counts would need per-word dictionaries, this runs at
    * corpus scale in one scan with zero shuffles (the output is
    * per-document; any downstream banding aggregate is ≤5 rows).
    *
    * Determinism: counts are integers; the score is two IEEE divides +
    * multiply/subtract on decimal literals that round-trip exactly,
    * quantized round(·,6). Null/empty text → 0 words → NULL score,
    * band "empty" (emitted, not dropped — the B14 keep-empty rule).
    *
    * Output: (doc_id, words, sentences, syllables, flesch, band);
    * bands at the conventional 70/50/30 cuts. */
  def readabilityScore(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val words = coalesce(
      when(length(text) > 0, TextFunctions.tokenCount(text)), lit(0L))
    val sents = greatest(lit(1L),
      regexp_count(text, lit("[.!?]+")).cast("long"))
    val syls = regexp_count(lower(text), lit("[aeiouy]+")).cast("long")
    docs
      .select(id.as("doc_id"), words.as("words"), sents.as("sentences"),
        coalesce(syls, lit(0L)).as("syllables"))
      .withColumn("flesch",
        when(col("words") > 0,
          round(lit(206.835) -
            lit(1.015) * (col("words").cast("double") /
              col("sentences").cast("double")) -
            lit(84.6) * (col("syllables").cast("double") /
              col("words").cast("double")), 6)))
      .withColumn("band",
        when(col("flesch").isNull, "empty")
          .when(col("flesch") >= 70.0, "easy")
          .when(col("flesch") >= 50.0, "standard")
          .when(col("flesch") >= 30.0, "difficult")
          .otherwise("very_hard"))
  }

  /** BM25 relevance scores for a fixed bag of query terms — the
    * retrieval-quality primitive (rank corpus documents against a probe
    * query; also the scoring half of quality-classifier bootstrapping).
    *
    * Uses the LINEAR idf variant N/df in place of log((N-df+.5)/(df+.5)):
    * rank-equivalent per term (monotone in df), but bit-identical across
    * engines because it avoids libm log, whose last-ulp behavior differs
    * (same trade TfIdf.topTerms documents). Doc-length normalization is
    * the standard tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)).
    *
    * Shape: the corpus is exploded to tokens ONCE and filtered to the
    * query terms BEFORE the aggregate, so only matching (doc, term)
    * pairs shuffle; per-term df and the corpus scalars (N, avgdl) are
    * single-digit-row aggregates, broadcast. The per-doc sum over term
    * scores runs in DECIMAL(18,6) — addition order across partitions
    * cannot perturb the result.
    *
    * Output: (doc_id, score) for the top `k` docs, ties broken by id. */
  def bm25(
      docs: DataFrame, id: Column, text: Column,
      terms: Seq[String], k: Int,
      // defaults chosen so k1, k1+1, b, 1-b are all EXACT binary doubles:
      // a literal "2.25" parsed by another engine is bit-identical to the
      // k1+1 computed here (1.2 would land the sum on a round-half tie).
      k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    val scored = bm25TermScores(docs, id, text, k1, b)(
      _.filter(col("term").isin(terms: _*))) // pushed below the shuffle
    scored.groupBy("doc_id")
      .agg(sum(col("term_score").cast("decimal(18,6)")).cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** BM25 for a TABLE of queries — `queries` is (query_id, term) rows —
    * instead of [[bm25]]'s one literal term list. The multi-query shape
    * a retrieval pipeline actually runs: score every (query, doc) pair
    * that shares a term, rank within each query, keep `k` per query.
    *
    * Same formula, same DECIMAL(18,6) per-doc sum discipline as
    * [[bm25]] (identical scores for a single-query table). Scale shape:
    * the term-postings join keys on `term` — the tf table is the
    * posting list, the query table is small and BROADCAST, so scoring
    * is one map-side join over postings of queried terms only (the
    * `left_semi` prunes tf to those terms before the tf/df aggregation
    * sees them); the per-query top-k is a rank window partitioned by
    * the high-cardinality query_id, never a global sort.
    *
    * Output: (query_id, doc_id, score, rank), rank 1..k per query,
    * ties broken by doc_id. */
  def bm25ForQueries(
      docs: DataFrame, id: Column, text: Column,
      queries: DataFrame, // (query_id, term)
      k: Int,
      k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    val q = queries.select(col("query_id"), col("term")).distinct()
    val scored = bm25TermScores(docs, id, text, k1, b)(
      _.join(broadcast(q.select("term").distinct()), Seq("term"), "left_semi"),
      _.join(broadcast(q), Seq("term"))) // fan out postings per asking query
    scored.groupBy("query_id", "doc_id")
      .agg(sum(col("term_score").cast("decimal(18,6)")).cast("double").as("score"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id")
          .orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rank") <= k)
  }

  /** The BM25 scoring [[bm25]] and [[bm25ForQueries]] share: the
    * corpus tokens `keep` passes become per-(doc, term) `tf`, per-term
    * `df` and the corpus scalars (N, avgdl); `perQuery` fans the tf
    * rows out before they meet the doc lengths, then each row gets its
    * `term_score`. */
  private def bm25TermScores(
      docs: DataFrame, id: Column, text: Column, k1: Double, b: Double)(
      keep: DataFrame => DataFrame,
      perQuery: DataFrame => DataFrame = identity): DataFrame = {
    val lengths = docs.select(id.as("doc_id"),
      TextFunctions.tokenCount(text).as("dl"))
    val toks = keep(docs.select(id.as("doc_id"), explode(split(text, " ")).as("term")))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(TextFunctions.tokenCount(text)).as("total_tokens"))
    perQuery(tf)
      .join(lengths, Seq("doc_id")) // tf side is small: only matching docs
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("total_tokens").cast("double") / col("n_docs"))
      .withColumn("term_score",
        (col("n_docs").cast("double") / col("df")) *
          (col("tf").cast("double") * lit(k1 + 1.0) /
            (col("tf").cast("double") +
              lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))))
  }

  /** Quality-decile bucketing: assign every document a 0-9 bucket by
    * where its quality score falls among decile CUTOFFS estimated from a
    * deterministic hash sample — the sampling-prep step before
    * quality-weighted corpus selection.
    *
    * Scale shape: exact global quantiles over a 100 TB corpus would need
    * a global sort (or a single-partition rank window — the one shape
    * this repo bans on base tables). Instead the cutoffs come from a
    * 1/sampleMod MODULAR-HASH sample (integer arithmetic only — no RNG,
    * no engine-specific hash, reproducible anywhere), whose global rank
    * window is bounded BY CONSTRUCTION to the sample size; the 9 cutoffs
    * then broadcast, and bucket assignment is a map-side count of
    * cutoffs ≤ quality. Rank-based (type-1) quantiles, no interpolation
    * — the same cross-engine-exact formulation as g6_quantiles_exact.
    *
    * Output: (bucket, n_docs, min_quality, max_quality), bucket 0-9. */
  def qualityDecileBuckets(
      docs: DataFrame, id: Column, text: Column,
      sampleMod: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = docs.select(id.as("doc_id"),
      TextFunctions.qualityScore(text).as("quality"))
    // fold the id into [0, 1e9) BEFORE the Knuth multiply: the product
    // then tops out near 2.65e18 < Long.Max, so the arithmetic never
    // overflows under ANSI even for ids past 2^33 (100 TB id ranges)
    val sample = q.filter(
      pmod(pmod(pmod(col("doc_id"), lit(1000000007L)) * lit(2654435761L),
        lit(1000000007L)), lit(sampleMod.toLong)) === 0)
    // global rank window: bounded to the sample by construction
    val ranked = sample
      .select(col("quality"), col("doc_id"),
        row_number().over(Window.orderBy(col("quality"), col("doc_id"))).as("rn"))
      .crossJoin(broadcast(sample.agg(count(lit(1)).as("n"))))
    val iDf = { import docs.sparkSession.implicits._; (1 to 9).toDF("i") }
    // 9 cutoffs packed into ONE broadcast array row: bucket assignment is
    // then a map-side 9-element filter — no doc×cutoff row explosion, no
    // extra shuffle keyed by doc
    val cutArr = ranked
      .crossJoin(broadcast(iDf))
      .filter(col("rn") === ceil(col("i") * col("n") / lit(10.0)).cast("long"))
      .agg(sort_array(collect_list(col("quality"))).as("cuts"))
    q.crossJoin(broadcast(cutArr))
      .withColumn("bucket",
        size(filter(col("cuts"), c => col("quality") >= c)).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("quality")).as("min_quality"),
        max(col("quality")).as("max_quality"))
  }

  /** Domain-mix resampling weights: per (grouping) cell, the
    * temperature-flattened sampling weight w ∝ share^(1/2), normalized
    * to sum 1 — the mixture-rebalancing step (upweight rare domains /
    * languages, downweight dominant ones) every multilingual pretraining
    * recipe applies before sampling.
    *
    * α = 0.5 is hard-wired because sqrt is EXACT-ROUNDED under IEEE 754
    * (pow(x, α) for general α is not), which keeps every weight
    * bit-identical across engines. The normalizer sums the per-cell
    * sqrt-shares in DECIMAL(28,12) — cell order cannot perturb it.
    *
    * Shape: ONE groupBy over the corpus (count only — map-side partial
    * agg, no bodies in the shuffle), then pure window arithmetic over
    * the tiny cell table — the corpus is never scanned twice. */
  /** Largest-remainder apportionment of a sample budget over the
    * [[domainMixWeights]] cells: every cell gets floor(weight × total)
    * docs, and the leftover seats go to the largest fractional parts
    * (ties broken by weight desc then cell id — fully deterministic).
    * This is the step that turns resampling WEIGHTS into concrete
    * per-domain quotas a sampler executes, with Σ quota = total exactly
    * (naive rounding drifts by up to #cells/2).
    *
    * Shape: all arithmetic happens on the tiny cell table (the corpus
    * was already reduced by domainMixWeights' one groupBy); the rank
    * window spans #cells rows — never corpus rows. */
  def mixAllocation(
      docs: DataFrame, dims: Seq[Column], total: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    domainMixWeights(docs, dims)
      .withColumn("raw", col("weight") * lit(total.toDouble))
      .withColumn("floor_q", floor(col("raw")).cast("long"))
      .withColumn("frac", col("raw") - col("floor_q"))
      // deficit rides a window over the same tiny cell table — a
      // separate .agg would re-evaluate the whole weights subtree
      // (and with it the corpus scan)
      .withColumn("deficit", lit(total) - sum(col("floor_q")).over(Window.partitionBy()))
      .withColumn("pri",
        row_number().over(Window.orderBy(
          col("frac").desc +: col("weight").desc +: dims.map(_.asc): _*)))
      .withColumn("quota",
        col("floor_q") + when(col("pri") <= col("deficit"), 1L).otherwise(0L))
      .drop("raw", "floor_q", "frac", "pri", "deficit")
  }

  def domainMixWeights(docs: DataFrame, dims: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // corpus total and normalizer are window sums over the tiny POST-AGG
    // cell table (the b6 discipline: global windows are fine after
    // aggregation, never on a base table) — a separate docs.agg for the
    // total would scan the corpus a second time, and stacking
    // mixAllocation's aggregate on top measured 4× scan amplification
    val allCells = Window.partitionBy()
    docs.groupBy(dims: _*).agg(count(lit(1)).as("n"))
      .withColumn("n_total", sum(col("n")).over(allCells))
      .withColumn("share", col("n").cast("double") / col("n_total"))
      .withColumn("sqrt_share",
        sqrt(col("share")).cast("decimal(18,12)").cast("double"))
      .withColumn("denom",
        sum(col("sqrt_share").cast("decimal(28,12)")).over(allCells)
          .cast("double"))
      .withColumn("weight", col("sqrt_share") / col("denom"))
      .drop("n_total", "sqrt_share", "denom")
  }

  /** Shannon entropy of each cell's token distribution — the lexical-
    * diversity signal next to [[domainMixWeights]]'s volume shares: a
    * cell can be large yet templated (low entropy → dedup/downweight
    * candidate) or small but diverse. norm_entropy = H / ln(vocab) ∈
    * [0,1] makes cells of different vocabulary sizes comparable.
    *
    * Scale shape: one shuffle keyed on (cell, token) with map-side
    * partial counts, then a cell-keyed window over the POST-AGG
    * vocabulary table (the b6 discipline — never a window on the base
    * table) and a cell-keyed re-aggregation. Nothing is proportional
    * to corpus size after the first aggregate; state per cell is its
    * vocabulary.
    *
    * Determinism: p = n/N is one exact IEEE divide; each −p·ln p term
    * is cast DECIMAL(18,6) before the sum (the [[TfIdf.unigramLogProb]]
    * ln-quantization discipline), so the entropy is partition-order
    * free and engine-exact; the final normalizing divide is quantized
    * the same way. vocab == 1 (H = 0/0-free but ln 1 = 0) pins
    * norm_entropy to 0.0.
    *
    * Output: (dims..., n_tokens, vocab, entropy, norm_entropy). */
  def tokenEntropy(docs: DataFrame, dims: Seq[Column], text: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select((dims :+ explode(split(lower(text), "[^a-z]+")).as("token")): _*)
      .filter(length(col("token")) > 0)
    val cellTok = toks.groupBy((dims :+ col("token")): _*)
      .agg(count(lit(1)).as("n"))
    val cellW = Window.partitionBy(dims: _*)
    cellTok
      .withColumn("n_cell", sum(col("n")).over(cellW))
      .withColumn("p", col("n").cast("double") / col("n_cell").cast("double"))
      .withColumn("term", (-col("p") * log(col("p"))).cast("decimal(18,6)"))
      .groupBy(dims: _*)
      .agg(
        max(col("n_cell")).cast("long").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(col("term")).cast("double").as("entropy"))
      .withColumn("norm_entropy",
        when(col("vocab") > 1,
          round(col("entropy") /
            log(col("vocab").cast("double")).cast("decimal(18,6)").cast("double"),
            6))
          .otherwise(lit(0.0)))
  }

  /** Execute mix quotas: deterministically downsample each cell to its
    * quota row count. Rows rank within their cell by md5 of the id — a
    * content-independent, seed-free, engine-portable shuffle order (the
    * same sample comes out of any engine, any partitioning, any run) —
    * and rank > quota rows drop. Cells smaller than their quota keep
    * everything.
    *
    * Scale shape: the quota table is cell-count sized (tiny — it came
    * out of an aggregate) and broadcasts; the rank is a window
    * partitioned BY CELL, so per-partition state is one cell's rows,
    * never a global sort. Pairs with [[mixAllocation]], which produces
    * the quota table from the same dims. */
  def sampleToQuota(
      docs: DataFrame,
      id: Column,
      dims: Seq[Column],
      quotas: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the quota table's non-metric columns are the cell dims
    val metrics = Set("quota", "n", "weight", "share")
    val dimNames = quotas.columns.filterNot(metrics)
    val w = Window.partitionBy(dims: _*)
      .orderBy(md5(id.cast("string")), id)
    docs
      .join(broadcast(quotas.select((dimNames.toIndexedSeq.map(col) :+ col("quota")): _*)),
        dimNames.toIndexedSeq)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= col("quota"))
      .drop("_rn", "quota")
  }

  /** Deterministic train/validation split: a row's assignment is the
    * first hex nibble of md5(id) — seed-free, independent of
    * partitioning and row order, identical in any engine with md5, and
    * stable as the corpus grows (a document never migrates between
    * splits when new data arrives — the property a random split lacks).
    * `trainSixteenths`/16 of the id space goes to "train", the rest to
    * "val". Pure map-side. */
  /** TEMPORAL train/test split at a day-granularity quantile cut — the
    * third of the three standard split disciplines next to [[hashSplit]]
    * (unit-random) and [[leakageFreeSplit]] (group-closed): time-ordered
    * evaluation ("train on the past, test on the future") is the only
    * split that detects temporal leakage and distribution drift, and
    * real pipelines cut at a calendar boundary, not mid-day.
    *
    * The cutoff day is the EXACT `trainFrac` quantile of the row-count
    * mass over days: the smallest day whose cumulative row count
    * reaches ⌈trainFrac·n⌉ — computed over the bounded per-day count
    * table (calendar-bounded, the [[graft.operators.Events.lagAutocorr]]
    * discipline), never by sorting rows. Rows ON the cutoff day are
    * train (the day that completes the train mass belongs to it).
    *
    * 100 TB shape: one map-collapsing (day) aggregate, one window over
    * ≤|days| rows, a 1-row broadcast back onto the corpus — the corpus
    * itself is scanned once and never shuffled.
    *
    * Null timestamps cannot be ordered in time: they get the loud third
    * split "undated" (dropping them would silently shrink the corpus;
    * defaulting them to train would leak whenever undated rows are
    * recent). Output: input columns + `split`. */
  def temporalSplit(
      df: DataFrame,
      ts: Column,
      trainFrac: Double = 0.8): DataFrame = {
    require(trainFrac > 0 && trainFrac < 1,
      s"trainFrac must be in (0,1), got $trainFrac")
    val di = Events.dayIndex(ts)
    val full = Window.orderBy("di")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = Window.orderBy("di")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cutoff = df.filter(ts.isNotNull)
      .select(di.as("di")).groupBy("di").agg(count(lit(1)).as("c"))
      .select(col("di"), sum("c").over(cum).as("cum"),
        sum("c").over(full).as("n"))
      .agg(min(when(col("cum").cast("double") >=
        ceil(lit(trainFrac) * col("n").cast("double")), col("di")))
        .as("cutoff_di"))
    df.crossJoin(broadcast(cutoff))
      .withColumn("split",
        when(ts.isNull, "undated")
          .when(di <= col("cutoff_di"), "train")
          .otherwise("test"))
      .drop("cutoff_di")
  }

  /** Greedy maximum-coverage subset selection — the coverage-driven
    * data-selection pass (the max-coverage relaxation of facility
    * location; greedy is the classic (1−1/e)-approximation): pick
    * `select` documents that together cover the most DISTINCT tokens.
    * Where [[Similarity.mmrDiversify]] diversifies by embedding
    * geometry, this diversifies by exact vocabulary coverage — the
    * cheap lexical variant of coreset selection for pretraining mixes.
    *
    * Greedy selection is inherently sequential, so the 100 TB contract
    * is [[Similarity.mmrDiversify]]'s: candidate generation (quality
    * top-N, a stratified sample) is the corpus-scale stage; selection
    * runs on its BOUNDED pool. Hybrid execution, same split: pools at
    * or under `driverPoolLimit` DISTINCT (doc, token) pairs run the
    * greedy loop driver-side on one bounded collect; larger pools keep
    * the distributed path — per round one count-per-doc aggregate, a
    * 1-row argmax collect, and a broadcast anti-join that REMOVES the
    * pick's tokens everywhere (so "gain" is always just the doc's
    * remaining-token count, and fully-covered docs leave the pool by
    * construction), lineage truncated every 4 picks.
    *
    * Tokenization is [[TfIdf.buildVocab]]'s (lowercase, [^a-z]+).
    * Ties break to the lower id; selection STOPS EARLY when no
    * remaining candidate adds coverage (gain 0 picks would be
    * arbitrary noise). Both paths are exact-integer — no float
    * discipline anywhere.
    *
    * Output: (rank, id, gain, covered_total), rank 1 = largest gain;
    * covered_total = running distinct-token total. */
  def greedyCoverageSelect(
      pool: DataFrame, id: Column, text: Column, select: Int,
      driverPoolLimit: Long = 65536L): DataFrame = {
    require(select > 0, s"select must be positive, got $select")
    val spark = pool.sparkSession
    import spark.implicits._
    val grams = pool
      .select(id.cast("long").as("id"),
        explode(split(lower(text), "[^a-z]+")).as("token"))
      .filter(length(col("token")) > 0)
      .distinct()
      .persist()
    try {
      val n = grams.count() // sizes the pool AND materializes the persist
      val picks =
        if (n <= driverPoolLimit) coverageGreedyLocal(grams, select)
        else coverageGreedyDistributed(grams, select)
      picks.toDF("rank", "id", "gain", "covered_total").orderBy("rank")
    } finally grams.unpersist()
  }

  /** Driver-side greedy max-coverage over a collected bounded pool. */
  private def coverageGreedyLocal(
      grams: DataFrame, select: Int): Seq[(Long, Long, Long, Long)] = {
    // bounded: caller counted the pool at ≤ driverPoolLimit pairs
    val byDoc = grams.collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (d, ts) => d -> ts.map(_._2) }
    val covered = scala.collection.mutable.HashSet.empty[String]
    val taken = scala.collection.mutable.HashSet.empty[Long]
    val picks = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long)]
    var total = 0L
    var r = 1
    var done = false
    while (r <= select && !done) {
      var bestId = -1L
      var bestGain = 0L
      byDoc.foreach { case (d, ts) =>
        if (!taken(d)) {
          val g = ts.count(!covered(_)).toLong
          if (g > bestGain || (g == bestGain && g > 0 && d < bestId)) {
            bestId = d; bestGain = g
          }
        }
      }
      if (bestGain == 0) done = true // nothing left adds coverage
      else {
        taken += bestId
        byDoc(bestId).foreach(covered += _)
        total += bestGain
        picks += ((r.toLong, bestId, bestGain, total))
        r += 1
      }
    }
    picks.toSeq
  }

  /** Distributed greedy max-coverage for oversized pools. */
  private def coverageGreedyDistributed(
      grams: DataFrame, select: Int): Seq[(Long, Long, Long, Long)] = {
    val picks = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long)]
    var remaining = grams
    var total = 0L
    var done = false
    for (r <- 1 to select if !done) {
      val top = remaining.groupBy("id")
        .agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("id"))
        .limit(1)
        .collect() // bounded: one row
      if (top.isEmpty) done = true // pool exhausted: coverage saturated
      else {
        val pid = top.head.getLong(0)
        val gain = top.head.getLong(1)
        total += gain
        picks += ((r.toLong, pid, gain, total))
        val pickToks = remaining.filter(col("id") === pid).select("token")
        remaining = remaining
          .filter(col("id") =!= pid)
          .join(broadcast(pickToks), Seq("token"), "left_anti")
        if (r % 4 == 0) remaining = Checkpointing.cut(remaining)
      }
    }
    picks.toSeq
  }

  /** Tokenizer VOCABULARY COVERAGE (out-of-vocabulary rate) per
    * document — the tokenizer-QA readout run after [[TfIdf.buildVocab]]:
    * a doc whose tokens are mostly OOV will shatter into byte
    * fallbacks at training time; per-source OOV aggregates decide
    * whether the vocabulary needs retraining before the corpus ships.
    *
    * 100 TB shape: the vocabulary is top-`maxSize` by construction —
    * BROADCAST; the corpus token stream probes it map-side and
    * collapses to (doc, 2 counters) partials; one doc-keyed aggregate.
    * The id spine keeps empty/null-text docs visible (n_tokens 0,
    * NULL rate — unknown, not perfect).
    *
    * Output: (doc_id, n_tokens, n_oov, oov_rate 6dp). */
  def tokenizerCoverage(
      docs: DataFrame,
      id: Column,
      text: Column,
      minCount: Long = 2L,
      maxSize: Int = 30000): DataFrame = {
    val vocab = TfIdf.buildVocab(docs, text, minCount, maxSize)
      .select(col("token"), lit(1L).as("in_vocab"))
    // the probe stream MUST use buildVocab's own tokenization
    // (lowercase a-z runs) — mixing tokenizers would count case/
    // punctuation variants as OOV and corrupt the rate
    val perDoc = docs
      .select(id.as("doc_id"),
        explode(split(lower(text), "[^a-z]+")).as("token"))
      .filter(length(col("token")) > 0)
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
    docs.select(id.as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        when(col("n_tokens") > 0,
          round(col("n_oov").cast("double") /
            col("n_tokens").cast("double"), 6)).as("oov_rate"))
  }

  /** URL canonicalization + exact-duplicate grouping — the first dedup
    * pass every web-crawl pipeline runs BEFORE any content fingerprint
    * (the same page arrives as http/HTTPS, with/without :443, with
    * tracking params, fragments, and trailing slashes; canonical-URL
    * collapse is orders of magnitude cheaper than content minhash and
    * removes the bulk of crawl duplication). Normalization applied:
    * scheme+host lowercased (paths stay case-sensitive per RFC 3986),
    * default :80/:443 stripped, #fragment dropped, utm_* tracking
    * params dropped (separators repaired), trailing path slashes
    * stripped.
    *
    * Engine-portable by construction: plain regex chains with NO
    * backreferences (Spark's $1 vs RE2's \\1 substitution syntax is
    * the one place the engines' regex dialects diverge).
    *
    * 100 TB shape: canonicalization is a pure map; the group table
    * shuffles (canonical_url, 1) pairs with map-side collapse — the
    * [[graft.operators.Dedup.exact]] shape keyed by canonical URL.
    *
    * Output: (canonical_url, n_docs, min_doc_id), one row per
    * canonical group. */
  def urlDedupGroups(docs: DataFrame, id: Column, url: Column): DataFrame = {
    val head = lower(regexp_extract(url, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1))
    val tail = regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$", 1)
    // Default-port strip is SCHEME-AWARE (ADVICE r12): only :80 is the
    // default for http and only :443 for https — 'http://host:443' is a
    // real non-default-port resource and must NOT collapse into
    // 'http://host'. Branch on the (lowercased) scheme, no backreference.
    val h2 = when(head.startsWith("http://"), regexp_replace(head, ":80$", ""))
      .when(head.startsWith("https://"), regexp_replace(head, ":443$", ""))
      .otherwise(head)
    val t2 = regexp_replace(tail, "#.*$", "")          // fragment
    // utm_ strips anchor to a PARAMETER BOUNDARY (ADVICE r12: the
    // unanchored 'utm_[^&#]*&' matched 'utm_' inside other parameter
    // names — '?xutm_a=1&b=2' lost its real param). Three passes, all
    // backreference- and lookahead-free (RE2-portable): after pass one
    // removes every '&'-led utm param, any survivor is the FIRST param.
    val t3 = regexp_replace(t2, "&utm_[^&#]*", "")      // non-first utm params
    val t4a = regexp_replace(t3, "\\?utm_[^&#]*&", "?") // first is utm, more follow
    val t4 = regexp_replace(t4a, "\\?utm_[^&#]*$", "")  // the only param is utm
    val t5 = regexp_replace(t4, "/+\\?", "?")          // slash(es) before the query
    val t6 = regexp_replace(t5, "/+$", "")             // trailing slash(es)
    docs
      .select(id.as("doc_id"), concat(h2, t6).as("canonical_url"))
      .groupBy("canonical_url")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc_id"))
      .orderBy("canonical_url")
  }

  def hashSplit(
      docs: DataFrame,
      id: Column,
      trainSixteenths: Int = 14): DataFrame = {
    require(trainSixteenths >= 1 && trainSixteenths <= 15,
      s"trainSixteenths must be in [1, 15], got $trainSixteenths")
    val trainDigits = "0123456789abcdef".take(trainSixteenths).map(_.toString)
    docs.withColumn("split",
      when(substring(md5(id.cast("string")), 1, 1).isin(trainDigits: _*),
        "train").otherwise("val"))
  }

  /** Leakage-free train/val split: the split decision hashes the
    * near-dup CLUSTER representative, not the document id — so two
    * near-duplicates can NEVER straddle train and validation (the
    * eval-contamination bug a plain [[hashSplit]] has by construction:
    * with 14/16 train odds, each near-dup pair leaks across the split
    * with p = 2·(14/16)·(2/16) ≈ 22%).
    *
    * Composition, not new machinery: [[Dedup.clusters]] (pointer-
    * jumping connected components over any near-dup pair table —
    * minhash/simhash/embedding output in production) labels every doc
    * with its min-id representative; the [[hashSplit]] md5-first-digit
    * rule is then applied to the CLUSTER id, and every member inherits
    * it. Singleton docs hash their own id — identical to hashSplit.
    *
    * 100 TB shape: clusters() is O(log n) bounded-lineage rounds over
    * (id, label) pairs; the split itself is one map-side expression.
    * Output: (id, cluster_id, split). */
  def leakageFreeSplit(
      docs: DataFrame,
      id: Column,
      pairs: DataFrame,
      idA: Column,
      idB: Column,
      trainSixteenths: Int = 14): DataFrame = {
    require(trainSixteenths >= 1 && trainSixteenths <= 15,
      s"trainSixteenths must be in [1, 15], got $trainSixteenths")
    val trainDigits = "0123456789abcdef".take(trainSixteenths).map(_.toString)
    Dedup.clusters(docs.select(id.as("id")), pairs, col("id"), idA, idB)
      .withColumn("split",
        when(substring(md5(col("cluster_id").cast("string")), 1, 1)
          .isin(trainDigits: _*), "train").otherwise("val"))
      .select(col("id"), col("cluster_id"), col("split"))
  }

  /** Token scrub: drop stopwords and sub-`minLen` tokens from every
    * document and reassemble it — the normalization pass that runs
    * between raw text and the tokenizer. Entirely map-side (split →
    * filter → array_join inside one projection, no UDF, no shuffle):
    * at 100 TB this is pure scan throughput, and the filter/projection
    * pushes into whole-stage codegen.
    *
    * Output: (doc_id, scrubbed, n_kept, n_dropped). */
  /** DSIR-style hashed importance weights (Xie et al. '23, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every corpus document by how much its hashed-unigram distribution
    * looks like a TARGET domain rather than the raw corpus —
    *
    *   w(doc) = Σ_tokens ln( p̂_target(bucket(tok)) / p̂_corpus(bucket(tok)) )
    *
    * with add-α smoothed bucket probabilities over `buckets` hashed
    * token buckets. Documents with positive weight are
    * target-domain-like; importance resampling keeps documents with
    * probability ∝ exp(w). Hashing makes the feature space FIXED-SIZE
    * (the scale trick of the paper): no vocabulary is ever collected.
    *
    * 100 TB shape: two map-side bucket aggregations (each partition
    * collapses to ≤ `buckets` rows — same shape as [[Drift.psi]]), the
    * per-bucket weight table (≤ `buckets` rows) BROADCAST against the
    * corpus token stream, one groupBy(doc) aggregation. The target is
    * typically a small curated corpus (Wikipedia slice) — but nothing
    * here requires it: both sides reduce to bucket histograms.
    *
    * Determinism: the token bucket is the engine-portable rolling-hash
    * polynomial (Σ c·31^j mod 1e9+7, the `ext_substring_dedup` oracle
    * arithmetic) mod `buckets`; counts are exact; each bucket's ln
    * ratio is quantized round(·, 9) and the per-doc sum accumulates in
    * DECIMAL(28,12) — partition-order-free, SQL-replayable bit-for-bit.
    * Docs whose text yields zero tokens produce no row (no evidence,
    * no score). Output: (doc_id, n_tokens, dsir_logweight). */
  def dsirWeights(
      corpus: DataFrame,
      target: DataFrame,
      id: Column,
      text: Column,
      buckets: Int = 1024,
      alpha: Double = 1.0): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    require(alpha > 0.0, s"alpha must be positive, got $alpha")
    def tokenBuckets(df: DataFrame, cols: Seq[Column]): DataFrame = df
      .select(cols :+ explode(split(text, " ")).as("tok"): _*)
      .filter(length(col("tok")) > 0)
      .withColumn("bucket",
        pmod(GraftFunctions.rolling_hash(col("tok")), lit(buckets.toLong)))
      .drop("tok")
    val corpusToks = tokenBuckets(corpus, Seq(id.as("doc_id")))
    val corpusCnt = corpusToks.groupBy("bucket").agg(count(lit(1)).as("n_c"))
    val targetCnt = tokenBuckets(target, Seq.empty)
      .groupBy("bucket").agg(count(lit(1)).as("n_t"))
    val tc = corpusCnt.agg(sum("n_c").as("tot_c"))
    val tt = targetCnt.agg(sum("n_t").as("tot_t"))
    val pT = (col("n_t").cast("double") + lit(alpha)) /
      (col("tot_t").cast("double") + lit(alpha * buckets))
    val pC = (col("n_c").cast("double") + lit(alpha)) /
      (col("tot_c").cast("double") + lit(alpha * buckets))
    // every scored bucket occurs in the corpus, so a left join from the
    // corpus counts covers all lookups; target-absent buckets smooth
    val weights = corpusCnt.join(targetCnt, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_t"))
      .crossJoin(broadcast(tc)).crossJoin(broadcast(tt))
      .select(col("bucket"),
        round(log(pT / pC), 9).cast("decimal(28,12)").as("w"))
    corpusToks
      .join(broadcast(weights), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum("w").cast("double").as("dsir_logweight"))
  }

  def tokenScrub(
      docs: DataFrame,
      id: Column,
      text: Column,
      stopwords: Seq[String],
      minLen: Int = 3): DataFrame = {
    // NOTE each output column re-evaluates the split — a per-ROW ×3
    // constant (fine), not the per-ELEMENT CollapseProject trap that
    // TextFunctions.bound guards against inside lambdas.
    val toks = split(lower(text), "[^a-z]+")
    val kept = filter(toks, t => length(t) >= minLen && !t.isin(stopwords: _*))
    docs.select(
      id.as("doc_id"),
      array_join(kept, " ").as("scrubbed"),
      size(kept).cast("long").as("n_kept"),
      (size(filter(toks, t => length(t) > 0)) - size(kept)).cast("long")
        .as("n_dropped"))
  }

  /** Collapse CONSECUTIVE duplicate tokens ("click here click here" →
    * one scrubbed doc keeps "click here ...", "the the the" → "the") —
    * the run-repetition normalizer next to [[repetitionMetrics]]'
    * detectors: metrics FLAG repetition-heavy docs, this repairs the
    * benign run-of-token subclass instead of dropping the doc.
    *
    * Purely map-side (one split + one indexed-lambda filter per row —
    * zero shuffles, zero joins); the engine-portable formulation is the
    * point: keep tokens[i] iff i is first or tokens[i] ≠ tokens[i−1],
    * which both Spark's `filter(col, (x, i) => …)` (0-based) and
    * DuckDB's `list_filter(l, (x, i) -> …)` (1-based) express exactly —
    * no regex backreference (RE2 engines lack them), no window.
    *
    * Output: (doc_id, scrubbed, n_tokens, n_removed); null text passes
    * through as null scrubbed with 0 counts. */
  def collapseTokenRuns(
      docs: DataFrame,
      id: Column,
      text: Column): DataFrame = {
    // BOTH arrays are let-bound (TextFunctions.bound): the keep-lambda
    // reads `toks` per ELEMENT via get(), and without the binding
    // CollapseProject inlines the split into every probe — measured
    // 5.1 s vs 0.6 s at sf0.1 for this one operator (the same quadratic
    // trap the shingle pipeline hit; bound's scaladoc).
    val packed = TextFunctions.bound(split(text, " ")) { toks =>
      // keep first occurrence of each run: prev = get(toks, i-1)
      // (0-based `get` returns null at -1 — the null-safe <=> keeps
      // index 0 without relying on || short-circuiting past an
      // out-of-bounds access)
      TextFunctions.bound(
        filter(toks, (t, i) => !(t <=> get(toks, i - 1)))) { kept =>
        struct(
          array_join(kept, " ").as("scrubbed"),
          size(toks).cast("long").as("n_tokens"),
          (size(toks) - size(kept)).cast("long").as("n_removed"))
      }
    }
    docs.select(id.as("doc_id"), packed.as("p"))
      .select(col("doc_id"),
        col("p.scrubbed").as("scrubbed"),
        // null text: the whole struct is null, pin counts to 0
        coalesce(col("p.n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("p.n_removed"), lit(0L)).as("n_removed"))
  }

  /** Boolean AND search over an on-the-fly inverted index: build distinct
    * (term, doc_id) postings, keep only the query's terms, and a document
    * matches when it holds ALL of them. Returns (doc_id, n_terms,
    * total_tf) — total_tf = summed per-term occurrence count, the raw
    * material a ranking stage (e.g. [[bm25]]) would consume.
    *
    * 100 TB shape: the term filter applies BEFORE the explode output ever
    * shuffles — only (query-term, doc_id) survivor rows reach the
    * aggregate (the decontamination lesson from SCALE.md: discard the
    * non-matching majority map-side). The explode itself is map-side; no
    * document bodies move. A persisted postings table would replace the
    * explode with a pushed-down `term IN (…)` parquet scan — same plan
    * from the join up. */
  def booleanSearch(
      docs: DataFrame,
      id: Column,
      text: Column,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "booleanSearch needs at least one term")
    val postings = docs
      .select(id.as("doc_id"),
        explode(split(lower(text), "[^a-z]+")).as("term"))
      .filter(col("term").isin(terms: _*)) // map-side: non-query terms never shuffle
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    postings
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("total_tf"))
      .filter(col("n_terms") === terms.size)
      .orderBy("doc_id")
  }

  /** Deterministic global shuffle into training shards — the step
    * between a curated corpus and the training job: every example gets
    * a shard and a dense position within it, in an order uncorrelated
    * with ingest order, crawl source, or storage layout (md5 of the
    * id — seed-free and engine-portable, the same shuffle order
    * `sampleToQuota`/`hashSplit` rank by; replaying the run reproduces
    * the exact same shards).
    *
    * shard = the first `hexDigits` hex chars of md5(id) → 16^hexDigits
    * shards; pos = row_number within the shard ordered by (md5, id).
    *
    * Scale shape: the only shuffle carries (id, 32-char rank) — bodies
    * NEVER ride the shuffle; the training writer joins payload back by
    * id per shard, so each reducer rehydrates only its own shard. The
    * per-shard sort is the honest cost of dense positions, and
    * `hexDigits` is the dial that sizes it: shards must fit one task
    * (hexDigits=3 → 4096 shards ≈ 25 GB each at 100 TB; raise it
    * before raising executor memory). uniform-by-construction: md5
    * spreads ids evenly, so no shard is hot. */
  def shuffleShards(
      docs: DataFrame,
      id: Column,
      hexDigits: Int = 2): DataFrame = {
    require(hexDigits >= 1 && hexDigits <= 8,
      s"hexDigits must be in [1, 8], got $hexDigits")
    val w = Window.partitionBy(col("shard")).orderBy(col("rk"), col("doc_id"))
    docs
      .select(id.as("doc_id"), md5(id.cast("string")).as("rk"))
      .withColumn("shard", substring(col("rk"), 1, hexDigits))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select("doc_id", "shard", "pos")
  }

  /** BPE merge-pair counting — the inner statistic of byte-pair-encoding
    * tokenizer training: across the corpus, how often does each pair of
    * ADJACENT SYMBOLS co-occur inside a word? The highest-count pair is
    * the next BPE merge; re-running after applying a merge (symbols
    * become multi-char strings) iterates the training loop. This
    * operator is one iteration's count table over the initial
    * single-character alphabet, top-`topK` pairs with deterministic
    * (count desc, pair) order — completing the tokenizer-training
    * surface next to [[TfIdf.buildVocab]] / [[TfIdf.encode]].
    *
    * Space-separated words are the pre-tokenization boundary (pairs
    * never span words — the standard BPE word-boundary rule), so this
    * is [[bigramLift]]'s machinery one level down: character pairs
    * within words instead of word pairs within documents.
    *
    * 100 TB shape: pair extraction is a map-side nested transform
    * (word split, then per-word adjacent char pairs) feeding ONE
    * partially-aggregated groupBy — the symbol-pair key space is tiny
    * (alphabet², Zipf-concentrated), so map-side combine crushes the
    * shuffle to ~|alphabet|² rows per task; the top-k is a
    * TakeOrderedAndProject. One corpus scan, one small shuffle.
    *
    * Stream-safe AS-IS: one declarative monoid aggregate (plus a
    * complete-mode-legal sort/limit), so the same code runs on a
    * readStream DataFrame in complete output mode, folding counts
    * incrementally across micro-batches (EventStreamsSpec twin). */
  def bpePairCounts(
      docs: DataFrame,
      text: Column,
      topK: Int = 50): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    docs
      .select(explode(TextFunctions.tokens(text)).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), " +
          "i -> struct(substring(w, i, 1) AS sym_a, substring(w, i + 1, 1) AS sym_b))"))
        .as("p"))
      .groupBy(col("p.sym_a").as("sym_a"), col("p.sym_b").as("sym_b"))
      .agg(count(lit(1)).as("n_pair"))
      .orderBy(col("n_pair").desc, col("sym_a"), col("sym_b"))
      .limit(topK)
  }

  /** Full BPE tokenizer training: iteratively pick the most frequent
    * adjacent symbol pair and fuse it, `numMerges` times — the loop
    * around the single-step statistic of [[bpePairCounts]]. Returns the
    * learned merge table (merge_rank, sym_a, sym_b, n_pair), rank 1
    * first — exactly what a tokenizer ships as `merges.txt`.
    *
    * The 100 TB trick is WHAT the loop iterates over: pair counts only
    * depend on word FREQUENCIES, so pass 0 folds the corpus into a
    * (word, freq) table — the ONLY corpus scan, however many merges —
    * and every iteration runs on that vocabulary-bounded table
    * (cut each round: the loop is inherently sequential,
    * and without the cut iteration k would replay all k−1 prior merge
    * maps — the pointer-jumping discipline from Dedup.clusters).
    * HuggingFace's trainer makes the same word-count reduction; at web
    * scale the vocab table is millions of rows against a corpus of
    * trillions of tokens.
    *
    * Per iteration: one vocab-table aggregate into a distributed top-1
    * (TakeOrderedAndProject — a bounded single-row driver pull, the
    * documented index-build-budget class) + one map-side greedy
    * left-to-right fold applying the merge (CaseWhen short-circuits,
    * so element_at never touches an empty accumulator under ANSI).
    * Ties break (n_pair desc, sym_a, sym_b) — bit-deterministic.
    *
    * Stops early when no pair reaches `minPairCount`; the returned
    * model is driver-resident by design (≤ numMerges rows). */
  def bpeTrain(
      docs: DataFrame,
      text: Column,
      numMerges: Int = 10,
      minPairCount: Long = 2L): DataFrame = {
    require(numMerges >= 1 && numMerges <= 64,
      s"numMerges must be in [1, 64], got $numMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    val wordFreq = docs
      .select(explode(TextFunctions.tokens(text)).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("freq"))
    // "(?!$)" splits into single chars WITHOUT the trailing "" that an
    // empty-pattern split(limit = -1) keeps
    var work = Checkpointing.cut(wordFreq
      .select(col("freq"), split(col("w"), "(?!$)").as("syms")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val top = work
        .select(col("freq"), explode(
          zip_with(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (a, b) => struct(a.as("sym_a"), b.as("sym_b")))).as("p"))
        .groupBy(col("p.sym_a").as("sym_a"), col("p.sym_b").as("sym_b"))
        .agg(sum(col("freq")).as("n_pair"))
        .orderBy(col("n_pair").desc, col("sym_a"), col("sym_b"))
        .limit(1).collect()
      if (top.isEmpty || top.head.getAs[Long]("n_pair") < minPairCount) {
        exhausted = true
      } else {
        val a = top.head.getAs[String]("sym_a")
        val b = top.head.getAs[String]("sym_b")
        merges += ((rank.toLong, a, b, top.head.getAs[Long]("n_pair")))
        work = Checkpointing.cut(work
          .select(col("freq"), mergeFold(col("syms"), a, b).as("syms")))
        rank += 1
      }
    }
    merges.toSeq.toDF("merge_rank", "sym_a", "sym_b", "n_pair")
  }

  /** One greedy left-to-right BPE merge pass over a symbol array: fuse
    * every non-overlapping adjacent (a, b) into a+b ("aaa" under (a,a)
    * → [aa, a], the canonical BPE behavior). Pure codegen'd fold. */
  private def mergeFold(syms: Column, a: String, b: String): Column =
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, s) =>
        when(size(acc) === 0, array(s))
          .when(element_at(acc, -1) === lit(a) && (s === lit(b)),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(s))))

  /** Segment words with a trained merge list ([[bpeTrain]] rows as
    * (sym_a, sym_b) in rank order): the nested merge folds compose into
    * ONE map-side expression chain — applying a k-merge tokenizer to
    * the corpus is a single scan with zero shuffles, the shape that
    * matters when the segmenter runs over 100 TB. (Codegen nests k
    * lambda levels; k ≤ 64 by bpeTrain's bound.)
    *
    * Returns the segmentation as a Column (array<string> of subword
    * units) — select it alongside any id columns. */
  def bpeApply(
      word: Column,
      mergeList: Seq[(String, String)]): Column =
    mergeList.foldLeft(split(word, "(?!$)")) {
      case (acc, (a, b)) => mergeFold(acc, a, b)
    }

  /** Cross-source overlap matrix: for every pair of sources, how many
    * distinct word n-grams they SHARE — the curation diagnostic behind
    * "crawl B substantially overlaps crawl A, dedup before mixing".
    * N-gram (not whole-document) granularity: corpora rarely share
    * byte-identical documents, but boilerplate, quotes, and templated
    * text show up immediately at the shingle level (same unit
    * [[contamination]] screens on). Pairs emit with source_a < source_b
    * (lexicographic); counts are distinct shared grams, not row pairs.
    *
    * Scale shape: ONE corpus scan, and NOT a gram self-join (which
    * would re-derive the gram scan per side — the PlanProbe lesson,
    * SCALE.md —
    * and shuffle a candidate row PAIR per gram-match): one gram-keyed
    * aggregate builds each gram's sorted distinct source set
    * (collect_set partial-aggregates map-side; the set is bounded by
    * the source dimension, small by construction), grams on a single
    * source die in the filter, and the pair expansion is a map-side
    * nested transform bounded by C(n_sources, 2) per gram. Only grams
    * and source names ever shuffle — never documents. */
  def sourceOverlapMatrix(
      docs: DataFrame, text: Column, source: Column, n: Int = 5): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    docs
      .select(source.as("src"),
        explode(graft.functions.expressions.GraftFunctions.word_ngrams(text, n))
          .as("gram"))
      .groupBy("gram")
      .agg(sort_array(collect_set(col("src"))).as("srcs"))
      .filter(size(col("srcs")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(srcs) - 1), i ->
          |  transform(sequence(0, i - 1), j ->
          |    struct(srcs[j] AS source_a, srcs[i] AS source_b))))""".stripMargin))
        .as("p"))
      .groupBy(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("source_a", "source_b")
  }

  /** Boilerplate-shingle screen: per source, the word n-grams that
    * recur across an outsized FRACTION of that source's documents —
    * navigation chrome, license footers, cookie banners, templated
    * intros. The CCNet/RefinedWeb-family cleanup step that is
    * WITHIN-source by design: [[sourceOverlapMatrix]] asks "which
    * corpora share text", this asks "which text is a template of its
    * own corpus" — the grams a curation pass strips from every doc of
    * that source before dedup (template mass otherwise glues unrelated
    * docs into near-dup clusters).
    *
    * df = DISTINCT docs of the source containing the gram (multiple
    * occurrences inside one doc count once — templates repeat across
    * docs, spam repeats within one; [[repetitionMetrics]] owns the
    * latter). Thresholds: df ≥ `minDf` AND df/n_docs ≥ `minRatio` —
    * the ratio keeps the screen calibrated as the corpus grows (a
    * fixed absolute df would flag random collisions at 100 TB).
    *
    * 100 TB shape: one corpus scan → per-doc DISTINCT grams (map-side
    * explode + distinct collapses inside the aggregate), one
    * (source, gram)-keyed count, broadcast-joined per-source doc
    * totals (|sources| rows). Output is bounded by the thresholds —
    * grams above 5% of a billion-doc source are a handful by
    * construction. Exact integer counts; one IEEE divide, 6dp.
    *
    * Output: (source, gram, df, n_docs, df_ratio 6dp), ordered by
    * (source, df desc, gram). */
  def boilerplateShingles(
      docs: DataFrame, text: Column, source: Column,
      n: Int = 3, minDf: Long = 2L, minRatio: Double = 0.05): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    require(minDf >= 2, s"minDf < 2 would flag every gram, got $minDf")
    val perSource = docs
      .select(source.as("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
    val df = docs
      .select(source.as("source"),
        graft.functions.expressions.GraftFunctions.word_ngrams(text, n)
          .as("grams"))
      // array_distinct BEFORE the explode: one row per (doc, gram), so
      // the count below is a document frequency, never an occurrence
      // count
      .select(col("source"), explode(array_distinct(col("grams"))).as("gram"))
      .groupBy("source", "gram")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    df.join(broadcast(perSource), Seq("source"))
      .withColumn("df_ratio",
        round(col("df").cast("double") / col("n_docs").cast("double"), 6))
      .filter(col("df").cast("double") / col("n_docs").cast("double")
        >= minRatio)
      .select("source", "gram", "df", "n_docs", "df_ratio")
      .orderBy(col("source"), col("df").desc, col("gram"))
  }

  /** Weighted systematic (grid) sampling: pick ~`quota` documents with
    * probability proportional to an INTEGER weight (token count, byte
    * size, a scaled quality score), deterministically and seed-free —
    * the weighted companion to [[sampleToQuota]]'s per-cell uniform
    * keep. Lay every document's weight along a line in md5-shuffle
    * order; a document is selected iff its weight interval crosses one
    * of `quota` evenly spaced grid points. Selection count is exactly
    * `quota` when no single weight exceeds total/quota (a heavier doc
    * spans several grid points but is emitted once — the standard
    * systematic-sampling property), and every doc with weight >
    * total/quota is ALWAYS selected.
    *
    * All arithmetic is integer (`cum·quota div total` vs the same for
    * the previous cumulative) — exactly replayable in any engine, no
    * float thresholds. Caller contract: weights non-negative,
    * total·quota < 2^63 (ANSI mode makes an overflow a loud error, not
    * a wrong answer; at 100 TB-of-tokens scale pass byte-KILOWEIGHTS or
    * drop quota accordingly).
    *
    * 100 TB shape — the textbook two-level distributed prefix sum, no
    * global window anywhere: pass 1 aggregates per-shard weight totals
    * (map-side partial sums; 16^`hexDigits` result rows, pulled once —
    * the bounded index-build-budget class, and the ONLY way to avoid
    * the re-derived-subtree trap PlanProbe measured on bigramLift,
    * `git show d7412f5:src/main/scala/graft/tools/PlanProbe.scala`);
    * exclusive shard offsets and the grand total fold locally and join
    * back broadcast. Pass 2 runs the per-shard cumulative windows in
    * parallel and filters map-side. Only (id, weight, 32-char rank)
    * ever shuffles — never bodies. */
  def weightedSystematicSample(
      docs: DataFrame,
      id: Column,
      weight: Column,
      quota: Long,
      hexDigits: Int = 2): DataFrame = {
    require(quota > 0, s"quota must be positive, got $quota")
    require(hexDigits >= 1 && hexDigits <= 8,
      s"hexDigits must be in [1, 8], got $hexDigits")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(id.as("doc_id"), weight.cast("long").as("wt"),
      md5(id.cast("string")).as("rk"))
      .withColumn("shard", substring(col("rk"), 1, hexDigits))
    // pass 1: per-shard totals (≤ 16^hexDigits rows), folded to exclusive
    // offsets + grand total on the driver. Weight validation rides the
    // SAME aggregate (r8 ADVICE): a negative weight makes the cumulative
    // sum non-monotonic (silent duplicate/missed grid points, which ANSI
    // mode cannot catch), and a NULL weight would silently drop its doc.
    val shardStats = base.groupBy("shard")
      .agg(sum(col("wt")).as("ssum"), min(col("wt")).as("smin"),
        count(lit(1)).as("rows"), count(col("wt")).as("nonnull"))
      .collect()
    shardStats.foreach { r =>
      require(r.getLong(4) == r.getLong(3),
        s"weightedSystematicSample: ${r.getLong(3) - r.getLong(4)} NULL " +
          s"weight(s) in shard ${r.getString(0)} — weights must be non-null")
      require(r.getLong(2) >= 0L, // min weight; non-null by the line above
        s"weightedSystematicSample: negative weight ${r.getLong(2)} in " +
          s"shard ${r.getString(0)} — weights must be non-negative")
    }
    val shardSums = shardStats.map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val totalW = shardSums.iterator.map(_._2).sum
    if (totalW <= 0L) return base.filter(lit(false)).select("doc_id", "wt")
    // the caller contract total·quota < 2^63 checked here on the driver,
    // not left to session ANSI mode (r8 ADVICE)
    require(totalW <= Long.MaxValue / quota,
      s"weightedSystematicSample: total weight $totalW * quota $quota " +
        "overflows 63-bit grid arithmetic — pass coarser weights or a " +
        "smaller quota")
    var acc = 0L
    val off = shardSums.toSeq.map { case (s, w) =>
      val o = acc; acc += w; (s, o)
    }.toDF("shard", "offset")
    // pass 2: parallel per-shard cumsum + map-side grid-crossing filter
    val wLocal = Window.partitionBy(col("shard")).orderBy(col("rk"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("lcum", sum(col("wt")).over(wLocal))
      .join(broadcast(off), Seq("shard"))
      .withColumn("cum", col("offset") + col("lcum"))
      .filter(expr(
        s"(cum * ${quota}L) div ${totalW}L > ((cum - wt) * ${quota}L) div ${totalW}L"))
      .select(col("doc_id"), col("wt"))
      .orderBy("doc_id")
  }

  /** Fixed-size overlapping chunks of each document — the step between a
    * curated corpus and a context-window-bounded consumer (training
    * example windows, embedding inputs, retrieval passages). Chunk i
    * covers characters `[i·stride + 1, i·stride + size]` (1-based,
    * inclusive); `stride < size` yields `size − stride` characters of
    * overlap so no boundary-spanning content is lost to a cut. The last
    * chunk may run short; empty documents still yield one empty chunk
    * (a document never silently vanishes from the chunked corpus).
    *
    * Returns (doc_id, chunk_idx, chunk_start, chunk_len, chunk_md5,
    * chunk) — the md5 gives downstream exact-dedup over chunks without
    * re-reading bodies.
    *
    * 100 TB shape: zero shuffles — the sequence/explode/substr pipeline
    * is entirely map-side whole-stage codegen, chunks inherit the input
    * partitioning, and the fan-out per row is bounded by
    * ceil(len/stride). Chunk-level dedup afterwards is [[Dedup.exact]]
    * on `chunk_md5` (digests shuffle, never chunk bodies). */
  def chunkWithOverlap(
      docs: DataFrame,
      id: Column,
      text: Column,
      size: Int = 200,
      stride: Int = 150): DataFrame = {
    require(size > 0, s"chunk size must be positive, got $size")
    require(stride > 0 && stride <= size,
      s"stride must be in [1, size], got $stride (size $size)")
    docs
      .select(id.as("doc_id"), text.as("txt"))
      // last chunk index = (max(len,1) − 1) div stride, integer math
      .withColumn("last_idx",
        expr(s"CAST((greatest(length(txt), 1) - 1) DIV $stride AS BIGINT)"))
      .select(col("doc_id"), col("txt"),
        explode(sequence(lit(0L), col("last_idx"))).as("chunk_idx"))
      .withColumn("chunk_start", col("chunk_idx") * lit(stride.toLong) + lit(1L))
      .withColumn("chunk",
        col("txt").substr(col("chunk_start").cast("int"), lit(size)))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
        length(col("chunk")).cast("long").as("chunk_len"),
        md5(col("chunk")).as("chunk_md5"),
        col("chunk"))
  }

  /** Corpus-level bigram association: the top-k adjacent token pairs by
    * count, each scored with pointwise-mutual-information LIFT —
    * p(a,b) / (p(a)·p(b)) — the collocation statistic used to mine
    * multi-word expressions ("new york") and to sanity-check tokenizer
    * merges against a corpus. Lift is PMI without the log: the ranking
    * is identical (log is monotone) and the arithmetic stays inside
    * IEEE ×/÷ — exactly rounded, so bit-identical across engines, which
    * a transcendental log is not guaranteed to be (gotcha list:
    * cross-engine float parity).
    *
    * Returns (tok_a, tok_b, n_ab, n_a, n_b, lift): the top `topK` pairs
    * with n_ab ≥ `minCount`, ordered (n_ab desc, tok_a, tok_b) — a
    * total order, since pairs are unique after the groupBy.
    *
    * 100 TB shape — exactly three corpus scans, none of which
    * aggregates the full vocabulary:
    *  1. the bigram top-k: map-side partial aggregation into a
    *     TakeOrderedAndProject (per-partition heads, never a global
    *     sort), then a BOUNDED driver pull of the ≤`topK` winning rows.
    *     This is the same documented index-build-budget class as the
    *     centroid/cell pulls in Clustering/Similarity — without it the
    *     declarative plan re-derives the expensive bigram aggregate
    *     once per downstream reference (measured: 8 corpus scans, zero
    *     exchange reuse), which is the real scale-killer;
    *  2. unigram counts ONLY for the ≤2·topK tokens those pairs
    *     mention, via a literal `isin` pushed into the scan — the
    *     non-candidate token majority dies map-side (the booleanSearch
    *     discipline) and the full vocab is never aggregated, let alone
    *     moved;
    *  3. corpus totals (n_uni, n_bi) fold into ONE single-row
    *     aggregate of per-row token counts — no explode, no shuffle.
    * Totals ride a single-row broadcast cross join. */
  def bigramLift(
      docs: DataFrame,
      text: Column,
      minCount: Long = 3L,
      topK: Int = 50): DataFrame =
    pairLift(docs, text, window = 1, minCount = minCount, topK = topK)

  /** Skip-gram generalization of [[bigramLift]]: pairs are (tokenᵢ,
    * tokenᵢ₊d) for every skip distance d ∈ [1, window] — the
    * co-occurrence statistic word-embedding training consumes
    * (word2vec-style context windows, forward direction; a symmetric
    * window is this table plus its transpose). `window = 1` IS
    * [[bigramLift]]. The total-pair denominator counts every in-window
    * position pair (Σ_d max(len−d, 0)), so lift stays a calibrated
    * observed/expected ratio at any window.
    *
    * Same 3-scan shape and arithmetic discipline as [[bigramLift]]
    * (whose scaladoc carries the full scale story); the map-side
    * expansion grows ×window, the aggregate key space does not. */
  def skipgramLift(
      docs: DataFrame,
      text: Column,
      window: Int = 3,
      minCount: Long = 3L,
      topK: Int = 50): DataFrame =
    pairLift(docs, text, window = window, minCount = minCount, topK = topK)

  /** The monoid core of [[skipgramLift]]/[[bigramLift]]: (tok_a, tok_b,
    * n_ab) co-occurrence counts for skip distances d ∈ [1, window] —
    * map-side pair explosion feeding ONE partially-aggregated count.
    * Public and separate from the lift scoring because a pure
    * explode → groupBy-count is STREAM-SAFE as-is: on a readStream
    * DataFrame in complete output mode the same code incrementally
    * folds counts across micro-batches (the r9 streaming twin — see
    * EventStreamsSpec), whereas the lift stage's bounded driver pulls
    * are batch-only by construction.
    *
    * Skip distances are capped at size−1 so no inner sequence() ever
    * gets a negative span (sequence steps BACKWARDS on inverted
    * bounds — the word_ngrams gotcha); size ≥ 2 via the filter. */
  def skipgramPairCounts(
      docs: DataFrame,
      text: Column,
      window: Int,
      minCount: Long = 1L): DataFrame = {
    require(window >= 1, s"window must be positive, got $window")
    docs
      .select(TextFunctions.tokens(text).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "flatten(transform(sequence(1, least(" + window + ", size(toks) - 1)), " +
          "d -> transform(sequence(0, size(toks) - 1 - d), " +
          "i -> struct(toks[i] AS tok_a, toks[i + d] AS tok_b))))")).as("bg"))
      .select(col("bg.tok_a").as("tok_a"), col("bg.tok_b").as("tok_b"))
      .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
  }

  private def pairLift(
      docs: DataFrame,
      text: Column,
      window: Int,
      minCount: Long,
      topK: Int): DataFrame = {
    require(window >= 1, s"window must be positive, got $window")
    require(topK > 0, s"topK must be positive, got $topK")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(TextFunctions.tokens(text).as("toks"))
    // total pairs = Σ_d∈[1,window] max(len − d, 0), folded into the same
    // single-row aggregate as the unigram total
    val nPairsExpr = (1 to window)
      .map(d => s"greatest(size(toks) - $d, 0L)").mkString(" + ")
    val totals = toks.agg(
      sum(size(col("toks")).cast("long")).as("n_uni"),
      sum(expr(nPairsExpr).cast("long")).as("n_bi"))
    val topRows = skipgramPairCounts(docs, text, window, minCount)
      .orderBy(col("n_ab").desc, col("tok_a"), col("tok_b"))
      .limit(topK)
      .collect() // bounded: ≤ topK rows (index-build budget)
    val top = topRows.toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toDF("tok_a", "tok_b", "n_ab")
    val tokSet =
      (topRows.map(_.getString(0)) ++ topRows.map(_.getString(1))).distinct.toSeq
    // unigram counts for the candidate tokens, also pulled once (≤2·topK
    // rows) so the two n_a/n_b joins below reference a LOCAL relation —
    // a lazy cnt would re-scan the corpus once per join branch
    val cnt = toks
      .select(explode(col("toks")).as("tok"))
      .filter(col("tok").isin(tokSet: _*)) // literal filter: map-side cull
      .groupBy("tok").agg(count(lit(1)).as("n_tok"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1)))
      .toDF("tok", "n_tok")
    top
      .join(broadcast(cnt.select(col("tok").as("tok_a"), col("n_tok").as("n_a"))),
        Seq("tok_a"))
      .join(broadcast(cnt.select(col("tok").as("tok_b"), col("n_tok").as("n_b"))),
        Seq("tok_b"))
      .crossJoin(broadcast(totals))
      .select(col("tok_a"), col("tok_b"), col("n_ab"), col("n_a"), col("n_b"),
        round(
          (col("n_ab").cast("double") / col("n_bi")) *
            (col("n_uni").cast("double") / col("n_a")) *
            (col("n_uni").cast("double") / col("n_b")), 6).as("lift"))
      .orderBy(col("n_ab").desc, col("tok_a"), col("tok_b"))
  }

  /** Add-one-smoothed bigram language-model scoring — the KenLM-style
    * perplexity-proxy quality filter: train bigram statistics on the
    * corpus itself, then score every document by its mean token
    * log-likelihood. Low scores surface boilerplate-free but
    * malformed/outlier text; high scores surface template spam — both
    * tails are the classic curation cut.
    *
    *   P(b|a) = (c(a,b) + 1) / (c(a) + V)
    *   score(doc) = Σ_grams ln P / n_bigrams
    *
    * with c(a) = Σ_b c(a,b) (occurrences of `a` as a context) and
    * V = |distinct tokens appearing in any bigram| — the event space
    * the smoothing mass is spread over.
    *
    * 100 TB shape: the model IS two gram-keyed aggregations (map-side
    * combine collapses each partition to its distinct grams); context
    * totals and V derive from the MODEL table, never from a second
    * corpus pass; scoring joins the doc-gram table to the model on the
    * gram key — one big shuffle, model-side tables are
    * aggregate-sized. The per-doc rollup keys on doc_id. Nothing is
    * broadcast except the single-row V.
    *
    * Determinism: c+1 and c(a)+V are exact-integer-valued doubles, the
    * divide and ln are per-term, each ln output quantized round(·, 9)
    * and summed as DECIMAL(28,9) (|Σ| per doc is bounded by tokens ×
    * ln V — far inside the decimal→double exactness window); the mean
    * is one IEEE divide. Docs with < 2 tokens have no bigrams and are
    * absent from the output (their score is undefined — a spine of
    * nulls would average into downstream corpus stats).
    *
    * Output: (doc_id, n_bigrams, avg_logp), ordered by doc_id. */
  def lmScore(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val grams = docs.select(id.as("doc_id"),
      explode(GraftFunctions.word_ngrams(text, 2)).as("gram"))
    val model = grams.groupBy("gram").agg(count(lit(1)).as("c_ab"))
    val ctx = model
      .select(substring_index(col("gram"), " ", 1).as("ctx_tok"), col("c_ab"))
      .groupBy("ctx_tok").agg(sum("c_ab").as("c_a"))
    val vocab = model
      .select(explode(split(col("gram"), " ")).as("tok"))
      .agg(count_distinct(col("tok")).as("v"))
    val modelFull = model // (gram, c_ab, c_a): model-sized join, then 1 big one
      .withColumn("ctx_tok", substring_index(col("gram"), " ", 1))
      .join(ctx, Seq("ctx_tok"))
    grams
      .join(modelFull, Seq("gram"))
      .crossJoin(broadcast(vocab))
      .withColumn("term", round(
        log((col("c_ab") + 1).cast("double") /
          (col("c_a") + col("v")).cast("double")), 9))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("term").cast("decimal(28,9)")).as("sum_lp"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("sum_lp").cast("double") / col("n_bigrams").cast("double"))
          .as("avg_logp"))
      .orderBy("doc_id")
  }

  /** Hard quality-RULE screen (the Gopher/C4 rule-bundle pattern —
    * Rae et al. 2021 §A1.1, Raffel et al. 2020): five cheap structural
    * gates with PER-RULE attribution, next to the continuous scores of
    * [[graft.functions.TextFunctions.qualityScore]] — a curation run
    * needs "WHICH rule kills how much of WHICH source" (tune the
    * thresholds) rather than one opaque scalar.
    *
    *   r_len      word count ∈ [minWords, maxWords]
    *   r_wordlen  mean word length ∈ [2, 12]
    *   r_alpha    ≥ 70% of words contain a letter
    *   r_stop     ≥ 2 stopword tokens (the "is it prose" gate)
    *   r_symbol   ≤ 10% of characters outside [A-Za-z0-9 ]
    *
    * Every ratio rule is evaluated DIVIDE-FREE in exact integers
    * (charLen ≥ 2·nWords, 10·alphaWords ≥ 7·nWords, 10·symbols ≤
    * totalChars) — the flags are bit-deterministic on any engine with
    * no float discipline at all; the 6dp ratio READOUTS next to them
    * are the only IEEE ops. NULL text is screened as empty (all-false
    * flags, row kept — a curation report that silently drops broken
    * rows undercounts exactly the worst slice).
    *
    * 100 TB shape: one map pass (regex + list ops per row), no
    * shuffle, no window, no join. Column-prunes to (id, text).
    *
    * Output: (doc_id, n_words, mean_word_len, alpha_frac, symbol_frac,
    * stop_hits, r_len, r_wordlen, r_alpha, r_stop, r_symbol, keep). */
  def qualityRuleScreen(
      docs: DataFrame,
      id: Column,
      text: Column,
      minWords: Int = 5,
      maxWords: Int = 10000): DataFrame = {
    require(minWords >= 1 && maxWords > minWords,
      s"need 1 <= minWords < maxWords, got [$minWords, $maxWords]")
    val stops = Seq("the", "a", "and", "of", "to", "in")
    val base = docs.select(id.as("doc_id"),
      coalesce(text.cast("string"), lit("")).as("t"))
    val words = filter(split(col("t"), " "), w => length(w) > 0)
    val scored = base.select(
      col("doc_id"),
      size(words).cast("long").as("n_words"),
      // Σ word lengths = non-space chars (split/filter drop only spaces)
      length(regexp_replace(col("t"), " ", "")).cast("long").as("char_len"),
      size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long").as("alpha_words"),
      length(regexp_replace(col("t"), "[A-Za-z0-9 ]", "")).cast("long").as("symbols"),
      length(col("t")).cast("long").as("total_chars"),
      GraftFunctions.token_match_count(col("t"), stops).cast("long").as("stop_hits"))
    scored.select(
      col("doc_id"), col("n_words"),
      when(col("n_words") > 0, round(
        col("char_len").cast("double") / col("n_words").cast("double"), 6))
        .as("mean_word_len"),
      when(col("n_words") > 0, round(
        col("alpha_words").cast("double") / col("n_words").cast("double"), 6))
        .as("alpha_frac"),
      when(col("total_chars") > 0, round(
        col("symbols").cast("double") / col("total_chars").cast("double"), 6))
        .as("symbol_frac"),
      col("stop_hits"),
      (col("n_words") >= minWords && col("n_words") <= maxWords).as("r_len"),
      (col("n_words") > 0 && col("char_len") >= col("n_words") * 2 &&
        col("char_len") <= col("n_words") * 12).as("r_wordlen"),
      (col("n_words") > 0 &&
        col("alpha_words") * 10 >= col("n_words") * 7).as("r_alpha"),
      (col("stop_hits") >= 2).as("r_stop"),
      (col("symbols") * 10 <= col("total_chars")).as("r_symbol"))
      .withColumn("keep",
        col("r_len") && col("r_wordlen") && col("r_alpha") &&
          col("r_stop") && col("r_symbol"))
  }

  /** Unicode SCRIPT mix per group — the multilingual-corpus health
    * readout a `lang` tag can't give (the tag says what a doc claims;
    * the codepoints say what it IS): per group, the share of
    * non-whitespace characters in each major script block — Latin
    * letters, ASCII digits, Cyrillic (U+0400–04FF), CJK unified
    * ideographs (U+4E00–9FFF), Arabic (U+0600–06FF) — plus the
    * remainder. The screens it feeds: a "en" source growing a CJK
    * share is mislabeled or contaminated; an "other" share spike is
    * mojibake/markup; per-script shares are the denominator for
    * script-aware tokenizer-coverage budgets.
    *
    * Blocks are BMP ranges, so character counts agree across engines
    * (UTF-16 units = codepoints below the surrogate range); counting
    * is ONE loop over the UTF-16 units per document via the
    * [[graft.functions.expressions.ScriptCounts]] codegen expression —
    * the six-`regexp_replace` formulation (which the DuckDB oracle
    * still replays, proving equivalence) re-scans every document six
    * times through the regex engine: forked min-of-3 at the 104×
    * replica 26.6 s → 0.68 s (39×; 26×: 7.9 → 0.76 s —
    * bench/script_mix_expr receipts).
    *
    * Determinism: per-group counts are exact integer sums; the six
    * shares are single IEEE divides, 6dp. NULL group keys coalesce to
    * '__null__'; NULL texts count as zero characters (kept in
    * n_docs — an all-null group reads NULL shares, never 0/0).
    *
    * 100 TB shape: one scan, map-side-collapsing aggregate, output
    * bounded by |groups|.
    *
    * Output: (group_key, n_docs, n_chars, latin_share, digit_share,
    * cyrillic_share, cjk_share, arabic_share, other_share), ordered
    * by group_key. */
  def scriptMix(docs: DataFrame, group: Column, text: Column): DataFrame = {
    val counts = graft.functions.expressions.GraftFunctions
      .script_counts(coalesce(text, lit("")))
    val agg = docs
      .select(
        coalesce(group.cast("string"), lit("__null__")).as("group_key"),
        counts.as("sc"))
      .select(col("group_key"),
        element_at(col("sc"), 1).as("nc"),
        element_at(col("sc"), 2).as("lat"),
        element_at(col("sc"), 3).as("dig"),
        element_at(col("sc"), 4).as("cyr"),
        element_at(col("sc"), 5).as("cjk"),
        element_at(col("sc"), 6).as("ara"))
      .groupBy("group_key")
      .agg(count(lit(1)).as("n_docs"),
        sum("nc").as("n_chars"),
        sum("lat").as("s_lat"), sum("dig").as("s_dig"),
        sum("cyr").as("s_cyr"), sum("cjk").as("s_cjk"),
        sum("ara").as("s_ara"))
    def share(c: Column): Column =
      round(when(col("n_chars") > 0,
        c.cast("double") / col("n_chars").cast("double")), 6)
    agg.select(col("group_key"), col("n_docs"),
      col("n_chars").cast("long").as("n_chars"),
      share(col("s_lat")).as("latin_share"),
      share(col("s_dig")).as("digit_share"),
      share(col("s_cyr")).as("cyrillic_share"),
      share(col("s_cjk")).as("cjk_share"),
      share(col("s_ara")).as("arabic_share"),
      share(col("n_chars") - col("s_lat") - col("s_dig") - col("s_cyr")
        - col("s_cjk") - col("s_ara")).as("other_share"))
      .orderBy("group_key")
  }

  /** MTLD lexical diversity (McCarthy & Jarvis '10): the
    * length-invariant replacement for raw type/token ratio, which
    * collapses as documents grow (every long document looks
    * "repetitive" under TTR). Walks the token stream accumulating a
    * running segment TTR; every time it decays below the canonical
    * 0.72 threshold a FACTOR completes and the segment resets; the
    * tail contributes the standard partial factor
    * (1 − TTR_tail) / (1 − 0.72). MTLD = n_tokens / factors, averaged
    * over the forward and reversed walks (the published two-pass
    * form). The curation read: templated/boilerplate text scores low
    * at ANY length — the screen raw TTR cannot be at corpus scale.
    *
    * Tokenization is the [[TfIdf.buildVocab]] contract (lowercase,
    * non-letter splits, empties dropped).
    *
    * Determinism: the walk is a pure double recurrence in token
    * order — factor counts are whole doubles, TTRs are single divides
    * of small ints, readouts 6dp — identical arithmetic in the custom
    * [[graft.functions.expressions.MtldFactors]] expression (one
    * codegen'd pass per doc, reusable HashSet segment) and in the
    * oracle's recursive-CTE unroll. An `aggregate()` HOF draft was
    * semantically identical but evaluates its lambda interpreted per
    * token and allocates a fresh segment array per step: 12.7 s at
    * the 104× replica vs the expression's receipt
    * (bench/bench_r16_mtld_104x vs bench_r16_mtldexpr_104x). A doc
    * whose walk never completes a factor (TTR pinned at 1 —
    * all-distinct tokens) reads NULL: the estimator is undefined
    * there, not infinite.
    *
    * 100 TB shape: entirely map-side — one expression call computes
    * the count and both passes per document, no shuffle, no state
    * wider than one doc's current segment (segments self-truncate at
    * the 0.72 decay, so the working set stays tens of tokens).
    *
    * Output: (doc_id, n_tokens, mtld_fwd 6dp, mtld_bwd 6dp, mtld
    * 6dp = mean of the finite passes' values, NULL when both are
    * undefined), ordered by doc_id. */
  def mtld(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val mt = (n: Column, f: Column) =>
      when(f > 0.0, n.cast("double") / f)
    docs
      .filter(id.isNotNull)
      .select(id.as("doc_id"),
        graft.functions.expressions.GraftFunctions
          .mtld_factors(coalesce(text, lit(""))).as("m"))
      .select(col("doc_id"),
        element_at(col("m"), 1).cast("long").as("n_tokens"),
        element_at(col("m"), 2).as("ff"),
        element_at(col("m"), 3).as("fb"))
      .select(col("doc_id"), col("n_tokens"),
        round(mt(col("n_tokens"), col("ff")), 6).as("mtld_fwd"),
        round(mt(col("n_tokens"), col("fb")), 6).as("mtld_bwd"),
        round(
          when(col("ff") > 0.0 && col("fb") > 0.0,
            (mt(col("n_tokens"), col("ff")) +
              mt(col("n_tokens"), col("fb"))) / lit(2.0))
            .otherwise(coalesce(
              mt(col("n_tokens"), col("ff")),
              mt(col("n_tokens"), col("fb")))), 6).as("mtld"))
      .orderBy("doc_id")
  }
}
