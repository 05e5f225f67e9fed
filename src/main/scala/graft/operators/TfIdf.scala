package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] TF-IDF term weighting over a document corpus — the text-analysis
  * primitive a training-data pipeline uses for keyword extraction and
  * quality filtering (the reference has no text surface; the `documents`
  * fixture table is the driver's hook).
  *
  * Scale shape (100 TB corpus):
  *  - term frequencies: one shuffle on (doc_id, term) with map-side
  *    partial aggregation — the corpus bodies are exploded ONCE and only
  *    (id, term, count) triples move;
  *  - document frequencies: a count-window over the tf table partitioned
  *    by term — NOT a separate aggregate joined back. A join formulation
  *    either re-scans and re-explodes the corpus for a second tf subtree
  *    (Catalyst does not dedupe common subplans) or broadcasts the full
  *    vocabulary df table, which at web-corpus scale is millions of
  *    terms — both wrong; the window costs one shuffle of the small
  *    (doc, term, tf) triples instead;
  *  - corpus size N: a single-row count aggregate, broadcast — the scan
  *    is column-pruned to row-group metadata, no text pages read;
  *  - per-doc top-k: ranked window partitioned by doc_id (Spark inserts
  *    WindowGroupLimit, so each partition keeps only k candidates
  *    pre-shuffle) — never a global sort.
  */
object TfIdf {

  /** Top-k TF-IDF terms per document, tokenized on single spaces
    * (mirroring split(text, ' ') — the repo-wide token convention).
    *
    * Ranking is by (tf DESC, df ASC, term ASC): integers and strings
    * only, so the ordering is exactly reproducible in any engine. The
    * reported `score` is the linear IDF variant tf·N/df — order-
    * equivalent to tf·log(N/df) for fixed tf (log is monotone), but
    * bit-identical across engines because it stays in IEEE +,·,/ (libm
    * log implementations differ in the last ulp).
    *
    * Output: (doc_id, rank, term, tf, df, score). */
  def topTerms(docs: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    val toks = docs.select(id.as("doc_id"), explode(split(text, " ")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val total = docs.select(count(lit(1)).as("n_docs"))
    val ranked = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .crossJoin(broadcast(total)) // single-row N: broadcast, never shuffled
      .withColumn("score",
        col("tf").cast("double") * col("n_docs") / col("df"))
      .withColumn("rank", row_number().over(ranked).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        col("df"), col("score"))
  }

  /** Tokenizer-vocabulary build: corpus-wide term frequencies, cut at
    * `minCount`, capped at the `maxSize` most frequent, with dense
    * deterministic ids assigned by (freq DESC, token ASC) — the standard
    * "train the vocab" pass before tokenization.
    *
    * Scale shape: one (token) shuffle with map-side partial counts, then
    * the cap is a distributed top-k (TakeOrderedAndProject keeps maxSize
    * rows per partition pre-merge — never a global sort of the
    * vocabulary), and only the ≤ maxSize survivors see the id-assignment
    * window. Output: (token, token_id, freq). */
  def buildVocab(
      docs: DataFrame,
      text: Column,
      minCount: Long = 2L,
      maxSize: Int = 30000): DataFrame = {
    val freq = docs
      .select(explode(split(lower(text), "[^a-z]+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minCount)
      .orderBy(col("freq").desc, col("token"))
      .limit(maxSize)
    freq
      .withColumn("token_id",
        row_number().over(Window.orderBy(col("freq").desc, col("token")))
          .cast("long"))
      .select(col("token"), col("token_id"), col("freq"))
  }

  /** Zipf-law fit over the corpus's token frequencies — the one-number
    * "is this corpus natural language?" screen: natural text follows
    * freq ∝ rank^(−s) with s ≈ 1; machine-generated spam, boilerplate
    * floods, and template farms bend the curve (|slope| far from 1, or
    * a poor fit). OLS of ln(freq) on ln(rank) over the top `topN`
    * ranks:
    *
    *   slope = (Σxy − n·x̄·ȳ) / (Σxx − n·x̄²),  x = ln rank, y = ln freq
    *
    * Tokenization is [[buildVocab]]'s exactly (lowercase, [^a-z]+
    * split), so the two operators' frequency tables can never fork.
    *
    * 100 TB shape: one corpus scan into a token-keyed count (map-side
    * combine), a DISTRIBUTED top-N (TakeOrdered — never a global
    * window over the vocabulary), then the regression over N rows —
    * the post-aggregate bounded-table discipline; rank is a window
    * over the N retained rows only.
    *
    * Determinism: ranks and freqs are exact integers; ln outputs are
    * round(·,9) per term (the transcendental discipline), products
    * round(·,9) into DECIMAL(28,9) sums (|xy| ≤ ln(N)·ln(corpus) —
    * thousands at any scale, far inside the tick bound), final slope/
    * intercept single IEEE divides rounded 6. Rank ties break by token
    * (total order).
    *
    * Output: ONE row — (n_ranks, slope, intercept); fewer than 2
    * distinct tokens → NULL slope (no line exists), not a divide
    * error. */
  def zipfSlope(docs: DataFrame, text: Column, topN: Int = 100): DataFrame = {
    require(topN >= 2, s"topN must be >= 2, got $topN")
    val top = docs
      .select(explode(split(lower(text), "[^a-z]+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(topN) // distributed TakeOrdered — the window below sees ≤ topN rows
    val ranked = top.withColumn("rank",
      row_number().over(Window.orderBy(col("freq").desc, col("token")))
        .cast("long"))
    val terms = ranked.select(
      round(log(col("rank").cast("double")), 9).as("x"),
      round(log(col("freq").cast("double")), 9).as("y"))
    def dsum(c: Column): Column = sum(round(c, 9).cast("decimal(28,9)"))
    val agg = terms.agg(
      count(lit(1)).as("n_ranks"),
      dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
      dsum(col("x") * col("y")).as("sxy"),
      dsum(col("x") * col("x")).as("sxx"))
    val n = col("n_ranks").cast("double")
    val denom = col("sxx").cast("double") - col("sx").cast("double") *
      col("sx").cast("double") / n
    val slope = (col("sxy").cast("double") - col("sx").cast("double") *
      col("sy").cast("double") / n) / denom
    val intercept = (col("sy").cast("double") - slope *
      col("sx").cast("double")) / n
    agg.select(
      col("n_ranks"),
      round(when(col("n_ranks") >= 2 && denom > 0.0, slope), 6).as("slope"),
      round(when(col("n_ranks") >= 2 && denom > 0.0, intercept), 6)
        .as("intercept"))
  }

  /** Encode documents as token-id sequences under a vocabulary from
    * [[buildVocab]] — the tokenize step between scrubbed text and
    * sequence packing. Out-of-vocabulary tokens map to `oovId` (0; the
    * vocab's dense ids start at 1).
    *
    * Scale shape: tokens explode WITH their position, join the
    * vocabulary on the token key (vocab is capped at maxSize, so Spark
    * broadcasts it when it fits — the common case), and each document
    * reassembles by sorting its (pos, id) pairs inside one aggregate —
    * order survives the shuffle without a window or a global sort.
    *
    * Output: (doc_id, n_tokens, ids: array<long>). */
  def encode(
      docs: DataFrame,
      id: Column,
      text: Column,
      vocab: DataFrame, // (token, token_id, …) from buildVocab
      oovId: Long = 0L): DataFrame = {
    val toks = docs
      .select(id.as("doc_id"),
        posexplode(split(lower(text), "[^a-z]+")).as(Seq("pos", "token")))
      .filter(length(col("token")) > 0)
    toks
      .join(vocab.select(col("token"), col("token_id")), Seq("token"), "left")
      .withColumn("tid", coalesce(col("token_id"), lit(oovId)))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        transform(
          array_sort(collect_list(struct(col("pos"), col("tid")))),
          s => s("tid")).as("ids"))
  }

  /** Unigram language-model scoring: every document's mean negative log
    * probability under the corpus's own unigram distribution — the
    * classic perplexity-style quality signal (CCNet-family pipelines
    * score against an LM and drop the worst tail; a unigram model is its
    * engine-friendly degenerate case, exact and fully relational).
    *
    * Scale shape: the model (token → freq) is an aggregate over the
    * exploded corpus; scoring joins tokens to the model on the token key
    * — at web scale the model table is vocabulary-sized, so the join is
    * a broadcast when it fits and a plain equi-join when it doesn't
    * (Spark/AQE decides from stats; nothing here forces either).
    *
    * Reproducibility: each token's −ln p is quantized to DECIMAL(18,6)
    * BEFORE accumulating (the repo's xsum discipline). This makes the
    * per-doc sum exact and partition-order independent, and absorbs the
    * last-ulp disagreement between libm implementations of ln (Java vs
    * DuckDB) that a raw double sum would amplify into a hash mismatch —
    * a 1-ulp input difference lands on a 1e-6 rounding boundary with
    * probability ~1e-9 per distinct vocabulary value.
    *
    * Output: (doc_id, n_tokens, nll) — nll = mean −ln p(token). */
  def unigramLogProb(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = docs
      .select(id.as("doc_id"),
        explode(split(lower(text), "[^a-z]+")).as("token"))
      .filter(length(col("token")) > 0)
    val model = toks.groupBy("token").agg(count(lit(1)).as("freq"))
    val total = toks.select(count(lit(1)).as("n_total"))
    toks
      .join(model, Seq("token")) // trained on the same corpus: never misses
      .crossJoin(broadcast(total)) // single-row scalar
      .withColumn("neglogp",
        (-log(col("freq").cast("double") / col("n_total").cast("double")))
          .cast("decimal(18,6)"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        (sum(col("neglogp")).cast("double") / count(lit(1))).as("nll"))
  }

  /** Cross-entropy drift between two corpus snapshots — the LM-grade
    * drift monitor: train a smoothed unigram model on the REFERENCE
    * snapshot, score both snapshots' tokens under it; the gap
    *
    *   drift = CE(cur ‖ ref) − CE(ref ‖ ref)
    *
    * is (up to smoothing) the KL divergence of the current token
    * distribution from the reference — it rises when the vocabulary
    * shifts, a new domain floods in, or boilerplate takes over, BEFORE
    * any downstream eval notices. Complements [[Drift]]'s numeric
    * tests (those watch a column; this watches the text itself).
    *
    * Model: add-one smoothing with an explicit OOV class —
    * p(t) = (c_ref(t) + 1) / (N_ref + V_ref + 1); a token unseen in
    * ref gets p_oov = 1 / (N_ref + V_ref + 1), so current-side novel
    * vocabulary is COUNTED (an unsmoothed model would −ln 0 them).
    * Tokenization is [[buildVocab]]'s.
    *
    * 100 TB shape: one aggregate per side for token counts; scoring is
    * a token-keyed equi-join of the CURRENT tokens against the
    * vocabulary-sized model (counts shuffle, never text), collapsing
    * map-side into per-side sums. No driver state.
    *
    * Determinism: each −ln p is round(·,9) (transcendental discipline)
    * into DECIMAL(28,9) sums; means and the drift are IEEE divides/
    * subtractions rounded 6.
    *
    * Output: ONE row — (n_ref_tokens, n_cur_tokens, v_ref, ce_ref,
    * ce_cur, drift); an empty side yields NULL entropies (mean of
    * nothing), never a divide error. */
  def crossEntropyDrift(
      ref: DataFrame, cur: DataFrame, text: Column): DataFrame = {
    def toks(df: DataFrame): DataFrame = df
      .select(explode(split(lower(text), "[^a-z]+")).as("token"))
      .filter(length(col("token")) > 0)
    val rt = toks(ref)
    val model = rt.groupBy("token").agg(count(lit(1)).as("freq"))
    val stats = model.agg(
      sum("freq").cast("long").as("n_ref"),
      count(lit(1)).as("v_ref"))
    def side(t: DataFrame, n: String): DataFrame = t
      .join(model, Seq("token"), "left") // OOV keeps the row, freq null
      .crossJoin(broadcast(stats))
      .select(round(-log(
        (coalesce(col("freq"), lit(0L)) + lit(1L)).cast("double") /
          (col("n_ref") + col("v_ref") + lit(1L)).cast("double")), 9)
        .as("nlp"))
      .agg(count(lit(1)).as(s"n_$n"),
        (sum(col("nlp").cast("decimal(28,9)")).cast("double") /
          count(lit(1)).cast("double")).as(s"ce_$n"))
    side(rt, "ref").crossJoin(broadcast(side(toks(cur), "cur")))
      .crossJoin(broadcast(stats.select(col("v_ref"))))
      .select(
        col("n_ref").as("n_ref_tokens"),
        col("n_cur").as("n_cur_tokens"),
        col("v_ref"),
        round(when(col("n_ref") > 0, col("ce_ref")), 6).as("ce_ref"),
        round(when(col("n_cur") > 0, col("ce_cur")), 6).as("ce_cur"),
        round(when(col("n_ref") > 0 && col("n_cur") > 0,
          col("ce_cur") - col("ce_ref")), 6).as("drift"))
  }

  /** Bigram language-model scoring with add-k smoothing: each document's
    * mean −ln p(w₂|w₁) under the corpus's own bigram model — the next
    * rung above [[unigramLogProb]] on the CCNet-style quality-filter
    * ladder (a bigram LM already separates fluent text from shuffled or
    * boilerplate tokens, which a unigram model scores identically).
    *
    * Model: p(w₂|w₁) = (c(w₁,w₂) + k) / (c(w₁) + k·V), where c(w₁) is
    * the bigram-position context count (Σ_{w₂} c(w₁,w₂)) and V counts
    * the distinct token types observed in bigram positions — both
    * derived from the aggregated pair table, never from a second corpus
    * pass. Trained and scored on the same corpus, so the scoring join
    * never misses; smoothing still matters (it regularizes rare
    * contexts exactly like held-out scoring would need).
    *
    * Scale shape (100 TB corpus):
    *  - bigram extraction is pure map-side array code — tokenize, zip
    *    the array with its own tail (no posexplode + self-join, no
    *    per-doc window);
    *  - the model is ONE (w₁,w₂) aggregate; the context count rides a
    *    window over the ALREADY-AGGREGATED pair table partitioned by
    *    w₁ (distinct-bigram-sized, ≪ corpus — and deliberately NOT a
    *    window over the raw bigram stream, where a hot context like
    *    "the" would funnel a corpus fraction through one partition);
    *  - V folds the pair table into a single-row broadcast scalar;
    *  - the scoring join BROADCASTS the model (`broadcastModel`,
    *    default on): the r9 10×-replica shoot-out (BigramProbe,
    *    `git show d7412f5:src/main/scala/graft/tools/BigramProbe.scala`)
    *    read
    *    3.2 s for the broadcast-hint formulation vs 16.8 s for the
    *    unhinted one — the static size estimate of an
    *    aggregate-over-corpus subtree is corpus-sized, so Spark picks
    *    a sort-merge join and shuffles + sorts every bigram occurrence
    *    by a two-string key; checkpoint-assisted AQE made it WORSE
    *    (the checkpoint itself costs a full materialization). The
    *    model is vocabulary²-bounded but heavy-tailed: on a corpus
    *    whose bigram TYPE count outgrows broadcast capacity, pass
    *    `broadcastModel = false` (the join degrades to the shuffle
    *    join, which is then genuinely necessary);
    *  - per-bigram −ln p is quantized to DECIMAL(18,6) pre-sum (the
    *    repo's xsum discipline — see [[unigramLogProb]]). The corpus
    *    is tokenized once per plan branch (model, V, probe — 3 scans,
    *    the bigramLift-documented trade: each is map-side linear work,
    *    cheaper than materializing the bigram stream; a model persist
    *    was also measured and rejected, r18 note below).
    *
    * Documents with fewer than two tokens have no bigrams and are
    * absent from the output (documented contract; the oracle agrees).
    *
    * Output: (doc_id, n_bigrams, bigram_nll). */
  def bigramLogProb(
      docs: DataFrame,
      id: Column,
      text: Column,
      k: Double = 0.5,
      broadcastModel: Boolean = true): DataFrame = {
    val arr = filter(split(lower(text), "[^a-z]+"), t => length(t) > 0)
    val bigrams = docs
      .select(id.as("doc_id"), arr.as("a"))
      .filter(size(col("a")) >= 2)
      .select(col("doc_id"),
        explode(zip_with(
          slice(col("a"), lit(1), size(col("a")) - 1),
          slice(col("a"), lit(2), size(col("a")) - 1),
          (x, y) => struct(x.as("w1"), y.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // [r18 REJECTED] persisting this model table (so the V scalar and
    // the scoring broadcast join share one corpus tokenize instead of
    // replaying it) measured 1.20/1.31 REGRESSED at both interleaved
    // positions (bench/r18b_batch1_paired_sf01.json) — the same class
    // as the r17 bm25/fuzzy rejection: the InMemoryRelation barrier on
    // a windowed aggregate serializes stages that previously
    // overlapped, and costs more than one map-side tokenize pass.
    val model = bigrams
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .withColumn("c1", sum(col("c12")).over(Window.partitionBy("w1")))
    val vocab = model
      .select(explode(array(col("w1"), col("w2"))).as("t"))
      .agg(count_distinct(col("t")).as("v"))
    bigrams
      .join(if (broadcastModel) broadcast(model) else model,
        Seq("w1", "w2")) // same-corpus model: never misses
      .crossJoin(broadcast(vocab)) // single-row scalar
      .withColumn("neglogp",
        (-log((col("c12").cast("double") + lit(k)) /
          (col("c1").cast("double") + lit(k) * col("v").cast("double"))))
          .cast("decimal(18,6)"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        (sum(col("neglogp")).cast("double") / count(lit(1)))
          .as("bigram_nll"))
  }

  /** Corpus SATURATION curve — the diminishing-returns readout for
    * data acquisition (the empirical Heaps'-law table): split the
    * corpus into `buckets` acquisition slices by id range, then per
    * slice count the word n-grams seen for the FIRST time there. When
    * new-grams-per-doc flattens, the next crawl of the same source
    * buys redundancy, not coverage — the number a data-buying
    * decision actually needs, next to [[ngramNovelty]]'s per-doc
    * score.
    *
    * Slices come from the id RANGE (bucket = (id−lo)·buckets ∕
    * (hi−lo+1), exact integer arithmetic), NOT a global rank — no
    * corpus-wide sort, and ids are the acquisition order by
    * construction in append-only ingestion (sparse/skewed ids skew
    * slice SIZES, never first-seen attribution; n_docs per slice is
    * in the output precisely so that skew is visible).
    *
    * 100 TB shape: one gram explode → (gram)-keyed MIN-bucket
    * aggregate (map-side partials; grams shuffle once), a ≤
    * `buckets`-row fold, and a 1-row id-bounds broadcast. All exact
    * integers; the one divide per row is the readout.
    *
    * Output: (bucket, n_docs, new_grams, cum_grams, new_per_doc 6dp),
    * every bucket in [0, buckets) kept (empty slices show 0 — the B14
    * discipline), ordered by bucket. */
  def saturationCurve(
      docs: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3,
      buckets: Int = 10): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    require(buckets >= 2 && buckets <= 1000,
      s"buckets must be in [2,1000], got $buckets")
    val base = docs
      .filter(id.isNotNull)
      .select(id.cast("long").as("doc_id"), text.as("txt"))
    val bounds = base.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
    val bucketed = base.crossJoin(broadcast(bounds))
      .select(col("doc_id"), col("txt"),
        ((col("doc_id") - col("lo")) * buckets /
          (col("hi") - col("lo") + 1)).cast("long").as("bucket"))
    val docsPer = bucketed.groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"))
    val firstSeen = bucketed
      .select(col("bucket"),
        explode(graft.functions.expressions.GraftFunctions
          .word_ngrams(col("txt"), n)).as("gram"))
      .groupBy("gram")
      .agg(min("bucket").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("new_grams"))
    val spine = docs.sparkSession.range(0, buckets)
      .select(col("id").as("bucket"))
    val cum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(docsPer, Seq("bucket"), "left")
      .join(firstSeen, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("new_grams"), lit(0L)).as("new_grams"))
      .withColumn("cum_grams", sum("new_grams").over(cum))
      .withColumn("new_per_doc",
        round(when(col("n_docs") > 0,
          col("new_grams").cast("double") / col("n_docs").cast("double")),
          6))
      .orderBy("bucket")
  }

  /** Heaps'-law fit V = K·N^β over the corpus acquisition curve
    * (Heaps '78; Herdan '60): how fast does VOCABULARY grow as TOKENS
    * accumulate? β ≈ 0.4–0.6 is natural text; β near 1 means every
    * slice brings its own vocabulary (OCR noise, random ids, mixed
    * scripts) and dedup/quality screens are underperforming; β near 0
    * means the feed went stale (the [[saturationCurve]] readout,
    * compressed to one exponent a dashboard can threshold).
    *
    * Same acquisition slicing as [[saturationCurve]] (doc-id ranges —
    * ingestion order, no global sort): per slice, total tokens and
    * first-seen vocabulary; cumulative points (N_i, V_i) over the
    * slice spine; ordinary least squares on (ln N_i, ln V_i) gives
    * β = slope and K = exp(intercept), with r² as the fit-quality
    * readout (a low r² says the corpus does NOT follow a power law —
    * e.g. a mid-stream domain shift — and β alone would mislead).
    *
    * Tokenization is the [[buildVocab]] contract: lowercase, split on
    * non-letter runs, empties dropped.
    *
    * Determinism: slice token/vocab counts are exact integers; each
    * ln quantizes to DECIMAL(18,6) (the hill-tail transcendental
    * rule); the OLS moment sums are exact decimal folds of quantized
    * products (order-free); slope/intercept/r² are the final IEEE
    * divides, 6dp.
    *
    * 100 TB shape: one token explode with a map-side-collapsing
    * (gram → min bucket) aggregate — identical cost profile to
    * [[saturationCurve]] — then OLS over ≤ `buckets` rows on the
    * driver-free spine. Nothing scales past the first-seen aggregate.
    *
    * Output: one row — (n_points, n_tokens, vocab, beta 6dp,
    * k_coef 6dp, r2 6dp); NULL beta/k/r2 when fewer than 2 usable
    * points or a degenerate (constant-x) curve. */
  def heapsLaw(
      docs: DataFrame,
      id: Column,
      text: Column,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 1000,
      s"buckets must be in [2,1000], got $buckets")
    val base = docs
      .filter(id.isNotNull)
      .select(id.cast("long").as("doc_id"),
        lower(coalesce(text, lit(""))).as("txt"))
    val bounds = base.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
    val bucketed = base.crossJoin(broadcast(bounds))
      .select(col("doc_id"),
        ((col("doc_id") - col("lo")) * buckets /
          (col("hi") - col("lo") + 1)).cast("long").as("bucket"),
        filter(split(col("txt"), "[^a-z]+"), t => length(t) > 0)
          .as("toks"))
    val tokensPer = bucketed.groupBy("bucket")
      .agg(sum(size(col("toks")).cast("long")).as("n_tokens"))
    val firstSeen = bucketed
      .select(col("bucket"), explode(col("toks")).as("tok"))
      .groupBy("tok").agg(min("bucket").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_vocab"))
    val spine = docs.sparkSession.range(0, buckets)
      .select(col("id").as("bucket"))
    val cum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = spine
      .join(tokensPer, Seq("bucket"), "left")
      .join(firstSeen, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_tokens"), lit(0L)).as("nt"),
        coalesce(col("new_vocab"), lit(0L)).as("nv"))
      .withColumn("cum_n", sum("nt").over(cum))
      .withColumn("cum_v", sum("nv").over(cum))
      .filter(col("cum_n") > 0 && col("cum_v") > 0)
      .select(
        col("cum_n"), col("cum_v"),
        log(col("cum_n").cast("double")).cast("decimal(18,6)").as("x"),
        log(col("cum_v").cast("double")).cast("decimal(18,6)").as("y"))
    pts.agg(
      count(lit(1)).as("n_points"),
      max("cum_n").as("n_tokens"),
      max("cum_v").as("vocab"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      // exact degeneracy screens: double-rounded moment differences
      // can land a hair off zero on a constant axis; the decimal
      // min/max comparison cannot
      (min("x") < max("x")).as("x_varies"),
      (min("y") < max("y")).as("y_varies"))
      .select(col("n_points"), col("n_tokens"), col("vocab"),
        col("x_varies"), col("y_varies"),
        (col("n_points") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          .as("num"),
        (col("n_points") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double"))
          .as("den"),
        (col("n_points") * col("syy").cast("double")
          - col("sy").cast("double") * col("sy").cast("double"))
          .as("deny"),
        col("sx").cast("double").as("sxd"),
        col("sy").cast("double").as("syd"))
      .select(col("n_points"), col("n_tokens"), col("vocab"),
        round(when(col("n_points") >= 2 && col("x_varies") &&
            col("den") > 0.0,
          col("num") / col("den")), 6).as("beta"),
        round(when(col("n_points") >= 2 && col("x_varies") &&
            col("den") > 0.0,
          exp((col("syd") - (col("num") / col("den")) * col("sxd"))
            / col("n_points").cast("double"))), 6).as("k_coef"),
        round(when(col("n_points") >= 2 && col("x_varies") &&
            col("y_varies") && col("den") > 0.0 && col("deny") > 0.0,
          (col("num") * col("num")) / (col("den") * col("deny"))), 6)
          .as("r2"))
  }

  /** "Fightin' Words" log-odds with an informative Dirichlet prior
    * (Monroe, Colaresi & Quinn '08) — WHAT distinguishes corpus A
    * from corpus B, done right: raw frequency differences are
    * dominated by corpus size, plain log-odds explode on rare words,
    * and TF-IDF has no notion of "versus". The Dirichlet prior
    * (scaled combined-corpus frequencies) shrinks rare-word noise,
    * and the z-score divides by the estimate's own uncertainty:
    *
    *   δ_w = ln[(y_aw+α_w)/(n_a+α₀−y_aw−α_w)]
    *       − ln[(y_bw+α_w)/(n_b+α₀−y_bw−α_w)]
    *   σ²_w ≈ 1/(y_aw+α_w) + 1/(y_bw+α_w),   z_w = δ_w/σ_w
    *
    * with α_w = α₀ · y_w/Σy over the COMBINED corpus (the standard
    * informative choice), α₀ = `priorScale`.
    *
    * Determinism: all counts exact integers; α_w is one rational per
    * token; δ/z is a fixed-shape IEEE chain (two ln, one sqrt) over
    * them, 6dp — the one-transcendental-deep [[unigramLogProb]]
    * argument. `minCount` bounds the OUTPUT; the prior always comes
    * from the full vocabulary.
    *
    * 100 TB shape: ONE (token, side) aggregate with map-side partials
    * collapses both corpora; totals ride a 1-row broadcast; output is
    * vocabulary-bounded.
    *
    * Output: (token, n_a_tok, n_b_tok, delta 6dp, z 6dp) for tokens
    * with combined count ≥ minCount, ordered by token. */
  def logOddsWords(
      docs: DataFrame,
      text: Column,
      source: Column,
      sourceA: String,
      sourceB: String,
      priorScale: Double = 10.0,
      minCount: Long = 5L): DataFrame = {
    require(sourceA != sourceB, "the two corpora must differ")
    require(priorScale > 0, s"priorScale must be positive, got $priorScale")
    val toks = docs
      .filter(source.isin(sourceA, sourceB))
      .select(source.as("side"),
        explode(split(lower(text), "[^a-z]+")).as("token"))
      .filter(length(col("token")) > 0)
    val cells = toks
      .groupBy("token")
      .agg(
        sum(when(col("side") === sourceA, 1L).otherwise(0L)).as("ya"),
        sum(when(col("side") === sourceB, 1L).otherwise(0L)).as("yb"))
    val tot = cells.agg(
      sum("ya").as("na"), sum("yb").as("nb"),
      sum(col("ya") + col("yb")).as("ntot"))
    val alpha = lit(priorScale) *
      ((col("ya") + col("yb")).cast("double") / col("ntot").cast("double"))
    def side(y: Column, n: Column): Column =
      log((y.cast("double") + alpha) /
        (n.cast("double") + lit(priorScale) - y.cast("double") - alpha))
    val delta = side(col("ya"), col("na")) - side(col("yb"), col("nb"))
    val z = delta / sqrt(
      lit(1.0) / (col("ya").cast("double") + alpha) +
        lit(1.0) / (col("yb").cast("double") + alpha))
    cells
      .crossJoin(broadcast(tot))
      .filter(col("ya") + col("yb") >= minCount)
      .select(col("token"),
        col("ya").as("n_a_tok"), col("yb").as("n_b_tok"),
        round(delta, 6).as("delta"), round(z, 6).as("z"))
      .orderBy("token")
  }

  /** Token BURSTINESS screen (Church & Gale '95: content words are
    * bursty — they recur within the documents that contain them —
    * while function words scatter Poisson-like): per token, the
    * within-doc recurrence rate burst = cf/df and the Poisson
    * document-frequency ratio df / (N·(1−e^{−cf/N})) — the
    * denominator is the df a memoryless token with the same corpus
    * frequency would have, so ratio ≪ 1 marks topical/template terms
    * and ratio ≈ 1 marks glue words. The curation uses: keyword-ness
    * scoring without IDF's corpus-size sensitivity, and spotting
    * spam/template tokens whose burstiness is pathological.
    *
    * Determinism: cf/df/N are exact integers; burst is one IEEE
    * divide; the Poisson term is one exp on an exact rational —
    * last-ulp libm skew dies in the 6dp output round (the
    * [[unigramLogProb]] argument, one transcendental deep here).
    *
    * 100 TB shape: one (doc, token) aggregate (map-side partials)
    * carrying both the occurrence and the presence count, collapsed
    * to a vocabulary-bounded token table; N rides a 1-row broadcast.
    * `minDf` bounds the OUTPUT, not the counts.
    *
    * Output: (token, cf, df, burst 6dp, df_poisson_ratio 6dp) for
    * tokens with df ≥ minDf, ordered by token. */
  def tokenBurstiness(
      docs: DataFrame,
      id: Column,
      text: Column,
      minDf: Long = 5L): DataFrame = {
    val perDoc = docs
      .select(id.as("doc_id"),
        explode(split(lower(text), "[^a-z]+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("c"))
    val nDocs = docs.select(id.as("doc_id")).filter(col("doc_id").isNotNull)
      .agg(count(lit(1)).as("n_docs"))
    perDoc
      .groupBy("token")
      .agg(sum("c").cast("long").as("cf"), count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(nDocs))
      .select(
        col("token"), col("cf"), col("df"),
        round(col("cf").cast("double") / col("df").cast("double"), 6)
          .as("burst"),
        round(col("df").cast("double") /
          (col("n_docs").cast("double") *
            (lit(1.0) - exp(-(col("cf").cast("double") /
              col("n_docs").cast("double"))))), 6)
          .as("df_poisson_ratio"))
      .orderBy("token")
  }

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney '95;
    * the Chen & Goodman '98 interpolated form with a single absolute
    * discount D) — the production n-gram smoothing next to
    * [[bigramLogProb]]'s add-k baseline: add-k hallucinates mass for
    * contexts it never saw proportional to RAW unigram frequency,
    * while KN backs off to the CONTINUATION probability — "in how many
    * distinct contexts does this word complete a bigram" — which is
    * what makes it the default in every serious LM toolkit (KenLM,
    * SRILM):
    *
    *   p_kn(b|a) = (c(ab) − D)/c(a·) + (D·N1+(a·)/c(a·)) · p_cont(b)
    *   p_cont(b) = N1+(·b) / N1+(··)
    *
    * (observed bigrams only, so c(ab) ≥ 1 > D — the max(·,0) clamp of
    * the general form is vacuous here and omitted).
    *
    * Determinism: every count is an exact integer; the probability is
    * one fixed-shape IEEE chain over them (term + (D·N1a/ca)·pcont,
    * left-associated — the DuckDB oracle mirrors it textually), 6dp.
    *
    * 100 TB shape: ONE bigram aggregate (map-side partials) is the
    * only corpus-volume shuffle; c(a·)/N1+(a·)/N1+(·b) are windows
    * over that vocabulary-bounded cell table (partitioned by token —
    * never a single-task window), N1+(··) rides a 1-row broadcast.
    * `minCount` bounds the OUTPUT only — the model counts always come
    * from the full table, so the filter never biases the estimates.
    *
    * Output: (tok_a, tok_b, n_ab, c_a, n1p_a, p_cont 6dp, p_kn 6dp)
    * for bigrams with n_ab ≥ minCount, ordered (tok_a, tok_b). */
  def kneserNeyBigrams(
      docs: DataFrame,
      id: Column,
      text: Column,
      discount: Double = 0.75,
      minCount: Long = 3L): DataFrame = {
    require(discount > 0 && discount < 1,
      s"discount must be in (0,1), got $discount")
    val arr = filter(split(lower(text), "[^a-z]+"), t => length(t) > 0)
    val cells = docs
      .select(id.as("doc_id"), arr.as("a"))
      .filter(size(col("a")) >= 2)
      .select(explode(zip_with(
        slice(col("a"), lit(1), size(col("a")) - 1),
        slice(col("a"), lit(2), size(col("a")) - 1),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("bg"))
      .select(col("bg.w1").as("tok_a"), col("bg.w2").as("tok_b"))
      .groupBy("tok_a", "tok_b")
      .agg(count(lit(1)).as("n_ab"))
    val wA = Window.partitionBy("tok_a")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wB = Window.partitionBy("tok_b")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val tot = cells.agg(count(lit(1)).as("n1p_total"))
    val d = lit(discount)
    cells
      .withColumn("c_a", sum("n_ab").over(wA))
      .withColumn("n1p_a", count(lit(1)).over(wA))
      .withColumn("n1p_b", count(lit(1)).over(wB))
      .crossJoin(broadcast(tot))
      .filter(col("n_ab") >= minCount)
      .select(
        col("tok_a"), col("tok_b"), col("n_ab"), col("c_a"), col("n1p_a"),
        round(col("n1p_b").cast("double") /
          col("n1p_total").cast("double"), 6).as("p_cont"),
        round(
          (col("n_ab").cast("double") - d) / col("c_a").cast("double") +
            d * col("n1p_a").cast("double") / col("c_a").cast("double") *
              (col("n1p_b").cast("double") /
                col("n1p_total").cast("double")), 6).as("p_kn"))
      .orderBy("tok_a", "tok_b")
  }

  /** All-pairs document cosine similarity over df-pruned TF-IDF vectors
    * — the batch "which documents are topically near-duplicates"
    * operator (the sparse-vector complement of the embedding near-dup
    * path in Dedup): candidate pairs come from an inverted-index
    * self-join on shared terms, NEVER from a cross join.
    *
    * Pruning: terms with document frequency > `dfCap` are dropped
    * before pair generation. This is the standard all-pairs-similarity
    * bound (Bayardo et al., WWW'07 prefix-filtering family): a term in
    * more than dfCap documents (a) carries near-zero idf weight and (b)
    * would alone generate O(dfCap²) candidate pairs — the cap makes
    * candidate volume per term quadratic in a CONSTANT, so total
    * candidates stay linear in distinct terms. The same skew-guard
    * discipline as the LSH bucket caps in Dedup.
    *
    * Reproducibility: idf weights are quantized to DECIMAL(18,6) once
    * (absorbing libm ln ulp drift), then norms (Σ w², exact decimal),
    * pair dot products (Σ wᵃ·wᵇ, exact decimal) and the final
    * cosine = dot/(‖a‖·‖b‖) (IEEE ·,/,√ — exactly rounded) are all
    * partition-order independent and bit-identical cross-engine.
    *
    * Scale shape: tf is one (doc,term) aggregate; df and the per-doc
    * norm are windows over that SAME aggregated postings table (term-
    * then doc-partitioned — two shuffles of (doc,term,w) triples, no
    * corpus re-scan); the self-join shuffles postings by term with
    * per-term fan-out ≤ dfCap². The postings subtree is referenced
    * twice (join build + probe), so the corpus is scanned twice —
    * honest and linear.
    *
    * Output: (id_a, id_b, cosine) with id_a < id_b, cosine ≥
    * `threshold`, cosine rounded to 6 dp. */
  def allPairsCosine(
      docs: DataFrame,
      id: Column,
      text: Column,
      dfCap: Long = 50L,
      threshold: Double = 0.25): DataFrame = {
    val tf = docs
      .select(id.as("doc_id"),
        explode(split(lower(text), "[^a-z]+")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val total = docs.select(count(lit(1)).as("n_docs"))
    val postings = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .filter(col("df") <= dfCap)
      .crossJoin(broadcast(total)) // single-row N
      .withColumn("w",
        (col("tf").cast("double") *
          log((col("n_docs").cast("double") + lit(1.0)) /
            (col("df").cast("double") + lit(1.0))))
          .cast("decimal(18,6)"))
      .withColumn("norm",
        sqrt(sum(col("w") * col("w")).over(Window.partitionBy("doc_id"))
          .cast("double")))
      .select(col("doc_id"), col("term"), col("w"), col("norm"))
    val a = postings.select(
      col("doc_id").as("id_a"), col("term"),
      col("w").as("w_a"), col("norm").as("norm_a"))
    val b = postings.select(
      col("doc_id").as("id_b"), col("term"),
      col("w").as("w_b"), col("norm").as("norm_b"))
    a.join(b, Seq("term"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(
        (sum(col("w_a") * col("w_b")).cast("double") /
          (first(col("norm_a")) * first(col("norm_b")))).as("cos_raw"))
      .filter(col("cos_raw") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("cos_raw"), 6).as("cosine"))
  }

  /** The stopword boundary set for [[rakeKeyphrases]] — deliberately
    * small and FIXED (scores are only comparable under one boundary
    * set; DuckDB oracles embed the same list). */
  val RakeStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "of", "to", "in", "is", "it", "for",
    "on", "with", "as", "at", "by", "or")

  /** RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    * are maximal runs of non-stopword tokens (stopwords and
    * punctuation are BOUNDARIES, never content), each word scores
    * deg(w)/freq(w) over the whole corpus — deg counts co-occurring
    * words within candidates, so words living in longer phrases
    * outrank equally-frequent loners — and a phrase scores the sum of
    * its word scores. The metadata-enrichment op of a training
    * pipeline: corpus-level keyphrases for topic routing, dedup keys
    * for boilerplate families, retrieval anchors.
    *
    * Shape, one declarative chain: posexplode tokens → boundary
    * run-ids via a per-doc cumulative window (runs = phrases, no
    * regex backtracking, no UDF) → per-corpus word freq/deg
    * aggregates → score join → per-phrase-text rollup → top-k.
    *
    * Determinism: freq/deg are exact integers; deg/freq per word
    * quantizes to DECIMAL(18,6) (one divide), phrase score is the
    * exact decimal sum of word scores over the phrase's DISTINCT
    * words (set semantics — a repeated word counts once, the RAKE
    * convention); ties break (score DESC, phrase ASC).
    *
    * 100 TB shape: token explode with map-side-collapsing word
    * aggregates (vocabulary-bounded state); phrases shuffle once on
    * their text for the rollup; the only window is per-document over
    * that document's own tokens. Top-k rides a global sort of the
    * ≤|distinct phrases| rollup — cap it upstream with minCount when
    * phrase cardinality explodes.
    *
    * Output: (phrase, n_docs, n_occurrences, n_words, score 6dp),
    * top `k` by (score DESC, phrase), ordered the same. */
  def rakeKeyphrases(
      docs: DataFrame, id: Column, text: Column,
      k: Int = 50, minCount: Long = 2L): DataFrame = {
    require(k >= 1 && minCount >= 1)
    val toks = docs
      .filter(id.isNotNull && text.isNotNull)
      .select(id.cast("long").as("doc_id"),
        posexplode(split(lower(text), "[^a-z]+")).as(Seq("pos", "tok")))
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val runs = toks
      .withColumn("is_b",
        (length(col("tok")) === 0 ||
          col("tok").isin(RakeStopwords: _*)).cast("int"))
      .withColumn("run_id", sum("is_b").over(wDoc))
      .filter(col("is_b") === 0)
    val phrases = runs
      .groupBy("doc_id", "run_id")
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          e => e.getField("tok"))).as("phrase"))
    val withLen = runs.withColumn("run_len",
      count(lit(1)).over(Window.partitionBy("doc_id", "run_id")))
    val words = withLen.groupBy("tok").agg(
      count(lit(1)).as("freq"),
      sum("run_len").as("deg"))
    val wordScores = words.select(col("tok"),
      (col("deg").cast("double") / col("freq").cast("double"))
        .cast("decimal(18,6)").as("w_score"))
    val scored = phrases
      .select(col("doc_id"), col("run_id"), col("phrase"),
        explode(array_distinct(split(col("phrase"), " "))).as("tok"))
      .join(wordScores, Seq("tok"))
      .groupBy("doc_id", "run_id", "phrase")
      .agg(sum("w_score").as("score"), count(lit(1)).as("n_words"))
    scored.groupBy("phrase")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        max("n_words").as("n_words"),
        max("score").as("score"))
      .filter(col("n_occurrences") >= minCount)
      .select(col("phrase"), col("n_docs"), col("n_occurrences"),
        col("n_words"), round(col("score").cast("double"), 6).as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(k)
  }

  /** Good–Turing frequency-of-frequencies profile (Good '53): how much
    * of the corpus' probability mass sits at each observed count r,
    * and the smoothed count r* = (r+1)·N_{r+1}/N_r. The row at r = 1
    * IS the headline: its `mass_share` (N₁/N) is the Good–Turing
    * estimate of UNSEEN mass — how much vocabulary the next crawl
    * slice will surface that this corpus has never seen. Read with
    * [[heapsLaw]]: Heaps says how fast vocabulary grows, Good–Turing
    * says how much probability the growth carries — the coverage
    * number a tokenizer/vocab freeze decision needs.
    *
    * Tokenization is the [[buildVocab]] contract: lowercase, split on
    * non-letter runs, empties dropped.
    *
    * Determinism: N_r and N are exact integer aggregates; mass_share
    * and r* are single IEEE divides, 6dp. The r spine keeps EMPTY
    * count classes (n_types = 0, mass_share 0, NULL r*) so the
    * readout shape is fixed — the b14 empty-bucket discipline.
    *
    * 100 TB shape: one token explode into a (token → count) aggregate
    * with map-side partials, then a second ≤|vocab|-row aggregate to
    * counts-of-counts; the spine join broadcasts `maxR` rows. Nothing
    * scales past the first aggregate.
    *
    * Output: (r, n_types, mass_share 6dp, gt_rstar 6dp), one row per
    * r in [1, maxR], ordered by r; gt_rstar is NULL when N_r or
    * N_{r+1} is 0 (the estimator is undefined there). */
  def goodTuring(docs: DataFrame, text: Column, maxR: Int = 10): DataFrame = {
    require(maxR >= 1 && maxR <= 1000, s"maxR must be in [1,1000], got $maxR")
    val freqs = docs
      .select(explode(filter(
        split(lower(coalesce(text, lit(""))), "[^a-z]+"),
        t => length(t) > 0)).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("r"))
    val cofc = freqs.groupBy("r").agg(count(lit(1)).as("n_types"))
    val tot = freqs.agg(sum("r").cast("long").as("n_tokens"))
    val spine = docs.sparkSession.range(1, maxR + 1).toDF("r")
    spine
      .join(cofc, Seq("r"), "left")
      .join(
        cofc.select((col("r") - 1).as("r"), col("n_types").as("n_next")),
        Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .select(col("r"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        round(col("r").cast("double") *
          coalesce(col("n_types"), lit(0L)).cast("double") /
          col("n_tokens").cast("double"), 6).as("mass_share"),
        round((col("r") + 1).cast("double") * col("n_next").cast("double") /
          col("n_types").cast("double"), 6).as("gt_rstar"))
      .orderBy("r")
  }
}
