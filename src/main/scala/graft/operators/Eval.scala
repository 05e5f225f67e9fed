package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] Retrieval-quality evaluation — the metric family every
  * embedding/RAG pipeline runs after building an index: given a ranked
  * candidate table (from [[Similarity.bruteForceTopK]], `lshTopK`,
  * `ivfTopK`, `pqTopK` — any (query_id, doc_id, rank) source) and a
  * graded gold-relevance table, compute per-query recall@k, MRR@k and
  * NDCG@k. The reference has no evaluation surface; this is a pure
  * [EXT] 100 TB-pipeline component (how else do you pick the ANN
  * banding that keeps recall?).
  *
  * 100 TB shape: both inputs shuffle ONCE on the high-cardinality
  * (query_id, doc_id) join key; the per-query aggregation keys on
  * query_id (millions of queries in an eval sweep — parallelism grows
  * with data); the IDCG ranking windows per query over ≤ |gold(q)|
  * rows. No cross join, no driver loop — metrics for a million
  * queries cost two shuffles.
  *
  * Cross-engine determinism: the DCG discount 1/log₂(i+1) is
  * transcendental, so every per-position term is quantized
  * round(·, 9) and summed as DECIMAL(28,12) — the round-then-cast
  * discipline ([[QualityModel]] scaladoc); recall and MRR are exact
  * rational arithmetic. A SQL engine replays all three metrics
  * bit-for-bit (`ext_retrieval_eval`).
  */
object Eval {

  /** ONE-row guard table for the rank-statistic family's post-aggregate
    * windows (VERDICT r11 ask #4). `agg` is the already-aggregated
    * per-distinct-value table; the guard row raises a loud error when
    * its cardinality exceeds `maxDistinct` — the shape where the
    * unpartitioned ORDER BY window would otherwise funnel the whole
    * table through ONE task (the exact window-over-raw-rows shape this
    * repo bans). Cross-join the broadcast result into the windowed
    * plan: one extra ≤1-row aggregate (map-side collapsed, and usually
    * a ReusedExchange of the main aggregation), zero effect on results
    * under the contract. The error names `quantize` as the fix. */
  /** Cardinality guard, INLINE form: attach the row count of `df` (an
    * already-aggregated bounded table) as a full-frame window sharing
    * `order` — the SAME sort the caller's cumulative window needs, so
    * guarding costs no extra pass — then fail loudly past
    * `maxDistinct` via a filter-anchored raise_error (a merely-
    * projected guard column would be COLUMN-PRUNED by Catalyst,
    * raise_error and all — measured; the filter references it, so the
    * optimizer must evaluate it).
    *
    * This replaced the r12 cross-join form, which computed the count
    * as a SEPARATE aggregation of the agg-table subtree: Spark
    * re-evaluates an uncached subtree per consumer, so the guard was
    * silently re-running the operator's corpus aggregation — measured
    * +0.35 s fixed on ext_roc_auc (0.42 → 0.77 forked min-of-9) and a
    * duplicated corpus scan at 100 TB. The window form reads the rows
    * already in hand. */
  private[operators] def inlineCardinalityGuard(
      df: DataFrame, order: Column,
      maxDistinct: Long, op: String,
      paramName: String = "maxDistinct"): DataFrame = {
    val full = Window.orderBy(order)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.withColumn("_card", count(lit(1)).over(full))
      .withColumn("_guard_ok",
        when(col("_card") <= maxDistinct, lit(1))
          .otherwise(raise_error(concat(
            lit(s"$op: "), col("_card").cast("string"),
            lit(s" distinct values exceed $paramName=$maxDistinct — the" +
              " post-aggregate window would run in ONE task at this" +
              " cardinality. Pre-round continuous scores (quantize=" +
              s"Some(d)) or raise $paramName deliberately.")))))
      .filter(col("_guard_ok") === 1)
      .drop("_card", "_guard_ok")
  }

  /** Per-query retrieval metrics over the top `k` ranked rows.
    *
    *  - recall_k = |relevant ∩ top-k| / |relevant|
    *  - mrr_k    = 1 / rank(first relevant in top-k), 0 when none
    *  - ndcg_k   = DCG@k / IDCG@k with gain 2^rel − 1 and discount
    *               log₂(position+1); IDCG ranks gold by (rel DESC,
    *               doc_id) — a total order, so ties are deterministic
    *
    * `ranked`: (query_id, doc_id, rank), rank 1-based and unique per
    * query (the contract of every top-k operator here). `gold`:
    * (query_id, doc_id, rel) with graded integer relevance; rel <= 0
    * rows are ignored. Queries with NO positive gold are dropped —
    * their metrics are undefined (0/0), and emitting them as zeros
    * would silently deflate corpus means. */
  /** Rank-Biased Overlap (Webber, Moffat & Zobel 2010) between two
    * top-k RANKINGS — the similarity measure for indefinite rankings
    * that top-weights agreement (depth-d overlap discounted p^(d−1)),
    * which is exactly what comparing an ANN index's answer against the
    * exact ranking needs: swaps at rank 40 should not count like swaps
    * at rank 1. Truncated (prefix) form:
    *
    *   RBO@k = (1−p) · Σ_{d=1..k} p^(d−1) · |A_{1..d} ∩ B_{1..d}| / d
    *
    * Both inputs are (id, rank) tables with ranks 1..k — top-k OUTPUTS,
    * bounded by construction, so every join below is over ≤k rows and
    * the depth spine × overlap cross is ≤k² — driver-free, corpus-free.
    * An id in both lists enters the overlap at depth max(rank_a,
    * rank_b); X_d is the count of such ids with that max ≤ d.
    *
    * Determinism: X_d and d are integers; p^(d−1) is quantized
    * round(·,9) (the transcendental discipline — pow is libm), each
    * term round(·,9) into DECIMAL(28,9) sums, final round 6. Default
    * p = 0.9 ≈ "the top ~10 ranks carry ~86% of the weight" (the
    * paper's convention).
    *
    * Output: ONE row — (depth, overlap_k, agreement_k, rbo); two
    * disjoint lists give overlap 0 / rbo 0, identical lists rbo 1
    * (up to the 6dp quantization). */
  def rboOverlap(
      rankedA: DataFrame,
      rankedB: DataFrame,
      id: Column,
      rank: Column,
      k: Int,
      p: Double = 0.9): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(p > 0 && p < 1, s"p must be in (0,1), got $p")
    def side(df: DataFrame, tag: String): DataFrame = df
      .select(id.as("id"), rank.cast("long").as(s"rank_$tag"))
      .filter(col(s"rank_$tag") <= k)
    val joined = side(rankedA, "a").join(side(rankedB, "b"), Seq("id"))
      .select(greatest(col("rank_a"), col("rank_b")).as("m"))
    val spark = rankedA.sparkSession
    import spark.implicits._
    val depths = (1 to k).map(_.toLong).toDF("d")
    val xd = depths
      .join(joined, col("m") <= col("d"), "left")
      .groupBy("d")
      .agg(count(col("m")).as("x_d"))
    val term = round(
      lit(1.0 - p) * round(pow(lit(p), col("d").cast("double") - 1.0), 9) *
        col("x_d").cast("double") / col("d").cast("double"), 9)
    xd.agg(
        max(when(col("d") === k, col("x_d"))).as("overlap_k"),
        round(max(when(col("d") === k, col("x_d"))).cast("double") / k, 6)
          .as("agreement_k"),
        round(sum(term.cast("decimal(28,9)")).cast("double"), 6).as("rbo"))
      .select(lit(k.toLong).as("depth"), col("overlap_k"),
        col("agreement_k"), col("rbo"))
  }

  def retrievalMetrics(
      ranked: DataFrame,
      gold: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def q(c: Column) = round(c, 9).cast("decimal(28,12)")
    def gain(rel: Column) = pow(lit(2.0), rel.cast("double")) - lit(1.0)
    def discount(pos: Column) = log2(pos.cast("double") + lit(1.0))

    // Gold hygiene (ADVICE r10): a duplicated (query_id, doc_id) gold
    // row would fan out the inner join below and double-count n_hits,
    // recall and DCG. Collapse to MAX rel per pair — deterministic
    // (unlike dropDuplicates), and an exact no-op on already-unique
    // gold. Costs one extra shuffle of the gold table only (the small
    // side of an eval), never of the ranked candidates.
    val rel = gold.filter(col("rel") > 0)
      .select(col("query_id"), col("doc_id"), col("rel").cast("int").as("rel"))
      .groupBy("query_id", "doc_id")
      .agg(max("rel").as("rel"))
    // gold side: corpus of relevant docs + the ideal DCG from the top-k
    // BY RELEVANCE (window keyed on query_id — one row per gold doc)
    val iw = Window.partitionBy("query_id")
      .orderBy(col("rel").desc, col("doc_id"))
    val goldAgg = rel
      .withColumn("ipos", row_number().over(iw))
      .groupBy("query_id")
      .agg(
        count(lit(1)).as("n_gold"),
        sum(when(col("ipos") <= k,
          q(gain(col("rel")) / discount(col("ipos"))))).as("idcg"))
    // retrieved side: relevance of what actually surfaced in the top k
    val hits = ranked.filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank").cast("int").as("rank"))
      .join(rel, Seq("query_id", "doc_id"))
      .groupBy("query_id")
      .agg(
        count(lit(1)).as("n_hits"),
        min(col("rank")).as("first_rel_rank"),
        sum(q(gain(col("rel")) / discount(col("rank")))).as("dcg"))
    goldAgg.join(hits, Seq("query_id"), "left")
      .select(
        col("query_id"),
        col("n_gold"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("n_gold").cast("double"), 6).as("recall_k"),
        round(coalesce(lit(1.0) / col("first_rel_rank").cast("double"),
          lit(0.0)), 6).as("mrr_k"),
        round(coalesce(col("dcg").cast("double"), lit(0.0)) /
          col("idcg").cast("double"), 6).as("ndcg_k"))
  }

  /** Calibration readout (reliability diagram + expected calibration
    * error) for a probabilistic classifier: bin predictions by
    * confidence, compare each bin's mean predicted score against its
    * observed positive rate. The model-eval staple next to
    * [[retrievalMetrics]] — a quality/language/toxicity filter that
    * says "0.9" should be right ~90% of the time before its threshold
    * means anything.
    *
    *   ECE = Σ_bins (n_b / N) · |rate_b − conf_b|
    *
    * 100 TB shape: ONE aggregation keyed on the bin (≤ `bins` groups,
    * map-side partial collapse), then a broadcast single-row total (the
    * B12 pattern). A billion scored rows cost one scan.
    *
    * Determinism: the bin is integer arithmetic on the score; counts
    * and rates are exact; per-row scores quantize round(·, 9) into a
    * DECIMAL(28,12) sum before the mean (the same partition-order-free
    * discipline as the DCG sums); |−| and · are IEEE exact. Output: one
    * row per non-empty bin (bin, n, n_pos, conf, rate, gap, ece_term)
    * — sum(ece_term) IS the ECE. `score` must lie in [0, 1]; scores
    * exactly 1.0 land in the top bin. ENFORCED (ADVICE r11): rows with
    * score < 0, score > 1, NaN, or NULL are DROPPED from the diagram —
    * they would otherwise mint negative bin ids or silently fold into
    * the top bin and skew conf/ECE; count violations upstream with
    * [[graft.operators.Relational.profile]] if the precondition itself
    * is in question. */
  def calibration(
      scored: DataFrame,
      score: Column,
      label: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val s = score.cast("double")
    val perBin = scored
      .select(
        least(floor(s * bins).cast("long"), lit(bins - 1L)).as("bin"),
        round(s, 9).cast("decimal(28,12)").as("sq"),
        when(coalesce(label, lit(false)), 1L).otherwise(0L).as("y"),
        s.as("s_raw"))
      .filter(col("s_raw").isNotNull && !isnan(col("s_raw")) &&
        col("s_raw") >= 0.0 && col("s_raw") <= 1.0)
      .drop("s_raw")
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
        sum("sq").as("ssum"))
    val total = perBin.agg(sum("n").as("n_total"))
    perBin.crossJoin(broadcast(total))
      .select(
        col("bin"), col("n"), col("n_pos"), col("n_total"),
        (col("ssum").cast("double") / col("n").cast("double")).as("conf"),
        (col("n_pos").cast("double") / col("n").cast("double")).as("rate"))
      .withColumn("gap", abs(col("rate") - col("conf")))
      .withColumn("ece_term",
        round(col("n").cast("double") / col("n_total").cast("double") *
          col("gap"), 9))
      .drop("n_total")
      .orderBy("bin")
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher '09): merge the
    * ranked lists of several retrieval systems without score
    * calibration — rrf(q,d) = Σ_systems 1/(kRrf + rank_s(q,d)), summed
    * over the systems that returned d for q at all. The standard
    * hybrid-retrieval combiner (dense + sparse), robust because it
    * only consumes RANKS, never incomparable raw scores.
    *
    * `rankings`: (query_id, doc_id, rank) rows from ALL systems
    * unioned — a doc absent from one system simply contributes no term
    * (the RRF convention). Scale shape: one groupBy on the
    * high-cardinality (query_id, doc_id) key, then a per-query rank
    * window — candidate volume is Σ_s k_s per query, bounded by the
    * inputs' own top-k, so nothing here grows with corpus size.
    *
    * Determinism: each term 1/(kRrf+rank) is quantized round(·,12) and
    * summed as DECIMAL(28,12) — the sum is partition-order-free and a
    * SQL engine replays it exactly; final rank ties break by doc_id.
    *
    * Output: (query_id, doc_id, rrf, rank), top `k` fused per query. */
  def rrfFuse(
      rankings: DataFrame, // (query_id, doc_id, rank) unioned systems
      k: Int,
      kRrf: Int = 60): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(kRrf >= 0, s"kRrf must be >= 0, got $kRrf")
    rankings
      .select(col("query_id"), col("doc_id"),
        round(lit(1.0) / (lit(kRrf) + col("rank")).cast("double"), 12)
          .cast("decimal(28,12)").as("term"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("term")).cast("double").as("rrf"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("rrf").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Exact tie-corrected ROC AUC (Mann–Whitney form) for a binary
    * classifier score — the threshold-free readout next to
    * [[calibration]]'s threshold-shaped one:
    *
    *   AUC = U / (n_pos·n_neg),  U = Σ_s n_pos(s)·(n_neg below s + ½·n_neg(s))
    *
    * evaluated per DISTINCT score (ties contribute exactly ½), so the
    * result is the textbook statistic with no rank-approximation.
    *
    * 100 TB shape: one map-side aggregation keyed on the score (each
    * partition collapses to ≤ |distinct scores| rows — quantized model
    * scores have bounded cardinality; pre-round raw doubles upstream if
    * not), then ONE window over the already-aggregated per-score table
    * and a single-row final aggregate — the [[Drift.ksTest]] shape.
    *
    * Determinism: 2U is computed in INTEGER arithmetic (per-score
    * Long products summed as DECIMAL(38,0) — overflow-free at any
    * corpus size) and divided once; IEEE division is exact-rounded, so
    * any SQL engine replays the double bit-for-bit while the integer
    * state stays below the decimal→double precision cliff at oracle
    * scale. Output: ONE row (n_pos, n_neg, auc); auc is null when
    * either class is empty (undefined, not 0 — a one-class eval slice
    * must be visible, not silently scored).
    *
    * Cardinality contract, ENFORCED (VERDICT r11 ask #4): the window
    * runs over the per-DISTINCT-score table, so raw continuous model
    * scores (cardinality ≈ n) would funnel the corpus through one
    * window task. `quantize = Some(d)` pre-rounds scores to d decimals
    * (the tie-corrected statistic of the QUANTIZED variable — exact for
    * it, and within 10^-d resolution of the raw one); the
    * [[cardinalityGuard]] fails LOUDLY when the distinct-score table
    * exceeds `maxDistinct` instead of silently single-tasking. */
  def rocAuc(scored: DataFrame, score: Column, label: Column,
      quantize: Option[Int] = None,
      maxDistinct: Long = 10000000L): DataFrame = {
    val perScore = labelCounts(scored, score, label, quantize)
      .withColumn("nn", col("n") - col("np"))
    val w = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    inlineCardinalityGuard(perScore, col("s"), maxDistinct, "rocAuc")
      .select(col("np"), col("nn"),
        (sum("nn").over(w) - col("nn")).as("below"))
      .agg(
        sum("np").as("n_pos"), sum("nn").as("n_neg"),
        sum(col("np").cast("decimal(38,0)") *
          (col("below") * 2 + col("nn"))).as("u2"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          col("u2").cast("double") /
            (col("n_pos").cast("decimal(38,0)") * col("n_neg") * 2)
              .cast("double")).as("auc"))
  }

  /** Per distinct (optionally `quantize`d) score `s`: the row count
    * `n` and the positive count `np` (a NULL label is negative); NULL
    * scores are dropped. The curve metrics' one data-sized aggregate. */
  private def labelCounts(scored: DataFrame, score: Column, label: Column,
      quantize: Option[Int]): DataFrame =
    scored
      .select(quantized(score, quantize).as("s"),
        when(coalesce(label, lit(false)), 1L).otherwise(0L).as("y"))
      .filter(col("s").isNotNull)
      .groupBy("s")
      .agg(count(lit(1)).as("n"), sum("y").as("np"))

  /** `c` as a double, rounded to `quantize` decimals when given. */
  private[operators] def quantized(c: Column, quantize: Option[Int]): Column = {
    val d = c.cast("double")
    quantize.map(round(d, _)).getOrElse(d)
  }

  /** The non-NULL (va, vb) pairs of `a` and `b`, each [[quantized]]:
    * the input both rank correlations read. */
  private def quantizedPairs(df: DataFrame, a: Column, b: Column,
      quantize: Option[Int]): DataFrame =
    df.select(quantized(a, quantize).as("va"), quantized(b, quantize).as("vb"))
      .filter(col("va").isNotNull && col("vb").isNotNull)

  /** PR-AUC (average precision), the [[rocAuc]] companion for the
    * imbalanced case every quality-classifier eval lives in: with 1%
    * positives a model can hold AUC ≈ 0.9 while flooding the keep-set
    * with false positives — precision-recall exposes that, ROC hides
    * it. Block-exact step form over score GROUPS (ties are a block,
    * not an arbitrary order):
    *
    *   AP = Σ_blocks (R_i − R_{i−1}) · P_i,
    *   P_i = tp_i / n_i^cum,  R_i = tp_i / n_pos   (score descending)
    *
    * — equal to classic AP when scores are distinct, and a
    * deterministic tie-consistent value (no per-row order dependence)
    * when they are not.
    *
    * Same machinery and guard as [[rocAuc]]: one aggregation to the
    * distinct-score table (the only data-sized step), a guarded
    * cumulative window over score blocks, one output row. Each block
    * term is IEEE arithmetic on exact integer counts quantized
    * round(·,9) into a DECIMAL(28,9) sum (products stay under 2^53
    * for n ≲ 10⁸ rows — quantize scores for bigger eval sets).
    *
    * Output: ONE row — (n_pos, n_neg, pr_auc 6dp); NULL pr_auc when
    * there are no positives (undefined, not zero). */
  def prAuc(scored: DataFrame, score: Column, label: Column,
      quantize: Option[Int] = None,
      maxDistinct: Long = 10000000L): DataFrame = {
    val perScore = labelCounts(scored, score, label, quantize)
    val wDesc = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val d = (c: Column) => c.cast("double")
    val term = when(col("n_pos_all") > 0, round(
      (d(col("np")) * d(col("cum_tp"))) /
        (d(col("n_pos_all")) * d(col("cum_n"))), 9))
      .otherwise(lit(0.0))
    inlineCardinalityGuard(perScore, col("s").desc, maxDistinct, "prAuc")
      .select(col("n"), col("np"),
        sum("np").over(wDesc).as("cum_tp"),
        sum("n").over(wDesc).as("cum_n"),
        sum("np").over(wAll).as("n_pos_all"))
      .select(col("n"), col("np"),
        term.cast("decimal(28,9)").as("t"))
      .agg(sum("np").as("n_pos"),
        sum(col("n") - col("np")).as("n_neg"),
        sum("t").as("ap"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0, round(col("ap").cast("double"), 6))
          .as("pr_auc"))
  }

  /** Decile lift/gains table — the targeting readout behind "send the
    * campaign to the top 20% by score": bucket the population by score
    * rank, report each bucket's positive rate, cumulative capture of
    * all positives, and lift over the base rate. [[rocAuc]]/[[prAuc]]
    * score the RANKING; this prices the CUTOFF.
    *
    * Buckets are rank-defined with an EXPLICIT total order
    * (score DESC, id ASC) and the ntile arithmetic written out as
    * integer ops — bucket = (rn−1)·B div n + 1 — because engine ntile
    * implementations place tied scores order-dependently; here a tie
    * is broken by the caller's id and the assignment is
    * bit-deterministic anywhere.
    *
    * 100 TB shape [r17]: the global (score DESC, id) rank comes from
    * [[Relational.bucketedGlobalRank]] — sampled score split points,
    * per-bucket windows, exact count offsets — so no task sorts more
    * than ~n/B rows even on a corpus-sized population; totals ride in
    * once as a broadcast aggregate. Bit-identical to the single
    * ranked window this replaces (r16 ran it under a 1e8-row guard;
    * `maxRows` survives as a spine-checked data-contract backstop,
    * default unbounded).
    *
    * Determinism: counts exact; rate/capture/lift are IEEE divides of
    * exact longs, 6dp.
    *
    * Output: (bucket 1..B, n, n_pos, rate, cum_capture, lift) — every
    * bucket row present, base-rate-zero lifts NULL. */
  def liftTable(
      scored: DataFrame,
      score: Column,
      id: Column,
      label: Column,
      buckets: Int = 10,
      maxRows: Long = Long.MaxValue): DataFrame = {
    require(buckets >= 2 && buckets <= 1000, s"buckets in [2,1000], got $buckets")
    val base = scored
      .select(score.cast("double").as("s"), id.as("tie"),
        when(coalesce(label, lit(false)), 1L).otherwise(0L).as("y"))
      .filter(col("s").isNotNull)
    // materialize=false: base is a narrow projection of the input scan
    // — columnar re-scan per rank pass beats checkpointing a
    // corpus-sized eval set (the exactQuantiles default trade); totals
    // (n_all, pos_all) ride the rank spine free via cumSums
    val ranked = Relational.bucketedGlobalRank(base, "s",
        descending = true, tieBreaks = Seq("tie"), cumSums = Seq("y"),
        budget = maxRows, op = "liftTable", budgetName = "maxRows")
      .select(col("y"), col("_n_tot").as("n_all"),
        col("_tot_y").as("pos_all"),
        (expr("(_rank - 1) * " + buckets + " div _n_tot") + 1L)
          .as("bucket"))
    val perBucket = ranked
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
        max("n_all").as("n_all"), max("pos_all").as("pos_all"))
    val wCum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket
      .select(col("bucket"), col("n"), col("n_pos"),
        col("n_all"), col("pos_all"),
        sum("n_pos").over(wCum).as("cum_pos"))
      .select(col("bucket"), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("rate"),
        when(col("pos_all") > 0, round(
          col("cum_pos").cast("double") / col("pos_all").cast("double"), 6))
          .as("cum_capture"),
        when(col("pos_all") > 0, round(
          (col("n_pos").cast("double") * col("n_all").cast("double")) /
            (col("n").cast("double") * col("pos_all").cast("double")), 6))
          .as("lift"))
      .orderBy("bucket")
  }

  /** Per-class confusion readout — precision/recall/F1 per label from
    * one (actual, predicted) cell aggregation: the per-class truth
    * behind [[cohensKappa]]'s single agreement scalar (a 95%-accurate
    * language-ID model that destroys one minority language shows up
    * HERE). Classes present on either side appear; tp/fp/fn derive
    * from the cell table and the two margins without rescanning.
    *
    * 100 TB shape: one aggregation to ≤ k² cells; margins and the
    * diagonal join inside the ≤ k²-row world (broadcast). One scan.
    *
    * Determinism: counts exact; P/R/F1 are guarded IEEE divides, 6dp
    * (zero-denominator → NULL, the "no predictions for this class"
    * truth rather than a fake 0).
    *
    * Output: (label, n_actual, n_pred, tp, fp, fn, precision, recall,
    * f1), one row per class, ordered by label. */
  def confusionMatrix(df: DataFrame, actual: Column, predicted: Column): DataFrame = {
    val cells = df
      .select(actual.cast("string").as("a"), predicted.cast("string").as("p"))
      .filter(col("a").isNotNull && col("p").isNotNull)
      .groupBy("a", "p").agg(count(lit(1)).as("n"))
    val actualM = cells.groupBy(col("a").as("label"))
      .agg(sum("n").as("n_actual"))
    val predM = cells.groupBy(col("p").as("label"))
      .agg(sum("n").as("n_pred"))
    val diag = cells.filter(col("a") === col("p"))
      .select(col("a").as("label"), col("n").as("tp"))
    val d = (c: Column) => c.cast("double")
    actualM
      .join(predM, Seq("label"), "full_outer")
      .join(diag, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("n_actual"), lit(0L)).as("n_actual"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .select(col("label"), col("n_actual"), col("n_pred"), col("tp"),
        (col("n_pred") - col("tp")).as("fp"),
        (col("n_actual") - col("tp")).as("fn"),
        when(col("n_pred") > 0, round(d(col("tp")) / d(col("n_pred")), 6))
          .as("precision"),
        when(col("n_actual") > 0, round(d(col("tp")) / d(col("n_actual")), 6))
          .as("recall"),
        when(col("n_pred") + col("n_actual") > 0,
          round(d(col("tp") * 2) /
            d(col("n_pred") + col("n_actual")), 6))
          .as("f1"))
      .orderBy("label")
  }

  /** Cohen's kappa — chance-corrected agreement between two labelers
    * (human raters, model vs heuristic, two model generations):
    *
    *   κ = (p_o − p_e) / (1 − p_e)
    *     = (N·n_agree − Σ_k n_a(k)·n_b(k)) / (N² − Σ_k n_a(k)·n_b(k))
    *
    * — the second form clears denominators, so the WHOLE statistic is
    * integer arithmetic until one IEEE divide (no p_o/p_e intermediate
    * doubles to order-of-summation drift).
    *
    * 100 TB shape: one aggregation keyed on the (label_a, label_b)
    * cell — ≤ k² groups, map-side collapse; margins and the agreement
    * diagonal derive from the cell table, which never leaves the
    * ≤ k²-row world. One corpus scan total.
    *
    * Determinism: counts exact; products sum as DECIMAL(38,0);
    * κ is null when p_e = 1 (both raters constant — agreement is
    * vacuous and the statistic undefined). Rows where either label is
    * null are excluded (unrated items, not disagreement). Output: ONE
    * row (n_total, n_agree, kappa). */
  def cohensKappa(rated: DataFrame, a: Column, b: Column): DataFrame = {
    val cells = rated
      .select(a.cast("string").as("ra"), b.cast("string").as("rb"))
      .filter(col("ra").isNotNull && col("rb").isNotNull)
      .groupBy("ra", "rb").agg(count(lit(1)).as("n"))
    val totals = cells.agg(
      sum("n").as("n_total"),
      coalesce(sum(when(col("ra") === col("rb"), col("n"))), lit(0L))
        .as("n_agree"))
    val peNum = cells.groupBy("ra").agg(sum("n").as("na"))
      .join(cells.groupBy("rb").agg(sum("n").as("nb")),
        col("ra") === col("rb"))
      .agg(coalesce(sum(col("na").cast("decimal(38,0)") * col("nb")),
        lit(0).cast("decimal(38,0)")).as("pe_num"))
    totals.crossJoin(broadcast(peNum))
      .withColumn("denom",
        (col("n_total").cast("decimal(38,0)") * col("n_total") -
          col("pe_num")).cast("double"))
      .select(col("n_total"), col("n_agree"),
        when(col("denom") =!= 0.0,
          (col("n_total").cast("decimal(38,0)") * col("n_agree") -
            col("pe_num")).cast("double") / col("denom")).as("kappa"))
  }

  /** Fleiss' kappa — chance-corrected agreement for `nRaters` raters
    * per item (label-quality triage across ≥ 3 annotators or heuristic
    * labelers, where [[cohensKappa]]'s two-rater form stops applying).
    * With n_ic = raters assigning item i to category c, N = items,
    * n = raters per item, T_c = Σ_i n_ic, S2 = Σ_ic n_ic², A = Σ_c T_c²:
    *
    *   κ = (P̄ − P̄_e) / (1 − P̄_e)
    *     = (N·n·(S2 − N·n) − A·(n − 1)) / ((n − 1)·((N·n)² − A))
    *
    * — the cleared-denominator form, so the whole statistic is integer
    * arithmetic (DECIMAL(38,0) sums/products) until one IEEE divide.
    *
    * Items that do not carry EXACTLY `nRaters` ratings are dropped
    * before any total (partial panels would silently bias P̄ — the
    * classic statistic is defined for a fixed panel size), and the
    * dropped count is reported. κ is null when every rating lands in
    * one category (P̄_e = 1, agreement vacuous).
    *
    * 100 TB shape: one aggregation keyed on the (item, category) cell;
    * the per-item keep-filter and S2 derive from an item-keyed rollup
    * of that cell table; T_c from a category-keyed rollup — the raw
    * ratings are scanned ONCE and everything after the first
    * aggregation lives in cell/item/category-sized tables.
    *
    * Output: ONE row (n_items, n_dropped, n_categories, kappa). */
  def fleissKappa(
      ratings: DataFrame, item: Column, category: Column,
      nRaters: Int): DataFrame = {
    val cells = ratings
      .select(item.as("item"), category.cast("string").as("cat"))
      .filter(col("item").isNotNull && col("cat").isNotNull)
      .groupBy("item", "cat").agg(count(lit(1)).as("n_ic"))
    val perItem = cells.groupBy("item").agg(
      sum("n_ic").as("n_i"),
      sum(col("n_ic").cast("decimal(38,0)") * col("n_ic")).as("s2_i"))
    val kept = perItem.filter(col("n_i") === nRaters)
    val dropped = perItem.filter(col("n_i") =!= nRaters)
      .agg(count(lit(1)).as("n_dropped"))
    val keptCells = cells.join(kept.select("item"), Seq("item"), "left_semi")
    val catTotals = keptCells.groupBy("cat").agg(sum("n_ic").as("t_c"))
    val catAgg = catTotals.agg(
      count(lit(1)).as("n_categories"),
      coalesce(sum(col("t_c").cast("decimal(38,0)") * col("t_c")),
        lit(0).cast("decimal(38,0)")).as("a"))
    val itemAgg = kept.agg(
      count(lit(1)).as("n_items"),
      coalesce(sum("s2_i"), lit(0).cast("decimal(38,0)")).as("s2"))
    itemAgg.crossJoin(broadcast(catAgg)).crossJoin(broadcast(dropped))
      .withColumn("nn",
        (col("n_items").cast("decimal(38,0)") * nRaters))
      .withColumn("denom",
        ((col("nn") * col("nn") - col("a")) * (nRaters - 1)).cast("double"))
      .select(col("n_items"), col("n_dropped"), col("n_categories"),
        when(col("n_items") > 0 && col("denom") =!= 0.0,
          ((col("s2") - col("nn")) * col("nn") -
            col("a") * (nRaters - 1)).cast("double") / col("denom"))
          .as("kappa"))
  }

  /** Spearman rank correlation between two numeric columns with exact
    * average-rank tie handling — "do two quality scorers order the
    * corpus the same way?", the monotone-agreement readout that
    * complements [[rocAuc]] (threshold-free vs a binary label) with a
    * label-free pairwise form.
    *
    * Ranks are doubled to stay integral under ties: for a value with
    * `cnt` occurrences and `below` rows strictly smaller, the average
    * rank is below + (cnt+1)/2, so R2 = 2·below + cnt + 1 is an exact
    * integer. Σ R2 = n(n+1) makes the mean exactly n+1, and centering
    * on it (d = R2 − (n+1)) keeps every accumulated product ≤ n³ —
    * inside DECIMAL(38,0) headroom to corpus sizes past 10¹¹ rows,
    * with no Σa·Σb cross-product (that form overflows at n⁴):
    *
    *   ρ = Σ d_a·d_b / √(Σ d_a² · Σ d_b²)
    *
    * Determinism: all-integer until one IEEE multiply, sqrt, divide —
    * each exact-rounded, so any engine replays the double bit-for-bit,
    * and a perfectly monotone input yields EXACTLY ±1 (the single-sqrt
    * form; √x·√y would leak an ulp). ρ is null when either column is
    * constant (zero variance — correlation undefined, and 0 would
    * misreport it).
    *
    * 100 TB shape: the rank tables are VALUE-keyed aggregations (one
    * per column; each partition collapses to ≤ |distinct| rows) with
    * the rank window over the aggregated table only; rows join back on
    * the value key (two shuffles of the row table), then one single-row
    * aggregate. No global row-level sort ever happens — ties collapse
    * before any ordering.
    *
    * Output: ONE row (n, rho) — or zero rows when no row has both
    * values non-null (an all-null slice is visible as absence, not as
    * a fabricated n = 0 row).
    *
    * Cardinality contract, ENFORCED (VERDICT r11 ask #4): each rank
    * window runs over a per-DISTINCT-value table; `quantize = Some(d)`
    * pre-rounds BOTH columns to d decimals (ρ of the quantized
    * variables — rank-stable for any monotone binning), and the
    * [[cardinalityGuard]] fails loudly past `maxDistinct` instead of
    * silently single-tasking a raw-double column. */
  /** Kendall's τ-b rank correlation (tie-corrected) — the pairwise
    * complement of [[spearman]]: of all row pairs, how many order the
    * two columns the SAME way minus how many invert, normalized by the
    * tie-corrected pair counts:
    *
    *   τ-b = (C − D) / √((n₀ − n₁)(n₀ − n₂)),
    *   n₀ = n(n−1)/2, n₁ = Σ_a t_a(t_a−1)/2, n₂ = Σ_b t_b(t_b−1)/2
    *
    * Naively C and D are O(n²) row pairs; here they collapse to the
    * k_a × k_b CONTINGENCY CELLS first — C − D = Σ over cell pairs
    * (va < va') of n·n'·sign(vb' − vb) — so the quadratic term is over
    * CELLS, never rows (the same bounded-cardinality contract as
    * [[spearman]], squared — hence the tighter `maxCells` default,
    * ENFORCED by [[cardinalityGuard]]; `quantize` pre-rounds both
    * columns). One corpus scan, one bounded broadcast nested-loop over
    * the cell table.
    *
    * Determinism: all-integer (DECIMAL(38,0) products of exact counts)
    * until the final double ops; n₀/n₁/n₂ stay BIGINT (exact in double
    * below 2⁵³ — document-count territory, and DuckDB's BIGINT→DOUBLE
    * is correctly rounded where its wide-DECIMAL cast is not); a
    * perfectly monotone input yields EXACTLY ±1. τ is null when either
    * column is constant. Output: ONE row (n, tau); ZERO rows on empty
    * input (the [[spearman]] contract). */
  def kendallTau(df: DataFrame, a: Column, b: Column,
      quantize: Option[Int] = None,
      maxCells: Long = 10000L): DataFrame = {
    val rows = quantizedPairs(df, a, b, quantize)
    val cells = rows.groupBy("va", "vb").agg(count(lit(1)).as("n"))
    val nRow = cells.agg(sum("n").as("n_rows"))
    def tiePairs(vc: String, out: String): DataFrame =
      cells.groupBy(vc).agg(sum("n").as("t"))
        .agg(coalesce(sum(col("t").cast("decimal(38,0)") * (col("t") - 1)),
          lit(0).cast("decimal(38,0)")).as(out)) // 2·Σ t(t−1)/2
    val l = cells.select(col("va").as("va_l"), col("vb").as("vb_l"),
      col("n").as("n_l"))
    val r = cells.select(col("va").as("va_r"), col("vb").as("vb_r"),
      col("n").as("n_r"))
    // the guard counts l's rows — l IS cells renamed, so this bounds
    // |cells| without a third evaluation of the corpus aggregate (the
    // window sorts the bounded cell table once, nothing corpus-sized)
    val cd = inlineCardinalityGuard(l, col("va_l"), maxCells, "kendallTau",
        paramName = "maxCells")
      .join(broadcast(r), col("va_l") < col("va_r"))
      .agg(coalesce(sum(col("n_l").cast("decimal(38,0)") * col("n_r") *
        when(col("vb_r") > col("vb_l"), 1)
          .when(col("vb_r") < col("vb_l"), -1).otherwise(0)),
        lit(0).cast("decimal(38,0)")).as("cmd"))
    nRow
      .crossJoin(broadcast(cd))
      .crossJoin(broadcast(tiePairs("va", "t2a")))
      .crossJoin(broadcast(tiePairs("vb", "t2b")))
      .filter(col("n_rows").isNotNull) // empty input → zero rows
      // 2n₀ = n(n−1); work with DOUBLED pair counts throughout so
      // nothing is halved before the final (exact, sign-preserving)
      // divide: τ = 2(C−D) / √((2n₀−2n₁)(2n₀−2n₂))
      .select(col("n_rows").as("n"),
        (col("n_rows").cast("decimal(38,0)") * (col("n_rows") - 1)).as("p2"),
        col("cmd"), col("t2a"), col("t2b"))
      .select(col("n"),
        when(col("p2") > col("t2a") && col("p2") > col("t2b"),
          (col("cmd") * 2).cast("double") /
            sqrt((col("p2") - col("t2a")).cast("double") *
              (col("p2") - col("t2b")).cast("double"))).as("tau"))
  }

  /** Hard-negative mining for contrastive training (the DPR/ANCE
    * recipe: the best negatives are the top-ranked retrieval hits that
    * are NOT gold-relevant): anti-join a ranked candidate table against
    * the gold pairs and re-rank the survivors per query.
    *
    * `ranked`: (query_id, doc_id, rank) from any top-k source here
    * ([[Similarity.bruteForceTopK]]/`lshTopK`/`ivfTopK`/`pqTopK` with
    * vec_id renamed, or [[Similarity.maxSimTopK]]) — mine with a DEEPER
    * k than you keep (k·4 candidates → top-k negatives) so gold removal
    * doesn't starve the list. `gold`: (query_id, doc_id) positives.
    *
    * 100 TB shape: one hash anti-join on (query_id, doc_id) — both
    * sides ranked/gold-sized, never corpus-sized — and a per-query
    * window over ≤ the input's own top-k rows (bounded by the top-k
    * operator's contract, the same safe shape as [[rrfFuse]]'s final
    * rank). Extra input columns (sim, maxsim, …) pass through.
    *
    * Output: input columns + neg_rank ∈ [1, k], ordered by the input's
    * `rank` (ties impossible — rank is unique per query by contract). */
  def hardNegatives(ranked: DataFrame, gold: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    ranked
      .join(gold.select(col("query_id"), col("doc_id")),
        Seq("query_id", "doc_id"), "left_anti")
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= k)
  }

  /** Split-conformal interval calibration (Vovk et al.; Lei et al.
    * JASA'18 form) per group — the distribution-free error bar for any
    * point predictor: from a CALIBRATION split, take the (1−α)
    * quantile q̂ of the nonconformity scores |y − ŷ|; the interval
    * ŷ ± q̂ then covers fresh points with probability ≥ 1−α, no matter
    * what the residual distribution looks like. The operator both
    * CALIBRATES (q̂ per group) and AUDITS (empirical coverage on the
    * held-out eval split — the number that catches a broken predictor
    * or a drifted eval set).
    *
    * The predictor here is the calibration split's per-group mean (the
    * simplest honest baseline — swap in any scored column upstream);
    * q̂ is an EXACT residual element at rank ⌈(1−α)·n⌉ via
    * [[graft.operators.Relational.exactQuantiles]] (the finite-sample
    * ⌈(n+1)(1−α)⌉ correction shifts the rank by at most one — at
    * corpus calibration sizes the coverage effect is ≤ 1/n; stated,
    * not hidden).
    *
    * 100 TB shape: one aggregate for the G-row predictor table
    * (broadcast back), one exactQuantiles selection over residuals
    * (range-bucketed cells — no per-group window over raw rows), one
    * broadcast join onto the eval scan for the coverage aggregate.
    *
    * Determinism: y quantized round(·,6); ŷ = decimal-sum/count IEEE
    * divide; residuals round(|y − ŷ|, 6) — exact elements thereafter;
    * coverage = covered/n IEEE divide rounded 6.
    *
    * Output: one row per group — (group_key, n_cal, n_eval, pred,
    * qhat, coverage); a group absent from eval keeps its calibration
    * row with NULL coverage. */
  def conformalCoverage(
      cal: DataFrame, eval_ : DataFrame,
      group: Column, value: Column, alpha: Double = 0.1): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    def slim(df: DataFrame): DataFrame = df
      .select(group.cast("string").as("group_key"),
        round(value.cast("double"), 6).as("y"))
      .filter(col("group_key").isNotNull && col("y").isNotNull)
    val c = slim(cal)
    // r18: cut the tiny per-group prediction table — it feeds the
    // residual broadcast join, the eval-side coverage join AND the
    // final assembly join, and uncut each consumer replayed the full
    // calibration scan + aggregate. |groups| rows.
    val pred = Checkpointing.cut(c.groupBy("group_key")
      .agg(count(lit(1)).as("n_cal"),
        (sum(col("y").cast("decimal(28,6)")).cast("double") /
          count(lit(1)).cast("double")).as("pred")))
    val resid = c.join(broadcast(pred), Seq("group_key"))
      .select(col("group_key"),
        round(abs(col("y") - col("pred")), 6).as("r"))
    // cut as well: both consumers below read qhat, and two copies of a
    // subtree over a cut get no exchange reuse (Spark re-instances the
    // self-joined RDD scan, whose copies then canonicalize apart), so
    // uncut the residual-quantile pass ran twice
    val qhat = Checkpointing.cut(Relational.exactQuantiles(
        resid, col("group_key"), col("r"), Seq(1.0 - alpha))
      .select(col("group_key"),
        col(s"p${math.round((1.0 - alpha) * 100)}").as("qhat")))
    val cov = slim(eval_)
      .join(broadcast(pred.select("group_key", "pred")), Seq("group_key"))
      .join(broadcast(qhat), Seq("group_key"))
      .groupBy("group_key")
      .agg(count(lit(1)).as("n_eval"),
        round(sum(when(
            abs(col("y") - col("pred")) <= col("qhat"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double"), 6).as("coverage"))
    pred.join(broadcast(qhat), Seq("group_key"))
      .join(cov, Seq("group_key"), "left")
      .select(col("group_key"), col("n_cal"),
        coalesce(col("n_eval"), lit(0L)).as("n_eval"),
        round(col("pred"), 6).as("pred"), col("qhat"), col("coverage"))
      .orderBy("group_key")
  }

  /** Hájek (self-normalizing Horvitz–Thompson) mean over an UNEQUAL-
    * PROBABILITY sample — the estimator every sampled eval needs: when
    * rows were kept with known inclusion probabilities π (stratified
    * eval sets, importance-sampled human-rating budgets), the plain
    * sample mean is biased toward the over-sampled strata; weighting
    * each row 1/π and self-normalizing,
    *
    *   mean̂ = Σ (y_i/π_i) / Σ (1/π_i)
    *
    * is consistent for the POPULATION mean without knowing N (the
    * Hájek form of HT). The eval-side dual of the sampling operators
    * (`quota/stratified/weighted` build the sample; this reads it
    * back out unbiased).
    *
    * 100 TB shape: one scan, two decimal sums, one divide. No
    * window, no join, no driver state.
    *
    * Determinism: w = round(1/π, 9) (a divide is IEEE-exact, but the
    * quantize pins the decimal-sum input width); each w·y term
    * round(·,6) into DECIMAL(28,6), w into DECIMAL(28,9); the mean is
    * one IEEE divide rounded 6. A scored row with π outside (0, 1]
    * FAILS LOUDLY from inside the weight expression itself (one scan —
    * a separate count-the-bad-rows aggregate would re-evaluate the
    * sample subtree, the ext_roc_auc lesson): a zero π is an
    * impossible sample, and silently dropping it would bias the
    * estimate. Null-y rows are excluded (no measurement).
    *
    * Output: ONE row — (n_sampled, sum_weight, ht_mean); an empty
    * sample yields n=0 with NULL mean. */
  def htMean(sample: DataFrame, value: Column, prob: Column): DataFrame = {
    val w = when(col("p").isNotNull && col("p") > 0.0 && col("p") <= 1.0,
      round(lit(1.0) / col("p"), 9))
      .otherwise(raise_error(concat(
        lit("htMean: inclusion probability "),
        // coalesce: a NULL p would null the whole concat and the job
        // would die with an empty message instead of this diagnostic
        coalesce(col("p").cast("string"), lit("NULL")),
        lit(" outside (0, 1] — fix the sampler, don't drop rows."))))
    sample
      .select(round(value.cast("double"), 6).as("y"),
        prob.cast("double").as("p"))
      .filter(col("y").isNotNull)
      .select(col("y"), w.as("w"))
      .agg(
        count(lit(1)).as("n_sampled"),
        round(coalesce(sum(col("w").cast("decimal(28,9)")),
          lit(0).cast("decimal(28,9)")).cast("double"), 6).as("sum_weight"),
        round(when(count(lit(1)) > 0,
          sum(round(col("w") * col("y"), 6).cast("decimal(28,6)"))
            .cast("double") /
            sum(col("w").cast("decimal(28,9)")).cast("double")), 6)
          .as("ht_mean"))
  }

  def spearman(df: DataFrame, a: Column, b: Column,
      quantize: Option[Int] = None,
      maxDistinct: Long = 10000000L): DataFrame = {
    val rows = quantizedPairs(df, a, b, quantize)
    def rank2(vc: String, out: String): DataFrame = {
      val w = Window.orderBy(col(vc))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val counts = rows.groupBy(vc).agg(count(lit(1)).as("cnt"))
      inlineCardinalityGuard(counts, col(vc), maxDistinct, s"spearman($vc)")
        .select(col(vc),
          (lit(2) * (sum("cnt").over(w) - col("cnt")) + col("cnt") + 1)
            .as(out))
    }
    val nRow = rows.agg(count(lit(1)).as("n"))
    rows
      .join(rank2("va", "r2a"), Seq("va"))
      .join(rank2("vb", "r2b"), Seq("vb"))
      .crossJoin(broadcast(nRow))
      .select(col("n"),
        (col("r2a") - (col("n") + 1)).cast("decimal(38,0)").as("da"),
        (col("r2b") - (col("n") + 1)).cast("decimal(38,0)").as("db"))
      .groupBy("n")
      .agg(sum(col("da") * col("db")).as("sab"),
        sum(col("da") * col("da")).as("saa"),
        sum(col("db") * col("db")).as("sbb"))
      .select(col("n"),
        when(col("saa") =!= 0 && col("sbb") =!= 0,
          col("sab").cast("double") /
            sqrt(col("saa").cast("double") * col("sbb").cast("double")))
          .as("rho"))
  }

  /** Pairwise Pearson correlation matrix over k numeric columns — the
    * feature-redundancy screen run before a mix/weighting model eats
    * the features (two columns at |r| → 1 are one signal twice;
    * [[spearman]]/[[kendallTau]] answer the RANK version for one
    * pair, this answers the linear version for all pairs at once).
    *
    * ONE aggregation computes every moment (k sums, k square-sums,
    * k·(k−1)/2 cross-sums — all map-side-collapsing), then the
    * k·(k−1)/2 output rows explode from that single row: a billion
    * rows × 16 columns costs one scan, no per-pair passes, no shuffle
    * beyond the single-row agg.
    *
    * r = (n·Σxy − Σx·Σy) / sqrt((n·Σx² − (Σx)²)(n·Σy² − (Σy)²)),
    * over LISTWISE-complete rows (a null in ANY column drops the row
    * for ALL pairs — one consistent n, the textbook matrix contract;
    * pairwise-complete would need per-pair n and is a different
    * operator).
    *
    * Arithmetic (the r14 CorrMomentsProbe receipt, SCALE.md and
    * `git show d7412f5:src/main/scala/graft/tools/CorrMomentsProbe.scala`
    * — this formulation
    * is ~7× faster than per-row round→DECIMAL(38) moment sums, 0.88 s
    * vs 6.07 s median at sf0.1×32c, because the hot loop is long
    * multiplies instead of BigDecimal rounds): each value becomes a
    * 6dp tick LONG once via round(x·10⁶, 0) — scale-0 round is
    * cross-engine safe (no scaled-double re-round; both engines round
    * the SAME double) — so every square/cross product is ONE exact
    * long multiply (12dp ticks), summed into DECIMAL(26,0)→(38,0).
    * Pre-scale contract: |x| ≤ ~2·10³ keeps xt·yt < 2^63 (Pearson is
    * affine-invariant, rescaling is free); row-count bound ~10⁸ per
    * the DECIMAL(29,0) operand cast below.
    *
    * The CANCELLATION runs IN DECIMAL — num = n·Σxy − Σx·Σy and both
    * variance terms are computed exactly with tight operand casts
    * (DECIMAL(9,0)·DECIMAL(29,0), DECIMAL(19,0)² — inside both
    * engines' 38-digit multiply ceiling) — and only the three FINAL
    * quantities are cast to double. Those can exceed 2^53 ticks, but
    * a last-ulp cast difference on post-cancellation operands moves r
    * by ~1e-16 relative — harmless at 6dp; casting the RAW moment
    * sums instead (the lagAutocorr pattern) would amplify that ulp
    * through the subtraction, which is why the cancellation must not
    * happen in doubles here. Tick units cancel exactly (all three
    * operands carry 10¹² ticks per value²), so no rescaling divide
    * ever appears. A zero-variance column yields NULL r for its pairs
    * (guarded), not a divide error.
    *
    * Output: (col_a, col_b, n, r) — one row per unordered pair
    * (a before b in the caller's column order), ordered (col_a,
    * col_b). */
  def corrMatrix(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    require(cols.size >= 2, s"need >= 2 columns, got ${cols.size}")
    require(cols.size <= 16, s"k*(k-1)/2 pairs explode past 16 cols, got ${cols.size}")
    val names = cols.map(_._1)
    require(names.distinct.size == names.size, s"duplicate column names: $names")
    val pairs = for {
      i <- names.indices; j <- (i + 1) until names.size
    } yield (names(i), names(j))
    // 6dp tick longs, ONE scale-0 round per value per row
    val base = df.select(cols.map { case (n, c) =>
        round(c.cast("double") * 1e6, 0).cast("long").as(n) }: _*)
      .filter(names.map(n => col(n).isNotNull).reduce(_ && _))
    val aggs =
      names.map(n => sum(col(n)).as(s"s_$n")) ++ // 6dp ticks, exact longs
        names.map(n =>
          sum((col(n) * col(n)).cast("decimal(26,0)")).as(s"q_$n")) ++
        pairs.map { case (a, b) =>
          sum((col(a) * col(b)).cast("decimal(26,0)")).as(s"p_${a}_$b") }
    val g = base.agg(count(lit(1)).as("n"), aggs: _*)
    def nDec = col("n").cast("decimal(9,0)")
    def big(c: Column) = c.cast("decimal(29,0)")
    def sDec(c: Column) = c.cast("decimal(19,0)")
    // products re-capped at DECIMAL(37,0) so the subtraction's width
    // stays inside BOTH engines' 38-digit ceiling (add widens by 1)
    def d37(c: Column) = c.cast("decimal(37,0)")
    val pairRows = pairs.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        // exact decimal cancellation; double only at the very edge
        (d37(nDec * big(col(s"p_${a}_$b"))) -
          d37(sDec(col(s"s_$a")) * sDec(col(s"s_$b"))))
          .cast("double").as("num"),
        (d37(nDec * big(col(s"q_$a"))) -
          d37(sDec(col(s"s_$a")) * sDec(col(s"s_$a"))))
          .cast("double").as("var_a"),
        (d37(nDec * big(col(s"q_$b"))) -
          d37(sDec(col(s"s_$b")) * sDec(col(s"s_$b"))))
          .cast("double").as("var_b"))
    }
    g.select(col("n"), explode(array(pairRows: _*)).as("pr"))
      .select(col("pr.col_a").as("col_a"), col("pr.col_b").as("col_b"),
        col("n"),
        when(col("pr.var_a") > 0.0 && col("pr.var_b") > 0.0,
          round(col("pr.num") /
            (sqrt(col("pr.var_a")) * sqrt(col("pr.var_b"))), 6))
          .as("r"))
      .orderBy("col_a", "col_b")
  }

  /** Best 1-D GINI SPLIT (the CART stump step, Breiman et al. '84):
    * the threshold t on a continuous score minimizing the weighted
    * Gini impurity of {score ≤ t} vs {score > t} against a boolean
    * label — the principled way to SET a curation cutoff
    * (quality-score keep/drop lines are usually eyeballed; this reads
    * the split the data supports, with the impurity drop as its
    * evidence).
    *
    * Candidates are the distinct observed scores (the split value is
    * always achievable; midpoints buy nothing on a step function).
    * The t = max(score) candidate (empty right side) is legal and
    * scores as the root impurity — never selected unless nothing
    * splits, which is itself the finding.
    *
    * Determinism: per-score positive/total counts are exact; left/
    * right cumulatives are windows over the DISTINCT-SCORE table
    * ([[rocAuc]]'s shape, same cardinality guard — never a window
    * over raw rows); the impurity chain is IEEE on exact integers;
    * argmin tie-breaks to the SMALLEST threshold. Gini of an empty
    * side is 0 with weight 0 (guarded, no 0/0).
    *
    * 100 TB shape: one (score)-keyed aggregate with map-side
    * partials, two windows over ≤ |distinct scores| rows, a 1-row
    * argmin.
    *
    * Output: ONE row — (n, n_pos, gini_root 6dp, best_threshold,
    * gini_split 6dp, gain 6dp, left_n, left_pos, right_n,
    * right_pos). */
  def bestSplit(
      df: DataFrame, score: Column, label: Column,
      maxDistinct: Long = 10000000L): DataFrame = {
    val base = df
      .select(round(score.cast("double"), 6).as("s"),
        when(label, 1L).otherwise(0L).as("y"))
      .filter(col("s").isNotNull && label.isNotNull)
    val perScore = base.groupBy("s")
      .agg(count(lit(1)).as("c"), sum("y").as("p"))
    val guarded = inlineCardinalityGuard(
      perScore, col("s"), maxDistinct, "bestSplit")
    val cum = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def gini(pos: Column, n: Column): Column = {
      val pr = pos.cast("double") / n.cast("double")
      lit(1.0) - pr * pr - (lit(1.0) - pr) * (lit(1.0) - pr)
    }
    val curve = guarded
      .withColumn("ln_", sum("c").over(cum))
      .withColumn("lp", sum("p").over(cum))
      .withColumn("n", sum("c").over(full))
      .withColumn("np", sum("p").over(full))
      .withColumn("rn_", col("n") - col("ln_"))
      .withColumn("rp", col("np") - col("lp"))
      .withColumn("gini_split", round(
        (when(col("ln_") > 0, gini(col("lp"), col("ln_")) *
          col("ln_").cast("double")).otherwise(lit(0.0)) +
          when(col("rn_") > 0, gini(col("rp"), col("rn_")) *
            col("rn_").cast("double")).otherwise(lit(0.0))) /
          col("n").cast("double"), 6))
    curve
      .orderBy(col("gini_split"), col("s"))
      .limit(1)
      .select(
        col("n").cast("long").as("n"), col("np").cast("long").as("n_pos"),
        round(gini(col("np"), col("n")), 6).as("gini_root"),
        col("s").as("best_threshold"),
        col("gini_split"),
        round(gini(col("np"), col("n")) - col("gini_split"), 6).as("gain"),
        col("ln_").cast("long").as("left_n"),
        col("lp").cast("long").as("left_pos"),
        col("rn_").cast("long").as("right_n"),
        col("rp").cast("long").as("right_pos"))
  }

  /** McNemar's paired test (McNemar '47, Edwards continuity
    * correction) — the right way to compare TWO CLASSIFIERS on the
    * SAME items: two independent [[confusionMatrix]] readouts ignore
    * the pairing, and with correlated errors (both models fail on the
    * same hard docs — the normal case) the unpaired comparison wildly
    * overstates the sample. Only the DISCORDANT pairs carry
    * information:
    *
    *   χ² = (max(|b − c| − 1, 0))² / (b + c)
    *
    * with b = A right & B wrong, c = A wrong & B right (the max(·,0)
    * keeps the b = c case at 0 instead of Edwards' spurious
    * 1/(b+c)). No discordant pairs → NULL χ², not 0/0: the models are
    * indistinguishable ON THIS DATA, which is a finding, not a zero.
    *
    * Rows where either prediction or the truth is NULL are dropped —
    * a pair is only a pair when both models answered and the answer
    * is known; n reports what was compared.
    *
    * 100 TB shape: ONE conditional aggregation (4 exact cell counts
    * with map-side partials), one output row, one IEEE divide.
    *
    * Output: ONE row — (n, n_both_right, n_both_wrong, n_a_only,
    * n_b_only, chi2 6dp, significant = χ² > critical). */
  def mcnemar(
      df: DataFrame, predA: Column, predB: Column, truth: Column,
      critical: Double = 3.841): DataFrame = {
    val base = df
      .select(predA.as("pa"), predB.as("pb"), truth.as("y"))
      .filter(col("pa").isNotNull && col("pb").isNotNull &&
        col("y").isNotNull)
      .select((col("pa") === col("y")).as("ra"),
        (col("pb") === col("y")).as("rb"))
    val g = base.agg(
      count(lit(1)).as("n"),
      sum(when(col("ra") && col("rb"), 1L).otherwise(0L))
        .as("n_both_right"),
      sum(when(!col("ra") && !col("rb"), 1L).otherwise(0L))
        .as("n_both_wrong"),
      sum(when(col("ra") && !col("rb"), 1L).otherwise(0L)).as("n_a_only"),
      sum(when(!col("ra") && col("rb"), 1L).otherwise(0L)).as("n_b_only"))
    val b = col("n_a_only").cast("double")
    val c = col("n_b_only").cast("double")
    val num = greatest(abs(b - c) - lit(1.0), lit(0.0))
    val chi2 = when(col("n_a_only") + col("n_b_only") > 0,
      round(num * num / (b + c), 6))
    g.select(col("n"), col("n_both_right"), col("n_both_wrong"),
      col("n_a_only"), col("n_b_only"),
      chi2.as("chi2"),
      (chi2 > critical).as("significant"))
  }

  /** Simpson's-paradox screen (Simpson '51; the Yule–Simpson
    * association reversal): fit the OLS slope of y~x POOLED and
    * WITHIN each group, and flag groups whose within-slope has the
    * opposite sign — the classic confounding trap an aggregate-level
    * dashboard walks into ("quality rises with length overall" while
    * it FALLS inside every source, because sources differ in both).
    * The screen to run before trusting any pooled trend readout
    * ([[graft.operators.Relational]] theilSen, [[welchT]], a
    * lift table) on group-structured data.
    *
    * One scan: per-group decimal moment tuples (n, Σx, Σy, Σxy, Σx²
    * over 6dp-quantized values — exact, order-free, mergeable), then
    * the pooled moments are the SUM of the group rows (algebraic
    * state — the incremental-agg discipline), so the pooled slope
    * costs |groups| rows, never a second scan.
    *
    * Determinism: quantized decimal moments; slopes are final IEEE
    * divides, 6dp; a group (or the pool) with zero x-variance reads
    * NULL slope — screened by the exact decimal min<max comparison
    * (the [[graft.operators.TfIdf.heapsLaw]] rule), never by a
    * double-rounded moment difference. `flips` is NULL when either
    * slope is NULL.
    *
    * Output: (group_key, n, slope 6dp, pooled_slope 6dp, flips), one
    * row per group, ordered by group_key. */
  def simpsonsSlope(
      df: DataFrame, group: Column, x: Column, y: Column): DataFrame = {
    val base = df
      .select(coalesce(group.cast("string"), lit("__null__")).as("g"),
        round(x.cast("double"), 6).cast("decimal(18,6)").as("x"),
        round(y.cast("double"), 6).cast("decimal(18,6)").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val m = base.groupBy("g").agg(
      count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      min("x").as("minx"), max("x").as("maxx"))
    def slope(n: Column, sx: Column, sy: Column, sxy: Column,
        sxx: Column, varies: Column): Column = {
      val num = (n.cast("double") * sxy.cast("double")) -
        (sx.cast("double") * sy.cast("double"))
      val den = (n.cast("double") * sxx.cast("double")) -
        (sx.cast("double") * sx.cast("double"))
      when(n >= 2 && varies && den > 0.0, num / den)
    }
    val pooled = m.agg(
      sum("n").as("n"), sum("sx").as("sx"), sum("sy").as("sy"),
      sum("sxy").as("sxy"), sum("sxx").as("sxx"),
      min("minx").as("minx"), max("maxx").as("maxx"))
      .select(slope(col("n"), col("sx"), col("sy"), col("sxy"),
        col("sxx"), col("minx") < col("maxx")).as("ps"))
    m.crossJoin(broadcast(pooled))
      .select(col("g").as("group_key"), col("n"),
        round(slope(col("n"), col("sx"), col("sy"), col("sxy"),
          col("sxx"), col("minx") < col("maxx")), 6).as("slope"),
        round(col("ps"), 6).as("pooled_slope"))
      .withColumn("flips", col("slope") * col("pooled_slope") < 0.0)
      .orderBy("group_key")
  }

  /** Sequential probability ratio test (Wald '45) over an ordered
    * Bernoulli stream — the ALWAYS-VALID complement to the fixed-n
    * tests here ([[welchT]], [[mannWhitney]]): an experimenter who
    * peeks at a fixed-n p-value every day inflates false positives;
    * SPRT is built to be read continuously and STOPS ITSELF. Walks
    * the stream in (ts, id) order accumulating the log-likelihood
    * ratio of H1: p = p1 against H0: p = p0,
    *
    *   Λ_n = Σ_i [ x_i·ln(p1/p0) + (1−x_i)·ln((1−p1)/(1−p0)) ]
    *
    * and decides at the first n where Λ ≥ A = ln((1−β)/α) (accept H1)
    * or Λ ≤ B = ln(β/(1−α)) (accept H0); the report carries that
    * first-crossing point even though the full stream is scanned
    * (the decision an online monitor WOULD have made, datestamped).
    *
    * Determinism: the two per-event increments quantize once to
    * DECIMAL(18,6) (the transcendental rule); Λ accumulates as an
    * exact decimal prefix sum in (ts, id) order; boundaries compare
    * in doubles at the end. The final Λ is the order-free decimal
    * total, identical to the last prefix row.
    *
    * 100 TB shape: the sequence is the SEMANTICS, not the plan — Λ is
    * a prefix sum of exact decimals, so it distributes by the
    * interarrival day-stitch recipe ([[graft.operators.Events
    * .interarrivalStats]]): rank + prefix-sum inside (calendar day)
    * windows — parallelism is the day count — then running-sum the
    * tiny per-day (count, Λ-total) spine and broadcast each day's
    * exact offsets back; rn and Λ per row are bit-identical to the
    * global walk (decimal addition is exact), so the first crossing
    * is too. An earlier draft used one unpartitioned ordered window
    * and funneled every event through a single task (20.7× wall at
    * the 104× replica — SCALE.md r15); this shape replaced it with
    * the oracle pinning identical output. `ts` must therefore be a
    * timestamp (the day bucket is `date_trunc('day', ts)`, monotone
    * in the order). For a continuously-running monitor, keep
    * (n, successes) as mergeable state and re-derive Λ incrementally
    * ([[graft.operators.Relational]] incremental-agg discipline).
    *
    * Output: one row — (n, n_success, llr_final 6dp, decision
    * ∈ accept_h1|accept_h0|continue, n_at_decision, llr_at_decision
    * 6dp; the *_at_decision fields are NULL while `continue`). */
  def sprt(
      df: DataFrame, ts: Column, id: Column, success: Column,
      p0: Double, p1: Double,
      alpha: Double = 0.05, beta: Double = 0.05): DataFrame =
    sprtImpl(df, None, ts, id, success, p0, p1, alpha, beta)

  /** Per-arm [[sprt]] — the form an experimentation platform actually
    * runs: each treatment arm walks its OWN Λ stream against the same
    * (p0, p1, α, β) design and stops itself independently. Same
    * day-stitched distributed prefix sum as [[sprt]], with every
    * window and spine additionally keyed by arm — parallelism is
    * arms × days.
    *
    * Output: one row per arm — (arm, n, n_success, llr_final,
    * decision, n_at_decision, llr_at_decision), ordered by arm. */
  def sprtByArm(
      df: DataFrame, arm: Column, ts: Column, id: Column,
      success: Column, p0: Double, p1: Double,
      alpha: Double = 0.05, beta: Double = 0.05): DataFrame =
    sprtImpl(df, Some(arm), ts, id, success, p0, p1, alpha, beta)

  private def sprtImpl(
      df: DataFrame, arm: Option[Column], ts: Column, id: Column,
      success: Column, p0: Double, p1: Double,
      alpha: Double, beta: Double): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      s"need distinct p0, p1 in (0,1): $p0 $p1")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"alpha/beta in (0,1): $alpha $beta")
    // α + β ≥ 1 inverts the boundaries (A ≤ B): every first row would
    // trivially "cross" and the readout would report a spurious accept
    require(alpha + beta < 1,
      s"degenerate SPRT design: alpha + beta must be < 1, got $alpha + $beta")
    // the day-stitch recipe buckets by date_trunc('day', ts) — valid
    // only for a temporal ordering column. A numeric `ts` would have
    // silently worked with the pre-r16 single ordered window but now
    // fails analysis inside date_trunc; surface the contract here with
    // a clear message instead of a planner error deep in the walk.
    locally {
      import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
      val tsType = df.select(ts.as("__ts_probe")).schema.head.dataType
      require(Seq(TimestampType, TimestampNTZType, DateType).contains(tsType),
        s"sprt: ordering column must be timestamp/date-typed (got $tsType)" +
          " — the distributed Λ walk buckets by calendar day. Cast your" +
          " ordering column to a timestamp (e.g. timestamp_millis(seq))" +
          " before calling; any monotone cast preserves the walk order.")
    }
    val l1 = log(lit(p1) / lit(p0)).cast("decimal(18,6)")
    val l0 = log((lit(1.0) - lit(p1)) / (lit(1.0) - lit(p0)))
      .cast("decimal(18,6)")
    val a = math.log((1.0 - beta) / alpha)
    val b = math.log(beta / (1.0 - alpha))
    val armKey = arm.map(_ => "__arm").toSeq
    val keep = arm.map(c => ts.isNotNull && id.isNotNull && c.isNotNull)
      .getOrElse(ts.isNotNull && id.isNotNull)
    val base = df
      .filter(keep)
      .select((arm.map(_.as("__arm")).toSeq ++ Seq(
        ts.as("__ts"), id.as("__id"),
        Events.dayIndex(ts).as("__di"),
        when(success, lit(1L)).otherwise(lit(0L)).as("x"),
        when(success, l1).otherwise(l0).as("term"))): _*)
    // rank + Λ-prefix inside each (arm, day) window: parallelism is
    // arms × days, never one task
    val wDay = Window
      .partitionBy((armKey :+ "__di").map(col): _*)
      .orderBy(col("__ts"), col("__id"))
    val walkedDay = base.select(
      (armKey :+ "__di").map(col) ++ Seq(
        col("x"), col("term"),
        row_number().over(wDay).as("rn_day"),
        sum("term").over(wDay.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)).as("llr_day")): _*)
    // tiny (arm, day) totals spine: running-sum the day offsets in
    // order, then broadcast them back — exact decimals, so offset +
    // within-day prefix is bit-identical to the global walk
    val wSpine = Window.partitionBy(armKey.map(col): _*).orderBy("__di")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base
      .groupBy((armKey :+ "__di").map(col): _*)
      .agg(count(lit(1)).as("day_n"), sum("term").as("day_sum"))
      .select((armKey :+ "__di").map(col) ++ Seq(
        coalesce(sum("day_n").over(wSpine), lit(0L)).as("off_n"),
        coalesce(sum("day_sum").over(wSpine),
          lit(0).cast("decimal(38,6)")).as("off_llr")): _*)
    val walked = walkedDay
      .join(broadcast(offsets), armKey :+ "__di")
      .select((armKey.map(col) ++ Seq(
        col("x"), col("term"),
        (col("off_n") + col("rn_day")).as("rn"),
        (col("off_llr") + col("llr_day")).as("llr"))): _*)
    val crossed = walked.withColumn("crossed",
      col("llr").cast("double") >= a || col("llr").cast("double") <= b)
    val aggCols = Seq(
      sum("x").as("n_success"),
      round(sum("term").cast("double"), 6).as("llr_final"),
      min(when(col("crossed"),
        struct(col("rn"), col("llr")))).as("first"))
    val agged = arm match {
      case Some(_) => crossed.groupBy(col("__arm").as("arm"))
        .agg(count(lit(1)).as("n"), aggCols: _*)
      case None => crossed
        .agg(count(lit(1)).as("n"), aggCols: _*)
    }
    agged.select((arm.map(_ => col("arm")).toSeq ++ Seq(
      col("n"), col("n_success"), col("llr_final"),
      when(col("first").isNull, lit("continue"))
        .when(col("first.llr").cast("double") >= a, lit("accept_h1"))
        .otherwise(lit("accept_h0")).as("decision"),
      col("first.rn").cast("long").as("n_at_decision"),
      round(col("first.llr").cast("double"), 6).as("llr_at_decision"))): _*)
      .transform(d => if (arm.isDefined) d.orderBy("arm") else d)
  }
}
