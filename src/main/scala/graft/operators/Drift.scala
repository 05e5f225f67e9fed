package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] Distribution-drift monitoring between two corpus snapshots —
  * the data-quality gate a continuously-ingesting pipeline runs before
  * accepting a new drop: has the length/quality/score distribution
  * moved against the corpus it was tuned on? The standard statistic is
  * the Population Stability Index,
  * PSI = Σ_buckets (p_cur − p_base) · ln(p_cur / p_base), with the
  * usual reading: < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted.
  *
  * 100 TB shape: one aggregation per snapshot keyed on the bucket —
  * the bucket id is a pure monotone function of the value against
  * FIXED split literals (the exactQuantiles bucketing move), so both
  * passes are map-side partial aggregations collapsing each partition
  * to ≤ B rows; the final join/aggregate touches 2·B rows total. No
  * window, no driver loop — drift for a 100 TB pair costs two scans.
  *
  * Cross-engine determinism: counts and proportions are exact (integer
  * counts, one IEEE divide); ln is transcendental, so each bucket's
  * PSI term is quantized round(·, 9) before any reuse — the
  * round-then-cast discipline ([[QualityModel]]). Zero-count buckets
  * are smoothed with `eps` (ln(0) guard), the classic PSI convention,
  * applied identically on both sides.
  */
object Drift {

  /** Per-bucket PSI report between `baseline` and `current` on `value`.
    *
    * `splits` are the INTERIOR bucket boundaries (ascending); bucket i
    * = #splits <= v, so B = splits.length + 1 buckets cover the line
    * and every row lands somewhere (nulls are dropped — they carry no
    * position in the distribution). Fixed literal splits, not
    * quantiles of either side: drift of the CURRENT against the
    * BASELINE is only meaningful on a frame that does not itself move.
    *
    * Output: (bucket, n_base, n_cur, p_base, p_cur, psi_term) — one
    * row per bucket with at least one observation on either side;
    * sum(psi_term) IS the PSI (each term already 9dp-quantized). */
  /** Per-bucket observation counts of `value` under fixed `splits` —
    * the shared first stage of [[psi]] and the streaming drift twin
    * (graft.streaming.EventStreams.driftBucketStream): ONE aggregation
    * keyed on the bucket id, bounded state (≤ splits.length + 1 rows),
    * legal as a Structured Streaming single aggregation. */
  def bucketCounts(
      df: DataFrame, value: Column, splits: Seq[Double],
      cntName: String): DataFrame = {
    require(splits.nonEmpty, "bucketCounts needs at least one boundary")
    require(splits == splits.sorted, "splits must be ascending")
    val splitArr = array(splits.map(lit): _*)
    df.select(value.cast("double").as("v"))
      .filter(col("v").isNotNull)
      .select(size(filter(splitArr, b => b <= col("v"))).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as(cntName))
  }

  def psi(
      baseline: DataFrame,
      current: DataFrame,
      value: Column,
      splits: Seq[Double],
      eps: Double = 1e-6): DataFrame =
    psiFromCounts(
      bucketCounts(baseline, value, splits, "n_base"),
      bucketCounts(current, value, splits, "n_cur"),
      eps)

  /** The counts→PSI step, shared verbatim by the batch operator and
    * the streaming twin's per-snapshot readout so the arithmetic can
    * never fork (the kmvEstimate precedent). `b`: (bucket, n_base);
    * `c`: (bucket, n_cur). */
  def psiFromCounts(b: DataFrame, c: DataFrame, eps: Double = 1e-6): DataFrame = {
    require(eps > 0.0, s"eps must be positive, got $eps")
    // totals ride a broadcast single-row cross join (the B12 pattern),
    // never a driver collect
    val tb = b.agg(sum("n_base").as("t_base"))
    val tc = c.agg(sum("n_cur").as("t_cur"))
    val pB = greatest(col("n_base").cast("double") / col("t_base").cast("double"),
      lit(eps))
    val pC = greatest(col("n_cur").cast("double") / col("t_cur").cast("double"),
      lit(eps))
    b.join(c, Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("n_base", "n_cur"))
      .crossJoin(broadcast(tb))
      .crossJoin(broadcast(tc))
      .select(
        col("bucket").cast("long").as("bucket"),
        col("n_base"), col("n_cur"),
        round(pB, 9).as("p_base"),
        round(pC, 9).as("p_cur"),
        round((pC - pB) * log(pC / pB), 9).as("psi_term"))
      .orderBy("bucket")
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic between `a` and `b`
    * on `value` — the drift test that needs NO bucket choice, the
    * complement of [[psi]]'s fixed-frame report: D = sup_v |F_a(v) −
    * F_b(v)|, with the asymptotic α-level rejection bar
    * c(α)·√((n_a+n_b)/(n_a·n_b)) (c = 1.358 at α = 0.05).
    *
    * Exactness contract: the ECDFs step only at OBSERVED values, so
    * evaluating the gap at every distinct value of either sample is the
    * exact supremum — for discrete/integer-valued columns (lengths,
    * counts, grades) this is the textbook statistic with no
    * approximation. For continuous doubles, pass `quantize = Some(d)`
    * (round(v, d) before counting) to bound the distinct-value
    * cardinality; the statistic is then exact for the quantized
    * variable. The bound is ENFORCED: past `maxDistinct` distinct
    * values the query fails loudly (see [[Eval.cardinalityGuard]])
    * instead of silently funnelling the ECDF window through one task.
    *
    * 100 TB shape: one map-side partial aggregation per sample keyed on
    * the value (each partition collapses to ≤ |distinct| rows), a full
    * outer join of the two count tables, and ONE window over the
    * ALREADY-AGGREGATED per-value table — cardinality = distinct
    * observed values ≪ corpus, the same safe post-aggregate window as
    * B6's share-of-total (and deliberately NOT a window over raw rows).
    *
    * Determinism: counts are exact integers; each ECDF is one IEEE
    * divide; |·|, −, max are exact; the argmax value ties break to the
    * SMALLEST v via a struct max. Output: ONE row
    * (n_a, n_b, d_stat, at_value, reject) when either sample has ≥ 1
    * non-null value; ZERO rows when both are empty (no observed values
    * ⇒ no ECDF — the same empty-input contract as
    * [[graft.operators.Eval.spearman]]). */
  def ksTest(
      a: DataFrame, b: DataFrame, value: Column,
      critical: Double = 1.358,
      quantize: Option[Int] = None,
      maxDistinct: Long = 10000000L): DataFrame = {
    require(critical > 0, s"critical must be positive, got $critical")
    def counts(df: DataFrame, name: String) =
      df.select(Eval.quantized(value, quantize).as("v")).filter(col("v").isNotNull)
        .groupBy("v").agg(count(lit(1)).as(name))
    val joined = counts(a, "ca").join(counts(b, "cb"), Seq("v"), "full_outer")
      .na.fill(0L, Seq("ca", "cb"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // cardinality contract, ENFORCED (VERDICT r11 ask #4): the ECDF
    // window runs over the distinct-value table — fail loudly past
    // maxDistinct instead of single-tasking raw continuous doubles;
    // quantize=Some(d) is the documented fix (exact for the quantized
    // variable, per the scaladoc contract above). The guard AND the
    // n_a/n_b totals ride the same sort as the cumulative window —
    // the r12 cross-join forms re-evaluated the joined count subtree
    // (three extra corpus passes); full-frame window sums read the
    // rows already in hand.
    Eval.inlineCardinalityGuard(joined, col("v"), maxDistinct, "ksTest")
      .select(col("v"),
        sum("ca").over(w).as("cum_a"), sum("cb").over(w).as("cum_b"),
        sum("ca").over(full).as("n_a"), sum("cb").over(full).as("n_b"))
      .select(col("n_a"), col("n_b"),
        abs(col("cum_a").cast("double") / col("n_a").cast("double") -
          col("cum_b").cast("double") / col("n_b").cast("double")).as("gap"),
        col("v"))
      .groupBy("n_a", "n_b") // single group: both are constants
      .agg(max(struct(col("gap"), (-col("v")).as("nv"))).as("best"))
      .select(col("n_a"), col("n_b"),
        col("best.gap").as("d_stat"),
        (-col("best.nv")).as("at_value"),
        (col("best.gap") >= lit(critical) *
          sqrt((col("n_a") + col("n_b")).cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")))).as("reject"))
  }

  /** THEIL-T inequality with within/between decomposition (Theil '67;
    * the decomposability [[giniConcentration]] lacks — Gini gives one
    * number, Theil splits it): how unequal is a VALUE (doc length,
    * user revenue, tokens per source) across rows, and how much of
    * that inequality lives INSIDE groups vs BETWEEN group means:
    *
    *   T_g = (1/n_g) Σ_{i∈g} (x_i/μ_g)·ln(x_i/μ_g)
    *   T_between = Σ_g (n_g μ_g / Σx) · ln(μ_g/μ)
    *   T_total = Σ_g w_g·T_g + T_between,  w_g = group's value share
    *
    * The mix-planning readout: a high between-share says rebalancing
    * SOURCES fixes the skew; a high within-share says the skew is
    * intrinsic to each source and per-source caps are the lever.
    *
    * Only x > 0 rows enter (ln is undefined otherwise — the standard
    * Theil domain; screen zero/negative upstream). Per-row terms
    * quantize
    * ln(x/μ_g) to DECIMAL(18,6) before the exact x-weighted decimal
    * sums (the unigram-nll xsum rule; one transcendental deep).
    * μ uses exact decimal sums of 6dp-quantized x.
    *
    * 100 TB shape: two scans (group moments, then terms against the
    * broadcast ≤|groups|-row moment table), both map-side-collapsing;
    * the decomposition folds |groups| rows.
    *
    * Output: one row per group — (group_key, n, value_share 6dp,
    * theil_within 6dp) — plus ('__between__', total n, 1.0,
    * T_between) and ('__total__', n, 1.0, T_total), ordered by
    * group_key.
    *
    * [r18b REJECTED] a MEMORY_AND_DISK persist of the tiny `moments`
    * table (consumed by tot, the term join and the final assembly)
    * measured 1.58/0.94 then 1.22/1.03 at sf0.1 (regressed) and
    * 1.38/0.92 at 104× (wash) — bench/r18b_batch{2,3}_paired_sf01.json,
    * r18b_batch3_paired_104x.json: the cache barrier serializes stages
    * that previously overlapped and the replayed subtree is a cheap
    * columnar scan+aggregate (the r17 fuzzy/bm25 rejection class). */
  def theilDecomposition(
      df: DataFrame, group: Column, value: Column): DataFrame = {
    val base = df
      .select(group.cast("string").as("g"),
        round(value.cast("double"), 6).as("x"))
      .filter(col("g").isNotNull && col("x").isNotNull && col("x") > 0.0)
    val moments = base.groupBy("g")
      .agg(count(lit(1)).as("n_g"),
        sum(col("x").cast("decimal(38,6)")).as("s_g"))
    val tot = moments.agg(
      sum("n_g").as("n"), sum("s_g").as("s"))
    val mu = col("s_g").cast("double") / col("n_g").cast("double")
    val withTerms = base
      .join(broadcast(moments), Seq("g"))
      .select(col("g"),
        (col("x") * log(col("x") / mu).cast("decimal(18,6)")
          .cast("double")).cast("decimal(28,6)").as("term"))
      .groupBy("g")
      .agg(sum("term").as("t_sum"))
    val perGroup = moments.join(withTerms, Seq("g"))
      .crossJoin(broadcast(tot))
      .select(col("g"), col("n_g"), col("s_g"), col("n"), col("s"),
        (col("s_g").cast("double") / col("s").cast("double"))
          .as("share"),
        // T_g = Σ x·q(ln(x/μ_g)) / Σ_g x  (= (1/n_g)Σ(x/μ_g)ln(·))
        (col("t_sum").cast("double") / col("s_g").cast("double"))
          .as("t_g"),
        (log(mu / (col("s").cast("double") / col("n").cast("double")))
          .cast("decimal(18,6)").cast("double")).as("ln_mu_ratio"))
    val groups = perGroup.select(col("g").as("group_key"),
      col("n_g").as("n"), round(col("share"), 6).as("value_share"),
      round(col("t_g"), 6).as("theil"))
    val between = perGroup
      .select((col("share") * col("ln_mu_ratio")).cast("decimal(28,12)")
        .as("bt"),
        (col("share") * col("t_g")).cast("decimal(28,12)").as("wt"),
        col("n"))
      .groupBy("n")
      .agg(sum("bt").as("tb"), sum("wt").as("tw"))
    val brows = between.select(
      lit("__between__").as("group_key"), col("n"),
      lit(1.0).as("value_share"),
      round(col("tb").cast("double"), 6).as("theil"))
      .unionByName(between.select(
        lit("__total__").as("group_key"), col("n"),
        lit(1.0).as("value_share"),
        round(col("tw").cast("double") + col("tb").cast("double"), 6)
          .as("theil")))
    groups.unionByName(brows).orderBy("group_key")
  }

  /** Gini concentration of row mass across the values of `group` — the
    * one-number mixture-health readout for a training corpus ("is 90%
    * of the data three domains?"): 0 = perfectly even shares, → 1 =
    * all mass on one value. Discrete form over the k group totals
    * c_(1) ≤ … ≤ c_(k):
    *
    *   G = (2·Σ i·c_(i) − (k+1)·Σc) / (k·Σc)
    *
    * 100 TB shape: ONE map-side aggregation keyed on the group (each
    * partition collapses to ≤ k rows), a rank window over the k-row
    * count table (the post-aggregate-window discipline — never over
    * raw rows), one final single-row aggregate.
    *
    * Determinism: pure integer arithmetic (rank products summed as
    * DECIMAL(38,0)) until one IEEE divide; the rank order totals ties
    * by (count, group value). Output: ONE row (k, n_total, gini). */
  def giniConcentration(df: DataFrame, group: Column): DataFrame = {
    val counts = df.select(group.cast("string").as("grp"))
      .filter(col("grp").isNotNull)
      .groupBy("grp").agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("n"), col("grp"))
    counts
      .select(col("n"), row_number().over(w).cast("long").as("i"))
      .agg(count(lit(1)).as("k"), sum("n").as("n_total"),
        sum(col("i").cast("decimal(38,0)") * col("n")).as("iwsum"))
      .select(col("k"), col("n_total"),
        ((col("iwsum") * 2 -
          (col("k") + 1).cast("decimal(38,0)") * col("n_total"))
          .cast("double") /
          (col("k").cast("decimal(38,0)") * col("n_total")).cast("double"))
          .as("gini"))
  }

  /** Chi-square homogeneity readout over the `rowDim` × `colDim`
    * contingency table ("does the language mix differ across
    * sources?") — per-cell observed vs expected-under-independence,
    * INCLUDING structurally-possible empty cells (an observed zero
    * where the margins expect mass is exactly the signal):
    *
    *   e(r,c) = n_r·n_c / N,   term(r,c) = (o − e)² / e
    *
    * Σ term is the X² statistic on (|r|−1)(|c|−1) degrees of freedom.
    *
    * 100 TB shape: ONE aggregation keyed on the cell (≤ |r|·|c| groups,
    * map-side collapse); margins, the zero-cell spine (margin cross
    * join — dimension-sized, never row-sized), and the expected values
    * all live in the ≤ |r|·|c|-row world. One corpus scan total.
    *
    * Determinism: counts exact; e is two IEEE multiplies/divides on
    * exact-integer-valued doubles; each term is quantized round(·, 9),
    * so sum(chi2_term) replays engine-portably via the usual decimal
    * discipline. Output: one row per spine cell (r, c, o, e,
    * chi2_term), ordered. */
  /** Mutual information (and normalized MI) between two categorical
    * columns — the association readout the χ² table doesn't give in
    * interpretable units: "how many nats does knowing the source tell
    * you about the language?" Zero iff independent; NMI = MI/√(H_a·H_b)
    * ∈ [0,1] makes slices comparable across dimension sizes.
    *
    *   MI = Σ_cells (o/N)·ln(N·o / (n_a·n_b)),  H = −Σ (n/N)·ln(n/N)
    *
    * (observed-zero cells contribute 0 — the 0·ln0 limit — so only the
    * observed cell table participates, unlike [[chi2Homogeneity]]'s
    * zero-including spine.)
    *
    * 100 TB shape: ONE aggregation keyed on the (a, b) cell — ≤ k²
    * groups, map-side collapse; margins and entropies derive from the
    * cell table. One corpus scan total.
    *
    * Determinism: counts exact; each transcendental term (ln) is
    * quantized round(·, 9) and summed as DECIMAL(28,12) — the standard
    * partition-order-free replay discipline. NMI is null when either
    * column is constant (its entropy is 0 — normalization undefined).
    * Output: ONE row (n_total, n_cells, h_a, h_b, mi, nmi); ZERO rows
    * on empty input. */
  def mutualInformation(df: DataFrame, a: Column, b: Column): DataFrame = {
    val cells = df
      .select(a.cast("string").as("ka"), b.cast("string").as("kb"))
      .filter(col("ka").isNotNull && col("kb").isNotNull)
      .groupBy("ka", "kb").agg(count(lit(1)).as("o"))
    val ma = cells.groupBy("ka").agg(sum("o").as("n_a"))
    val mb = cells.groupBy("kb").agg(sum("o").as("n_b"))
    val tot = cells.agg(sum("o").as("n_total"))
    def entropy(m: DataFrame, n: String, out: String): DataFrame = m
      .crossJoin(broadcast(tot))
      .select(round(lit(-1.0) * col(n).cast("double") /
          col("n_total").cast("double") *
          log(col(n).cast("double") / col("n_total").cast("double")), 9)
        .cast("decimal(28,12)").as("h"))
      .agg(sum("h").cast("double").as(out))
    val mi = cells
      .join(ma, Seq("ka")).join(mb, Seq("kb"))
      .crossJoin(broadcast(tot))
      .select(col("n_total"),
        round(col("o").cast("double") / col("n_total").cast("double") *
          log(col("n_total").cast("double") * col("o").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double"))), 9)
          .cast("decimal(28,12)").as("term"))
      .groupBy("n_total")
      .agg(count(lit(1)).as("n_cells"), sum("term").cast("double").as("mi"))
    mi // empty input → the groupBy produces zero rows
      .crossJoin(broadcast(entropy(ma, "n_a", "h_a")))
      .crossJoin(broadcast(entropy(mb, "n_b", "h_b")))
      .select(col("n_total"), col("n_cells"), col("h_a"), col("h_b"),
        col("mi"),
        when(col("h_a") > 0.0 && col("h_b") > 0.0,
          col("mi") / sqrt(col("h_a") * col("h_b"))).as("nmi"))
  }

  /** Cramér's V — the χ² statistic rescaled to a [0, 1] association
    * strength (comparable across table sizes and corpus sizes, which
    * raw χ² is not): V = √(χ² / (N·(min(r,c) − 1))). The one-number
    * companion to [[chi2Homogeneity]]'s per-cell diagnostic table,
    * computed from the same zero-including spine.
    *
    * 100 TB shape: [[chi2Homogeneity]]'s single scan + cell-sized
    * world, then one single-row aggregate over the ≤ r·c spine rows.
    *
    * Determinism: sum of the already-9dp-quantized chi2_terms in
    * DECIMAL(28,12); dimension counts exact; one IEEE divide + sqrt.
    * V is null when min(r,c) = 1 (a constant column — association
    * undefined). Output: ONE row (n_total, r_levels, c_levels, chi2,
    * v); ZERO rows on empty input. */
  def cramersV(df: DataFrame, rowDim: Column, colDim: Column): DataFrame =
    chi2Homogeneity(df, rowDim, colDim)
      .agg(
        sum("o").as("n_total"),
        countDistinct("r").as("r_levels"),
        countDistinct("c").as("c_levels"),
        sum(col("chi2_term").cast("decimal(28,12)")).cast("double").as("chi2"))
      .filter(col("n_total").isNotNull) // empty input → zero rows
      .select(col("n_total"), col("r_levels"), col("c_levels"), col("chi2"),
        when(least(col("r_levels"), col("c_levels")) > 1,
          sqrt(col("chi2") / (col("n_total").cast("double") *
            (least(col("r_levels"), col("c_levels")) - 1).cast("double"))))
          .as("v"))

  /** Jensen–Shannon divergence between two samples' distributions over
    * a categorical `key` — the SYMMETRIC, always-finite drift number
    * ([[psi]] needs a bucket frame and blows up on empty reference
    * buckets; KL is asymmetric and infinite on disjoint support; JSD is
    * bounded in [0, ln 2] no matter what):
    *
    *   JSD = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m),  m = (p+q)/2
    *
    * (keys absent from one side contribute their ½·p·ln 2 — exactly the
    * disjoint-support mass KL cannot price). Apply to hashed token
    * buckets for a vocabulary-drift readout (`ext_token_jsd` composes
    * this over the [[graft.operators.TextPipeline.dsirWeights]]
    * bucketing) or to raw categorical keys for source/domain mix drift.
    *
    * 100 TB shape: one map-side count aggregation per sample keyed on
    * the key (≤ |distinct| rows per partition), a full outer join of
    * the two count tables, one single-row aggregate — the [[ksTest]]
    * shape without the window.
    *
    * Determinism: counts exact; each ln term is quantized round(·, 9)
    * into a DECIMAL(28,12) sum. Output: ONE row (n_keys, n_a, n_b,
    * jsd); ZERO rows when both samples are empty. */
  def jsDivergence(a: DataFrame, b: DataFrame, key: Column): DataFrame = {
    def counts(df: DataFrame, name: String) =
      df.select(key.cast("string").as("k")).filter(col("k").isNotNull)
        .groupBy("k").agg(count(lit(1)).as(name))
    val joined = counts(a, "ca").join(counts(b, "cb"), Seq("k"), "full_outer")
      .na.fill(0L, Seq("ca", "cb"))
    val tot = joined.agg(sum("ca").as("n_a"), sum("cb").as("n_b"))
    joined
      .crossJoin(broadcast(tot))
      // ANSI-safe: an EMPTY side has n = 0, and ANSI mode errors on the
      // divide instead of yielding NaN — define its shares as 0 (the
      // jsd is nulled below anyway; keys stay countable)
      .select(col("n_a"), col("n_b"),
        when(col("n_a") > 0,
          col("ca").cast("double") / col("n_a").cast("double"))
          .otherwise(lit(0.0)).as("p"),
        when(col("n_b") > 0,
          col("cb").cast("double") / col("n_b").cast("double"))
          .otherwise(lit(0.0)).as("q"))
      .select(col("n_a"), col("n_b"),
        (when(col("p") > 0.0,
          round(col("p") * log(col("p") * 2.0 / (col("p") + col("q"))), 9))
          .otherwise(lit(0.0)).cast("decimal(28,12)") +
         when(col("q") > 0.0,
           round(col("q") * log(col("q") * 2.0 / (col("p") + col("q"))), 9))
           .otherwise(lit(0.0)).cast("decimal(28,12)")).as("term"))
      .groupBy("n_a", "n_b") // single group: both are constants
      // cast the decimal sum to double BEFORE halving: /2 on a double
      // is IEEE-exact, while decimal division rescales differently
      // across engines
      .agg(count(lit(1)).as("n_keys"),
        (sum("term").cast("double") / 2).as("jsd"))
      // one-sided emptiness: divergence from NOTHING is undefined, not
      // a number — null jsd keeps the slice visible (the rocAuc rule)
      .select(col("n_keys"), col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0, col("jsd")).as("jsd"))
  }

  /** QQ-shift drift table: the per-quantile DISPLACEMENT between a
    * reference and a current distribution — the readout that tells you
    * WHERE a drift lives, which the scalar tests (KS/PSI/JSD) by
    * design cannot: "p90 moved +40, the body didn't" is an actionable
    * tail-inflation diagnosis; a KS statistic of 0.07 is not.
    *
    * Both quantile columns are EXACT data elements from
    * [[Relational.exactQuantiles]]' range-bucketed distributed
    * selection (rank ⌈p·n⌉, the g6 discipline) — never interpolated,
    * so cross-engine equality is exact with NO float discipline; the
    * shift is one IEEE subtraction of two exact elements.
    *
    * 100 TB shape: two exactQuantiles passes (each: sampled split
    * points, tiny count shuffle, owning-cell rank-pick — see its
    * scaladoc), then a broadcast cross of two 1-row frames unpivoted
    * into |ps| rows. No corpus-sized window, no driver state beyond
    * the bounded split/count pulls.
    *
    * Output: one row per requested quantile — (level_pct, q_ref,
    * q_cur, shift), ordered by level.
    *
    * [r18b REJECTED] fusing both sides into ONE exactQuantiles machine
    * (side-tag group key, aggregate-pivoted back to r/c columns) was
    * implemented and measured: 0.84/0.82 improved at sf0.1 — but
    * 1.15/1.22 REGRESSED at the 104× replica at both interleaved
    * positions (bench/r18b_batch3_paired_{sf01,104x}.json). Scale is
    * the contract, so the per-side machines stay: at volume, the
    * side-tagged union makes every quantile pass read BOTH sides and
    * doubles the rows through the shared exchange/window, which costs
    * more than the job-count halving saves. */
  def qqShift(
      ref: DataFrame, cur: DataFrame, value: Column,
      ps: Seq[Double] = (1 to 9).map(_ / 10.0)): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p < 1.0),
      "quantile levels must be in (0, 1)")
    def side(df: DataFrame, prefix: String): DataFrame =
      Relational.exactQuantiles(
        df.select(value.as("v")), lit(0), col("v"), ps)
        .select(ps.map { p =>
          val pct = math.round(p * 100)
          col(s"p$pct").as(s"$prefix$pct")
        }: _*)
    val r = side(ref, "r")
    val c = side(cur, "c")
    val stacked = ps.map { p =>
      val pct = math.round(p * 100)
      s"${pct}L, r$pct, c$pct"
    }.mkString(", ")
    r.crossJoin(broadcast(c)) // two 1-row frames — scalar cross
      .select(expr(
        s"stack(${ps.length}, $stacked) AS (level_pct, q_ref, q_cur)"))
      .withColumn("shift",
        round(col("q_cur").cast("double") - col("q_ref").cast("double"), 6))
      .orderBy("level_pct")
  }

  def chi2Homogeneity(df: DataFrame, rowDim: Column, colDim: Column): DataFrame = {
    val cells = df
      .select(rowDim.cast("string").as("r"), colDim.cast("string").as("c"))
      .filter(col("r").isNotNull && col("c").isNotNull)
      .groupBy("r", "c").agg(count(lit(1)).as("o"))
    val mr = cells.groupBy("r").agg(sum("o").as("n_r"))
    val mc = cells.groupBy("c").agg(sum("o").as("n_c"))
    val tot = cells.agg(sum("o").as("n_total"))
    mr.crossJoin(broadcast(mc)) // the zero-including cell spine
      .join(cells, Seq("r", "c"), "left").na.fill(0L, Seq("o"))
      .crossJoin(broadcast(tot))
      .select(col("r"), col("c"), col("o"),
        (col("n_r").cast("double") * col("n_c").cast("double") /
          col("n_total").cast("double")).as("e"))
      .withColumn("chi2_term", round(
        (col("o").cast("double") - col("e")) *
          (col("o").cast("double") - col("e")) / col("e"), 9))
      .orderBy("r", "c")
  }

  /** CUSUM changepoint scan per group — WHERE did the level of a daily
    * series shift? For each group's daily-total series x_1..x_n the
    * cumulative deviation from the series mean,
    * C_d = Σ_{i≤d} (x_i − x̄), peaks (in |·|) at the most likely single
    * changepoint (Page '54 CUSUM; the offline max-|CUSUM| form is the
    * standard first-pass changepoint locator). The PSI/KS/JSD family
    * asks "did the distribution move between two snapshots"; this asks
    * the orthogonal time-localized question "when did the level move
    * inside ONE window of history".
    *
    * Integer-exact trick: C_d = (n·P_d − d·T)/n where P_d is the prefix
    * sum and T the total, so the scan compares S_d = n·P_d − d·T — all
    * DECIMAL arithmetic on 6dp ticks, EXACT (no float accumulation
    * anywhere); the only IEEE ops are the final readout divides. The
    * argmax is min(struct(−|S_d|, d)) — deterministic tie-break to the
    * earliest day.
    *
    * 100 TB shape: one map-side-collapsing aggregation to (group, day)
    * rows, then calendar-bounded windows per group (the lagAutocorr
    * class — state scales with days in range, not event volume) and a
    * final |groups|-row argmax aggregation.
    *
    * Tick bound: |S_d| ≤ 2·n_days·Σ|x| ticks; at 6dp that holds under
    * the 2^53 double-cast ceiling for Σ|value| up to ~10⁸ per group-day
    * range — metric-scale values at any row count (the group_trend
    * magnitude contract).
    *
    * Output: one row per group — (group_key, n_days, cp_day [epoch
    * day, BIGINT], cusum [signed C_d at the peak, 6dp], mean_daily
    * [x̄, 6dp]). Groups need ≥ 1 day; a flat series peaks at S=0, day 1. */
  def cusumChangepoint(
      events: DataFrame,
      group: Column,
      ts: Column,
      value: Column): DataFrame = {
    val daily = events.filter(ts.isNotNull)
      .select(group.as("group_key"),
        Events.dayIndex(ts).as("di"),
        round(value.cast("double"), 6).as("x"))
      .groupBy("group_key", "di")
      .agg(coalesce(sum(col("x").cast("decimal(28,6)")),
        lit(0).cast("decimal(28,6)")).as("xd"))
    val wOrd = Window.partitionBy("group_key").orderBy("di")
    val wAll = Window.partitionBy("group_key")
      .orderBy("di")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val scanned = daily.select(
      col("group_key"), col("di"),
      count(lit(1)).over(wAll).as("nd"),
      // 28,6 (not 38,6): the ×DECIMAL(10,0) products below must fit
      // DuckDB's hard 38-digit multiply ceiling as well as Spark's
      sum(col("xd")).over(wAll).cast("decimal(28,6)").as("total"),
      sum(col("xd")).over(wOrd).cast("decimal(28,6)").as("prefix"),
      row_number().over(wOrd).cast("long").as("d_idx"))
      .select(col("group_key"), col("di"), col("nd"), col("total"),
        (col("nd").cast("decimal(10,0)") * col("prefix") -
          col("d_idx").cast("decimal(10,0)") * col("total"))
          .cast("decimal(38,6)").as("s"))
    scanned
      .groupBy("group_key")
      .agg(
        max(col("nd")).as("n_days"),
        max(col("total")).as("total"),
        min(struct((lit(0).cast("decimal(38,6)") - abs(col("s"))).as("neg_abs"),
          col("di").as("d"), col("s").as("s_at"))).as("peak"))
      .select(
        col("group_key"), col("n_days"),
        col("peak.d").as("cp_day"),
        round(col("peak.s_at").cast("double") /
          col("n_days").cast("double"), 6).as("cusum"),
        round(col("total").cast("double") /
          col("n_days").cast("double"), 6).as("mean_daily"))
  }

  /** Benford first-digit screen — fabricated, truncated, or
    * unit-mangled numeric feeds break Benford's law long before they
    * break range checks, which makes the first-significant-digit
    * distribution a classic cheap ingest-quality gate on naturally
    * spanning magnitudes (prices, durations, counts). Expected share
    * of leading digit d is log10(1 + 1/d) (Benford 1938; Newcomb
    * 1881); the readout is per-digit observed vs expected with the
    * χ² contribution, so both the verdict (Σ chi2_term against the
    * 8-df bar) and WHICH digit broke ride one result.
    *
    * Digit extraction is STRING-based on the integer part
    * (first char of the BIGINT floor) — deliberately not
    * floor(v/10^floor(log10 v)): log10 is transcendental and lands
    * exactly ON integer boundaries at powers of ten, where libm
    * last-ulp differences flip the digit cross-engine. Integer
    * stringification is identical everywhere. The cost: the screen
    * covers v ≥ 1 only — rows below 1 are excluded from the digit
    * population entirely (the contract is "first digit of the integer
    * part", stated here rather than hidden; pre-scale sub-unit metrics
    * before screening them).
    *
    * 100 TB shape: one map-side-collapsing aggregation to ≤ 9 rows,
    * then a broadcast 9-digit spine (zero-count digits KEPT — the B14
    * discipline; a digit that never occurs is the loudest signal).
    *
    * Determinism: counts exact; the expected probabilities are Scala
    * double literals both engines parse identically (the lshPlanesSql
    * move); share, e = n·p, and the χ² term are IEEE ops on those
    * exact inputs, quantized 6/9dp at the edge.
    *
    * Output: (digit 1..9, n_obs, share 6dp, expected 6dp, chi2_term
    * 9dp) — 9 rows always; NULL share/chi2 on an empty input. */
  def benfordDigits(df: DataFrame, value: Column): DataFrame = {
    val obs = df.select(value.cast("double").as("v"))
      .filter(col("v").isNotNull && col("v") >= 1.0)
      .select(substring(floor(col("v")).cast("long").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val spine = obs
      .agg(coalesce(sum(col("n_obs")), lit(0L)).as("n_total"))
      .select(col("n_total"), explode(array(BenfordP.map { case (d, p) =>
        struct(lit(d).as("digit"), lit(p).as("p"))
      }: _*)).as("dp"))
      .select(col("n_total"), col("dp.digit").as("digit"), col("dp.p").as("p"))
    val o = coalesce(col("n_obs"), lit(0L)).cast("double")
    val e = col("n_total").cast("double") * col("p")
    spine.join(obs, Seq("digit"), "left")
      .select(col("digit"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        when(col("n_total") > 0, round(o / col("n_total").cast("double"), 6))
          .as("share"),
        round(col("p"), 6).as("expected"),
        when(col("n_total") > 0, round((o - e) * (o - e) / e, 9))
          .as("chi2_term"))
      .orderBy("digit")
  }

  /** log10(1 + 1/d) for d = 1..9 — shared with the oracle emitter so
    * both engines parse the identical shortest-round-trip literals. */
  private[graft] val BenfordP: Seq[(Long, Double)] =
    (1 to 9).map(d => (d.toLong, math.log10(1.0 + 1.0 / d)))

  /** Embedding centroid drift per label between two snapshots — did a
    * re-embed, model bump, or upstream text change MOVE a class's
    * region of embedding space? The scalar-drift family (PSI/KS/JSD)
    * watches value distributions; this watches vector geometry, per
    * label: cosine between the two snapshots' class centroids (1 =
    * unmoved; the standard re-embedding sanity gate before mixing old
    * and new vectors in one index).
    *
    * Divide-free centroid trick: cos(Σa/n_a, Σb/n_b) = cos(Σa, Σb) —
    * cosine is invariant under positive scaling, so the per-dimension
    * SUM vectors stand in for the centroids and no mean divide exists
    * anywhere.
    *
    * 100 TB shape: posexplode to (label, dim, value) — the only
    * data-sized step, a map — then one aggregation to |labels|·d rows
    * and a second to |labels|; dot/norm fold over d rows per label.
    * No driver state, no collect, dims discovered from the data.
    *
    * Determinism: values quantized round(·,6) into exact DECIMAL(28,6)
    * per-dim sums (ticks < 2^53 for |v| ≤ 1 up to ~10⁹ rows/label);
    * per-dim products are IEEE on the exact sums cast to double,
    * quantized round(·,6) into decimal sums; one sqrt+divide per label
    * at the readout, 6dp. Zero-norm sides yield NULL cosine (guarded).
    *
    * Output: (label, n_a, n_b, cos_drift), one row per label present
    * in BOTH snapshots (a label missing one side has no drift to
    * measure — it is a coverage question for [[psi]]). */
  def centroidDrift(
      a: DataFrame,
      b: DataFrame,
      label: Column,
      vec: Column): DataFrame = {
    def side(df: DataFrame, tag: String): DataFrame = df
      .select(label.as("lab"), posexplode(vec).as(Seq("pos", "v")))
      .filter(col("lab").isNotNull && col("v").isNotNull)
      .groupBy("lab", "pos")
      .agg(
        sum(round(col("v").cast("double"), 6).cast("decimal(28,6)"))
          .cast("double").as(s"s_$tag"))
    val nOf = (df: DataFrame, tag: String) => df
      .select(label.as("lab")).filter(col("lab").isNotNull)
      .groupBy("lab").agg(count(lit(1)).as(s"n_$tag"))
    val dims = side(a, "a").join(side(b, "b"), Seq("lab", "pos"))
    val folded = dims
      .groupBy("lab")
      .agg(
        sum(round(col("s_a") * col("s_b"), 6).cast("decimal(28,6)")).as("dot"),
        sum(round(col("s_a") * col("s_a"), 6).cast("decimal(28,6)")).as("na2"),
        sum(round(col("s_b") * col("s_b"), 6).cast("decimal(28,6)")).as("nb2"))
    folded
      .join(nOf(a, "a"), Seq("lab"))
      .join(nOf(b, "b"), Seq("lab"))
      .select(col("lab").as("label"), col("n_a"), col("n_b"),
        when(col("na2") > 0 && col("nb2") > 0, round(
          col("dot").cast("double") /
            (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))),
          6)).as("cos_drift"))
      .orderBy("label")
  }

  /** Weekday-profile anomaly screen — seasonal traffic data (weekly
    * cycle) makes a GLOBAL daily-count threshold blind: a normal Monday
    * looks like a spike against the weekend mean, and a dead Saturday
    * hides. Score each (group, day) against the mean of ITS OWN weekday
    * bucket instead. Companion to [[graft.operators.Events.lagAutocorr]]
    * (which MEASURES the weekly cycle's strength; this one assumes it
    * and flags residual days) and to Events.trailingZScore (per-entity
    * trailing baseline; this is per-calendar-slot).
    *
    * Integer-exact flags: a day is a spike when cnt·n_dow > 2·Σ_dow
    * (count above 2× its weekday mean) and a dip when 2·cnt·n_dow <
    * Σ_dow (below half) — pure long arithmetic, no divide in the
    * decision, so the flag is bit-deterministic on any engine; the 6dp
    * dow_mean readout is the only IEEE op. Days with no events COUNT AS
    * ZERO (the lagAutocorr zero-fill spine — a silent outage IS the
    * anomaly this screen exists to catch), and the weekday bucket is
    * epoch-day mod 7 (locale-free; 0 = Thursday), not a locale DOW.
    *
    * 100 TB shape: one map-side-collapsing aggregation to (group, day)
    * rows, a broadcast day spine fills gaps, then one calendar-bounded
    * window per (group, weekday-slot). Nothing scales with event volume
    * past the first aggregate.
    *
    * Output: (group_key, di [epoch day], dow [0..6], cnt, n_dow,
    * dow_mean 6dp, is_spike, is_dip) — EVERY day in the observed range,
    * flags false on normal days (the B14 kept-empty-buckets
    * discipline: the readout shows what was checked, not only what
    * fired). */
  def weekdayAnomaly(
      events: DataFrame,
      group: Column,
      ts: Column): DataFrame = {
    val filled = Events.dailyCounts(events, group, ts)
      .withColumn("dow", pmod(col("di"), lit(7L)).cast("long"))
    val wDow = Window.partitionBy("group_key", "dow")
      .orderBy("di")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    filled.select(
      col("group_key"), col("di"), col("dow"), col("cnt"),
      count(lit(1)).over(wDow).as("n_dow"),
      sum(col("cnt")).over(wDow).as("sum_dow"))
      .select(
        col("group_key"), col("di"), col("dow"), col("cnt"), col("n_dow"),
        round(col("sum_dow").cast("double") /
          col("n_dow").cast("double"), 6).as("dow_mean"),
        (col("cnt") * col("n_dow") > col("sum_dow") * 2).as("is_spike"),
        (col("cnt") * col("n_dow") * 2 < col("sum_dow")).as("is_dip"))
  }

  /** Classical additive seasonal decomposition (the moving-average
    * method behind STL's initial pass; period 7 on daily counts):
    * y = trend + seasonal + remainder, where [[weekdayAnomaly]] only
    * FLAGS weekday deviations, this SPLITS the series — the readout
    * that tells an ingest-volume oncall whether a Monday drop is the
    * usual Monday (seasonal), a decaying feed (trend), or an incident
    * (remainder).
    *
    *  - trend_t: centered 7-day moving average, defined only where all
    *    7 neighbors exist (first/last 3 days stay NULL — visible, not
    *    zero-filled);
    *  - seasonal_w: mean detrended value per weekday slot, CENTERED by
    *    subtracting the plain mean of the 7 slot means (so seasonal
    *    sums to ~0 and trend keeps the level);
    *  - remainder_t = y_t − trend_t − seasonal_w(t).
    *
    * Weekday slot = di mod 7 (the [[weekdayAnomaly]] idiom — calendar
    * names add nothing and engines disagree on week starts). Missing
    * days are zero-filled from the [[weekdayAnomaly]] spine first —
    * a gap IS a real zero of the count series.
    *
    * Determinism: trend = exact 7-long-sum / 7.0 (one IEEE divide);
    * detrended quantizes round(y − trend, 6) → DECIMAL(18,6) before
    * the slot means (exact order-free sums); the slot-mean centering
    * sums seven 6dp-quantized means exactly. Every emitted float is
    * one IEEE chain off exact decimals, rounded 6dp.
    *
    * 100 TB shape: events collapse to (group, day) counts in one
    * map-side-partial aggregate; everything after runs on the
    * calendar-bounded spine (windows partitioned BY GROUP over ≤
    * |days| rows each). Nothing downstream scales with event volume.
    *
    * Output: (group_key, di, dow, cnt, trend, seasonal, remainder),
    * trend/remainder NULL on the 3-day edges, ordered (group_key, di). */
  def seasonalDecompose(
      events: DataFrame, group: Column, ts: Column): DataFrame = {
    val filled = Events.dailyCounts(events, group, ts)
      .withColumn("dow", pmod(col("di"), lit(7L)).cast("long"))
    val wTrend = Window.partitionBy("group_key").orderBy("di")
      .rowsBetween(-3, 3)
    val trended = filled
      .withColumn("trend",
        when(count(lit(1)).over(wTrend) === 7,
          sum("cnt").over(wTrend).cast("double") / lit(7.0)))
      .withColumn("det",
        round(col("cnt").cast("double") - col("trend"), 6)
          .cast("decimal(18,6)"))
    val slots = trended
      .filter(col("det").isNotNull)
      .groupBy("group_key", "dow")
      .agg((sum("det").cast("double") /
        count(lit(1)).cast("double")).as("m_raw"))
      .withColumn("m_q", col("m_raw").cast("decimal(18,6)"))
    val wSlots = Window.partitionBy("group_key")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val seasonal = slots
      .withColumn("grand",
        sum("m_q").over(wSlots).cast("double") /
          count(lit(1)).over(wSlots).cast("double"))
      .select(col("group_key"), col("dow"),
        (col("m_raw") - col("grand")).as("s_w"))
    trended
      .join(seasonal, Seq("group_key", "dow"), "left")
      .select(
        col("group_key"), col("di"), col("dow"), col("cnt"),
        round(col("trend"), 6).as("trend"),
        round(col("s_w"), 6).as("seasonal"),
        round(col("cnt").cast("double") - col("trend") - col("s_w"), 6)
          .as("remainder"))
      .orderBy("group_key", "di")
  }

  /** Holt LINEAR (double-exponential) forecast of the per-group daily
    * count series (Holt '57) — the trend-aware upgrade of a plain
    * EWMA: level and trend co-evolve as
    *
    *   l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
    *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    *
    * and the h-step forecast is l + h·b. The feed-health use: the
    * one-step RMSE is the volume-surprise baseline ([[cusumChangepoint]]
    * finds WHERE it broke; this says how noisy "normal" is), and
    * forecast_h is tomorrow-plus-a-week's expected volume for capacity
    * planning. Seasonality is deliberately out of scope —
    * [[seasonalDecompose]] owns period structure; run this on its
    * deseasonalized remainder when the series has a weekly pulse.
    *
    * Missing days on the shared calendar spine are REAL zeros of the
    * series (the [[seasonalDecompose]] rule — a feed that went dark
    * must drag the level down, not vanish from the fold).
    *
    * Determinism: the recurrence is a SEQUENTIAL fold in day order —
    * order-defined by construction — over exact integer daily counts;
    * level/trend/SSE stay IEEE doubles through the fold (+/× only:
    * exact-rounded and engine-identical; no transcendental enters),
    * readouts round 6dp. The fold runs as `aggregate()` over each
    * group's ≤|days| array — groups distribute, the array is
    * calendar-bounded, nothing collects.
    *
    * 100 TB shape: one (group, day) aggregate with map-side partials
    * collapses a billion events to |groups|·|days| rows; the fold
    * costs |days| per group. The window in a 100 TB deployment is a
    * rolling 30–90 day spine, so the array never grows with corpus
    * size — only with calendar reach.
    *
    * Output: (group_key, n_days, level 6dp, trend 6dp, forecast_h 6dp
    * = level + h·trend, rmse 6dp one-step; rmse NULL when n_days < 2),
    * one row per group, ordered by group_key. */
  def holtForecast(
      events: DataFrame, group: Column, ts: Column,
      alpha: Double = 0.5, beta: Double = 0.3,
      horizon: Int = 7): DataFrame = {
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"alpha/beta in (0,1): $alpha $beta")
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    val series = Events.dailyCounts(
        events.filter(group.isNotNull), group.cast("string"), ts)
      .select(col("group_key"), col("di"), col("cnt").cast("double").as("x"))
      .groupBy("group_key")
      .agg(transform(array_sort(collect_list(struct(col("di"), col("x")))),
        e => e.getField("x")).as("xs"))
    val a = lit(alpha)
    val b = lit(beta)
    series.select(
      col("group_key"),
      size(col("xs")).cast("long").as("n_days"),
      aggregate(
        slice(col("xs"), lit(2), size(col("xs")) - 1),
        struct(element_at(col("xs"), 1).as("l"), lit(0.0).as("b"),
          lit(0.0).as("sse")),
        (s, x) => struct(
          (a * x + (lit(1.0) - a) * (s.getField("l") + s.getField("b")))
            .as("l"),
          (b * ((a * x + (lit(1.0) - a)
              * (s.getField("l") + s.getField("b"))) - s.getField("l"))
            + (lit(1.0) - b) * s.getField("b")).as("b"),
          (s.getField("sse")
            + (x - (s.getField("l") + s.getField("b")))
            * (x - (s.getField("l") + s.getField("b")))).as("sse")))
        .as("st"))
      .select(col("group_key"), col("n_days"),
        round(col("st.l"), 6).as("level"),
        round(col("st.b"), 6).as("trend"),
        round(col("st.l") + lit(horizon.toDouble) * col("st.b"), 6)
          .as("forecast_h"),
        round(when(col("n_days") > 1,
          sqrt(col("st.sse") / (col("n_days") - 1).cast("double"))), 6)
          .as("rmse"))
      .orderBy("group_key")
  }
}
