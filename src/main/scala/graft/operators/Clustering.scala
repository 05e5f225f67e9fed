package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** [EXT] Distributed KMeans (Lloyd) over an embedding column, plus the
  * SemDeDup-style semantic dedup built on top of it (Abbas et al. 2023,
  * arXiv:2303.09540: cluster the corpus, then look for near-duplicate
  * pairs only WITHIN a cluster — the cluster assignment is the candidate
  * generator, replacing all-pairs with k small self-joins).
  *
  * 100 TB design:
  *  - Each Lloyd iteration is ONE map pass (argmax-cosine against a
  *    broadcast literal of k centroids — k·dim multiplies per row, pure
  *    codegen'd expressions) plus ONE tiny shuffle: per-dimension sums
  *    are computed by `groupBy(cluster, dim)` with map-side partial
  *    aggregation, so at most k×dim rows leave each task regardless of
  *    corpus size. The driver only ever holds k×dim sums (the new
  *    centroids) — never corpus rows.
  *  - Sums accumulate in DECIMAL(38,15), not double: decimal addition is
  *    exact, so centroid updates are independent of partition order and
  *    the whole fit is bit-deterministic run-to-run (same discipline as
  *    the engine's decimal-accumulated aggregates elsewhere).
  *  - Initial centroids are an id-uniform deterministic sample (rank by
  *    xxhash64(id), distributed top-k) — the same bounded "index build"
  *    budget class as IVF centroid sampling in [[Similarity.ivfTopK]].
  *  - The within-cluster self-join in [[semDedupPairs]] carries (id,
  *    vector) only, is guarded by the shared hot-bucket cap (a degenerate
  *    mega-cluster must not go quadratic — it gets truncated OBSERVABLY,
  *    never silently), and verifies candidates with exact cosine.
  *
  * Reference scope note: the reference app has no clustering surface at
  * all (single Hive table, client-side Python — SURVEY.md §0); this file
  * is part of the [EXT] LLM-data-pipeline tier the brief requires.
  */
object Clustering {

  /** k centroids as one literal array-of-structs column. k·dim literals —
    * broadcast with the plan itself, no join. */
  private def centroidArr(centroids: Array[(Int, Array[Double])]): Column =
    array(centroids.map { case (cid, vec) =>
      struct(lit(cid).as("cluster_id"),
        array(vec.toIndexedSeq.map(lit(_)): _*).as("centroid"))
    }.toIndexedSeq: _*)

  /** Assign every row to its max-cosine centroid (ties → lowest
    * cluster_id, so assignment is total and deterministic). One map pass;
    * output (input columns…, cluster, sim). */
  def assign(
      df: DataFrame,
      vec: Column,
      centroids: Array[(Int, Array[Double])]): DataFrame = {
    require(centroids.nonEmpty, "assign() needs at least one centroid")
    // array_sort on (negsim, cluster_id) structs: lexicographic struct
    // ordering gives argmax-cosine with the deterministic tie-break.
    val best = graft.functions.TextFunctions.bound(
      array_sort(
        transform(centroidArr(centroids), c =>
          struct(
            (lit(-1.0) * Similarity.cosine(vec, c("centroid"))).as("negsim"),
            c("cluster_id").as("cluster_id"))))
    )(sorted => element_at(sorted, 1))
    df.withColumn("_best", best)
      .withColumn("cluster", col("_best.cluster_id"))
      .withColumn("sim", round(lit(-1.0) * col("_best.negsim"), 6))
      .drop("_best")
  }

  /** Per-cluster mean SIMPLIFIED SILHOUETTE — the clustering-quality
    * readout run after every k-means fit (is this clustering worth the
    * semdedup pass it gates?). The classical silhouette needs all
    * pairwise distances (O(n²) — banned shape); the simplified form
    * (Hruschka et al. 2004, what the large-scale libraries actually
    * ship) replaces them with centroid distances:
    *
    *   a(x) = 1 − cos(x, own centroid)   (cosine distance, this repo's
    *   b(x) = 1 − cos(x, runner-up)       clustering metric)
    *   s(x) = (b − a) / max(a, b) ∈ [−1, 1]
    *
    * Because own = argmax cosine, the runner-up IS the second-highest
    * cosine overall — both come out of ONE sorted (negsim, cluster_id)
    * struct array, the same total-order tie-break as [[assign]].
    *
    * 100 TB shape: one map pass against k·dim centroid LITERALS (no
    * join), then a ≤k-row aggregate — s(x) is map-side math, the
    * shuffle carries k rows. Same cost class as the assignment pass it
    * audits.
    *
    * Determinism: sims are exact left-to-right folds; a, b, and the
    * divide are IEEE-exact; s quantized round(·,6) into DECIMAL(28,6)
    * sums (|Σ| ≤ n — no headroom concern), one divide, round 6.
    * x == centroid == runner-up (max(a,b) = 0) → s = 0 by convention.
    *
    * Output: (cluster, n, mean_sil), one row per NON-EMPTY cluster,
    * ordered. Clusters nothing assigned to are absent (their silhouette
    * is undefined, not zero). */
  def silhouette(
      df: DataFrame,
      vec: Column,
      centroids: Array[(Int, Array[Double])]): DataFrame = {
    require(centroids.length >= 2,
      s"silhouette needs >= 2 centroids, got ${centroids.length}")
    val packed = graft.functions.TextFunctions.bound(
      array_sort(
        transform(centroidArr(centroids), c =>
          struct(
            (lit(-1.0) * Similarity.cosine(vec, c("centroid"))).as("negsim"),
            c("cluster_id").as("cluster_id"))))) { sorted =>
      val s1 = lit(-1.0) * element_at(sorted, 1)("negsim")
      val s2 = lit(-1.0) * element_at(sorted, 2)("negsim")
      val a = lit(1.0) - s1
      val b = lit(1.0) - s2
      val sil = when(greatest(a, b) > 0.0, (b - a) / greatest(a, b))
        .otherwise(lit(0.0))
      struct(element_at(sorted, 1)("cluster_id").as("cluster"),
        round(sil, 6).as("sil"))
    }
    df.select(packed.as("p"))
      .select(col("p.cluster").as("cluster"), col("p.sil").as("sil"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        round(sum(col("sil").cast("decimal(28,6)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_sil"))
      .orderBy("cluster")
  }

  /** Corpus-sized cluster count: k = ⌈n / targetClusterSize⌉ (min 2).
    * SemDeDup's candidate volume is Σ|cluster|²/2 ≈ n²/(2k) — with FIXED
    * k it grows quadratically in corpus size (measured: 16× wall at 26×
    * data with k=8), with k ∝ n it stays linear (clusters hold
    * ~targetClusterSize vectors at any scale). Same engine-applies-the-
    * law design as [[Dedup.sizedBandBits]]; the driver-side cost of a
    * bigger k is k·dim centroid doubles — 10⁵ clusters × 64 dims is
    * still ~50 MB, fine.
    *
    * Honest limit: [[assign]] is O(n·k·dim) per pass (every vector
    * scores every centroid), so k beyond ~10³ wants the two-level fit —
    * [[kmeansTwoLevel]] clusters into √k coarse cells and refines
    * within cells, O(n·2√k·dim). The single-level form is correct and
    * linear-in-n for the k ranges this rule produces at tested scales. */
  def sizedK(n: Long, targetClusterSize: Int = 1000): Int =
    math.max(2, math.ceil(n.toDouble / targetClusterSize)).toInt

  /** Result of a KMeans fit: the final centroids (k×dim doubles — driver
    * sized by construction) and whether the fit converged before
    * `maxIters` (exposed, not silent — repo rule). */
  final case class KMeansModel(
      centroids: Array[(Int, Array[Double])],
      iterations: Int,
      converged: Boolean)

  /** Lloyd's algorithm. Per iteration: one assignment map pass + one
    * k×dim-row shuffle (partial-agg'd per-dimension decimal sums) + a
    * k×dim driver collect for the centroid update. The (id, vec)
    * working set is persisted for the fit's duration — an iterative
    * algorithm must not re-run its upstream per round (MLlib's own
    * discipline) — and unpersisted before returning.
    *
    * Convergence = max centroid L∞ movement < `tol`. Empty clusters keep
    * their previous centroid (standard Lloyd fallback; deterministic). */
  def kmeans(
      df: DataFrame, // (id, vec, …)
      id: Column,
      vec: Column,
      k: Int,
      maxIters: Int = 10,
      tol: Double = 1e-6): KMeansModel = {
    require(k >= 1, s"k must be >= 1, got $k")
    val work = df
      .select(id.as("_sid"), vec.cast("array<double>").as("_svec"))
      .filter(col("_svec").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seedRows = work
        .orderBy(xxhash64(col("_sid")), col("_sid")) // hash-uniform, deterministic
        .limit(k) // distributed top-k: the driver receives exactly k rows
        .collect()
      require(seedRows.nonEmpty, "kmeans on an empty corpus")
      var centroids = seedRows.zipWithIndex.map { case (r, i) =>
        (i, r.getSeq[Double](1).toArray)
      }
      val dim = centroids.head._2.length
      var iter = 0
      var moved = Double.MaxValue
      while (iter < maxIters && moved >= tol) {
        // per-(cluster, dim) exact sums; map-side combine caps the shuffle
        // at k*dim rows per task
        val sums = assign(work.select(col("_svec").as("_v")), col("_v"), centroids)
          .select(col("cluster"), posexplode(col("_v")))
          .groupBy(col("cluster"), col("pos"))
          .agg(sum(col("col").cast("decimal(38,15)")).as("s"),
            count(lit(1)).as("n"))
          .collect()
        val byCluster = sums.groupBy(_.getInt(0))
        val next = centroids.map { case (cid, prev) =>
          byCluster.get(cid) match {
            case Some(rows) =>
              val mean = Array.fill(dim)(0.0)
              var n = 0L
              rows.foreach { r =>
                n = r.getLong(3)
                mean(r.getInt(1)) = (r.getDecimal(2).doubleValue() / n)
              }
              (cid, mean)
            case None => (cid, prev) // empty cluster: keep previous centroid
          }
        }
        moved = centroids.zip(next).map { case ((_, a), (_, b)) =>
          a.zip(b).map { case (x, y) => math.abs(x - y) }.max
        }.max
        centroids = next
        iter += 1
      }
      KMeansModel(centroids, iter, converged = moved < tol)
    } finally work.unpersist(blocking = false)
  }

  /** Dispatching fit: single-level [[kmeans]] below `twoLevelThreshold`,
    * [[kmeansTwoLevel]] at or above it — so callers that auto-size k
    * with [[sizedK]] get the tractable algorithm automatically as the
    * corpus (and therefore k) grows. The default threshold of 128 comes
    * from a measured crossover (KmeansCrossoverProbe,
    * `git show d7412f5:src/main/scala/graft/tools/KmeansCrossoverProbe.scala`;
    * sf0.1,
    * maxIters=5): single vs two-level wall = 3.8 s vs 1.9 s at k=128,
    * 6.4 vs 2.5 at k=256, 9.2 vs 1.9 at k=512 — the O(n·k·dim)
    * assignment pass dominates from the low hundreds of k. Note
    * two-level may return slightly MORE than k centroids (⌈k/√k⌉·√k
    * rounding); callers needing exactly k use [[kmeans]] directly. */
  def fit(
      df: DataFrame,
      id: Column,
      vec: Column,
      k: Int,
      maxIters: Int = 5,
      twoLevelThreshold: Int = 128): KMeansModel =
    if (k >= twoLevelThreshold) kmeansTwoLevel(df, id, vec, k, maxIters)
    else kmeans(df, id, vec, k, maxIters)

  /** Two-level KMeans — the fit that stays tractable when [[sizedK]]
    * produces large k (single-level assignment is O(n·k·dim) per pass;
    * two-level is O(n·2√k·dim)):
    *
    *  1. COARSE: a √k-cluster single-level fit over the full corpus
    *     (distributed Lloyd as in [[kmeans]]).
    *  2. REFINE: within each coarse cell, an INDEPENDENT local Lloyd
    *     over a deterministic per-cell sample (hash-ranked, capped at
    *     `cellSampleCap`) — all cells fit in parallel via mapGroups,
    *     the legitimate per-partition-imperative escape hatch: a serial
    *     fit over a bounded sample is not expressible as relational
    *     ops, and each group's work is embarrassingly parallel.
    *  3. Final model = union of the cells' fine centroids (≈ k total),
    *     re-labeled densely.
    *
    * Quality matches the standard coarse-quantizer construction (IVF
    * training does exactly this); determinism holds end to end: coarse
    * fit is decimal-deterministic, per-cell samples are hash-ranked,
    * and the local Lloyd uses the same argmax-cosine/min-id rules.
    *
    * Convergence reporting: the returned flag is the COARSE fit's —
    * the refine level runs a fixed `maxIters` iterations per cell with
    * no tolerance check (bounded local work, standard for the refine
    * stage), so it has no convergence signal of its own. */
  def kmeansTwoLevel(
      df: DataFrame, // (id, vec, …)
      id: Column,
      vec: Column,
      k: Int,
      maxIters: Int = 5,
      cellSampleCap: Int = 10000): KMeansModel = {
    require(k >= 4, s"two-level needs k >= 4, got $k (use kmeans)")
    val spark = df.sparkSession
    import spark.implicits._
    val kCoarse = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    val kFine = math.max(1, math.ceil(k.toDouble / kCoarse).toInt)
    val base = df.select(id.as("_sid"), vec.cast("array<double>").as("_svec"))
      .filter(col("_svec").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val coarse = kmeans(base, col("_sid"), col("_svec"), kCoarse, maxIters)
      // deterministic per-cell sample: hash-ranked rows, cap per cell
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster")).orderBy(xxhash64(col("_sid")), col("_sid"))
      val sampled = assign(base, col("_svec"), coarse.centroids)
        .withColumn("_rnk", row_number().over(w))
        .filter(col("_rnk") <= cellSampleCap)
        .select(col("cluster"), col("_sid"), col("_svec"))
      val fine = sampled
        .as[(Int, Long, Array[Double])]
        .groupByKey(_._1)
        .mapGroups { (cell, rows) =>
          val vecs = rows.toArray.sortBy(_._2).map(_._3) // id-sorted: deterministic
          cell -> localLloyd(vecs, math.min(kFine, vecs.length), maxIters)
        }
        .collect() // ≤ kCoarse rows of ≤ kFine centroids each: k·dim doubles
        .sortBy(_._1)
      val centroids = fine.iterator.flatMap(_._2).zipWithIndex
        .map { case (c, i) => (i, c) }.toArray
      // surface the coarse fit's convergence — the refine level is a
      // fixed-iteration local pass with no signal to report (scaladoc)
      KMeansModel(centroids, maxIters, converged = coarse.converged)
    } finally base.unpersist(blocking = false)
  }

  /** Serial Lloyd over an in-memory sample — the per-cell refine step of
    * [[kmeansTwoLevel]]. Same rules as the distributed fit: max-cosine
    * assignment with low-index tie-break, mean update, empty cluster
    * keeps its previous centroid. */
  private[operators] def localLloyd(
      vecs: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    if (vecs.isEmpty) return Array.empty
    val dim = vecs.head.length
    var centroids = vecs.take(k).map(_.clone()) // id-sorted input: deterministic seeds
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    (0 until iters).foreach { _ =>
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      vecs.foreach { v =>
        var best = 0; var bestSim = Double.NegativeInfinity; var c = 0
        while (c < centroids.length) {
          val s = cos(v, centroids(c))
          if (s > bestSim) { bestSim = s; best = c } // strict >: low-index ties
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = centroids.zipWithIndex.map { case (prev, c) =>
        if (counts(c) == 0) prev
        else sums(c).map(_ / counts(c))
      }
    }
    centroids
  }

  /** SemDeDup: fit (or take) a KMeans model, assign every vector, and
    * emit near-duplicate candidate pairs from WITHIN-cluster self-joins
    * only, verified with exact cosine.
    *
    * `threshold` keeps pairs with cosine >= threshold; `topK = Some(n)`
    * switches to report mode (n most-similar pairs) for corpora with no
    * true dups. The per-cluster self-join is capped at `bucketCap` rows
    * per cluster via the shared observable skew guard — a mega-cluster
    * is a boilerplate family, quadratic by nature, and belongs to
    * exact/fingerprint dedup instead. */
  def semDedupPairs(
      df: DataFrame, // (id, vec, …)
      id: Column,
      vec: Column,
      k: Int,
      maxIters: Int = 5,
      threshold: Double = 0.9,
      topK: Option[Int] = None,
      bucketCap: Int = 10000): DataFrame = {
    val base = df.select(id.as("id"), vec.as("vec"))
    // dispatcher: corpus-sized k flips to the two-level fit automatically
    val model = fit(base, col("id"), col("vec"), k, maxIters)
    // cut [r18]: the assignment pass is an O(k·dim) expression per row
    // (sorted centroid-struct array) and its output is consumed THREE
    // times in one action — the skew-guard sizes aggregate and both
    // sides of the within-cluster self-join — so uncut the corpus is
    // re-scanned and re-assigned 3x (the r17 minhash-banded-proxy
    // lesson, guide §2.3: compute the expensive proxy once).
    val assignedRaw = Checkpointing.cut(
      assign(base, col("vec"), model.centroids).select("cluster", "id", "vec"))
    val assigned = Dedup.capBuckets(
      assignedRaw, Seq("cluster"), bucketCap, "semdedup")
    val l = assigned.select(col("cluster"), col("id").as("id_a"), col("vec").as("vec_a"))
    val r = assigned.select(col("cluster"), col("id").as("id_b"), col("vec").as("vec_b"))
    val pairs = l.join(r, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", round(Similarity.cosine(col("vec_a"), col("vec_b")), 6))
      .select(col("cluster"), col("id_a"), col("id_b"), col("sim"))
    topK match {
      case Some(n) =>
        import org.apache.spark.sql.expressions.Window
        // global top-n report: rank within a single ordered frame is fine
        // because candidate volume is already cluster-bounded (≤ k·cap²/2)
        pairs.orderBy(col("sim").desc, col("id_a"), col("id_b")).limit(n)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("sim").desc, col("id_a"), col("id_b"))).cast("long"))
          .orderBy("rank")
      case None =>
        pairs.filter(col("sim") >= threshold).orderBy("id_a", "id_b")
    }
  }

  /** SemDeDup keep-set: from the pair graph, drop every id that has a
    * lower-id neighbor above threshold (deterministic min-id keeper —
    * same discipline as [[Dedup.exact]]). Returns surviving ids. */
  def semDedupKeep(
      df: DataFrame,
      id: Column,
      vec: Column,
      k: Int,
      maxIters: Int = 5,
      threshold: Double = 0.9): DataFrame = {
    val pairs = semDedupPairs(df, id, vec, k, maxIters, threshold)
    val losers = pairs.select(col("id_b").as("drop_id")).distinct()
    df.select(id.as("keep_id"))
      .join(losers, col("keep_id") === col("drop_id"), "left_anti")
      .orderBy("keep_id")
  }

  /** Cluster-vs-label PURITY audit: do the dedup/semantic clusters
    * respect a known slicing (source domain, language, crawl
    * snapshot)? High multi-cluster purity says near-duplicates live
    * WITHIN slices (dedup is safe to run per-slice, and slice labels
    * can proxy cluster identity); low purity says duplication crosses
    * sources — the syndication/mirror signature that makes per-source
    * dedup silently insufficient. The standard external-validation
    * readout (purity = Σ_clusters max_label count / n) applied to the
    * dedup pipeline's own output.
    *
    * 100 TB shape: one (cluster, label)-keyed count (map-side
    * collapse), one ≤|clusters|-row aggregate per cluster, one final
    * 1-row readout. No windows, no driver state.
    *
    * Singleton clusters are trivially pure, so the readout reports
    * BOTH `purity_multi` (over clusters of size ≥ 2 — the number that
    * means something) and `purity_all` (the textbook definition).
    * NULL labels form their own class, and so do assigned docs with
    * NO label row at all (LEFT join, missing → `__null__` — counted,
    * never dropped, the [[graft.operators.Dedup.dupRateByGroup]]
    * rule). Counts are exact integers; each purity is one IEEE divide
    * rounded 6; no multi-doc clusters → NULL purity_multi (undefined,
    * not a divide error).
    *
    * Output: ONE row — (n_docs, n_clusters, n_multi_clusters,
    * n_multi_docs, purity_multi, purity_all). */
  def clusterPurity(
      assign: DataFrame, labels: DataFrame,
      id: Column, clusterId: Column,
      labelId: Column, label: Column): DataFrame = {
    val a = assign.select(id.as("id"), clusterId.as("cid"))
    val l = labels.select(labelId.as("id"),
      coalesce(label.cast("string"), lit("__null__")).as("lab"))
    val cells = a.join(l, Seq("id"), "left")
      .select(col("cid"), coalesce(col("lab"), lit("__null__")).as("lab"))
      .groupBy("cid", "lab").agg(count(lit(1)).as("n"))
    val per = cells.groupBy("cid")
      .agg(sum("n").as("n"), max("n").as("maj"))
    val multiN = sum(when(col("n") >= 2, col("n")))
    val multiMaj = sum(when(col("n") >= 2, col("maj")))
    per.agg(
      sum("n").cast("long").as("n_docs"),
      count(lit(1)).as("n_clusters"),
      sum(when(col("n") >= 2, 1L).otherwise(0L)).as("n_multi_clusters"),
      coalesce(multiN, lit(0L)).cast("long").as("n_multi_docs"),
      round(when(multiN > 0,
        multiMaj.cast("double") / multiN.cast("double")), 6)
        .as("purity_multi"),
      round(when(sum(col("n")) > 0,
        sum("maj").cast("double") / sum("n").cast("double")), 6)
        .as("purity_all"))
  }
}
