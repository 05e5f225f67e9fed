package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.expressions.HashExpressions

import java.util.concurrent.atomic.AtomicLong

/** [EXT] Deduplication operators for a training-data pipeline.
  *
  * 100 TB design rules baked into every variant here:
  *  - never shuffle document BODIES when a (fingerprint, id) pair will do;
  *  - never generate all-pairs candidates — LSH banding turns the
  *    quadratic pair space into per-bucket joins;
  *  - keep-winner selection is deterministic (min id), not "first seen";
  *  - no silent caps: every skew guard reports what it dropped via
  *    observe() metrics (see [[skewGuardMetricPrefix]]).
  */
object Dedup {

  /** Every bucket-cap anti-join emits a CollectMetrics node named
    * `graft_skew_guard_<op>_<seq>` with columns `dropped_buckets` /
    * `dropped_rows` — readable from a QueryExecutionListener's
    * `qe.observedMetrics`. Dropping a hot bucket truncates recall; the
    * repo rule is that such truncation must be observable, never silent.
    *
    * When NOTHING is over the cap, AQE's empty-relation propagation may
    * eliminate the (empty) guard subtree — and its metrics node — from
    * the final plan, so the metric can be ABSENT on a clean corpus.
    * The same elimination strikes from the OTHER side if the cap drops
    * EVERY bucket and the consuming plan branch collapses empty
    * (measured in the round-6 fuzzy-join guard work — which is why that
    * guard fail-fasts with require() instead). For these in-join guards
    * a whole-corpus drop means the operator's output itself collapses —
    * pair the metric with a result-count sanity check; in the partial-
    * drop regime (some buckets survive) the metric is reliably present. */
  val skewGuardMetricPrefix = "graft_skew_guard_"

  /** Estimate-then-verify prefilters report how many candidates the
    * cheap signature estimate culled before exact verification, via a
    * CollectMetrics node `graft_prefilter_<op>_<seq>` with columns
    * `culled_candidates` / `candidates`. The node sits UPSTREAM of the
    * cull filter on a join output, so it survives AQE in the partial-cull
    * regime; as with [[skewGuardMetricPrefix]], it can be absent when the
    * candidate set itself is empty (nothing to cull ⇒ nothing silent). */
  val prefilterMetricPrefix = "graft_prefilter_"

  // observe() names must be unique within one query plan; a caller may
  // compose several near-dup ops, so each guard gets a sequence suffix.
  private val skewGuardSeq = new AtomicLong(0)

  /** Shared hot-bucket skew guard: drops candidate buckets wider than
    * `cap` via a broadcast anti-join (such a bucket is a degenerate
    * boilerplate cluster — quadratic in the self-join, better handled by
    * exact/fingerprint dedup of its representative), and reports the
    * truncation through named observe() metrics (no silent caps). */
  private[graft] def capBuckets(
      df: DataFrame, keys: Seq[String], cap: Int, op: String): DataFrame = {
    // cap == Int.MaxValue is the documented "guard disabled" setting
    // (oracle-parity callers): skip the sizes aggregation + anti-join
    // entirely instead of paying a full shuffle to drop nothing (r10:
    // that shuffle was ~1/4 of ext_substring_dedup's 26× wall)
    if (cap == Int.MaxValue) return df
    val sizes = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("bsz"))
    val over = sizes.filter(col("bsz") > cap)
      .observe(s"$skewGuardMetricPrefix${op}_${skewGuardSeq.incrementAndGet()}",
        count(lit(1)).as("dropped_buckets"),
        coalesce(sum("bsz"), lit(0L)).as("dropped_rows"))
    df.join(broadcast(over), keys, "left_anti")
  }

  /** Exact dedup: one surviving id per identical key. groupBy(min) rather
    * than dropDuplicates: dropDuplicates keeps an ARBITRARY row per key
    * (whichever partition wins), which is nondeterministic at scale. */
  def exact(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup by content fingerprint (md5 of normalized text): the
    * shuffle carries 16-byte digests instead of document bodies. */
  def byFingerprint(df: DataFrame, text: Column, id: Column): DataFrame =
    exact(df, TextFunctions.fingerprint(text), id)
      .withColumnRenamed("dedup_key", "fingerprint")

  /** Per-group duplication report: how much of each slice (source
    * domain, language, crawl snapshot) is exact-duplicate mass — the
    * FIRST number a curation review asks for per source, and the one
    * that decides which crawl feeds get demoted before any expensive
    * near-dup pass runs. dup_rate = 1 − distinct/total per group.
    *
    * Distinctness is by content fingerprint ([[TextFunctions
    * .fingerprint]] — md5 of normalized text, the [[byFingerprint]]
    * key), so the shuffle carries (group, 16-byte digest) pairs with
    * map-side partial aggregation — bodies never move, the [[exact]]
    * scale shape sliced by group.
    *
    * Determinism: counts are exact integers; dup_rate is one IEEE
    * divide rounded 6. Null text fingerprints coalesce to the
    * [[NullDigest]] sentinel (one "null-content" class per group, the
    * incremental-dedup rule), so the report never silently drops the
    * null slice.
    *
    * Output: one row per group — (group_key, n_docs, n_distinct,
    * n_dupes, dup_rate), ordered. */
  def dupRateByGroup(
      df: DataFrame, group: Column, text: Column): DataFrame = {
    val keyed = df.select(
      group.cast("string").as("group_key"),
      coalesce(TextFunctions.fingerprint(text), lit(NullDigest)).as("fp"))
    keyed
      .groupBy("group_key", "fp")
      .agg(count(lit(1)).as("n"))
      .groupBy("group_key")
      .agg(
        sum("n").cast("long").as("n_docs"),
        count(lit(1)).as("n_distinct"))
      .select(col("group_key"), col("n_docs"), col("n_distinct"),
        (col("n_docs") - col("n_distinct")).as("n_dupes"),
        round(lit(1.0) - col("n_distinct").cast("double") /
          col("n_docs").cast("double"), 6).as("dup_rate"))
      .orderBy("group_key")
  }

  /** Incremental ingest dedup: admit only `batch` rows whose content
    * fingerprint appears neither in the already-deduped `corpus` nor
    * earlier (lower id) in the batch itself — the shape of a daily crawl
    * drop landing next to a 100 TB corpus.
    *
    * Scale story: the corpus side reduces to DISTINCT 16-byte digests
    * BEFORE the join (never bodies, and the reduction is map-side partial
    * — at most one row per digest per task ever shuffles), then a
    * left_anti equi-join on the digest; the within-batch keeper is the
    * deterministic min-id rule of [[exact]], computed on the batch only
    * (the small side). The corpus is never re-deduplicated and never
    * moves; re-running with the admitted rows appended is idempotent —
    * INCLUDING for null-text rows: a null digest would never equi-match
    * in the anti-join (SQL null semantics) and would be re-admitted on
    * every run, so null digests coalesce to the [[NullDigest]] sentinel
    * on both sides (it cannot collide with a real 32-hex md5). */
  val NullDigest = "__null_text__"

  def incremental(
      batch: DataFrame,
      corpus: DataFrame,
      batchText: Column,
      batchId: Column,
      corpusText: Column): DataFrame = {
    val seen = corpus
      .select(coalesce(TextFunctions.fingerprint(corpusText), lit(NullDigest))
        .as("fingerprint"))
      .distinct()
    val fresh = batch
      .select(batchId.as("doc_id"),
        coalesce(TextFunctions.fingerprint(batchText), lit(NullDigest))
          .as("fingerprint"))
      .join(seen, Seq("fingerprint"), "left_anti")
    fresh
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_batch_copies"))
  }

  // ────────────────────────────── MinHash + LSH ──────────────────────────
  // Every MinHash-LSH decision has one implementation here, shared by
  // the three batch screens below and EventStreams.nearDupScreenStream:
  // the signature table ([[minhashSigs]]), the band layout
  // ([[bandHash]]/[[bandStructs]]), the corpus index with its hot-bucket
  // cap ([[minhashIndexBands]] → [[capBuckets]]), the signature-agreement
  // estimate ([[estimatePrefilter]]) and the exact verify
  // ([[verifyJaccard]]).

  /** (idName, sig): one MinHash signature per row, from the custom
    * MinHashSig expression (one JVM loop per row — see
    * functions.expressions.HashExpressions). */
  private[graft] def minhashSigs(
      df: DataFrame, id: Column, text: Column, idName: String,
      shingleN: Int, numHashes: Int, seed: Long): DataFrame =
    df.select(id.as(idName), graft.functions.expressions.GraftFunctions
      .minhash_sig(text, shingleN, numHashes, seed).as("sig"))

  /** The LSH band layout: band `b` of a signature is the xxhash64 of its
    * b-th run of numHashes/bands hashes. Docs sharing any band hash land
    * in one bucket, so candidates come from equi-joins on
    * (band, bhash), never from the O(n²) cross join. */
  private[graft] def bandHash(sig: Column, b: Int, numHashes: Int, bands: Int): Column = {
    val rowsPerBand = numHashes / bands
    xxhash64(slice(sig, b * rowsPerBand + 1, rowsPerBand))
  }

  /** One (band, bhash, carry…) struct per band of `sig`, with `sig`
    * let-bound so it evaluates once per row however many bands (and
    * `carry` fields) read it. Explode it for a band table. */
  private[graft] def bandStructs(
      sig: Column, numHashes: Int, bands: Int,
      carry: Column => Seq[Column] = _ => Nil): Column =
    TextFunctions.bound(sig) { s =>
      array((0 until bands).map { b =>
        struct(Seq(lit(b).as("band"),
          bandHash(s, b, numHashes, bands).as("bhash")) ++ carry(s): _*)
      }: _*)
    }

  /** (idName, band, bhash): `bands` rows per input row — the shuffle
    * carries only these, never shingle arrays or text bodies. */
  private def bandTable(
      df: DataFrame, idName: String, sig: Column,
      numHashes: Int, bands: Int): DataFrame =
    df.select(col(idName), explode(bandStructs(sig, numHashes, bands)).as("bb"))
      .select(col(idName), col("bb.band").as("band"), col("bb.bhash").as("bhash"))

  /** The corpus side of every screen: the (band, bhash, corpus_id) probe
    * table of a (corpus_id, sig) signature table, hot buckets capped at
    * `bucketCap` and reported (see [[capBuckets]]). At 100 TB this is the
    * persisted LSH index a deployment keeps between drops. */
  private[graft] def minhashIndexBands(
      sigs: DataFrame, numHashes: Int, bands: Int,
      bucketCap: Int, op: String): DataFrame =
    capBuckets(bandTable(sigs, "corpus_id", col("sig"), numHashes, bands),
      Seq("band", "bhash"), bucketCap, op)

  /** Estimate-then-verify prefilter on rows carrying two MinHash
    * signatures `sig_l`/`sig_r`: keeps rows whose signature-agreement
    * fraction (an unbiased Jaccard estimator, sd ≈ √(J(1−J)/numHashes))
    * is >= `estFloor`, killing the background BEFORE text bodies are
    * rehydrated for the O(len) exact verify. Culled counts are reported
    * via observe() (see [[prefilterMetricPrefix]]); `estFloor <= 0`
    * disables it. */
  private[graft] def estimatePrefilter(
      rows: DataFrame, numHashes: Int, estFloor: Double, op: String): DataFrame =
    if (estFloor <= 0.0) rows
    else rows
      .withColumn("est_ok",
        size(filter(zip_with(col("sig_l"), col("sig_r"), _ === _), x => x))
          .cast("double") / numHashes >= estFloor)
      // no silent culls: the metric sits UPSTREAM of the est_ok filter on
      // a join output whose emptiness isn't statically known, so it
      // survives AQE in the partial-cull regime (the round-6 CollectMetrics
      // trap strikes only when the observed branch itself is emptied)
      .observe(s"$prefilterMetricPrefix${op}_${skewGuardSeq.incrementAndGet()}",
        coalesce(sum(when(col("est_ok"), 0L).otherwise(1L)), lit(0L))
          .as("culled_candidates"),
        count(lit(1)).as("candidates"))
      .filter(col("est_ok"))
      .drop("est_ok")

  /** [[estimatePrefilter]] over a candidate-pair table: joins the
    * (leftId, sig_l) and (rightId, sig_r) tables on — ids and signatures,
    * never text — and returns the surviving (leftId, rightId) pairs. */
  private def sigAgreementPrefilter(
      candidates: DataFrame, leftSigs: DataFrame, rightSigs: DataFrame,
      leftId: String, rightId: String,
      numHashes: Int, estFloor: Double, op: String): DataFrame =
    if (estFloor <= 0.0) candidates
    else estimatePrefilter(
      candidates.join(leftSigs, Seq(leftId)).join(rightSigs, Seq(rightId)),
      numHashes, estFloor, op).select(leftId, rightId)

  /** Exact verify: joins text back by id onto the candidate pairs only
    * (the shuffle carries candidate ids, not bodies) — `leftTexts` is
    * (leftId, txt_l), `rightTexts` (rightId, txt_r), and a side whose
    * text already rides the candidate row passes None — then keeps pairs
    * whose n-gram Jaccard, rounded to 6 dp, is >= `threshold`.
    * Output: (leftId, rightId, jaccard). */
  private[graft] def verifyJaccard(
      candidates: DataFrame, leftId: String, rightId: String,
      leftTexts: Option[DataFrame], rightTexts: DataFrame,
      shingleN: Int, threshold: Double): DataFrame =
    leftTexts.fold(candidates)(t => candidates.join(t, Seq(leftId)))
      .join(rightTexts, Seq(rightId))
      .withColumn("jaccard",
        round(graft.functions.expressions.GraftFunctions
          .ngram_jaccard(col("txt_l"), col("txt_r"), shingleN), 6))
      .filter(col("jaccard") >= threshold)
      .select(col(leftId), col(rightId), col("jaccard"))

  /** Near-dup candidate pairs via banded LSH over MinHash signatures.
    *
    * bands × rowsPerBand = signature length; pairs are generated per
    * bucket via a self-join on (band, bhash). Returned pairs are verified
    * with the EXACT Jaccard over shingle sets, keeping only >= `threshold`.
    *
    * At 100 TB: the exploded band table is |docs| × bands rows of
    * (id, band, bhash) — linear; hot buckets (boilerplate docs) are the
    * skew risk, mitigated by capping bucket width upstream (count per
    * bucket, drop degenerate buckets > cap as "trivially duplicated
    * cluster" to be handled by exact dedup of the dominating
    * fingerprint). */
  def minhashNearDupPairs(
      df: DataFrame, // (id, text)
      id: Column,
      text: Column,
      shingleN: Int = 5,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      seed: Long = 42L,
      bucketCap: Int = 1000,
      topK: Option[Int] = None,
      estimateMargin: Double = Double.PositiveInfinity,
      rehydrateFrom: Option[DataFrame] = None): DataFrame = {
    val named = df.select(id.as("id"), text.as("txt"))
    // `rehydrateFrom`: optional (id, text) SUPERSET of `df` (same id →
    // same text, ids unique — e.g. the unfiltered base table when `df`
    // is an expensive filtered view of it). The verify stage joins
    // candidate ids — all of which came from `df` — against it, so the
    // result is identical while the two rehydration scans skip
    // recomputing the upstream filter.
    val hydrate = rehydrateFrom
      .map(_.select(id.as("id"), text.as("txt")))
      .getOrElse(named)
    // cut: this tiny (id, band, bhash) proxy (bands rows/doc, ~24 B
    // each) is consumed up to four times in one action — the
    // skew-guard sizes aggregate, its anti-join probe, and both sides
    // of the candidate self-join — and each consumer
    // otherwise re-runs the scan + shingle + k-hash signature pass, the
    // operator's single most expensive stage (measured: the sig pass
    // alone is ~0.5 s of ext_pipeline_e2e's 2.4 s pairs stage at sf0.1,
    // and it ran 3-4x).
    val bandedShared = Checkpointing.cut(bandTable(named, "id",
      graft.functions.expressions.GraftFunctions
        .minhash_sig(col("txt"), shingleN, numHashes, seed),
      numHashes, bands))
    val pruned = capBuckets(bandedShared, Seq("band", "bhash"), bucketCap, "minhash")
    val pairs = pruned.select(col("band"), col("bhash"), col("id").as("id_a"))
      .join(pruned.select(col("band"), col("bhash"), col("id").as("id_b")),
        Seq("band", "bhash"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
    // estimate-then-verify, OPT-IN here (finite estimateMargin): the
    // prefilter pays two extra signature passes + joins, which wins only
    // when the candidate set is background-heavy. Measured at sf0.1
    // (r7): the incremental batch×corpus path went 3.6 s → 1.8 s (its
    // recall banding floods candidates with background), but THIS
    // self-join path at calibrated banding is background-light and the
    // same default-on prefilter REGRESSED it 2.1 s → 2.8 s — so the
    // default stays off and skew-prone corpora opt in.
    def sigs(idName: String, sigName: String) =
      minhashSigs(named, col("id"), col("txt"), idName, shingleN, numHashes, seed)
        .withColumnRenamed("sig", sigName)
    val prefiltered = sigAgreementPrefilter(pairs,
      sigs("id_a", "sig_l"), sigs("id_b", "sig_r"),
      "id_a", "id_b", numHashes, threshold - estimateMargin, "minhash")
    val verified = verifyJaccard(prefiltered, "id_a", "id_b",
      Some(hydrate.select(col("id").as("id_a"), col("txt").as("txt_l"))),
      hydrate.select(col("id").as("id_b"), col("txt").as("txt_r")),
      shingleN, threshold)
    topK match {
      // top-K report mode: most-similar surfaced pairs (distributed top-k)
      case Some(k) => verified.orderBy(col("jaccard").desc, col("id_a"), col("id_b")).limit(k)
      case None    => verified.orderBy("id_a", "id_b")
    }
  }

  /** The batch screening tail of [[incrementalNearDup]] and
    * [[incrementalNearDupIndexed]]: the batch's (batch_id, sig) table,
    * computed once behind a cut (~8·numHashes B/doc — ids and
    * signatures, never text), feeds both the band probe against
    * `indexBands` (band, bhash, corpus_id) and the estimate prefilter
    * against `corpusSigs` (corpus_id, sig); survivors go to the exact
    * verify. The batch band table is small, so Spark/AQE broadcasts it
    * and non-matching corpus buckets die in the map-side hash probe. */
  private def screenBatch(
      batch: DataFrame, batchId: Column, batchText: Column,
      corpus: DataFrame, corpusId: Column, corpusText: Column,
      indexBands: DataFrame, corpusSigs: DataFrame,
      shingleN: Int, numHashes: Int, bands: Int, seed: Long,
      threshold: Double, estimateMargin: Double, op: String): DataFrame = {
    val bSigs = Checkpointing.cut(
      minhashSigs(batch, batchId, batchText, "batch_id", shingleN, numHashes, seed))
    val candidates = bandTable(bSigs, "batch_id", col("sig"), numHashes, bands)
      .join(indexBands, Seq("band", "bhash")) // batch side is the small probe
      .select("batch_id", "corpus_id")
      .dropDuplicates("batch_id", "corpus_id")
    val prefiltered = sigAgreementPrefilter(candidates,
      bSigs.withColumnRenamed("sig", "sig_l"),
      corpusSigs.withColumnRenamed("sig", "sig_r"),
      "batch_id", "corpus_id", numHashes, threshold - estimateMargin, op)
    verifyJaccard(prefiltered, "batch_id", "corpus_id",
      Some(batch.select(batchId.as("batch_id"), batchText.as("txt_l"))),
      corpus.select(corpusId.as("corpus_id"), corpusText.as("txt_r")),
      shingleN, threshold)
      .orderBy("batch_id", "corpus_id")
  }

  /** Incremental NEAR-dup screening: which `batch` documents are
    * near-duplicates of the existing `corpus` — the fuzzy counterpart of
    * [[incremental]], run on every daily drop so re-crawls with cosmetic
    * edits don't re-enter the corpus.
    *
    * The candidate join is batch-bands ⨝ corpus-bands (never batch×batch
    * or corpus×corpus): the corpus side reduces to its (band, bhash, id)
    * index, built here in memory; [[buildMinhashIndex]] persists the
    * same index so [[incrementalNearDupIndexed]] can skip this build.
    *
    * Estimate-then-verify: candidates are prefiltered on the MinHash
    * signature-agreement fraction (sd ≈ 0.06 at 64 hashes) at
    * `threshold − estimateMargin` BEFORE text bodies are rehydrated —
    * recall-banded candidate sets are background-heavy, and the cheap
    * estimate kills the background so the O(len) exact verify touches
    * only near-dup-ish pairs (measured at sf0.1: 3.9 s → 2.0 s min-of-3,
    * identical output). The final gate is still the EXACT n-gram
    * Jaccard. A margin of 0.15 is 2.5σ below threshold at 64 hashes; set
    * estimateMargin >= threshold to disable the prefilter.
    *
    * Output: (batch_id, corpus_id, jaccard) — one row per batch doc per
    * matched corpus doc at >= threshold; callers drop matched batch ids
    * or route them to review. */
  def incrementalNearDup(
      batch: DataFrame, // (id, text)
      corpus: DataFrame, // (id, text)
      batchId: Column, batchText: Column,
      corpusId: Column, corpusText: Column,
      shingleN: Int = 5,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      seed: Long = 42L,
      bucketCap: Int = 1000,
      estimateMargin: Double = 0.15): DataFrame = {
    // r18: ONE signature pass per side. The corpus (id, sig) table feeds
    // the skew-guard sizes aggregate, its anti-join probe and the
    // prefilter; without the cut each re-runs the scan + shingle + k-hash
    // MinHash pass, the operator's most expensive stage.
    val cSigs = Checkpointing.cut(
      minhashSigs(corpus, corpusId, corpusText, "corpus_id", shingleN, numHashes, seed))
    screenBatch(batch, batchId, batchText, corpus, corpusId, corpusText,
      minhashIndexBands(cSigs, numHashes, bands, bucketCap, "incr_minhash"), cSigs,
      shingleN, numHashes, bands, seed, threshold, estimateMargin, "incr_neardup")
  }

  /** Build the PERSISTED MinHash-LSH corpus index that incremental
    * screening probes between drops — the artifact that turns "screen
    * today's crawl against a 100 TB corpus" from a corpus-wide signature
    * pass per drop into a one-time build plus equi-joins:
    *
    *   `indexDir/bands` — (band, bhash, corpus_id): the candidate-probe
    *                      table, hot buckets already capped (build time
    *                      is the right place to audit the drop — it is
    *                      a plain batch query with observable metrics);
    *   `indexDir/sigs`  — (corpus_id, sig): for the estimate prefilter;
    *   `indexDir/meta`  — one row of the banding parameters, so a
    *                      screening run CANNOT apply mismatched
    *                      parameters (it reads them from here).
    *
    * Append-only corpora rebuild incrementally by unioning a new drop's
    * bands/sigs (the same two selects over only the new rows). */
  def buildMinhashIndex(
      corpus: DataFrame, // (id, text)
      corpusId: Column, corpusText: Column,
      indexDir: String,
      shingleN: Int = 5,
      numHashes: Int = 32,
      bands: Int = 8,
      seed: Long = 42L,
      bucketCap: Int = 1000): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    minhashSigs(corpus, corpusId, corpusText, "corpus_id", shingleN, numHashes, seed)
      .write.mode("overwrite").parquet(s"$indexDir/sigs")
    // bands derive from the WRITTEN sigs — one signature pass total
    minhashIndexBands(spark.read.parquet(s"$indexDir/sigs"),
      numHashes, bands, bucketCap, "index_build")
      .write.mode("overwrite").parquet(s"$indexDir/bands")
    Seq((shingleN, numHashes, bands, seed, bucketCap))
      .toDF("shingle_n", "num_hashes", "bands", "seed", "bucket_cap")
      .write.mode("overwrite").parquet(s"$indexDir/meta")
  }

  /** Incremental near-dup screening against a PERSISTED index (built by
    * [[buildMinhashIndex]]): identical output to [[incrementalNearDup]]
    * at the index's parameters, but the per-drop work is
    *
    *  - one signature pass over the BATCH only (the corpus side comes
    *    from `indexDir/sigs` — at 100 TB this is the whole point),
    *  - band equi-joins against `indexDir/bands`,
    *  - text rehydration from `corpus` ONLY for prefilter survivors.
    *
    * Banding parameters are READ FROM THE INDEX meta — a caller cannot
    * screen with parameters the index wasn't built with. */
  def incrementalNearDupIndexed(
      batch: DataFrame, // (id, text)
      corpus: DataFrame, // (id, text) — verify-stage text source
      batchId: Column, batchText: Column,
      corpusId: Column, corpusText: Column,
      indexDir: String,
      threshold: Double = 0.5,
      estimateMargin: Double = 0.15): DataFrame = {
    val spark = batch.sparkSession
    val meta = spark.read.parquet(s"$indexDir/meta").collect().head
    screenBatch(batch, batchId, batchText, corpus, corpusId, corpusText,
      spark.read.parquet(s"$indexDir/bands"), spark.read.parquet(s"$indexDir/sigs"),
      meta.getAs[Int]("shingle_n"), meta.getAs[Int]("num_hashes"),
      meta.getAs[Int]("bands"), meta.getAs[Long]("seed"),
      threshold, estimateMargin, "incr_indexed")
  }

  // ────────────────────────────── SimHash ────────────────────────────────

  /** Hamming distance between two simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs, candidate-blocked on 16-bit chunks: two docs
    * within Hamming distance 3 of each other MUST share at least one of
    * the four 16-bit chunks (pigeonhole) — so the join is an equi-join on
    * (chunk_idx, chunk_value), never all-pairs.
    *
    * Skew guard: a boilerplate-dominated corpus puts a huge cluster into
    * one (chunk, cval) bucket, making the self-join quadratic. Buckets
    * wider than `bucketCap` are dropped via a broadcast anti-join (same
    * guard as the MinHash path) — such a cluster is better handled by
    * exact/fingerprint dedup of its dominating representative. */
  def simhashNearDupPairs(
      df: DataFrame, // (id, text)
      id: Column,
      text: Column,
      maxHamming: Int = 3,
      bucketCap: Int = 1000): DataFrame = {
    // simhash comes from the custom SimHash64 expression (one JVM loop per
    // row), let-bound and carried INSIDE the exploded struct so it
    // evaluates once per row, not once per chunk.
    val chunked = df.select(
      id.as("id"),
      explode(TextFunctions.bound(
        graft.functions.expressions.GraftFunctions.simhash64(text)) { sh =>
        array((0 until 4).map { c =>
          struct(
            lit(c).as("chunk"),
            shiftright(sh, c * 16).bitwiseAND(lit(0xFFFFL)).as("cval"),
            sh.as("sh"))
        }: _*)
      }).as("cc"))
      .select(col("id"), col("cc.sh").as("sh"),
        col("cc.chunk").as("chunk"), col("cc.cval").as("cval"))
    // skew guard: drop degenerate hot buckets before the self-join,
    // observably (see capBuckets)
    val pruned = capBuckets(chunked, Seq("chunk", "cval"), bucketCap, "simhash")
    val l = pruned.select(col("chunk"), col("cval"), col("id").as("id_a"), col("sh").as("sh_a"))
    val r = pruned.select(col("chunk"), col("cval"), col("id").as("id_b"), col("sh").as("sh_b"))
    l.join(r, Seq("chunk", "cval"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", hamming(col("sh_a"), col("sh_b")).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy("id_a", "id_b")
  }

  // ─────────────────────────── LSH auto-sizing ───────────────────────────
  // The scaling receipt (SCALE.md "LSH sizing law") showed fixed band
  // parameters make candidate volume quadratic as the corpus grows; these
  // helpers turn the law into engine behavior.

  /** Bits per hyperplane-LSH band that hold the expected RANDOM-pair
    * bucket width at ~`targetBucketWidth`: b = ⌈log₂(n / w)⌉. Use
    * nPlanes = bands × sizedBandBits(n). */
  def sizedBandBits(n: Long, targetBucketWidth: Int = 4): Int =
    math.max(4, math.ceil(
      math.log(math.max(2.0, n.toDouble / targetBucketWidth)) / math.log(2.0)).toInt)

  /** Auto-size hyperplane-LSH banding for [[embeddingNearDupPairs]]
    * from the corpus itself: returns (bitsPerBand, bands, n).
    *
    * Fixed band parameters are a scaling-law bug (r8 receipt: 8-bit
    * bands correct at every scale but 8.5× wall for 10× data — in-
    * bucket candidate volume grows ~quadratically once bucket width
    * outgrows the corpus). Both dials must move with n:
    *  - RECALL fixes bands as a function of bits: a pair AT the
    *    cosine threshold agrees with a random hyperplane with
    *    p = 1 − acos(t)/π, collides in an r-bit band with p^r, and is
    *    missed by all B bands with (1−p^r)^B ≤ `missTarget`.
    *  - VOLUME picks bits: per-band background collision is estimated
    *    from the corpus itself — `sampleVecs` vectors (hash-ordered,
    *    deterministic; the same bounded index-build pull as
    *    [[calibrateMinhashBands]]'s sample), all driver-side pairs
    *    below the threshold contribute mean(aᵢⱼ^bits), an unbiased
    *    estimate of the true collision rate that a single "background
    *    q" cannot give on clustered corpora (the densest cluster, not
    *    the global mean, drives the blowup — same lesson as the
    *    MinHash max rule). bits = the SMALLEST value whose expected
    *    background candidates C(n,2)·coll(bits) stay ≤ 4·n — just
    *    enough selectivity for linear candidate volume, and not a
    *    plane more: every extra bit multiplies the per-row signature
    *    work (bits·bands·dim fused multiplies) and the banding
    *    fan-out, which a 10×-replica sweep measured as the dominant
    *    cost once candidates are tamed (walls 4.8 s at 10 bits vs
    *    7.7 s at 12+ bits, identical answers).
    * The count n rides the SAME job as the sample via observe() — no
    * standalone count action. If no bits within the recall-feasible
    * range (bands ≤ maxBands) meets the volume target, the largest
    * feasible bits wins and the operator's bucketCap skew guard is the
    * backstop. */
  def sizedEmbeddingBands(
      df: DataFrame, // must expose the vector as column "v"
      vec: Column,
      threshold: Double,
      missTarget: Double = 1e-4,
      sampleVecs: Int = 256,
      maxBands: Int = 128): (Int, Int, Long) = {
    import org.apache.spark.sql.Observation
    def clamp(x: Double) = math.max(-1.0, math.min(1.0, x))
    val obs = Observation()
    val rows = df.select(vec.as("v")).filter(col("v").isNotNull)
      .observe(obs, count(lit(1)).as("n"))
      .orderBy(xxhash64(col("v")), col("v"))
      .limit(sampleVecs)
      .collect()
    val n = obs.get("n").asInstanceOf[Long]
    val sample = rows.map(_.getSeq[Float](0).toArray.map(_.toDouble))
    def cosOf(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val agree = (for {
      i <- sample.indices.iterator
      j <- (i + 1) until sample.length
      c = cosOf(sample(i), sample(j)) if c < threshold // background only
    } yield 1.0 - math.acos(clamp(c)) / math.Pi).toArray
    if (n < 2 || agree.isEmpty) return (8, 16, n) // degenerate: r8 defaults
    val pT = 1.0 - math.acos(clamp(threshold)) / math.Pi
    val pairs = n.toDouble * (n.toDouble - 1) / 2.0
    // Pick bits by MINIMIZING a measured cost model, not by a candidate
    // cap alone. The r9 26×-replica staged probe (SCALE.md) exposed two
    // bugs in the old "smallest bits with pairs·coll ≤ 4n" rule:
    // (a) candidates accrue over EVERY band — the budget check missed
    // the ×bands factor, under-sizing bits 50× at 26×; (b) past the
    // candidate knee the binding costs are the banded-table rows
    // (bands·n through explode + shuffle + self-join) and the signature
    // planes (bits·bands·n) — more bits is not free. Weights are the
    // probe's measured per-row ratios: candidate row ≈ 0.2 of a banded
    // row (map-side estimate filter, no shuffle), plane·row ≈ 0.01.
    val scored = (4 to 24).flatMap { bits =>
      val pBand = math.pow(pT, bits)
      val bands =
        if (pBand >= 1.0) 1
        else math.max(1, math.ceil(math.log(missTarget) / math.log1p(-pBand)).toInt)
      if (bands > maxBands) None // recall unreachable at sane band count
      else {
        val coll = agree.iterator.map(a => math.pow(a, bits)).sum / agree.length
        val cost = bands.toDouble * n +
          pairs * coll * bands * 0.2 +
          bits.toDouble * bands * n * 0.01
        Some((bits, bands, cost))
      }
    }
    if (scored.isEmpty) return (8, 16, n)
    val best = scored.minBy(_._3)
    (best._1, best._2, n)
  }

  /** Calibrate MinHash banding against the corpus's own background
    * similarity. Samples `sampleDocs` documents (hash-ordered —
    * deterministic and id-uniform), pairs them up, and takes s₀ = the
    * DENSEST observed non-duplicate pairwise Jaccard (max below the
    * dup threshold 0.95 — exact dups are exact-dedup territory). A band
    * of r rows collides for such a pair with probability s₀^r; choosing
    * r ≥ ln(1/n)/ln(s₀) keeps expected random collisions per doc O(1),
    * so candidates scale with true near-dup density instead of n².
    * Returns the band count (numHashes / r), at least 1.
    *
    * Max, not a mid quantile: a heterogeneous corpus (language clusters,
    * per-source boilerplate families) has LOW global background but HIGH
    * within-cluster background, and the quadratic blowup happens inside
    * the densest cluster — sizing must target it (measured on the 10×
    * replica: a 90th-percentile rule picked r=4 and ran 1000+ s; the
    * max rule picks r≈16 and runs in seconds).
    *
    * The sample is a bounded driver pull (sampleDocs rows of text) — an
    * index-build step, same budget class as IVF centroid sampling. */
  def calibrateMinhashBands(
      df: DataFrame,
      text: Column,
      n: Long,
      shingleN: Int = 5,
      numHashes: Int = 32,
      sampleDocs: Int = 200): Int = {
    require(numHashes >= 2)
    // NULL texts sort together under xxhash64 and would land in the sample
    // (then NPE in the Jaccard) — they carry no shingle signal, so drop them.
    val sample = df.select(text.as("t"))
      .filter(col("t").isNotNull)
      .orderBy(xxhash64(col("t")), col("t"))
      .limit(sampleDocs)
      .collect().map(_.getString(0))
    if (sample.length < 4 || n < 2) return numHashes / 2
    // the verify step's own Jaccard (NgramJaccard), so s0 is measured
    // with the normalization and shingles the candidates are judged by
    val jac = sample.grouped(2).collect { case Array(a, b) =>
      HashExpressions.shingleJaccard(a, b, shingleN)
    }.toArray
    val nonDup = jac.filter(_ < 0.95)
    val s0 = if (nonDup.isEmpty) 1.0 else nonDup.max // densest non-dup background
    val r =
      if (s0 <= 0.0) 2 // disjoint background: any band is selective
      else if (s0 >= 1.0) numHashes // duplicate-saturated: max selectivity
      else math.min(numHashes,
        math.max(2, math.ceil(math.log(1.0 / n) / math.log(s0)).toInt))
    math.max(1, numHashes / r)
  }

  /** N-gram Jaccard similarity of two text columns (exact, for verify
    * stages and tests — the scalable candidate generation is LSH above). */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column =
    TextFunctions.bound(TextFunctions.shingles(a, n)) { sa =>
      TextFunctions.bound(TextFunctions.shingles(b, n)) { sb =>
        size(array_intersect(sa, sb)).cast("double") / size(array_union(sa, sb))
      }
    }

  /** Substring-level near-dup candidates via winnowed rolling-hash
    * fingerprints (expressions.WinnowedFingerprints): k-codepoint
    * Rabin-Karp window hashes, 0-mod-p sampled, so any shared substring
    * of >= ~k+modP chars yields shared fingerprints REGARDLESS of where
    * it sits in each document — the copy-paste/boilerplate signal that
    * token-shingle MinHash (whole-doc similarity) dilutes away.
    *
    * Scale shape: fingerprinting is one map-side O(len) pass per doc;
    * the shuffle carries (fp, id) pairs only; candidate pairs come from
    * a per-fingerprint equi-join (never all-pairs), hot fingerprints
    * (site-wide boilerplate) are dropped by the shared capBuckets guard
    * with observable metrics. Output: (id_a, id_b, n_shared) candidate
    * pairs for a downstream exact verify (e.g. ngramJaccard or
    * levenshtein on the aligned windows). */
  def substringFingerprintPairs(
      df: DataFrame, id: Column, text: Column,
      k: Int = 32, modP: Int = 8, bucketCap: Int = 1000): DataFrame = {
    // duplicate (doc_id, fp) rows can only come from one doc repeating
    // a window INTERNALLY — cross-doc rows differ in doc_id — so the
    // dedup is map-side array_distinct, NOT a corpus-wide .distinct()
    // shuffle of ~len/modP rows per doc (r10: that shuffle was pure
    // overhead at every scale; removing it is exact-equivalent)
    val fps = df.select(id.as("doc_id"),
        explode(array_distinct(graft.functions.expressions.GraftFunctions
          .winnowed_fingerprints(text, k, modP))).as("fp"))
    val capped = capBuckets(fps, Seq("fp"), bucketCap, "substr")
    val l = capped.select(col("fp"), col("doc_id").as("id_a"))
    val r = capped.select(col("fp"), col("doc_id").as("id_b"))
    l.join(r, Seq("fp")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
  }

  /** Winnowing-density law (r10 verdict ask #3): the 0-mod-p sampling
    * modulus for the fingerprint-join family, sized from the corpus.
    * With modP FIXED, a shared template substring of length L costs
    * (L−k)/modP fingerprint buckets, each of width = its document
    * frequency — and both the (fp, id) shuffle volume and the
    * per-bucket w² candidate volume scale linearly in 1/modP. Fixed
    * density therefore pays 26× the join work for 26× the corpus ON
    * TOP of the width growth (the measured 4.8×/4.4× walls at 26×,
    * VERDICT r10). Doubling modP with every doubling of the corpus
    * beyond `baseN` docs holds the family's join volume near-constant
    * per unit of data — the [[sizedBandBits]] discipline applied to
    * winnowing density.
    *
    * The trade is the winnowing guarantee: a shared substring needs
    * ≥ 1 sampled window, so the reliably-detected match length grows
    * as ~k + modP (MOSS's t = k + w − 1 law) — at corpus scale only
    * the longer copy-paste matters, which is exactly why the dial is
    * corpus-sized. `maxModP` floors the expected fingerprints per doc
    * (detection needs SOME samples even on short docs): at the 32 cap
    * the testdata's ~300-char docs keep ~8 samples, which the 26×
    * WinnowSizingProbe (SCALE.md;
    * `git show d7412f5:src/main/scala/graft/tools/WinnowSizingProbe.scala`)
    * measured at ≥ 97% recall of strong pairs
    * (n_shared ≥ 4 at base density) — the same probe put the 64 cap at
    * ~4 samples/doc and 89–92%, the wrong side of the trade.
    *
    * Powers of two only, so a small count drift never nudges the
    * modulus — and since every sized modulus is a MULTIPLE of the
    * base, the sampled fingerprint set NESTS inside the base-density
    * set (h ≡ 0 mod sized ⟹ h ≡ 0 mod base): sizing can only drop
    * candidates, never invent them. n ≤ baseN (every oracle fixture)
    * reproduces `baseModP` exactly — the sf0.01 replay is
    * bit-identical to the fixed path. */
  def sizedWinnowModP(
      n: Long, baseModP: Int = 8, baseN: Long = 8192L,
      maxModP: Int = 32): Int = {
    val ratio = math.max(1L, n / baseN)
    val doublings = 63 - java.lang.Long.numberOfLeadingZeros(ratio)
    // Shift in Long with a FITS-BASED clamp (VERDICT r12 nit #1): the
    // largest shift keeping baseModP << s positive in a Long is
    // 62 − bitpos(baseModP) — a constant clamp (the old 60) still
    // wrapped for any baseModP (8L << 60 = 2^63 < 0).
    val fits = 62L - (63 - java.lang.Long.numberOfLeadingZeros(baseModP.toLong))
    math.min(maxModP.toLong,
      baseModP.toLong << math.min(fits, doublings.toLong)).toInt
  }

  /** [[substringFingerprintPairs]] with the sampling modulus sized from
    * the corpus by [[sizedWinnowModP]]: ONE bounded action (a count —
    * the same index-build class as the LSH calibrators) picks modP. */
  def substringFingerprintPairsAuto(
      df: DataFrame, id: Column, text: Column,
      k: Int = 32, bucketCap: Int = 1000): DataFrame = {
    val modP = sizedWinnowModP(math.max(1L, df.count()))
    substringFingerprintPairs(df, id, text, k, modP, bucketCap)
  }

  /** [[containmentPairs]] with the sampling modulus sized from the
    * corpus by [[sizedWinnowModP]] — the containment RATIO is robust
    * under density changes (numerator and denominator both sample at
    * 1/modP), so the threshold keeps its meaning at every scale. */
  def containmentPairsAuto(
      df: DataFrame, id: Column, text: Column,
      k: Int = 32, threshold: Double = 0.5,
      bucketCap: Int = 1000): DataFrame = {
    val modP = sizedWinnowModP(math.max(1L, df.count()))
    containmentPairs(df, id, text, k, modP, threshold, bucketCap)
  }

  /** Quality-aware keeper selection over dedup clusters: within each
    * near-dup cluster keep the HIGHEST-quality member instead of
    * [[clusters]]' structural min-id representative — min-id is the
    * right deterministic label for CLUSTERING, but the wrong doc to
    * keep when one copy is the clean original and another the
    * boilerplate-wrapped scrape. Argmax is `min(struct(-quality,
    * doc_id))` — the LPA float-free-argmax shape; quality values are
    * engine-exact (the ext_text_quality formula), so the negation
    * ordering replays bitwise.
    *
    * 100 TB shape: one aggregation keyed on cluster_id (cardinality ≈
    * clusters, grows with data) + one same-keyed join-back; inputs are
    * (id, cluster) and (id, quality) pair tables — no text moves.
    *
    * Output: (doc_id, cluster_id, quality, keeper_id, keep). */
  def keeperByQuality(
      clusters: DataFrame, // (doc_id, cluster_id)
      quality: DataFrame // (doc_id, quality)
  ): DataFrame = {
    val scored = clusters.select(col("doc_id"), col("cluster_id"))
      .join(quality.select(col("doc_id"), col("quality")), Seq("doc_id"))
    val keeper = scored.groupBy("cluster_id")
      .agg(min(struct((-col("quality")).as("nq"), col("doc_id").as("d")))
        .as("best"))
      .select(col("cluster_id"), col("best.d").as("keeper_id"))
    scored.join(keeper, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("quality"),
        col("keeper_id"), (col("doc_id") === col("keeper_id")).as("keep"))
  }

  /** Incremental CDC screen: admit a daily drop's documents by how much
    * of their CONTENT-DEFINED chunk set the corpus already holds —
    * known_ratio = |chunks(doc) ∩ corpusIndex| / |chunks(doc)|; a
    * lightly-edited re-post shares almost all its chunks (CDC
    * resynchronizes around the edit, [[cdcNovelty]]) and is rejected,
    * while genuinely new content sails through. The chunk-level
    * complement of [[incremental]]'s whole-doc fingerprint screen.
    *
    * 100 TB shape — the corpus index is NEVER shuffled: in production
    * it is a persisted (chunk_hash, chunk_len) table; here the batch's
    * distinct chunk keys (small by definition of a drop) BROADCAST into
    * a map-side left-semi over the index scan, and only the surviving
    * keys (≤ batch keys) broadcast back to flag the batch's chunks.
    * Batch chunking itself is the one O(len) map-side pass
    * (expressions.CdcChunks). Chunk-less (null/empty-text) batch docs
    * produce no row — a screen scores content, and there is none.
    *
    * Output: (doc_id, n_chunks, n_known, known_ratio, admitted). */
  def cdcScreen(
      batch: DataFrame, corpus: DataFrame, id: Column, text: Column,
      window: Int = 16, modB: Int = 32,
      maxKnownRatio: Double = 0.5): DataFrame = {
    require(maxKnownRatio >= 0.0 && maxKnownRatio <= 1.0,
      s"maxKnownRatio must be in [0,1], got $maxKnownRatio")
    def chunks(df: DataFrame) = df.where(text.isNotNull)
      .select(id.as("doc_id"),
        explode(graft.functions.expressions.GraftFunctions
          .cdc_chunks(text, window, modB)).as("c"))
      .select(col("doc_id"), col("c.len").as("chunk_len"),
        col("c.hash").as("chunk_hash"))
    val bc = chunks(batch)
    val batchKeys = bc.select("chunk_hash", "chunk_len").distinct()
    val knownKeys = chunks(corpus)
      .select("chunk_hash", "chunk_len").distinct()
      .join(broadcast(batchKeys), Seq("chunk_hash", "chunk_len"), "left_semi")
    bc.join(broadcast(knownKeys.withColumn("known", lit(1L))),
        Seq("chunk_hash", "chunk_len"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(coalesce(col("known"), lit(0L))).as("n_known"))
      .withColumn("known_ratio",
        col("n_known").cast("double") / col("n_chunks").cast("double"))
      .withColumn("admitted", col("known_ratio") <= maxKnownRatio)
  }

  /** ASYMMETRIC containment detection: for every candidate pair,
    * containment(A,B) = |fp(A) ∩ fp(B)| / |fp(A)| over the winnowed
    * substring fingerprints — near 1.0 when A's content substantially
    * appears INSIDE B (quotation, boilerplate wrapping, expanded
    * re-post), the subset-duplication signal that symmetric Jaccard
    * dilutes to insignificance when |B| ≫ |A|. Emitted both ways per
    * pair; a pair surfaces when EITHER direction clears `threshold`.
    *
    * Same candidate machinery as [[substringFingerprintPairs]] (the
    * equi-join on content-defined fingerprints, same `capBuckets` skew
    * guard); per-doc fingerprint counts come from the UNCAPPED set, so
    * with the cap engaged the reported containment is a LOWER BOUND
    * (shared counts can only shrink) — screening stays safe, nothing
    * is over-claimed. Shuffles carry (fp, id) and (id, count) pairs
    * only.
    *
    * Output: (id_a, id_b, n_shared, n_a, n_b, containment_a,
    * containment_b), id_a < id_b, divisions exact IEEE. */
  def containmentPairs(
      df: DataFrame, id: Column, text: Column,
      k: Int = 32, modP: Int = 8,
      threshold: Double = 0.5, bucketCap: Int = 1000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    val fps = df.select(id.as("doc_id"),
      explode(array_distinct(graft.functions.expressions.GraftFunctions
        .winnowed_fingerprints(text, k, modP))).as("fp"))
    val counts = fps.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    val capped = capBuckets(fps, Seq("fp"), bucketCap, "containment")
    val l = capped.select(col("fp"), col("doc_id").as("id_a"))
    val r = capped.select(col("fp"), col("doc_id").as("id_b"))
    l.join(r, Seq("fp")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .join(counts.select(col("doc_id").as("id_a"), col("n_fp").as("n_a")),
        Seq("id_a"))
      .join(counts.select(col("doc_id").as("id_b"), col("n_fp").as("n_b")),
        Seq("id_b"))
      .withColumn("containment_a",
        col("n_shared").cast("double") / col("n_a").cast("double"))
      .withColumn("containment_b",
        col("n_shared").cast("double") / col("n_b").cast("double"))
      .filter(greatest(col("containment_a"), col("containment_b"))
        >= threshold)
      .select(col("id_a"), col("id_b"), col("n_shared"), col("n_a"),
        col("n_b"), col("containment_a"), col("containment_b"))
  }

  /** Connected components over a near-dup pair graph: every node gets
    * the MIN id reachable through the pairs — the deterministic cluster
    * representative, turning pairwise near-dup output into dedup GROUPS
    * (keep cluster_id, drop the rest).
    *
    * Algorithm: min-label propagation WITH POINTER JUMPING. Each round
    *  (1) pulls the min label across edges (one equi-join + min-agg),
    *  (2) shortcuts label := label(label) (a self-join on the label
    *      table) — labels only ever decrease, so chains collapse in
    *      O(log n) rounds where plain propagation needs O(diameter)
    *      (a 1M-doc chain would take 1M rounds; this takes ~20).
    * Per round: two shuffles over (id, label) pairs — never document
    * bodies, never a transitive-closure materialization. The driver
    * loop with a per-round convergence action is the standard
    * Pregel-class shape; each round's result is cut, so lineage stays
    * bounded.
    *
    * Convergence: sum(label) is strictly decreasing until fixpoint
    * (labels only decrease), so equal consecutive sums ⇔ converged —
    * one cheap aggregate instead of a change-count join. Sums
    * accumulate in DECIMAL(38,0): exact for any id range.
    *
    * Each round ends in [[Checkpointing.cut]] — this TRUNCATES THE
    * LOGICAL PLAN, not just caches data. Without it the self-join makes
    * the plan tree ~4× bigger per round and Catalyst analysis goes
    * exponential long before the data does (measured: the 46-node test
    * fixture burned 15 min of pure analyzer CPU by round ~10).
    *
    * `nodes` must contain every id that may appear in `pairs`;
    * isolated nodes become singleton clusters. Pass `nodesDistinct =
    * true` when node ids are already unique (a table key) to skip the
    * init round's distinct exchange. WARNING (ADVICE r17): the flag is
    * trusted unconditionally — if ids are NOT unique, the duplicate
    * rows propagate silently into every round and the output contains
    * duplicated (id, cluster_id) rows with no error. Only set it for a
    * genuine table key. */
  def clusters(
      nodes: DataFrame, pairs: DataFrame,
      id: Column, idA: Column, idB: Column,
      maxIters: Int = 50,
      nodesDistinct: Boolean = false): DataFrame = {
    import org.apache.spark.sql.Observation
    import org.apache.spark.storage.StorageLevel
    // the convergence sum rides each round's ONE action (the eager
    // cut) via observe() — no second per-round job
    def checkpointWithSum(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val obs = Observation()
      val out = Checkpointing.cut( // cut lineage — see scaladoc
        df.observe(obs, sum(col("label").cast("decimal(38,0)")).as("lsum")))
      val d = obs.get("lsum").asInstanceOf[java.math.BigDecimal]
      (out, if (d == null) java.math.BigDecimal.ZERO else d)
    }
    // `nodesDistinct = true` (caller guarantees unique node ids — e.g.
    // the table key) skips the init round's distinct exchange entirely
    val nodeIds = if (nodesDistinct) nodes.select(id.as("id"))
      else nodes.select(id.as("id")).distinct()
    var (labels, prevSum) = checkpointWithSum(
      nodeIds.withColumn("label", col("id")))
    var converged = false
    var it = 0
    // (r17 measured-and-rejected: pre-partitioning this cache by dst so
    // the per-round pull join reuses the partitioning — the extra
    // materialization exchange cost more than the per-round reuse
    // returned on every clusters-consuming query; same-epoch interleaved
    // A/B in bench/clusters_edges_repartition_receipt_r17.txt.)
    // r18: double the edges in ONE explode pass — the old self-union
    // evaluated the `pairs` subtree twice while building this persist
    // (ReuseExchange dedups the join's shuffles but not the post-join
    // stage, so e.g. an exact-jaccard verify ran once per union branch).
    // Same multiset of (src, dst) rows; every consumer is a join or an
    // order-free aggregate, so results are bit-identical.
    val edges = pairs.select(idA.as("a"), idB.as("b"))
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      while (!converged && it < maxIters) {
        // r18: the pull (neighbor min) and the keep-own-label step fuse
        // into ONE aggregate — each node's previous label rides the same
        // union as the pulled neighbor labels, so min() over the group IS
        // least(own, nbr-min) and the old labels⋈nbrMin join disappears
        // NO per-round persist: the jump self-join references stepped
        // under two different keys (label and id), but the expensive part
        // — the pull join + its exchange — is deduplicated by
        // ReuseExchange (identical subtree), so only the post-shuffle
        // aggregate runs twice, over node-sized data. A MEMORY_AND_DISK
        // persist here was measured and rejected: its per-round cache
        // write is a constant that cost 1.2-1.5× at sf0.1
        // (bench/r18_others_paired_sf01.json) for no structural saving.
        val stepped = labels.select(col("id"), col("label"))
          .unionByName(edges
            .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
            .select(col("src").as("id"), col("label")))
          .groupBy("id").agg(min("label").as("label"))
        // pointer jump: label := label(label) — label is always a node id,
        // and label(x) <= x, so this only ever shrinks labels
        val (jumped, s) = checkpointWithSum(stepped
          .join(stepped.select(col("id").as("label"), col("label").as("parent")),
            Seq("label"), "left")
          .select(col("id"), coalesce(col("parent"), col("label")).as("label")))
        // the previous round's cut is now unreachable; the context
        // cleaner frees it (Dataset.unpersist cannot: a cut is no
        // CacheManager entry)
        labels = jumped
        converged = s.compareTo(prevSum) == 0
        prevSum = s
        it += 1
      }
    } finally edges.unpersist()
    // no silent caps: a partially-converged labeling is NOT a clustering
    require(converged,
      s"clusters: min-label propagation did not converge within $maxIters " +
        "rounds — raise maxIters (pointer jumping needs ~log2(n) rounds)")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Embedding near-dup: cosine >= `threshold` pairs, LSH-bucketed via
    * Similarity.signatureBuckets — the same no-cross-join discipline.
    *
    * `autoSize = true` replaces the fixed (nPlanes, bands) with
    * [[sizedEmbeddingBands]]'s corpus-calibrated pair: the r8 scaling
    * receipt showed the fixed 8-bit × 16-band default is correct at
    * every measured scale but 8.5× wall for 10× data — band bits must
    * grow with log(n) (to keep in-bucket candidates linear) and band
    * count with the recall bound at the chosen bits. This is the
    * embedding twin of calibrateMinhashBands, and the 100 TB default.
    *
    * Band DENSITY is the load-bearing parameter (r7): bits per band =
    * nPlanes / bands, and background collision per band is ~0.5^bits.
    * The old default (16 planes / 4 bands = 4 bits) surfaced ~6 % of
    * ALL pairs per band as candidates; 2-bit bands surfaced 89 % of
    * the full quadratic at sf0.1 and, one scale up, pushed every
    * bucket past `bucketCap` so the guard dropped ALL candidates and
    * the result went EMPTY (observably — drop metrics fired — but
    * empty). 8-bit bands × 16 keeps background collisions at ~0.4 %
    * per band while a true pair at cos 0.95 (per-plane agreement
    * p ≈ 0.897, per-band p⁸ ≈ 0.42) is missed by all 16 bands with
    * probability (1−0.42)¹⁶ ≈ 1.7e-4. Measured at sf0.1: candidates
    * 1.87 M → ~60 k, wall 4.45 → 1.19 s, planted recall 50/50 at
    * sf0.01, sf0.1 and the 10× replica (EmbNearDupProbe,
    * `git show d7412f5:src/main/scala/graft/tools/EmbNearDupProbe.scala`).
    *
    * Scale shape mirrors the MinHash path exactly: the bucket self-join
    * carries only (bucket, id) — vectors are rehydrated by id at the
    * verify stage — and buckets wider than `bucketCap` (an embedding
    * cluster of boilerplate/duplicated content) are dropped via a
    * broadcast anti-join rather than exploding quadratically.
    *
    * Estimate-then-verify, OPT-IN (`estimatePlanes > 0`): each id gets
    * ONE packed 64-bit hyperplane-sign signature (HyperplaneSigns,
    * seed+1 so the estimate is independent of the banding planes), and
    * candidates whose sign-agreement estimate of the angle falls a
    * conservative 2.5σ below `threshold` are culled BEFORE vectors are
    * rehydrated — an (id, long) join instead of an (id, 64-float) join
    * for the background. The final gate is still the exact cosine.
    * MEASURED default-off: despite a background-heavy candidate set
    * (~486 k candidates / 50 true pairs at sf0.1) the prefilter is
    * wall-clock NEUTRAL locally (2.43 vs 2.38 s — CosineSim is codegen'd
    * and the vector rehydrate join is not the bottleneck) and SLOWER on
    * the 10× replica (3.8 vs 3.0 s — there the bucket cap empties the
    * candidate set, so the two signature passes buy nothing). Opt in
    * when the verify join's shuffle VOLUME is the binding constraint
    * (256 B of vector vs 8 B of signature per candidate — a cluster
    * regime this box can't exhibit). Recall caveat (same class as the
    * MinHash prefilter): a true pair AT the exact threshold carries a
    * ~0.6 % estimate-miss risk, vanishing above it; culls are
    * observe()-reported (see [[prefilterMetricPrefix]]). */
  def embeddingNearDupPairs(
      df: DataFrame, // (id, vec)
      id: Column,
      vec: Column,
      threshold: Double,
      dim: Int = 64,
      nPlanes: Int = 128,
      bands: Int = 16,
      seed: Long = 42L,
      bucketCap: Int = 1000,
      topK: Option[Int] = None,
      estimatePlanes: Int = 0,
      autoSize: Boolean = false): DataFrame = {
    val named = df.select(id.as("id"), vec.as("v"))
    // autoSize: move BOTH band dials with the corpus (see
    // sizedEmbeddingBands — fixed parameters are a scaling-law bug)
    val (effPlanes, effBands) =
      if (!autoSize) (nPlanes, bands)
      else {
        val (bits, nb, _) = sizedEmbeddingBands(named, col("v"), threshold)
        (bits * nb, nb)
      }
    val planes = Similarity.hyperplanes(dim, effPlanes, seed)
    // The banded table feeds THREE plan branches (skew-guard sizes +
    // both self-join sides); left lazy, Catalyst re-derives the subtree
    // per branch — re-running the bands·bits·dim signature fold and the
    // band explode three times (the re-derivation trap PlanProbe found,
    // SCALE.md; `git show d7412f5:src/main/scala/graft/tools/PlanProbe.scala`;
    // measured ~2× the operator wall at the 10× replica).
    // Checkpointing.cut materializes it ONCE — bands·n slim rows,
    // linear — and all branches read the cut. Same lineage-truncation
    // precedent as clusters().
    //
    // r9 restructure, from the 26×-replica staged probe (SCALE.md):
    //  - bucket keys are LONGs ((band << 32) | bits), not "band:bits"
    //    strings — the bucket column is shuffled and hash-joined
    //    bands·n times, and a fixed 8-byte key beats an ~18-byte UTF8
    //    one on every hop;
    //  - the estimate signature (one long of `estimatePlanes` sign
    //    bits) rides INSIDE the banded table, so the candidate cull is
    //    a map-side popcount DIRECTLY on the self-join output — before
    //    dropDuplicates and with no per-pair signature joins. At 26×
    //    the old order (dedup 10.7M raw candidates, then join sigs
    //    twice) spent 15 s moving rows the estimate would kill for
    //    free.
    val withEst = estimatePlanes > 0
    val estPlanes =
      if (withEst) Similarity.hyperplanes(dim, estimatePlanes, seed + 1)
      else Array.empty[Array[Double]]
    val sigCol =
      if (withEst) graft.functions.expressions.GraftFunctions
        .hyperplane_signs(col("v"), estPlanes)
      else lit(0L)
    val bucketed = Checkpointing.cut(named
      .withColumn("sig", sigCol)
      .withColumn("bucket", explode(graft.functions.expressions.GraftFunctions
        .hyperplane_bands_long(col("v"), planes, effBands)))
      .select(col("bucket"), col("id"), col("sig"))) // ids+sig only through the LSH join
    // skew guard: drop degenerate hot buckets before the self-join,
    // observably (see capBuckets)
    val pruned = capBuckets(bucketed, Seq("bucket"), bucketCap, "embedding")
    val joined = pruned
      .select(col("bucket"), col("id").as("id_a"), col("sig").as("sig_l"))
      .join(pruned
        .select(col("bucket"), col("id").as("id_b"), col("sig").as("sig_r")),
        Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
    val prefiltered =
      if (!withEst) joined.dropDuplicates("id_a", "id_b").select("id_a", "id_b")
      else {
        // expected sign agreement at the threshold angle, minus 2.5σ of
        // the estimator (sd bounded by √(0.25/planes))
        val expectAgree = 1.0 -
          math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
        val floor = expectAgree - 2.5 * math.sqrt(0.25 / estimatePlanes)
        joined
          .withColumn("est_ok",
            (lit(estimatePlanes) - bit_count(col("sig_l").bitwiseXOR(col("sig_r"))))
              .cast("double") / estimatePlanes >= floor)
          // same no-silent-culls discipline as estimatePrefilter:
          // metric upstream of the cull filter, on the raw join output
          // (counts are per-collision here, pre-dedup)
          .observe(s"$prefilterMetricPrefix" +
            s"embedding_${skewGuardSeq.incrementAndGet()}",
            coalesce(sum(when(col("est_ok"), 0L).otherwise(1L)), lit(0L))
              .as("culled_candidates"),
            count(lit(1)).as("candidates"))
          .filter(col("est_ok"))
          .dropDuplicates("id_a", "id_b")
          .select("id_a", "id_b")
      }
    // verify stage: rehydrate vectors by id, exact cosine once per pair
    val verified = prefiltered
      .join(named.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(named.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("sim", round(Similarity.cosine(col("v_a"), col("v_b")), 6))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
    topK match {
      case Some(k) => verified.orderBy(col("sim").desc, col("id_a"), col("id_b")).limit(k)
      case None    => verified.orderBy("id_a", "id_b")
    }
  }

  /** Chunk-level corpus dedup (the C4/RefinedWeb "line dedup" move,
    * char-chunked because the fixture corpus is single-line): split
    * every document into non-overlapping `size`-char chunks, find each
    * chunk text's FIRST occurrence corpus-wide (min (doc_id, chunk_idx)
    * — deterministic keeper, same rule as [[exact]]), and roll up per
    * document how much of it is chunk-duplicated elsewhere.
    *
    * Output: (doc_id, n_chunks, n_dup_chunks, dup_ratio) — dup_ratio is
    * one exactly-rounded IEEE divide, cross-engine stable.
    *
    * 100 TB shape: the duplicate-resolution window partitions by
    * `chunk_md5` — cardinality ≈ corpus chunks, so parallelism GROWS
    * with data (contrast the g6 lesson) — and the shuffle carries
    * 16-byte digests + ids, never chunk bodies (md5 computed map-side,
    * body dropped before the exchange). The per-doc rollup then
    * re-shuffles (doc_id, flag) pairs only. Two well-keyed shuffles
    * total, both partial-aggregated where applicable. */
  def chunkDedup(
      docs: DataFrame,
      id: Column,
      text: Column,
      size: Int = 200): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("chunk_md5").orderBy("doc_id", "chunk_idx")
    // null text has no derivable chunks — without the filter such docs
    // emit one null-digest chunk each and count each OTHER as
    // duplicates through the shared null partition
    TextPipeline.chunkWithOverlap(
      docs.where(text.isNotNull), id, text, size = size, stride = size)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_md5"))
      .withColumn("occ", row_number().over(w))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("occ") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_ratio",
        col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
  }

  /** Content-defined chunk dedup (the rsync/LBFS/FastCDC family next to
    * [[chunkDedup]]'s fixed-width grid): boundaries come from the
    * rolling-hash 0-mod-B rule (expressions.CdcChunks), so a one-char
    * insertion re-chunks one neighborhood instead of shifting every
    * downstream chunk — the variant that still finds shared content
    * between near-identical documents where a fixed grid loses
    * alignment. Per document: how many of its distinct chunks are first
    * seen HERE (min-doc_id ownership — the [[exact]] keeper rule,
    * novelty shape shared with TextPipeline.ngramNovelty).
    *
    * 100 TB shape: chunking + chunk hashing are one map-side O(len)
    * pass per row (CdcChunks); every shuffle after that carries
    * (doc_id, hash, len) triples — never chunk bodies. Ownership is a
    * plain min aggregation keyed on the chunk key (cardinality ≈
    * corpus chunks, parallelism grows with data), re-joined to the
    * per-doc distinct set on the same key, then one doc-keyed rollup;
    * the docs spine left-join keeps chunk-less (empty-text) docs with
    * null novelty rather than dropping them.
    *
    * Output: (doc_id, n_chunks, n_distinct, n_novel, novelty). */
  def cdcNovelty(
      docs: DataFrame,
      id: Column,
      text: Column,
      window: Int = 16,
      modB: Int = 32): DataFrame = {
    val occ = docs.where(text.isNotNull)
      .select(id.as("doc_id"),
        explode(graft.functions.expressions.GraftFunctions
          .cdc_chunks(text, window, modB)).as("c"))
      .select(col("doc_id"), col("c.len").as("chunk_len"),
        col("c.hash").as("chunk_hash"))
    val dk = occ.distinct()
    val own = dk.groupBy("chunk_hash", "chunk_len")
      .agg(min(col("doc_id")).as("first_doc"))
    val perDoc = dk.join(own, Seq("chunk_hash", "chunk_len"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_distinct"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    val tot = occ.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    docs.select(id.as("doc_id"))
      .join(tot, Seq("doc_id"), "left")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (col("n_novel").cast("double") / col("n_distinct").cast("double"))
          .as("novelty"))
  }

  /** CAPTURE–RECAPTURE corpus-size estimate (Chapman '51 bias-
    * corrected Lincoln–Petersen): treat two overlapping crawls as
    * wildlife captures — N̂ = (n_a+1)(n_b+1)/(m+1) − 1 from their
    * sizes and fingerprint overlap m — and the answer is how much
    * content EXISTS that neither crawl saw, i.e. each crawl's true
    * coverage. The data-acquisition question ("is a third crawl of
    * this source worth buying?") that dedup rates alone cannot
    * answer: high overlap means the source is exhausted, low overlap
    * means the crawls are each seeing a sliver.
    *
    * Membership here is the caller's columns (real deployments pass
    * actual crawl tags); the contract query simulates two seeded
    * md5-thresholded samples so the estimator is exercised against a
    * KNOWN ground truth. Assumes independent captures (as always for
    * Lincoln–Petersen — correlated crawls bias N̂ low; stated, not
    * hidden).
    *
    * 100 TB shape: ONE scan, four conditional exact counts, one
    * output row. Chapman's +1s keep the estimator finite at m = 0.
    *
    * Output: ONE row — (n_total_seen, n_a, n_b, m_overlap, n_hat
    * 2dp, coverage_a 6dp, coverage_b 6dp) where coverage_x =
    * n_x/N̂. */
  def captureRecapture(
      df: DataFrame, inA: Column, inB: Column): DataFrame = {
    val base = df.select(
      coalesce(inA, lit(false)).as("a"),
      coalesce(inB, lit(false)).as("b"))
    val g = base.agg(
      sum(when(col("a") || col("b"), 1L).otherwise(0L))
        .as("n_total_seen"),
      sum(when(col("a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(col("b"), 1L).otherwise(0L)).as("n_b"),
      sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("m_overlap"))
    val nHat = (col("n_a") + 1).cast("double") *
      (col("n_b") + 1).cast("double") /
      (col("m_overlap") + 1).cast("double") - lit(1.0)
    g.select(col("n_total_seen"), col("n_a"), col("n_b"),
      col("m_overlap"),
      round(nHat, 2).as("n_hat"),
      round(when(nHat > 0.0, col("n_a").cast("double") / nHat), 6)
        .as("coverage_a"),
      round(when(nHat > 0.0, col("n_b").cast("double") / nHat), 6)
        .as("coverage_b"))
  }

  /** Near-dup THRESHOLD SENSITIVITY sweep — the policy table behind
    * "dedup at 0.8 or 0.7?": one [[minhashNearDupPairs]] pass at the
    * LOWEST candidate threshold, then per policy threshold the pair
    * count and the number of documents any ≥-t pair touches. A cliff
    * between two rows (pairs exploding as t drops) marks template
    * families entering the net; a flat table says the corpus's
    * near-dup structure is insensitive and the cheaper-recall
    * setting is safe.
    *
    * The pair pipeline runs ONCE (at min(thresholds)) — the sweep is
    * conditional counting over its verified exact-Jaccard output,
    * never a re-run per threshold. Candidate recall follows the LSH
    * banding curve AT THE LOW THRESHOLD (the banded-recall contract
    * of [[minhashNearDupPairs]]); rows are counts of the PIPELINE's
    * policy output, which is exactly what the policy decision is
    * about.
    *
    * 100 TB shape: the sweep adds one |thresholds|-fan-out explode of
    * the (already near-dup-sized) pair table and two bounded
    * aggregates. Exact integers throughout.
    *
    * Output: (threshold 2dp, n_pairs, n_docs), one row per requested
    * threshold (zero rows kept as 0 — the B14 discipline), ordered
    * by threshold. */
  def neardupThresholdSweep(
      df: DataFrame,
      id: Column,
      text: Column,
      thresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9),
      shingleN: Int = 5,
      numHashes: Int = 64,
      bands: Int = 8): DataFrame = {
    require(thresholds.nonEmpty && thresholds.forall(t => t > 0 && t < 1),
      s"thresholds must be in (0,1), got $thresholds")
    val ts = thresholds.sorted
    // cut: the mined pair table (ids + jaccard, never text) is
    // consumed by BOTH the pair-count and the touched-doc-count branch;
    // without it each branch re-runs the whole LSH + exact-verify
    // subtree, so "pairs mined once" held only per-branch.
    val pairs = Checkpointing.cut(minhashNearDupPairs(df, id, text,
      shingleN = shingleN, numHashes = numHashes, bands = bands,
      threshold = ts.head))
    val tCol = explode(array(ts.map(t => lit(t)): _*)).as("threshold")
    val fanned = pairs.select(col("id_a"), col("id_b"), col("jaccard"),
      tCol)
      .filter(col("jaccard") >= col("threshold"))
    val pairCounts = fanned.groupBy("threshold")
      .agg(count(lit(1)).as("n_pairs"))
    val docCounts = fanned
      .select(col("threshold"),
        explode(array(col("id_a"), col("id_b"))).as("doc"))
      .groupBy("threshold")
      .agg(count_distinct(col("doc")).as("n_docs"))
    val spine = df.sparkSession
      .createDataFrame(ts.map(Tuple1(_))).toDF("threshold")
    spine
      .join(pairCounts, Seq("threshold"), "left")
      .join(docCounts, Seq("threshold"), "left")
      .select(round(col("threshold"), 2).as("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy("threshold")
  }
}
