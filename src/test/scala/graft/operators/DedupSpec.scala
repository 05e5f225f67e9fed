package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class DedupSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps " +
      "in the warm afternoon sun near the old wooden fence"

  /** doc 1 ≈ doc 2 (one-word edit), doc 5 == doc 6 exactly; 3,4 unrelated. */
  private lazy val docs = Seq(
    (1L, base),
    (2L, base.replace("lazy", "sleepy")),
    (3L, "completely different content about spark query engines and shuffles"),
    (4L, "yet another unrelated string with nothing shared at all here folks"),
    (5L, "identical twin document body"),
    (6L, "identical twin document body")).toDF("doc_id", "text")

  test("exact dedup keeps min id per identical key") {
    val got = Dedup.exact(docs, col("text"), col("doc_id"))
      .orderBy("keep_id").collect()
    assert(got.length == 5) // 6 docs, one exact pair
    val twin = got.find(_.getAs[Long]("n_copies") == 2L).get
    assert(twin.getAs[Long]("keep_id") == 5L)
  }

  test("fingerprint dedup normalizes whitespace/case") {
    val messy = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
    val got = Dedup.byFingerprint(messy, col("text"), col("doc_id")).collect()
    assert(got.length == 2)
    assert(got.find(_.getAs[Long]("n_copies") == 2L).get.getAs[Long]("keep_id") == 1L)
  }

  test("minhash LSH finds the near-dup pair and agrees with brute-force Jaccard") {
    val got = Dedup.minhashNearDupPairs(
      docs, col("doc_id"), col("text"),
      shingleN = 5, numHashes = 32, bands = 8, threshold = 0.5).collect()
    val pairs = got.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L))) // the crafted near-dup
    assert(pairs.contains((5L, 6L))) // the exact dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated stays out
    // verify the reported jaccard against an independent brute-force compute
    val brute = docs.as("a").crossJoin(docs.as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        round(Dedup.ngramJaccard($"a.text", $"b.text", 5), 6).as("j"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    got.foreach { r =>
      val k = (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
      assert(math.abs(brute(k) - r.getAs[Double]("jaccard")) < 1e-9)
    }
  }

  test("minhash plan contains no cartesian product") {
    val plan = Dedup.minhashNearDupPairs(
      docs, col("doc_id"), col("text")).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("simhash near-dup pairs via chunk blocking, no cartesian") {
    val q = Dedup.simhashNearDupPairs(docs, col("doc_id"), col("text"), maxHamming = 8)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    val pairs = q.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((5L, 6L))) // identical docs: hamming 0
    assert(pairs.contains((1L, 2L))) // one-word edit: few bits differ
  }

  test("embedding near-dup finds parallel vectors only, bucketed") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.01f, 0.0f, 0.0f)), // ~parallel to 1
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = Dedup.embeddingNearDupPairs(
      vecs, col("vec_id"), col("embedding"), threshold = 0.95, dim = 4,
      nPlanes = 8, bands = 4)
    val pairs = q.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((1L, 2L)))
    assert(!q.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("embedding prefilter (opt-in) leaves the answer unchanged, culls observably") {
    // near-orthogonal noise pairs band-collide at this loose banding,
    // so the opt-in sign-signature estimate has background to cull
    val rnd = new scala.util.Random(7)
    val vecs = (Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.999f, 0.001f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f))) ++
      (10L to 60L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat))))
      .toDF("vec_id", "embedding")
    def run(est: Int) = Dedup.embeddingNearDupPairs(
      vecs, col("vec_id"), col("embedding"), threshold = 0.95, dim = 8,
      nPlanes = 8, bands = 8, estimatePlanes = est)
    val q = run(64)
    val got = q.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(got == Set((1L, 2L)))
    val off = run(0).collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(off == got) // identical answer with and without the estimate
    val m = q.queryExecution.observedMetrics.collect {
      case (name, row) if name.startsWith(Dedup.prefilterMetricPrefix) => row
    }
    assert(m.nonEmpty, "the embedding prefilter must emit an observe() metric")
    assert(m.head.getAs[Long]("culled_candidates") > 0L,
      "background candidates must be reported as culled")
  }

  test("skew guard: a degenerate boilerplate cluster stays linear (simhash)") {
    // 200 identical boilerplate docs — without the bucket cap this is
    // 200*199/2 = 19900 quadratic pairs inside one (chunk, cval) bucket.
    val boiler = "standard boilerplate disclaimer all rights reserved " +
      "please read these terms carefully before proceeding any further"
    val cluster = (100L until 300L).map(i => (i, boiler))
    val mixed = (Seq(
      (1L, base),
      (2L, base.replace("lazy", "sleepy")),
      (3L, "completely different content about spark query engines and shuffles"),
      (5L, "identical twin document body"),
      (6L, "identical twin document body")) ++ cluster).toDF("doc_id", "text")
    val got = Dedup.simhashNearDupPairs(
      mixed, col("doc_id"), col("text"), maxHamming = 8, bucketCap = 50)
      .collect()
    val pairs = got.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((5L, 6L)), "small-bucket near-dups must survive the cap")
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 >= 100L || p._2 >= 100L),
      "over-cap cluster buckets must be dropped, not joined quadratically")
    assert(got.length <= 20, s"candidate volume must stay linear, got ${got.length}")
    // surfaced hamming values still match a brute-force recompute
    val sh = mixed.select(col("doc_id"), graft.functions.expressions.GraftFunctions
      .simhash64(col("text")).as("sh")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { r =>
      val expect = java.lang.Long.bitCount(
        sh(r.getAs[Long]("id_a")) ^ sh(r.getAs[Long]("id_b")))
      assert(r.getAs[Long]("hamming") == expect)
    }
  }

  test("skew guard: a degenerate embedding cluster stays linear") {
    val cluster = (100L until 300L).map(i => (i, Array(0.5f, 0.5f, 0.5f, 0.5f)))
    val vecs = (Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.01f, 0.0f, 0.0f)), // ~parallel to 1
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f))) ++ cluster).toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDupPairs(
      vecs, col("vec_id"), col("embedding"), threshold = 0.95, dim = 4,
      nPlanes = 16, bands = 4, bucketCap = 50).collect()
    val pairs = got.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)), "small-bucket near-dup must survive the cap")
    assert(!pairs.exists(p => p._1 >= 100L || p._2 >= 100L),
      "over-cap cluster buckets must be dropped")
    assert(got.length <= 20, s"candidate volume must stay linear, got ${got.length}")
  }

  test("embedding band auto-sizing: bits grow with n, recall bound holds, answer unchanged") {
    val rnd = new scala.util.Random(11)
    def corpus(n: Int) = (1L to n.toLong)
      .map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val (bitsSmall, bandsSmall, nSmall) =
      Dedup.sizedEmbeddingBands(corpus(300), col("embedding"), 0.9)
    val (bitsBig, bandsBig, nBig) =
      Dedup.sizedEmbeddingBands(corpus(20000), col("embedding"), 0.9)
    assert(nSmall == 300L && nBig == 20000L) // n rides the sample job
    assert(bitsBig >= bitsSmall, "band bits must not shrink as the corpus grows")
    // the at-threshold recall bound (1-p^bits)^bands <= missTarget
    val pT = 1.0 - math.acos(0.9) / math.Pi
    for ((bits, bands) <- Seq((bitsSmall, bandsSmall), (bitsBig, bandsBig)))
      assert(math.pow(1.0 - math.pow(pT, bits), bands) <= 1e-4 * 1.0001,
        s"recall bound violated at bits=$bits bands=$bands")
    // end-to-end: autoSize finds exactly the planted parallel pair
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.01f, 0.0f, 0.0f)), // ~parallel to 1
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = Dedup.embeddingNearDupPairs(
      vecs, col("vec_id"), col("embedding"), threshold = 0.95, dim = 4,
      autoSize = true)
    val pairs = q.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("LSH auto-sizing: band bits grow with corpus, calibration sees background sim") {
    // hyperplane bits: hold expected random bucket width at ~4
    assert(Dedup.sizedBandBits(1000) == 8)     // 2^8 = 256 ≈ 1000/4
    assert(Dedup.sizedBandBits(60000) == 14)   // 2^14 ≈ 15k
    assert(Dedup.sizedBandBits(100000000L) == 25)
    assert(Dedup.sizedBandBits(10) == 4)       // floor

    // vocabulary-limited corpus (high background Jaccard): calibration
    // must pick MORE rows per band (fewer bands) than a diverse corpus
    val vocab = Seq("spark", "line", "sort", "fast", "query", "agg",
      "table", "hash", "scan", "group", "value", "key")
    val rnd = new scala.util.Random(7)
    val lookalike = (1L to 300L).map(i =>
      (i, Seq.fill(40)(vocab(rnd.nextInt(vocab.length))).mkString(" ")))
      .toDF("doc_id", "text")
    val diverse = (1L to 300L).map(i =>
      (i, Seq.fill(40)(s"w${rnd.nextInt(100000)}x${i}").mkString(" ")))
      .toDF("doc_id", "text")
    val bandsLookalike = Dedup.calibrateMinhashBands(lookalike, col("text"), 300L)
    val bandsDiverse = Dedup.calibrateMinhashBands(diverse, col("text"), 300L)
    assert(bandsLookalike < bandsDiverse,
      s"lookalike corpus must get fewer bands (more rows/band): " +
        s"$bandsLookalike vs $bandsDiverse")
    assert(bandsLookalike <= 5, s"r>=6 expected on the 12-word corpus, got bands=$bandsLookalike")
  }

  test("calibration tolerates NULL text rows") {
    // NULLs sort together under xxhash64 ordering and used to land in the
    // collected sample, NPE-ing in the driver-side jaccard (ADVICE r3).
    val withNulls = Seq(
      (1L, base),
      (2L, base.replace("lazy", "sleepy")),
      (3L, null.asInstanceOf[String]),
      (4L, null.asInstanceOf[String]),
      (5L, "some other unrelated text body here"),
      (6L, "and one more different document text")).toDF("doc_id", "text")
    val bands = Dedup.calibrateMinhashBands(withNulls, col("text"), 6L)
    assert(bands >= 1 && bands <= 32)
  }

  test("calibration sizes bands with the Jaccard that ngram_jaccard verifies with") {
    import graft.functions.expressions.GraftFunctions.ngram_jaccard
    // each group: four distinct strings that normalize to one text, so
    // the verify Jaccard calls every pair a duplicate; calibration then
    // sees no non-duplicate background (s0 = 1) and sizes a single band.
    // A calibration that normalized differently (String.toLowerCase,
    // `\s`, trim) would see background pairs and size several bands.
    val groups = Seq(
      Seq("\u2003Hello  World", "hello world", "Hello\u2003World", "HELLO WORLD\u2003"),
      Seq("abc\u001Fdef", "abc def", "abc\u001F def", "ABC\u001F\u001FDEF"),
      Seq("\u0130stanbul", "istanbul", "\u0130STANBUL\u2003", "Istanbul\u2003"))
    for (g <- groups) {
      val df = g.toDF("t")
      val jac = df.as("a").crossJoin(df.as("b"))
        .select(ngram_jaccard(col("a.t"), col("b.t"), 3)).as[Double].collect()
      assert(jac.length == 16 && jac.forall(_ == 1.0), g)
      val bands = Dedup.calibrateMinhashBands(df, col("t"), 2L, shingleN = 3, numHashes = 64)
      assert(bands == 1, s"$g: calibration saw background pairs, sized $bands bands")
    }
  }

  test("skew-guard truncation is observable, never silent") {
    val boiler = "standard boilerplate disclaimer all rights reserved " +
      "please read these terms carefully before proceeding any further"
    val mixed = (Seq(
      (1L, base),
      (2L, base.replace("lazy", "sleepy")),
      (5L, "identical twin document body"),
      (6L, "identical twin document body")) ++
      (100L until 300L).map(i => (i, boiler))).toDF("doc_id", "text")
    val q = Dedup.simhashNearDupPairs(
      mixed, col("doc_id"), col("text"), maxHamming = 8, bucketCap = 50)
    q.collect()
    val metrics = q.queryExecution.observedMetrics.collect {
      case (name, row) if name.startsWith(Dedup.skewGuardMetricPrefix) => row
    }
    assert(metrics.nonEmpty, "the bucket cap must emit an observe() metric")
    assert(metrics.head.getAs[Long]("dropped_buckets") > 0L)
    assert(metrics.head.getAs[Long]("dropped_rows") >= 200L,
      "the 200-doc boilerplate cluster rows must be reported as dropped")
    // ... and a corpus with no hot buckets reports zero truncation (the
    // metric may be absent entirely: AQE eliminates the empty guard
    // subtree — absent ⇒ nothing dropped, see skewGuardMetricPrefix doc)
    val clean = Dedup.simhashNearDupPairs(docs, col("doc_id"), col("text"))
    clean.collect()
    val zero = clean.queryExecution.observedMetrics.collect {
      case (name, row) if name.startsWith(Dedup.skewGuardMetricPrefix) => row
    }
    assert(zero.forall(_.getAs[Long]("dropped_buckets") == 0L))
  }

  test("estimate-then-verify prefilter culls are observable, output unchanged") {
    // single-row bands: ANY agreeing minhash makes a candidate pair, so
    // the crafted near-dup (1,2) at J≈0.8 band-collides — and at
    // threshold 0.99 the signature-agreement estimate (estFloor 0.95)
    // must cull it BEFORE text rehydration, observably
    def run(margin: Double) = Dedup.minhashNearDupPairs(
      docs, col("doc_id"), col("text"),
      shingleN = 5, numHashes = 32, bands = 32, threshold = 0.99,
      estimateMargin = margin)
    val q = run(0.04)
    val got = q.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(got == Set((5L, 6L))) // only the exact dup reaches 0.99
    val m = q.queryExecution.observedMetrics.collect {
      case (name, row) if name.startsWith(Dedup.prefilterMetricPrefix) => row
    }
    assert(m.nonEmpty, "the prefilter must emit an observe() metric")
    assert(m.head.getAs[Long]("candidates") > m.head.getAs[Long]("culled_candidates"))
    assert(m.head.getAs[Long]("culled_candidates") > 0L,
      "the J≈0.8 candidate pair must be reported as culled")
    // disabling the prefilter (margin >= threshold) — identical output
    val off = run(1.0).collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(off == got)
  }

  test("clusters: connected components match brute-force union-find") {
    import graft.SparkSpec
    // chain 1-2-3-...-40 (diameter 39: plain propagation would need 39
    // rounds; pointer jumping must do it well under maxIters=50 — and in
    // ~log n rounds), plus a pair, a triangle, and isolated nodes
    val chain = (1L until 40L).map(i => (i, i + 1))
    val extra = Seq((100L, 101L), (200L, 201L), (201L, 202L), (200L, 202L))
    val pairsDf = (chain ++ extra).toDF("id_a", "id_b")
    val nodesDf = ((1L to 40L) ++ Seq(100L, 101L, 200L, 201L, 202L, 999L))
      .toDF("id")
    val got = Dedup.clusters(
      nodesDf, pairsDf, col("id"), col("id_a"), col("id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute-force union-find ground truth
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    (chain ++ extra).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = ((1L to 40L) ++ Seq(100L, 101L, 200L, 201L, 202L, 999L))
      .map(n => n -> find(n)).toMap
    assert(got == want)
    assert(got(40L) == 1L, "chain end must reach the component min")
    assert(got(999L) == 999L, "isolated node stays a singleton cluster")
  }

  test("substringFingerprintPairs finds shared substrings at any offset") {
    val shared = "the quick brown fox jumps over the lazy dog today"
    val fx = Seq(
      (1L, s"AAAA $shared BBBB"),
      (2L, s"completely different prefix text then $shared"),
      (3L, "no overlap with anybody here at all, totally distinct words"),
      (4L, "x")) // shorter than the window → no fingerprints
      .toDF("doc_id", "text")
    val q = Dedup.substringFingerprintPairs(
      fx, col("doc_id"), col("text"), k = 32, modP = 2)
    assert(!q.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    val pairs = q.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.keySet == Set((1L, 2L)),
      "only the docs sharing the long substring may pair")
    // brute-force ground truth: shared sampled window hashes
    def fps(s: String, k: Int, p: Int): Set[Long] = {
      val prime = 1000000007L
      (0 to s.length - k).map { i =>
        s.substring(i, i + k).foldLeft(0L)((h, c) => (h * 31 + c) % prime)
      }.filter(_ % p == 0).toSet
    }
    val expected = (fps(s"AAAA $shared BBBB", 32, 2)
      intersect fps(s"completely different prefix text then $shared", 32, 2)).size
    assert(pairs((1L, 2L)) == expected.toLong && expected > 0)
  }

  test("sizedWinnowModP: oracle scales stay at base; modulus doubles with corpus") {
    // n ≤ baseN reproduces the base modulus EXACTLY — the sf0.01/sf0.1
    // oracle replay is bit-identical to the fixed path (r10 ask #3)
    for (n <- Seq(1L, 500L, 5000L, 8192L))
      assert(Dedup.sizedWinnowModP(n) == 8, s"n=$n must stay at base 8")
    assert(Dedup.sizedWinnowModP(16384L) == 16)
    assert(Dedup.sizedWinnowModP(50000L) == 32) // the 10x replica
    assert(Dedup.sizedWinnowModP(130000L) == 32) // the 26x replica: capped
    assert(Dedup.sizedWinnowModP(520000L) == 32, "maxModP floors samples/doc")
    // powers of two only: a ±1 count drift never nudges the modulus
    assert(Dedup.sizedWinnowModP(16383L) == 8)
    // ADVICE r11: the shift is computed in Long — at n ≥ ~2.2e12 the
    // old Int path wrapped (8 << 28 = Int.MinValue) and min() picked a
    // NEGATIVE modulus; the cap must hold all the way to Long.MaxValue.
    assert(Dedup.sizedWinnowModP(3_000_000_000_000L) == 32)
    assert(Dedup.sizedWinnowModP(Long.MaxValue) == 32)
    assert(Dedup.sizedWinnowModP(Long.MaxValue, maxModP = 1 << 20) == (1 << 20))
    // VERDICT r12 nit #1: the clamp must be FITS-BASED, not the constant
    // 60 (8L << 60 = 2^63 wraps negative; baseModP=16 wrapped at 59).
    // baseN=1 drives doublings to 62 — the cap must still win, positive.
    assert(Dedup.sizedWinnowModP(Long.MaxValue, baseN = 1L) == 32)
    assert(Dedup.sizedWinnowModP(Long.MaxValue, baseModP = 16, baseN = 1L) == 32)
    assert(Dedup.sizedWinnowModP(Long.MaxValue, baseModP = 16, baseN = 1L,
      maxModP = 1 << 20) == (1 << 20))
    assert(Dedup.sizedWinnowModP(Long.MaxValue, baseModP = 1, baseN = 1L,
      maxModP = Int.MaxValue) > 0, "deep-doubling shift must never wrap")
  }

  test("substringFingerprintPairsAuto == fixed path at oracle-fixture scale") {
    val shared = "the quick brown fox jumps over the lazy dog today and tomorrow"
    val fx = Seq(
      (1L, s"AAAA $shared BBBB"),
      (2L, s"completely different prefix text then $shared"),
      (3L, "no overlap with anybody here at all, totally distinct words"))
      .toDF("doc_id", "text")
    val auto = Dedup.substringFingerprintPairsAuto(
      fx, col("doc_id"), col("text"), bucketCap = Int.MaxValue)
      .collect().map(_.toString).sorted.toSeq
    val fixed = Dedup.substringFingerprintPairs(
      fx, col("doc_id"), col("text"), bucketCap = Int.MaxValue)
      .collect().map(_.toString).sorted.toSeq
    assert(auto == fixed, "below baseN the Auto path IS the fixed path")
    val autoC = Dedup.containmentPairsAuto(
      fx, col("doc_id"), col("text"), bucketCap = Int.MaxValue)
      .collect().map(_.toString).sorted.toSeq
    val fixedC = Dedup.containmentPairs(
      fx, col("doc_id"), col("text"), bucketCap = Int.MaxValue)
      .collect().map(_.toString).sorted.toSeq
    assert(autoC == fixedC)
  }

  test("ngramJaccard: identical → 1, disjoint → 0") {
    val df = Seq(("abcdefgh", "abcdefgh", "zzzzyyyy")).toDF("a", "b", "c")
    val r = df.select(
      Dedup.ngramJaccard(col("a"), col("b")).as("same"),
      Dedup.ngramJaccard(col("a"), col("c")).as("diff")).collect().head
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 0.0)
  }

  test("incrementalNearDup flags edited re-crawls, passes fresh docs") {
    val body = "the quick brown fox jumps over the lazy dog and then naps " * 4
    val corpus = Seq(
      (1L, body),
      (2L, "an entirely different corpus document about spark plans etc " * 4))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, body.replace("lazy", "sleepy")), // near-dup of corpus doc 1
      (11L, "completely novel content that matches nothing in the corpus " * 4))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalNearDup(
      batch, corpus, col("doc_id"), col("text"), col("doc_id"), col("text"),
      threshold = 0.5)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 1L)))
    // plan shape: candidates come from band equi-join, never all-pairs
    val plan = Dedup.incrementalNearDup(
      batch, corpus, col("doc_id"), col("text"), col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("persisted index screening matches direct incrementalNearDup exactly") {
    val body = "the quick brown fox jumps over the lazy dog and then naps " * 4
    val corpus = Seq(
      (1L, body),
      (2L, "an entirely different corpus document about spark plans etc " * 4),
      (3L, "a third corpus document concerning parquet readers and codecs " * 4))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, body.replace("lazy", "sleepy")), // near-dup of corpus doc 1
      (11L, "completely novel content that matches nothing in the corpus " * 4))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft-lsh-index").toString
    Dedup.buildMinhashIndex(corpus, col("doc_id"), col("text"), idx,
      numHashes = 64, bands = 16)
    val indexed = Dedup.incrementalNearDupIndexed(
      batch, corpus, col("doc_id"), col("text"), col("doc_id"), col("text"),
      idx, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val direct = Dedup.incrementalNearDup(
      batch, corpus, col("doc_id"), col("text"), col("doc_id"), col("text"),
      numHashes = 64, bands = 16, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(indexed == direct && indexed.map(p => (p._1, p._2)) == Set((10L, 1L)))
    // the index artifact has the advertised layout
    assert(spark.read.parquet(s"$idx/bands").columns.toSet ==
      Set("corpus_id", "band", "bhash"))
    assert(spark.read.parquet(s"$idx/sigs").columns.toSet == Set("corpus_id", "sig"))
    // screening reads parameters FROM the index meta
    val meta = spark.read.parquet(s"$idx/meta").collect().head
    assert(meta.getAs[Int]("num_hashes") == 64 && meta.getAs[Int]("bands") == 16)
  }

  test("direct and indexed near-dup screens are empty for an empty batch or corpus") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    def direct(batch: org.apache.spark.sql.DataFrame, corpus: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalNearDup(
        batch, corpus, col("doc_id"), col("text"), col("doc_id"), col("text")).collect()
    def indexed(batch: org.apache.spark.sql.DataFrame, corpus: org.apache.spark.sql.DataFrame) = {
      val idx = java.nio.file.Files.createTempDirectory("graft-lsh-empty").toString
      Dedup.buildMinhashIndex(corpus, col("doc_id"), col("text"), idx)
      Dedup.incrementalNearDupIndexed(
        batch, corpus, col("doc_id"), col("text"), col("doc_id"), col("text"), idx).collect()
    }
    assert(direct(empty, docs).isEmpty)
    assert(direct(docs, empty).isEmpty)
    assert(indexed(empty, docs).isEmpty)
    assert(indexed(docs, empty).isEmpty)
  }

  test("the MinHash band layout and hot-bucket cap are written only in Dedup") {
    import scala.jdk.CollectionConverters._
    val bandExpr = """xxhash64\s*\(\s*slice""".r
    val inlineCap = """"bsz"|>\s*bucketCap\b""".r
    val dedup = java.nio.file.Paths.get("src/main/scala/graft/operators/Dedup.scala")
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root))
    val files = java.nio.file.Files.walk(root)
    val sources =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    def code(p: java.nio.file.Path) =
      java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.filterNot { case (l, _) =>
        l.trim.startsWith("*") || l.trim.startsWith("//") || l.trim.startsWith("/**")
      }
    val offenders = sources.filter(_ != dedup).flatMap { p =>
      code(p).collect {
        case (l, i) if bandExpr.findFirstIn(l).isDefined || inlineCap.findFirstIn(l).isDefined =>
          s"$p:${i + 1}"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // ... and Dedup itself writes the band expression exactly once
    assert(code(dedup).count { case (l, _) => bandExpr.findFirstIn(l).isDefined } == 1)
  }

  test("incremental: rejects corpus re-crawls, keeps min id within the batch") {
    val corpus = Seq((1L, "alpha text"), (2L, "beta text")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "ALPHA   text"), // corpus dup modulo normalization → rejected
      (11L, "gamma text"),   // new
      (12L, "gamma  TEXT"),  // in-batch dup of 11 → folded into its group
      (13L, "delta text")    // new
    ).toDF("doc_id", "text")
    val got = Dedup.incremental(batch, corpus, col("text"), col("doc_id"), col("text"))
      .select("keep_id", "n_batch_copies").as[(Long, Long)].collect().toSet
    assert(got == Set((11L, 2L), (13L, 1L)))
    // idempotent: re-running with the admitted rows appended admits nothing new
    val admitted = batch.filter(col("doc_id").isin(11L, 13L))
    val again = Dedup.incremental(
      batch, corpus.unionByName(admitted), col("text"), col("doc_id"), col("text"))
      .select("keep_id").as[Long].collect()
    assert(again.isEmpty)
  }

  test("chunkDedup flags later occurrences, keeps the first, chunk-exact") {
    // size=4 chunks: doc 1 = "aaaabbbb", doc 2 = "bbbbaaaa" (both chunks
    // seen in doc 1 — but "bbbb" at idx 1 of doc 1 vs idx 0 of doc 2:
    // first occurrence is doc 1), doc 3 shares nothing, doc 4 is a
    // full copy of doc 1, doc 5 is shorter than one chunk.
    val docs = Seq(
      (1L, "aaaabbbb"),
      (2L, "bbbbaaaa"),
      (3L, "ccccdddd"),
      (4L, "aaaabbbb"),
      (5L, "ee")).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(docs, col("doc_id"), col("text"), size = 4)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 2L, 0L, 0.0),   // keeper of both chunks
      (2L, 2L, 2L, 1.0),   // both chunks already seen in doc 1
      (3L, 2L, 0L, 0.0),
      (4L, 2L, 2L, 1.0),   // exact copy, fully duplicated
      (5L, 1L, 0L, 0.0)))  // short tail chunk, unique
  }

  test("chunkDedup first-occurrence rule is (doc_id, chunk_idx)-deterministic") {
    // The same chunk text at different positions: the keeper is the
    // minimal (doc_id, chunk_idx), not an arbitrary first-seen.
    val docs = Seq(
      (7L, "xxxx" + "yyyy" + "xxxx"), // "xxxx" at idx 0 and 2 of the SAME doc
      (8L, "xxxx")).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(docs, col("doc_id"), col("text"), size = 4)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    // doc 7: idx 0 keeps, idx 2 is a dup (of its own idx 0); doc 8 dups
    assert(got == Seq((7L, 3L, 1L, 1.0 / 3.0), (8L, 1L, 1L, 1.0)))
  }

  // LCG-generated text: aperiodic enough to carry ~10 0-mod-32 cuts in
  // 400 chars (a short-period pattern repeats identical windows and can
  // land on ZERO cuts)
  private val cdcBase: String = {
    var x = 12345L
    (0 until 400).map { _ =>
      x = (x * 1103515245L + 12345L) % (1L << 31)
      ('a' + (x % 26).toInt).toChar
    }.mkString
  }

  test("CdcChunks: chunks PARTITION the text, idx/start contiguous") {
    val df = Seq((1L, cdcBase), (2L, "short"), (3L, "")).toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.expressions.GraftFunctions
          .cdc_chunks(col("text"), 16, 32).as("cs"))
    val rows = df.select(col("doc_id"), explode(col("cs")).as("c"))
      .select(col("doc_id"), col("c.idx"), col("c.start"), col("c.len"))
      .as[(Long, Long, Long, Long)].collect()
    val byDoc = rows.groupBy(_._1)
    val c1 = byDoc(1L).sortBy(_._2)
    assert(c1.length > 3, s"expected several cuts, got ${c1.length} chunk(s)")
    assert(c1.map(_._2).toSeq == (1L to c1.length).toSeq, "idx sequence")
    assert(c1.head._3 == 1L && c1.map(_._4).sum == cdcBase.length,
      "chunks must cover every codepoint exactly once")
    c1.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 == a._3 + a._4, "next start = prev start + prev len")
    }
    // shorter than the window: one whole-doc chunk; empty text: none
    assert(byDoc(2L).toSeq == Seq((2L, 1L, 1L, 5L)))
    assert(!byDoc.contains(3L))
  }

  test("containmentPairs: small doc quoted inside a big one — asymmetric") {
    val small = cdcBase.substring(0, 120)
    val big = cdcBase.substring(120, 360) + small + cdcBase.substring(360)
    val unrelated = cdcBase.substring(200, 320).reverse
    val docs = Seq((1L, small), (2L, big), (3L, unrelated))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, col("doc_id"), col("text"),
        threshold = 0.5, bucketCap = Int.MaxValue)
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
    assert(got.map(r => (r._1, r._2)).toSeq == Seq((1L, 2L)),
      "only the quoted pair surfaces; the reversed doc shares nothing")
    val (_, _, nShared, nA, nB, ca, cb) = got.head
    assert(nShared == nA && ca == 1.0,
      "every fingerprint of the quoted doc appears in its host")
    assert(nB > nA && cb < 0.5,
      "symmetric direction stays weak — exactly what Jaccard would dilute")
  }

  test("keeperByQuality: best quality wins, ties by id, singleton keeps") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L))
      .toDF("doc_id", "cluster_id")
    val quality = Seq((1L, 0.2), (2L, 0.9), (3L, 0.9), (9L, 0.1))
      .toDF("doc_id", "quality")
    val got = Dedup.keeperByQuality(clusters, quality)
      .as[(Long, Long, Double, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._4, r._5))).toMap
    assert(got(1L) == ((2L, false)), "low-quality min-id does NOT keep")
    assert(got(2L) == ((2L, true)), "quality argmax, tie broken by id")
    assert(got(3L) == ((2L, false)))
    assert(got(9L) == ((9L, true)), "singleton keeps itself")
  }

  test("cdcScreen: edited re-post rejected, fresh doc admitted") {
    var x = 98765L
    val fresh = (0 until 400).map { _ =>
      x = (x * 1103515245L + 12345L) % (1L << 31)
      ('a' + (x % 26).toInt).toChar
    }.mkString
    val corpus = Seq((1L, cdcBase), (2L, cdcBase.reverse)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, cdcBase + " small appended edit"), // re-post of corpus doc 1
      (11L, fresh) // genuinely new
    ).toDF("doc_id", "text")
    val got = Dedup.cdcScreen(batch, corpus, col("doc_id"), col("text"))
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    val re = got(10L)
    assert(!re._5 && re._4 > 0.5,
      s"re-post must be rejected, known_ratio ${re._4}")
    val fr = got(11L)
    assert(fr._5 && fr._3 == 0L, "fresh content shares no chunks")
  }

  test("cdcNovelty: copy scores 0; one-char insertion stays mostly shared") {
    val inserted = cdcBase.substring(0, 37) + "!" + cdcBase.substring(37)
    val docs = Seq(
      (1L, cdcBase), (2L, cdcBase), (3L, inserted), (4L, "")
    ).toDF("doc_id", "text")
    val got = Dedup.cdcNovelty(docs, col("doc_id"), col("text"))
      .as[(Long, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._5.contains(1.0), "owner doc is fully novel")
    assert(got(2L)._5.contains(0.0), "exact copy owns nothing")
    // content-defined boundaries resynchronize after the insertion:
    // only the chunk(s) around position 37 change, the rest are shared
    val d3 = got(3L)
    assert(d3._3 > 0 && d3._4 < d3._3, "insertion doc shares chunks")
    assert(d3._4.toDouble / d3._3 <= 0.34,
      s"expected mostly-shared chunks, got ${d3._4}/${d3._3} novel")
    // empty doc: zero chunks, undefined (null) novelty, row kept
    assert(got(4L) == ((4L, 0L, 0L, 0L, None)))
  }

  test("dupRateByGroup: per-slice dup mass; normalization + null class counted") {
    val docs = Seq(
      (1L, "siteA", "hello world"),
      (2L, "siteA", "  Hello   WORLD "), // normalizes to the same content
      (3L, "siteA", "unique text"),
      (4L, "siteB", "x"), (5L, "siteB", "y"), (6L, "siteB", "z"),
      (7L, "siteC", null.asInstanceOf[String]),
      (8L, "siteC", null.asInstanceOf[String])) // null class deduped too
      .toDF("doc_id", "source", "text")
    val got = Dedup.dupRateByGroup(docs, col("source"), col("text"))
      .as[(String, Long, Long, Long, Double)].collect()
    assert(got.toSeq == Seq(
      ("siteA", 3L, 2L, 1L, BigDecimal(1.0 - 2.0 / 3.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble),
      ("siteB", 3L, 3L, 0L, 0.0),
      ("siteC", 2L, 1L, 1L, 0.5)), s"got ${got.toSeq}")
  }

  // ── neardupThresholdSweep ──────────────────────────────────────────

  test("neardupThresholdSweep: monotone policy table, zero rows kept") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base),
      (2L, base), // identical: jaccard 1.0 at every threshold
      (3L, base + " with a different tail appended here"), // partial dup
      (4L, "completely unrelated content about other things entirely"))
      .toDF("doc_id", "text")
    val got = Dedup.neardupThresholdSweep(docs, col("doc_id"), col("text"),
      thresholds = Seq(0.5, 0.9))
      .as[(Double, Long, Long)].collect().toSeq
    assert(got.map(_._1) == Seq(0.5, 0.9))
    val by = got.map(r => r._1 -> r).toMap
    assert(by(0.9)._2 >= 1L, "the identical pair must clear 0.9")
    assert(by(0.5)._2 >= by(0.9)._2, "pair counts must be monotone in t")
    assert(by(0.5)._3 >= by(0.9)._3)
    // no near-dups at all → the policy rows still exist, all zero
    val clean = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val zeros = Dedup.neardupThresholdSweep(clean, col("doc_id"),
      col("text"), thresholds = Seq(0.5, 0.9))
      .as[(Double, Long, Long)].collect().toSeq
    assert(zeros == Seq((0.5, 0L, 0L), (0.9, 0L, 0L)))
  }
}
