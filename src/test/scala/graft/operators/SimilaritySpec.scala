package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class SimilaritySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val corpus = Seq(
    (10L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (11L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
    (12L, Array(0.5f, 0.5f, 0.0f, 0.0f)),
    (13L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (14L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")

  private lazy val probes = Seq((10L, Array(1.0f, 0.0f, 0.0f, 0.0f)))
    .toDF("query_id", "query_vec")

  test("cosine: parallel → 1, orthogonal → 0") {
    val df = Seq((Array(1.0f, 2.0f), Array(2.0f, 4.0f), Array(-2.0f, 1.0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      Similarity.cosine(col("a"), col("b")).as("par"),
      Similarity.cosine(col("a"), col("c")).as("orth")).collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-9)
    assert(math.abs(r.getDouble(1)) < 1e-9)
  }

  test("brute-force top-k orders by cosine desc and excludes self") {
    val got = Similarity.bruteForceTopK(probes, corpus, 3).collect()
    assert(got.map(_.getAs[Long]("vec_id")).toSeq == Seq(11L, 12L, 13L))
    assert(got.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
    val sims = got.map(_.getAs[Double]("sim"))
    assert(sims.sameElements(sims.sorted.reverse))
  }

  test("LSH ANN recalls the strongly-similar neighbor and never cross-joins") {
    val q = Similarity.lshTopK(probes, corpus, 3, nPlanes = 8, bands = 4, dim = 4)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    val ids = q.collect().map(_.getAs[Long]("vec_id")).toSet
    assert(ids.contains(11L)) // cos ≈ 0.994 — always shares hyperplane buckets
  }

  test("IVF recalls strong neighbors; sims agree with brute force") {
    val bf = Similarity.bruteForceTopK(probes, corpus, 10).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toMap
    val ivf = Similarity.ivfTopK(probes, corpus, 3, nCells = 3, nprobe = 2).collect()
    assert(ivf.nonEmpty)
    assert(ivf.map(_.getAs[Long]("vec_id")).contains(11L)) // cos ≈ 0.994
    ivf.foreach(r => assert(bf(r.getAs[Long]("vec_id")) == r.getAs[Double]("sim")))
  }

  test("ivfNprobeSweep: recall is monotone in nprobe and exact at nCells") {
    val got = Similarity.ivfNprobeSweep(probes, corpus, 3,
      nCells = 3, sweep = Seq(1, 2, 3)).collect()
      .map(r => (r.getAs[Long]("nprobe"), r.getAs[Double]("recall")))
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L)) // one probe -> 3 rows
    val byN = got.toMap
    assert(byN(1L) <= byN(2L) && byN(2L) <= byN(3L)) // filters only shrink
    assert(byN(3L) == 1.0) // probing every cell IS the exact search
  }

  test("portableRank matches the BigInt reference at replica-scale ids") {
    // The naive (id * 2654435761) % 2147483647 overflows Long under ANSI
    // once id > ~3.47e9 — exactly the ids a 10x ScaleReplica (stride 1e9)
    // produces. The pre-reduced form must equal the wide-integer value
    // for the whole long range, small ids included (oracle compatibility).
    val ids = Seq(0L, 1L, 123L, 59999L, 3_470_000_000L, 9_000_000_123L,
      Long.MaxValue / 2, Long.MaxValue)
    val got = ids.toDF("id")
      .select(Similarity.portableRank(col("id")).as("r"))
      .as[Long].collect().toSeq
    val want = ids.map(i =>
      ((BigInt(i) * BigInt(2654435761L)) mod BigInt(2147483647L)).toLong)
    assert(got == want)
  }

  test("scalarQuantize: codes in [0,255], reconstruction within half a step") {
    val (quantized, ranges) = Similarity.scalarQuantize(corpus, col("embedding"))
    val rows = quantized.select("embedding", "codes")
      .as[(Array[Float], Array[Int])].collect()
    assert(rows.forall(_._2.forall(c => c >= 0 && c <= 255)))
    rows.foreach { case (v, codes) =>
      v.indices.foreach { d =>
        val (mn, mx) = ranges(d)
        val step = if (mx > mn) (mx - mn) / 255.0 else 0.0
        val deq = mn + codes(d) * step
        // floor-quantization: v ∈ [deq, deq + step)
        assert(v(d) >= deq - 1e-9 && v(d) <= deq + step + 1e-9,
          s"dim $d: v=${v(d)} deq=$deq step=$step")
      }
    }
    // extremes hit the code range ends
    val d0 = rows.map { case (v, c) => (v(0), c(0)) }
    assert(d0.minBy(_._1)._2 == 0)
    assert(d0.maxBy(_._1)._2 == 255)
  }

  test("quantizedTopK: two-stage search agrees with brute force on this corpus") {
    val bf = Similarity.bruteForceTopK(probes, corpus, 3).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"), r.getAs[Long]("rank")))
    val qt = Similarity.quantizedTopK(probes, corpus, 3).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"), r.getAs[Long]("rank")))
    // well-separated sims + exact re-rank ⇒ identical ids, sims, ranks
    assert(qt.toSeq == bf.toSeq)
  }

  test("pqTopK: exact re-rank sims match brute force; recall@5 is high on clustered data") {
    // 3 well-separated direction clusters in 8 dims, 30 vectors each:
    // PQ codes preserve cluster membership easily, so the coarse ADC
    // pass must rank true neighbors into the refine window.
    val rnd = new scala.util.Random(77L)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.1f)
    val bases = Seq(
      Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f),
      Array(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f),
      Array(0f, 0f, 1f, 0f, 0f, 0f, 1f, 0f))
    val vecs = (0 until 90).map(i => (i.toLong, jitter(bases(i % 3))))
    val corpus8 = vecs.toDF("vec_id", "embedding")
    val probes8 = vecs.take(3).map { case (id, v) => (id, v) }
      .toDF("query_id", "query_vec")
    val pq = Similarity.pqTopK(probes8, corpus8, k = 5, dim = 8, m = 4,
      ksub = 8, refine = 20)
    val bf = Similarity.bruteForceTopK(probes8, corpus8, k = 5)
    val pqRows = pq.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bfRows = bf.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // sims of shared pairs are the SAME exact re-rank arithmetic
    val shared = pqRows.map(t => (t._1, t._2)) intersect bfRows.map(t => (t._1, t._2))
    assert(shared.size >= 12, s"recall@5 too low: ${shared.size}/15")
    shared.foreach { pair =>
      val ps = pqRows.find(t => (t._1, t._2) == pair).get._3
      val bs = bfRows.find(t => (t._1, t._2) == pair).get._3
      assert(ps == bs, s"pair $pair: pq sim $ps != brute-force $bs")
    }
    // deterministic: a second run is bit-identical
    val again = Similarity.pqTopK(probes8, corpus8, k = 5, dim = 8, m = 4,
      ksub = 8, refine = 20).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(again == pqRows)
  }

  test("pqTopK with refine >= corpus degenerates to exact brute-force results") {
    val rnd = new scala.util.Random(177L)
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f)))
    val corpus8 = vecs.toDF("vec_id", "embedding")
    val probes8 = vecs.take(2).toDF("query_id", "query_vec")
    val pq = Similarity.pqTopK(probes8, corpus8, k = 5, dim = 8, m = 4,
      ksub = 8, refine = 40).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val bf = Similarity.bruteForceTopK(probes8, corpus8, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    // coarse pass keeps EVERYTHING → the exact re-rank IS brute force
    assert(pq == bf)
  }

  test("scalarQuantize fuzz: bounds hold on random corpora") {
    val rnd = new scala.util.Random(20260813L)
    (1 to 3).foreach { trial =>
      val dim = 2 + rnd.nextInt(6)
      val vecs = (1 to 30).map(i =>
        (i.toLong, Array.fill(dim)((rnd.nextDouble() * 200 - 100).toFloat)))
        .toDF("vec_id", "embedding")
      val (q, ranges) = Similarity.scalarQuantize(vecs, col("embedding"))
      q.select("embedding", "codes").as[(Array[Float], Array[Int])]
        .collect().foreach { case (v, codes) =>
          v.indices.foreach { d =>
            val (mn, mx) = ranges(d)
            val step = if (mx > mn) (mx - mn) / 255.0 else 0.0
            assert(codes(d) >= 0 && codes(d) <= 255)
            val deq = mn + codes(d) * step
            assert(v(d) >= deq - 1e-9 && v(d) <= deq + step + 1e-9,
              s"trial $trial dim $d")
          }
        }
    }
  }

  test("scalarQuantize: constant dimension maps to code 0") {
    val (q, _) = Similarity.scalarQuantize(corpus, col("embedding"))
    // dim 3 is 0.0 in every corpus vector
    assert(q.select("codes").as[Array[Int]].collect().forall(_(3) == 0))
  }

  test("LSH results are a subset of brute-force candidates with equal sims") {
    val bf = Similarity.bruteForceTopK(probes, corpus, 10).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toMap
    Similarity.lshTopK(probes, corpus, 10, nPlanes = 8, bands = 4, dim = 4)
      .collect().foreach { r =>
        assert(bf(r.getAs[Long]("vec_id")) == r.getAs[Double]("sim"))
      }
  }

  test("topKPerQuery equals the naive global window rank (fuzz)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    // random scored tables with duplicate sims (tie-break matters) and
    // more rows than saltBuckets, so both phases genuinely trim
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val rows = (0 until 500).map { i =>
        (rnd.nextInt(5).toLong, i.toLong, (rnd.nextInt(40) / 10.0))
      }
      val scored = rows.toDF("query_id", "vec_id", "sim")
      val got = Similarity.topKPerQuery(
          scored, 7, Seq(col("sim").desc, col("vec_id")), saltBuckets = 8)
        .select("query_id", "vec_id", "sim", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
      val want = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 7)
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(got == want, s"trial $trial")
    }
  }

  test("randomProject matches the integer fixed-point formula exactly") {
    val vecs = Seq(
      (1L, Array(0.5f, -0.25f, 1.0f, 0.125f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val outDims = 3
    def weightNum(j: Int, i: Int): Long =
      ((i.toLong * outDims + j) * 2654435761L) % 2048L - 1024L
    def expect(v: Array[Float], j: Int): Double =
      v.zipWithIndex.map { case (x, i) =>
        math.floor(x.toDouble * 1048576.0).toLong * weightNum(j, i)
      }.sum.toDouble / 1073741824.0
    val got = Similarity.randomProject(
        vecs, col("vec_id"), col("embedding"), outDims)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (0 until outDims).map(j => r.getAs[Double](s"p$j"))).toMap
    val v1 = Array(0.5f, -0.25f, 1.0f, 0.125f)
    (0 until outDims).foreach { j =>
      assert(got(1L)(j) == expect(v1, j), s"dim $j must be bit-exact")
      assert(got(2L)(j) == 0.0)
    }
  }

  test("randomProject roughly preserves relative distances (JL sanity)") {
    // 64-d corpus: two near-identical vectors and one far one — after
    // 64→8 projection the near pair must stay much closer than the far
    val rnd = new scala.util.Random(11)
    val base = Array.fill(64)(rnd.nextGaussian().toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val far = Array.fill(64)(rnd.nextGaussian().toFloat)
    val df = Seq((1L, base), (2L, near), (3L, far))
      .toDF("vec_id", "embedding")
    val p = Similarity.randomProject(df, col("vec_id"), col("embedding"), 8)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (0 until 8).map(j => r.getAs[Double](s"p$j")).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    assert(d2(p(1L), p(2L)) * 100 < d2(p(1L), p(3L)),
      "near pair must stay far closer than the far pair after projection")
  }

  test("randomProject fails loudly on a >64-d vector instead of projecting nulls") {
    // r9 ADVICE: the weight literal is 64-wide and zip_with null-pads
    // the shorter side — pre-guard, a 65-d vector silently projected to
    // all-null. Now the scan raises with the offending dimension.
    val df = Seq((1L, Array.fill(65)(0.5f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.randomProject(df, col("vec_id"), col("embedding"), 4).collect()
    }
    assert(ex.getMessage.contains("dim 65") ||
      Option(ex.getCause).exists(_.getMessage.contains("dim 65")))
    // null vectors still pass through as null projections, not errors
    val withNull = Seq((1L, Option(Array.fill(4)(0.5f))), (2L, None))
      .toDF("vec_id", "embedding")
    val rows = Similarity.randomProject(
      withNull, col("vec_id"), col("embedding"), 2).collect()
    assert(rows.length == 2)
    assert(rows.find(_.getLong(0) == 2L).get.isNullAt(1))
  }

  test("pqTopK survives a non-finite garbage embedding (ranked worst, no throw)") {
    // r9 ADVICE: BigDecimal(NaN) threw inside PqCodes/PqLut round6 —
    // one garbage row failed the whole scan. Now non-finite components
    // flow through as worst-distance values.
    val rnd = new scala.util.Random(42L)
    val clean = (0 until 30).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f)))
    val corpus8 = (clean :+
      (99L, Array(Float.NaN, 1f, 2f, Float.PositiveInfinity, 0f, 1f, 2f, 3f)))
      .toDF("vec_id", "embedding")
    val probes8 = clean.take(2).toDF("query_id", "query_vec")
    val pq = Similarity.pqTopK(probes8, corpus8, k = 5, dim = 8, m = 4,
      ksub = 8, refine = 10).collect()
    assert(pq.nonEmpty, "scan must complete despite the garbage row")
  }

  test("maxSimTopK: coverage beats one perfect token; self-match excluded") {
    // query doc 0 = tokens along axes e1, e2. doc 1 covers BOTH axes
    // (maxsim 2.0); doc 2 matches one token perfectly twice (maxsim
    // 1.0); doc 3 is diagonal (cos .707107 each, maxsim ~1.414214).
    def row(doc: Long, tok: Long, v: Array[Float]) = (doc, tok, v)
    val corpus = Seq(
      row(0L, 0L, Array(1f, 0f, 0f)), row(0L, 1L, Array(0f, 1f, 0f)),
      row(1L, 0L, Array(2f, 0f, 0f)), row(1L, 1L, Array(0f, 3f, 0f)),
      row(2L, 0L, Array(1f, 0f, 0f)), row(2L, 1L, Array(1f, 0f, 0f)),
      row(3L, 0L, Array(1f, 1f, 0f)), row(3L, 1L, Array(0f, 0f, 1f)))
      .toDF("doc_id", "d_token", "embedding")
    val probes = corpus.filter(col("doc_id") === 0)
      .select(col("doc_id").as("query_id"), col("d_token").as("q_token"),
        col("embedding").as("query_vec"))
    val got = Similarity.maxSimTopK(probes, corpus, 3)
      .as[(Long, Long, Long, Double, Long)].collect()
    assert(got.map(_._2).toSeq == Seq(1L, 3L, 2L), "coverage order")
    assert(!got.exists(_._2 == 0L), "self-match excluded")
    assert(got.forall(_._3 == 2L), "both query tokens scored")
    assert(got(0)._4 == 2.0)
    assert(got(1)._4 == 2 * 0.707107) // round(cos,6) summed exactly
    assert(got(2)._4 == 1.0, "a twice-matched single axis still sums its max once per QUERY token")
  }

  test("maxSimTopKAuto: ANN-screened scorer matches exact MaxSim at recall banding") {
    // 12 docs x 4 tokens in 8-d: doc i's tokens point near axis (i%4)
    // with small deterministic jitter, so each query's best matches are
    // the same-axis docs. At recall-oriented banding the LSH token
    // screen must recover the exact top-k, and survivors' scores are
    // EXACTLY the brute-force MaxSim (same arithmetic, smaller input).
    val corpus = (for {
      doc <- 0L until 12L
      tok <- 0L until 4L
    } yield {
      val v = Array.fill(8)(0f)
      v((doc % 4).toInt) = 1f
      v(((doc + tok) % 8).toInt) += 0.3f * ((tok % 3).toInt + 1)
      (doc, tok, v)
    }).toDF("doc_id", "d_token", "embedding")
    val probes = corpus.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"), col("d_token").as("q_token"),
        col("embedding").as("query_vec"))
    val exact = Similarity.maxSimTopK(probes, corpus, 4)
      .as[(Long, Long, Long, Double, Long)].collect().toSeq
    val auto = Similarity.maxSimTopKAuto(probes, corpus, 4,
        nPlanes = 16, bands = 8, dim = 8)
      .as[(Long, Long, Long, Double, Long)].collect().toSeq
    assert(auto == exact,
      "screened MaxSim must reproduce the exact result when recall is full")
    // determinism: seed-fixed planes, bit-identical on a second run
    val again = Similarity.maxSimTopKAuto(probes, corpus, 4,
        nPlanes = 16, bands = 8, dim = 8)
      .as[(Long, Long, Long, Double, Long)].collect().toSeq
    assert(again == auto)
  }

  test("maxSimTopKAutoSized: corpus-sized banding keeps clustered top-k exact") {
    // 32 docs × 4 tokens, two well-separated clusters in 8-d (all of a
    // doc's tokens near its cluster axis + deterministic jitter): the
    // sized screen must keep every same-cluster true neighbor — the
    // planted-cluster receipt shape (SCALE.md, MaxSimScreenProbe) in
    // miniature.
    val corpus = (for {
      doc <- 0L until 32L
      tok <- 0L until 4L
    } yield {
      val v = Array.fill(8)(0f)
      val c = (doc % 2).toInt * 4
      v(c) = 2f; v(c + 1) = 2f
      v(((doc + tok) % 8).toInt) += 0.2f * ((tok % 3).toInt + 1)
      (doc, tok, v)
    }).toDF("doc_id", "d_token", "embedding")
    val probes = corpus.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"), col("d_token").as("q_token"),
        col("embedding").as("query_vec"))
    val exact = Similarity.maxSimTopK(probes, corpus, 5)
      .as[(Long, Long, Long, Double, Long)].collect().toSeq
    val sized = Similarity.maxSimTopKAutoSized(probes, corpus, 5, dim = 8)
      .as[(Long, Long, Long, Double, Long)].collect().toSeq
    assert(sized == exact,
      "sized screen must recover the exact top-k on clustered data")
  }

  test("embeddingOutliers: planted far vector flagged, malformed rows flagged null-z") {
    // 20 tight vectors near (1,0) + one far at (9,0): the far one is the
    // lone |z| > 3 flag; a null and a ragged row are flagged with null z
    val base = (0L until 20L).map(i =>
      (i, Array(1f + 0.01f * (i % 5), 0f)))
    val rows = (base :+ ((20L, Array(9f, 0f)))).toDF("vec_id", "embedding")
    val got = Similarity.embeddingOutliers(rows, col("vec_id"), col("embedding"))
      .orderBy("vec_id")
      .as[(Long, Option[Double], Option[Double], Boolean)].collect()
    assert(got.length == 21)
    assert(got.count(_._4) == 1 && got.last._4, "only the planted far vector flags")
    assert(got.last._3.exists(_ > 3.0))
    assert(got.init.forall(r => r._3.exists(z => math.abs(z) <= 3.0)))
    // malformed rows: excluded from moments, emitted flagged with null z
    val withBad = rows.union(Seq(
      (97L, null.asInstanceOf[Array[Float]]),
      (98L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding"))
    val bad = Similarity.embeddingOutliers(withBad, col("vec_id"), col("embedding"))
      .filter(col("vec_id") >= 97)
      .as[(Long, Option[Double], Option[Double], Boolean)].collect()
    assert(bad.forall(r => r._2.isEmpty && r._3.isEmpty && r._4))
    // all-equidistant corpus: sigma 0 → z 0, nothing flagged
    val flat = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val f = Similarity.embeddingOutliers(flat, col("vec_id"), col("embedding"))
      .as[(Long, Option[Double], Option[Double], Boolean)].collect()
    assert(f.forall(r => r._3.contains(0.0) && !r._4))
    // determinism: bit-identical on a second run
    val a1 = Similarity.embeddingOutliers(rows, col("vec_id"), col("embedding"))
      .orderBy("vec_id").collect().toSeq
    val a2 = Similarity.embeddingOutliers(rows, col("vec_id"), col("embedding"))
      .orderBy("vec_id").collect().toSeq
    assert(a1 == a2)
  }

  test("pcaPower: rank-1 cloud recovers its axis, lambda its variance") {
    // points t*(1,2), t in {-2,-1,1,2}: mean 0, top component
    // +-(1,2)/sqrt(5), eigenvalue (sum t^2 / n) * |(1,2)|^2 = 2.5 * 5 = 12.5
    val pts = Seq(-2.0, -1.0, 1.0, 2.0).map(t => Array(t, 2 * t))
      .toDF("v")
    val got = Similarity.pcaPower(pts, col("v"), iters = 5)
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(0L, 1L))
    val (l0, l1) = (got(0)._2, got(1)._2)
    assert(math.abs(l1 / l0 - 2.0) < 1e-6, s"direction (1,2): $l0 $l1")
    assert(math.abs(l0 * l0 + l1 * l1 - 1.0) < 1e-8, "unit norm")
    assert(math.abs(got(0)._3 - 12.5) < 1e-6, s"lambda: ${got(0)._3}")
    // determinism: a second run is bit-identical
    val again = Similarity.pcaPower(pts, col("v"), iters = 5)
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    assert(got.toSeq == again.toSeq)
    // ragged rows are dropped, not folded in
    val ragged = pts.union(Seq(Array(9.0)).toDF("v"))
    val g2 = Similarity.pcaPower(ragged, col("v"), iters = 5)
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    assert(g2.toSeq == got.toSeq)
    // degenerate corpora are loud
    intercept[IllegalArgumentException] {
      Similarity.pcaPower(Seq(Array(1.0, 1.0), Array(1.0, 1.0)).toDF("v"),
        col("v"), iters = 2).collect()
    }
    intercept[IllegalArgumentException] {
      Similarity.pcaPower(pts.filter(lit(false)), col("v"), iters = 2)
        .collect()
    }
  }

  test("pcaPower: gram and covariance-free paths agree to convergence tolerance") {
    // a 4-d cloud with a clear top component; both paths must land on
    // the same axis and eigenvalue (they quantize at different points
    // — moment cells vs per-row terms — so agreement is tolerance, not
    // bit: the hybrid contract in pcaPowerGram's scaladoc)
    val rnd = new scala.util.Random(77L)
    val pts = (1 to 400).map { _ =>
      val t = rnd.nextGaussian() * 3.0
      Array(t + rnd.nextGaussian() * 0.1, 2 * t + rnd.nextGaussian() * 0.1,
        rnd.nextGaussian() * 0.1, -t + rnd.nextGaussian() * 0.1)
    }.toDF("v")
    val gram = Similarity.pcaPower(pts, col("v"), iters = 5)
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    val passes = Similarity.pcaPower(pts, col("v"), iters = 5, gramDimLimit = 0)
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    val dot = gram.zip(passes).map { case (g, p) => g._2 * p._2 }.sum
    assert(math.abs(math.abs(dot) - 1.0) < 1e-6,
      s"paths disagree on the axis: |cos| = ${math.abs(dot)}")
    assert(math.abs(gram.head._3 - passes.head._3) < 1e-5,
      s"lambda: gram ${gram.head._3} vs passes ${passes.head._3}")
  }

  test("dimVariance: dead dims flagged, live dim hand-computed, ragged excluded") {
    // dim0 constant 2, dim1 = i (0..9), dim2 constant 0
    val rows = (0 until 10).map(i => (i.toLong, Array(2.0f, i.toFloat, 0.0f)))
      .toDF("vec_id", "embedding")
    val withBad = rows.union(Seq(
      (97L, null.asInstanceOf[Array[Float]]),
      (98L, Array(1.0f, 1.0f))).toDF("vec_id", "embedding"))
    val got = Similarity.dimVariance(withBad, col("embedding"))
      .as[(Int, Long, Double, Double, Boolean)].collect()
    assert(got.length == 3, "d from the first valid row; ragged/null excluded")
    assert(got.forall(_._2 == 10))
    assert(got(0) == ((0, 10L, 2.0, 0.0, true)), s"constant dim: ${got(0)}")
    // mean(0..9) = 4.5, E[x^2] = 28.5, var = 28.5 - 20.25 = 8.25
    assert(got(1) == ((1, 10L, 4.5, 8.25, false)))
    assert(got(2) == ((2, 10L, 0.0, 0.0, true)))
    // all-null input: empty frame, not an error
    val empty = Seq((1L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    assert(Similarity.dimVariance(empty, col("embedding")).count() == 0)
  }

  test("mmrDiversify: redundancy penalized, relevance order otherwise, ties to lower id") {
    // two near-duplicates (ids 1, 2) outrank an orthogonal candidate
    // (id 3) on raw relevance; MMR demotes the duplicate
    val pool = Seq(
      (1L, Array(1.0f, 0.0f), 0.9),
      (2L, Array(1.0f, 0.01f), 0.89),
      (3L, Array(0.0f, 1.0f), 0.8))
      .toDF("vec_id", "embedding", "rel")
    val got = Similarity.mmrDiversify(pool, col("vec_id"), col("embedding"),
      col("rel"), select = 3)
      .as[(Long, Long, Double, Double)].collect()
    assert(got.map(_._2).toSeq == Seq(1L, 3L, 2L),
      s"duplicate id 2 must drop behind diverse id 3: ${got.toSeq}")
    assert(got(0)._4 == BigDecimal(0.75 * 0.9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      "first pick score = lambda * rel")
    assert(got(1)._4 == 0.6, "orthogonal pick: 0.75*0.8 - 0.25*0")
    // select beyond the pool: emit what exists
    val all = Similarity.mmrDiversify(pool, col("vec_id"), col("embedding"),
      col("rel"), select = 10).collect()
    assert(all.length == 3)
    // determinism
    val again = Similarity.mmrDiversify(pool, col("vec_id"), col("embedding"),
      col("rel"), select = 3).collect().toSeq
    assert(got.length == again.length &&
      got.map(_._2).toSeq == again.map(_.getLong(1)).toSeq)
  }

  test("mmrDiversify: anti-correlated candidate BOOSTED (unclamped max, ADVICE r12)") {
    // id 3 is anti-correlated to pick 1 (cos = −1): the MMR formula
    // subtracts (1−λ)·max_sim = −0.25, i.e. ADDS 0.25 — its score must
    // beat the near-duplicate id 2 despite far lower relevance. The old
    // 0-clamped msim scored id 3 at 0.075 < id 2's 0.125 and silently
    // diverged from the oracle's unclamped MAX(sim).
    val pool = Seq(
      (1L, Array(1.0f, 0.0f), 0.9),
      (2L, Array(1.0f, 0.0f), 0.5),  // exact duplicate of 1
      (3L, Array(-1.0f, 0.0f), 0.1)) // anti-correlated to 1
      .toDF("vec_id", "embedding", "rel")
    val got = Similarity.mmrDiversify(pool, col("vec_id"), col("embedding"),
      col("rel"), select = 3)
      .as[(Long, Long, Double, Double)].collect()
    assert(got.map(_._2).toSeq == Seq(1L, 3L, 2L),
      s"negative max-sim must raise id 3 above the duplicate: ${got.toSeq}")
    // score(3) = 0.75*0.1 − 0.25*(−1.0) = 0.325
    assert(math.abs(got(1)._4 - 0.325) < 1e-9, s"got ${got(1)._4}")
    // and the distributed path agrees exactly (the oracle semantics)
    val dist = Similarity.mmrDiversify(pool, col("vec_id"), col("embedding"),
      col("rel"), select = 3, driverPoolLimit = 0L)
      .as[(Long, Long, Double, Double)].collect()
    assert(dist.toSeq == got.toSeq)
  }

  test("mmrDiversify: a zero-vector candidate does not fail the driver-side loop") {
    // its cosine to every pick is 0/0 = NaN; Spark's round passes NaN
    // through, so the driver replay must too (BigDecimal(NaN) throws)
    val pool = Seq(
      (1L, Array(1.0f, 0.0f), 0.9),
      (2L, Array(1.0f, 0.01f), 0.89),
      (3L, Array(0.0f, 1.0f), 0.8),
      (4L, Array(0.0f, 0.0f), 0.5))
      .toDF("vec_id", "embedding", "rel")
    // both paths: the driver loop and (driverPoolLimit = 0) the
    // distributed one, whose greatest() must not take NaN as the max
    for (limit <- Seq(65536L, 0L)) {
      val got = Similarity.mmrDiversify(pool, col("vec_id"), col("embedding"),
        col("rel"), select = 4, driverPoolLimit = limit)
        .as[(Long, Long, Double, Double)].collect()
      // NaN similarity keeps id 4 at "no selected neighbour yet": λ·rel
      assert(got.map(_._2).toSeq == Seq(1L, 3L, 2L, 4L), s"$limit: ${got.toSeq}")
      assert(got.map(_._4).toSeq == Seq(0.675, 0.6, 0.417512, 0.375),
        s"$limit: ${got.toSeq}")
    }
  }

  test("mmrDiversify: driver-side and distributed paths are bit-identical") {
    // 40 deterministic pseudo-random vectors — both execution paths must
    // produce the same picks AND the same IEEE-exact scores (the driver
    // loop replays CosineSim + Spark round bit-for-bit)
    val pool = (1 to 40).map { i =>
      val v = Array.tabulate(8)(d =>
        math.sin(i * 31 + d * 7).toFloat) // fixed, reproducible
      (i.toLong, v, (math.cos(i).abs * 100).floor / 100.0)
    }.toDF("vec_id", "embedding", "rel")
    val local = Similarity.mmrDiversify(pool, col("vec_id"),
      col("embedding"), col("rel"), select = 12)
      .as[(Long, Long, Double, Double)].collect().toSeq
    val dist = Similarity.mmrDiversify(pool, col("vec_id"),
      col("embedding"), col("rel"), select = 12, driverPoolLimit = 0L)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(local == dist, s"paths diverged:\n$local\nvs\n$dist")
    assert(local.length == 12)
    // lineage truncation kicks in past 8 picks on the distributed path —
    // this run crossed it (select = 12) and still matched
  }

  // ── whitenEmbeddings ───────────────────────────────────────────────

  test("whitenEmbeddings: per-dim standardization; constant dim yields NULL z") {
    val emb = Seq(
      (0L, Seq(1.0f, 10.0f)),
      (1L, Seq(3.0f, 10.0f)),
      (2L, Seq(5.0f, 10.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.whitenEmbeddings(emb, col("vec_id"),
      col("embedding"), probeIds = 4L)
      .as[(Long, Long, Double, Option[Double])].collect().toSeq
    // dim 0: mean 3, sample std 2 → z = −1, 0, 1; dim 1 constant → NULL
    assert(got == Seq(
      (0L, 0L, 1.0, Some(-1.0)), (0L, 1L, 10.0, None),
      (1L, 0L, 3.0, Some(0.0)), (1L, 1L, 10.0, None),
      (2L, 0L, 5.0, Some(1.0)), (2L, 1L, 10.0, None)))
  }

  test("whitenEmbeddings: stats come from the corpus, probes only surface") {
    val emb = ((0L to 1L) ++ (10L to 19L)).map(i => (i, Seq(i.toFloat)))
      .toDF("vec_id", "embedding")
    val got = Similarity.whitenEmbeddings(emb, col("vec_id"),
      col("embedding"), probeIds = 2L)
      .as[(Long, Long, Double, Option[Double])].collect().toSeq
    assert(got.map(_._1) == Seq(0L, 1L), "only probe ids surface")
    // mean over ALL 12 vectors (not the 2 probes): recompute the chain
    val xs = ((0L to 1L) ++ (10L to 19L)).map(_.toDouble)
    val n = xs.size
    val mean = xs.sum / n
    val std = math.sqrt((xs.map(x => x * x).sum - xs.sum * xs.sum / n) /
      (n - 1.0))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.head._4.contains(r6((0.0 - mean) / std)))
  }

  test("matryoshkaTopK: a prefix-identical impostor wins the truncated " +
      "ranking that the full ranking rejects") {
    // probe q=[1,0,0,0]; corpus: id 10 = [1,0,10,0] (full cos ~0.0995,
    // 2-dim prefix cos 1.0), id 20 = [1,0,0,0] (full cos 1.0, prefix
    // 1.0). Full top-1 is 20; the 2-dim prefix ties them at 1.0 and
    // the vec_id tie-break hands top-1 to the impostor 10 — exactly
    // the neighbor swap the recall certificate must surface.
    val probes = Seq((1L, Seq(1f, 0f, 0f, 0f)))
      .toDF("query_id", "query_vec")
    val corpus = Seq(
      (10L, Seq(1f, 0f, 10f, 0f)),
      (20L, Seq(1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val full = Similarity.bruteForceTopK(probes, corpus, 1)
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(full.map(_._2) == Seq(20L))
    val trunc = Similarity.matryoshkaTopK(probes, corpus, 1, dims = 2)
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(trunc.map(_._2) == Seq(10L))
    assert(trunc.head._3 == 1.0)
  }
}
