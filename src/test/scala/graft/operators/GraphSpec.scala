package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class GraphSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Serial PageRank with the engine's exact arithmetic: per-edge share
    * as an IEEE divide, contributions quantized to DECIMAL(28,12)
    * (HALF_UP — Spark's double→decimal cast), decimal-exact sums, and
    * the scalar update in raw doubles. */
  private def serialPageRank(
      edges: Seq[(String, String, Long)],
      iterations: Int = 5,
      damping: Double = 0.85): Map[String, Double] = {
    val outW = edges.groupBy(_._1).map { case (s, es) =>
      s -> BigDecimal(es.map(e => BigDecimal(e._3.toDouble)).sum.toString)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val shares = edges.map { case (s, d, w) => (s, d, w.toDouble / outW(s)) }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = nodes.length
    var pr = nodes.map(_ -> 1.0 / n.toDouble).toMap
    (1 to iterations).foreach { _ =>
      val in = shares.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _, share) =>
          BigDecimal(pr(s) * share).setScale(12, BigDecimal.RoundingMode.HALF_UP)
        }.sum.toDouble
      }
      pr = nodes.map(v =>
        v -> ((1.0 - damping) / n.toDouble + damping * in.getOrElse(v, 0.0))).toMap
    }
    pr.view.mapValues(p =>
      BigDecimal(p).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
  }

  // each input on both paths: the driver finish and the distributed rounds
  private def run(edges: Seq[(String, String, Long)]): Map[String, Double] =
    onBothPaths(Graph.pageRank(edges.toDF("src", "dst", "w"),
        col("src"), col("dst"), col("w")))
      .map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("two-node cycle stays uniform at exactly 1/2 each") {
    val got = run(Seq(("a", "b", 1L), ("b", "a", 1L)))
    assert(got == Map("a" -> 0.5, "b" -> 0.5))
  }

  test("a sink hub accumulates rank; dangling mass is absorbed (documented)") {
    // star: three sources all point at hub; hub has no out-edges
    val got = run(Seq(("s1", "hub", 1L), ("s2", "hub", 1L), ("s3", "hub", 2L)))
    val want = serialPageRank(Seq(("s1", "hub", 1L), ("s2", "hub", 1L), ("s3", "hub", 2L)))
    assert(got == want)
    assert(got("hub") > got("s1"), "hub must outrank its pointers")
    // simplified form: total mass <= 1 (hub absorbs), never > 1
    assert(got.values.sum <= 1.0 + 1e-9)
    assert(got.values.forall(_ >= (1.0 - 0.85) / 4 - 1e-12), "teleport floor")
  }

  test("weights matter: the heavier-weighted target outranks the lighter") {
    val got = run(Seq(("a", "b", 9L), ("a", "c", 1L), ("b", "a", 1L), ("c", "a", 1L)))
    assert(got("b") > got("c"))
  }

  test("fuzz: engine equals the serial decimal-quantized reference") {
    val rnd = new scala.util.Random(4141L)
    (1 to 4).foreach { trial =>
      val nodes = (0 until 8).map(i => s"n$i")
      val edges = (1 to 25).map { _ =>
        (nodes(rnd.nextInt(8)), nodes(rnd.nextInt(8)), 1L + rnd.nextInt(5).toLong)
      }.groupBy(e => (e._1, e._2)).map { case ((s, d), es) =>
        (s, d, es.map(_._3).sum)
      }.toSeq
      assert(run(edges) == serialPageRank(edges), s"trial $trial")
    }
  }

  /** Serial synchronous LPA with the engine's exact tie-break. */
  private def serialLpa(
      edges: Seq[(String, String, Long)], iterations: Int = 3): Map[String, String] = {
    val und = (edges ++ edges.map(e => (e._2, e._1, e._3)))
      .groupBy(e => (e._1, e._2)).map { case ((s, d), es) => (s, d, es.map(_._3).sum) }
    val nodes = und.map(_._1).toSet
    var labels = nodes.map(n => n -> n).toMap
    (1 to iterations).foreach { _ =>
      val votes = und.toSeq.groupBy(_._2).map { case (node, in) =>
        val byLabel = in.groupBy(e => labels(e._1)).view.mapValues(_.map(_._3).sum)
        node -> byLabel.toSeq.minBy { case (l, w) => (-w, l) }._1
      }
      labels = nodes.map(n => n -> votes.getOrElse(n, labels(n))).toMap
    }
    labels
  }

  private def runLpa(edges: Seq[(String, String, Long)]): Map[String, String] =
    Graph.labelPropagation(edges.toDF("src", "dst", "w"),
        col("src"), col("dst"), col("w"))
      .as[(String, String)].collect().toMap

  test("labelPropagation separates two dense triangles joined by a weak bridge") {
    val tri1 = Seq(("a", "b", 5L), ("b", "c", 5L), ("a", "c", 5L))
    val tri2 = Seq(("x", "y", 5L), ("y", "z", 5L), ("x", "z", 5L))
    val bridge = Seq(("c", "x", 1L))
    val got = runLpa(tri1 ++ tri2 ++ bridge)
    assert(got == serialLpa(tri1 ++ tri2 ++ bridge))
    // communities: each triangle converges to one label, bridge notwithstanding
    assert(Set(got("a"), got("b"), got("c")).size == 1, s"triangle 1 split: $got")
    assert(Set(got("x"), got("y"), got("z")).size == 1, s"triangle 2 split: $got")
    assert(got("a") != got("x"), s"bridge merged the triangles: $got")
  }

  test("labelPropagation fuzz: engine equals the serial synchronous reference") {
    val rnd = new scala.util.Random(5252L)
    (1 to 4).foreach { trial =>
      val nodes = (0 until 10).map(i => s"n$i")
      val edges = (1 to 30).map { _ =>
        (nodes(rnd.nextInt(10)), nodes(rnd.nextInt(10)), 1L + rnd.nextInt(4).toLong)
      }.filter(e => e._1 != e._2)
        .groupBy(e => (e._1, e._2)).map { case ((s, d), es) => (s, d, es.map(_._3).sum) }
        .toSeq
      assert(runLpa(edges) == serialLpa(edges), s"trial $trial")
    }
  }

  test("partitioning-independent: repartitioned input gives identical ranks") {
    val edges = (1 to 40).map(i => (s"n${i % 7}", s"n${(i * 3) % 7}", (i % 4 + 1).toLong))
      .groupBy(e => (e._1, e._2)).map { case ((s, d), es) => (s, d, es.map(_._3).sum) }.toSeq
    val df = edges.toDF("src", "dst", "w")
    val a = onBothPaths(Graph.pageRank(df, col("src"), col("dst"), col("w")))
    val b = distributed(Graph.pageRank(df.repartition(13), col("src"), col("dst"), col("w"))
      .collect().toSeq)
    assert(bitRows(a) == bitRows(b))
  }

  test("pageRank: seeded random graphs — driver finish equals the distributed rounds") {
    // ties, zero and null weights, null src and dst, parallel edges,
    // dangling nodes, self-loops, fractional weights (decimal rounding)
    val rnd = new scala.util.Random(77031L)
    (1 to 8).foreach { trial =>
      val nodes = (0 until 2 + rnd.nextInt(10)).map(i => s"n$i")
      def node(): String = nodes(rnd.nextInt(nodes.size))
      val drawn = (1 to 3 + rnd.nextInt(40)).map { _ =>
        val w = rnd.nextInt(7) match {
          case 0 => None
          case 1 => Some(0.0)
          case 2 => Some(1.0)
          case _ => Some(rnd.nextInt(1000) / 7.0)
        }
        (if (rnd.nextInt(20) == 0) null else node(),
          if (rnd.nextInt(12) == 0) null else node(), w)
      }
      // a source whose non-null weights sum to 0 is Spark's DIVIDE_BY_ZERO
      // (the next test); give each such source one unit self-loop
      val zeroSum = drawn.groupBy(_._1).collect {
        case (s, es) if s != null && es.exists(_._3.isDefined) &&
          es.flatMap(_._3).sum == 0.0 => (s, s, Some(1.0))
      }
      val edges = (drawn ++ zeroSum).toDF("src", "dst", "w")
      val iterations = 1 + rnd.nextInt(6)
      val damping = if (rnd.nextBoolean()) 0.85 else 0.5
      val rows = onBothPaths(Graph.pageRank(edges, col("src"), col("dst"),
        col("w"), iterations, damping))
      assert(rows.nonEmpty, s"trial $trial")
    }
  }

  test("pageRank: a zero out-weight fails with Spark's error on both paths") {
    val edges = Seq(("a", "b", 0.0), ("b", "a", 1.0)).toDF("src", "dst", "w")
    def fails() = intercept[ArithmeticException](
      Graph.pageRank(edges, col("src"), col("dst"), col("w")).collect())
      .getMessage
    assert(fails().contains("DIVIDE_BY_ZERO"))
    assert(distributed(fails()).contains("DIVIDE_BY_ZERO"))
  }

  test("pageRank: empty, all-null-weight and null-dst-only inputs on both paths") {
    val empty = Seq.empty[(String, String, Option[Double])].toDF("src", "dst", "w")
    assert(onBothPaths(Graph.pageRank(empty, col("src"), col("dst"), col("w")),
      degenerate = true).isEmpty)
    val nullW = Seq(("a", "b", None), ("b", "c", Option.empty[Double]))
      .toDF("src", "dst", "w")
    val got = onBothPaths(Graph.pageRank(nullW, col("src"), col("dst"), col("w")))
    // no share is defined, so every node keeps the teleport floor
    assert(got.map(_.getDouble(1)).distinct == Seq(0.05))
    val nullDst = Seq(("a", null: String, Some(2.0))).toDF("src", "dst", "w")
    assert(onBothPaths(Graph.pageRank(nullDst, col("src"), col("dst"), col("w")))
      .map(r => (Option(r.getString(0)), r.getDouble(2))).toSet ==
      Set((Some("a"), 2.0), (None, 0.0)))
  }

  test("durable cuts under a checkpoint dir: files written, results bit-identical") {
    // r9 verdict ask #7: localCheckpoint blocks die with their executor
    // and carry no lineage — a deployment with a checkpoint dir gets
    // durable cuts that survive churn. Same lineage truncation, same
    // results (pinned here for the graph ops and bpeTrain).
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val edges = (1 to 40).map(i => (s"n${i % 7}", s"n${(i * 3) % 7}", (i % 4 + 1).toLong))
      .groupBy(e => (e._1, e._2)).map { case ((s, d), es) => (s, d, es.map(_._3).sum) }.toSeq
    val df = edges.toDF("src", "dst", "w")
    val ed = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))
      .toDF("a", "b")
    val docs = Seq("low lower lowest", "new newer newest", "low low new")
      .toDF("text")
    def results() = Seq(
      Graph.pageRank(df, col("src"), col("dst"), col("w"))
        .select("node", "pr").as[(String, Double)].collect().toMap,
      Graph.labelPropagation(df, col("src"), col("dst"), col("w"))
        .as[(String, String)].collect().toSet,
      TextPipeline.bpeTrain(docs, col("text"), numMerges = 4)
        .collect().map(_.toString).toSeq,
      // same contract for the r10 graph operators
      Graph.triangles(ed, col("a"), col("b")).collect().map(_.toString).toSet,
      Graph.kCore(ed, col("a"), col("b"), 2).collect().map(_.toString).toSet,
      Graph.personalizedPageRank(
          Seq(("a", "b", 1L), ("b", "a", 1L)).toDF("src", "dst", "w"),
          col("src"), col("dst"), col("w"), Seq("a").toDF("node"))
        .as[(String, Double, Boolean)].collect()
        .map { case (n, p, s) => n -> ((p, s)) }.toMap)
    val local = results()
    val durable =
      try {
        spark.sparkContext.setCheckpointDir(dir)
        results()
      } finally spark.sparkContext.setCheckpointDir(null)
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    assert(local == durable, "cut substrate must not change results")
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(files > 0, "a checkpoint dir must receive durable checkpoint files")
  }

  private def runTriangles(edges: Seq[(String, String)])
      : Map[String, (Long, Long, Double)] =
    Graph.triangles(edges.toDF("a", "b"), col("a"), col("b"))
      .as[(String, Long, Long, Double)].collect()
      .map { case (n, d, t, l) => n -> (d, t, l) }.toMap

  test("triangles: K4 — every node in 3 triangles, lcc exactly 1") {
    val vs = Seq("a", "b", "c", "d")
    val k4 = for { x <- vs; y <- vs if x < y } yield (x, y)
    val got = runTriangles(k4)
    assert(got == vs.map(_ -> ((3L, 3L, 1.0))).toMap)
  }

  test("triangles: one triangle + pendant; each triangle counted once") {
    val got = runTriangles(Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")))
    assert(got("a") == ((2L, 1L, 1.0)))
    assert(got("b") == ((2L, 1L, 1.0)))
    assert(got("c") == ((3L, 1L, 2.0 / (3 * 2))))
    assert(got("d") == ((1L, 0L, 0.0)), "deg-1 node: zero lcc by convention")
  }

  test("triangles: self-loops, parallel and reversed edges collapse") {
    val clean = runTriangles(Seq(("a", "b"), ("b", "c"), ("c", "a")))
    val dirty = runTriangles(Seq(("a", "b"), ("b", "a"), ("a", "b"),
      ("b", "c"), ("c", "a"), ("a", "a"), ("c", "c")))
    assert(clean == dirty)
    assert(clean("a") == ((2L, 1L, 1.0)))
  }

  test("triangles: hub star has none; hub lcc 0 despite high degree") {
    val star = (1 to 50).map(i => ("hub", f"leaf$i%02d"))
    val got = runTriangles(star)
    assert(got("hub") == ((50L, 0L, 0.0)))
    assert(got("leaf01") == ((1L, 0L, 0.0)))
    // close ONE leaf pair: exactly one triangle appears, only on the
    // three participants — the hub's other 48 neighbors are untouched
    val got2 = runTriangles(star :+ (("leaf01", "leaf02")))
    assert(got2("hub") == ((50L, 1L, 2.0 / (50 * 49))))
    assert(got2("leaf01") == ((2L, 1L, 1.0)))
    assert(got2("leaf03") == ((1L, 0L, 0.0)))
  }

  private def runPpr(edges: Seq[(String, String, Long)], seeds: Seq[String])
      : Map[String, (Double, Boolean)] =
    Graph.personalizedPageRank(edges.toDF("src", "dst", "w"),
        col("src"), col("dst"), col("w"), seeds.toDF("node"))
      .as[(String, Double, Boolean)].collect()
      .map { case (n, p, s) => n -> ((p, s)) }.toMap

  /** Serial PPR with the engine's exact arithmetic (decimal-quantized
    * contributions), for bit-parity — the serialPageRank discipline. */
  private def serialPpr(
      edges: Seq[(String, String, Long)],
      seeds: Set[String],
      iterations: Int = 5,
      damping: Double = 0.85): Map[String, Double] = {
    val outW = edges.groupBy(_._1).map { case (s, es) =>
      s -> BigDecimal(es.map(e => BigDecimal(e._3.toDouble)).sum.toString)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val shares = edges.map { case (s, d, w) => (s, d, w.toDouble / outW(s)) }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val inGraphSeeds = nodes.filter(seeds.contains)
    def tele(v: String): Double =
      if (inGraphSeeds.isEmpty) 0.0
      else if (seeds.contains(v)) 1.0 / inGraphSeeds.length.toDouble
      else 0.0
    var pr = nodes.map(v => v -> tele(v)).toMap
    (1 to iterations).foreach { _ =>
      val in = shares.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _, share) =>
          BigDecimal(pr(s) * share).setScale(12, BigDecimal.RoundingMode.HALF_UP)
        }.sum.toDouble
      }
      pr = nodes.map(v =>
        v -> ((1.0 - damping) * tele(v) + damping * in.getOrElse(v, 0.0))).toMap
    }
    pr.view.mapValues(p =>
      BigDecimal(p).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
  }

  test("personalizedPageRank: mass radiates from the seed; serial parity") {
    val chain = Seq(("a", "b", 1L), ("b", "a", 1L), ("b", "c", 1L),
      ("c", "b", 1L), ("c", "d", 1L), ("d", "c", 1L))
    val got = runPpr(chain, Seq("a"))
    assert(got("a")._2 && !got("b")._2)
    assert(got.view.mapValues(_._1).toMap == serialPpr(chain, Set("a")),
      "bit-parity with the serial decimal-quantized reference")
    // a's whole walk mass exits through its single out-edge, so the
    // seed's NEIGHBOR legitimately outranks the seed; personalization
    // still concentrates mass near the seed end of the chain
    assert(got("a")._1 + got("b")._1 > got("c")._1 + got("d")._1,
      "seed side of the chain holds most of the mass")
    assert(got("d")._1 > 0.0, "mass reaches the far end through the chain")
  }

  test("personalizedPageRank: all-nodes seed set IS standard PageRank") {
    val edges = Seq(("a", "b", 2L), ("b", "c", 1L), ("c", "a", 3L),
      ("a", "c", 1L))
    val ppr = runPpr(edges, Seq("a", "b", "c")).view.mapValues(_._1).toMap
    val pr = Graph.pageRank(edges.toDF("src", "dst", "w"),
        col("src"), col("dst"), col("w"))
      .select("node", "pr").as[(String, Double)].collect().toMap
    assert(ppr == pr, "uniform seeding degenerates to the global walk")
  }

  test("personalizedPageRank: empty / out-of-graph seeds rank everything 0") {
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L))
    val got = runPpr(edges, Seq("zzz"))
    assert(got.view.mapValues(_._1).toMap == Map("a" -> 0.0, "b" -> 0.0))
    assert(got.values.forall(!_._2), "stray seed marks nothing")
  }

  private def runKCore(edges: Seq[(String, String)], k: Int)
      : Map[String, Long] =
    Graph.kCore(edges.toDF("a", "b"), col("a"), col("b"), k)
      .as[(String, Long)].collect().toMap

  test("kCore: pendant peels off a triangle; core keeps residual degrees") {
    val got = runKCore(Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")), 2)
    assert(got == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
  }

  test("kCore: a path has no 2-core — cascade empties it") {
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
    assert(runKCore(path, 2).isEmpty)
  }

  test("kCore: k=1 keeps the whole simple graph") {
    val got = runKCore(Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "c")), 1)
    assert(got == Map("a" -> 1L, "b" -> 2L, "c" -> 1L))
  }

  test("kCore: multi-round cascade — a tail peels one node per round") {
    // triangle with a 3-hop tail: tail needs 3 successive peels
    val g = Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("c", "d"), ("d", "e"), ("e", "f"))
    val got = runKCore(g, 2)
    assert(got == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
  }

  private def runBfs(
      edges: Seq[(String, String)], seeds: Seq[String], h: Int): Map[String, Long] =
    Graph.bfsHops(edges.toDF("a", "b"), col("a"), col("b"),
        seeds.toDF("node"), maxHops = h)
      .as[(String, Long)].collect().toMap

  test("bfsHops: exact hop counts on a path, radius cut, unreached absent") {
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
    assert(runBfs(path, Seq("a"), 2) ==
      Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
    // edges are undirected: seeding the far end walks back
    assert(runBfs(path, Seq("e"), 1) == Map("e" -> 0L, "d" -> 1L))
  }

  test("bfsHops: multi-source takes the MIN distance; cycles terminate") {
    val cycle = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
    // two opposite seeds: everything within 1 hop of one of them
    assert(runBfs(cycle, Seq("a", "c"), 3) ==
      Map("a" -> 0L, "c" -> 0L, "b" -> 1L, "d" -> 1L))
    // single seed on the 4-cycle: the far node is 2 via either arc
    assert(runBfs(cycle, Seq("a"), 4) ==
      Map("a" -> 0L, "b" -> 1L, "d" -> 1L, "c" -> 2L))
  }

  test("bfsHops: unknown seeds ignored; disconnected components unreached; self-loops dropped") {
    val g = Seq(("a", "b"), ("b", "b"), ("x", "y"))
    assert(runBfs(g, Seq("a", "zzz"), 3) == Map("a" -> 0L, "b" -> 1L))
  }

  // ── hits ───────────────────────────────────────────────────────────

  private def runHits(
      edges: Seq[(String, String, Long)], iters: Int): Map[String, (Double, Double)] =
    Graph.hits(edges.toDF("s", "d", "w"), col("s"), col("d"), col("w"),
      iterations = iters)
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

  test("hits: one hand-computed round on the 2-hub/2-authority graph") {
    // h1→{a1,a2}, h2→a1, unit weights, 4 nodes, h0 = 0.25 each:
    // a_raw = (a1: 0.5, a2: 0.25) → a = (2/3, 1/3)
    // h_raw = (h1: 2/3+1/3 = 1, h2: 2/3) → h = (0.6, 0.4)
    val got = runHits(
      Seq(("h1", "a1", 1L), ("h1", "a2", 1L), ("h2", "a1", 1L)), iters = 1)
    assert(got("a1") == (0.0, 0.666667) && got("a2") == (0.0, 0.333333))
    assert(got("h1") == (0.6, 0.0) && got("h2") == (0.4, 0.0))
  }

  test("hits: L1 mass 1 on both scores, role separation persists at 3 rounds") {
    val got = runHits(
      Seq(("h1", "a1", 2L), ("h1", "a2", 1L), ("h2", "a1", 1L),
        ("a1", "h2", 1L)), // a back-edge: a1 is also a (weak) hub
      iters = 3)
    val hubSum = got.values.map(_._1).sum
    val authSum = got.values.map(_._2).sum
    assert(math.abs(hubSum - 1.0) < 1e-4 && math.abs(authSum - 1.0) < 1e-4)
    assert(got("a1")._2 > got("a2")._2, "two in-edges beat one")
    assert(got("h1")._1 > got("h2")._1, "pointing at the top authority wins")
  }

  test("hits: deterministic across runs; edge weights shift authority") {
    val e = Seq(("h", "a", 1L), ("h", "b", 9L), ("g", "a", 1L))
    assert(runHits(e, 3) == runHits(e, 3))
    val got = runHits(e, 3)
    assert(got("b")._2 > got("a")._2, "the weight-9 edge dominates")
  }

  // ── linkPrediction ─────────────────────────────────────────────────

  test("linkPrediction: 4-cycle predicts both diagonals exactly") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
      .toDF("s", "d")
    val got = Graph.linkPrediction(edges, col("s"), col("d"))
      .as[(String, String, Long, Double, Double)].collect().toSeq
    // diagonals: common {b,d} resp {a,c}; all degrees 2 →
    // jaccard 2/(2+2−2)=1; AA = 2·round(1/ln 2, 9)
    val aa = BigDecimal(2 * BigDecimal(1.0 / math.log(2.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(
      ("a", "c", 2L, 1.0, aa),
      ("b", "d", 2L, 1.0, aa)))
  }

  test("linkPrediction: hub wedge-centers pruned by degCap; edges never predicted") {
    val star = Seq("x1", "x2", "x3", "x4", "x5").map(("h", _)) :+
      (("x1", "x2"))
    val loose = Graph.linkPrediction(star.toDF("s", "d"), col("s"), col("d"),
      minCommon = 1L, degCap = 10L)
      .as[(String, String, Long, Double, Double)].collect().toSeq
    // all xi–xj pairs via center h except the existing x1–x2 edge
    assert(loose.size == 9)
    assert(!loose.exists(r => r._1 == "x1" && r._2 == "x2"),
      "an existing edge must never be predicted")
    assert(!loose.exists(r => r._1 == "h" || r._2 == "h"))
    val capped = Graph.linkPrediction(star.toDF("s", "d"), col("s"), col("d"),
      minCommon = 1L, degCap = 4L) // hub deg 5 > cap: no wedge centers left
      .collect()
    assert(capped.isEmpty)
  }
}
